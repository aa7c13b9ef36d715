"""Streaming sketch maintenance: an additive count-min table kept
current by a Structured Streaming file source (SURVEY.md §2.12a L72).

The batch-side count-min operator (operators/profiling.py
``count_min_heavy_hitters``) shows the sketch's defining property:
cells are pure partial counts, so sketches of disjoint data MERGE BY
ADDITION. This module exercises that property where it matters — a
stream: each micro-batch contributes its own cell partials, and the
queryable sketch is the sum over everything seen so far. Ingesting a
corpus in K micro-batches yields bit-identical cells to ingesting it in
one shot, which is the whole point of a mergeable summary.

Each micro-batch's cell partials are one segment of a
:class:`~.segments.SegmentTable` (scope, replay and compaction rules
are stated there): a replayed batch REPLACES its own partial rows
instead of adding them twice. The merge to queryable cells happens at
read time over the tiny partial table (≤ batches × depth × width rows),
with ``compact()`` folding history into one segment when the partial
count grows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.profiling import CM_DEPTH, CM_WIDTH, _cm_hash
from ..sources.table_store import TableStore
from .segments import SegmentTable, drain, json_stream

#: partial-cells table: one segment of cell counts per micro-batch
CM_PARTIALS = "cm_partials"
CM_PARTIALS_DDL = (
    "checkpoint string, batch_id bigint, j int, bucket bigint, cell_n bigint"
)


def cm_cell_partials(df: DataFrame, key_col: str) -> DataFrame:
    """Cell partial counts of one data slice — the per-segment sketch.
    Shared by the batch query and the streaming merge, so both build
    THE SAME sketch for the same data."""
    u = F.col(key_col)
    return (
        df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).cast("int").alias("j"),
                            _cm_hash(j, u).alias("bucket"),
                        )
                        for j in range(CM_DEPTH)
                    ]
                )
            ).alias("cell")
        )
        .select("cell.j", "cell.bucket")
        .groupBy("j", "bucket")
        .agg(F.count("*").cast("long").alias("cell_n"))
    )


class StreamingCountMin:
    """Maintain a count-min sketch of ``key_col`` over a JSON file
    stream (availableNow micro-batches, checkpointed)."""

    def __init__(
        self,
        spark: SparkSession,
        store: TableStore,
        source_dir: str,
        checkpoint_dir: str,
        schema: str,
        key_col: str,
    ) -> None:
        self.spark = spark
        self.store = store
        self.source_dir = source_dir
        self.checkpoint_dir = checkpoint_dir
        self.schema = schema
        self.key_col = key_col
        self.segments = SegmentTable(
            store, CM_PARTIALS, checkpoint_dir,
            keys=("j", "bucket"), sums=("cell_n",), ddl=CM_PARTIALS_DDL,
        )

    # -- merge ----------------------------------------------------------

    def _merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Replace this batch's partial segment (idempotent replay)."""
        self.segments.replace(batch_id, cm_cell_partials(batch_df, self.key_col))

    def run_available_now(self) -> None:
        drain(
            json_stream(self.spark, self.schema, self.source_dir),
            self._merge_batch,
            self.checkpoint_dir,
        )

    def compact(self) -> None:
        """Fold settled partial segments (the SegmentTable compaction);
        :meth:`cells` is unchanged."""
        self.segments.compact()

    # -- query ----------------------------------------------------------

    def cells(self) -> DataFrame:
        """The queryable sketch: partial segments merged by addition
        (empty before the first batch)."""
        return self.segments.merged()

    def estimate(self, keys: DataFrame, key_col: str) -> DataFrame:
        """Point-frequency estimates (min over hash rows; always ≥ the
        true count) for a frame of keys — answered from the sketch
        alone, no re-scan of the ingested data."""
        cells = self.cells()
        out = keys
        mins = []
        for j in range(CM_DEPTH):
            cj = cells.filter(F.col("j") == j).select(
                F.col("bucket").alias(f"b{j}"),
                F.col("cell_n").alias(f"n{j}"),
            )
            out = out.join(
                F.broadcast(cj),
                _cm_hash(j, F.col(key_col)) == F.col(f"b{j}"),
                "left",
            )
            mins.append(F.coalesce(F.col(f"n{j}"), F.lit(0)))
        return out.select(
            key_col, F.least(*mins).cast("long").alias("cm_estimate")
        )

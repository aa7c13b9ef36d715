"""Streaming source-drift monitor: token cells kept current per
micro-batch, the chi-square dashboard recomputed from the merged cells.

The batch audit (operators/corpus_stats.py ``source_token_drift``)
scores per-(source, term) chi-square contributions from token-frequency
cells. Cells are pure partial counts — disjoint slices MERGE BY
ADDITION — so a crawl stream can keep them current without ever
re-reading history: each micro-batch contributes its own cell segment,
and the dashboard is recomputed from the (tiny) merged cell table by
THE SAME scoring function the batch query uses
(``drift_from_cells``, imported — one implementation, two surfaces).

Each micro-batch's cells are one segment of a
:class:`~.segments.SegmentTable` (scope, replay and compaction rules
are stated there), so ingesting the corpus in K waves — or replaying
any wave — yields bit-identical cells to one-shot ingestion (pytest
pins both).

At 100 TB of stream history: the cell table is (sources × vocabulary)
per segment — aggregate-sized, never corpus-sized — and
:meth:`StreamingDriftMonitor.compact` folds the settled segments when
fragmentation grows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.corpus_stats import drift_from_cells, token_cells
from ..sources.table_store import TableStore
from .segments import SegmentTable, drain, json_stream

#: partial-cells table: one (source, term, o) segment per micro-batch.
DRIFT_PARTIALS = "drift_cell_partials"
DRIFT_PARTIALS_DDL = (
    "checkpoint string, batch_id bigint, source string, term string, o bigint"
)


class StreamingDriftMonitor:
    """Maintain source-drift token cells over a JSON document stream
    (availableNow micro-batches, checkpointed), and serve the batch
    dashboard from the merged cells."""

    def __init__(
        self,
        spark: SparkSession,
        store: TableStore,
        source_dir: str,
        checkpoint_dir: str,
        schema: str = "doc_id bigint, source string, text string",
    ) -> None:
        self.spark = spark
        self.store = store
        self.source_dir = source_dir
        self.checkpoint_dir = checkpoint_dir
        self.schema = schema
        self.segments = SegmentTable(
            store, DRIFT_PARTIALS, checkpoint_dir,
            keys=("source", "term"), sums=("o",), ddl=DRIFT_PARTIALS_DDL,
        )

    def _merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Replace this batch's cell segment (idempotent replay)."""
        self.segments.replace(
            batch_id, token_cells(batch_df.filter(F.col("source").isNotNull()))
        )

    def run_available_now(self) -> None:
        drain(
            json_stream(self.spark, self.schema, self.source_dir),
            self._merge_batch,
            self.checkpoint_dir,
        )

    def compact(self) -> None:
        """Fold settled cell segments (the SegmentTable compaction);
        :meth:`cells` and the dashboard are unchanged."""
        self.segments.compact()

    def cells(self) -> DataFrame:
        """Merged (source, term, o) cells over everything seen so far."""
        return self.segments.merged()

    def drift(self) -> DataFrame:
        """The chi-square dashboard from the merged cells — the SAME
        drift_from_cells the batch query runs, so streaming and batch
        can never disagree on the same data.

        The monitor is long-lived, so the cells cache drift_from_cells
        needs (4 references) is scoped to THIS call: persist, compute
        the dashboard eagerly (top-K per source — dashboard-sized, never
        vocabulary-sized), unpersist, return the materialized rows as a
        local frame. Repeated dashboard refreshes leave zero cached
        frames behind."""
        cells = self.cells().persist()
        try:
            dash = drift_from_cells(cells, persist=False)
            rows = dash.collect()
            return self.spark.createDataFrame(rows, dash.schema)
        finally:
            cells.unpersist()

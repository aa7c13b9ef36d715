"""Streaming CDC apply — change rows merged into a table per micro-batch
(SURVEY.md §2.12a; the streaming face of ``operators.warehouse.merge_upsert``).

A change-data-capture feed lands as files of change rows
``(op ∈ {upsert, delete}, key..., values...)``; this class folds each
micro-batch into the target table with MERGE semantics. The stream's
checkpoint is its only commit record: Spark writes ``commits/<id>`` only
after ``foreachBatch`` returns, so a crash after the apply and before
that commit re-runs the one uncommitted batch, and the replay re-applies
the same changes. MERGE of the same change set is convergent (same final
rows), so at-least-once collapses to effectively-once for the table
state without a marker table. A cleared checkpoint re-offers every file
and re-applies it; with ``seq`` increasing across files, that converges
to the same rows as well.

Last-writer-wins within a batch: if one batch carries several changes
for one key, the one with the highest ``seq`` applies (deterministic,
like Debezium's LSN ordering) — resolved BEFORE the merge join so the
merge sees one row per key.

At 100 TB the target would be a bucketed table on the merge key
(sources/bucketed.py) so the per-batch full-outer join never reshuffles
the big side; the apply path here is byte-identical either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.warehouse import merge_upsert, src_col
from ..sources.table_store import TableStore
from .segments import drain, json_stream


class StreamingCdcApply:
    """Apply a JSON CDC file stream onto ``target`` with MERGE semantics.

    Change-row schema: ``op string, seq long, <key cols>, <value cols>``
    (op: 'upsert' | 'delete')."""

    def __init__(
        self,
        spark: SparkSession,
        store: TableStore,
        source_dir: str,
        checkpoint_dir: str,
        schema: str,
        target: str,
        keys: list[str],
    ) -> None:
        self.spark = spark
        self.store = store
        self.source_dir = source_dir
        self.checkpoint_dir = checkpoint_dir
        self.schema = schema
        self.target = target
        self.keys = keys

    def _apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # last-writer-wins per key within the batch (highest seq)
        w = Window.partitionBy(*self.keys).orderBy(F.desc("seq"))
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if latest.limit(1).count() > 0:
            value_cols = [
                c
                for c in latest.columns
                if c not in self.keys and c not in ("op", "seq")
            ]
            merge_upsert(
                self.store,
                self.target,
                latest,
                keys=self.keys,
                update_cols=value_cols,
                delete_condition=src_col("op") == "delete",
                carry_cols=["op"],  # drives deletion, never lands in the table
            )

    def run_available_now(self) -> None:
        drain(
            json_stream(self.spark, self.schema, self.source_dir),
            self._apply_batch,
            self.checkpoint_dir,
        )

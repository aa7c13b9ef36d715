"""Streaming CDC apply — change rows merged into a table per micro-batch
(SURVEY.md §2.12a; the streaming face of ``operators.warehouse.merge_upsert``).

A change-data-capture feed lands as files of change rows
``(op ∈ {upsert, delete}, key..., values...)``; this class folds each
micro-batch into the target table with MERGE semantics and makes the
fold IDEMPOTENT under foreachBatch's at-least-once contract: a batch
that replays (crash after apply, before checkpoint commit) is detected
by a (checkpoint-scope, batch_id) marker — scoped by the segment
tables' stream-identity rule (streaming/segments.py) — and skipped
instead of applied twice. Apply + marker cannot be one atomic
write on a filesystem, so the order is apply-then-mark: a crash between
the two replays the batch, and the replay re-applies the same changes —
MERGE of the same change set is convergent (same final rows), so
at-least-once collapses to effectively-once for the table state.

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

from ..operators.maintenance import compact_table
from ..operators.warehouse import merge_upsert, src_col
from ..sources.table_store import TableStore
from .segments import checkpoint_scope, drain, json_stream, scoped

#: marker table: one row per applied (scope, batch)
CDC_COMMITS = "cdc_commits"
CDC_COMMITS_DDL = "checkpoint string, batch_id bigint"


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
        #: applied batch ids for this stream identity, loaded once per
        #: run — per-batch checks are O(1) in-memory instead of a
        #: marker-table scan per micro-batch (linear in stream lifetime)
        self._applied: set[int] | None = None

    #: compact the marker table once it fragments past this many files
    COMMITS_COMPACT_FILES = 64

    def _load_applied(self) -> set[int]:
        if not self.store.exists(CDC_COMMITS):
            return set()
        return {
            int(r["batch_id"])
            for r in self.store.read(CDC_COMMITS, CDC_COMMITS_DDL)
            .filter(scoped(self.checkpoint_dir))
            .select("batch_id")
            .collect()
        }

    def _is_applied(self, batch_id: int) -> bool:
        if self._applied is None:
            self._applied = self._load_applied()
        return int(batch_id) in self._applied

    def _mark_applied(self, batch_id: int) -> None:
        self.store.append_rows(
            CDC_COMMITS,
            [(checkpoint_scope(self.checkpoint_dir), int(batch_id))],
            CDC_COMMITS_DDL,
        )
        if self._applied is None:
            self._applied = self._load_applied()
        self._applied.add(int(batch_id))

    def _apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self._is_applied(batch_id):
            return  # replay after crash-after-apply: skip
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
        self._mark_applied(batch_id)

    def run_available_now(self) -> None:
        self._applied = None  # fresh view of the marker table per run
        drain(
            json_stream(self.spark, self.schema, self.source_dir),
            self._apply_batch,
            self.checkpoint_dir,
        )
        compact_table(
            self.store, CDC_COMMITS, min_files=self.COMMITS_COMPACT_FILES + 1
        )

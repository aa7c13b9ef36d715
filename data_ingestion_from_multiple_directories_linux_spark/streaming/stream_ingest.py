"""Streaming ingestion (SURVEY.md M4): the reference's cron micro-batch
loop as a Structured Streaming file source.

Mapping to the reference's operating model:

* ``readStream.json(<root>/*/<table>_*.json)`` — the upload tree scan
  (file_loader.py:264-265), one stream per target table so each stream
  has one schema (the reference routes by filename the same way,
  file_loader.py:288-309), configured by the batch read's own
  ``json_dir.json_reader``;
* file-source checkpoint — the sync_file processed-state machine
  (file_loader.py:247-278): the source offers each file in exactly one
  micro-batch across restarts. foreachBatch itself is at-least-once, so
  the sink adds a ``_stream_commits`` marker table: a replayed batch_id
  is skipped outright, and an uncommitted (crashed-mid-append) batch is
  repaired by purging its files' partial staging and audit rows before
  re-landing — the combination gives effectively-exactly-once
  staging/audit rows over plain parquet (the same role a transactional
  table format plays at cluster scale);
* the availableNow trigger (``segments.drain``) — one cron tick
  (processes everything pending, then stops), replacing cron + the pgrep single-instance lock
  (orchestrate_file_ingestion.sh:16-26, G7): a second concurrent start
  on the same checkpoint is refused by the streaming engine;
* ``foreachBatch`` — lands the micro-batch through the batch engine's
  own sink (``ingest.engine.land_files``: one persist, one per-file
  count job, one ingestion-log purge, one staging and one quarantine
  write that replace only the facility partitions a replay hit) and
  audits it by the same verdict law (``ingest.engine.audit_rows``), so
  both modes write the same staging, quarantine and audit rows for the
  same files; the audit rows and the commit marker are driver rows,
  stored by ``TableStore.append_rows`` with no Spark job;
* ``maxFilesPerTrigger`` — the batch-size throttle (O2, LIMIT 50000).

Scale: the file source lists and tracks files on the driver exactly like
the batch catalog; data reads are distributed; checkpoint state grows
with file count and is compacted by Spark. ``cleanSource='archive'`` can
replace the M6 retention job where post-hoc auditing of raw files is not
required.
"""

from __future__ import annotations

import glob
import os
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ingest.engine import (
    INGESTION_LOG,
    INGESTION_LOG_DDL,
    FileCounts,
    Pair,
    _default_transforms,
    audit_rows,
    file_status,
    land_files,
)
from ..sources.json_dir import json_reader, permissive_schema, with_source_lineage
from ..sources.table_store import TableStore
from .segments import checkpoint_scope, drain, scoped


class StreamingIngestion:
    """One streaming pipeline per (upload root, target table)."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        root: str,
        table: str,
        checkpoint_dir: str | None = None,
        max_files_per_trigger: int | None = None,
    ) -> None:
        self.schema = permissive_schema(table)
        if self.schema is None:
            raise ValueError(
                f"streaming ingestion needs a registered schema for {table!r}; "
                "the file source cannot infer per-batch (add it to "
                "sources.schemas.TABLE_SCHEMAS)"
            )
        self.spark = spark
        self.store = TableStore(spark, warehouse)
        self.root = root
        self.table = table
        self.pattern = os.path.join(root, "*", f"{table}_*.json")
        self.checkpoint = checkpoint_dir or os.path.join(
            warehouse, f"_checkpoints/{table}"
        )
        self.max_files_per_trigger = max_files_per_trigger
        self.transforms = _default_transforms()
        #: committed batch ids for this stream identity, loaded once per
        #: run (see _load_committed)
        self._committed: set[int] | None = None

    # ------------------------------------------------------------------

    def _source(self) -> DataFrame:
        reader = json_reader(self.spark.readStream, self.schema)
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", str(self.max_files_per_trigger))
        # decoded lineage names — raw filesystem keys, matching the
        # driver-side snapshot/purge/audit joins (see
        # json_dir.with_source_lineage)
        return with_source_lineage(reader.load(self.pattern))

    #: sink-side commit log: (table_name, checkpoint, batch_id) per
    #: committed batch. The CHECKPOINT column scopes markers to one
    #: stream identity: foreachBatch batch ids restart at 0 when a
    #: checkpoint is cleared (and are shared by any other query writing
    #: the same table), so an unscoped (table, batch_id) marker would
    #: silently skip a genuinely NEW batch as a "replay" — data loss.
    COMMITS = "_stream_commits"
    COMMITS_DDL = (
        "table_name string, checkpoint string, batch_id bigint, committed_at timestamp"
    )

    #: compact the marker table once it fragments past this many files
    #: (one tiny parquet file is appended per micro-batch)
    COMMITS_COMPACT_FILES = 64

    def _load_committed(self) -> set[int]:
        """One scan at stream start; per-batch checks are then O(1)
        in-memory (the previous shape re-read the whole marker table
        every micro-batch — linear growth with stream lifetime).

        Only markers stamped with THIS stream's checkpoint scope count.
        Legacy NULL-scope rows (pre-scoping format) are deliberately
        IGNORED: they cannot prove which checkpoint committed them, and
        honoring them after an operator clears the checkpoint (batch
        ids restart at 0) would silently skip the new stream's first
        batches — multi-batch data loss. The cost of ignoring them is
        bounded and safe: at most the last pre-upgrade batch replays
        once without a recognized marker, and the purge-before-append
        repair makes that re-process idempotent.

        A pre-scoping table (no ``checkpoint`` column) is migrated here,
        once, so later appends never mix parquet schemas (tiny: one row
        per past micro-batch)."""
        if not self.store.exists(self.COMMITS):
            return set()
        df = self.store.read(self.COMMITS)
        if "checkpoint" not in df.columns:
            self.store.overwrite(
                self.COMMITS, df.withColumn("checkpoint", F.lit(None).cast("string"))
            )
            return set()
        cond = (F.col("table_name") == f"stg_{self.table}") & scoped(
            self.checkpoint
        )
        return {
            int(r["batch_id"])
            for r in df.filter(cond).select("batch_id").collect()
        }

    def _is_committed(self, batch_id: int) -> bool:
        if self._committed is None:
            self._committed = self._load_committed()
        return batch_id in self._committed

    def _mark_committed(self, batch_id: int) -> None:
        if self._committed is None:
            self._committed = self._load_committed()
        self.store.append_rows(
            self.COMMITS,
            [(f"stg_{self.table}", checkpoint_scope(self.checkpoint), batch_id,
              datetime.now())],
            self.COMMITS_DDL,
        )
        self._committed.add(batch_id)

    def _audit(self, files: dict[Pair, FileCounts], now: datetime) -> None:
        self.store.append_rows(
            INGESTION_LOG, audit_rows(self.table, files, now), INGESTION_LOG_DDL
        )

    def _process_batch(self, batch: DataFrame, batch_id: int) -> None:
        """The per-micro-batch sink: the batch engine's
        :func:`land_files` and :func:`audit_rows` over the batch.

        Idempotent under foreachBatch's at-least-once contract: a
        batch_id already in ``_stream_commits`` is a replay of a fully
        committed batch → skip; a replay WITHOUT a marker means the
        previous attempt crashed mid-append → landing purges every file
        of the batch (staging, quarantine and this table's audit rows)
        before it appends, so the redo replaces instead of adding — the
        file source assigns each file to exactly one batch_id, so the
        key is exact.
        """
        if self._is_committed(batch_id):
            return
        now = datetime.now()
        counts = land_files(
            self.store, self.table, batch, self.transforms, purge_pairs=None
        )
        self._audit(counts, now)
        # marker LAST: anything before a crash lands pre-marker and
        # is repaired by the purge on replay
        self._mark_committed(batch_id)

    # ------------------------------------------------------------------

    def _audit_empty_files(self, snapshot: list[Pair], now: datetime) -> None:
        """G4 parity: files that parse to ZERO rows (``[]`` / empty
        payload) never appear in any micro-batch, so the row-driven sink
        can't audit them. After the stream drains, any snapshot file
        with no INGESTION_LOG row for this table (:func:`file_status`)
        is audited with zero counts — the verdict law's empty-file row
        (G4) — once (later runs see the row). ``snapshot`` is listed
        BEFORE the stream starts so a file arriving mid-run is left for
        the next tick, not misflagged. Only file METADATA reaches the
        driver."""
        seen = file_status(self.store, snapshot, f"stg_{self.table}")
        self._audit(
            {p: FileCounts() for p in sorted(set(snapshot)) if p not in seen}, now
        )

    def run_available_now(self) -> None:
        """One cron tick: ingest every pending file, then stop (G7 —
        the checkpoint refuses concurrent runs; rerun = no-op unless new
        files arrived). Afterwards: audit zero-row files the sink never
        saw, and compact the commit-marker table if fragmented."""
        self._committed = None  # fresh view of the marker table per run
        now = datetime.now()
        snapshot = [
            (os.path.basename(p), os.path.basename(os.path.dirname(p)))
            for p in glob.glob(self.pattern)
        ]
        drain(self._source(), self._process_batch, self.checkpoint)
        self._audit_empty_files(snapshot, now)
        # imported here: operators.maintenance registers queries, and
        # importing it from the streaming package would move them ahead
        # of earlier-imported operator modules in registration order
        from ..operators.maintenance import compact_table

        compact_table(
            self.store, self.COMMITS, min_files=self.COMMITS_COMPACT_FILES + 1
        )

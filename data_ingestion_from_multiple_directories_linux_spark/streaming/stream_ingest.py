"""Streaming ingestion (SURVEY.md M4): the reference's cron micro-batch
loop as a Structured Streaming file source.

Mapping to the reference's operating model:

* ``readStream.json(<root>/*/<table>_*.json)`` — the upload tree scan
  (file_loader.py:264-265), one stream per target table so each stream
  has one schema (the reference routes by filename the same way,
  file_loader.py:288-309);
* file-source checkpoint — the sync_file processed-state machine
  (file_loader.py:247-278): the source offers each file in exactly one
  micro-batch across restarts. foreachBatch itself is at-least-once, so
  the sink adds a ``_stream_commits`` marker table: a replayed batch_id
  is skipped outright, and an uncommitted (crashed-mid-append) batch is
  repaired by purging its files' partial rows before re-append — the
  combination gives effectively-exactly-once staging/audit rows over
  plain parquet (the same role a transactional table format plays at
  cluster scale);
* the availableNow trigger (``segments.drain``) — one cron tick
  (processes everything pending, then stops), replacing cron + the pgrep single-instance lock
  (orchestrate_file_ingestion.sh:16-26, G7): a second concurrent start
  on the same checkpoint is refused by the streaming engine;
* ``foreachBatch`` — runs the SAME cleanse/quarantine/lineage pipeline
  as the batch engine (ingest.engine.cleanse_and_split /
  finalize_lineage) and appends staging + audit rows per micro-batch;
* ``maxFilesPerTrigger`` — the batch-size throttle (O2, LIMIT 50000).

Scale: the file source lists and tracks files on the driver exactly like
the batch catalog; data reads are distributed; checkpoint state grows
with file count and is compacted by Spark. ``cleanSource='archive'`` can
replace the M6 retention job where post-hoc auditing of raw files is not
required.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..ingest.engine import (
    INGESTION_LOG,
    _default_transforms,
    cleanse_and_split,
    finalize_lineage,
    local_df,
)
from ..sources.json_dir import CORRUPT_COL
from ..sources.schemas import schema_for_table
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
        partition_by_facility: bool = True,
    ) -> None:
        schema = schema_for_table(table)
        if schema is None:
            raise ValueError(
                f"streaming ingestion needs a registered schema for {table!r}; "
                "the file source cannot infer per-batch (add it to "
                "sources.schemas.TABLE_SCHEMAS)"
            )
        self.spark = spark
        self.store = TableStore(spark, warehouse)
        self.root = root
        self.table = table
        self.schema = T.StructType(
            list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType(), True)]
        )
        self.checkpoint = checkpoint_dir or os.path.join(
            warehouse, f"_checkpoints/{table}"
        )
        self.max_files_per_trigger = max_files_per_trigger
        self.transforms = _default_transforms()
        self.partition_cols = ("stg_datim_id",) if partition_by_facility else ()
        #: committed batch ids for this stream identity, loaded once per
        #: run (see _load_committed)
        self._committed: set[int] | None = None

    # ------------------------------------------------------------------

    def _source(self) -> DataFrame:
        reader = (
            self.spark.readStream.format("json")
            .schema(self.schema)
            .option("multiLine", "true")
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", CORRUPT_COL)
        )
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", str(self.max_files_per_trigger))
        pattern = os.path.join(self.root, "*", f"{self.table}_*.json")
        df = reader.load(pattern)
        # decoded lineage names — raw filesystem keys, matching the
        # driver-side snapshot/purge/audit joins (see
        # json_dir.with_source_lineage)
        from ..sources.json_dir import with_source_lineage

        return with_source_lineage(df)

    #: sink-side commit log: (table_name, checkpoint, batch_id) per
    #: committed batch. The CHECKPOINT column scopes markers to one
    #: stream identity: foreachBatch batch ids restart at 0 when a
    #: checkpoint is cleared (and are shared by any other query writing
    #: the same table), so an unscoped (table, batch_id) marker would
    #: silently skip a genuinely NEW batch as a "replay" — data loss.
    COMMITS = "_stream_commits"

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
        repair makes that re-process idempotent."""
        if not self.store.exists(self.COMMITS):
            return set()
        df = self.store.read(self.COMMITS)
        if "checkpoint" not in df.columns:
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
        if self.store.exists(self.COMMITS):
            cur = self.store.read(self.COMMITS)
            if "checkpoint" not in cur.columns:
                # one-time migration of a pre-scoping marker table so
                # appends never mix parquet schemas (tiny: one row per
                # past micro-batch)
                self.store.overwrite(
                    self.COMMITS,
                    cur.withColumn("checkpoint", F.lit(None).cast("string")),
                )
        # single-slice local frame: coalesce(1) on a local relation is
        # the measured ~10x pathology local_df exists to avoid
        row = local_df(
            self.spark,
            [(f"stg_{self.table}", checkpoint_scope(self.checkpoint), batch_id)],
            "table_name string, checkpoint string, batch_id long",
        ).withColumn("committed_at", F.current_timestamp())
        self.store.append(self.COMMITS, row)
        if self._committed is None:
            self._committed = self._load_committed()
        self._committed.add(batch_id)

    def _purge_batch_rows(self, files: list[tuple[str, str]]) -> None:
        """Crash-replay repair: drop any rows a half-committed attempt of
        this batch already appended, keyed on the batch's (file,
        facility) pairs — the file source assigns each file to exactly
        one batch_id, so the key is exact.

        The pair list joins as a broadcast frame, NOT an OR-chain
        predicate: a 13k-file batch would otherwise build a 13k-term
        binary expression tree that Catalyst re-analyzes per table
        (driver minutes / StackOverflow territory); the anti-join is
        linear and the probe stays a hash lookup per row."""
        if not files:
            return
        pairs = local_df(
            self.spark, sorted(files), "file_name string, facility_id string"
        )
        for store_table, fcol, faccol in (
            (f"stg_{self.table}", "stg_file_name", "stg_datim_id"),
            (f"stg_{self.table}_bad_dates", "stg_file_name", "stg_datim_id"),
            (INGESTION_LOG, "file_name", "facility_id"),
        ):
            if not self.store.exists(store_table):
                continue
            cur = self.store.read(store_table)
            if store_table == INGESTION_LOG:
                scoped = cur.filter(F.col("table_name") == f"stg_{self.table}")
                # rows of OTHER tables are never purge candidates
                keep_always = cur.filter(F.col("table_name") != f"stg_{self.table}")
            else:
                scoped = cur
                keep_always = None
            # qualify both sides: the audit log's own columns are also
            # named file_name/facility_id
            on = (scoped[fcol] == pairs["file_name"]) & (
                scoped[faccol] == pairs["facility_id"]
            )
            if scoped.join(F.broadcast(pairs), on, "left_semi").limit(1).count() == 0:
                continue
            remaining = scoped.join(F.broadcast(pairs), on, "left_anti")
            if keep_always is not None:
                remaining = remaining.unionByName(keep_always)
            if remaining.limit(1).count() == 0:
                self.store.drop(store_table)
            else:
                parts = self.partition_cols if store_table != INGESTION_LOG else ()
                self.store.overwrite(store_table, remaining, parts)

    def _process_batch(self, batch: DataFrame, batch_id: int) -> None:
        """The per-micro-batch sink: same pipeline as the batch engine,
        plus per-file audit rows computed from the batch itself.

        Idempotent under foreachBatch's at-least-once contract: a
        batch_id already in ``_stream_commits`` is a replay of a fully
        committed batch → skip; a replay WITHOUT a marker means the
        previous attempt crashed mid-append → purge that attempt's
        partial rows (keyed on the batch's files) and redo.
        """
        if self._is_committed(batch_id):
            return
        batch = batch.persist()
        valid = bad = None
        try:
            self._purge_batch_rows(
                [
                    (r["_src_file"], r["_src_facility"])
                    for r in batch.select("_src_file", "_src_facility")
                    .distinct()
                    .collect()
                ]
            )
            valid, bad, date_cols, flagged = cleanse_and_split(
                self.table, batch, self.transforms
            )
            valid = valid.persist()
            bad = bad.persist()
            if not valid.isEmpty():
                self.store.append(
                    f"stg_{self.table}",
                    finalize_lineage(valid, date_cols, cast_dates=True),
                    self.partition_cols,
                )
            if not bad.isEmpty():
                self.store.append(
                    f"stg_{self.table}_bad_dates",
                    finalize_lineage(bad, date_cols, cast_dates=False),
                    self.partition_cols,
                )

            # audit: one row per file in this micro-batch (G6); ALL
            # per-file counts come from ONE pass over the row-preserving
            # flagged frame — no join of two aggregations. A ZERO-ROW
            # file produces no rows, hence no group, hence no audit row
            # HERE — run_available_now reconciles those after the stream
            # drains (G4 parity with the batch engine's 'JSON file is
            # empty' row).
            key = ["_src_file", "_src_facility"]
            is_live = ~F.col("_is_corrupt") & ~F.col("_all_null")
            stats = flagged.groupBy(*key).agg(
                F.count("*").alias("n_raw"),
                F.count(F.when(F.col("_is_corrupt"), 1)).alias("n_corrupt"),
                F.count(F.when(is_live & ~F.col("_bad_date"), 1)).alias("n_valid"),
                F.count(F.when(F.col("_bad_date"), 1)).alias("n_bad"),
            )
            from ..functions.naming import batch_of

            # status/message branches MIRROR the batch engine's
            # _audit_rows exactly (G6 parity): a non-empty file whose
            # every row dropped as all-null is FAILED with the same
            # triage message, not silently 'success'
            all_null = (
                (F.col("n_corrupt") == 0)
                & (F.col("n_valid") + F.col("n_bad") == 0)
                & (F.col("n_raw") > 0)
            )
            audit = stats.select(
                F.col("_src_file").alias("file_name"),
                F.col("_src_facility").alias("facility_id"),
                F.lit(f"stg_{self.table}").alias("table_name"),
                batch_of(F.col("_src_file")).alias("batch_id"),
                F.when(F.col("n_corrupt") > 0, "failed")
                .when(all_null, "failed")
                .when(F.col("n_bad") > 0, "failed")
                .otherwise("success")
                .alias("status"),
                F.col("n_valid").cast("long").alias("json_rec_count"),
                F.col("n_bad").cast("long").alias("bad_rec_count"),
                F.when(F.col("n_corrupt") > 0, "malformed JSON")
                .when(all_null, "all rows null after cleansing")
                .when(
                    F.col("n_bad") > 0,
                    F.concat(
                        F.col("n_bad").cast("string"),
                        F.lit(" record(s) failed date validation (quarantined)"),
                    ),
                )
                .alias("error_message"),
                F.current_timestamp().alias("load_start_time"),
                F.current_timestamp().alias("load_end_time"),
            )
            # one audit file per micro-batch, not one per shuffle slice
            self.store.append(INGESTION_LOG, audit.coalesce(1))
            # marker LAST: anything before a crash lands pre-marker and
            # is repaired by the purge on replay
            self._mark_committed(batch_id)
        finally:
            for df in (bad, valid):
                if df is not None:
                    df.unpersist()
            batch.unpersist()

    # ------------------------------------------------------------------

    def _audit_empty_files(self, snapshot: list[tuple[str, str]]) -> int:
        """G4 parity: files that parse to ZERO rows (``[]`` / empty
        payload) never appear in any micro-batch, so the row-driven sink
        can't audit them. After the stream drains, any snapshot file
        with no INGESTION_LOG row for this table gets the batch engine's
        'failed / JSON file is empty' row — once (later runs see the
        row). ``snapshot`` is listed BEFORE the stream starts so a file
        arriving mid-run is left for the next tick, not misflagged.

        Driver-side file METADATA only (same bounded listing the file
        source itself performs); returns the number of rows added."""
        if not snapshot:
            return 0
        from ..functions.naming import batch_of

        disk = local_df(
            self.spark, sorted(set(snapshot)), "file_name string, facility_id string"
        )
        if self.store.exists(INGESTION_LOG):
            seen = (
                self.store.read(INGESTION_LOG)
                .filter(F.col("table_name") == f"stg_{self.table}")
                .select("file_name", "facility_id")
            )
            missing = disk.join(seen, ["file_name", "facility_id"], "left_anti")
        else:
            missing = disk
        audit = missing.select(
            "file_name",
            "facility_id",
            F.lit(f"stg_{self.table}").alias("table_name"),
            batch_of(F.col("file_name")).alias("batch_id"),
            F.lit("failed").alias("status"),
            F.lit(0).cast("long").alias("json_rec_count"),
            F.lit(0).cast("long").alias("bad_rec_count"),
            F.lit("JSON file is empty").alias("error_message"),
            F.current_timestamp().alias("load_start_time"),
            F.current_timestamp().alias("load_end_time"),
        )
        rows = audit.coalesce(1).persist()
        try:
            n = rows.count()
            if n:
                self.store.append(INGESTION_LOG, rows)
            return n
        finally:
            rows.unpersist()

    def _snapshot_files(self) -> list[tuple[str, str]]:
        import glob

        return [
            (os.path.basename(p), os.path.basename(os.path.dirname(p)))
            for p in glob.glob(
                os.path.join(self.root, "*", f"{self.table}_*.json")
            )
        ]

    def run_available_now(self) -> None:
        """One cron tick: ingest every pending file, then stop (G7 —
        the checkpoint refuses concurrent runs; rerun = no-op unless new
        files arrived). Afterwards: audit zero-row files the sink never
        saw, and compact the commit-marker table if fragmented."""
        self._committed = None  # fresh view of the marker table per run
        snapshot = self._snapshot_files()
        drain(self._source(), self._process_batch, self.checkpoint)
        self._audit_empty_files(snapshot)
        # imported here: operators.maintenance registers queries, and
        # importing it from the streaming package would move them ahead
        # of earlier-imported operator modules in registration order
        from ..operators.maintenance import compact_table

        compact_table(
            self.store, self.COMMITS, min_files=self.COMMITS_COMPACT_FILES + 1
        )

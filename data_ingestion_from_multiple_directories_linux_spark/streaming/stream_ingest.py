"""Streaming ingestion (SURVEY.md M4): the reference's cron micro-batch
loop as a Structured Streaming file source.

Mapping to the reference's operating model:

* ``readStream.json(<root>/*/<table>_*.json)`` — the upload tree scan
  (file_loader.py:264-265), one stream per target table so each stream
  has one schema (the reference routes by filename the same way,
  file_loader.py:288-309), configured by the batch read's own
  ``json_dir.json_reader``;
* file-source checkpoint — the sync_file processed-state machine
  (file_loader.py:247-278) and the stream's only commit record: the
  source offers each file in exactly one micro-batch across restarts,
  and Spark writes ``commits/<id>`` only after ``foreachBatch`` returns,
  so a restart re-runs at most the one uncommitted batch. The sink is
  exact under that replay by its own rule (see ``_process_batch``), so
  no sink-side marker table is kept; a cleared checkpoint re-offers
  every file and the re-landing replaces the old rows;
* the availableNow trigger (``segments.drain``) — one cron tick
  (processes everything pending, then stops), replacing cron + the pgrep single-instance lock
  (orchestrate_file_ingestion.sh:16-26, G7): a second concurrent start
  on the same checkpoint is refused by the streaming engine;
* ``foreachBatch`` — lands the micro-batch through the batch engine's
  own sink (``ingest.engine.land_files``: one persist, one per-file
  count job, one staging and one quarantine write that replace only the
  facility partitions a replay hit) and audits it by the same verdict
  law (``ingest.engine.audit_rows``), so both modes write the same
  staging, quarantine and audit rows for the same files; the audit rows
  are driver rows, appended by ``TableStore.append_rows`` with no Spark
  job, and never purged: a replay's rows are later attempts;
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
from .segments import drain


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

    # ------------------------------------------------------------------

    def _source(self) -> DataFrame:
        reader = json_reader(self.spark.readStream, self.schema)
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", str(self.max_files_per_trigger))
        # decoded lineage names — raw filesystem keys, matching the
        # driver-side snapshot/purge/audit joins (see
        # json_dir.with_source_lineage)
        return with_source_lineage(reader.load(self.pattern))

    def _audit(self, files: dict[Pair, FileCounts], now: datetime) -> None:
        self.store.append_rows(
            INGESTION_LOG, audit_rows(self.table, files, now), INGESTION_LOG_DDL
        )

    def _process_batch(self, batch: DataFrame, batch_id: int) -> None:
        """The per-micro-batch sink: the batch engine's
        :func:`land_files` and :func:`audit_rows` over the batch.

        Exact under foreachBatch's at-least-once contract without a
        marker: Spark commits ``batch_id`` to the checkpoint only after
        this returns, and a restart re-runs only that one uncommitted
        batch. Landing first purges every file of the batch from
        staging and quarantine, so a replay replaces the rows a crashed
        attempt left instead of adding to them; the file source assigns
        each file to exactly one batch, so the key is exact. The
        ingestion log is only appended to: a replay's audit rows carry
        later ``load_end_time``s, so they are the files' latest attempts
        (``latest_attempts``) and the earlier rows stay as history. One
        window: a file that retention deletes between a crash and the
        replay fails that replay's read. It runs from the first write of
        the batch until Spark's commit.
        """
        now = datetime.now()
        counts = land_files(
            self.store, self.table, batch, self.transforms, purge_pairs=None
        )
        self._audit(counts, now)

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
        saw."""
        now = datetime.now()
        snapshot = [
            (os.path.basename(p), os.path.basename(os.path.dirname(p)))
            for p in glob.glob(self.pattern)
        ]
        drain(self._source(), self._process_batch, self.checkpoint)
        self._audit_empty_files(snapshot, now)

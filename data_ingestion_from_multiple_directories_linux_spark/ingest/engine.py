"""Batch ingestion engine (SURVEY.md §3 lifecycle, §2.11 control operators).

Reproduces the observable semantics of the reference pipeline
(file_ingestion_process.py → file_loader.py) Spark-first:

* one distributed JSON read per target table instead of a pandas loop per
  file (G5: facility parallelism comes from the scheduler, not threads);
* idempotency from each file's latest logged attempt (G1,
  file_loader.py:312-369), read by one law (:func:`latest_attempts`,
  :func:`file_status`) that work selection, the streaming empty-file
  audit, the summary report and retention all share — previously failed
  files retry automatically on the next run (file_loader.py:413-420
  ``is_loaded_failed → 'attempting to reload'``); the retry's staging
  write drops their prior partial rows, so it cannot duplicate, and a
  run's selected files are logged ``loading`` until its audit rows land,
  so a run that dies in between is retried the same way;
* per-table transform dispatch (G2, file_loader.py:597-621): PII masking,
  column exclusion, struct masking;
* cleansing: null-sentinel normalization (F7), drop all-null rows (F6),
  date validation with quarantine split (G3, file_loader.py:624-653):
  valid rows land in ``stg_<table>``, bad-date rows in
  ``stg_<table>_bad_dates``, and the file is logged failed with detail;
* empty/malformed file handling (G4/G8, file_loader.py:591-595, :371-384);
* lineage columns stg_batch_id/stg_load_time/stg_file_name/stg_datim_id
  (§1.4, file_loader.py:630-633);
* audit tables ingestion_log / stg_monitoring / pipeline_log (G6,
  file_loader.py:83-90, :648-651; file_ingestion_process.py:24-37).

Scale notes: staging tables are written partitioned by facility
(``stg_datim_id``) so per-facility reads prune partitions, and a retry
rewrites only the facility partitions that held the retried files' rows:
each staging table gets one write per run, new rows appended and those
partitions swapped in (:func:`land_files`), never a whole-table rewrite.
A tick is bound by job latency, not work, so each table overlaps what
does not depend on each other: a retry's two partition probes run with
the count job, and staging and quarantine land side by side. Files
are matched to their log and staging rows by one IN over their keys
(:func:`pair_in`), built in a fixed number of py4j calls, so the
driver's cost of work selection stays small up to the 50k-file run cap.
Audit writes are append-only rows the driver already holds, written as
one parquet file per table per run with no Spark job
(``TableStore.append_rows``); the engine's own audit tables are read with
their declared DDL, never by footer inference. The only driver-side
collect is file-level *metadata* (the same information Spark's own
FileIndex holds), never row data.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable, Collection
from concurrent.futures import Future, ThreadPoolExecutor
from contextlib import suppress
from dataclasses import dataclass, field
from datetime import datetime
from functools import partial
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.utils import get_active_spark_context

from ..functions.cleansing import (
    any_bad_date,
    discover_date_columns,
    normalize_nulls,
    try_parse_timestamp,
)
from ..functions.masking import mask_columns, mask_struct_value_staged
from ..sources.json_dir import (
    CORRUPT_COL,
    FileMeta,
    discover_files,
    read_table_files,
)
from ..functions.naming import TS_RE, derive_batch_id
from ..sources.schemas import schema_for_table
from ..sources.table_store import TableStore

INGESTION_LOG = "ingestion_log"
STG_MONITORING = "stg_monitoring"
PIPELINE_LOG = "pipeline_log"
PARTNER_MAPPING = "central_partner_mapping"
PROCESS_SUMMARY = "process_summary_report"


class ConcurrentRunError(RuntimeError):
    """Another ingestion run holds the single-instance lock (G7)."""

INGESTION_LOG_DDL = (
    "file_name string, facility_id string, table_name string, batch_id string, "
    "status string, json_rec_count bigint, bad_rec_count bigint, "
    "error_message string, load_start_time timestamp, load_end_time timestamp"
)
STG_MONITORING_DDL = (
    "datim_id string, batch_id string, file_name string, table_name string, "
    "load_time timestamp, json_rec_count bigint, processed string, error_message string"
)
PIPELINE_LOG_DDL = (
    "log_id string, start_time timestamp, end_time timestamp, status string, "
    "process_type string, error_message string, records_processed bigint"
)

#: a selected file's status from the start of a run until its audit row
#: lands: a run that dies in between leaves it, and the next run retries
#: the file
LOADING = "loading"
#: latest statuses after which staging may hold rows of the file that an
#: earlier attempt landed: re-selecting the file purges them
RETRY_STATUSES = ("failed", "requeued", LOADING)

#: Error-message storage cap (reference file_loader.py:189).
ERROR_MSG_CAP = 10_000

#: staging partition layout: facility = the natural partition unit
#: (§1.1; directories keyed by facility → partition pruning on read)
STAGING_PARTITION = ("stg_datim_id",)

#: one work item: (file_name, facility_id), keyed exactly as
#: file_loader.py:328-336
Pair = tuple[str, str]
#: a work item's key columns in staging
STAGING_KEY = ("stg_file_name", "stg_datim_id")
STAGING_KEY_DDL = "stg_file_name string, stg_datim_id string"

_INTERNAL_COLS = ("_src_file", "_src_facility", CORRUPT_COL)


def latest_attempts(log: DataFrame) -> DataFrame:
    """The latest attempt per (file, facility) of an ingestion log: the
    log keeps one row per attempt where the reference's sync_file keeps
    one row per file (§1.1), so every reader of a file's state reduces
    it with this one window. Latest is the highest ``load_end_time``,
    then the highest ``status`` (of a tie, ``success`` wins). A log
    without attempt times holds one row per file, as sync_file does, so
    its rows are their own latest."""
    ended = [F.desc("load_end_time")] if "load_end_time" in log.columns else []
    w = Window.partitionBy("file_name", "facility_id").orderBy(*ended, F.desc("status"))
    return log.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")


def file_status(
    store: TableStore, pairs: Collection[Pair], table_name: str | None = None
) -> dict[Pair, tuple[str | None, float | None]]:
    """The one reader of per-file status: ``{pair: (status, attempt
    start in epoch seconds)}`` of each (file, facility) pair's latest
    attempt (:func:`latest_attempts`), among ``table_name``'s log rows
    when given. A pair with no log row is absent.

    ONE collect: the log, read with its declared DDL, is filtered to the
    pairs (:func:`pair_in`, a hash probe, so no join and no shuffle of
    the pairs) before the latest-attempt window, and the start time is
    cast to epoch seconds inside Spark (no Python timezone round-trip).
    The window's shuffle and the collect are the only two jobs. It
    returns one small row per pair that has a log row — file metadata,
    never row data. No job runs when the log is missing or there are no
    pairs."""
    if not pairs or not store.exists(INGESTION_LOG):
        return {}
    log = store.read(INGESTION_LOG, INGESTION_LOG_DDL).filter(
        pair_in(("file_name", "facility_id"), set(pairs))
    )
    if table_name is not None:
        log = log.filter(F.col("table_name") == table_name)
    rows = (
        latest_attempts(log)
        .select("file_name", "facility_id", "status",
                F.col("load_start_time").cast("double"))
        .collect()
    )
    return {(fn, fac): (status, start) for fn, fac, status, start in rows}


def cleanse_and_split(
    table: str, df: DataFrame, transforms: dict[str, list]
) -> tuple[DataFrame, DataFrame, list[str], DataFrame]:
    """The shared per-table cleansing pipeline (G2 + F6/F7 + G3):
    transform dispatch → null-sentinel normalization → all-null drop →
    date-validation quarantine split. ``df`` is the raw PERMISSIVE read —
    corrupt rows included — carrying the _src_file/_src_facility lineage
    columns. Returns (valid, bad, date_cols, flagged) where ``flagged``
    retains EVERY input row with the verdict flags ``_is_corrupt`` /
    ``_all_null`` / ``_bad_date`` (mutually exclusive, in that priority),
    so :func:`land_files` derives raw/corrupt/valid/bad counts per file
    in ONE aggregation pass — one scan of the data instead of two."""
    corrupt = F.col(CORRUPT_COL).isNotNull()
    for t in transforms.get(table, []):
        df = t(df)
    data_cols = [c for c in df.columns if c not in _INTERNAL_COLS]
    df = normalize_nulls(df, data_cols)
    # na.drop(how='all') as a flag: every data column null (F6)
    all_null = F.lit(True)
    for c in data_cols:
        all_null = all_null & F.col(c).isNull()
    str_cols = {
        f.name for f in df.schema.fields if f.dataType.simpleString() == "string"
    }
    date_cols = [c for c in discover_date_columns(data_cols) if c in str_cols]
    flagged = (
        df.withColumn("_is_corrupt", corrupt)
        .withColumn("_all_null", ~corrupt & all_null)
        .withColumn("_bad_date", ~corrupt & ~all_null & any_bad_date(date_cols))
    )
    live = flagged.filter(
        ~F.col("_is_corrupt") & ~F.col("_all_null")
    ).drop("_is_corrupt", "_all_null", CORRUPT_COL)
    valid = live.filter(~F.col("_bad_date")).drop("_bad_date")
    bad = live.filter(F.col("_bad_date")).drop("_bad_date")
    return valid, bad, date_cols, flagged


def finalize_lineage(
    d: DataFrame, date_cols: list[str], cast_dates: bool
) -> DataFrame:
    """Append the four lineage columns (§1.4, file_loader.py:630-633) and
    cast validated date columns to timestamp (quarantine keeps raw)."""
    from ..functions.naming import batch_of

    cols: list[Column] = []
    for c in [c for c in d.columns if c not in _INTERNAL_COLS]:
        if cast_dates and c in date_cols:
            cols.append(try_parse_timestamp(c).alias(c))
        else:
            cols.append(F.col(c))
    return d.select(
        *cols,
        batch_of(F.col("_src_file")).alias("stg_batch_id"),
        F.current_timestamp().alias("stg_load_time"),
        F.col("_src_file").alias("stg_file_name"),
        F.col("_src_facility").alias("stg_datim_id"),
    )


@dataclass
class FileCounts:
    """One file's landing outcome: its rows by verdict, or the error
    that stopped its table's landing (G8)."""

    raw: int = 0
    corrupt: int = 0
    valid: int = 0
    bad: int = 0
    error: str | None = None


def land_files(
    store: TableStore,
    table: str,
    raw: DataFrame,
    transforms: dict[str, list],
    purge_pairs: set[Pair] | None,
    purge: Callable[[str, set[Pair]], dict[str, int]] | None = None,
) -> dict[Pair, FileCounts]:
    """Land one table's files — the one sink of the batch engine and of
    the streaming foreachBatch.

    ``raw`` is the PERMISSIVE read (corrupt rows included) carrying the
    _src_file/_src_facility lineage columns. It is persisted once,
    cleansed (:func:`cleanse_and_split`) and counted per file in ONE
    aggregation job (raw/corrupt/valid/bad — one scan of the cached
    data). Staging and quarantine then get ONE write each: the
    ``purge_pairs`` lose the rows an earlier attempt landed, so a retry
    is exactly-once. ``purge(store_table, pairs)`` (default
    :func:`probe_file_pairs`) finds the facility partitions holding
    those rows; the write is the new rows plus those partitions' other
    rows, swapped in for just those partitions, while every other
    partition takes the new rows as an append
    (``TableStore.append(replace=)``). ``None`` purges every file in
    ``raw``, this table's ingestion-log rows for them included: a
    micro-batch replayed after a crash re-lands and re-audits all of
    its files. A table with neither new rows nor hit partitions is not
    written.

    The two destinations are independent, so they land side by side on
    two threads, each after its own probe. Given ``purge_pairs``, both
    probes run while the count job runs; for ``None`` they follow the
    counts and the log purge. Every thread has finished before this
    returns or raises.

    Returns the counts of every file with at least one row; a file
    that parses to zero rows has no entry."""
    purge = purge or partial(probe_file_pairs, store)
    names = (f"stg_{table}", f"stg_{table}_bad_dates")
    # Persist BEFORE any query touching the corrupt column: Spark
    # forbids queries whose JSON-scan schema is only _corrupt_record
    # (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) unless the
    # frame is cached; _src_file/_src_facility derive from
    # input_file_name(), not data columns, so the raw/corrupt counts
    # below would hit exactly that rule.
    raw = raw.persist()
    try:
        with ThreadPoolExecutor(max_workers=len(names)) as pool:

            def probe(pairs: set[Pair]) -> dict[str, Future]:
                return {n: pool.submit(purge, n, pairs) for n in names} if pairs else {}

            probes = probe(purge_pairs)
            valid, bad, date_cols, flagged = cleanse_and_split(table, raw, transforms)
            is_live = ~F.col("_is_corrupt") & ~F.col("_all_null")
            counts = {
                (r["_src_file"], r["_src_facility"]): FileCounts(
                    r["raw"], r["corrupt"], r["valid"], r["bad"]
                )
                for r in flagged.groupBy("_src_file", "_src_facility")
                .agg(
                    F.count("*").alias("raw"),
                    F.count(F.when(F.col("_is_corrupt"), 1)).alias("corrupt"),
                    F.count(F.when(is_live & ~F.col("_bad_date"), 1)).alias("valid"),
                    F.count(F.when(F.col("_bad_date"), 1)).alias("bad"),
                )
                .collect()
            }
            if purge_pairs is None:
                purge_pairs = set(counts)
                purge_file_pairs(store, purge_pairs, names[0])
                probes = probe(purge_pairs)
            # An unregistered table's schema is inferred per batch, so a
            # retry's rows may lack columns the kept rows hold: read those
            # with the partitions' own schema and union by name. A
            # registered table reads them declared (no inference job).
            registered = schema_for_table(table) is not None

            def land(name: str, rows: DataFrame | None, landed: bool) -> None:
                hits = probes[name].result() if name in probes else {}
                kept = sorted(d for d, n in hits.items() if n)
                if kept:
                    old = store.read(name, rows.schema if registered else None, kept)
                    old = old.filter(~pair_in(STAGING_KEY, purge_pairs))
                    rows = rows.unionByName(old, allowMissingColumns=True) if landed else old
                elif not landed:
                    rows = None
                if rows is not None or hits:
                    store.append(name, rows, STAGING_PARTITION, replace=hits)

            # quarantine keeps raw (uncast) values for review
            landing = [
                pool.submit(land, names[0], finalize_lineage(valid, date_cols, cast_dates=True),
                            any(c.valid for c in counts.values())),
                pool.submit(land, names[1], finalize_lineage(bad, date_cols, cast_dates=False),
                            any(c.bad for c in counts.values())),
            ]
            for f in landing:
                f.result()
    finally:
        raw.unpersist()
    return counts


def pair_in(cols: tuple[str, str], pairs: set[Pair]) -> Column:
    """``cols`` (file, facility) is one of the ``pairs``: an IN over a
    ``file/facility`` key (neither name can hold a '/'), which Catalyst
    plans as an InSet hash probe — no broadcast job, and no OR-chain
    (a 50k-pair requeue would fold into a 50k-term expression tree).

    The set is built in a fixed number of py4j calls, whatever the pair
    count: the keys cross as ONE string joined by NUL (no POSIX name can
    hold one), split on the JVM into a ``String[]`` that stays there,
    and wrapped as a Scala collection for ``isInCollection``. A literal
    per key (``Column.isin``) costs a py4j call each: on a 4-core host
    that took 2.6 s for 5000 pairs, against 0.1 s here (0.6 s for the
    50k-file run cap)."""
    if not pairs:
        return F.lit(False)  # splitting "" would yield one empty key
    jvm = get_active_spark_context()._jvm
    keys = jvm.java.util.regex.Pattern.compile("\0").split(
        "\0".join(sorted(f"{fn}/{fac}" for fn, fac in pairs))
    )
    in_keys = F.concat_ws("/", *cols)._jc.isInCollection(
        jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray(keys)
    )
    return Column(in_keys)


def probe_file_pairs(store: TableStore, name: str, pairs: set[Pair]) -> dict[str, int]:
    """The retry purge's scoped probe: which facility partitions of the
    staging table ``name`` hold rows of the (file, facility) ``pairs``,
    and how many of their rows are not the pairs'.

    Lists the live ``stg_datim_id=`` leaf dirs — Spark escapes ``%``,
    ``:`` and similar characters in those names, so they are unescaped
    before matching the pairs' facilities — then runs ONE job over only
    the matching dirs, reading just the two key columns with a declared
    schema (no footer-inference job, column-pruned I/O). Returns
    ``{leaf dir: rows kept}`` for every partition holding a pair's row;
    no job runs when no dir matches."""
    if not pairs or not store.exists(name):
        return {}
    facilities = {fac for _, fac in pairs}
    key = STAGING_PARTITION[0]
    dirs = {}
    for d in os.listdir(store.path(name)):
        col, sep, value = d.partition("=")
        if sep and col == key and (fac := unquote(value)) in facilities:
            dirs[fac] = d
    if not dirs:
        return {}
    hit = pair_in(STAGING_KEY, pairs)
    probe = (
        store.read(name, STAGING_KEY_DDL, sorted(dirs.values()))
        .groupBy(key)
        .agg(F.count(F.when(hit, 1)).alias("hit"), F.count("*").alias("n"))
        .filter("hit > 0")
    )
    return {dirs[r[key]]: r["n"] - r["hit"] for r in probe.collect()}


def purge_file_pairs(store: TableStore, pairs: set[Pair], table_name: str) -> None:
    """Remove ``table_name``'s ingestion-log rows of the (file, facility)
    ``pairs`` (other tables' rows are never purged): one aggregate
    counts the hit and the remaining rows, then a read-filter-overwrite
    (the log is not partitioned) — or a drop, when nothing remains."""
    if not pairs or not store.exists(INGESTION_LOG):
        return
    log = store.read(INGESTION_LOG, INGESTION_LOG_DDL)
    mine = F.col("table_name") == table_name
    hit = F.coalesce(mine & pair_in(("file_name", "facility_id"), pairs), F.lit(False))
    n_hit, n_left = log.agg(
        F.count(F.when(hit, 1)), F.count(F.when(~hit, 1))
    ).first()
    if not n_hit:
        return
    if n_left:
        store.overwrite(INGESTION_LOG, log.filter(~hit))
    else:
        # an empty parquet dir is unreadable (no footer) — drop instead
        store.drop(INGESTION_LOG)


def audit_rows(
    table: str, files: dict[Pair, FileCounts], now: datetime
) -> list[dict]:
    """The one verdict law (G4/G6/G8): one ingestion-log row per file of
    ``table`` from its counts, attempted at ``now``."""
    rows = []
    for (fn, fac), c in files.items():
        if c.error:
            status, err = "failed", c.error
        elif c.corrupt:
            status, err = "failed", "malformed JSON"
        elif c.raw == 0:
            # G4 (file_loader.py:591-595) — zero parsed rows
            status, err = "failed", "JSON file is empty"
        elif c.valid + c.bad == 0:
            # non-empty file whose every row was dropped by cleansing
            # (F6 all-null drop) — distinct message for triage
            status, err = "failed", "all rows null after cleansing"
        elif c.bad:
            # G3: valid rows ingested, file still logged failed with
            # detail (file_loader.py:637-653)
            status = "failed"
            err = f"{c.bad} record(s) failed date validation (quarantined)"
        else:
            status, err = "success", None
        rows.append(
            {
                "file_name": fn,
                "facility_id": fac,
                "table_name": f"stg_{table}",
                "batch_id": derive_batch_id(fn),
                "status": status,
                "json_rec_count": c.valid,
                "bad_rec_count": c.bad,
                "error_message": err and err[:ERROR_MSG_CAP],
                "load_start_time": now,
                "load_end_time": datetime.now(),
            }
        )
    return rows


def _default_transforms() -> dict[str, list]:
    """Per-table transform dispatch table (G2, file_loader.py:597-621).

    Values are callables ``DataFrame -> DataFrame`` applied before
    cleansing. ``None``-keyed default applies to unlisted tables (no-op —
    the stg_mhpss_confirmation branch)."""
    return {
        # file_loader.py:600-603 — biometric match columns excluded
        "biometric": [
            lambda df: df.drop("match_type", "match_person_uuid", "match_biometric_id")
        ],
        # file_loader.py:608-613 — constant '******' overwrite
        "hts_index_elicitation": [
            lambda df: mask_columns(
                df,
                ["last_name", "first_name", "middle_name", "phone_number", "alt_phone_number"],
            )
        ],
        # file_loader.py:615-621
        "patient_person": [
            lambda df: mask_columns(
                df,
                ["surname", "first_name", "other_name", "full_name", "hospital_number", "nin_number"],
            )
        ],
        # file_loader.py:606 — mask inside extra.value JSON payload
        # (staged form: the heavy stage-1 regexp runs once per row
        # behind a projection boundary — the r8 masking rewrite)
        "hts_client": [
            lambda df: mask_struct_value_staged(df, "extra")
            if "extra" in df.columns
            else df
        ],
    }


@dataclass
class IngestReport:
    run_id: str
    files_seen: int = 0
    files_skipped: int = 0
    files_ingested: int = 0
    files_failed: int = 0
    records_ingested: int = 0
    records_quarantined: int = 0
    tables: dict[str, int] = field(default_factory=dict)
    #: "<facility_id>/<file_name>" -> error message
    errors: dict[str, str] = field(default_factory=dict)


class IngestionEngine:
    """One engine instance per warehouse (≙ one staging database)."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        max_files_per_run: int | None = 50_000,
        submit_workers: int | None = None,
    ) -> None:
        self.spark = spark
        self.store = TableStore(spark, warehouse)
        # batch-size throttle (O2: LIMIT 50000, file_loader.py:255)
        self.max_files_per_run = max_files_per_run
        # G5 fan-out width: per-table jobs submit from this many threads
        # (None → min(8, n_tables)); 1 lands the tables one after
        # another — the baseline the concurrency bench compares against
        # — though each still lands its two destinations side by side
        self.submit_workers = submit_workers
        self.transforms = _default_transforms()

    # ------------------------------------------------------------------
    # work selection (G1 idempotency + O1/O2 queue fairness/throttle)
    # ------------------------------------------------------------------

    def _select_work(
        self, metas: list[FileMeta]
    ) -> tuple[list[FileMeta], int, set[tuple[str, str]]]:
        """Pick this run's files by each file's latest logged attempt.

        Reference state machine (file_loader.py:247-278): the dequeue
        selects only pending files; failure sets processed=-2, which is
        TERMINAL until an analyst requeue resets it — a permanently-bad
        file is not re-attempted every run. This engine keeps that
        semantics with one bounded relaxation: a failed file whose mtime
        is NEWER than the failing attempt (i.e. it was re-uploaded or
        fixed in place) re-enters the queue automatically — the retry is
        bounded by file modification, so malformed files fail exactly
        once per upload instead of forever. ``requeue_failed`` (M2) is
        the manual reopening mechanism, matching the reference's
        ``UPDATE … SET processed=0`` requeue SQL.

        Decision per (file_name, facility_id) — keyed exactly as
        file_loader.py:328-336 — based on the LATEST attempt
        (:func:`file_status`): no row → select (new); 'requeued' →
        select; 'loading' (a run died between its staging write and its
        audit append) → select; 'success' → skip; 'failed' → select
        only if mtime > that attempt's load_START_time (start, not end:
        a file re-uploaded while the failing attempt was mid-flight has
        mtime between start and end — comparing against end would
        terminally skip content the attempt never read). Queue fairness
        orders by the filename's 14-digit timestamp then name (O1,
        file_loader.py:254), capped per run (O2, LIMIT 50000).

        The rule runs here on the driver, over the ``metas`` it already
        holds: :func:`file_status` collects at most one small row per
        discovered file, the same order as the ``FileMeta`` list itself,
        and submits no job on a first run (no log yet).

        Returns (selected, n_skipped, retry_pairs) where retry_pairs is
        the subset of selected pairs whose latest status is 'failed',
        'requeued' or 'loading' — the re-landing write must purge their
        partial staging rows (a G3 quarantine run ingests the valid rows
        and still logs the file failed; blind re-append would duplicate
        them).
        """
        status = file_status(self.store, [(m.file_name, m.facility_id) for m in metas])

        def latest(m: FileMeta) -> tuple[str | None, float | None]:
            return status.get((m.file_name, m.facility_id), (None, None))

        def selectable(m: FileMeta) -> bool:
            state, start = latest(m)
            if state == "failed":
                # 2s slack: filesystem mtimes are often whole-second
                # truncated, so a file re-uploaded moments after the
                # failing attempt started could land just below the
                # attempt timestamp and be terminally skipped. An
                # occasional extra retry is idempotent (the re-landing
                # write purges), a terminal skip is data loss.
                return start is not None and m.mtime > start - 2.0
            return state in (None, "requeued", LOADING)

        def order_key(m: FileMeta) -> tuple[str, str, str]:
            ts = re.search(TS_RE, m.file_name)
            return (ts.group(1) if ts else "", m.file_name, m.facility_id)

        selected = sorted(filter(selectable, metas), key=order_key)
        selected = selected[: self.max_files_per_run]
        retry_pairs = {
            (m.file_name, m.facility_id)
            for m in selected
            if latest(m)[0] in RETRY_STATUSES
        }
        return selected, len(metas) - len(selected), retry_pairs

    def requeue_failed(self, like_pattern: str | None = None) -> int:
        """Bulk status rewrite (M2): ``UPDATE sync_file SET processed=0
        WHERE file_name ILIKE … AND processed != 0``
        (file_ingestion_summary_report.sql:63-67;
        stg_monitoring_summary.sql:21-23 ``SET processed='N' WHERE
        processed='F'``) as a read-rewrite-overwrite of the log: failed →
        'requeued'. This is the manual reopening mechanism for failed
        files: ``_select_work`` treats an UNCHANGED failed file as
        terminal (only a file modified after its failing attempt
        auto-retries), so permanently-bad files re-enter the queue only
        through this requeue. Returns the number of rows requeued."""
        if not self.store.exists(INGESTION_LOG):
            return 0
        log = self.store.read(INGESTION_LOG, INGESTION_LOG_DDL)
        hit = F.col("status") == "failed"
        if like_pattern:
            hit = hit & F.lower(F.col("file_name")).like(like_pattern.lower())
        n = log.filter(hit).count()
        if n:
            self.store.overwrite(
                INGESTION_LOG,
                log.withColumn(
                    "status", F.when(hit, F.lit("requeued")).otherwise(F.col("status"))
                ),
            )
        return n

    # ------------------------------------------------------------------
    # per-table ingest (S1 + G2 + F6/F7/F8 + G3 + P3 + K1)
    # ------------------------------------------------------------------

    def _ingest_table(
        self,
        table: str,
        group: list[FileMeta],
        now: datetime,
        retry_pairs: set[tuple[str, str]] = frozenset(),
    ) -> list[dict]:
        """Ingest every file destined for one staging table.

        Any failure inside the table body (read, transform, write) is
        contained: all of the table's files are audit-logged failed and
        the run continues with the other tables — the reference logs
        per-file failure and moves on (file_loader.py:426-439).
        """
        pairs = [(m.file_name, m.facility_id) for m in group]
        try:
            counts = land_files(
                self.store,
                table,
                read_table_files(self.spark, table, [m.path for m in group]),
                self.transforms,
                # retry hygiene: a re-attempted file's prior partial
                # rows are purged in the same staging write
                retry_pairs & set(pairs),
                self._purge_file_rows,
            )
        except Exception as e:  # G8 error classification, per-table isolation
            msg = f"{type(e).__name__}: {str(e)[:ERROR_MSG_CAP]}"
            counts = {k: FileCounts(error=msg) for k in pairs}
        return audit_rows(
            table, {k: counts.get(k, FileCounts()) for k in pairs}, now
        )

    def _purge_file_rows(self, store_table: str, pairs: set[Pair]) -> dict[str, int]:
        """The staging partitions holding a retried file's earlier rows
        (:func:`probe_file_pairs`); :func:`land_files` rewrites them."""
        return probe_file_pairs(self.store, store_table, pairs)

    # ------------------------------------------------------------------
    # run (§3.1 lifecycle)
    # ------------------------------------------------------------------

    def run(self, root: str, process_type: str = "file_ingestion") -> IngestReport:
        """Single-instance-locked run (G7: the reference's
        ``pgrep -f $SCRIPT`` skip-if-running,
        orchestrate_file_ingestion.sh:16-26 — here an O_EXCL lock file in
        the warehouse; streaming mode gets this for free from the
        checkpoint). Raises :class:`ConcurrentRunError` if locked."""
        lock_path = self.store.path(".run.lock")
        try:
            fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            raise ConcurrentRunError(
                f"ingestion already running (lock {lock_path}); remove the "
                "lock file if the prior run died"
            ) from None
        try:
            os.write(fd, str(os.getpid()).encode())
            os.close(fd)
            return self._run_locked(root, process_type)
        finally:
            try:
                os.remove(lock_path)
            except OSError:
                pass

    def _run_locked(self, root: str, process_type: str) -> IngestReport:
        start = datetime.now()
        run_id = f"IPID_{start:%Y%m%d_%H_%M_%S}"  # C6, file_ingestion_process.py:52
        report = IngestReport(run_id=run_id)

        metas = discover_files(root)
        report.files_seen = len(metas)
        selected, skipped, retry_pairs = self._select_work(metas)
        report.files_skipped = skipped
        # in-flight rows, removed once the audit rows land: a run that
        # dies after its staging write leaves its files 'loading', and
        # the next run re-lands them as retries instead of as new files
        in_flight = self.store.append_rows(
            INGESTION_LOG,
            [
                (m.file_name, m.facility_id, f"stg_{m.table_name}", m.batch_id,
                 LOADING, None, None, None, start, start)
                for m in selected
            ],
            INGESTION_LOG_DDL,
        )

        groups: dict[str, list[FileMeta]] = {}
        for m in selected:
            groups.setdefault(m.table_name, []).append(m)

        # Per-table jobs submit from a thread pool: tables are independent
        # (disjoint staging paths, audit rows merged after), and a serial
        # driver loop would leave the cluster idle between small tables —
        # the reference fans out the same way (G5, ThreadPoolExecutor over
        # facilities / 10-table batches). Threads only SUBMIT jobs; Spark's
        # scheduler does the actual parallelism. Results merge in sorted
        # table order, so audit output is deterministic.
        audit: list[dict] = []
        items = sorted(groups.items())
        workers = self.submit_workers
        if workers is None:
            workers = min(8, max(1, len(items)))
        if len(items) > 1 and workers > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(workers, len(items))) as pool:
                futs = [
                    pool.submit(
                        self._ingest_table, table, group, start, retry_pairs
                    )
                    for table, group in items
                ]
                for f in futs:
                    audit.extend(f.result())
        else:
            for table, group in items:
                audit.extend(
                    self._ingest_table(table, group, start, retry_pairs)
                )

        for row in audit:
            if row["status"] == "success":
                report.files_ingested += 1
            else:
                report.files_failed += 1
                # key includes the facility: same-named files from two
                # facilities must not overwrite each other's entries
                report.errors[f"{row['facility_id']}/{row['file_name']}"] = row[
                    "error_message"
                ]
            report.records_ingested += row["json_rec_count"]
            report.records_quarantined += row["bad_rec_count"]
            t = row["table_name"]
            report.tables[t] = report.tables.get(t, 0) + row["json_rec_count"]

        # driver-held rows: one file per table, no Spark job
        self.store.append_rows(INGESTION_LOG, audit, INGESTION_LOG_DDL)
        if in_flight:
            # gone when another writer rewrote the log meanwhile
            # (requeue_failed, the stream's purge); its 'loading' rows
            # then stay, shadowed by the later audit rows
            with suppress(FileNotFoundError):
                os.remove(in_flight)
        self.store.append_rows(
            STG_MONITORING,
            [
                (
                    r["facility_id"], r["batch_id"], r["file_name"], r["table_name"],
                    r["load_end_time"], r["json_rec_count"],
                    "Y" if r["status"] == "success" else "F",
                    r["error_message"],
                )
                for r in audit
            ],
            STG_MONITORING_DDL,
        )
        end = datetime.now()
        status = "Job Passed" if report.files_failed == 0 else "Job Failed"
        self.store.append_rows(
            PIPELINE_LOG,
            [(run_id, start, end, status, process_type, None, report.records_ingested)],
            PIPELINE_LOG_DDL,
        )
        return report

    # ------------------------------------------------------------------
    # K4 — INSERT…SELECT summary report (pcs_summary_report.py:25-34)
    # ------------------------------------------------------------------

    def write_summary_report(self) -> DataFrame:
        """Materialize the state-machine summary into
        ``process_summary_report`` (K4/A3): one row of per-status file
        counts + record totals, appended with a report timestamp —
        the reference's INSERT…SELECT of SUM(CASE WHEN processed=k…)
        buckets (pcs_summary_report.py:27-33).

        Buckets count FILES, not attempts: the log keeps one row per
        attempt (fail → requeue → success is three rows for one file),
        while the reference's sync_file holds one row per file — so the
        summary reduces to the LATEST row per (file, facility) first
        (:func:`latest_attempts`), or a retried file would inflate
        total_files and double-count its earlier attempts' record
        tallies."""
        log = latest_attempts(
            self.store.read_or_empty(INGESTION_LOG, INGESTION_LOG_DDL)
        )

        def bucket(status: str) -> Column:
            return F.count(F.when(F.col("status") == status, 1))

        summary = log.agg(
            F.count("*").alias("total_files"),
            bucket("success").alias("n_success"),
            bucket("failed").alias("n_failed"),
            bucket("requeued").alias("n_requeued"),
            F.coalesce(F.sum("json_rec_count"), F.lit(0)).alias("records_ingested"),
            F.coalesce(F.sum("bad_rec_count"), F.lit(0)).alias("records_quarantined"),
        ).withColumn("report_time", F.current_timestamp())
        self.store.append(PROCESS_SUMMARY, summary.coalesce(1))
        return self.store.read(PROCESS_SUMMARY)

    # ------------------------------------------------------------------
    # post-ingest side effect (file_loader.py:199-232)
    # ------------------------------------------------------------------

    def refresh_patient_counts(self, table: str = "stg_patient_person") -> DataFrame:
        """COUNT(DISTINCT uuid) per facility (A2, file_loader.py:211-216:
        ``WHERE archived=0``) → overwrite central_partner_mapping (M1
        update-by-key as read-modify-write)."""
        stg = self.store.read(table)
        counts = (
            stg.filter(F.col("archived") == 0)
            .groupBy("stg_datim_id")
            .agg(F.countDistinct("uuid").alias("patient_count"))
            .withColumnRenamed("stg_datim_id", "datim_id")
        )
        if self.store.exists(PARTNER_MAPPING):
            prior = self.store.read(PARTNER_MAPPING).select("datim_id", "ip_name")
            merged = prior.join(counts, "datim_id", "full").select(
                "datim_id",
                F.coalesce(F.col("patient_count"), F.lit(0)).alias("patient_count"),
                "ip_name",
            )
        else:
            merged = counts.withColumn("ip_name", F.lit(None).cast("string"))
        self.store.overwrite(PARTNER_MAPPING, merged)
        return self.store.read(PARTNER_MAPPING)

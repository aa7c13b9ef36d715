"""The benchmark's workloads. Each is a closed loop with one client: the
next operation starts when the previous one returns.

A workload supplies ``prepare`` (write its seeded inputs; not part of
set-up time), ``warmup`` (the slice of work that ends set-up), ``op``
(one timed operation), per-op and end-of-run output checks, and
``snapshot`` (end-of-run counts for the traced layer metrics). Checks
run outside the timed window; each returns a list of mismatch messages.
"""

from __future__ import annotations

import functools
import hashlib
import math
import os
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timedelta

import numpy as np

from . import gen

class Workload:
    name = ""
    #: timed operations per run at the default ``--seconds``
    ops = 0

    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        #: input bytes the timed operations handed to the program
        self.input_bytes = 0
        #: extra figures for the run's diagnostics line
        self.diag: dict = {}

    def prepare(self) -> None:
        pass

    def warmup(self) -> None:
        pass

    def op(self, i: int):
        raise NotImplementedError

    def check_op(self, i: int, out) -> list[str]:
        return []

    def after_op(self) -> None:
        pass

    def check_end(self) -> list[str]:
        return []

    def snapshot(self) -> dict[str, float]:
        return {}


def run_checks(checks: list) -> list:
    """Run independent checks (callables) side by side and return their
    results in order: each is a few small Spark jobs bound by scheduling
    latency, not by the cores."""
    with ThreadPoolExecutor(max_workers=4) as pool:
        futs = [pool.submit(c) for c in checks]
        return [f.result() for f in futs]


def parquet_files(path: str) -> int:
    n = 0
    for _dirpath, _dirs, names in os.walk(path):
        n += sum(1 for f in names if f.endswith(".parquet"))
    return n


def backdate(path: str, seconds: float = 10.0) -> None:
    """Move a file's mtime into the past, so a failed first attempt
    started after it never looks like a re-upload."""
    t = os.path.getmtime(path) - seconds
    os.utime(path, (t, t))


# ----------------------------------------------------------------------
# ingest_cron
# ----------------------------------------------------------------------

ERROR_TEXT = {
    "malformed": "malformed JSON",
    "empty": "JSON file is empty",
    "quarantine": "failed date validation",
}


class IngestCron(Workload):
    """A warehouse with a long history of ticks; each timed tick lands
    ~50 new files across facilities plus re-uploads of files that failed
    earlier (their first attempt's rows are purged, then re-appended)."""

    name = "ingest_cron"
    #: files of earlier ticks: listed by every discovery, logged success
    HISTORY_FILES = 400
    #: earlier ticks, one audit-log file each
    HISTORY_TICKS = 30
    #: files the warm-up run loads (the first, cold engine run)
    RECENT_FILES = 12
    NEW_PER_TICK = 50
    REUPLOADS_PER_TICK = 2

    def prepare(self) -> None:
        self.uploads = os.path.join(self.work, "uploads")
        self.plan = gen.UploadPlan(self.uploads, self.seed)
        self.clock = datetime(2025, 1, 1)
        old = self.plan.add_files(self.HISTORY_FILES, self.clock, kinds=False)
        for t in old:
            backdate(os.path.join(self.uploads, t.facility, t.file_name), 3600)
        # earlier epochs' files are logged, not loaded: their staging
        # rows are out of scope for the read-back checks
        self.history = {(t.facility, t.file_name) for t in old}
        self.loaded: set[tuple[str, str]] = set()

    def _engine(self):
        from data_ingestion_from_multiple_directories_linux_spark.ingest.engine import (
            IngestionEngine,
        )

        return IngestionEngine(self.spark, os.path.join(self.work, "wh"))

    def _new_files(self, n: int, force_bad: int = 0) -> list:
        self.clock += timedelta(minutes=5)
        files = self.plan.add_files(n, self.clock, force_bad=force_bad)
        for t in files:
            backdate(os.path.join(self.uploads, t.facility, t.file_name))
        return files

    def warmup(self) -> None:
        from data_ingestion_from_multiple_directories_linux_spark.ingest import engine as E

        self.engine = self._engine()
        rows = []
        for k, key in enumerate(sorted(self.history)):
            t = self.plan.truth[key]
            ts = self.clock - timedelta(minutes=5 * (self.HISTORY_TICKS - k % self.HISTORY_TICKS))
            rows.append((t.file_name, t.facility, f"stg_{t.table}", "", "success",
                         t.valid, 0, None, ts, ts, k % self.HISTORY_TICKS))
        df = self.spark.createDataFrame(rows, E.INGESTION_LOG_DDL + ", _tick int")
        self.engine.store.append(
            E.INGESTION_LOG, df.repartition(self.HISTORY_TICKS, "_tick").drop("_tick")
        )
        self.pool = []  # quarantined files waiting for a corrected re-upload
        files = self._new_files(self.RECENT_FILES, force_bad=2 * self.REUPLOADS_PER_TICK)
        rep = self.engine.run(self.uploads)
        self.warm_errors = self._check_report(rep, files)
        self._settle(files)

    def _settle(self, files: list) -> None:
        for t in files:
            self.loaded.add((t.facility, t.file_name))
            if t.reason == "quarantine":
                self.pool.append(t)

    def op(self, i: int):
        files = self._new_files(self.NEW_PER_TICK)
        redo = [self.plan.reupload_fixed(t) for t in self.pool[: self.REUPLOADS_PER_TICK]]
        del self.pool[: self.REUPLOADS_PER_TICK]
        self.input_bytes += self.plan.json_bytes(files + redo)
        with self.tracer.span("engine.run") as s:
            rep = self.engine.run(self.uploads)
            if s is not None:
                s.attrs.update(rows_valid=rep.records_ingested,
                               rows_quarantined=rep.records_quarantined)
        return rep, files + redo

    def check_op(self, i: int, out) -> list[str]:
        rep, files = out
        errs = self._check_report(rep, files)
        self._settle(files)
        return errs

    def _check_report(self, rep, files: list) -> list[str]:
        want_ok = sum(t.status == "success" for t in files)
        got = (rep.files_ingested, rep.files_failed, rep.records_ingested, rep.records_quarantined)
        want = (want_ok, len(files) - want_ok, sum(t.valid for t in files), sum(t.bad for t in files))
        errs = [] if got == want else [f"report {got} != planted {want}"]
        for t in files:
            msg = rep.errors.get(f"{t.facility}/{t.file_name}")
            if t.status == "success" and msg is not None:
                errs.append(f"{t.file_name}: unexpected error {msg!r}")
            if t.status == "failed" and (msg is None or ERROR_TEXT[t.reason] not in msg):
                errs.append(f"{t.file_name}: error {msg!r}, planted {t.reason}")
        return errs

    def check_end(self) -> list[str]:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from data_ingestion_from_multiple_directories_linux_spark.ingest import engine as E

        store = self.engine.store
        truth = [self.plan.truth[k] for k in sorted(self.loaded)]

        def rows(name: str, want: int) -> list[str]:
            got = store.read(name).count() if store.exists(name) else 0
            return [] if got == want else [f"{name}: {got} rows, planted {want}"]

        def audit() -> list[str]:
            latest = (
                store.read(E.INGESTION_LOG)
                .withColumn("_rn", F.row_number().over(
                    Window.partitionBy("file_name", "facility_id").orderBy(F.desc("load_end_time"))))
                .filter("_rn = 1")
                .groupBy("status").agg(F.count("*").alias("n"), F.sum("json_rec_count").alias("rows"),
                                       F.sum("bad_rec_count").alias("bad"))
            )
            got = {r["status"]: (r["n"], r["rows"], r["bad"]) for r in latest.collect()}
            want: dict[str, tuple[int, int, int]] = {}
            for t in truth + [self.plan.truth[k] for k in self.history]:
                n, valid, bad = want.get(t.status, (0, 0, 0))
                want[t.status] = (n + 1, valid + t.valid, bad + t.bad)
            return [] if got == want else [f"audit log by status {got} != planted {want}"]

        def pii(name: str, col) -> list[str]:
            leaked = store.read(name).filter(col.contains(gen.PII_MARK)).count()
            return [f"{name}: {leaked} rows keep planted PII"] if leaked else []

        checks = [audit]
        for table in gen.INGEST_TABLES:
            for suffix, attr in (("", "valid"), ("_bad_dates", "bad")):
                want = sum(getattr(t, attr) for t in truth if t.table == table)
                checks.append(functools.partial(rows, f"stg_{table}{suffix}", want))
        masked = ("surname", "first_name", "other_name", "full_name", "hospital_number", "nin_number")
        checks.append(functools.partial(pii, "stg_patient_person",
                                        F.concat_ws("|", *[F.col(c) for c in masked])))
        checks.append(functools.partial(pii, "stg_hts_client", F.col("extra.value")))
        return list(self.warm_errors) + [e for errs in run_checks(checks) for e in errs]

    def snapshot(self) -> dict[str, float]:
        return {"table_store.live_files": parquet_files(os.path.join(self.work, "wh"))}


# ----------------------------------------------------------------------
# query_mix
# ----------------------------------------------------------------------

#: the recorded, ordered list: short analytic queries first, then LLM
#: operators (the IVF/PQ family in registration order, so the session
#: memo reuse is exercised)
QUERY_LIST = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "q14_promo_effect",
    "q18_large_volume_customers",
    "count_distinct_users",
    "top_k_orders",
    "rollup_status_priority",
    "tumbling_window_counts",
    "session_window_stats",
    "event_gaps_lag",
    "moving_avg_user_value",
    "time_weighted_avg_value",
    "scd2_user_state_intervals",
    "cohort_retention",
    "exact_dedup_documents",
    "cosine_topk",
    "media_dimensions",
)


def _norm(v):
    import decimal

    import pandas as pd

    if v is None or v is pd.NaT:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float, decimal.Decimal, np.integer, np.floating)):
        return float(v)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, np.ndarray):
        return tuple(_norm(x) for x in v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def frame_digest(pdf) -> tuple[int, str]:
    """(rows, order-insensitive digest) of a pandas frame: columns sorted
    by name, values normalized (numbers as float, NaN as NULL), rows
    sorted by their repr."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = sorted(repr(tuple(_norm(v) for v in r)) for r in pdf.itertuples(index=False, name=None))
    h = hashlib.sha256("\n".join([",".join(pdf.columns)] + rows).encode())
    return len(rows), h.hexdigest()


class QueryMix(Workload):
    """The recorded query list, cycled: each op builds one registered
    query's plan and materializes its full result to the driver."""

    name = "query_mix"
    ops = len(QUERY_LIST)

    def prepare(self) -> None:
        import duckdb

        self.data = os.path.join(self.work, "data")
        gen.write_query_tables(self.data, self.seed)
        import __spark_entry__ as entry

        self.queries = entry.queries()
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(self.data)):
                name = f.removesuffix(".parquet")
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{os.path.join(self.data, f)}')")
            self.expect = {q: frame_digest(con.execute(oracles[q]).df()) for q in QUERY_LIST}
        finally:
            con.close()

    def warmup(self) -> None:
        # a session's first query pays up to 10x its warm cost; one query
        # outside the list absorbs that, each listed query still runs cold
        self.spark.range(1000).selectExpr("sum(id)").collect()
        self.queries["anti_join_no_orders"](self.spark, self.data).toPandas()
        self.after_op()

    def op(self, i: int):
        name = QUERY_LIST[i % len(QUERY_LIST)]
        with self.tracer.span("query.build", query=name):
            df = self.queries[name](self.spark, self.data)
        with self.tracer.span("query.exec", query=name):
            pdf = df.toPandas()
        return name, pdf

    def check_op(self, i: int, out) -> list[str]:
        name, pdf = out
        got = frame_digest(pdf)
        if got != self.expect[name]:
            return [f"{name}: {got[0]} rows, oracle {self.expect[name][0]} (digest differs)"]
        return []

    def after_op(self) -> None:
        # queries must not degrade each other through leftover caches
        self.spark.catalog.clearCache()


# ----------------------------------------------------------------------
# stream_tick
# ----------------------------------------------------------------------


class StreamTick(Workload):
    """Each tick drops one document shard, then runs the availableNow
    trigger of two segment maintainers over the document stream (the
    BM25 index and the count-min sketch); settled segments are compacted
    every ``COMPACT_EVERY`` ticks. Each merge rewrites its whole partials
    table, so tick cost grows with the segment count until compaction
    folds it."""

    name = "stream_tick"
    DOCS_PER_SHARD = 200
    COMPACT_EVERY = 2

    def prepare(self) -> None:
        self.docs_src = os.path.join(self.work, "docs")
        os.makedirs(self.docs_src, exist_ok=True)
        self.rng = np.random.default_rng([self.seed, 3])
        self.docs: list[tuple] = []
        self.shard = 0

    def _drop(self) -> None:
        p = os.path.join(self.docs_src, f"docs-{self.shard:04d}.json")
        self.shard += 1
        self.docs += gen.write_doc_shard(p, self.rng, len(self.docs), self.DOCS_PER_SHARD)
        self.input_bytes += os.path.getsize(p)

    def warmup(self) -> None:
        from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import TableStore
        from data_ingestion_from_multiple_directories_linux_spark.streaming.bm25_stream import (
            StreamingBM25Index,
        )
        from data_ingestion_from_multiple_directories_linux_spark.streaming.sketch_stream import (
            StreamingCountMin,
        )

        ck = os.path.join(self.work, "ck")
        self.store = TableStore(self.spark, os.path.join(self.work, "wh"))
        self.maintainers = (
            ("stream.bm25", StreamingBM25Index(self.spark, self.store, self.docs_src,
                                               os.path.join(ck, "bm25"))),
            ("stream.countmin", StreamingCountMin(
                self.spark, self.store, self.docs_src, os.path.join(ck, "cm"),
                "doc_id bigint, source string, text string", "source")),
        )
        self.ticks = 0
        self._tick()
        self.input_bytes = 0

    def _tick(self) -> None:
        self._drop()
        for label, m in self.maintainers:
            with self.tracer.span(label):
                m.run_available_now()
        self.ticks += 1
        if self.ticks % self.COMPACT_EVERY == 0:
            with self.tracer.span("stream.compact"):
                for _label, m in self.maintainers:
                    m.compact()

    def op(self, i: int):
        self._tick()

    def check_end(self) -> list[str]:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from data_ingestion_from_multiple_directories_linux_spark.operators.retrieval import (
            bm25_topk,
        )
        from data_ingestion_from_multiple_directories_linux_spark.streaming.sketch_stream import (
            cm_cell_partials,
        )

        errs = []
        one = os.path.join(self.work, "oneshot")
        os.makedirs(one, exist_ok=True)
        pq.write_table(pa.table({
            "doc_id": pa.array([d for d, _s, _t in self.docs], pa.int64()),
            "text": [t for _d, _s, t in self.docs],
            "lang": ["en"] * len(self.docs),
            "source": [s for _d, s, _t in self.docs],
            "n_chars": pa.array([len(t) for _d, _s, t in self.docs], pa.int64()),
        }), os.path.join(one, "documents.parquet"))
        bm25, cm = self.maintainers[0][1], self.maintainers[1][1]
        docs = self.spark.createDataFrame(self.docs, "doc_id long, source string, text string")

        def ranking(df):
            return sorted(tuple(r) for r in df.collect())

        def cells(df):
            return {(r["j"], r["bucket"]): r["cell_n"] for r in df.collect()}

        streamed, oneshot, cm_streamed, cm_oneshot = run_checks([
            lambda: ranking(bm25.topk()),
            lambda: ranking(bm25_topk(self.spark, one)),
            lambda: cells(cm.cells()),
            lambda: cells(cm_cell_partials(docs, "source")),
        ])
        if streamed != oneshot:
            errs.append("streamed BM25 top-k != one-shot batch ranking")
        if cm_streamed != cm_oneshot:
            errs.append("streamed count-min cells != one-shot sketch")
        return errs

    def snapshot(self) -> dict[str, float]:
        wh = os.path.join(self.work, "wh")
        partials = [d for d in os.listdir(wh) if "partials" in d or "segments" in d]
        return {
            "table_store.live_files": parquet_files(wh),
            "stream.partial_files": sum(parquet_files(os.path.join(wh, d)) for d in partials),
        }


# ----------------------------------------------------------------------
# ingest_tick
# ----------------------------------------------------------------------


class IngestTick(Workload):
    """One scheduled tick of the ingestion side: the cron engine tick of
    :class:`IngestCron`, then the segment maintainers' tick of
    :class:`StreamTick`, each on its own warehouse."""

    name = "ingest_tick"
    ops = 2

    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        self.cron = IngestCron(spark, os.path.join(work, "cron"), seed, tracer)
        self.stream = StreamTick(spark, os.path.join(work, "stream"), seed, tracer)
        self.parts = (self.cron, self.stream)
        super().__init__(spark, work, seed, tracer)

    @property
    def input_bytes(self) -> int:
        return sum(p.input_bytes for p in self.parts)

    @input_bytes.setter
    def input_bytes(self, _value: int) -> None:
        pass

    def prepare(self) -> None:
        for p in self.parts:
            p.prepare()

    def warmup(self) -> None:
        for p in self.parts:
            p.warmup()

    def op(self, i: int):
        out = []
        for p in self.parts:
            t = time.perf_counter()
            out.append(p.op(i))
            self.diag.setdefault(f"{p.name}_s", []).append(round(time.perf_counter() - t, 4))
        return tuple(out)

    def check_op(self, i: int, out) -> list[str]:
        return [e for p, o in zip(self.parts, out) for e in p.check_op(i, o)]

    def check_end(self) -> list[str]:
        return [e for errs in run_checks([p.check_end for p in self.parts]) for e in errs]

    def snapshot(self) -> dict[str, float]:
        a, b = self.cron.snapshot(), self.stream.snapshot()
        return {
            "table_store.live_files": a["table_store.live_files"] + b["table_store.live_files"],
            "stream.partial_files": b["stream.partial_files"],
        }


WORKLOADS = {w.name: w for w in (IngestTick, QueryMix)}

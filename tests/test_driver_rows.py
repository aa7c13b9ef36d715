"""Driver-held rows (audit rows) land with no Spark job,
read back the same as rows written through a Spark append, and the
engine's own state tables are read with their declared schemas, so no
footer-inference job runs either."""

from __future__ import annotations

import uuid
from datetime import datetime, timedelta, timezone

from data_ingestion_from_multiple_directories_linux_spark.ingest.engine import (
    INGESTION_LOG,
    INGESTION_LOG_DDL,
    PIPELINE_LOG_DDL,
    STG_MONITORING_DDL,
    IngestionEngine,
)
from data_ingestion_from_multiple_directories_linux_spark.operators.maintenance import (
    compact_table,
)
from data_ingestion_from_multiple_directories_linux_spark.sources.json_dir import (
    discover_files,
)
from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
    TableStore,
)
from data_ingestion_from_multiple_directories_linux_spark.streaming.segments import (
    SegmentTable,
)
from tests.conftest import local_df, log_offsets
from tests.test_ingest_engine import patient, write_json

SEG_DDL = "checkpoint string, batch_id bigint, k string, n bigint"

#: per type, the values of the first two sample rows (the third is all
#: NULL): max bigint, non-ASCII text, naive and tz-aware datetimes
VALUES = {
    "string": ("ошибка: 日付 «é»", "x"),
    "bigint": (2**63 - 1, -1),
    "timestamp": (
        datetime(2025, 3, 1, 12, 30, 15, 123456),
        datetime(2025, 3, 1, 12, 30, tzinfo=timezone(timedelta(hours=5, minutes=30))),
    ),
}
DDLS = {
    "ingestion_log": INGESTION_LOG_DDL,
    "stg_monitoring": STG_MONITORING_DDL,
    "pipeline_log": PIPELINE_LOG_DDL,
}


def _jobs(spark, fn) -> int:
    """The number of Spark jobs ``fn()`` submits, counted by job group."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _sample(ddl: str) -> list[tuple]:
    types = [c.split()[1] for c in ddl.split(", ")]
    return [tuple(VALUES[t][i] for t in types) for i in (0, 1)] + [(None,) * len(types)]


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_driver_rows_and_state_reads_submit_no_job(spark, tmp_path, monkeypatch):
    store = TableStore(spark, str(tmp_path / "wh"))
    rows = _sample(INGESTION_LOG_DDL)
    for _ in range(2):  # a new table, then an existing one
        assert _jobs(spark, lambda: store.append_rows("log", rows, INGESTION_LOG_DDL)) == 0
    assert _jobs(spark, lambda: store.read_or_empty("log", INGESTION_LOG_DDL)) == 0

    seg = SegmentTable(store, "seg", str(tmp_path / "ck"), keys=("k",), sums=("n",),
                       ddl=SEG_DDL)
    for b in range(3):
        log_offsets(str(tmp_path / "ck"), b)
        seg.replace(b, local_df(spark, [("a", b + 1)], "k string, n bigint"))
    # every read the segment law makes, inside its real callers
    read_jobs = []
    read = store.read

    def counted(*args, **kw):
        out = []
        read_jobs.append(_jobs(spark, lambda: out.append(read(*args, **kw))))
        return out[0]

    monkeypatch.setattr(store, "read", counted)
    seg.without(2)
    seg.compact()
    seg.replace(2, local_df(spark, [("a", 10)], "k string, n bigint"))
    assert sorted(tuple(r) for r in seg.merged().collect()) == [("a", 13)]
    # without, compact, replace's without, merged's read_or_empty
    assert read_jobs == [0, 0, 0, 0]


def test_rerun_over_ingested_tree_submits_only_work_selection_jobs(spark, tmp_path):
    uploads = str(tmp_path / "uploads")
    for i in range(2):
        write_json(uploads, f"FAC00{i}", f"patient_person_{i}_2025010314194{i}.json",
                   [patient(i)])
    engine = IngestionEngine(spark, str(tmp_path / "wh"))
    assert engine.run(uploads).files_ingested == 2
    metas = discover_files(uploads)
    select = _jobs(spark, lambda: engine._select_work(metas))
    # the status read: the log window's shuffle and the collect
    assert 0 < select <= 2
    rerun = []
    assert _jobs(spark, lambda: rerun.append(engine.run(uploads))) == select
    assert (rerun[0].files_skipped, rerun[0].files_ingested) == (2, 0)


def test_append_rows_reads_back_like_a_spark_append(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh"))
    for name, ddl in DDLS.items():
        rows = _sample(ddl)
        store.append_rows(f"{name}_driver", rows, ddl)
        store.append(f"{name}_spark", local_df(spark, rows, ddl))
        for schema in (None, ddl):
            got = store.read(f"{name}_driver", schema)
            want = store.read(f"{name}_spark", schema)
            assert got.schema == want.schema, (name, schema)
            assert _rows(got) == _rows(want), (name, schema)
            assert len(_rows(got)) == 3

    # one table holding files of both writers: compaction and the
    # summary report read it whole
    engine = IngestionEngine(spark, str(tmp_path / "mixed"))
    rows = _sample(INGESTION_LOG_DDL)
    engine.store.append_rows(INGESTION_LOG, rows, INGESTION_LOG_DDL)
    engine.store.append(INGESTION_LOG, local_df(spark, rows, INGESTION_LOG_DDL))
    before = _rows(engine.store.read(INGESTION_LOG))
    assert compact_table(engine.store, INGESTION_LOG, min_files=2).files_after == 1
    for schema in (None, INGESTION_LOG_DDL):
        assert _rows(engine.store.read(INGESTION_LOG, schema)) == before
    summary = engine.write_summary_report().first()
    assert summary["total_files"] == 3
    assert summary["records_ingested"] == summary["records_quarantined"] == 2**63 - 2

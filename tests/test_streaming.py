"""Streaming-mode e2e tests (SURVEY M4): availableNow trigger, checkpoint
exactly-once, foreachBatch audit writes, quarantine parity with the batch
engine, and a watermarked windowed aggregation over a JSON stream."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_ingestion_from_multiple_directories_linux_spark.ingest.engine import (
    INGESTION_LOG,
    INGESTION_LOG_DDL,
    IngestionEngine,
    latest_attempts,
)
from data_ingestion_from_multiple_directories_linux_spark.streaming import StreamingIngestion
from tests.conftest import CHILD_SYS_PATH, n_jobs
from tests.test_ingest_engine import patient, write_json


@pytest.fixture()
def uploads(tmp_path) -> str:
    d = tmp_path / "uploads"
    d.mkdir()
    return str(d)


def _stream(spark, tmp_path, uploads) -> StreamingIngestion:
    return StreamingIngestion(
        spark, str(tmp_path / "wh"), uploads, "patient_person"
    )


def test_available_now_ingests_and_audits(spark, tmp_path, uploads):
    write_json(uploads, "FAC001", "patient_person_0_20250103141949.json",
               [patient(i) for i in range(4)])
    write_json(uploads, "FAC002", "patient_person_1_20250103142050.json",
               [patient(9)])
    s = _stream(spark, tmp_path, uploads)
    s.run_available_now()
    stg = s.store.read("stg_patient_person")
    assert stg.count() == 5
    row = stg.filter(F.col("stg_datim_id") == "FAC002").collect()[0]
    assert row["stg_file_name"] == "patient_person_1_20250103142050.json"
    assert row["stg_batch_id"] == "1"
    assert row["surname"] == "******"  # masking dispatch applies in-stream
    log = s.store.read(INGESTION_LOG)
    assert log.count() == 2
    assert {r["status"] for r in log.collect()} == {"success"}
    assert {r["json_rec_count"] for r in log.collect()} == {4, 1}


def test_checkpoint_exactly_once_across_runs(spark, tmp_path, uploads):
    """The checkpoint is the sync_file state machine: rerun = no-op,
    new files ingest incrementally, consumed files never replay."""
    write_json(uploads, "FAC001", "patient_person_0_20250103141949.json",
               [patient(i) for i in range(3)])
    s = _stream(spark, tmp_path, uploads)
    s.run_available_now()
    s.run_available_now()  # no new files → no new rows
    assert s.store.read("stg_patient_person").count() == 3

    write_json(uploads, "FAC001", "patient_person_1_20250103142050.json",
               [patient(10)])
    s2 = _stream(spark, tmp_path, uploads)  # fresh instance, same checkpoint
    s2.run_available_now()
    stg = s2.store.read("stg_patient_person")
    assert stg.count() == 4  # only the new file was read
    assert s2.store.read(INGESTION_LOG).count() == 2


_RESUME_SCRIPT = CHILD_SYS_PATH + r"""
import sys
from pyspark.sql import SparkSession

wh, uploads, table = sys.argv[1], sys.argv[2], sys.argv[3]
spark = (
    SparkSession.builder.master("local[4]")
    .appName("stream-resume-tick")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
from data_ingestion_from_multiple_directories_linux_spark.streaming import (
    StreamingIngestion,
)

# One cron tick in a brand-new process: resume the on-disk checkpoint,
# ingest whatever is new, exit.
StreamingIngestion(spark, wh, uploads, table).run_available_now()
spark.stop()
"""


def test_streaming_checkpoint_survives_process_death(spark, tmp_path, uploads):
    """The reference's production cadence is cron — EVERY tick is a new
    python process (file_ingestion_process.py) — so the checkpoint's
    exactly-once contract must hold across process death, not just
    across instances in one JVM: tick 1 runs here, tick 2 runs in a
    SEPARATE process with a brand-new SparkSession against the same
    on-disk checkpoint, and a third tick back in this session must see
    the child's progress (no replay of either tick's files)."""
    import subprocess
    import sys

    write_json(uploads, "FAC001", "patient_person_0_20250103141949.json",
               [patient(i) for i in range(3)])
    s = _stream(spark, tmp_path, uploads)
    s.run_available_now()
    assert s.store.read("stg_patient_person").count() == 3

    write_json(uploads, "FAC001", "patient_person_1_20250103142050.json",
               [patient(10)])
    script = tmp_path / "tick.py"
    script.write_text(_RESUME_SCRIPT)
    proc = subprocess.run(
        [sys.executable, str(script), str(tmp_path / "wh"), uploads,
         "patient_person"],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, f"tick process failed:\n{proc.stderr[-4000:]}"

    # back in the original session: the child's consumption is visible,
    # and a further tick replays nothing
    s3 = _stream(spark, tmp_path, uploads)
    s3.run_available_now()
    stg = s3.store.read("stg_patient_person")
    assert stg.count() == 4
    assert stg.select("id").distinct().count() == 4
    assert s3.store.read(INGESTION_LOG).count() == 2


def test_streaming_quarantine_split(spark, tmp_path, uploads):
    write_json(uploads, "FAC001", "patient_person_0_20250103141949.json",
               [patient(0), patient(1, dob="bad-date"), patient(2)])
    s = _stream(spark, tmp_path, uploads)
    s.run_available_now()
    assert s.store.read("stg_patient_person").count() == 2
    bad = s.store.read("stg_patient_person_bad_dates")
    assert bad.count() == 1
    assert dict(bad.dtypes)["date_of_birth"] == "string"  # raw for review
    log = s.store.read(INGESTION_LOG).collect()[0]
    assert log["status"] == "failed"
    assert log["bad_rec_count"] == 1


def test_unregistered_table_rejected(spark, tmp_path, uploads):
    with pytest.raises(ValueError, match="registered schema"):
        StreamingIngestion(spark, str(tmp_path / "wh"), uploads, "mystery")


def test_watermarked_window_stream(spark, tmp_path):
    """Watermark + tumbling window over a JSON event stream with
    availableNow — the streaming twin of tumbling_window_counts."""
    import json as _json
    import os

    src = tmp_path / "events"
    src.mkdir()
    rows = [
        {"event_id": i, "ts": f"2024-01-01 {h:02d}:15:00", "event_type": t}
        for i, (h, t) in enumerate(
            [(0, "click"), (0, "view"), (1, "click"), (2, "view"), (2, "view")]
        )
    ]
    with open(os.path.join(str(src), "part1.json"), "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")

    stream = (
        spark.readStream.format("json")
        .schema("event_id long, ts timestamp, event_type string")
        .load(str(src))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    out = tmp_path / "win_out"
    q = (
        stream.select(
            F.col("window.start").alias("ws"), "event_type", "n"
        )
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (str(r["ws"]), r["event_type"]): r["n"]
        for r in spark.read.parquet(str(out)).collect()
    }
    # append mode emits only windows CLOSED by the watermark: max event
    # time is 02:15, watermark = 01:15, so only the 00:00-01:00 window
    # (end <= watermark) is final; later windows stay in state awaiting
    # more data — the late-data guarantee working as designed
    assert got == {
        ("2024-01-01 00:00:00", "click"): 1,
        ("2024-01-01 00:00:00", "view"): 1,
    }


def test_stateful_running_totals_across_batches(spark, tmp_path):
    """applyInPandasWithState: per-user running totals must accumulate
    across micro-batches (maxFilesPerTrigger=1 forces two batches), and
    the final update per user must equal the plain batch aggregate."""
    import json as _json
    import os

    from data_ingestion_from_multiple_directories_linux_spark.streaming.stateful import (
        running_user_totals,
    )

    src = tmp_path / "ev"
    src.mkdir()
    batches = [
        [(1, 10.0), (1, 5.0), (2, 1.0)],
        [(1, 2.5), (2, 4.0), (3, 7.0)],
    ]
    for b, rows in enumerate(batches):
        with open(os.path.join(str(src), f"b{b}.json"), "w") as f:
            for i, (uid, val) in enumerate(rows):
                f.write(_json.dumps({"event_id": b * 100 + i,
                                     "user_id": uid, "value": val}) + "\n")

    stream = (
        spark.readStream.format("json")
        .schema("event_id bigint, user_id bigint, value double")
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
    )
    out = tmp_path / "totals_out"

    def sink(batch_df, _bid):
        batch_df.write.mode("append").parquet(str(out))

    q = (
        running_user_totals(stream)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    updates = spark.read.parquet(str(out)).toPandas()
    # the LAST update per user is the cumulative total
    final = (
        updates.sort_values("n_events").groupby("user_id").last().reset_index()
    )
    expect = {1: (3, 17.5), 2: (2, 5.0), 3: (1, 7.0)}
    assert len(final) == 3
    for _, r in final.iterrows():
        n, tot = expect[int(r.user_id)]
        assert int(r.n_events) == n, r
        assert abs(float(r.total_value) - tot) < 1e-9, r
    # state really carried across batches: user 1 gets one intermediate
    # update (n=1 or 2 depending on which file forms batch 0) and a
    # final cumulative one (n=3)
    u1 = sorted(updates[updates.user_id == 1].n_events)
    assert len(u1) == 2 and u1[0] in (1, 2) and u1[1] == 3


def _latest(store) -> list:
    """(file, facility, status) of each file's latest logged attempt."""
    return sorted(
        (r["file_name"], r["facility_id"], r["status"])
        for r in latest_attempts(store.read(INGESTION_LOG)).collect()
    )


def test_foreachbatch_replay_is_idempotent(spark, tmp_path, uploads):
    """foreachBatch is at-least-once; the sink is exact under replay on
    its own: landing a batch purges its files' staging and quarantine
    rows first, so a replay (of a landed or of a crashed-mid-append
    batch) replaces them instead of adding. The ingestion log is
    append-only: each replay adds one attempt row per file, and that
    row is the file's latest attempt."""
    fn = "patient_person_0_20250103141949.json"
    write_json(uploads, "FAC001", fn, [patient(i) for i in range(3)])
    s = _stream(spark, tmp_path, uploads)
    s.run_available_now()
    assert s.store.read("stg_patient_person").count() == 3
    assert s.store.read(INGESTION_LOG).count() == 1

    # replay the same batch content with its batch_id → replaced
    batch = (
        spark.read.format("json").schema(s.schema)
        .option("multiLine", "true").load(uploads + "/*/*.json")
        .withColumn("_src_file", F.lit("patient_person_0_20250103141949.json"))
        .withColumn("_src_facility", F.lit("FAC001"))
    )
    s._process_batch(batch, 0)
    assert s.store.read("stg_patient_person").count() == 3
    assert _latest(s.store) == [(fn, "FAC001", "success")]
    assert s.store.read(INGESTION_LOG).count() == 2

    # crash-replay: partial rows present → purged, redone
    s._process_batch(batch, 0)
    assert s.store.read("stg_patient_person").count() == 3  # not 6
    assert _latest(s.store) == [(fn, "FAC001", "success")]
    assert s.store.read(INGESTION_LOG).count() == 3


def test_late_events_dropped_within_watermark_retained(spark, tmp_path):
    """Late-data semantics, one file per micro-batch (mtime-ordered):
    an event arriving AFTER its window was evicted is dropped (no
    duplicate emission, count unchanged), while a late-but-still-open
    window event merges into state and is counted on eviction."""
    import json as _json
    import os

    src = tmp_path / "late_events"
    src.mkdir()

    def put(name, rows, mt):
        p = os.path.join(str(src), name)
        with open(p, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        os.utime(p, (mt, mt))

    # b0: 00:30 + 02:45 → commit watermark 01:45
    put("a.json", [
        {"event_id": 1, "ts": "2024-01-01 00:30:00"},
        {"event_id": 2, "ts": "2024-01-01 02:45:00"},
    ], 1_000_000)
    # b1 (start wm 01:45): EVICTS window 00:00 with n=1 → commit wm 02:00
    put("b.json", [{"event_id": 3, "ts": "2024-01-01 03:00:00"}], 2_000_000)
    # b2 (start wm 02:00): 00:20 targets the ALREADY-EVICTED 00:00 window
    # → must be dropped (else a duplicate 00:00 row would emit later);
    # 02:30 is late but window 02:00 is still open (end 03:00 > wm) →
    # retained; 04:30 advances wm
    put("c.json", [
        {"event_id": 4, "ts": "2024-01-01 00:20:00"},
        {"event_id": 5, "ts": "2024-01-01 02:30:00"},
        {"event_id": 6, "ts": "2024-01-01 04:30:00"},
    ], 3_000_000)
    # b3: drives eviction of window 02:00
    put("d.json", [{"event_id": 7, "ts": "2024-01-01 06:00:00"}], 4_000_000)

    stream = (
        spark.readStream.format("json")
        .schema("event_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
    )
    out = tmp_path / "late_out"
    q = (
        stream.select(F.col("window.start").alias("ws"), "n")
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "late_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.read.parquet(str(out)).collect()
    by_ws = {}
    for r in rows:
        by_ws.setdefault(str(r["ws"]), []).append(r["n"])
    # dropped: window 00:00 emitted exactly once, count excludes the
    # post-eviction late event (would be a second row or n=2 otherwise)
    assert by_ws["2024-01-01 00:00:00"] == [1]
    # retained: the late-but-open 02:30 merged with 02:45 before eviction
    assert by_ws["2024-01-01 02:00:00"] == [2]


def test_streaming_exact_dedup_within_watermark(spark, tmp_path):
    """Streaming twin of exact dedup (L1): dropDuplicatesWithinWatermark
    drops a re-arriving doc_id across micro-batches while state for
    watermark-expired keys is evicted (bounded state — the 100 TB
    requirement plain dropDuplicates lacks)."""
    import json as _json
    import os

    src = tmp_path / "dedup_events"
    src.mkdir()

    def put(name, rows, mt):
        p = os.path.join(str(src), name)
        with open(p, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        os.utime(p, (mt, mt))

    put("a.json", [
        {"doc_id": 1, "ts": "2024-01-01 00:00:00"},
        {"doc_id": 2, "ts": "2024-01-01 00:10:00"},
    ], 1_000_000)
    # batch 2: doc_id 1 re-arrives within the watermark -> dropped
    put("b.json", [
        {"doc_id": 1, "ts": "2024-01-01 00:05:00"},
        {"doc_id": 3, "ts": "2024-01-01 00:20:00"},
    ], 2_000_000)

    stream = (
        spark.readStream.format("json")
        .schema("doc_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["doc_id"])
    )
    out = tmp_path / "dedup_out"
    q = (
        stream.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r["doc_id"] for r in spark.read.parquet(str(out)).collect())
    assert got == [1, 2, 3]


def test_new_checkpoint_identity_not_skipped_by_old_markers(spark, tmp_path, uploads):
    """After a checkpoint reset, batch ids restart at 0 and the source
    re-offers every file — whether the new checkpoint is a new path or
    the old path cleared and reused. The new batch 0 must land (skipping
    it as a replay is silent data loss), and the purge path keeps the
    re-offered files exactly-once."""
    import shutil

    write_json(uploads, "FAC001", "patient_person_0_20250103141949.json",
               [patient(0), patient(1)])
    wh = str(tmp_path / "wh")
    s1 = StreamingIngestion(spark, wh, uploads, "patient_person",
                            checkpoint_dir=str(tmp_path / "cp1"))
    s1.run_available_now()
    assert s1.store.read("stg_patient_person").count() == 2

    # checkpoint reset (new identity) + a new file: the source re-offers
    # EVERYTHING as batch 0, which collides with cp1's committed batch 0
    write_json(uploads, "FAC001", "patient_person_1_20250103142050.json",
               [patient(5)])
    s2 = StreamingIngestion(spark, wh, uploads, "patient_person",
                            checkpoint_dir=str(tmp_path / "cp2"))
    s2.run_available_now()
    stg = s2.store.read("stg_patient_person")
    assert stg.count() == 3  # old file deduped by purge, new file ingested
    assert stg.filter(F.col("stg_file_name")
                      == "patient_person_1_20250103142050.json").count() == 1

    # the SAME checkpoint path cleared and reused, plus a new file
    shutil.rmtree(str(tmp_path / "cp2"))
    write_json(uploads, "FAC002", "patient_person_2_20250103143000.json",
               [patient(7), patient(8)])
    s3 = StreamingIngestion(spark, wh, uploads, "patient_person",
                            checkpoint_dir=str(tmp_path / "cp2"))
    s3.run_available_now()
    got = sorted(
        (r["stg_file_name"], r["id"])
        for r in s3.store.read("stg_patient_person").collect()
    )
    assert got == [("patient_person_0_20250103141949.json", 0),
                   ("patient_person_0_20250103141949.json", 1),
                   ("patient_person_1_20250103142050.json", 5),
                   ("patient_person_2_20250103143000.json", 7),
                   ("patient_person_2_20250103143000.json", 8)]
    assert _latest(s3.store) == [
        ("patient_person_0_20250103141949.json", "FAC001", "success"),
        ("patient_person_1_20250103142050.json", "FAC001", "success"),
        ("patient_person_2_20250103143000.json", "FAC002", "success"),
    ]
    # one attempt row per landing: file 0 landed three times, file 1 twice
    assert s3.store.read(INGESTION_LOG).count() == 6


def test_zero_row_file_gets_empty_audit_row(spark, tmp_path, uploads):
    """G4 parity with the batch engine: a file that parses to zero rows
    ('[]') never reaches the row-driven sink, but still gets a
    'failed / JSON file is empty' audit row — exactly once."""
    write_json(uploads, "FAC001", "patient_person_0_20250103141949.json", [])
    write_json(uploads, "FAC002", "patient_person_1_20250103142050.json",
               [patient(1)])
    s = _stream(spark, tmp_path, uploads)
    s.run_available_now()
    log = s.store.read(INGESTION_LOG)
    assert log.count() == 2
    empty = log.filter(F.col("facility_id") == "FAC001").collect()[0]
    assert empty["status"] == "failed"
    assert empty["error_message"] == "JSON file is empty"
    assert empty["json_rec_count"] == 0 and empty["bad_rec_count"] == 0

    s.run_available_now()  # idempotent: no duplicate audit rows
    assert s.store.read(INGESTION_LOG).count() == 2


def test_all_null_file_audited_failed_like_batch_engine(spark, tmp_path, uploads):
    """G6 parity (review finding): a non-empty file whose every row is
    dropped as all-null must be audited failed / 'all rows null after
    cleansing' — the batch engine's verdict — not silently 'success'."""
    keys = ("id", "uuid", "match_type", "match_person_uuid",
            "match_biometric_id", "date_enrollment", "template")
    write_json(uploads, "FAC001", "biometric_0_20250103141949.json",
               [{k: None for k in keys} for _ in range(2)])
    s = StreamingIngestion(
        spark, str(tmp_path / "whnull"), uploads, "biometric"
    )
    s.run_available_now()
    log = s.store.read(INGESTION_LOG).collect()
    assert len(log) == 1
    assert log[0]["status"] == "failed"
    assert log[0]["error_message"] == "all rows null after cleansing"
    assert log[0]["json_rec_count"] == 0 and log[0]["bad_rec_count"] == 0


def test_batch_and_stream_land_identical_rows(spark, tmp_path, uploads):
    """Batch and streaming ingest share one sink and one verdict law: an
    upload tree with one file of each verdict lands the same audit,
    staging and quarantine rows through IngestionEngine.run as through
    StreamingIngestion.run_available_now."""
    keys = ("id", "uuid", "match_type", "match_person_uuid",
            "match_biometric_id", "date_enrollment", "template")

    def bio(i: int, date: str = "2024-01-01") -> dict:
        return dict(zip(keys, (i, f"u{i}", "m", "p", "b", date, f"T{i}")))

    write_json(uploads, "FAC001", "biometric_0_20250103141949.json",
               [bio(1), bio(2)])
    write_json(uploads, "FAC001", "biometric_1_20250103141950.json",
               [bio(3), bio(4, "not-a-date")])
    write_json(uploads, "FAC001", "biometric_2_20250103141951.json",
               "{this is [ not json")
    write_json(uploads, "FAC002", "biometric_3_20250103141952.json", [])
    write_json(uploads, "FAC002", "biometric_4_20250103141953.json",
               [{k: None for k in keys}] * 2)
    # space and '+' come back percent-encoded from input_file_name()
    write_json(uploads, "FAC 05+x", "biometric_5_20250103141954.json",
               [bio(5)])

    eng = IngestionEngine(spark, str(tmp_path / "wh_batch"))
    eng.run(uploads)
    stream = StreamingIngestion(spark, str(tmp_path / "wh_stream"), uploads,
                                "biometric")
    stream.run_available_now()

    def rows(store, name, *ignored):
        df = store.read(name).drop(*ignored)
        return sorted(
            (tuple(r) for r in df.select(sorted(df.columns)).collect()), key=repr
        )

    log = rows(eng.store, INGESTION_LOG, "load_start_time", "load_end_time")
    assert log == rows(stream.store, INGESTION_LOG, "load_start_time",
                       "load_end_time")
    verdicts = {
        (r["facility_id"], r["status"], r["error_message"])
        for r in eng.store.read(INGESTION_LOG).collect()
    }
    assert verdicts == {
        ("FAC001", "success", None),
        ("FAC001", "failed", "1 record(s) failed date validation (quarantined)"),
        ("FAC001", "failed", "malformed JSON"),
        ("FAC002", "failed", "JSON file is empty"),
        ("FAC002", "failed", "all rows null after cleansing"),
        ("FAC 05+x", "success", None),
    }
    for name in ("stg_biometric", "stg_biometric_bad_dates"):
        landed = rows(eng.store, name, "stg_load_time")
        assert landed == rows(stream.store, name, "stg_load_time")
    assert len(rows(eng.store, "stg_biometric")) == 4
    assert len(rows(eng.store, "stg_biometric_bad_dates")) == 1


def test_replayed_micro_batch_rewrites_only_its_partitions(spark, tmp_path, uploads):
    """A micro-batch replayed after a crash (before Spark's commit)
    re-lands its files by rewriting only the facility partitions they
    hit; the other facility's partition keeps its parquet files."""
    import os

    fn = "patient_person_0_20250103141949.json"
    write_json(uploads, "FAC001", fn, [patient(i) for i in range(3)])
    write_json(uploads, "FAC002", fn, [patient(i) for i in range(10, 12)])
    s = _stream(spark, tmp_path, uploads)
    s.run_available_now()

    def files(fac):
        d = os.path.join(s.store.path("stg_patient_person"), f"stg_datim_id={fac}")
        return {f: os.stat(os.path.join(d, f)).st_mtime_ns for f in os.listdir(d)}

    before = {fac: files(fac) for fac in ("FAC001", "FAC002")}
    batch = (
        spark.read.format("json").schema(s.schema).option("multiLine", "true")
        .load(os.path.join(uploads, "FAC001", fn))
        .withColumn("_src_file", F.lit(fn))
        .withColumn("_src_facility", F.lit("FAC001"))
    )
    s._process_batch(batch, 0)
    assert files("FAC002") == before["FAC002"]
    assert files("FAC001") != before["FAC001"]
    got = sorted(
        (r["stg_datim_id"], r["id"])
        for r in s.store.read("stg_patient_person").collect()
    )
    assert got == [("FAC001", 0), ("FAC001", 1), ("FAC001", 2),
                   ("FAC002", 10), ("FAC002", 11)]
    assert _latest(s.store) == [(fn, "FAC001", "success"), (fn, "FAC002", "success")]
    assert s.store.read(INGESTION_LOG).count() == 3


def _one_file_batch(s, uploads, fac: str, fn: str):
    """Micro-batch ``fac/fn`` as the stream's file source offers it."""
    import os

    return (
        s.spark.read.format("json").schema(s.schema).option("multiLine", "true")
        .load(os.path.join(uploads, fac, fn))
        .withColumn("_src_file", F.lit(fn))
        .withColumn("_src_facility", F.lit(fac))
    )


def test_replay_keeps_a_log_row_appended_while_it_lands(
    spark, tmp_path, uploads, monkeypatch
):
    """A replayed micro-batch only appends to the ingestion log, so an
    audit row that another writer appends while the batch lands (here:
    once the batch first reads a table) survives, next to the other
    file's row the log already held."""
    import threading
    from datetime import datetime

    fn = "patient_person_0_20250103141949.json"
    write_json(uploads, "FAC001", fn, [patient(i) for i in range(3)])
    write_json(uploads, "FAC002", fn, [patient(10)])
    s = _stream(spark, tmp_path, uploads)
    s.run_available_now()

    other = "patient_person_9_20250103150000.json"
    now = datetime.now()
    read, lock, appended = s.store.read, threading.Lock(), []

    def read_then_append(name, *args, **kw):
        df = read(name, *args, **kw)
        with lock:
            if not appended:
                appended.append(s.store.append_rows(
                    INGESTION_LOG,
                    [(other, "FAC009", "stg_patient_person", "9", "success",
                      1, 0, None, now, now)],
                    INGESTION_LOG_DDL,
                ))
        return df

    monkeypatch.setattr(s.store, "read", read_then_append)
    s._process_batch(_one_file_batch(s, uploads, "FAC001", fn), 0)
    monkeypatch.undo()
    assert appended
    assert _latest(s.store) == [
        (fn, "FAC001", "success"), (fn, "FAC002", "success"),
        (other, "FAC009", "success"),
    ]
    assert s.store.read(INGESTION_LOG).count() == 4
    assert s.store.read("stg_patient_person").count() == 4


def test_stream_tick_and_replay_run_no_log_jobs(spark, tmp_path, uploads):
    """A micro-batch neither reads nor rewrites the ingestion log: a
    tick with one new file and a replay of that file each submit at
    most 6 jobs (status-store diff; the stream's and the landing pool's
    threads do not inherit a job group)."""
    write_json(uploads, "FAC001", "patient_person_0_20250103141949.json",
               [patient(i) for i in range(3)])
    s = _stream(spark, tmp_path, uploads)
    s.run_available_now()
    fn = "patient_person_1_20250103142050.json"
    write_json(uploads, "FAC002", fn, [patient(10)])

    before = n_jobs(spark)
    s.run_available_now()
    assert n_jobs(spark) - before <= 6
    batch = _one_file_batch(s, uploads, "FAC002", fn)
    before = n_jobs(spark)
    s._process_batch(batch, 1)
    assert n_jobs(spark) - before <= 6
    assert s.store.read("stg_patient_person").count() == 4
    assert s.store.read(INGESTION_LOG).count() == 3


def test_streaming_incremental_minhash_dedup(spark, tmp_path):
    """The streaming dedup loop e2e: documents arrive as JSON files
    across two availableNow ticks; each micro-batch dedups against the
    persisted band index and extends it. Cross-batch near-dups (a tick-2
    document near-duplicating a tick-1 document) must surface, and the
    cumulative pair table must equal a full batch recompute."""
    import json as _json

    from pyspark.sql import types as T

    from data_ingestion_from_multiple_directories_linux_spark.operators.dedup import (
        JACCARD_MINHASH_THRESHOLD,
        MINHASH_PAIRS_TABLE,
        incremental_dedup_batch,
        minhash_pairs,
    )
    from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
        TableStore,
    )

    words = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lam mu nu xi omicron pi rho sigma tau upsilon").split()

    def doc(i, extra=""):
        base = " ".join(words[(i + j) % len(words)] for j in range(12))
        return {"doc_id": i, "text": (base + " " + extra).strip()}

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    store = TableStore(spark, str(tmp_path / "wh"))
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])

    def tick():
        q = (
            spark.readStream.format("json").schema(schema)
            .option("multiLine", "true")
            .load(str(docs_dir) + "/*.json")
            .writeStream.foreachBatch(
                lambda b, _id: incremental_dedup_batch(store, b)
            )
            .option("checkpointLocation", str(tmp_path / "cp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    batch1 = [doc(i) for i in range(10)] + [doc(0, "zz")]          # in-batch dup
    batch1[-1]["doc_id"] = 1000
    (docs_dir / "b1.json").write_text(_json.dumps(batch1))
    tick()
    batch2 = [doc(i) for i in range(100, 110)] + [doc(5, "qq")]    # cross-batch dup
    batch2[-1]["doc_id"] = 2000
    (docs_dir / "b2.json").write_text(_json.dumps(batch2))
    tick()

    got = {
        (r["id_a"], r["id_b"])
        for r in store.read(MINHASH_PAIRS_TABLE).collect()
    }
    all_docs = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in batch1 + batch2], schema
    )
    full = {
        (r["id_a"], r["id_b"])
        for r in minhash_pairs(all_docs, 3, JACCARD_MINHASH_THRESHOLD).collect()
    }
    assert got == full and got
    assert (0, 1000) in got and (5, 2000) in got  # in-batch + cross-batch


def test_streaming_count_min_matches_one_shot(spark, tmp_path):
    """Mergeable-sketch law, live: a corpus ingested in two micro-batch
    runs produces bit-identical count-min cells to one-shot ingestion;
    estimates are one-sided (>= true); replaying a batch id does not
    double-count; compaction preserves the cells."""
    import json as _json
    import os

    from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
        TableStore,
    )
    from data_ingestion_from_multiple_directories_linux_spark.streaming.sketch_stream import (
        CM_PARTIALS,
        StreamingCountMin,
        cm_cell_partials,
    )

    src = tmp_path / "stream_src"
    src.mkdir()
    schema = "event_id long, user_id long, event_type string"

    def write_file(name, rows):
        with open(os.path.join(str(src), name), "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    batch1 = [
        {"event_id": i, "user_id": i % 7, "event_type": "click"}
        for i in range(200)
    ]
    batch2 = [
        {"event_id": 1000 + i, "user_id": i % 13, "event_type": "view"}
        for i in range(300)
    ]

    store = TableStore(spark, str(tmp_path / "wh"))
    cm = StreamingCountMin(
        spark, store, str(src), str(tmp_path / "ckpt"), schema, "user_id"
    )
    # an empty stream serves an empty sketch (no table yet)
    assert cm.cells().count() == 0
    write_file("b1.json", batch1)
    cm.run_available_now()
    write_file("b2.json", batch2)
    cm.run_available_now()

    def cells_dict(df):
        return {(r["j"], r["bucket"]): r["cell_n"] for r in df.collect()}

    streamed = cells_dict(cm.cells())

    # one-shot reference over the same 500 rows
    all_rows = spark.createDataFrame(
        [(r["event_id"], r["user_id"], r["event_type"])
         for r in batch1 + batch2],
        schema,
    )
    oneshot = cells_dict(cm_cell_partials(all_rows, "user_id"))
    assert streamed == oneshot

    # one-sided estimates: cm_estimate >= true count per key
    true_counts = {
        r["user_id"]: r["n"]
        for r in all_rows.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    keys = spark.createDataFrame(
        [(k,) for k in true_counts], "user_id long"
    )
    est = {
        r["user_id"]: r["cm_estimate"]
        for r in cm.estimate(keys, "user_id").collect()
    }
    assert set(est) == set(true_counts)
    assert all(est[k] >= true_counts[k] for k in true_counts)

    # replay idempotency: re-merging an already-seen batch id replaces,
    # never adds
    replay = spark.createDataFrame(
        [(r["event_id"], r["user_id"], r["event_type"]) for r in batch2],
        schema,
    )
    n_batches = store.read(CM_PARTIALS).select("batch_id").distinct().count()
    # batch2's real id is the newest segment (the checkpoint persists
    # across the two runs, so ids increment: batch1=0, batch2=1)
    b2_id = (
        store.read(CM_PARTIALS).agg(F.max("batch_id").alias("m")).first()["m"]
    )
    cm._merge_batch(replay, b2_id)
    assert cells_dict(cm.cells()) == oneshot
    assert (
        store.read(CM_PARTIALS).select("batch_id").distinct().count()
        == n_batches
    )

    # compaction folds the SETTLED segments, cells unchanged — the
    # newest batch segment is kept un-folded because it is the only one
    # that can still replay (crash between apply and checkpoint commit)
    cm.compact()
    assert cells_dict(cm.cells()) == oneshot
    ids = sorted(
        r["batch_id"]
        for r in store.read(CM_PARTIALS).select("batch_id").distinct().collect()
    )
    assert ids == [-1, b2_id]

    # the review-found double-count path, pinned: replaying the newest
    # batch AFTER compaction still replaces its own segment (it was not
    # folded away), so cells stay exactly the one-shot values
    cm._merge_batch(replay, b2_id)
    assert cells_dict(cm.cells()) == oneshot

    # a cleared checkpoint re-offers both files as batch 0, which starts
    # the scope over: the -1 fold and the old segments are replaced
    import shutil

    shutil.rmtree(str(tmp_path / "ckpt"))
    cm.run_available_now()
    assert cells_dict(cm.cells()) == oneshot


def test_checkpoint_spellings_share_one_scope(spark, tmp_path, monkeypatch):
    """A relative and an absolute spelling of one checkpoint directory
    are one stream: a batch crash-replayed under the other spelling
    replaces its segment instead of being counted twice."""
    from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
        TableStore,
    )
    from data_ingestion_from_multiple_directories_linux_spark.streaming.sketch_stream import (
        StreamingCountMin,
        cm_cell_partials,
    )

    monkeypatch.chdir(tmp_path)
    store = TableStore(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([(i % 5,) for i in range(40)], "user_id long")
    for ck in ("ck", str(tmp_path / "ck")):
        cm = StreamingCountMin(
            spark, store, str(tmp_path / "src"), ck, "user_id long", "user_id"
        )
        cm._merge_batch(df, 0)

    def cells_dict(cells):
        return {(r["j"], r["bucket"]): r["cell_n"] for r in cells.collect()}

    assert cells_dict(cm.cells()) == cells_dict(cm_cell_partials(df, "user_id"))


def _write_ndjson(path, rows):
    import json as _json

    with open(path, "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")


def test_stream_stream_interval_join_attribution(spark, tmp_path):
    """Stream-stream inner join with watermarks + time constraint:
    clicks attribute to the impression they followed within the
    30-minute window; clicks outside any window never match."""
    from data_ingestion_from_multiple_directories_linux_spark.streaming.stream_join import (
        attribute_clicks,
    )

    imp_dir, clk_dir = tmp_path / "imp", tmp_path / "clk"
    imp_dir.mkdir(), clk_dir.mkdir()
    _write_ndjson(
        str(imp_dir / "i1.json"),
        [
            {"ad_id": 1, "imp_ts": "2024-01-01 10:00:00", "campaign": "a"},
            {"ad_id": 2, "imp_ts": "2024-01-01 10:05:00", "campaign": "b"},
            {"ad_id": 3, "imp_ts": "2024-01-01 10:10:00", "campaign": "c"},
        ],
    )
    _write_ndjson(
        str(clk_dir / "c1.json"),
        [
            # inside ad 1's window
            {"click_ad_id": 1, "click_ts": "2024-01-01 10:20:00", "click_id": 100},
            # OUTSIDE ad 2's window (55 min later)
            {"click_ad_id": 2, "click_ts": "2024-01-01 11:00:00", "click_id": 101},
            # before ad 3's impression → must not match
            {"click_ad_id": 3, "click_ts": "2024-01-01 10:09:00", "click_id": 102},
        ],
    )
    imp = (
        spark.readStream.format("json")
        .schema("ad_id long, imp_ts timestamp, campaign string")
        .load(str(imp_dir))
    )
    clk = (
        spark.readStream.format("json")
        .schema("click_ad_id long, click_ts timestamp, click_id long")
        .load(str(clk_dir))
    )
    joined = attribute_clicks(imp, clk)
    out = tmp_path / "attr_out"
    q = (
        joined.select("campaign", "click_id")
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt_ss"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r["campaign"], r["click_id"]) for r in spark.read.parquet(str(out)).collect()}
    assert got == {("a", 100)}


def test_stream_stream_left_outer_emits_unmatched_after_watermark(spark, tmp_path):
    """Left-outer stream-stream join: an impression with no click emits
    (with NULL click columns) once the click watermark passes its
    attribution window — across a RESTART, proving the pending state
    survives the checkpoint."""
    from data_ingestion_from_multiple_directories_linux_spark.streaming.stream_join import (
        attribute_clicks,
    )

    imp_dir, clk_dir = tmp_path / "imp", tmp_path / "clk"
    imp_dir.mkdir(), clk_dir.mkdir()
    _write_ndjson(
        str(imp_dir / "i1.json"),
        [{"ad_id": 1, "imp_ts": "2024-01-01 10:00:00", "campaign": "a"}],
    )
    # a click for a DIFFERENT ad far in the future drives the watermark
    # past ad 1's window+lateness horizon
    _write_ndjson(
        str(clk_dir / "c1.json"),
        [{"click_ad_id": 99, "click_ts": "2024-01-01 14:00:00", "click_id": 900}],
    )

    def run_once():
        imp = (
            spark.readStream.format("json")
            .schema("ad_id long, imp_ts timestamp, campaign string")
            .load(str(imp_dir))
        )
        clk = (
            spark.readStream.format("json")
            .schema("click_ad_id long, click_ts timestamp, click_id long")
            .load(str(clk_dir))
        )
        q = (
            attribute_clicks(imp, clk, how="left_outer")
            .select("campaign", "click_id")
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "outer_out"))
            .option("checkpointLocation", str(tmp_path / "ckpt_outer"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    # run 2: both watermarks advance further (new files), state flushes
    _write_ndjson(
        str(imp_dir / "i2.json"),
        [{"ad_id": 98, "imp_ts": "2024-01-01 15:00:00", "campaign": "z"}],
    )
    _write_ndjson(
        str(clk_dir / "c2.json"),
        [{"click_ad_id": 97, "click_ts": "2024-01-01 16:00:00", "click_id": 901}],
    )
    run_once()
    rows = spark.read.parquet(str(tmp_path / "outer_out")).collect()
    got = {(r["campaign"], r["click_id"]) for r in rows}
    # ad 1's impression surfaced exactly once, unmatched
    assert ("a", None) in got
    assert sum(1 for c, _ in got if c == "a") == 1


def test_streaming_session_window_merges_and_emits(spark, tmp_path):
    """Session windows on a stream: events within the 30-min gap merge
    into ONE session in the state store (including merging two
    provisional sessions bridged by a late-arriving middle event in the
    same batch); sessions close and emit once the watermark passes the
    gap. The streaming twin of session_window_stats."""
    src = tmp_path / "ev"
    src.mkdir()
    _write_ndjson(
        str(src / "p1.json"),
        [
            # one user: 10:00, 10:40 are two sessions provisionally —
            # the 10:20 event bridges them into one 10:00-11:10 session
            {"user_id": 1, "ts": "2024-01-01 10:00:00", "v": 1},
            {"user_id": 1, "ts": "2024-01-01 10:40:00", "v": 2},
            {"user_id": 1, "ts": "2024-01-01 10:20:00", "v": 3},
            # separate session far later
            {"user_id": 1, "ts": "2024-01-01 14:00:00", "v": 4},
            # second user, single event
            {"user_id": 2, "ts": "2024-01-01 10:05:00", "v": 5},
            # watermark driver: far-future event keeps every earlier
            # session older than (max_ts - 1h watermark - 30m gap)
            {"user_id": 9, "ts": "2024-01-01 23:00:00", "v": 0},
        ],
    )
    stream = (
        spark.readStream.format("json")
        .schema("user_id long, ts timestamp, v long")
        .load(str(src))
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n"), F.sum("v").alias("sum_v"))
    )
    out = tmp_path / "sess_out"
    q = (
        stream.select(
            F.col("session_window.start").alias("ws"),
            F.col("session_window.end").alias("we"),
            "user_id", "n", "sum_v",
        )
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], str(r["ws"]), str(r["we"]), r["n"], r["sum_v"])
        for r in spark.read.parquet(str(out)).collect()
    }
    # merged session: 10:00 → 10:50 (last event 10:20+30m... no:
    # events 10:00/10:20/10:40 chain → end = 10:40 + 30m = 11:10)
    assert (1, "2024-01-01 10:00:00", "2024-01-01 11:10:00", 3, 6) in got
    assert (1, "2024-01-01 14:00:00", "2024-01-01 14:30:00", 1, 4) in got
    assert (2, "2024-01-01 10:05:00", "2024-01-01 10:35:00", 1, 5) in got


def test_streaming_cdc_apply_merges_batches_idempotently(spark, tmp_path):
    """CDC file stream folded into a table with MERGE semantics:
    upserts update/insert, deletes remove, a delete for an absent key
    is a no-op (not an insert), last-writer-wins inside a batch by seq,
    and replaying the whole feed on a FRESH checkpoint converges to the
    same table (idempotent apply)."""
    from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
        TableStore,
    )
    from data_ingestion_from_multiple_directories_linux_spark.streaming.cdc_apply import (
        StreamingCdcApply,
    )

    store = TableStore(spark, str(tmp_path / "wh"))
    store.append(
        "dim_acct",
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "id long, name string, bal long"
        ),
    )
    feed = tmp_path / "cdc"
    feed.mkdir()
    _write_ndjson(
        str(feed / "c1.json"),
        [
            # two changes for id 2 in one batch: seq 11 wins
            {"op": "upsert", "seq": 10, "id": 2, "name": "b", "bal": 21},
            {"op": "upsert", "seq": 11, "id": 2, "name": "B", "bal": 22},
            {"op": "upsert", "seq": 12, "id": 3, "name": "c", "bal": 30},
            {"op": "delete", "seq": 13, "id": 1, "name": None, "bal": None},
            # delete of a key that never existed: must NOT appear
            {"op": "delete", "seq": 14, "id": 99, "name": None, "bal": None},
        ],
    )
    schema = "op string, seq long, id long, name string, bal long"

    def expect_final():
        got = {
            (r["id"], r["name"], r["bal"])
            for r in store.read("dim_acct").collect()
        }
        assert got == {(2, "B", 22), (3, "c", 30)}, got

    apply1 = StreamingCdcApply(
        spark, store, str(feed), str(tmp_path / "ck1"), schema,
        "dim_acct", ["id"],
    )
    apply1.run_available_now()
    expect_final()
    # crash-replay simulation: re-running the SAME checkpoint is a no-op
    apply1.run_available_now()
    expect_final()
    # direct replay of an already-applied batch id (foreachBatch
    # at-least-once): the MERGE re-applies and converges
    batch = (
        spark.read.format("json").schema(schema).load(str(feed / "c1.json"))
    )
    apply1._apply_batch(batch, 0)
    expect_final()

    # the same checkpoint cleared and reused, plus a new change file: the
    # source re-offers both files as batch 0, and the new changes apply
    import shutil

    shutil.rmtree(str(tmp_path / "ck1"))
    _write_ndjson(
        str(feed / "c2.json"),
        [
            {"op": "upsert", "seq": 20, "id": 4, "name": "d", "bal": 40},
            {"op": "upsert", "seq": 21, "id": 3, "name": "C", "bal": 31},
        ],
    )
    apply1.run_available_now()
    got = {(r["id"], r["name"], r["bal"]) for r in store.read("dim_acct").collect()}
    assert got == {(2, "B", 22), (3, "C", 31), (4, "d", 40)}, got


def test_cdc_bootstrap_creates_missing_target(spark, tmp_path):
    """First CDC batch of a FRESH pipeline: the target table does not
    exist yet — the merge must treat it as empty (pure inserts minus
    deletes) and CREATE it, not crash the stream with FileNotFoundError
    (review finding)."""
    from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
        TableStore,
    )
    from data_ingestion_from_multiple_directories_linux_spark.streaming.cdc_apply import (
        StreamingCdcApply,
    )

    store = TableStore(spark, str(tmp_path / "whboot"))
    feed = tmp_path / "cdcboot"
    feed.mkdir()
    _write_ndjson(
        str(feed / "c1.json"),
        [
            {"op": "upsert", "seq": 1, "id": 7, "name": "g", "bal": 70},
            {"op": "delete", "seq": 2, "id": 8, "name": None, "bal": None},
        ],
    )
    schema = "op string, seq long, id long, name string, bal long"
    StreamingCdcApply(
        spark, store, str(feed), str(tmp_path / "ckboot"), schema,
        "dim_new", ["id"],
    ).run_available_now()
    got = {(r["id"], r["name"], r["bal"])
           for r in store.read("dim_new").collect()}
    assert got == {(7, "g", 70)}  # delete of absent key: no-op


def test_transform_with_state_constructs_and_schemas(spark):
    """transformWithStateInPandas plan construction needs no protobuf:
    the operator must wire up against a streaming source and expose the
    declared output schema (the runtime e2e below needs the protobuf
    state protocol, absent in this sandbox)."""
    from data_ingestion_from_multiple_directories_linux_spark.streaming.tws import (
        user_activity_totals,
    )

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    ).selectExpr(
        "value AS user_id", "'view' AS event_type", "CAST(value AS DOUBLE) AS value"
    )
    out = user_activity_totals(stream)
    assert out.isStreaming
    assert [f.name for f in out.schema.fields] == [
        "user_id",
        "n_events",
        "total_value",
        "n_types",
    ]


def test_transform_with_state_across_batches_and_restart(spark, tmp_path):
    """transformWithStateInPandas (the Spark-4 stateful API): ValueState
    totals AND MapState per-type counts must accumulate across
    micro-batches, and a SECOND availableNow run on the same checkpoint
    must resume — not recompute — the state.

    Runtime requires the protobuf-based state protocol; auto-skips
    where protobuf is unavailable (see streaming/tws.py docstring)."""
    import json as _json
    import os

    pytest.importorskip("google.protobuf")

    from data_ingestion_from_multiple_directories_linux_spark.streaming.tws import (
        PROVIDER_CONF,
        ROCKSDB_PROVIDER,
        user_activity_totals,
    )

    prev_provider = spark.conf.get(PROVIDER_CONF, None)
    spark.conf.set(PROVIDER_CONF, ROCKSDB_PROVIDER)

    src = tmp_path / "ev"
    src.mkdir()

    def write_batch(name, rows):
        with open(os.path.join(str(src), name), "w") as f:
            for i, (uid, etype, val) in enumerate(rows):
                f.write(
                    _json.dumps(
                        {"user_id": uid, "event_type": etype, "value": val}
                    )
                    + "\n"
                )

    write_batch("b0.json", [(1, "view", 10.0), (1, "click", 5.0), (2, "view", 1.0)])
    write_batch("b1.json", [(1, "view", 2.5), (2, "buy", 4.0), (3, "view", 7.0)])

    out = tmp_path / "tws_out"

    def run():
        stream = (
            spark.readStream.format("json")
            .schema("user_id bigint, event_type string, value double")
            .option("maxFilesPerTrigger", 1)
            .load(str(src))
        )
        q = (
            user_activity_totals(stream)
            .writeStream.foreachBatch(
                lambda b, _id: b.write.mode("append").parquet(str(out))
            )
            .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    try:
        run()
        updates = spark.read.parquet(str(out)).toPandas()
        final = (
            updates.sort_values("n_events")
            .groupby("user_id")
            .last()
            .reset_index()
        )
        expect = {1: (3, 17.5, 2), 2: (2, 5.0, 2), 3: (1, 7.0, 1)}
        assert len(final) == 3
        for _, r in final.iterrows():
            n, tot, nt = expect[int(r.user_id)]
            assert int(r.n_events) == n, r
            assert abs(float(r.total_value) - tot) < 1e-9, r
            assert int(r.n_types) == nt, r
        # cross-batch accumulation: user 1 gets an intermediate and a
        # final row
        u1 = sorted(updates[updates.user_id == 1].n_events)
        assert len(u1) == 2 and u1[-1] == 3

        # restart: new file, same checkpoint — state resumes (user 1 ->
        # 4 events)
        write_batch("b2.json", [(1, "buy", 0.5)])
        run()
        updates = spark.read.parquet(str(out)).toPandas()
        last1 = updates[updates.user_id == 1].sort_values("n_events").iloc[-1]
        assert int(last1.n_events) == 4
        assert abs(float(last1.total_value) - 18.0) < 1e-9
        assert int(last1.n_types) == 3
    finally:
        if prev_provider is None:
            spark.conf.unset(PROVIDER_CONF)
        else:
            spark.conf.set(PROVIDER_CONF, prev_provider)


def test_streaming_m4_downsample_closes_buckets(spark, tmp_path):
    """Streaming M4: a watermarked tumbling window emits a bucket's
    first/last/min/max exactly once when the watermark passes —
    values identical to the batch computation over the same rows."""
    import json as _json

    from data_ingestion_from_multiple_directories_linux_spark.operators.timeseries import (
        m4_downsample_stream,
    )

    src = tmp_path / "m4src"
    src.mkdir()
    rows = [
        {"event_id": 1, "ts": "2024-01-01 00:05:00", "value": 5.0},
        {"event_id": 2, "ts": "2024-01-01 00:10:00", "value": 9.0},
        {"event_id": 3, "ts": "2024-01-01 00:40:00", "value": 1.0},
        # far-future event drives the watermark past bucket 00:00
        {"event_id": 9, "ts": "2024-01-01 05:00:00", "value": 7.0},
    ]
    with open(src / "b0.json", "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")
    stream = (
        spark.readStream.format("json")
        .schema("event_id bigint, ts timestamp, value double")
        .load(str(src))
    )
    out = tmp_path / "m4out"
    q = (
        m4_downsample_stream(stream)
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt_m4"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["role"], r["event_id"], r["value"])
        for r in spark.read.parquet(str(out)).collect()
    }
    # only the 00:00 bucket is closed (watermark = 04:00); its roles:
    assert got == {
        ("first", 1, 5.0),
        ("last", 3, 1.0),
        ("min", 3, 1.0),
        ("max", 2, 9.0),
    }


def test_streaming_bloom_ingest_foreachbatch(spark, tmp_path):
    """The Bloom filter rides the streaming-ingest cadence: each
    micro-batch probes against the accumulated bit table, emits its
    verdicts, then appends its own bits — so later batches dedup
    against all earlier ones without re-hashing them. availableNow +
    maxFilesPerTrigger=1 forces multiple ordered batches; the final
    verdict set must show a batch-1 URL that repeats a batch-0 URL as
    a bloom hit, and every bloom-negative must be genuinely unseen at
    its batch's point in time (no false negatives, cumulatively)."""
    import json as _json

    from data_ingestion_from_multiple_directories_linux_spark.operators.bloomdedup import (
        BLOOM_BITS_TABLE,
        bloom_bits,
        ingest_bloom_bits,
        probe_bloom,
    )
    from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
        TableStore,
    )

    src = tmp_path / "urls_src"
    src.mkdir()
    batches = [
        ["https://a/1", "https://a/2", "https://a/3"],
        ["https://a/2", "https://b/1"],          # a/2 repeats batch 0
        ["https://a/3", "https://b/1", "https://c/9"],  # both repeat
    ]
    for i, urls in enumerate(batches):
        with open(src / f"b{i}.json", "w") as f:
            for u in urls:
                f.write(_json.dumps({"url": u}) + "\n")

    store = TableStore(spark, str(tmp_path / "wh"))
    out = tmp_path / "verdicts"

    def sink(batch_df, bid):
        if store.exists(BLOOM_BITS_TABLE):
            bits = store.read(BLOOM_BITS_TABLE)
        else:
            bits = bloom_bits(batch_df).limit(0)
        probed = probe_bloom(batch_df, bits).withColumn(
            "batch_id", F.lit(int(bid))
        )
        probed.write.mode("append").parquet(str(out))
        ingest_bloom_bits(store, batch_df.select("url"))

    q = (
        spark.readStream.format("json")
        .schema("url string")
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_bloom"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.read.parquet(str(out)).collect()
    assert len(rows) == sum(len(b) for b in batches)
    # batch 0 probes an empty filter: everything is a miss
    assert all(not r["hit"] for r in rows if r["batch_id"] == 0)
    # cumulative no-false-negatives: a URL seen in ANY earlier batch
    # must bloom-hit when it reappears
    seen: set[str] = set()
    by_batch: dict[int, list] = {}
    for r in rows:
        by_batch.setdefault(r["batch_id"], []).append(r)
    hits_of_repeats = []
    for bid in sorted(by_batch):
        for r in by_batch[bid]:
            if r["url"] in seen:
                hits_of_repeats.append(r["hit"])
        seen.update(r["url"] for r in by_batch[bid])
    assert hits_of_repeats and all(hits_of_repeats)


def test_streaming_crawl_frontier_dedups_across_batches(spark, tmp_path):
    """L140 e2e: the canonicalize->bloom->exact-rescue frontier emits
    every canonical resource EXACTLY ONCE across micro-batches, raw
    respellings included — wave 2's respellings of wave-1 resources
    are recognized as seen, its genuinely-new resources emit."""
    import json as _json
    import os

    from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
        TableStore,
    )
    from data_ingestion_from_multiple_directories_linux_spark.streaming.frontier import (
        StreamingCrawlFrontier,
    )

    src = tmp_path / "frontier_src"
    src.mkdir()

    def write_file(name, rows):
        with open(os.path.join(str(src), name), "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    def canon_url(i):
        return f"https://example.com/r/{i}"

    wave1 = [
        {"doc_id": i, "url": f"https://example.com/r/{i}"} for i in range(10)
    ]
    # respellings of resources 5-9 (case/port/utm/slash variants of the
    # same canonical key) plus new resources 10-14
    wave2 = [
        {"doc_id": 100 + i, "url": f"HTTPS://EXAMPLE.com:443/r/{i}"}
        for i in range(5, 8)
    ] + [
        {"doc_id": 100 + i, "url": f"https://example.com/r/{i}?utm_source=x"}
        for i in range(8, 10)
    ] + [
        {"doc_id": 100 + i, "url": f"https://example.com/r/{i}"}
        for i in range(10, 15)
    ]

    store = TableStore(spark, str(tmp_path / "wh"))
    fr = StreamingCrawlFrontier(
        spark, store, str(src), str(tmp_path / "ckpt")
    )
    write_file("w1.json", wave1)
    fr.run_available_now()
    write_file("w2.json", wave2)
    fr.run_available_now()

    rows = fr.frontier().collect()
    assert len(rows) == 15, rows
    assert {r["url"] for r in rows} == {canon_url(i) for i in range(15)}
    # each resource exactly once, and wave-1 resources carry their
    # wave-1 keeper doc_id (the respelling never re-emitted)
    by_url = {r["url"]: r for r in rows}
    for i in range(10):
        assert by_url[canon_url(i)]["doc_id"] == i
    for i in range(10, 15):
        assert by_url[canon_url(i)]["doc_id"] == 100 + i


def test_streaming_crawl_frontier_rescues_false_positives(spark, tmp_path):
    """The no-false-drop pin: pre-pollute the filter with EVERY bit set
    (worst case — all probes hit), then stream genuinely-new URLs. A
    bloom-only frontier would drop them all forever; the exact rescue
    must emit every one."""
    import json as _json
    import os

    from data_ingestion_from_multiple_directories_linux_spark.operators.bloomdedup import (
        M_BITS,
    )
    from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
        TableStore,
    )
    from data_ingestion_from_multiple_directories_linux_spark.streaming.frontier import (
        FRONTIER_BITS,
        StreamingCrawlFrontier,
    )

    src = tmp_path / "fp_src"
    src.mkdir()
    rows = [
        {"doc_id": i, "url": f"https://example.com/fresh/{i}"}
        for i in range(20)
    ]
    with open(os.path.join(str(src), "b1.json"), "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")

    store = TableStore(spark, str(tmp_path / "wh"))
    store.overwrite(
        FRONTIER_BITS,
        spark.range(M_BITS).select(F.col("id").cast("long").alias("bit")),
    )
    fr = StreamingCrawlFrontier(
        spark, store, str(src), str(tmp_path / "ckpt")
    )
    fr.run_available_now()
    got = {r["url"] for r in fr.frontier().collect()}
    assert got == {r["url"] for r in rows}


def test_streaming_crawl_frontier_replay_idempotent(spark, tmp_path):
    """foreachBatch at-least-once: re-processing a batch with the same
    batch_id (its keys already in the filter, its rows already in the
    output table) must leave the frontier byte-identical — the purge-
    then-rewrite path plus the rescue join's own-batch exclusion."""
    from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
        TableStore,
    )
    from data_ingestion_from_multiple_directories_linux_spark.streaming.frontier import (
        StreamingCrawlFrontier,
    )

    store = TableStore(spark, str(tmp_path / "wh"))
    fr = StreamingCrawlFrontier(
        spark, store, str(tmp_path / "src"), str(tmp_path / "ckpt")
    )
    batch = spark.createDataFrame(
        [(i, f"https://example.com/p/{i}") for i in range(8)],
        "doc_id long, url string",
    )
    fr._process_batch(batch, 0)
    once = sorted(
        (r["url"], r["doc_id"], r["batch_id"])
        for r in fr.frontier().collect()
    )
    fr._process_batch(batch, 0)  # crash-replay of the same batch
    twice = sorted(
        (r["url"], r["doc_id"], r["batch_id"])
        for r in fr.frontier().collect()
    )
    assert once == twice and len(once) == 8


_FRONTIER_RESUME_SCRIPT = CHILD_SYS_PATH + """
import json, sys
from pyspark.sql import SparkSession

src, ckpt, wh, out = sys.argv[1:5]
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
    TableStore,
)
from data_ingestion_from_multiple_directories_linux_spark.streaming.frontier import (
    StreamingCrawlFrontier,
)

fr = StreamingCrawlFrontier(spark, TableStore(spark, wh), src, ckpt)
fr.run_available_now()
rows = sorted(
    (r["url"], r["doc_id"]) for r in fr.frontier().collect()
)
with open(out, "w") as f:
    json.dump(rows, f)
spark.stop()
"""


def test_streaming_crawl_frontier_resumes_cross_process(spark, tmp_path):
    """The cron-cadence lifecycle for L140: wave 1 runs in THIS
    process; the next cron tick is a SEPARATE OS process with a fresh
    SparkSession resuming the same checkpoint + warehouse. The source
    checkpoint must skip wave-1 files, the reloaded filter must
    recognize wave-1 resources under new spellings, and new resources
    must emit — the frontier ends with each resource exactly once."""
    import json as _json
    import os
    import subprocess
    import sys

    from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
        TableStore,
    )
    from data_ingestion_from_multiple_directories_linux_spark.streaming.frontier import (
        StreamingCrawlFrontier,
    )

    src = tmp_path / "resume_src"
    src.mkdir()
    ckpt, wh = str(tmp_path / "ckpt"), str(tmp_path / "wh")

    def write_file(name, rows):
        with open(os.path.join(str(src), name), "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    write_file(
        "w1.json",
        [{"doc_id": i, "url": f"https://example.com/r/{i}"} for i in range(6)],
    )
    fr = StreamingCrawlFrontier(spark, TableStore(spark, wh), str(src), ckpt)
    fr.run_available_now()
    assert len(fr.frontier().collect()) == 6

    # next tick: respellings of 0-2 plus new 6-8, fresh process
    write_file(
        "w2.json",
        [
            {"doc_id": 100 + i, "url": f"HTTPS://EXAMPLE.com:443/r/{i}/"}
            for i in range(3)
        ]
        + [
            {"doc_id": 100 + i, "url": f"https://example.com/r/{i}"}
            for i in range(6, 9)
        ],
    )
    script = tmp_path / "resume_frontier.py"
    script.write_text(_FRONTIER_RESUME_SCRIPT)
    out_json = tmp_path / "frontier.json"
    proc = subprocess.run(
        [sys.executable, str(script), str(src), ckpt, wh, str(out_json)],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, f"resume process failed:\n{proc.stderr[-4000:]}"
    got = [tuple(r) for r in _json.load(out_json.open())]
    want = sorted(
        [(f"https://example.com/r/{i}", i) for i in range(6)]
        + [(f"https://example.com/r/{i}", 100 + i) for i in range(6, 9)]
    )
    assert got == want


def test_streaming_bm25_index_matches_one_shot_batch(spark, tmp_path):
    """Streaming BM25 index maintenance: ingesting the corpus in three
    waves yields a tf index bit-identical to a one-shot build, the
    ranking served from the streamed index equals the registered batch
    query's output, and replaying the last batch changes nothing."""
    import json as _json
    import os

    from data_ingestion_from_multiple_directories_linux_spark.catalog import (
        load_table,
    )
    from data_ingestion_from_multiple_directories_linux_spark.operators.retrieval import (
        bm25_topk,
        build_tf_index,
    )
    from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
        TableStore,
    )
    from data_ingestion_from_multiple_directories_linux_spark.streaming.bm25_stream import (
        StreamingBM25Index,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]

    src = tmp_path / "bm25_src"
    src.mkdir()
    idx = StreamingBM25Index(
        spark,
        TableStore(spark, str(tmp_path / "wh")),
        str(src),
        str(tmp_path / "ckpt"),
    )
    last_wave = None
    for k in range(3):
        wave = [(d, t) for d, t in rows if d % 3 == k]
        with open(os.path.join(str(src), f"w{k}.json"), "w") as f:
            for d, t in wave:
                f.write(_json.dumps({"doc_id": d, "text": t}) + "\n")
        idx.run_available_now()
        last_wave = wave

    # 1 streamed index ≡ one-shot index
    streamed = {
        (r["doc_id"], r["term"]): r["tf"] for r in idx.tf().collect()
    }
    oneshot = {
        (r["doc_id"], r["term"]): r["tf"]
        for r in build_tf_index(docs).collect()
    }
    assert streamed == oneshot
    nd = idx.n_docs().collect()[0]["n_docs"]
    assert nd == len(rows)

    # 2 served ranking ≡ the registered batch query
    def key(rs):
        return sorted(
            (r["query_id"], r["doc_id"], r["bm25_micro"], r["n_terms_hit"], r["rank"])
            for r in rs
        )

    served = key(idx.topk().collect())
    batch = key(bm25_topk(spark, sf).collect())
    assert served == batch and served

    # 3 crash-replay of the last batch is a no-op
    replay = spark.createDataFrame(last_wave, "doc_id long, text string")
    idx._merge_batch(replay, 2)
    assert {
        (r["doc_id"], r["term"]): r["tf"] for r in idx.tf().collect()
    } == oneshot
    assert idx.n_docs().collect()[0]["n_docs"] == nd
    assert key(idx.topk().collect()) == batch

    # 4 the long-lived maintainer leaks no cached frames per serve: the
    # scorer's internal tf persist is scoped to the topk() call
    spark.catalog.clearCache()
    idx.topk().collect()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), "topk() left a cached frame behind"


def test_streaming_frontier_politeness_budgets_and_carry(spark, tmp_path):
    """Politeness dispatch e2e: per-tick host budgets are the EXACT
    largest-remainder apportionment of the tick budget over host
    masses, unused allowance banks (capped) and is spent on later
    ticks, dispatch follows discovery order per host, no URL dispatches
    twice, and a crash-replayed tick re-derives the identical dispatch
    and carry state."""
    import json as _json
    import os

    from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
        TableStore,
    )
    from data_ingestion_from_multiple_directories_linux_spark.streaming.frontier import (
        StreamingCrawlFrontier,
    )

    src = tmp_path / "polite_src"
    src.mkdir()

    def write_file(name, rows):
        with open(os.path.join(str(src), name), "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    hosts = ["a.example", "b.example", "c.example"]
    masses = spark.createDataFrame(
        [("a.example", 600), ("b.example", 300), ("c.example", 100)],
        "host string, mass long",
    )
    # budget 10 → exact largest-remainder: a=6, b=3, c=1
    fr = StreamingCrawlFrontier(
        spark,
        TableStore(spark, str(tmp_path / "wh")),
        str(src),
        str(tmp_path / "ckpt"),
        host_masses=masses,
        tick_budget=10,
        carry_cap_ticks=2,
    )

    def url(h, i):
        return f"https://{h}/p/{i}"

    # tick 0: a floods (10 pending), b floods (10), c gets 1
    wave1 = (
        [{"doc_id": i, "url": url("a.example", i)} for i in range(10)]
        + [{"doc_id": 100 + i, "url": url("b.example", i)} for i in range(10)]
        + [{"doc_id": 200, "url": url("c.example", 0)}]
    )
    write_file("w1.json", wave1)
    fr.run_available_now()
    d0 = fr.dispatched().collect()
    by_host0 = {}
    for r in d0:
        by_host0.setdefault(r["host"], []).append(r)
    assert {h: len(v) for h, v in by_host0.items()} == {
        "a.example": 6,
        "b.example": 3,
        "c.example": 1,
    }
    # discovery order per host: the OLDEST doc_ids dispatch first
    assert sorted(r["doc_id"] for r in by_host0["a.example"]) == list(range(6))
    assert sorted(r["doc_id"] for r in by_host0["b.example"]) == [100, 101, 102]
    # carry after tick 0: a,b exhausted → 0; c dispatched its only URL
    # with allowance 1 → 0
    carry0 = {
        r["host"]: r["carry"]
        for r in fr.store.read("crawl_frontier_carry").collect()
    }
    assert carry0 == {h: 0 for h in hosts}

    # tick 1: nothing new for c (its allowance banks), a/b drain backlog
    write_file("w2.json", [{"doc_id": 300, "url": url("a.example", 90)}])
    fr.run_available_now()
    d1 = [r for r in fr.dispatched().collect() if r["batch_id"] == 1]
    n1 = {}
    for r in d1:
        n1[r["host"]] = n1.get(r["host"], 0) + 1
    # a: 4 backlog + the new one = 5 pending, allowance 6 → 5 dispatch
    # b: 7 backlog, allowance 3 → 3; c: no pending, banks 1
    assert n1 == {"a.example": 5, "b.example": 3}
    carry1 = {
        r["host"]: r["carry"]
        for r in fr.store.read("crawl_frontier_carry")
        .filter("batch_id = 1")
        .collect()
    }
    assert carry1 == {"a.example": 1, "b.example": 0, "c.example": 1}

    # tick 2: c floods — it spends alloc 1 + banked 1 = 2
    write_file(
        "w3.json",
        [{"doc_id": 400 + i, "url": url("c.example", 10 + i)} for i in range(5)],
    )
    fr.run_available_now()
    d2 = [r for r in fr.dispatched().collect() if r["batch_id"] == 2]
    n2 = {}
    for r in d2:
        n2[r["host"]] = n2.get(r["host"], 0) + 1
    # a: alloc 6 + carry 1, pending 0 → banks min(7, 2*6) = 7? NO —
    # cap is 2×alloc=12, so carry grows 7... but pending was 0 this
    # tick: a dispatched nothing; b: 4 backlog, allowance 3 → 3;
    # c: 5 pending, allowance 2 → 2
    assert n2 == {"b.example": 3, "c.example": 2}
    # no URL ever dispatched twice
    all_urls = [r["url"] for r in fr.dispatched().collect()]
    assert len(all_urls) == len(set(all_urls))
    # every dispatched URL is in the frontier
    front = {r["url"] for r in fr.frontier().collect()}
    assert set(all_urls) <= front

    # crash-replay of tick 2 must be byte-identical (dispatch + carry)
    once_d = sorted(
        (r["batch_id"], r["host"], r["url"], r["doc_id"])
        for r in fr.dispatched().collect()
    )
    once_c = sorted(
        (r["batch_id"], r["host"], r["carry"])
        for r in fr.store.read("crawl_frontier_carry").collect()
    )
    wave3_df = spark.createDataFrame(
        [(400 + i, url("c.example", 10 + i)) for i in range(5)],
        "doc_id long, url string",
    )
    fr._process_batch(wave3_df, 2)
    twice_d = sorted(
        (r["batch_id"], r["host"], r["url"], r["doc_id"])
        for r in fr.dispatched().collect()
    )
    twice_c = sorted(
        (r["batch_id"], r["host"], r["carry"])
        for r in fr.store.read("crawl_frontier_carry").collect()
    )
    assert once_d == twice_d
    assert once_c == twice_c


def test_streaming_drift_monitor_matches_batch_dashboard(spark, tmp_path):
    """Mergeable-cells law for the drift audit, live: a document corpus
    ingested in two micro-batch waves produces bit-identical merged
    cells — and therefore a bit-identical chi-square dashboard — to the
    batch operator run over the same rows in one shot; replaying a
    batch id does not double-count."""
    import json as _json
    import os

    from data_ingestion_from_multiple_directories_linux_spark.operators.corpus_stats import (
        drift_from_cells,
        token_cells,
    )
    from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
        TableStore,
    )
    from data_ingestion_from_multiple_directories_linux_spark.streaming.drift_monitor import (
        StreamingDriftMonitor,
    )

    src = tmp_path / "drift_src"
    src.mkdir()

    def write_file(name, rows):
        with open(os.path.join(str(src), name), "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    wave1 = [
        {"doc_id": i, "source": f"src{i % 3}", "text": "alpha beta gamma " * (1 + i % 2)}
        for i in range(60)
    ]
    # wave 2 drifts src2: a token the other sources never emit
    wave2 = [
        {
            "doc_id": 100 + i,
            "source": "src2",
            "text": "spamtoken spamtoken beta",
        }
        for i in range(40)
    ] + [{"doc_id": 200, "source": None, "text": "ignored null source"}]

    store = TableStore(spark, str(tmp_path / "drift_wh"))
    mon = StreamingDriftMonitor(
        spark, store, str(src), str(tmp_path / "drift_ckpt")
    )
    write_file("w1.json", wave1)
    mon.run_available_now()
    write_file("w2.json", wave2)
    mon.run_available_now()

    def cell_dict(df):
        return {(r["source"], r["term"]): r["o"] for r in df.collect()}

    streamed = cell_dict(mon.cells())

    all_rows = spark.createDataFrame(
        [(r["doc_id"], r["source"], r["text"]) for r in wave1 + wave2],
        "doc_id long, source string, text string",
    ).filter("source IS NOT NULL")
    oneshot = cell_dict(token_cells(all_rows))
    assert streamed == oneshot

    # the dashboards agree bit-for-bit (same scoring function, same cells)
    def dash(df):
        return {
            (r["source"], r["term"]): (r["o"], r["contrib_micro"], r["rank"])
            for r in df.collect()
        }

    assert dash(mon.drift()) == dash(drift_from_cells(token_cells(all_rows)))

    # the planted drift token tops src2's dashboard
    top_src2 = [
        r
        for r in mon.drift().collect()
        if r["source"] == "src2" and r["rank"] == 1
    ]
    assert top_src2 and top_src2[0]["term"] == "spamtoken"

    # replaying a batch id replaces, never double-counts
    one_batch = spark.createDataFrame(
        [(r["doc_id"], r["source"], r["text"]) for r in wave2 if r["source"]],
        "doc_id long, source string, text string",
    )
    before = cell_dict(mon.cells())
    mon._merge_batch(one_batch, batch_id=1)
    assert cell_dict(mon.cells()) == before

    # compaction folds the settled wave: the dashboard is unchanged, and
    # the kept (highest) batch still crash-replays as a no-op
    dash_before = dash(mon.drift())
    mon.compact()
    assert dash(mon.drift()) == dash_before
    mon._merge_batch(one_batch, batch_id=1)
    assert cell_dict(mon.cells()) == before
    assert dash(mon.drift()) == dash_before


def test_streaming_bm25_compact_preserves_index_and_serving(spark, tmp_path):
    """compact() folds settled tf/doc segments into batch_id -1 with
    SUM-merge (the same law the read path applies), so the merged
    index, the doc count and the served ranking are bit-identical
    before and after; the highest batch stays un-folded and its replay
    still repairs; foreign scopes are untouched."""
    import json as _json
    import os

    from data_ingestion_from_multiple_directories_linux_spark.catalog import (
        load_table,
    )
    from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
        TableStore,
    )
    from data_ingestion_from_multiple_directories_linux_spark.streaming.bm25_stream import (
        BM25_DOC_PARTIALS,
        BM25_TF_PARTIALS,
        StreamingBM25Index,
    )

    sf = "/root/testdata/sf0.001"
    rows = [
        (r["doc_id"], r["text"])
        for r in load_table(spark, sf, "documents")
        .select("doc_id", "text")
        .collect()
    ]
    src = tmp_path / "src"
    src.mkdir()
    idx = StreamingBM25Index(
        spark,
        TableStore(spark, str(tmp_path / "wh")),
        str(src),
        str(tmp_path / "ckpt"),
    )
    last_wave = None
    for k in range(3):
        wave = [(d, t) for d, t in rows if d % 3 == k]
        with open(os.path.join(str(src), f"w{k}.json"), "w") as f:
            for d, t in wave:
                f.write(_json.dumps({"doc_id": d, "text": t}) + "\n")
        idx.run_available_now()
        last_wave = wave

    # a foreign scope's cell rides both tables — compact must keep it
    idx.store.append(
        BM25_DOC_PARTIALS,
        spark.createDataFrame(
            [("other-ckpt", 9, 42)],
            "checkpoint string, batch_id bigint, n_docs bigint",
        ),
    )

    tf_before = {(r["doc_id"], r["term"]): r["tf"] for r in idx.tf().collect()}
    nd_before = idx.n_docs().collect()[0]["n_docs"]
    topk_before = sorted(map(tuple, idx.topk().collect()))

    idx.compact()
    for table in (BM25_TF_PARTIALS, BM25_DOC_PARTIALS):
        mine = idx.store.read(table).filter(
            F.col("checkpoint") == idx.checkpoint_dir
        )
        got = {
            r["batch_id"]
            for r in mine.select("batch_id").distinct().collect()
        }
        assert got == {-1, 2}, (table, got)
    assert {
        (r["doc_id"], r["term"]): r["tf"] for r in idx.tf().collect()
    } == tf_before
    # the foreign doc cell still counts into the shared-read total and
    # survived the fold untouched
    assert idx.n_docs().collect()[0]["n_docs"] == nd_before
    other = idx.store.read(BM25_DOC_PARTIALS).filter(
        F.col("checkpoint") == "other-ckpt"
    ).collect()
    assert len(other) == 1 and other[0]["batch_id"] == 9
    assert sorted(map(tuple, idx.topk().collect())) == topk_before

    # the kept (highest) batch still crash-replays as a no-op
    replay = spark.createDataFrame(last_wave, "doc_id long, text string")
    idx._merge_batch(replay, 2)
    assert {
        (r["doc_id"], r["term"]): r["tf"] for r in idx.tf().collect()
    } == tf_before
    assert idx.n_docs().collect()[0]["n_docs"] == nd_before

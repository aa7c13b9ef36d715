"""End-to-end ingestion-engine tests (SURVEY.md §5 test strategy).

Synthetic JSON directory trees exercising the reference semantics:
G1 idempotency + failed-file auto-retry, G2 masking dispatch, G3 quarantine
partition property (valid + bad = input), G4 empty file, G8 malformed JSON,
F7 null normalization, M2 bulk requeue, M7 overwrite atomicity, the
(file_name, facility_id) audit keying, and queue-fairness ordering.

Layout per FIXTURES.md B1 / reference file_loader.py:264-265:
``<root>/<facility_id>/<table>_<batch>_<yyyymmddHHMMSS>.json``.
"""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from data_ingestion_from_multiple_directories_linux_spark.ingest.engine import (
    INGESTION_LOG,
    INGESTION_LOG_DDL,
    PIPELINE_LOG,
    STG_MONITORING,
    IngestionEngine,
    file_status,
    land_files,
    latest_attempts,
    pair_in,
)
from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import TableStore


def write_json(root: str, facility: str, file_name: str, records) -> str:
    fac_dir = os.path.join(root, facility)
    os.makedirs(fac_dir, exist_ok=True)
    path = os.path.join(fac_dir, file_name)
    with open(path, "w") as f:
        if isinstance(records, str):
            f.write(records)
        else:
            json.dump(records, f)
    return path


def patient(i: int, dob: str = "1990-01-01", archived: int = 0, **kw) -> dict:
    rec = {
        "id": i,
        "uuid": f"u-{i:04d}",
        "surname": f"Sur{i}",
        "first_name": f"First{i}",
        "other_name": None,
        "full_name": f"First{i} Sur{i}",
        "hospital_number": f"H{i:05d}",
        "nin_number": f"N{i:08d}",
        "date_of_birth": dob,
        "archived": archived,
        "facility_id": "FAC",
    }
    rec.update(kw)
    return rec


@pytest.fixture()
def engine(spark, tmp_path):
    return IngestionEngine(spark, str(tmp_path / "wh"), max_files_per_run=None)


@pytest.fixture()
def uploads(tmp_path) -> str:
    d = tmp_path / "uploads"
    d.mkdir()
    return str(d)


def test_happy_path_ingest_and_lineage(engine, uploads):
    write_json(uploads, "FAC001", "patient_person_0_20250103141949.json",
               [patient(i) for i in range(5)])
    rep = engine.run(uploads)
    assert rep.files_seen == 1
    assert rep.files_ingested == 1
    assert rep.files_failed == 0
    assert rep.records_ingested == 5

    stg = engine.store.read("stg_patient_person")
    assert stg.count() == 5
    row = stg.limit(1).collect()[0]
    assert row["stg_file_name"] == "patient_person_0_20250103141949.json"
    assert row["stg_datim_id"] == "FAC001"
    assert row["stg_batch_id"] == "0"
    assert row["stg_load_time"] is not None
    # G6 audit tables all written
    assert engine.store.read(INGESTION_LOG).count() == 1
    assert engine.store.read(STG_MONITORING).count() == 1
    assert engine.store.read(PIPELINE_LOG).count() == 1


def test_idempotency_second_run_noop(engine, uploads):
    write_json(uploads, "FAC001", "patient_person_0_20250103141949.json",
               [patient(i) for i in range(3)])
    engine.run(uploads)
    rep2 = engine.run(uploads)
    assert rep2.files_skipped == 1
    assert rep2.files_ingested == 0
    assert engine.store.read("stg_patient_person").count() == 3


def test_failed_file_auto_retries_without_duplicates(engine, uploads):
    """G1: a failed file that was FIXED (mtime newer than the failing
    attempt) is re-selected next run, and its prior partial rows are
    purged so the retry cannot duplicate staging data."""
    fn = "patient_person_0_20250103141949.json"
    # 2 valid rows + 1 bad date → valid rows ingest, file logs failed (G3)
    write_json(uploads, "FAC001", fn,
               [patient(0), patient(1), patient(2, dob="31/31/broken")])
    rep1 = engine.run(uploads)
    assert rep1.files_failed == 1
    assert engine.store.read("stg_patient_person").count() == 2
    assert engine.store.read("stg_patient_person_bad_dates").count() == 1

    # fix the file in place, rerun — no manual requeue needed
    write_json(uploads, "FAC001", fn, [patient(i) for i in range(3)])
    rep2 = engine.run(uploads)
    assert rep2.files_skipped == 0
    assert rep2.files_ingested == 1
    stg = engine.store.read("stg_patient_person")
    assert stg.count() == 3  # purged 2 partial rows, re-appended all 3
    assert stg.select("id").distinct().count() == 3
    # quarantined row purged on retry too (fully-empty table is dropped)
    assert not engine.store.exists("stg_patient_person_bad_dates")


def _partition_files(store, name) -> dict[str, dict[str, int]]:
    """{partition dir: {file name: mtime_ns}} of a partitioned table."""
    root = store.path(name)
    return {
        d: {f: os.stat(os.path.join(root, d, f)).st_mtime_ns
            for f in os.listdir(os.path.join(root, d))}
        for d in os.listdir(root) if "=" in d
    }


def _landed(store, name) -> list[tuple]:
    df = store.read(name).drop("stg_load_time")
    return sorted((tuple(r) for r in df.select(sorted(df.columns)).collect()), key=repr)


def test_retry_rewrites_only_its_facility_partitions(spark, engine, uploads, tmp_path):
    """A retried file rewrites only the facility partitions that held its
    rows: every other partition's parquet files keep their names and
    mtimes, a partition left empty is removed, and staging and
    quarantine end up row-equal to a clean one-shot load."""
    fn = "patient_person_0_20250103141949.json"
    write_json(uploads, "FAC001", fn, [patient(0), patient(1), patient(2, dob="bad")])
    # quarantined too, but never fixed: stays terminal, its partitions
    # must not be touched
    old = write_json(uploads, "FAC002", fn, [patient(10), patient(11, dob="bad")])
    os.utime(old, (1_000_000_000, 1_000_000_000))
    write_json(uploads, "FAC003", "patient_person_1_20250103141950.json", [patient(20)])
    engine.run(uploads)
    stg, bad = "stg_patient_person", "stg_patient_person_bad_dates"
    before = {t: _partition_files(engine.store, t) for t in (stg, bad)}

    write_json(uploads, "FAC001", fn, [patient(i) for i in range(3)])
    rep = engine.run(uploads)
    assert (rep.files_ingested, rep.files_failed, rep.files_skipped) == (1, 0, 2)
    after = {t: _partition_files(engine.store, t) for t in (stg, bad)}
    for d in ("stg_datim_id=FAC002", "stg_datim_id=FAC003"):
        assert after[stg][d] == before[stg][d]
    assert after[stg]["stg_datim_id=FAC001"] != before[stg]["stg_datim_id=FAC001"]
    # FAC001's quarantine partition emptied and removed; FAC002's kept
    assert after[bad] == {"stg_datim_id=FAC002": before[bad]["stg_datim_id=FAC002"]}

    clean = IngestionEngine(spark, str(tmp_path / "wh_clean"))
    clean.run(uploads)
    for t in (stg, bad):
        assert _landed(engine.store, t) == _landed(clean.store, t)


def test_retry_crash_mid_swap_repairs_and_converges(engine, uploads, monkeypatch):
    """Crash window of the partition swap: the retry dies after parking
    the old partition and before moving the new one in. repair()
    restores the parked partition, and the re-run converges to the
    clean rows with no residue."""
    fn = "patient_person_0_20250103141949.json"
    write_json(uploads, "FAC001", fn, [patient(0), patient(1), patient(2, dob="bad")])
    write_json(uploads, "FAC002", "patient_person_1_20250103141950.json", [patient(20)])
    engine.run(uploads)
    stg = "stg_patient_person"

    rename = os.rename

    def crash_on_move_in(src, dst):
        if ".dpo-" in src and ".dpo-old-" not in src:
            raise OSError("killed mid-swap")
        rename(src, dst)

    write_json(uploads, "FAC001", fn, [patient(i) for i in range(3)])
    monkeypatch.setattr(os, "rename", crash_on_move_in)
    rep = engine.run(uploads)
    monkeypatch.setattr(os, "rename", rename)
    assert "killed mid-swap" in rep.errors[f"FAC001/{fn}"]
    assert set(_partition_files(engine.store, stg)) == {"stg_datim_id=FAC002"}

    assert engine.store.repair(stg)["restored"] == ["stg_datim_id=FAC001"]
    assert engine.store.read(stg).count() == 3  # the pre-retry rows
    # re-uploaded after the crashed attempt → re-selected
    write_json(uploads, "FAC001", fn, [patient(i) for i in range(3)])
    rep = engine.run(uploads)
    assert rep.files_ingested == 1 and rep.files_failed == 0
    got = sorted((r["stg_datim_id"], r["id"]) for r in engine.store.read(stg).collect())
    assert got == [("FAC001", 0), ("FAC001", 1), ("FAC001", 2), ("FAC002", 20)]
    assert not engine.store.exists("stg_patient_person_bad_dates")
    assert not [d for d in os.listdir(engine.store.root) if d.startswith(".stg_")]


def test_run_killed_before_its_audit_append_reruns_like_a_clean_run(
    spark, uploads, tmp_path, monkeypatch
):
    """Crash window between a run's staging write and its ingestion-log
    append: the selected files stay logged 'loading', so the rerun
    re-lands them as retries. Staging, quarantine and each file's latest
    status then equal a clean run's, with no duplicated rows."""
    write_json(uploads, "FAC001", "patient_person_0_20250103141949.json",
               [patient(0), patient(1), patient(2, dob="bad")])
    write_json(uploads, "FAC002", "patient_person_1_20250103141950.json", [patient(20)])
    pairs = [("patient_person_0_20250103141949.json", "FAC001"),
             ("patient_person_1_20250103141950.json", "FAC002")]
    clean = IngestionEngine(spark, str(tmp_path / "clean"))
    clean.run(uploads)

    engine = IngestionEngine(spark, str(tmp_path / "wh"))
    append_rows = engine.store.append_rows

    def killed_before_audit(name, rows, ddl):
        if name == INGESTION_LOG and rows and isinstance(rows[0], dict):  # audit rows
            raise RuntimeError("killed before the audit append")
        return append_rows(name, rows, ddl)

    monkeypatch.setattr(engine.store, "append_rows", killed_before_audit)
    with pytest.raises(RuntimeError, match="killed"):
        engine.run(uploads)
    monkeypatch.undo()
    assert engine.store.read("stg_patient_person").count() == 3  # landed, unaudited

    rep = engine.run(uploads)
    assert (rep.files_ingested, rep.files_failed) == (1, 1)
    for name in ("stg_patient_person", "stg_patient_person_bad_dates"):
        assert _landed(engine.store, name) == _landed(clean.store, name)

    def latest(store):
        return {p: status for p, (status, _) in file_status(store, pairs).items()}

    assert latest(engine.store) == latest(clean.store) == {
        pairs[0]: "failed", pairs[1]: "success"
    }


def test_quarantine_write_error_waits_for_staging_and_requeue_reruns_clean(
    spark, uploads, tmp_path, monkeypatch
):
    """Staging and quarantine land side by side: a quarantine write that
    raises surfaces from land_files only after the staging write has
    finished, every file of the table is logged failed, and
    requeue_failed plus a rerun equals a clean run."""
    write_json(uploads, "FAC001", "patient_person_0_20250103141949.json",
               [patient(0), patient(1), patient(2, dob="bad")])
    write_json(uploads, "FAC002", "patient_person_1_20250103141950.json", [patient(20)])
    pairs = [("patient_person_0_20250103141949.json", "FAC001"),
             ("patient_person_1_20250103141950.json", "FAC002")]
    clean = IngestionEngine(spark, str(tmp_path / "clean"))
    clean.run(uploads)

    engine = IngestionEngine(spark, str(tmp_path / "wh"))
    append = engine.store.append
    staged = threading.Event()

    def quarantine_fails(name, df, *args, **kw):
        if name.endswith("_bad_dates"):
            raise OSError("quarantine volume full")
        append(name, df, *args, **kw)
        staged.set()

    staged_when_raised = []

    def watched(*args, **kw):
        try:
            return land_files(*args, **kw)
        except OSError:
            staged_when_raised.append(staged.is_set())
            raise

    monkeypatch.setattr(engine.store, "append", quarantine_fails)
    monkeypatch.setattr(
        "data_ingestion_from_multiple_directories_linux_spark.ingest.engine.land_files",
        watched,
    )
    rep = engine.run(uploads)
    monkeypatch.undo()
    assert staged_when_raised == [True]
    assert rep.files_failed == 2
    assert all("quarantine volume full" in e for e in rep.errors.values())

    assert engine.requeue_failed() == 2
    rep = engine.run(uploads)
    assert (rep.files_ingested, rep.files_failed) == (1, 1)
    for name in ("stg_patient_person", "stg_patient_person_bad_dates"):
        assert _landed(engine.store, name) == _landed(clean.store, name)

    def latest(store):
        return {p: status for p, (status, _) in file_status(store, pairs).items()}

    assert latest(engine.store) == latest(clean.store)


#: names a quoting, escaping or splitting bug would mangle
HOSTILE_NAMES = ["it's.json", "a,b.json", "back\\slash.json", "new\nline.json",
                 "50%_off.json", "a+b.json", "données_日本.json", "[x].*"]


def test_pair_in_matches_hostile_names_exactly_as_an_inset(spark, tmp_path):
    pairs = {(fn, fac) for fn in HOSTILE_NAMES for fac in ("FAC'1", "F%3A:9")}
    # near misses: prefixes of the hostile names, and a third facility
    rows = [(fn, fac) for fn in HOSTILE_NAMES + ["it", "a", "new", "back"]
            for fac in ("FAC'1", "F%3A:9", "FAC")]
    path = str(tmp_path / "keys")
    spark.createDataFrame(rows, "file_name string, facility_id string").write.parquet(path)
    hit = spark.read.parquet(path).filter(pair_in(("file_name", "facility_id"), pairs))
    assert sorted(tuple(r) for r in hit.collect()) == sorted(pairs)
    assert "INSET" in hit._jdf.queryExecution().optimizedPlan().toString()


def test_numeric_facility_round_trips_and_retries_alone(engine, uploads):
    """Partition type inference would read ``stg_datim_id=007`` back as
    the integer 7, colliding with facility ``7``: staging keeps the
    facility string, and a retry in ``007`` purges only its own rows."""
    fn = "patient_person_0_20250103141949.json"
    write_json(uploads, "007", fn, [patient(0), patient(1), patient(2, dob="bad")])
    write_json(uploads, "7", fn, [patient(5), patient(6)])
    engine.run(uploads)
    stg = engine.store.read("stg_patient_person")
    assert dict(stg.dtypes)["stg_datim_id"] == "string"
    assert {r["stg_datim_id"] for r in stg.collect()} == {"007", "7"}

    write_json(uploads, "007", fn, [patient(i) for i in range(3)])
    engine.run(uploads)
    got = sorted(
        (r["stg_datim_id"], r["id"])
        for r in engine.store.read("stg_patient_person").collect()
    )
    assert got == [("007", 0), ("007", 1), ("007", 2), ("7", 5), ("7", 6)]


def test_unregistered_retry_keeps_columns_of_untouched_rows(spark, engine, uploads, tmp_path):
    """An unregistered table infers each batch's schema. A retry whose
    re-upload drops column ``b`` rewrites the partition it shares with
    another file's rows: those kept rows (staged and quarantined) keep
    their ``b``, and both tables equal a clean one-shot load."""
    w1 = write_json(uploads, "FAC001", "widget_1_20250103141949.json", [
        {"id": 1, "a": "x", "b": "keep-me", "visit_date": "2024-01-01"},
        {"id": 4, "a": "q", "b": "keep-bad", "visit_date": "bad"},
    ])
    os.utime(w1, (1_000_000_000, 1_000_000_000))  # failed, never fixed
    fn = "widget_2_20250103141950.json"
    write_json(uploads, "FAC001", fn, [
        {"id": 2, "a": "y", "b": "z", "visit_date": "2024-01-02"},
        {"id": 3, "a": "w", "b": "v", "visit_date": "bad"},
    ])
    assert engine.run(uploads).files_failed == 2

    write_json(uploads, "FAC001", fn, [
        {"id": 2, "a": "y", "visit_date": "2024-01-02"},
        {"id": 3, "a": "w", "visit_date": "2024-01-03"},
    ])
    rep = engine.run(uploads)
    assert (rep.files_ingested, rep.files_failed, rep.files_skipped) == (1, 0, 1)
    stg, bad = "stg_widget", "stg_widget_bad_dates"
    got = sorted(tuple(r) for r in engine.store.read(stg).select("id", "a", "b").collect())
    assert got == [(1, "x", "keep-me"), (2, "y", None), (3, "w", None)]
    assert [tuple(r) for r in engine.store.read(bad).select("id", "b").collect()] == [
        (4, "keep-bad")
    ]

    clean = IngestionEngine(spark, str(tmp_path / "wh_clean"))
    clean.run(uploads)
    for t in (stg, bad):
        assert _landed(engine.store, t) == _landed(clean.store, t)


def test_whole_table_read_keeps_a_column_a_later_partition_added(engine, uploads):
    """An unregistered table infers each batch's schema: a later batch
    that lands column ``c`` under another facility shows it in a
    whole-table read, beside the earlier batch's ``b``."""
    write_json(uploads, "FAC001", "widget_1_20250103141949.json",
               [{"id": 1, "a": "x", "b": "y"}])
    engine.run(uploads)
    write_json(uploads, "FAC002", "widget_2_20250103141950.json",
               [{"id": 2, "a": "p", "c": "q"}])
    assert engine.run(uploads).files_ingested == 1
    got = engine.store.read("stg_widget")
    assert {"a", "b", "c"} <= set(got.columns)
    assert sorted(tuple(r) for r in got.select("id", "a", "b", "c").collect()) == [
        (1, "x", "y", None), (2, "p", None, "q")
    ]


def test_same_filename_two_facilities_distinct_audit(engine, uploads):
    """(file_name, facility_id) keying: identical filenames uploaded by two
    facilities are two work items with per-facility counts
    (reference file_loader.py:328-336)."""
    fn = "patient_person_0_20250103141949.json"
    write_json(uploads, "FAC001", fn, [patient(i) for i in range(2)])
    write_json(uploads, "FAC002", fn, [patient(i) for i in range(5)])
    rep = engine.run(uploads)
    assert rep.files_ingested == 2
    log = engine.store.read(INGESTION_LOG)
    rows = {r["facility_id"]: r["json_rec_count"] for r in log.collect()}
    assert rows == {"FAC001": 2, "FAC002": 5}
    stg = engine.store.read("stg_patient_person")
    by_fac = {
        r["stg_datim_id"]: r["count"]
        for r in stg.groupBy("stg_datim_id").count().collect()
    }
    assert by_fac == {"FAC001": 2, "FAC002": 5}


def test_masking_dispatch_patient_person(engine, uploads):
    """G2 + P4: stg_patient_person name columns overwritten with '******'
    (file_loader.py:615-621)."""
    write_json(uploads, "FAC001", "patient_person_0_20250103141949.json",
               [patient(1)])
    engine.run(uploads)
    row = engine.store.read("stg_patient_person").collect()[0]
    for c in ("surname", "first_name", "full_name", "hospital_number", "nin_number"):
        assert row[c] == "******", c
    assert row["uuid"] == "u-0001"  # non-PII untouched


def test_masking_dispatch_hts_client_struct(engine, uploads):
    """C11: extra.value JSON payload masked in place, extra.type kept
    (file_loader.py:606)."""
    recs = [
        {
            "id": 1,
            "uuid": "u1",
            "date_visit": "2024-05-01",
            "extra": {
                "type": "demo",
                "value": json.dumps(
                    {"surname": "Secret", "phone_number": "0801", "note": "keep"}
                ),
            },
        }
    ]
    write_json(uploads, "FAC001", "hts_client_0_20250103141949.json", recs)
    engine.run(uploads)
    row = engine.store.read("stg_hts_client").collect()[0]
    assert row["extra"]["type"] == "demo"
    masked = json.loads(row["extra"]["value"])
    assert masked["surname"] == "******"
    assert masked["phone_number"] == "******"
    assert masked["note"] == "keep"


def test_biometric_column_exclusion(engine, uploads):
    """P1: match_* columns dropped before load (file_loader.py:600-603)."""
    recs = [
        {
            "id": 1, "uuid": "u1", "match_type": "x", "match_person_uuid": "y",
            "match_biometric_id": "z", "date_enrollment": "2024-01-01",
            "template": "T",
        }
    ]
    write_json(uploads, "FAC001", "biometric_0_20250103141949.json", recs)
    engine.run(uploads)
    cols = engine.store.read("stg_biometric").columns
    assert "match_type" not in cols
    assert "match_person_uuid" not in cols
    assert "match_biometric_id" not in cols
    assert "template" in cols


def test_quarantine_partition_property(engine, uploads):
    """G3: every input row lands in exactly one of stg_<t> / stg_<t>_bad_dates;
    the file logs failed with the bad count (file_loader.py:624-653)."""
    n_good, n_bad = 7, 3
    recs = [patient(i) for i in range(n_good)] + [
        patient(100 + j, dob=f"bad-date-{j}") for j in range(n_bad)
    ]
    write_json(uploads, "FAC001", "patient_person_0_20250103141949.json", recs)
    rep = engine.run(uploads)
    valid = engine.store.read("stg_patient_person")
    bad = engine.store.read("stg_patient_person_bad_dates")
    assert valid.count() == n_good
    assert bad.count() == n_bad
    assert valid.count() + bad.count() == len(recs)
    # valid side got real timestamp casts; quarantine keeps raw strings
    assert dict(valid.dtypes)["date_of_birth"] == "timestamp"
    assert dict(bad.dtypes)["date_of_birth"] == "string"
    log = engine.store.read(INGESTION_LOG).collect()[0]
    assert log["status"] == "failed"
    assert log["bad_rec_count"] == n_bad
    assert "date validation" in log["error_message"]
    assert rep.records_quarantined == n_bad


def test_empty_file_logged(engine, uploads):
    write_json(uploads, "FAC001", "patient_person_0_20250103141949.json", [])
    rep = engine.run(uploads)
    assert rep.files_failed == 1
    log = engine.store.read(INGESTION_LOG).collect()[0]
    assert log["status"] == "failed"
    assert log["error_message"] == "JSON file is empty"
    assert not engine.store.exists("stg_patient_person")


def test_all_null_rows_distinct_message(engine, uploads):
    """A non-empty file whose rows all cleanse to null is distinguished from
    a truly empty file (ADVICE: misleading 'empty' triage message).

    Uses biometric (exclusion-only transform) — masked tables like
    patient_person overwrite columns with '******' *before* the all-null
    drop, mirroring the reference's transform→dropna order, so their rows
    are never all-null."""
    keys = ("id", "uuid", "match_type", "match_person_uuid",
            "match_biometric_id", "date_enrollment", "template")
    recs = [{k: None for k in keys} for _ in range(2)]
    write_json(uploads, "FAC001", "biometric_0_20250103141949.json", recs)
    engine.run(uploads)
    log = engine.store.read(INGESTION_LOG).collect()[0]
    assert log["status"] == "failed"
    assert log["error_message"] == "all rows null after cleansing"


def test_malformed_json_logged(engine, uploads):
    write_json(uploads, "FAC001", "patient_person_0_20250103141949.json",
               "{this is [ not json")
    rep = engine.run(uploads)
    assert rep.files_failed == 1
    log = engine.store.read(INGESTION_LOG).collect()[0]
    assert log["status"] == "failed"
    assert log["error_message"] == "malformed JSON"


def test_malformed_file_does_not_block_siblings(engine, uploads):
    """G8/per-table isolation: a bad file fails alone; clean files in the
    same run still ingest (file_loader.py:426-439 logs and continues)."""
    write_json(uploads, "FAC001", "patient_person_0_20250103141949.json",
               "NOT JSON AT ALL")
    write_json(uploads, "FAC001", "patient_person_1_20250103142050.json",
               [patient(i) for i in range(4)])
    rep = engine.run(uploads)
    assert rep.files_failed == 1
    assert rep.files_ingested == 1
    assert engine.store.read("stg_patient_person").count() == 4


def test_null_sentinel_normalization_on_ingest(engine, uploads):
    """F7: ''/' '/'null' string values arrive as NULL in staging
    (file_loader.py:477-496)."""
    def bio(i: int, template) -> dict:
        return {"id": i, "uuid": f"u{i}", "match_type": "m", "match_person_uuid": "p",
                "match_biometric_id": "b", "date_enrollment": "2024-01-01",
                "template": template}

    recs = [bio(1, ""), bio(2, " "), bio(3, "null"), bio(4, "real")]
    write_json(uploads, "FAC001", "biometric_0_20250103141949.json", recs)
    engine.run(uploads)
    vals = {
        r["id"]: r["template"]
        for r in engine.store.read("stg_biometric").select("id", "template").collect()
    }
    assert vals == {1: None, 2: None, 3: None, 4: "real"}


def _latest_statuses(store) -> dict[tuple[str, str], str]:
    """{(file, facility): status} of each file's latest logged attempt."""
    return {
        (r["file_name"], r["facility_id"]): r["status"]
        for r in latest_attempts(store.read(INGESTION_LOG)).collect()
    }


def test_requeue_failed_bulk_update(engine, uploads):
    """M2: analyst bulk-requeue moves failed → requeued
    (file_ingestion_summary_report.sql:63-67) by appending one
    'requeued' attempt row per failed file."""
    write_json(uploads, "FAC001", "patient_person_0_20250103141949.json", [])
    engine.run(uploads)
    n = engine.requeue_failed()
    assert n == 1
    statuses = set(_latest_statuses(engine.store).values())
    assert statuses == {"requeued"}
    assert engine.store.read(INGESTION_LOG).count() == 2
    assert engine.requeue_failed(like_pattern="nomatch%") == 0
    assert engine.store.read(INGESTION_LOG).count() == 2


def test_requeue_copies_the_failed_attempt_and_keeps_the_summary_totals(engine, uploads):
    """The requeued row is the failed attempt with a new status and a
    later end time, so the summary report's record totals stand."""
    write_json(uploads, "FAC001", "patient_person_0_20250103141949.json",
               [patient(0), patient(1, dob="bad")])
    engine.run(uploads)
    before = engine.write_summary_report().collect()[0]
    assert engine.requeue_failed(like_pattern="PATIENT_person%") == 1
    failed, requeued = sorted(
        engine.store.read(INGESTION_LOG).collect(), key=lambda r: r["load_end_time"]
    )
    assert requeued["status"] == "requeued"
    assert requeued["load_end_time"] > failed["load_end_time"]
    keep = [c for c in failed.asDict() if c not in ("status", "load_end_time")]
    assert [requeued[c] for c in keep] == [failed[c] for c in keep]
    after = engine.write_summary_report().orderBy("report_time").collect()[-1]
    assert (after["n_failed"], after["n_requeued"]) == (0, 1)
    for col in ("total_files", "records_ingested", "records_quarantined"):
        assert after[col] == before[col]


def test_requeue_keeps_a_log_row_appended_after_its_read(engine, uploads, monkeypatch):
    """requeue_failed only appends to the ingestion log, so an audit
    row another writer appends after the requeue has read the log (as
    a concurrent run's audit append would) survives."""
    from datetime import datetime

    fn = "patient_person_0_20250103141949.json"
    write_json(uploads, "FAC001", fn, [])
    engine.run(uploads)
    other = ("patient_person_1_20250103141950.json", "FAC002")
    now = datetime.now()
    read = engine.store.read

    def read_then_append(name, *args, **kw):
        df = read(name, *args, **kw)
        if name == INGESTION_LOG:
            engine.store.append_rows(
                INGESTION_LOG,
                [(*other, "stg_patient_person", "1", "success", 1, 0, None, now, now)],
                INGESTION_LOG_DDL,
            )
        return df

    monkeypatch.setattr(engine.store, "read", read_then_append)
    assert engine.requeue_failed() == 1
    monkeypatch.undo()
    assert _latest_statuses(engine.store) == {
        (fn, "FAC001"): "requeued", other: "success"
    }
    assert engine.store.read(INGESTION_LOG).count() == 3


def test_requeue_skips_a_failed_file_that_later_succeeded(engine, uploads):
    """Only a file whose LATEST attempt failed is requeued: a file that
    failed, was fixed and then landed keeps 'success'."""
    fn = "patient_person_0_20250103141949.json"
    write_json(uploads, "FAC001", fn, [patient(0), patient(1, dob="bad")])
    assert engine.run(uploads).files_failed == 1
    write_json(uploads, "FAC001", fn, [patient(0), patient(1)])
    assert engine.run(uploads).files_ingested == 1
    assert engine.requeue_failed() == 0
    assert _latest_statuses(engine.store) == {(fn, "FAC001"): "success"}


def test_unmodified_failed_file_is_terminal_until_requeue(engine, uploads):
    """Failed is terminal for an UNCHANGED file (reference: processed=-2
    stays until the manual requeue SQL): a permanently-malformed file
    fails once, is skipped on subsequent runs, and only requeue_failed
    reopens it."""
    fn = "patient_person_0_20250103141949.json"
    path = write_json(uploads, "FAC001", fn, [])  # empty → fails
    import os

    # pin mtime BEFORE the run so it is strictly older than the attempt
    os.utime(path, (1_000_000_000, 1_000_000_000))
    rep1 = engine.run(uploads)
    assert rep1.files_failed == 1

    # unchanged file: NOT re-selected, no new audit rows accumulate
    rep2 = engine.run(uploads)
    assert rep2.files_ingested == 0 and rep2.files_failed == 0
    assert rep2.files_skipped == 1
    assert engine.store.read(INGESTION_LOG).count() == 1

    # analyst requeue reopens it (still empty → fails again, once):
    # one attempt row each for the failure, the requeue and the rerun
    assert engine.requeue_failed() == 1
    rep3 = engine.run(uploads)
    assert rep3.files_failed == 1
    assert _latest_statuses(engine.store) == {(fn, "FAC001"): "failed"}
    assert engine.store.read(INGESTION_LOG).count() == 3


def test_queue_fairness_oldest_timestamp_first(spark, tmp_path):
    """O1: with a run cap, the oldest filename-timestamp file is selected
    first (file_loader.py:254 ORDER BY modified_date, file_name)."""
    uploads = str(tmp_path / "up")
    engine = IngestionEngine(spark, str(tmp_path / "wh"), max_files_per_run=1)
    write_json(uploads, "FAC001", "patient_person_1_20250601000000.json",
               [patient(1)])
    write_json(uploads, "FAC001", "patient_person_0_20250103141949.json",
               [patient(0)])
    rep = engine.run(uploads)
    assert rep.files_ingested == 1
    log = engine.store.read(INGESTION_LOG).collect()
    assert len(log) == 1
    assert log[0]["file_name"] == "patient_person_0_20250103141949.json"


def test_table_store_overwrite_atomic_roundtrip(spark, tmp_path):
    """M7: read-modify-write via write-temp-swap — derived-from-self
    overwrite must not corrupt, table stays readable with new contents."""
    store = TableStore(spark, str(tmp_path / "wh"))
    df = spark.range(10).withColumn("flag", F.lit("old"))
    store.append("t", df)
    cur = store.read("t")
    store.overwrite("t", cur.filter(F.col("id") < 5).withColumn("flag", F.lit("new")))
    out = store.read("t")
    assert out.count() == 5
    assert {r["flag"] for r in out.collect()} == {"new"}
    # no tmp/trash dirs left behind
    leftovers = [d for d in os.listdir(str(tmp_path / "wh")) if d.startswith(".")]
    assert leftovers == []


def test_unknown_table_schema_inference(engine, uploads):
    """Unregistered table → schema-on-read inference with string fallback
    (file_loader.py:580 tolerance)."""
    recs = [{"id": 1, "name": "a", "date_event": "2024-01-01"},
            {"id": 2, "name": "b", "date_event": "2024-06-30"}]
    write_json(uploads, "FAC001", "mystery_table_0_20250103141949.json", recs)
    rep = engine.run(uploads)
    assert rep.files_ingested == 1
    stg = engine.store.read("stg_mystery_table")
    assert stg.count() == 2
    assert dict(stg.dtypes)["date_event"] == "timestamp"  # discovered + cast


def test_patient_count_refresh(engine, uploads):
    """A2/M1: COUNT(DISTINCT uuid) WHERE archived=0 per facility →
    central_partner_mapping overwrite (file_loader.py:199-232)."""
    recs = [patient(i) for i in range(4)] + [patient(9, archived=1)]
    write_json(uploads, "FAC001", "patient_person_0_20250103141949.json", recs)
    engine.run(uploads)
    out = engine.refresh_patient_counts()
    row = out.collect()[0]
    assert row["datim_id"] == "FAC001"
    assert row["patient_count"] == 4  # archived row excluded


def test_multi_table_run_parallel_submission(engine, uploads):
    """G5: several target tables in one run (submitted from the thread
    pool) each land in their own staging table with correct audit rows."""
    write_json(uploads, "FAC001", "patient_person_0_20250103141949.json",
               [patient(i) for i in range(3)])
    write_json(uploads, "FAC001", "hts_index_elicitation_0_20250103141950.json",
               [{"id": i, "last_name": f"L{i}", "first_name": f"F{i}",
                 "middle_name": None, "phone_number": f"080{i}",
                 "alt_phone_number": None, "date_created": "2024-01-01"}
                for i in range(2)])
    write_json(uploads, "FAC002", "mhpss_confirmation_0_20250103141951.json",
               [{"id": 1, "note": "ok", "date_created": "2024-01-01"}])
    rep = engine.run(uploads)
    assert rep.files_ingested == 3
    assert rep.files_failed == 0
    assert engine.store.read("stg_patient_person").count() == 3
    assert engine.store.read("stg_hts_index_elicitation").count() == 2
    assert engine.store.read("stg_mhpss_confirmation").count() == 1
    # audit rows cover all three tables, one row per file
    log = engine.store.read(INGESTION_LOG)
    assert log.count() == 3
    assert {r["table_name"] for r in log.collect()} == {
        "stg_patient_person", "stg_hts_index_elicitation", "stg_mhpss_confirmation"
    }
    # masking dispatch still applied on the pooled path
    masked = engine.store.read("stg_hts_index_elicitation").collect()
    assert all(r["last_name"] == "******" for r in masked)


def test_encoded_names_audit_and_lineage_match(spark, tmp_path):
    """Review finding, pinned: facility dirs / file names containing
    spaces or '+' come back percent-encoded from input_file_name(), so
    the lineage columns must DECODE them — otherwise the audit join
    misses (file logged 'empty' despite landing rows) and retry purges
    key on the wrong name (duplicates)."""
    from data_ingestion_from_multiple_directories_linux_spark.ingest.engine import (
        IngestionEngine,
    )

    root = str(tmp_path / "enc")
    fac = "FAC 01+x"
    write_json(root, fac, "patient_person_0_20250103141949.json",
               [patient(i) for i in range(3)])
    eng = IngestionEngine(spark, str(tmp_path / "encwh"))
    rep = eng.run(root)
    assert rep.files_ingested == 1 and rep.files_failed == 0
    stg = eng.store.read("stg_patient_person").collect()
    assert len(stg) == 3
    assert all(r["stg_datim_id"] == fac for r in stg)
    assert all(
        r["stg_file_name"] == "patient_person_0_20250103141949.json"
        for r in stg
    )
    log = eng.store.read(INGESTION_LOG).collect()
    assert len(log) == 1
    assert log[0]["facility_id"] == fac
    assert log[0]["status"] == "success"
    assert log[0]["json_rec_count"] == 3
    # idempotency keys also line up: a rerun skips the file
    rep2 = eng.run(root)
    assert rep2.files_ingested == 0 and rep2.files_skipped == 1
    assert eng.store.read("stg_patient_person").count() == 3


def test_retry_in_escaped_facility_dirs_leaves_no_duplicates(spark, tmp_path):
    """Spark escapes '%' and ':' in partition dir names
    (``stg_datim_id=F%253A%3A9``); the retry probe unescapes them, so a
    retry there purges its earlier rows like anywhere else."""
    root = str(tmp_path / "esc")
    fn = "patient_person_0_20250103141949.json"
    facs = ("F%3A:9", "FAC 01+x")
    for fac in facs:
        write_json(root, fac, fn, [patient(0), patient(1), patient(2, dob="bad")])
    eng = IngestionEngine(spark, str(tmp_path / "escwh"))
    eng.run(root)
    assert "stg_datim_id=F%253A%3A9" in os.listdir(eng.store.path("stg_patient_person"))

    for fac in facs:
        write_json(root, fac, fn, [patient(i) for i in range(3)])
    rep = eng.run(root)
    assert rep.files_ingested == 2 and rep.files_failed == 0
    got = sorted(
        (r["stg_datim_id"], r["id"])
        for r in eng.store.read("stg_patient_person").collect()
    )
    assert got == sorted((fac, i) for fac in facs for i in range(3))
    assert not eng.store.exists("stg_patient_person_bad_dates")


def test_serial_submission_equals_concurrent(spark, tmp_path):
    """G5 correctness leg of the concurrency bench: submit_workers=1
    (forced serial driver loop) lands row-identical staging tables and
    the same audit outcomes as the default thread-pool fan-out."""
    from data_ingestion_from_multiple_directories_linux_spark.ingest.engine import (
        IngestionEngine,
    )

    def seed(root):
        write_json(root, "FAC001", "patient_person_0_20250103141949.json",
                   [patient(i) for i in range(3)])
        write_json(root, "FAC002", "mhpss_confirmation_0_20250103141951.json",
                   [{"id": 1, "note": "ok", "date_created": "2024-01-01"}])

    results = {}
    for label, workers in (("serial", 1), ("pool", None)):
        root = str(tmp_path / f"up_{label}")
        seed(root)
        eng = IngestionEngine(
            spark, str(tmp_path / f"wh_{label}"), submit_workers=workers
        )
        rep = eng.run(root)
        assert rep.files_ingested == 2 and rep.files_failed == 0
        results[label] = {
            t: sorted(
                tuple(r[c] for c in ("id",)) for r in eng.store.read(t).collect()
            )
            for t in ("stg_patient_person", "stg_mhpss_confirmation")
        }
    assert results["serial"] == results["pool"]

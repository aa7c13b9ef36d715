"""Tests for maintenance/retention operators (M5, M6, K3, C15) over
TableStore fixtures + the ingestion engine's outputs."""

from __future__ import annotations

import csv
import glob
import json
import os
from datetime import datetime

from pyspark.sql import functions as F

from data_ingestion_from_multiple_directories_linux_spark.ingest.engine import (
    INGESTION_LOG,
    INGESTION_LOG_DDL,
    IngestionEngine,
)
from data_ingestion_from_multiple_directories_linux_spark.operators.maintenance import (
    FILE_DELETION_LOG,
    delete_migrated_records,
    delete_processed_files,
    export_bad_dates_csv,
    size_pretty,
    table_sizes_pretty,
)
from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import TableStore
from tests.test_ingest_engine import patient, write_json


def test_delete_migrated_records(spark, tmp_path):
    """M5: rows whose uuid reached the ODS are removed from every stg_*
    table; unmigrated rows and excluded tables survive."""
    store = TableStore(spark, str(tmp_path / "wh"))
    store.append(
        "stg_alpha",
        spark.createDataFrame(
            [(i, f"u-{i}") for i in range(10)], "id long, uuid string"
        ),
    )
    store.append(
        "stg_beta",
        spark.createDataFrame(
            [(i, f"u-{i}") for i in range(4)], "id long, uuid string"
        ),
    )
    store.append(  # no uuid column → skipped
        "stg_nokey", spark.createDataFrame([(1,)], "id long")
    )
    migrated = spark.createDataFrame(
        [(f"u-{i}",) for i in range(0, 10, 2)], "uuid string"
    )
    deleted = delete_migrated_records(store, migrated)
    assert deleted == {"stg_alpha": 5, "stg_beta": 2}
    assert store.read("stg_alpha").count() == 5
    assert {r["uuid"] for r in store.read("stg_alpha").collect()} == {
        f"u-{i}" for i in range(1, 10, 2)
    }
    assert store.read("stg_nokey").count() == 1


def test_delete_migrated_drops_fully_migrated_table(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh"))
    store.append(
        "stg_all_gone",
        spark.createDataFrame([(1, "u-1")], "id long, uuid string"),
    )
    migrated = spark.createDataFrame([("u-1",)], "uuid string")
    deleted = delete_migrated_records(store, migrated)
    assert deleted == {"stg_all_gone": 1}
    assert not store.exists("stg_all_gone")


def test_retention_deletes_processed_files_once(spark, tmp_path):
    """M6: terminal files with no deletion-log row are counted, removed,
    and logged; a second run is a no-op (anti join vs the log)."""
    uploads = str(tmp_path / "up")
    eng = IngestionEngine(spark, str(tmp_path / "wh"), max_files_per_run=None)
    p1 = write_json(uploads, "FAC001", "patient_person_0_20250103141949.json",
                    [patient(i) for i in range(3)])
    p2 = write_json(uploads, "FAC002", "patient_person_0_20250103141950.json",
                    [patient(9)])
    eng.run(uploads)

    log = eng.store.read(INGESTION_LOG)
    rep = delete_processed_files(spark, eng.store, log, uploads)
    assert rep.files_deleted == 2
    assert rep.records_counted == 4
    assert not os.path.exists(p1) and not os.path.exists(p2)
    dlog = eng.store.read(FILE_DELETION_LOG)
    assert dlog.count() == 2
    assert {r["status"] for r in dlog.collect()} == {"deleted"}

    rep2 = delete_processed_files(spark, eng.store, log, uploads)
    assert rep2.files_deleted == 0 and rep2.files_missing == 0
    assert eng.store.read(FILE_DELETION_LOG).count() == 2


def test_retention_reads_each_files_latest_attempt(spark, tmp_path):
    """Terminal means the LATEST attempt ended success/failed: a file
    re-uploaded after its success, whose retry is still loading, keeps
    its source file; a file whose failure was followed by a success is
    deleted once."""
    up = tmp_path / "up"
    (up / "FAC001").mkdir(parents=True)
    for fn in ("a.json", "b.json"):
        (up / "FAC001" / fn).write_text("[]")
    t0, t1 = datetime(2025, 1, 1), datetime(2025, 1, 2)
    log = spark.createDataFrame(
        [(fn, "FAC001", "stg_x", "0", status, 0, 0, None, t, t)
         for fn, status, t in (("a.json", "success", t0), ("a.json", "loading", t1),
                               ("b.json", "failed", t0), ("b.json", "success", t1))],
        INGESTION_LOG_DDL,
    )
    store = TableStore(spark, str(tmp_path / "wh"))
    rep = delete_processed_files(spark, store, log, str(up))
    assert (rep.files_deleted, rep.files_missing) == (1, 0)
    assert os.listdir(up / "FAC001") == ["a.json"]
    assert store.read(FILE_DELETION_LOG).count() == 1


def test_retention_logs_missing_files(spark, tmp_path):
    uploads = str(tmp_path / "up")
    eng = IngestionEngine(spark, str(tmp_path / "wh"), max_files_per_run=None)
    p = write_json(uploads, "FAC001", "patient_person_0_20250103141949.json",
                   [patient(0)])
    eng.run(uploads)
    os.remove(p)  # vanished out-of-band
    rep = delete_processed_files(spark, eng.store, eng.store.read(INGESTION_LOG), uploads)
    assert rep.files_deleted == 0
    assert rep.files_missing == 1
    assert {r["status"] for r in eng.store.read(FILE_DELETION_LOG).collect()} == {"missing"}


def test_export_bad_dates_csv(spark, tmp_path):
    """K3: every *_bad_dates table lands as a header'd CSV."""
    uploads = str(tmp_path / "up")
    eng = IngestionEngine(spark, str(tmp_path / "wh"), max_files_per_run=None)
    write_json(uploads, "FAC001", "patient_person_0_20250103141949.json",
               [patient(0), patient(1, dob="not-a-date")])
    eng.run(uploads)
    out = export_bad_dates_csv(eng.store, str(tmp_path / "csv"))
    assert list(out) == ["stg_patient_person_bad_dates"]
    files = glob.glob(os.path.join(out["stg_patient_person_bad_dates"], "*.csv"))
    assert files
    with open(files[0]) as f:
        rows = list(csv.DictReader(f))
    assert len(rows) == 1
    assert rows[0]["date_of_birth"] == "not-a-date"


def test_size_pretty_and_table_sizes(spark, tmp_path):
    assert size_pretty(512) == "512 bytes"
    assert size_pretty(2048) == "2.0 kB"
    assert size_pretty(5 * 1024**2) == "5.0 MB"
    assert size_pretty(3 * 1024**4) == "3.0 TB"
    store = TableStore(spark, str(tmp_path / "wh"))
    store.append("t1", spark.range(1000))
    store.append("t2", spark.range(10))
    sizes = table_sizes_pretty(store)
    assert [s[0] for s in sizes] == ["t1", "t2"]  # ordered by size desc
    assert all(isinstance(s[1], int) and s[2].endswith(("bytes", "kB", "MB")) for s in sizes)


def test_retention_distributed_matches_driver_side(spark, tmp_path):
    """distributed=True fans re-count+delete to executors (local mode
    shares the fs) and produces the same deletions and log rows."""
    import json as _json
    import os

    from data_ingestion_from_multiple_directories_linux_spark.operators.maintenance import (
        FILE_DELETION_LOG,
        delete_processed_files,
    )
    from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
        TableStore,
    )

    up = tmp_path / "up"
    rows = []
    for fac in ("FAC001", "FAC002"):
        (up / fac).mkdir(parents=True)
        for i in range(3):
            fn = f"patient_person_{i}_2025010314{i:04d}.json"
            (up / fac / fn).write_text(_json.dumps([{"id": k} for k in range(i + 1)]))
            rows.append((fn, fac, "success"))
    rows.append(("gone.json", "FAC001", "failed"))  # missing on disk
    log = spark.createDataFrame(rows, "file_name string, facility_id string, status string")
    store = TableStore(spark, str(tmp_path / "wh"))

    rep = delete_processed_files(spark, store, log, str(up), distributed=True)
    assert rep.files_deleted == 6
    assert rep.files_missing == 1
    assert rep.records_counted == 2 * (1 + 2 + 3)
    assert not any((up / "FAC001").iterdir())
    logged = store.read(FILE_DELETION_LOG).collect()
    assert len(logged) == 7
    assert {r["status"] for r in logged} == {"deleted", "missing"}


def test_compact_table_reduces_files_preserves_rows(spark, tmp_path):
    from data_ingestion_from_multiple_directories_linux_spark.operators.maintenance import (
        _parquet_files,
        compact_all,
        compact_table,
    )
    from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
        TableStore,
    )

    store = TableStore(spark, str(tmp_path / "wh"))
    # 12 appends → ≥12 fragments (the audit-log / commit-marker shape)
    for i in range(12):
        store.append(
            "frag_log",
            spark.range(i * 10, (i + 1) * 10).withColumnRenamed("id", "k"),
        )
    before_files = _parquet_files(store.path("frag_log"))
    assert len(before_files) >= 12
    before_rows = sorted(r["k"] for r in store.read("frag_log").collect())

    rep = compact_table(store, "frag_log", target_bytes=1 << 30, min_files=8)
    assert rep is not None
    assert rep.files_after < rep.files_before
    assert rep.files_after == 1  # everything fits one target-sized file
    assert sorted(r["k"] for r in store.read("frag_log").collect()) == before_rows

    # already compact → no-op
    assert compact_table(store, "frag_log", min_files=8) is None
    # sweep honors the name pattern
    assert compact_all(store, pattern="^nomatch") == []


def test_compact_table_partitioned_preserves_pruning(spark, tmp_path):
    from pyspark.sql import functions as F

    from data_ingestion_from_multiple_directories_linux_spark.operators.maintenance import (
        compact_table,
    )
    from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
        TableStore,
    )

    store = TableStore(spark, str(tmp_path / "wh"))
    for i in range(10):
        df = spark.range(i * 5, (i + 1) * 5).select(
            F.col("id").alias("k"),
            (F.col("id") % 2).cast("string").alias("part"),
        )
        store.append("frag_part", df, ("part",))
    rep = compact_table(
        store, "frag_part", target_bytes=1 << 30, min_files=4,
        partition_by=("part",),
    )
    assert rep is not None and rep.files_after < rep.files_before
    # hive-style partition dirs survive → pruning still works
    import os

    dirs = sorted(
        d for d in os.listdir(store.path("frag_part")) if d.startswith("part=")
    )
    assert dirs == ["part=0", "part=1"]
    assert store.read("frag_part").filter(F.col("part") == "0").count() == 25


def test_cluster_table_makes_spans_disjoint_and_prunable(spark, tmp_path):
    """Sort-on-write clustering: after cluster_table, each file covers a
    disjoint key range (zone maps sharp), a narrow range probe touches
    ~1 of the files instead of all of them, and no row is lost."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.maintenance import (
        ClusterReport,
        cluster_table,
    )

    store = TableStore(spark, str(tmp_path / "wh"))
    # three interleaved appends: every file spans the whole key domain
    for salt in range(3):
        store.append(
            "facts",
            spark.createDataFrame(
                [(i * 3 + salt, f"p-{i}") for i in range(2000)],
                "k long, payload string",
            ).repartition(4),
        )
    before = ClusterReport(
        table="facts",
        key="k",
        n_files=0,
        spans=__import__(
            "data_ingestion_from_multiple_directories_linux_spark.operators.maintenance",
            fromlist=["_key_spans"],
        )._key_spans(store.path("facts"), "k"),
    )
    # unsorted: a narrow probe overlaps essentially every file
    assert before.files_overlapping(100, 200) >= len(before.spans) - 1

    n_before = store.read("facts").count()
    rep = cluster_table(store, "facts", key="k", n_files=6)

    assert store.read("facts").count() == n_before
    assert rep.n_files >= 2
    # spans pairwise disjoint (allow zero overlaps; ranges sorted by min)
    spans = sorted(rep.spans, key=lambda s: s[1])
    for (_, _, mx_a), (_, mn_b, _) in zip(spans, spans[1:]):
        assert mx_a <= mn_b, "clustered file key ranges overlap"
    # the same narrow probe now touches at most 2 files
    assert rep.files_overlapping(100, 200) <= 2


def test_zorder_prunes_both_dimensions(spark, tmp_path):
    """Z-order vs single-key clustering on a 2-D uniform table: the
    single-key layout prunes only its sort key (a key2 box touches
    every file); the Z-ordered layout bounds every file in BOTH
    dimensions, so a 2-D box touches a small fraction of files. Row
    content survives both rewrites."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.maintenance import (
        _key_spans,
        cluster_table,
        files_overlapping_box,
        zorder_table,
    )

    # 64x64 grid, shuffled: x and y independent and uniform
    rows = [((i * 37) % 64, (i * 53) % 64, i) for i in range(4096)]
    store = TableStore(spark, str(tmp_path / "wh"))
    store.append(
        "grid",
        spark.createDataFrame(rows, "x long, y long, payload long")
        .repartition(8),
    )
    n_before = store.read("grid").count()

    # single-key clustering on x: y is unconstrained per file
    cluster_table(store, "grid", key="x", n_files=16)
    spans_1d = {
        "x": _key_spans(store.path("grid"), "x"),
        "y": _key_spans(store.path("grid"), "y"),
    }
    box = ((8, 15), (8, 15))  # 1/64 of the key space
    files_1d = files_overlapping_box(spans_1d, "x", box[0], "y", box[1])
    n_files_1d = len(spans_1d["x"])
    # x-sorted: the x-range prunes, but every surviving file spans all
    # of y — the box count equals the x-only count
    files_x_only = sum(
        1 for _, mn, mx in spans_1d["x"] if not (mx < 8 or mn > 15)
    )
    assert files_1d == files_x_only

    rep = zorder_table(store, "grid", "x", "y", n_files=16)
    assert store.read("grid").count() == n_before
    files_z = files_overlapping_box(rep["spans"], "x", box[0], "y", box[1])
    n_files_z = len(rep["spans"]["x"])
    # the z-layout touches strictly fewer files for the 2-D box than
    # the 1-D layout, and far fewer than the full file count
    assert files_z < files_1d
    assert files_z <= n_files_z // 2


def test_zorder_by_prefix_exact_grid(spark, tmp_path):
    """by_prefix_bits=2 layout: exactly one file per 4x4 z-prefix
    rectangle, every file's (x, y) footer span inside its rectangle
    (the invariant the maintenance report's closed-form oracle uses),
    rows preserved."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.maintenance import (
        _key_spans,
        files_overlapping_box,
        zorder_table,
    )

    rows = [((i * 37) % 64, (i * 53) % 64, i) for i in range(4096)]
    store = TableStore(spark, str(tmp_path / "wh"))
    store.append(
        "grid",
        spark.createDataFrame(rows, "x long, y long, payload long")
        .repartition(8),
    )
    rep = zorder_table(store, "grid", "x", "y", by_prefix_bits=2)
    sx, sy = rep["spans"]["x"], rep["spans"]["y"]
    assert len(sx) == 16
    # every file's span sits inside one quarter in BOTH dimensions
    # (x,y uniform over 0..63 → quarter edges at 16/32/48)
    for _f, mn, mx in sx + sy:
        assert mx - mn < 16 and mn // 16 == mx // 16
    # a one-quarter x one-quarter box touches exactly 1 file
    assert files_overlapping_box(rep["spans"], "x", (17, 30), "y", (33, 46)) == 1
    # a full-x x half-y box touches exactly the 8 top-y rectangles
    assert files_overlapping_box(rep["spans"], "x", (0, 63), "y", (32, 63)) == 8
    # the internal prefix column must NOT leak into the visible schema
    # (review finding: hive partition discovery would re-add it)
    assert store.read("grid").columns == ["x", "y", "payload"]
    got = sorted(
        (r["x"], r["y"], r["payload"]) for r in store.read("grid").collect()
    )
    assert got == sorted(rows)


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """write_bucketed: two tables hash-bucketed on the same key join
    with ZERO Exchange in the physical plan (the shuffle happened once,
    at write time), and the repartition-aligned writer emits exactly
    one file per bucket."""
    from data_ingestion_from_multiple_directories_linux_spark.sources.bucketed import (
        write_bucketed,
    )

    n_buckets = 4
    left = spark.createDataFrame(
        [(i, f"l{i}") for i in range(1000)], "k long, lv string"
    )
    right = spark.createDataFrame(
        [(i, i * 10) for i in range(0, 1000, 2)], "k long, rv long"
    )
    try:
        rep_l = write_bucketed(
            left, "bt_left", "k", n_buckets,
            path=str(tmp_path / "bt_left"),
        )
        rep_r = write_bucketed(
            right, "bt_right", "k", n_buckets,
            path=str(tmp_path / "bt_right"),
        )
        assert rep_l.n_files == n_buckets  # one file per bucket
        assert rep_r.n_files == n_buckets
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("bt_left").join(spark.table("bt_right"), "k")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, plan  # co-located on disk
            assert "Bucketed: true" in plan
            assert joined.count() == 500
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_left")
        spark.sql("DROP TABLE IF EXISTS bt_right")


def test_bucketed_report_counts_files_for_mixed_case_name(spark):
    """Review finding, pinned: the catalog lowercases identifiers, so
    the file count must come from the catalog's reported Location —
    the naive <warehouse>/<name> join walked a nonexistent dir for a
    mixed-case name and silently reported n_files=0."""
    from data_ingestion_from_multiple_directories_linux_spark.sources.bucketed import (
        write_bucketed,
    )

    df = spark.createDataFrame([(i, i) for i in range(100)], "k long, v long")
    try:
        rep = write_bucketed(df, "BtMixed", "k", 4)
        assert rep.n_files == 4
    finally:
        spark.sql("DROP TABLE IF EXISTS BtMixed")


def test_compact_all_preserves_partition_layout(spark, tmp_path):
    """Review finding, pinned: the scheduled sweep must detect and keep
    each table's hive partitioning — rewriting a partitioned table flat
    destroys pruning and corrupts later partitioned appends."""
    import os

    from data_ingestion_from_multiple_directories_linux_spark.operators.maintenance import (
        compact_all,
    )
    from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
        TableStore,
    )

    store = TableStore(spark, str(tmp_path / "whcap"))
    df = spark.createDataFrame(
        [(i, f"F{i % 2}") for i in range(100)], "id long, fac string"
    )
    for _ in range(5):  # fragment: 5 appends x 2 partitions x slices
        store.append("t", df.repartition(2), ("fac",))
    assert store.partition_columns("t") == ("fac",)
    reports = compact_all(store, min_files=2)
    assert [r.table for r in reports] == ["t"]
    # layout survived: fac= dirs still present, rows intact, pruning alive
    assert store.partition_columns("t") == ("fac",)
    subs = sorted(
        d for d in os.listdir(store.path("t")) if d.startswith("fac=")
    )
    assert subs == ["fac=F0", "fac=F1"]
    assert store.read("t").count() == 500
    assert store.read("t").filter(F.col("fac") == "F0").count() == 250


def test_merge_upsert_rejects_duplicate_source_keys(spark, tmp_path):
    """ANSI MERGE semantics (review finding): several source rows for
    one key must raise, not silently duplicate the dimension row; and
    update_cols=[] means 'update nothing', not 'update everything'."""
    import pytest

    from data_ingestion_from_multiple_directories_linux_spark.operators.warehouse import (
        merge_upsert,
    )
    from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
        TableStore,
    )

    store = TableStore(spark, str(tmp_path / "whdup"))
    store.overwrite(
        "dim", spark.createDataFrame([(1, "a")], "id long, v string")
    )
    dup_src = spark.createDataFrame(
        [(1, "x"), (1, "y")], "id long, v string"
    )
    with pytest.raises(ValueError, match="multiple rows per key"):
        merge_upsert(store, "dim", dup_src, keys=["id"])
    assert store.read("dim").count() == 1  # untouched

    # update_cols=[]: insert-only merge — existing row keeps its value,
    # new key inserts with ONLY the key columns (no op/seq bleed-through)
    src = spark.createDataFrame(
        [(1, "ignored", 9), (2, "ignored", 9)], "id long, v string, seq long"
    )
    rep = merge_upsert(store, "dim", src, keys=["id"], update_cols=[])
    assert rep.inserted == 1
    got = {(r["id"], r["v"]) for r in store.read("dim").collect()}
    assert got == {(1, "a"), (2, None)}
    assert store.read("dim").columns == ["id", "v"]


def test_merge_upsert_full_semantics(spark, tmp_path):
    """MERGE INTO: matched rows update, source-only rows insert,
    delete-condition rows vanish, target-only rows survive — and the
    report counts every class from the same single join."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.warehouse import (
        merge_upsert,
        src_col,
    )
    from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
        TableStore,
    )

    store = TableStore(spark, str(tmp_path / "wh"))
    store.append(
        "dim_user",
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
            "uid long, name string, score long",
        ),
    )
    source = spark.createDataFrame(
        [
            (2, "B", 200),   # matched → update
            (3, "c", -1),    # matched + delete condition
            (4, "d", 40),    # new → insert
        ],
        "uid long, name string, score long",
    )
    rep = merge_upsert(
        store, "dim_user", source, keys=["uid"],
        delete_condition=src_col("score") < 0,
    )
    assert (rep.inserted, rep.updated, rep.deleted, rep.unchanged) == (1, 1, 1, 1)
    got = {
        (r["uid"], r["name"], r["score"])
        for r in store.read("dim_user").collect()
    }
    assert got == {(1, "a", 10), (2, "B", 200), (4, "d", 40)}


def test_snapshot_diff_classifies_drift(spark):
    """snapshot_diff: added / removed / changed rows surface with their
    keys; identical rows produce nothing."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.sketches import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", None), (3, "c", 30)],
        "id long, name string, score long",
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 99), (4, "d", 40)],
        "id long, name string, score long",
    )
    got = {(r["id"], r["change"]) for r in snapshot_diff(old, new, ["id"]).collect()}
    assert got == {(2, "changed"), (3, "removed"), (4, "added")}


def test_dynamic_partition_overwrite_replaces_only_touched(spark, tmp_path):
    """append(replace=<the frame's leaves>): re-landing one facility's
    data replaces that partition atomically and leaves every other
    partition's files and rows untouched."""
    from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
        TableStore,
    )

    store = TableStore(spark, str(tmp_path / "wh"))
    seed = spark.createDataFrame(
        [(1, "A"), (2, "A"), (3, "B"), (4, "B")], "id bigint, fac string"
    )
    store.overwrite("t", seed, ("fac",))
    import os

    b_dir = os.path.join(store.path("t"), "fac=B")
    b_files_before = sorted(os.listdir(b_dir))

    newa = spark.createDataFrame([(10, "A"), (11, "A"), (12, "A")],
                                 "id bigint, fac string")
    store.append("t", newa, ("fac",), replace={"fac=A"})
    got = sorted(
        (r["id"], r["fac"]) for r in store.read("t").collect()
    )
    assert got == [(3, "B"), (4, "B"), (10, "A"), (11, "A"), (12, "A")]
    # partition B physically untouched (same files)
    assert sorted(os.listdir(b_dir)) == b_files_before

    # new partition lands beside existing ones
    newc = spark.createDataFrame([(20, "C")], "id bigint, fac string")
    store.append("t", newc, ("fac",), replace={"fac=C"})
    assert store.read("t").count() == 6


def test_dynamic_partition_overwrite_two_levels(spark, tmp_path):
    """Nested partitioning (fac/day): only the exact (fac, day) leaves
    present in the frame are replaced; sibling days of the same
    facility survive."""
    from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
        TableStore,
    )

    store = TableStore(spark, str(tmp_path / "wh2"))
    seed = spark.createDataFrame(
        [(1, "A", "d1"), (2, "A", "d2"), (3, "B", "d1")],
        "id bigint, fac string, day string",
    )
    store.overwrite("t", seed, ("fac", "day"))
    new = spark.createDataFrame(
        [(10, "A", "d1")], "id bigint, fac string, day string"
    )
    store.append("t", new, ("fac", "day"), replace={"fac=A/day=d1"})
    got = sorted(
        (r["id"], r["fac"], r["day"]) for r in store.read("t").collect()
    )
    assert got == [(2, "A", "d2"), (3, "B", "d1"), (10, "A", "d1")]


def test_append_replace_swaps_named_partitions_and_appends_the_rest(spark, tmp_path):
    """append(replace=): one write swaps each named partition for the
    frame's rows of it, removes a named partition the frame has no rows
    for, lands the frame's other partitions beside the live files, and
    drops a table left with no partition."""
    import os

    from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
        TableStore,
    )

    store = TableStore(spark, str(tmp_path / "wha"))
    seed = spark.createDataFrame([(1, "A"), (2, "B"), (3, "C")], "id bigint, fac string")
    store.overwrite("t", seed, ("fac",))
    live = store.path("t")
    b_before = set(os.listdir(os.path.join(live, "fac=B")))

    new = spark.createDataFrame([(10, "A"), (20, "B")], "id bigint, fac string")
    store.append("t", new, ("fac",), replace={"fac=A", "fac=C"})
    got = sorted((r["id"], r["fac"]) for r in store.read("t").collect())
    assert got == [(2, "B"), (10, "A"), (20, "B")]
    assert sorted(d for d in os.listdir(live) if "=" in d) == ["fac=A", "fac=B"]
    assert b_before < set(os.listdir(os.path.join(live, "fac=B")))
    assert not [d for d in os.listdir(store.root) if d.startswith(".t.")]

    store.append("t", None, ("fac",), replace={"fac=A", "fac=B"})
    assert not store.exists("t")


def test_repair_restores_partition_lost_mid_swap(spark, tmp_path):
    """Crash-window recovery: simulate dying between 'old partition
    moved to trash' and 'new partition moved in' — the live tree is
    missing fac=A, the old data sits in a .dpo-old-* dir. repair()
    restores it and clears every .dpo-* / .tmp-* residue dir."""
    import os
    import shutil

    from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
        TableStore,
    )

    store = TableStore(spark, str(tmp_path / "whr"))
    seed = spark.createDataFrame(
        [(1, "A"), (2, "B")], "id bigint, fac string"
    )
    store.overwrite("t", seed, ("fac",))

    # simulate the torn swap: park fac=A in trash (rel path preserved,
    # as append(replace=) does), never complete the second rename;
    # leave an uncommitted scratch dir and an old overwrite() trash too
    trash = store.path(".t.dpo-old-cafef00d")
    os.makedirs(trash)
    os.rename(os.path.join(store.path("t"), "fac=A"),
              os.path.join(trash, "fac=A"))
    os.makedirs(store.path(".t.dpo-12345678"))
    os.makedirs(store.path(".t.tmp-87654321"))
    assert sorted(r["fac"] for r in store.read("t").collect()) == ["B"]

    out = store.repair("t")
    assert out["restored"] == ["fac=A"]
    assert sorted(out["removed"]) == [
        ".t.dpo-12345678", ".t.dpo-old-cafef00d", ".t.tmp-87654321"
    ]
    assert sorted(
        (r["id"], r["fac"]) for r in store.read("t").collect()
    ) == [(1, "A"), (2, "B")]
    assert not [d for d in os.listdir(store.root) if d.startswith(".t.")]

    # completed-swap residue: parked copy whose live partition EXISTS
    # is dropped, not restored over the newer data
    trash2 = store.path(".t.dpo-old-deadbeef")
    shutil.copytree(os.path.join(store.path("t"), "fac=B"),
                    os.path.join(trash2, "fac=B"))
    out2 = store.repair("t")
    assert out2["restored"] == []
    assert out2["removed"] == [".t.dpo-old-deadbeef"]
    assert store.read("t").count() == 2


def test_repair_restores_table_lost_mid_overwrite(spark, tmp_path):
    """The review-found data-loss path, pinned: overwrite() crashes
    between 'live -> trash' and 'tmp -> live', leaving the ONLY
    committed copy in .{name}.old-*. repair() must move it back, not
    delete it as residue; the incomplete .tmp-* is removed. With TWO
    parked copies, the newest (mtime) wins."""
    import os
    import time

    from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
        TableStore,
    )

    store = TableStore(spark, str(tmp_path / "whofix"))
    store.overwrite("t", spark.createDataFrame([(1,)], "id bigint"))
    # simulate the torn overwrite: live parked, tmp left behind
    old_a = store.path(".t.old-aaaa0000")
    os.rename(store.path("t"), old_a)
    os.makedirs(store.path(".t.tmp-cafe0000"))
    # an OLDER stale parked copy from a previous crash
    old_b = store.path(".t.old-bbbb0000")
    os.makedirs(old_b)
    with open(os.path.join(old_b, "stale.marker"), "w") as f:
        f.write("x")
    past = time.time() - 9999
    os.utime(old_b, (past, past))

    out = store.repair("t")
    assert out["restored"] == ["."]
    assert sorted(out["removed"]) == [
        ".t.old-aaaa0000", ".t.old-bbbb0000", ".t.tmp-cafe0000"
    ]
    assert [r["id"] for r in store.read("t").collect()] == [1]
    assert not os.path.exists(os.path.join(store.path("t"), "stale.marker"))
    assert not [d for d in os.listdir(store.root) if d.startswith(".t.")]


def test_repair_restores_nested_partition(spark, tmp_path):
    """repair() with two-level (fac/day) partitioning: a leaf parked
    under its full relative path restores into place; the sibling day
    of the same facility is untouched."""
    import os

    from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
        TableStore,
    )

    store = TableStore(spark, str(tmp_path / "whr2"))
    seed = spark.createDataFrame(
        [(1, "A", "d1"), (2, "A", "d2"), (3, "B", "d1")],
        "id bigint, fac string, day string",
    )
    store.overwrite("t", seed, ("fac", "day"))
    trash = store.path(".t.dpo-old-feedface")
    os.makedirs(os.path.join(trash, "fac=A"))
    os.rename(os.path.join(store.path("t"), "fac=A", "day=d1"),
              os.path.join(trash, "fac=A", "day=d1"))
    assert store.read("t").count() == 2
    out = store.repair("t")
    assert out["restored"] == [os.path.join("fac=A", "day=d1")]
    got = sorted(
        (r["id"], r["fac"], r["day"]) for r in store.read("t").collect()
    )
    assert got == [(1, "A", "d1"), (2, "A", "d2"), (3, "B", "d1")]
    assert not [d for d in os.listdir(store.root) if d.startswith(".t.")]


def test_maintenance_report_all_null_keys_parity(spark, tmp_path):
    """ADVICE r06: a >=512-row orders table whose o_orderkey values are
    ALL NULL must yield an EMPTY report on BOTH sides — the Spark
    query short-circuits on `lo is None` and the oracle CTE now gates
    on COUNT(o_orderkey) > 0, not just the row count."""
    import duckdb

    from data_ingestion_from_multiple_directories_linux_spark.operators.registry import (
        ORACLES,
        QUERIES,
    )
    from tests.conftest import SF_SMALL

    d = tmp_path / "nullkeys"
    d.mkdir()
    con = duckdb.connect()
    con.execute(
        f"""COPY (SELECT * REPLACE (CAST(NULL AS BIGINT) AS o_orderkey)
                 FROM read_parquet('{SF_SMALL}/orders.parquet'))
                TO '{d}/orders.parquet' (FORMAT PARQUET)"""
    )
    n = con.execute(
        f"SELECT COUNT(*) FROM read_parquet('{d}/orders.parquet')"
    ).fetchone()[0]
    assert n >= 512  # the pathological regime the gate must cover
    sdf = QUERIES["maintenance_report_tables"](spark, str(d)).toPandas()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet('{d}/orders.parquet')"
    )
    ddf = con.execute(ORACLES["maintenance_report_tables"]).df()
    con.close()
    assert len(sdf) == 0 and len(ddf) == 0
    assert sorted(sdf.columns) == sorted(ddf.columns)

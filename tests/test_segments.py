"""The segment law of streaming/segments.py, tested once on tiny frames:
crash-replays and compactions at every point of a 4-batch stream leave
merged() equal to the one-shot fold, for both merge kinds, and never
touch another scope's rows."""

from __future__ import annotations

from collections import Counter
from concurrent.futures import ThreadPoolExecutor

from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
    TableStore,
)
from data_ingestion_from_multiple_directories_linux_spark.streaming.segments import (
    SegmentTable,
)
from tests.conftest import local_df, log_offsets, n_jobs

DDL = "checkpoint string, batch_id bigint, k string, n bigint"
# "shared" is in every batch, so the SUM fold really merges segments
# and the key-rewrite fold keeps equal rows of different batches apart
BATCHES = [[("shared", 1), (f"k{b}", b + 10), (f"k{b % 2}x", 2)] for b in range(4)]
# a foreign scope sharing the table, with batch ids this scope also uses
FOREIGN = [("other-ckpt", 0, "shared", 100), ("other-ckpt", 3, "k9", 7)]
FOLDS = {"sum": {"keys": ("k",), "sums": ("n",)}, "rewrite": {"keys": ("k", "n")}}


def _one_shot(kind: str, n_batches: int) -> list[tuple]:
    """The fold of batches 0..n_batches-1 plus the foreign scope's rows."""
    rows = [r for b in BATCHES[:n_batches] for r in b]
    rows += [(k, n) for _ck, _b, k, n in FOREIGN]
    if kind == "rewrite":
        return sorted(rows)
    out = Counter()
    for k, n in rows:
        out[k] += n
    return sorted(out.items())


def _run(spark, root: str, kind: str) -> None:
    """Every batch is crash-replayed and every prefix compacted; even
    batches replay before the compaction, odd ones after it (the replay
    of the highest batch once the rest is folded)."""
    store = TableStore(spark, f"{root}/wh")
    seg = SegmentTable(store, "seg", f"{root}/ck", ddl=DDL, **FOLDS[kind])
    assert seg.merged().collect() == []
    store.overwrite("seg", local_df(spark, FOREIGN, DDL))

    def replay():
        log_offsets(f"{root}/ck", b)
        seg.replace(b, local_df(spark, BATCHES[b], "k string, n bigint"))

    for b in range(4):
        replay()  # the first delivery
        steps = (replay, seg.compact) if b % 2 == 0 else (seg.compact, replay)
        for step in steps:
            step()
            got = sorted(tuple(r) for r in seg.merged().collect())
            assert got == _one_shot(kind, b + 1), (kind, b, step)
        mine = {
            r["batch_id"]
            for r in store.read("seg").collect()
            if r["checkpoint"] == seg.scope
        }
        assert mine == ({-1, b} if b else {0}), (kind, b, mine)

    foreign = [
        tuple(r)
        for r in store.read("seg").collect()
        if r["checkpoint"] == "other-ckpt"
    ]
    assert sorted(foreign) == sorted(FOREIGN), kind


def test_replay_and_compaction_at_every_point_equal_one_shot(spark, tmp_path):
    # the two fold kinds run concurrently: each step is a few tiny
    # Spark jobs, so the test is bound by per-job latency, not cores
    with ThreadPoolExecutor(max_workers=len(FOLDS)) as pool:
        futures = [
            pool.submit(_run, spark, str(tmp_path / kind), kind) for kind in FOLDS
        ]
        for f in futures:
            f.result()


def test_compact_submits_only_its_fold_and_write(spark, tmp_path):
    """The replay bound is read from the offsets log, so compacting a
    SUM table runs just the fold's shuffle and the overwrite, and a
    scope without an offsets log is left alone with no job at all."""
    store = TableStore(spark, str(tmp_path / "wh"))
    ck = str(tmp_path / "ck")
    seg = SegmentTable(store, "seg", ck, ddl=DDL, **FOLDS["sum"])
    store.overwrite("seg", local_df(spark, FOREIGN, DDL))
    for b in range(3):
        log_offsets(ck, b)
        seg.replace(b, local_df(spark, BATCHES[b], "k string, n bigint"))
    # a checksum and a temp file of a later entry are not entries
    for junk in (".5.crc", ".7.1f2e.tmp"):
        open(f"{ck}/offsets/{junk}", "w").close()

    before = n_jobs(spark)
    seg.compact()
    assert n_jobs(spark) - before == 2
    mine = {r["batch_id"] for r in store.read("seg").collect() if r["checkpoint"] == seg.scope}
    assert mine == {-1, 2}
    assert sorted(tuple(r) for r in seg.merged().collect()) == _one_shot("sum", 3)

    unlogged = SegmentTable(store, "seg", str(tmp_path / "ck2"), ddl=DDL, **FOLDS["sum"])
    rows = sorted(tuple(r) for r in store.read("seg").collect())
    before = n_jobs(spark)
    unlogged.compact()
    assert n_jobs(spark) == before
    assert sorted(tuple(r) for r in store.read("seg").collect()) == rows

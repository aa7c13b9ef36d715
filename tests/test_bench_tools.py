"""Unit tests for the bench-record tooling (tools/fold_bench.py,
tools/bench_compare.py) — pure-JSON logic, no Spark session. The round
record and the 2x regression gate are load-bearing artifacts; their
arithmetic should not depend on being exercised only at round end."""

from __future__ import annotations

import json
import subprocess
import sys

TOOLS = "/root/repo/tools"


def _run(path: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, path, *args], capture_output=True, text=True
    )


def _write_run(path, total, queries, cold_warm=None):
    payload = {
        "metric": "sum_min_query_sec",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "py_worker_cold_warm": cold_warm or {},
        "sf": 0.1,
        "cpus": 32,
        "n_queries": len(queries),
    }
    path.write_text(json.dumps(payload) + "\n" + json.dumps({"value": total}) + "\n")


def test_fold_bench_takes_per_query_mins_and_lowest_total_base(tmp_path):
    r1 = tmp_path / "r1.out"
    r2 = tmp_path / "r2.out"
    _write_run(r1, 3.0, {"a": 1.0, "b": 2.0},
               {"m": {"cold": 5.0, "warm": 1.5}})
    _write_run(r2, 2.5, {"a": 1.5, "b": 1.0},
               {"m": {"cold": 4.0, "warm": 2.0}})
    out = tmp_path / "rec.json"
    p = _run(f"{TOOLS}/fold_bench.py", str(out), str(r1), str(r2))
    assert p.returncode == 0, p.stderr
    rec = json.loads(out.read_text())
    assert rec["value"] == 2.5                       # base = lowest total
    assert rec["aux_min_over_runs"]["queries"] == {"a": 1.0, "b": 1.0}
    assert rec["aux_min_over_runs"]["value"] == 2.0  # sum of mins
    assert rec["aux_min_over_runs"]["n_runs"] == 2
    assert rec["aux_cold_warm_min"]["m"] == {"cold": 4.0, "warm": 1.5}


def test_bench_compare_gate_and_noise_floor(tmp_path):
    hist = tmp_path / "hist.json"
    hist.write_text(json.dumps({
        "queries": {"fast": 0.02, "slow": 1.0, "ok": 0.5},
        "aux_min_over_runs": {"queries": {"fast": 0.02, "slow": 1.0, "ok": 0.5}},
    }))

    # candidate under the gate everywhere: tiny-baseline query is
    # noise-floored to 0.1s, so 0.15s is 1.5x, not 7.5x
    good = tmp_path / "good.json"
    good.write_text(json.dumps({"queries": {"fast": 0.15, "slow": 1.9, "ok": 0.4}}))
    p = _run(f"{TOOLS}/bench_compare.py", str(good), str(hist))
    assert p.returncode == 0, p.stdout + p.stderr
    assert "PASS" in p.stdout

    # a genuine 2.5x regression on a non-tiny baseline fails the gate
    bad = tmp_path / "bad.json"
    bad.write_text(json.dumps({"queries": {"fast": 0.05, "slow": 2.5, "ok": 0.4}}))
    p = _run(f"{TOOLS}/bench_compare.py", str(bad), str(hist))
    assert p.returncode == 1
    assert "OVER" in p.stdout and "slow" in p.stdout

    # a query with no recorded baseline is skipped, not crashed on
    new = tmp_path / "new.json"
    new.write_text(json.dumps({"queries": {"brand_new": 9.9, "ok": 0.4}}))
    p = _run(f"{TOOLS}/bench_compare.py", str(new), str(hist))
    assert p.returncode == 0
    assert "brand_new" not in p.stdout


def test_bench_compare_usage_and_empty_history(tmp_path):
    """The round-8 guards: bare invocation prints usage (exit 2, no
    IndexError); a candidate with zero shared history queries passes
    vacuously instead of dividing by zero (ADVICE r07 — the first
    round a record exists)."""
    p = _run(f"{TOOLS}/bench_compare.py")
    assert p.returncode == 2
    assert "usage:" in p.stderr
    cand = tmp_path / "cand.json"
    cand.write_text(json.dumps({"queries": {"a": 1.0}}))
    p = _run(f"{TOOLS}/bench_compare.py", str(cand))
    assert p.returncode == 0, p.stderr
    assert "vacuously PASS" in p.stdout


def test_amp_ab_rejects_bad_argv_before_building_the_corpus(tmp_path):
    """tools/amp_ab.py checks argv and ROTATIONS >= 1 before it
    materializes the amplified corpus: a bad invocation is a usage
    error (exit 2) without any JVM start — with JAVA_HOME pointing
    nowhere, a corpus build would fail differently."""
    import os

    env = dict(os.environ, JAVA_HOME=str(tmp_path / "no-jvm"))
    out = tmp_path / "out.json"
    for args in ((), (str(out),), (str(out), "0"), (str(out), "-1"),
                 (str(out), "two")):
        p = subprocess.run(
            [sys.executable, f"{TOOLS}/amp_ab.py", *args],
            capture_output=True, text=True, env=env, timeout=60,
        )
        assert p.returncode == 2, (args, p.stdout, p.stderr)
        assert "usage:" in p.stderr
        assert "amplified corpus" not in p.stdout
    assert not out.exists()


def test_staleness_helper_deps_sees_streaming_and_siblings(tmp_path):
    """ADVICE r07: helper_deps must see `from ..streaming.x import`
    (the attribution.py blind spot), sibling `from .x import`, and
    every name in `from ..pkg import a, b` — a helper rewrite through
    any of these paths has to flip stale_strict."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "staleness", f"{TOOLS}/staleness.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    pkg = tmp_path / "data_ingestion_from_multiple_directories_linux_spark"
    ops = pkg / "operators"
    ops.mkdir(parents=True)
    (pkg / "streaming").mkdir()
    (pkg / "functions").mkdir()
    (pkg / "streaming" / "stream_join.py").write_text("")
    (pkg / "functions" / "cleansing.py").write_text("")
    (pkg / "functions" / "masking.py").write_text("")
    (ops / "dedup.py").write_text("")
    f = ops / "attribution.py"
    f.write_text(
        "from ..streaming.stream_join import attribute_clicks\n"
        "from ..functions import cleansing, masking\n"
        "from .dedup import pairs\n"
    )
    rel = str(f.relative_to(tmp_path))
    old_repo = mod.REPO
    try:
        mod.REPO = str(tmp_path)
        deps = mod.helper_deps({rel})[rel]
    finally:
        mod.REPO = old_repo
    assert f"{pkg.name}/streaming/stream_join.py" in deps
    assert f"{pkg.name}/functions/cleansing.py" in deps
    assert f"{pkg.name}/functions/masking.py" in deps
    assert f"{pkg.name}/operators/dedup.py" in deps


def test_bench_compare_cache_epoch_ignores_preepoch_coupled_baselines(tmp_path):
    """Persist-coupled queries' r04-r09 mins measured cached reads (the
    round-10 cache-semantics epoch): a pre-epoch record must not supply
    their baseline, while non-coupled queries keep their full history."""
    pre = tmp_path / "BENCH_LOCAL_r09.json"
    pre.write_text(json.dumps(
        {"queries": {"ivf_topk_neighbors": 0.4, "plain": 0.5}}))
    post = tmp_path / "BENCH_LOCAL_r10.json"
    post.write_text(json.dumps(
        {"queries": {"ivf_topk_neighbors": 1.5, "plain": 0.5}}))
    cand = tmp_path / "BENCH_LOCAL_r11.json"
    cand.write_text(json.dumps(
        {"queries": {"ivf_topk_neighbors": 1.6, "plain": 0.55}}))

    # with a post-epoch record present: 1.6 gates against 1.5, not 0.4
    p = _run(f"{TOOLS}/bench_compare.py", str(cand), str(pre), str(post))
    assert p.returncode == 0, p.stdout + p.stderr
    assert "PASS" in p.stdout

    # history = pre-epoch only: the coupled query has no baseline and is
    # skipped; the plain query still compares
    p2 = _run(f"{TOOLS}/bench_compare.py", str(cand), str(pre))
    assert p2.returncode == 0, p2.stdout + p2.stderr
    assert "1 shared queries" in p2.stdout


def test_stage_metrics_probe_attributes_shuffle_bytes(spark):
    """bench._stage_metrics reads the JVM status store (UI disabled)
    and the _run_once diff-by-stage-id convention attributes a known
    shuffle to the run that caused it: a groupBy over fresh stages must
    show nonzero write and read bytes."""
    import bench

    before = bench._stage_metrics(spark)
    assert before is not None  # the probe works in this Spark build
    mark = max((sid for sid, _, _ in before), default=-1)
    spark.range(0, 200_000).selectExpr("id % 13 AS k", "id AS v").groupBy(
        "k"
    ).sum("v").collect()
    after = bench._stage_metrics(spark)
    read = sum(r for sid, r, _ in after if sid > mark)
    write = sum(w for sid, _, w in after if sid > mark)
    assert write > 0 and read > 0

"""Interleaved A/B of lever configs ON THE AMPLIFIED (~100x) SECTION.

Round-12 left an unresolved question (VERDICT item 1): the at-HEAD
records show duplicate_clusters amp 7.9->27.2 s and embedding_near_dup_ivf
amp 9.9->21.6 s vs pre-opt, but the round-12 A/B never isolated the 64k
coalescing floor on the amp section (both legs shared it) and the replan
leg was only measured once per config. This tool is the missing
instrument: the amplified corpus is materialized ONCE (its content is
config-independent — a deterministic cipher/sign-flip of $SPARK_GRAFT_SF_DIR),
then each rotation runs every config once in a fresh subprocess (fresh
JVM), timing the chosen SCALE_OPS exactly like bench.py's amp section
(plan construction + noop sink, cache released after). Folded result =
per-query min across rotations.

Usage:
    python tools/amp_ab.py out.json ROTATIONS [query ...]
    (default queries: the round-12 regression set)

Configs (env deltas on top of repo defaults):
    on        — HEAD defaults (spread opt-in, cached replan, 64k floor)
    noreplan  — SPARK_GRAFT_CACHED_REPLAN=false
    nofloor   — SPARK_GRAFT_COALESCE_MIN_PART=1m
    off       — all levers off (pre-optimization behavior)
"""
from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

from subset_ab import CONFIGS

DEFAULT_OPS = [
    "embedding_near_dup_ivf",
    "duplicate_clusters",
    "embedding_near_dup_lsh",
    "minhash_lsh_near_dup",
    "ngram_jaccard_pairs",
    "repeated_substring_spans",
]

#: one hung JVM must not stall the whole interleave (ADVICE r12)
LEG_TIMEOUT_S = int(os.environ.get("SPARK_GRAFT_AB_TIMEOUT", "1800"))

MATERIALIZE_SCRIPT = r"""
import sys
sys.path.insert(0, {repo!r})
import bench
from data_ingestion_from_multiple_directories_linux_spark.session import get_spark
spark = get_spark(app_name="amp-materialize", cpus=bench.CPUS)
spark.sparkContext.setLogLevel("ERROR")
amp = bench._amplified_dir(spark, {tmp!r})
print("AMP_DIR " + amp)
"""

LEG_SCRIPT = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
import bench
from data_ingestion_from_multiple_directories_linux_spark.session import get_spark
import __spark_entry__ as entry
spark = get_spark(app_name="amp-ab", cpus=bench.CPUS)
spark.sparkContext.setLogLevel("ERROR")
qs = entry.queries()
out = {{}}
for name in {names!r}:
    fn = qs[name]
    spark.sparkContext.setJobDescription("amp-ab:" + name)
    t0 = time.perf_counter()
    fn(spark, {amp!r}).write.format("noop").mode("overwrite").save()
    out[name] = round(time.perf_counter() - t0, 4)
    bench._release_leftover_blocks(spark)
print("AMP_AB_RESULT " + json.dumps(out))
"""


def _run(script: str, env_delta: dict, marker: str) -> dict | str:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env.update(env_delta)
    try:
        p = subprocess.run(
            [sys.executable, "-c", script],
            env=env,
            capture_output=True,
            text=True,
            cwd=repo,
            timeout=LEG_TIMEOUT_S,
        )
    except subprocess.TimeoutExpired:
        raise SystemExit(f"leg timed out after {LEG_TIMEOUT_S}s")
    for line in p.stdout.splitlines():
        if line.startswith(marker + " "):
            rest = line[len(marker) + 1 :]
            return json.loads(rest) if rest.startswith("{") else rest
    raise SystemExit(
        f"leg failed (rc={p.returncode}):\n{p.stdout[-2000:]}\n{p.stderr[-2000:]}"
    )


USAGE = "usage: python tools/amp_ab.py out.json ROTATIONS [query ...] (ROTATIONS >= 1)"


def main() -> None:
    # validate before the expensive corpus build, not after it
    if len(sys.argv) < 3 or not sys.argv[2].isdigit() or int(sys.argv[2]) < 1:
        print(USAGE, file=sys.stderr)
        raise SystemExit(2)
    out_path = sys.argv[1]
    rotations = int(sys.argv[2])
    names = sys.argv[3:] or DEFAULT_OPS
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp = tempfile.mkdtemp(prefix="amp_ab_")
    try:
        amp = _run(
            MATERIALIZE_SCRIPT.format(repo=repo, tmp=tmp), {}, "AMP_DIR"
        )
        print(f"amplified corpus at {amp}", flush=True)
        runs: dict = {c: [] for c in CONFIGS}
        for r in range(rotations):
            for cfg, delta in CONFIGS.items():
                res = _run(
                    LEG_SCRIPT.format(repo=repo, names=list(names), amp=amp),
                    delta,
                    "AMP_AB_RESULT",
                )
                runs[cfg].append(res)
                print(f"rot{r} {cfg:9s} sum={sum(res.values()):7.2f}", flush=True)
        folded = {
            cfg: {n: round(min(r[n] for r in rs), 4) for n in names}
            for cfg, rs in runs.items()
        }
        with open(out_path, "w") as f:
            json.dump(
                {"folded": folded, "runs": runs, "rotations": rotations}, f, indent=1
            )
        print("\nper-config folded sums:")
        for cfg, q in folded.items():
            print(f"  {cfg:9s} {sum(q.values()):7.2f}")
        print(f"\nwritten: {out_path}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()

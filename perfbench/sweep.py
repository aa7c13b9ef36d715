"""Run the benchmark over seeds and workloads, one run at a time, and
append each run's result to a JSON-lines file for ``compare.py``.

    python3 perfbench/sweep.py --out runs.jsonl --seeds 1-10 [--workloads a,b] [--trace 1]

Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main(argv: list[str] | None = None) -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description="run the benchmark over seeds")
    ap.add_argument("--out", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args(argv)
    for seed in seeds(args.seeds):
        for w in args.workloads.split(","):
            cmd = spec["command"] + ["--workload", w, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)]
            t = time.time()
            p = subprocess.run(cmd, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            diag = json.loads(lines[-2]) if result and len(lines) > 1 else None
            rec = {"workload": w, "seed": seed, "rc": p.returncode, "wall_s": round(time.time() - t, 2),
                   "result": result, "diag": diag}
            with open(args.out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            status = "ok" if result and result["correct"] else "FAILED"
            print(f"{w} seed={seed} rc={p.returncode} {status} {rec['wall_s']}s", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Run-to-run spread of the end-to-end metrics: runs the benchmark once per
seed and reports, per workload and metric, the median and the distance
between the first and third quartile as a share of the median (the
steadiness rule BENCHMARK.json's bounds are checked against).

    python3 perfbench/spread.py --workloads batch,point_queries --seeds 1-10
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds(text: str) -> list[int]:
    if "-" in text:
        a, b = text.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in text.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default=None, help="default: BENCHMARK.json run_seconds")
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = args.seconds or str(bench["run_seconds"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    cmd = bench["command"]
    out_path = HERE / ".work" / f"spread-{int(time.time())}.jsonl"
    out_path.parent.mkdir(parents=True, exist_ok=True)
    ok = True
    for w in args.workloads.split(","):
        values: dict[str, list[float]] = {}
        walls, steals = [], []
        for seed in seeds(args.seeds):
            t0 = time.perf_counter()
            p = subprocess.run(cmd + ["--workload", w, "--seed", str(seed), "--seconds", seconds,
                                      "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            walls.append(time.perf_counter() - t0)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 else None
            run = json.loads(lines[-2]) if p.returncode == 0 else None
            with open(out_path, "a") as fh:
                fh.write(json.dumps({"workload": w, "seed": seed, "rc": p.returncode,
                                     "wall_s": walls[-1], "run": run, "result": res}) + "\n")
            if res is None or not res["correct"]:
                print(f"{w} seed {seed}: rc={p.returncode} result={res}\n{p.stderr[-2000:]}")
                ok = False
                continue
            steals.append(run["steal_share"])
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"{w}: {len(walls)} runs, wall per run {statistics.median(walls):.1f} s "
              f"(max {max(walls):.1f} s), steal share {min(steals, default=0):.3f}-"
              f"{max(steals, default=0):.3f}")
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            share = (q3 - q1) / med
            flag = "" if share < bounds.get(k, 1) / 3 else "  <-- above bound/3"
            print(f"  {k:16s} median {med:12.4f}  spread {share:6.3f}  "
                  f"bound {bounds.get(k)}{flag}")
    print(f"raw results: {out_path.relative_to(ROOT)}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

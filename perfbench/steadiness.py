"""Run the benchmark over several seeds and summarize its spread.

    python3 perfbench/steadiness.py --seeds 1-10 --sets 2 --out perfbench/STEADINESS.json

For every workload in BENCHMARK.json and every seed, runs
``perfbench/run.py`` once with tracing off (one run at a time), then
reports per set, per workload and per end-to-end metric: the median,
the quartiles from ``statistics.quantiles(values, n=4)``, the
interquartile range as a share of the median, and the sample count.
With two sets it also reports how far the second median moved from the
first, as a share of the first. No host calibration is applied.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_one(bench: dict, workload: str, seed: int) -> dict:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", "0",
    ]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}: {p.stderr[-2000:]}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    out["wall_s"] = wall
    return out


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "n": len(values),
        "median": statistics.median(values),
        "q1": q1,
        "q3": q3,
        "iqr_over_median": (q3 - q1) / statistics.median(values),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--out", default="")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {
        "nproc": os.cpu_count(),
        "load_avg_at_start": os.getloadavg(),
        "run_seconds": bench["run_seconds"],
        "seeds": a.seeds,
        "sets": [],
    }
    for s in range(a.sets):
        runs: dict[str, list[dict]] = {w: [] for w in names}
        for w in names:
            for seed in seeds(a.seeds):
                r = run_one(bench, w, seed)
                runs[w].append(r)
                print(w, seed, json.dumps({k: round(v["value"], 4) for k, v in r["metrics"].items()}),
                      "failed", r["failed"], f"wall {r['wall_s']:.1f}", flush=True)
        summary = {}
        for w, rs in runs.items():
            summary[w] = {
                m: summarize([r["metrics"][m]["value"] for r in rs]) for m in bounds
            }
            summary[w]["failed_ops"] = sum(r["failed"] for r in rs)
            summary[w]["attempted_ops"] = sum(r["attempted"] for r in rs)
            summary[w]["wall_s"] = summarize([r["wall_s"] for r in rs])
        record["sets"].append(summary)
    if a.sets > 1:
        first, second = record["sets"][0], record["sets"][-1]
        record["second_vs_first"] = {
            w: {m: second[w][m]["median"] / first[w][m]["median"] - 1.0 for m in bounds}
            for w in names
        }
    for i, summary in enumerate(record["sets"]):
        for w in names:
            for m in bounds:
                x = summary[w][m]
                print(f"set{i + 1} {w} {m} median={x['median']:.4g} iqr/median={x['iqr_over_median']:.3f}"
                      f" bound={bounds[m]} n={x['n']}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(record, f, indent=2)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

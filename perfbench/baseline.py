#!/usr/bin/env python3
"""Run every workload untraced over sets of seeds and record the
run-to-run spread of each end-to-end metric and the agreement between
the sets.

    python3 perfbench/baseline.py --sets 1-10 11-20 --out perfbench/results/baseline.json

Per set, workload and metric it writes the values (one run per seed),
their median and the spread: the distance between the first and third
quartile (``statistics.quantiles(values, n=4)``) as a share of the
median, beside the metric's bound from ``BENCHMARK.json``. With two or
more sets it adds, per metric, the drift of each later set's median
against the first set's, and whether every spread (``setup_s``
excepted) and every drift in the worse direction stay within the bound.
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


def run(workload: str, seed: int, seconds: int) -> tuple[dict, dict, float]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    host = json.loads(next(ln for ln in lines if ln.startswith("   host "))[8:])
    return json.loads(lines[-1]), host, wall


def run_set(spec: str, names: list[str], bench: dict) -> dict:
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {}
    for workload in names:
        runs = []
        for seed in seeds(spec):
            result, host, wall = run(workload, seed, bench["run_seconds"])
            runs.append({"seed": seed, "wall_s": round(wall, 1), "host": host, **result})
            print(f"{workload} seed {seed}: wall {wall:.1f} s correct={result['correct']}", flush=True)
        metrics = {}
        for name, bound in bounds.items():
            values = [r["metrics"][name]["value"] for r in runs]
            med = statistics.median(values)
            q = statistics.quantiles(values, n=4)
            metrics[name] = {
                "unit": runs[0]["metrics"][name]["unit"],
                "median": med,
                "spread": (q[2] - q[0]) / med,
                "bound": bound,
                "values": values,
            }
            print(f"  {name:<20} median {med:.4f} spread {metrics[name]['spread']:.3f} (bound {bound})")
        record[workload] = {
            "seeds": spec,
            "runs": len(runs),
            "failed_runs": sum(not r["correct"] for r in runs),
            "wall_s_total": round(sum(r["wall_s"] for r in runs), 1),
            "metrics": metrics,
            "hosts": [r["host"] for r in runs],
        }
    return record


def agreement(sets: dict[str, dict], bench: dict) -> dict:
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    first, *later = sets
    out: dict = {}
    for workload, base in sets[first].items():
        out[workload] = {}
        for name, a in base["metrics"].items():
            row = {"bound": a["bound"], f"median_{first}": a["median"], f"spread_{first}": a["spread"]}
            ok = name == "setup_s" or a["spread"] <= a["bound"]
            for key in later:
                b = sets[key][workload]["metrics"][name]
                drift = b["median"] / a["median"] - 1
                worse = -drift if better[name] == "higher" else drift
                row[f"median_{key}"] = b["median"]
                row[f"spread_{key}"] = b["spread"]
                row[f"drift_{key}"] = drift
                ok = ok and worse <= a["bound"] and (name == "setup_s" or b["spread"] <= b["bound"])
            row["within_bound"] = ok
            out[workload][name] = row
        runs = sum(sets[k][workload]["runs"] for k in sets)
        out[workload]["wall_s_per_run"] = sum(sets[k][workload]["wall_s_total"] for k in sets) / runs
    return out


def main() -> int:
    a = argparse.ArgumentParser(description=__doc__)
    a.add_argument("--sets", nargs="+", default=["1-10"], help="one seed range per set, e.g. 1-10 11-20")
    a.add_argument("--workloads", default=None, help="comma list (default: all in BENCHMARK.json)")
    a.add_argument("--out", required=True)
    args = a.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    keys = [chr(ord("A") + i) for i in range(len(args.sets))]
    sets = {}
    for key, spec in zip(keys, args.sets):
        print(f"== set {key}: seeds {spec}", flush=True)
        sets[key] = run_set(spec, names, bench)
    record = {
        "note": (
            "Untraced runs, one seed each, on the host in 'hosts'. The BENCH_r01-r06 "
            "numbers were taken with bench.py at local[32] (r5/r6 partly at sf1.0) "
            "and are not comparable with these. 'drift_X' is set X's median over "
            "set A's, minus 1."
        ),
        "run_seconds": bench["run_seconds"],
        "sets": sets,
    }
    if len(sets) > 1:
        record["agreement"] = agreement(sets, bench)
        for workload, rows in record["agreement"].items():
            for name, row in rows.items():
                if isinstance(row, dict):
                    shown = {k: round(v, 4) if isinstance(v, float) else v for k, v in row.items()}
                    print(f"{workload:<18} {name:<20} {json.dumps(shown)}")
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

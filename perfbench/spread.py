#!/usr/bin/env python3
"""Run the benchmark repeatedly on one commit and report each metric's
spread against its bound in BENCHMARK.json.

    python3 perfbench/spread.py --workloads ingest_infer --seeds 5 --sets 1
    python3 perfbench/spread.py --seeds 10 --sets 2 --out spread.json
    python3 perfbench/spread.py --workloads curate_text --seeds 5 --fixed-seed 7

For every set and workload it runs ``--seeds`` untraced runs, with seeds
1, 2, ... (the same seeds in every set, so sets differ only by run-to-run
noise; --fixed-seed S runs seed S every time, which leaves out input
variation too), and prints per end-to-end metric: the median, the
quartile spread (Q3-Q1)/median with statistics.quantiles(n=4), and, from
the second set on, how far the set's median moved from the first set's.
A spread or a median move in either direction beyond the metric's bound
is marked FAIL.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_once(spec: dict, workload: str, seed: int) -> dict:
    cmd = spec["command"] + [
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]),
        "--trace", "0",
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    detail = json.loads(lines[-2]) if len(lines) >= 2 else None
    if result is None:
        sys.stderr.write(proc.stderr[-3000:])
    elif not result["correct"]:
        errors = {k: v["errors"] for k, v in detail["steps"].items() if v.get("errors")}
        sys.stderr.write(f"{workload} seed {seed}: {json.dumps(errors)}\n")
    return {"seed": seed, "exit": proc.returncode, "wall_s": wall, "result": result, "detail": detail}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", help="comma list (default: all in BENCHMARK.json)")
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--fixed-seed", type=int, help="run this seed every time")
    ap.add_argument("--out", help="write every run's result here as JSON")
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    runs: dict[str, list[list[dict]]] = {w: [] for w in workloads}
    ok = True
    for k in range(1, args.sets + 1):
        for w in workloads:
            batch = []
            for i in range(1, args.seeds + 1):
                seed = i if args.fixed_seed is None else args.fixed_seed
                rec = run_once(spec, w, seed)
                batch.append(rec)
                r = rec["result"]
                print(
                    f"set {k} {w} seed {rec['seed']} exit {rec['exit']} wall {rec['wall_s']:.1f}s "
                    + ("" if r is None else json.dumps({m: round(v["value"], 4) for m, v in r["metrics"].items()})),
                    flush=True,
                )
                ok &= rec["exit"] == 0 and r is not None and r["correct"]
            runs[w].append(batch)

    print(f"\n{'workload':<14} {'metric':<12} {'set':>3} {'median':>10} {'spread':>7} {'move':>7} {'bound':>6}")
    for w in workloads:
        first_median: dict[str, float] = {}
        for k, batch in enumerate(runs[w], start=1):
            results = [b["result"] for b in batch if b["result"] is not None]
            for name, bound in bounds.items():
                vals = [r["metrics"][name]["value"] for r in results if name in r["metrics"]]
                if len(vals) < 2:
                    continue
                q1, med, q3 = statistics.quantiles(vals, n=4)
                spread = (q3 - q1) / med
                move = (med - first_median[name]) / first_median[name] if name in first_median else 0.0
                first_median.setdefault(name, med)
                bad = spread > bound or abs(move) > bound
                ok &= not bad
                print(
                    f"{w:<14} {name:<12} {k:>3} {med:>10.4f} {spread:>7.3f} {move:>+7.3f} {bound:>6.2f}"
                    + ("  FAIL" if bad else ("  (>1/3 bound)" if spread > bound / 3 else ""))
                )
        walls = [b["wall_s"] for batch in runs[w] for b in batch]
        print(f"{w:<14} run wall median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    if args.out:
        Path(args.out).write_text(json.dumps(runs, indent=1))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

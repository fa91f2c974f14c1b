"""Steadiness check: run the benchmark in sets of seeded runs and report
each end-to-end metric's spread against its bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload read --runs 10 --sets 2
    python3 perfbench/steady.py --workload read --runs 3 --trace-overhead

Spread is the distance between the first and third quartile of a set's
values (``statistics.quantiles(values, n=4)``) as a share of their
median; a set is steady when every spread but set-up time's is below a
third of its bound.  With two sets, each metric's second median is also
compared with the first: it may not be worse by more than the bound.
``--trace-overhead`` instead runs each seed untraced and traced and
reports the difference of the median op walls, per op kind.  Run from
the root of the checkout; every run is a separate process, one at a
time."""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(bench: dict, workload: str, seed: int, trace: int) -> tuple[dict, dict, float]:
    cmd = list(bench["command"]) + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {p.returncode})")
    result, detail = json.loads(lines[-1]), json.loads(lines[-2])["detail"]
    if not result["correct"]:
        print(f"  seed {seed}: INCORRECT, failures {detail.get('failures')}")
    return result, detail, wall


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse the second median is, as a share of the first."""
    d = (second - first) if better == "lower" else (first - second)
    return d / abs(first)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10, help="runs per set")
    ap.add_argument("--sets", type=int, default=1, choices=(1, 2))
    ap.add_argument("--trace-overhead", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seed = 1

    if args.trace_overhead:
        for _ in range(args.runs):
            _, plain, _ = run_once(bench, args.workload, seed, 0)
            _, traced, _ = run_once(bench, args.workload, seed, 1)
            for kind in sorted(plain["op_walls_s"]):
                a = statistics.median(plain["op_walls_s"][kind])
                b = statistics.median(traced["op_walls_s"][kind])
                print(f"seed {seed} {kind:8s} untraced {a * 1e3:9.1f} ms  "
                      f"traced {b * 1e3:9.1f} ms  overhead {(b - a) * 1e3:+8.1f} ms")
            seed += 1
        return 0

    medians: list[dict] = []
    ok = True
    for s in range(args.sets):
        values: dict[str, list[float]] = {}
        walls = []
        for _ in range(args.runs):
            res, _, wall = run_once(bench, args.workload, seed, 0)
            walls.append(wall)
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(f"  set {s + 1} seed {seed}: {wall:.1f} s wall, "
                  + ", ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()))
            seed += 1
        print(f"set {s + 1}: {args.runs} runs, wall median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
        meds = {}
        for m in bench["end_to_end"]:
            v = values[m["name"]]
            meds[m["name"]] = statistics.median(v)
            sp = spread(v) if len(v) >= 2 else 0.0
            steady = m["name"] == "setup_s" or sp < m["bound"] / 3
            ok &= steady
            print(f"  {m['name']:18s} median {meds[m['name']]:12.5g} {m['unit']:7s} "
                  f"spread {sp:6.3f}  bound {m['bound']:.3f}  "
                  f"{'ok' if steady else 'TOO WIDE'}")
        medians.append(meds)
    if len(medians) == 2:
        print("second set against the first:")
        for m in bench["end_to_end"]:
            w = worse_by(medians[0][m["name"]], medians[1][m["name"]], m["better"])
            good = w <= m["bound"]
            ok &= good
            print(f"  {m['name']:18s} worse by {w:+.3f} (bound {m['bound']:.3f}) "
                  f"{'ok' if good else 'REGRESSED'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

"""Per-layer deltas between two sets of traced perfbench records.

Usage, from the repository root:
  python3 perfbench/layer_diff.py A.json [A2.json ...] -- B.json [B2.json ...]
  python3 perfbench/layer_diff.py A.json B.json

Each file is a ``.perfbench_out/<workload>-s<seed>-trace1.json`` record.
For every workload present on both sides it prints each per-layer metric
(median over a side's files) with its delta, then the quartiles of the
per-op layer readings of the warm ops, pooled over a side's files, so a
saving can be placed in the layer where it lands.
"""

from __future__ import annotations

import json
import statistics
import sys

OP_KEYS = ("wall", "build_s", "exec_s", "job_busy_s", "driver_gap_s", "task_run_s",
           "shuffle_write_mb", "build_jobs", "exec_jobs")


def load(paths: list[str]) -> dict[str, list[dict]]:
    by_w: dict[str, list[dict]] = {}
    for p in paths:
        with open(p) as fh:
            rec = json.load(fh)
        if "per_layer" not in rec:
            sys.exit(f"{p}: not a traced record (run with --trace 1)")
        by_w.setdefault(rec["workload"], []).append(rec)
    return by_w


def q3(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    a, b, c = statistics.quantiles(xs, n=4)
    return a, b, c


def pct(a: float, b: float) -> str:
    return f"{100 * (b - a) / a:+7.1f}%" if a else "      -"


def report(workload: str, recs_a: list[dict], recs_b: list[dict]) -> None:
    cores = {r["window"]["nproc"] for r in recs_a + recs_b}
    print(f"== {workload}: {len(recs_a)} vs {len(recs_b)} traced runs, nproc {sorted(cores)}")
    if len(cores) > 1:
        print("   WARNING: core counts differ; the sides are not comparable")
    for side, recs in (("A", recs_a), ("B", recs_b)):
        drift = sum(r["window"]["drift_flag"] for r in recs)
        if drift:
            print(f"   WARNING: {drift} run(s) of side {side} flagged calibration drift")
    names = [n for n in recs_a[0]["per_layer"] if all(n in r["per_layer"] for r in recs_b)]
    print(f"   {'per-layer metric':44s} {'A':>12s} {'B':>12s} {'B-A':>12s} {'':>8s}")
    for n in names:
        a = statistics.median(r["per_layer"][n] for r in recs_a)
        b = statistics.median(r["per_layer"][n] for r in recs_b)
        if a or b:
            print(f"   {n:44s} {a:12.4f} {b:12.4f} {b - a:+12.4f} {pct(a, b)}")
    print(f"   {'per-op reading (warm ops)':44s} {'A q1/q2/q3':>26s}   {'B q1/q2/q3':>26s} {'Δq2':>9s}")
    ops_a = [o for r in recs_a for o in r["per_op_layers"]]
    ops_b = [o for r in recs_b for o in r["per_op_layers"]]
    for k in OP_KEYS:
        qa = q3([o[k] for o in ops_a])
        qb = q3([o[k] for o in ops_b])
        fa = "/".join(f"{x:.3f}" for x in qa)
        fb = "/".join(f"{x:.3f}" for x in qb)
        print(f"   {k:44s} {fa:>26s}   {fb:>26s} {pct(qa[1], qb[1])}")


def main(argv: list[str]) -> None:
    if "--" in argv:
        i = argv.index("--")
        side_a, side_b = argv[:i], argv[i + 1:]
    elif len(argv) == 2:
        side_a, side_b = argv[:1], argv[1:]
    else:
        sys.exit(__doc__)
    if not side_a or not side_b:
        sys.exit(__doc__)
    a, b = load(side_a), load(side_b)
    common = [w for w in a if w in b]
    if not common:
        sys.exit("no workload appears on both sides")
    for w in common:
        report(w, a[w], b[w])


if __name__ == "__main__":
    main(sys.argv[1:])

"""Layered benchmark of the engine: seeded inputs, a closed loop of ops
per workload in a fresh Spark process, outputs checked against DuckDB
twins, end-to-end metrics (``--trace 0``) or per-layer ones (``--trace 1``).

Usage, from the repository root:
  python3 perfbench/run.py --workload dedup_guard --seed 1 --seconds 10 --trace 0

The last line of stdout is one JSON object: correct, attempted, failed,
metrics. The full record of the run (window calibration, per-op layer
readings, spans with self times) is written to
``.perfbench_out/<workload>-s<seed>-trace<0|1>.json``; ``layer_diff.py``
compares two sets of those. Inputs are generated into ``.perfbench_cache``
and reused for the same workload and seed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import gen
import twin
from spans import clip, self_times, union_len

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

DRIVER_MEM = "1g"       # the session default (32g) exceeds this class of box
RUN_TIMEOUT_S = 150.0
# End/start calibration ratios that flag the window. The JVM's range hash
# runs 25-45% faster at the end of a steady run, as the JIT has warmed, so
# an end no faster than the start means the box slowed down. The sub-second
# md5 chain moves by up to 1.7x either way between quiet starts and ends on
# a shared box, so only a 2x change in it flags.
RANGE_DRIFT = 1.0
MD5_DRIFT = 2.0
MD5_ROUNDS = 100_000


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def md5_chain_s() -> float:
    """Median of three single-core md5 chains of fixed length."""
    times = []
    for _ in range(3):
        t0 = time.time()
        h = b"x" * 1000
        for _ in range(MD5_ROUNDS):
            h = hashlib.md5(h).digest()
        times.append(time.time() - t0)
    return statistics.median(times)


def versions() -> dict:
    import duckdb
    import pyspark

    return {"pyspark": pyspark.__version__, "duckdb": duckdb.__version__}


def spawn(args: list[str], env: dict, cwd: str, timeout: float) -> None:
    """Run a worker in its own process group; the group (the worker and
    its JVM) is gone when this returns."""
    proc = subprocess.Popen([sys.executable, os.path.join(HERE, "worker.py")] + args,
                            env=env, cwd=cwd, start_new_session=True,
                            stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=max(timeout, 1.0))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _reap_group(proc)
    if code != 0:
        fail(f"worker {' '.join(args[:2])} {'timed out' if code is None else f'exited {code}'}", 1)


def _reap_group(proc: subprocess.Popen) -> None:
    """Wait for the worker's process group to empty, signalling it with
    SIGTERM and then SIGKILL when it does not within 5 s."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        try:
            if sig is not None:
                os.killpg(proc.pid, sig)
            deadline = time.time() + 5
            while time.time() < deadline:
                proc.poll()
                os.killpg(proc.pid, 0)
                time.sleep(0.05)
        except ProcessLookupError:
            break
    proc.wait()


def quartiles(xs: list[float]) -> list[float]:
    return statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3


def check_ops(ops: list[dict], wants: dict[str, dict]) -> dict[str, dict]:
    """Compare every op's output digest with its query's twin; an op that
    mismatches fails."""
    checks = {}
    for q, want in wants.items():
        mine = [o for o in ops if o["query"] == q and o["ok"]]
        bad = [o for o in mine if o["out"] != want]
        for o in bad:
            o.update(ok=False, err="output mismatches its twin")
        checks[q] = {"twin": want, "checked": len(mine), "mismatched": len(bad)}
        if bad:
            print(f"perfbench: {len(bad)} of {len(mine)} {q} ops mismatch the twin {want}; "
                  f"first: {bad[0]['out']}", file=sys.stderr)
    return checks


def end_to_end(res: dict, setup_s: float) -> tuple[dict, dict]:
    ops = res["ops"]
    warm = [o for o in ops if o["round"] > 0 and o["ok"]]
    by_q: dict[str, list[float]] = {}
    for o in warm:
        by_q.setdefault(o["query"], []).append(o["wall"])
    walls = sorted(o["wall"] for o in warm)
    n = len(walls)
    tail_i = max(n - 11, 0)
    m = {
        "setup_s": setup_s,
        "cold_total_s": sum(o["wall"] for o in ops if o["round"] == 0),
        "warm_total_s": sum(statistics.median(v) for v in by_q.values()),
        "op_p50_s": statistics.median(walls) if walls else 0.0,
        "op_tail_s": walls[tail_i] if walls else 0.0,
        "ok_ratio": 1 - sum(not o["ok"] for o in ops) / len(ops),
        "peak_rss_mb": (res["jvm_hwm_kb"] + res["py_maxrss_kb"]) / 1024,
    }
    heap = res["heap_peak_mb"]
    info = {"op_tail_pct": round(100.0 * (tail_i + 1) / n, 1) if n else None,
            "warm_ops": n, "ops": len(ops),
            "jvm_heap_peak_mb": dict(heap, sum=sum(heap.values())),
            "warm_by_query": {q: {"n": len(v), "median": statistics.median(v),
                                  "quartiles": quartiles(v)} for q, v in by_q.items()}}
    return m, info


def op_layers(op: dict, cores: int) -> dict:
    """Layer readings of one traced op. The output check's jobs run
    outside the op's wall and are left out."""
    jobs = [j for j in op.get("jobs", []) if not (j["group"] or "").endswith("/check")]
    stages = [s for j in jobs for s in j["stages"]]
    sink_jobs = [j for j in jobs if (j["group"] or "").endswith("/sink")]
    busy = union_len([(max(j["start"], op["start"]), min(j["end"], op["end"]))
                      for j in jobs if j["start"] and j["end"] and j["end"] > op["start"]])
    run_s = sum(s["run_s"] for s in stages)
    writes = [s for s in stages if s["output_b"] > 0]
    return {
        "wall": op["wall"], "build_s": op["build_s"], "exec_s": op["sink_s"],
        "release_s": op["release_s"], "released_n": op["released_n"],
        "build_jobs": sum((j["group"] or "").endswith("/build") for j in jobs),
        "exec_jobs": len(sink_jobs),
        "exec_stages": sum(len(j["stages"]) for j in sink_jobs),
        "exec_tasks": sum(s["tasks"] for j in sink_jobs for s in j["stages"]),
        "job_busy_s": busy, "driver_gap_s": op["wall"] - busy,
        "task_run_s": run_s, "task_cpu_s": sum(s["cpu_s"] for s in stages),
        "slot_util": run_s / (cores * busy) if busy > 0 else 0.0,
        "task_skew": max([s["skew"] for s in stages] + [1.0]),
        "gc_s": sum(s["gc_s"] for s in stages),
        "failed_tasks": sum(j["failed_tasks"] for j in jobs),
        "input_mb": sum(s["input_b"] for s in stages) / 1e6,
        "input_rows": sum(s["input_rows"] for s in stages),
        "write_s": sum((s["end"] or s["start"]) - s["start"] for s in writes if s["start"]),
        "output_mb": sum(s["output_b"] for s in writes) / 1e6,
        "shuffle_write_mb": sum(s["shuffle_write_b"] for s in stages) / 1e6,
        "shuffle_read_mb": sum(s["shuffle_read_b"] for s in stages) / 1e6,
        "spill_mb": sum(s["spill_b"] for s in stages) / 1e6,
    }


# per-layer name -> per-op reading summed over queries (of their warm medians)
SUMMED = {
    "build.s": "build_s", "build.jobs": "build_jobs", "exec.s": "exec_s",
    "exec.jobs": "exec_jobs", "exec.stages": "exec_stages", "exec.tasks": "exec_tasks",
    "exec.job_busy_s": "job_busy_s", "exec.driver_gap_s": "driver_gap_s",
    "exec.task_run_s": "task_run_s", "exec.task_cpu_s": "task_cpu_s", "exec.gc_s": "gc_s",
    "exec.failed_tasks": "failed_tasks", "session.released_n": "released_n",
    "sources.input_mb": "input_mb", "sources.input_rows": "input_rows",
    "sources.write_s": "write_s", "sources.output_mb": "output_mb",
    "shuffle.write_mb": "shuffle_write_mb", "shuffle.read_mb": "shuffle_read_mb",
    "shuffle.spill_mb": "spill_mb",
}
PER_QUERY = ("build_s", "exec_s", "driver_gap_s", "shuffle_write_mb")


def per_layer(res: dict, cores: int, warm_total_s: float) -> tuple[dict, list]:
    """Per-layer values of a traced run, and the per-op readings behind
    them. Besides the names in BENCHMARK.json this holds the build split
    by module and the per-query readings of this workload's queries."""
    from worker import module_of

    rows = [dict(op_layers(o, cores), query=o["query"], round=o["round"])
            for o in res["ops"] if o["round"] > 0 and o["ok"]]
    by_q: dict[str, dict[str, float]] = {}
    for q in {r["query"] for r in rows}:
        mine = [r for r in rows if r["query"] == q]
        by_q[q] = {k: statistics.median(r[k] for r in mine)
                   for k in mine[0] if k not in ("query", "round")}
    m = {name: sum(v[key] for v in by_q.values()) for name, key in SUMMED.items()}
    busy = m["exec.job_busy_s"]
    m["exec.slot_util"] = m["exec.task_run_s"] / (cores * busy) if busy else 0.0
    m["exec.task_skew"] = max([v["task_skew"] for v in by_q.values()] + [1.0])
    m.update({"session.start_s": res["start_s"], "sources.resolve_s": res["resolve_s"],
              "sched.floor_s": res["floor_s"], "trace.warm_total_s": warm_total_s})
    for q, v in sorted(by_q.items()):
        m[f"build.{module_of(q)}_s"] = m.get(f"build.{module_of(q)}_s", 0.0) + v["build_s"]
        m.update({f"q.{q}.{k}": v[k] for k in PER_QUERY})
    return m, rows


def spans_of(res: dict) -> list[dict]:
    """workload -> op -> {build, sink, check, release} -> job -> stage, with
    self times; children clipped into their parents."""
    ops = res["ops"]
    out: list[dict] = []

    def add(name: str, parent: dict | None, start: float, end: float, **kw) -> dict:
        s = {"id": len(out), "parent": parent["id"] if parent else None,
             "name": name, "start": start, "end": end, **kw}
        if parent is not None:
            s = clip(s, parent)
        out.append(s)
        return s

    root = add(res["workload"], None, ops[0]["start"], ops[-1]["end"])
    for o in ops:
        op = add("op", root, o["start"], o["end"], query=o["query"], round=o["round"],
                 wall=o["wall"])
        check_end = o["sink_end"] + o["check_s"]
        parts = {"build": add("build", op, o["start"], o["build_end"]),
                 "sink": add("sink", op, o["build_end"], o["sink_end"]),
                 "check": add("check", op, o["sink_end"], check_end),
                 "release": add("release", op, check_end, o["end"])}
        for j in o.get("jobs", []):
            parent = parts.get((j["group"] or "").rsplit("/", 1)[-1], op)
            js = add(f"job {j['id']}", parent, j["start"], j["end"] or j["start"])
            for s in j["stages"]:
                if s["start"]:
                    add(f"stage {s['id']}", js, s["start"], s["end"] or s["start"])
    selfs = self_times(out)
    for s in out:
        s["self"] = selfs[s["id"]]
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (self-tests)")
    ap.add_argument("--inject-wrong", default=None, help=argparse.SUPPRESS)
    a = ap.parse_args()
    t_start = time.time()

    if not os.path.isdir(os.path.join(ROOT, "hadoop_mapreduce_spark")):
        fail("the engine package is not next to this directory; run from a full checkout")
    from worker import WORKLOADS

    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}; choose from {sorted(WORKLOADS)}")
    if a.inject_wrong and a.inject_wrong not in WORKLOADS[a.workload]:
        fail(f"--inject-wrong names no query of {a.workload}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    cores = len(os.sched_getaffinity(0))
    cache = os.path.join(ROOT, ".perfbench_cache")
    work = os.path.join(cache, "work", f"{a.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(cache, "inputs"), exist_ok=True)
    data = gen.cached(a.workload, a.seed, os.path.join(cache, "inputs"), cores, a.scale)
    phases = {"inputs_s": time.time() - t_start}
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
               SPARK_LOCAL_DIRS=os.path.join(work, "local"), TMPDIR=os.path.join(work, "tmp"),
               PYTHONPATH=ROOT,
               # -UsePerfData: no hsperfdata file in the system temp dir
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    deadline = t_start + RUN_TIMEOUT_S
    try:
        md5_start = md5_chain_s()
        rfile = os.path.join(work, "result.json")
        t_spawn = time.time()
        extra = ["--inject-wrong", a.inject_wrong] if a.inject_wrong else []
        spawn(["--workload", a.workload, "--data", data, "--result", rfile,
               "--out-dir", os.path.join(work, "ngram_out"), "--seconds", str(a.seconds),
               "--trace", str(a.trace)] + extra, env, work, deadline - time.time())
        phases["worker_s"] = time.time() - t_spawn
        md5_end = md5_chain_s()
        t0 = time.time()
        with open(rfile) as fh:
            res = json.load(fh)
        setup_s = res["setup_end"] - t_spawn

        # correctness, outside every timed region
        if a.workload == "ngram_cli":
            wants = {"ngram_cli": dict(twin.ngram_twin_digest(data), sorted=True)}
        else:
            wants = twin.oracle_digests(data, WORKLOADS[a.workload])
        checks = check_ops(res["ops"], wants)
        phases["check_s"] = time.time() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, info = end_to_end(res, setup_s)
    stem = f"{a.workload}-s{a.seed}" + (f"-x{a.scale:g}" if a.scale != 1 else "")
    ratio = {"md5": md5_end / md5_start,
             "range": res["calib_range_end_s"] / res["calib_range_start_s"]}
    window = {
        "nproc": cores, "SPARK_GRAFT_CPUS": cores, "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "java": res["java"], **versions(),
        "calib_md5_start_s": md5_start, "calib_md5_end_s": md5_end,
        "calib_range_start_s": res["calib_range_start_s"],
        "calib_range_end_s": res["calib_range_end_s"], "calib_end_over_start": ratio,
        "drift_flag": (ratio["range"] > RANGE_DRIFT
                       or not 1 / MD5_DRIFT <= ratio["md5"] <= MD5_DRIFT),
    }
    if window["drift_flag"]:
        print(f"perfbench: calibration drifted during the run: {ratio}", file=sys.stderr)
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
              "scale": a.scale, "phases": phases, "window": window,
              "end_to_end": e2e, **info, "checks": checks,
              "errors": sorted({o["err"] for o in res["ops"] if o["err"]})}
    if a.trace:
        layers, rows = per_layer(res, cores, e2e["warm_total_s"])
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in bench["per_layer"]}
        record.update(per_layer=layers, per_op_layers=rows, spans=spans_of(res))
        untraced = os.path.join(ROOT, ".perfbench_out", f"{stem}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["end_to_end"]["warm_total_s"]
            record["trace_overhead_s"] = e2e["warm_total_s"] - base
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench_out", f"{stem}-trace{a.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    failed = sum(not o["ok"] for o in res["ops"])
    print(json.dumps({"correct": failed == 0, "attempted": len(res["ops"]),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

"""One workload in one fresh Spark process: set-up, calibration, then a
closed loop of ops from a single client. Writes its raw readings as JSON;
``run.py`` turns them into metrics.

An op is one query's build call, then its sink, then
``session.release_caches()``. The first op of each query is its cold op;
the loop then runs whole rounds over the workload's queries until the run
has lasted ``--seconds`` and holds enough warm ops for the tail
percentile. Between the sink and the release, outside the op's wall, each
op's output is digested for the twin comparison ``run.py`` makes.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import re
import resource
import statistics
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_mapreduce_spark.operators.ngram import ngram_count_text  # noqa: E402
from hadoop_mapreduce_spark.registry import QUERIES  # noqa: E402
from hadoop_mapreduce_spark.session import get_spark, release_caches  # noqa: E402
from hadoop_mapreduce_spark.sources.tables import load_tables, write_tsv  # noqa: E402
from spans import read_jobs  # noqa: E402  (this file's directory leads sys.path)
from twin import NGRAM_N, digest, read_tsv  # noqa: E402

WORKLOADS = {
    "dedup_guard": ["dedup_components_star", "unigram_logprob_quality", "decontaminate_ngram",
                    "dedup_span_chunks"],
    "ngram_cli": ["ngram_cli"],
}
# Warm rounds per workload, so op_tail_s has ten warm ops beyond it: 12
# warm ops on dedup_guard (p17, a low quantile: the run budget allows no
# more) and 40 on ngram_cli (p75). A fixed count keeps that percentile the
# same from run to run: on a 4-core box the count, not --seconds, ends the
# loop.
WARM_ROUNDS = {"dedup_guard": 3, "ngram_cli": 40}
OP_TIMEOUT_S = 60.0
FLOOR_SAMPLES = 5
CALIB_ROWS = 10_000_000


def module_of(query: str) -> str:
    if query == "ngram_cli":
        return "ngram"
    return QUERIES[query].__module__.rsplit(".", 1)[-1]


def calibrate(spark, cores: int) -> float:
    """Median of three runs of a fixed in-memory aggregation, after one
    untimed run that compiles it. Each run builds a fresh DataFrame: a
    re-collected one reuses its materialised shuffle."""
    times = []
    for i in range(4):
        t0 = time.time()
        spark.range(0, CALIB_ROWS, 1, cores).selectExpr(
            "sum(pmod(xxhash64(id), 4096)) AS s").collect()
        if i:
            times.append(time.time() - t0)
    return statistics.median(times)


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        return int(re.search(r"VmHWM:\s+(\d+)", fh.read()).group(1))


def heap_peak_mb(spark) -> dict[str, float]:
    """Peak used MB of each JVM heap pool. With the heap pinned, VmHWM
    mostly reads the heap size; these read what the plans used."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return {p.getName(): p.getPeakUsage().getUsed() / 2**20
            for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"}


class Client:
    """The single closed-loop client of one workload."""

    def __init__(self, spark, workload: str, data: str, out_dir: str, trace: bool,
                 inject_wrong: str | None):
        self.spark, self.sc = spark, spark.sparkContext
        self.workload, self.data, self.out_dir, self.trace = workload, data, out_dir, trace
        self.inject_wrong = inject_wrong
        self.ops: list[dict] = []
        self.tsv_digests: dict[str, dict] = {}
        self.job_mark = -1

    def output_digest(self, query: str, df, rnd: int) -> dict:
        """Digest of the op's output. ``--inject-wrong`` drops a row from
        its query's output in round 1 only."""
        drop = int(query == self.inject_wrong and rnd == 1)
        if query != "ngram_cli":
            return digest(df.columns, [tuple(r) for r in df.collect()][drop:])
        # A globally sorted TSV of distinct keys has one byte content, so
        # an op whose part files hash as an earlier op's has its digest.
        h = hashlib.sha1()
        for p in sorted(glob.glob(os.path.join(self.out_dir, "part-*"))):
            with open(p, "rb") as fh:
                h.update(fh.read())
        key = h.hexdigest()
        if drop or key not in self.tsv_digests:
            got, ordered = read_tsv(self.out_dir, drop)
            got["sorted"] = ordered
            if drop:
                return got
            self.tsv_digests[key] = got
        return self.tsv_digests[key]

    def op(self, query: str, rnd: int) -> None:
        """Run and time one op; digest its output between sink and
        release, outside the wall."""
        rec = {"query": query, "round": rnd, "ok": True, "err": None, "check_s": 0.0,
               "out": None}
        tag = f"{self.workload}/{len(self.ops)}/{query}"
        timer = threading.Timer(OP_TIMEOUT_S, self.sc.cancelAllJobs)
        timer.start()
        t0 = time.time()
        t1 = t2 = None
        try:
            if self.trace:
                self.sc.setJobGroup(tag + "/build", query)
            df = (ngram_count_text(self.spark, self.data, n=NGRAM_N) if query == "ngram_cli"
                  else QUERIES[query](self.spark, self.data))
            t1 = time.time()
            if self.trace:
                self.sc.setJobGroup(tag + "/sink", query)
            if query == "ngram_cli":
                write_tsv(df, self.out_dir)
            else:
                df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            if self.trace:
                self.sc.setJobGroup(tag + "/check", query)
            rec["out"] = self.output_digest(query, df, rnd)
            rec["check_s"] = time.time() - t2
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            rec.update(ok=False, err=f"{type(e).__name__}: {e}"[:400])
        finally:
            timer.cancel()
            now = time.time()
            t1 = t1 or now
            t2 = t2 or now
            if self.trace:
                self.sc.setJobGroup(tag + "/release", query)
            rec["released_n"] = release_caches()
            t3 = time.time()
        rec.update(start=t0, build_end=t1, sink_end=t2, end=t3, build_s=t1 - t0,
                   sink_s=t2 - t1, release_s=t3 - t2 - rec["check_s"],
                   wall=t3 - t0 - rec["check_s"])
        if rec["ok"] and rec["wall"] > OP_TIMEOUT_S:
            rec.update(ok=False, err="timeout")
        if self.trace:
            self.sc.setJobGroup("perfbench/idle", "")
            self.job_mark, rec["jobs"] = read_jobs(self.sc, self.job_mark)
        self.ops.append(rec)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--out-dir", required=True, help="where the ngram_cli sink writes")
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--inject-wrong", default=None,
                    help="drop a row of this query's output in round 1 (self-test)")
    a = ap.parse_args()
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    res: dict = {"workload": a.workload}

    t0 = time.time()
    spark = get_spark(f"perfbench-{a.workload}",
                      extra_conf={"spark.ui.showConsoleProgress": "false",
                                  # a heap fixed at its limit keeps peak RSS
                                  # independent of when G1 chooses to grow it
                                  "spark.driver.extraJavaOptions":
                                      "-Xms" + os.environ["SPARK_GRAFT_DRIVER_MEM"]})
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.time()
    if a.workload == "ngram_cli":
        spark.read.text(a.data).schema
    else:
        for df in load_tables(spark, a.data).values():
            df.schema
    t2 = time.time()
    floor = []
    for _ in range(FLOOR_SAMPLES):
        ts = time.time()
        spark.range(1).write.format("noop").mode("overwrite").save()
        floor.append(time.time() - ts)
    res.update(setup_end=time.time(), start_s=t1 - t0, resolve_s=t2 - t1,
               floor_s=statistics.median(floor),
               java=spark.sparkContext._jvm.System.getProperty("java.version"),
               calib_range_start_s=calibrate(spark, cores))
    client = Client(spark, a.workload, a.data, a.out_dir, bool(a.trace), a.inject_wrong)
    if a.trace:
        client.job_mark, _ = read_jobs(spark.sparkContext, -1)
    t_loop = time.time()
    rnd = 0
    while rnd <= WARM_ROUNDS[a.workload] or time.time() - t_loop < a.seconds:
        for q in WORKLOADS[a.workload]:
            client.op(q, rnd)
        rnd += 1
    res["loop_s"] = time.time() - t_loop
    res["calib_range_end_s"] = calibrate(spark, cores)
    res.update(ops=client.ops, heap_peak_mb=heap_peak_mb(spark),
               jvm_hwm_kb=vm_hwm_kb(spark.sparkContext._gateway.proc.pid),
               py_maxrss_kb=resource.getrusage(resource.RUSAGE_SELF).ru_maxrss)
    spark.stop()
    with open(a.result, "w") as fh:
        json.dump(res, fh)


if __name__ == "__main__":
    main()

"""Spark job/stage/task readings from the AppStatusStore, and span self
times. Used only by traced runs; nothing here runs inside a timed op."""

from __future__ import annotations

import statistics


def _ms(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


def read_jobs(sc, after_job: int) -> tuple[int, list[dict]]:
    """Jobs with id > ``after_job``, oldest first, each with its stages.

    Waits for the listener bus first: the store is filled asynchronously,
    so a job that just returned may not be recorded yet."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jvm = sc._jvm
    no_status = jvm.java.util.Collections.emptyList()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    seq = store.jobsList(None)  # newest first
    jobs = []
    for i in range(seq.size()):
        j = seq.apply(i)
        jid = j.jobId()
        if jid <= after_job:
            break
        group = j.jobGroup()
        job = {"id": jid, "group": group.get() if group.isDefined() else None,
               "start": _ms(j.submissionTime()), "end": _ms(j.completionTime()),
               "failed_tasks": j.numFailedTasks(), "stages": []}
        ids = j.stageIds()
        for k in range(ids.size()):
            attempts = store.stageData(ids.apply(k), False, no_status, False, no_quantiles)
            for a in range(attempts.size()):
                s = attempts.apply(a)
                if s.status().toString() == "SKIPPED":
                    continue
                tasks = store.taskList(s.stageId(), s.attemptId(), 100_000)
                durs = [d.get() / 1000.0 for d in
                        (tasks.apply(t).duration() for t in range(tasks.size()))
                        if d.isDefined()]
                job["stages"].append({
                    "id": s.stageId(), "start": _ms(s.submissionTime()),
                    "end": _ms(s.completionTime()), "tasks": s.numTasks(),
                    "run_s": s.executorRunTime() / 1000.0,
                    "cpu_s": s.executorCpuTime() / 1e9,
                    "gc_s": s.jvmGcTime() / 1000.0,
                    "input_b": s.inputBytes(), "input_rows": s.inputRecords(),
                    "output_b": s.outputBytes(),
                    "shuffle_read_b": s.shuffleReadBytes(),
                    "shuffle_write_b": s.shuffleWriteBytes(),
                    "spill_b": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    "failed_tasks": s.numFailedTasks(),
                    "skew": (max(durs) / statistics.median(durs)
                             if len(durs) > 1 and statistics.median(durs) > 0 else 1.0),
                })
        jobs.append(job)
    jobs.reverse()
    return max([after_job] + [j["id"] for j in jobs]), jobs


def union_len(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    return total + (cur_b - cur_a if cur_b is not None else 0.0)


def clip(child: dict, parent: dict) -> dict:
    """``child`` with its interval clipped into ``parent``'s (the JVM and
    Python clocks agree only to the millisecond)."""
    a = min(max(child["start"], parent["start"]), parent["end"])
    b = max(min(child["end"], parent["end"]), a)
    return dict(child, start=a, end=b)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Exclusive time per span: every instant is charged to the deepest
    spans active then, split evenly among concurrent ones, so the self
    times of a tree add up to its root's duration. Children must lie
    inside their parent (see :func:`clip`)."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    edges = sorted({t for s in spans for t in (s["start"], s["end"])})
    out = {s["id"]: 0.0 for s in spans}
    for a, b in zip(edges, edges[1:]):
        mid = (a + b) / 2
        active = [s for s in spans if s["start"] <= mid < s["end"]]
        leaves = [s for s in active
                  if not any(c["start"] <= mid < c["end"] for c in kids.get(s["id"], ()))]
        for s in leaves:
            out[s["id"]] += (b - a) / len(leaves)
    return out

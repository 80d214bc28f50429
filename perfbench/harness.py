"""Closed-loop runner, statistics, spans and process probes.

One client sends the next op only after the previous one has finished
(closed loop). A window runs a fixed number of whole rounds of the
workload's op list, so every run times the same op mix in the same
order; per-kind medians and the round time rebuilt from them are
comparable between runs, and one slow op moves neither.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field
from typing import Callable


@dataclass
class Op:
    """One unit of work. ``scan`` is the call into the package's read
    API (driver-side planning), ``then`` the transformation applied to
    its DataFrame; the runner sends the result to the noop sink.
    ``check`` recomputes the same plan's result outside the timed window
    and raises if it is wrong. ``rows`` is the rows (or documents) the
    op moves."""

    kind: str
    label: str
    rows: int
    scan: Callable
    check: Callable
    then: Callable = staticmethod(lambda df: df)


@dataclass
class Record:
    op: Op
    latency_s: float
    scan_s: float
    error: str | None = None
    spark: dict = field(default_factory=dict)
    cache_hit: bool = False


class Spans:
    """In-memory spans: (id, parent, name, start, end, attrs). Spans of
    one op share the op span as parent."""

    def __init__(self):
        self.rows: list[dict] = []
        self.last_scan: dict[int, object] = {}  # id(op) -> DataFrame its last scan returned

    def add(self, name: str, t0: float, t1: float, parent: int | None = None, **attrs) -> int:
        sid = len(self.rows)
        self.rows.append({"id": sid, "parent": parent, "name": name, "start": t0, "end": t1, **attrs})
        return sid


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def execute(op: Op) -> tuple[float, float]:
    """Run one op; returns (scan-call seconds, total seconds)."""
    t0 = time.perf_counter()
    df = op.scan()
    t1 = time.perf_counter()
    noop(op.then(df))
    return t1 - t0, time.perf_counter() - t0


def run_window(ops: list[Op], rounds: int, spark=None, spans: Spans | None = None) -> tuple[list[Record], float]:
    """Closed loop over ``rounds`` whole rounds of ``ops``; returns the
    records and the window's wall seconds. A failing op is recorded and
    the loop goes on. With ``spans`` set, every op gets a span, child
    spans for its scan call and its execution, and the Spark task
    metrics of the jobs it ran."""
    records: list[Record] = []
    start = time.perf_counter()
    for _ in range(rounds):
        for op in ops:
            records.append(_run_traced(op, spark, spans, len(records)) if spans else _run_plain(op))
    return records, time.perf_counter() - start


def _run_plain(op: Op) -> Record:
    t0 = time.perf_counter()
    try:
        scan_s, total = execute(op)
    except Exception as e:  # noqa: BLE001 - a failed op is a result
        return Record(op, time.perf_counter() - t0, 0.0, f"{type(e).__name__}: {str(e)[:300]}")
    return Record(op, total, scan_s)


def _run_traced(op: Op, spark, spans: Spans, n: int) -> Record:
    sc = spark.sparkContext
    group = f"perfbench-op-{n}"
    sc.setJobGroup(group, f"{op.kind} {op.label}")
    t0 = time.perf_counter()
    err, hit = None, False
    t1 = t0
    try:
        df = op.scan()
        t1 = time.perf_counter()
        hit = spans.last_scan.get(id(op)) is df
        spans.last_scan[id(op)] = df
        noop(op.then(df))
    except Exception as e:  # noqa: BLE001 - a failed op is a result
        err = f"{type(e).__name__}: {str(e)[:300]}"
    t2 = time.perf_counter()
    sc.setJobGroup("perfbench", "untimed")
    parent = spans.add("op", t0, t2, kind=op.kind, label=op.label, error=err)
    spans.add("api.scan_build", t0, t1, parent, cache_hit=hit)
    spans.add("spark.execute", t1, t2, parent)
    return Record(op, t2 - t0, t1 - t0, err, stage_metrics(spark, group), hit)


def stage_metrics(spark, group: str) -> dict:
    """Task metrics summed over every stage of the jobs in ``group``,
    read from the driver's AppStatusStore. Per-op by construction: only
    this op's jobs carry the group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    out = dict(tasks=0, task_run_s=0.0, jvm_cpu_s=0.0, gc_s=0.0, shuffle_write_mb=0.0, spill_mb=0.0)
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else []:
            seq = store.stageData(sid, False, jvm.java.util.ArrayList(), False, sc._gateway.new_array(jvm.double, 0))
            for i in range(seq.size()):
                s = seq.apply(i)
                out["tasks"] += s.numCompleteTasks()
                out["task_run_s"] += s.executorRunTime() / 1e3
                out["jvm_cpu_s"] += s.executorCpuTime() / 1e9
                out["gc_s"] += s.jvmGcTime() / 1e3
                out["shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
                out["spill_mb"] += (s.diskBytesSpilled() + s.memoryBytesSpilled()) / 1e6
    return out


def failed(records: list[Record], bad: dict) -> int:
    """Ops that raised, plus ops of a kind whose checked result was
    wrong (``bad`` is keyed by id(op))."""
    return sum(1 for r in records if r.error is not None or id(r.op) in bad)


def by_kind(records: list[Record]) -> dict[str, list[Record]]:
    out: dict[str, list[Record]] = {}
    for r in records:
        out.setdefault(r.op.kind, []).append(r)
    return out


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(latencies: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 samples beyond it, and
    its value. Below 20 samples that percentile would sit under the
    median, so the maximum (percentile 100) stands in."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 20:
        return 100.0, xs[-1] if xs else 0.0
    return 100.0 * (n - 10) / n, xs[n - 11]


def host_probe_s(reps: int = 5) -> float:
    """A fixed pure-Python CPU loop that does not touch the program:
    its drift between runs is host drift."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        times.append(time.perf_counter() - t0)
    return median(times)


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def empty_job_s(spark, reps: int = 5) -> float:
    """Median of a one-row noop job: the Spark job floor."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        noop(spark.range(1))
        times.append(time.perf_counter() - t0)
    return median(times)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants() -> list[int]:
    """Every live process below this one."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Summed VmHWM of this driver process, the JVM and the Python
    workers (every live descendant)."""
    total_kb = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0

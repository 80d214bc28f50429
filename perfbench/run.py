#!/usr/bin/env python3
"""Benchmark for the readstat DataSource and the operators built on it.

    python3 perfbench/run.py --workload read_large --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, starts a local Spark session on every core, checks every op's
result once (this is also the warm-up round), then times whole rounds of
the workload's ops with one client in a closed loop: as many rounds as
fit ``--seconds`` at the workload's nominal round time, so every run
times the same op sequence. Prints a detail line (every metric with its unit, per-kind
medians, error rate, drift telemetry) and then one JSON result line.
``--trace 1`` reports the per-layer metrics instead: after the untraced
window it runs a traced window and calls each layer directly; its spans
go to ``.perfbench_out/``.

    python3 perfbench/run.py --steady 5 --workload read_corpus

runs the workload with seeds 1..5, prints each metric's quartile spread
next to its bound in BENCHMARK.json, and keeps every run's detail and
result lines in ``.perfbench_out/steady-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import fixtures
import harness
import layers
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
PARALLEL = 3  # concurrent jobs in the untimed warm-up and check rounds

E2E_UNITS = {
    "rows_per_s": "rows/s", "op_p50_s": "s", "op_tail_s": "s",
    "peak_rss_mb": "MB", "setup_s": "s",
}
LAYER_UNITS = {
    "session.start_s": "s", "session.empty_job_s": "s", "host.probe_s": "s",
    "trace.overhead_ratio": "ratio", "run.window_s": "s",
    "api.scan_build_s": "s", "api.scan_cache_hit_ratio": "ratio",
    "datasource.schema_s": "s", "datasource.partitions_s": "s", "datasource.partitions": "count",
    "datasource.decode_s": "s", "datasource.decode_rows_per_s": "rows/s",
    "datasource.arrow_bytes_per_row": "B/row", "datasource.transfer_s": "s",
    "metacache.header_s": "s", "metacache.hit_ratio": "ratio",
    "formats.write_s": "s", "formats.spill_s": "s", "formats.assemble_s": "s",
    "formats.file_bytes_per_row": "B/row",
    "spark.tasks": "count", "spark.task_run_s": "s", "spark.jvm_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
}
SPARK_KEYS = ("tasks", "task_run_s", "jvm_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb")


def isolate(work: str) -> None:
    """A per-run work directory inside the checkout, and the package on the
    Python workers' path (they do not inherit this process's sys.path)."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_DRIVER_MEM="2g",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} pyspark-shell"
        ),
    )
    sys.path.insert(0, ROOT)


def stop(spark) -> None:
    """Stop Spark, the JVM and every process they started, and wait."""
    from pyspark import SparkContext

    kids = harness.descendants()
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 - the JVM may already be gone
                pass
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
        deadline = time.time() + 30
        while kids and time.time() < deadline:
            kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        for p in kids:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def run_checks(ops) -> dict[int, str]:
    """Run every op's check, a few at a time; returns {id(op): error}
    for the ops whose result is wrong or whose check failed."""
    with ThreadPoolExecutor(PARALLEL) as ex:
        futures = [(op, ex.submit(op.check)) for op in ops]
    bad = {}
    for op, f in futures:
        e = f.exception()
        if e is not None:
            bad[id(op)] = f"{op.kind} {op.label}: {type(e).__name__}: {str(e)[:300]}"
    return bad


def prewarm(ops) -> None:
    """Run one op of every kind and every input, a few at a time."""
    seen, cover = set(), []
    for op in ops:
        if op.kind not in seen or op.label not in seen:
            seen |= {op.kind, op.label}
            cover.append(op)
    with ThreadPoolExecutor(PARALLEL) as ex:
        for f in [ex.submit(harness.execute, op) for op in cover]:
            f.exception()  # a failing op fails again in the checks


def log(msg: str, t0: float) -> None:
    print(f"perfbench: {msg} at {time.perf_counter() - t0:.1f} s", file=sys.stderr, flush=True)


def bench(args, work: str) -> tuple[dict, dict, bool, int, int]:
    from polars_readstat_rs_spark.datasource import register
    from polars_readstat_rs_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cores)
    spark.sparkContext.setLogLevel("ERROR")
    register(spark)
    harness.noop(spark.range(1))
    start_s = time.perf_counter() - t0
    try:
        # the miniature inputs' ops run in other threads while the full
        # inputs are written: Python worker start-up and first-use costs
        # are paid here, not in the checks or the timed window
        small = os.path.join(work, "small")
        os.makedirs(small)
        mini = WORKLOADS[args.workload](spark, small, args.seed, fixtures.SMALL)
        warm = threading.Thread(target=prewarm, args=(mini.ops,))
        warm.start()
        fixture_s = []
        for rep in range(SETUP_REPS):
            out = os.path.join(work, "fixtures", str(rep))
            os.makedirs(out)
            t1 = time.perf_counter()
            wl = WORKLOADS[args.workload](spark, out, args.seed, fixtures.FULL)
            fixture_s.append(time.perf_counter() - t1)
            if rep < SETUP_REPS - 1:
                shutil.rmtree(out)
        warm.join()
        # flush the inputs now, so their write-back does not overlap
        # the timed window
        os.sync()
        log("inputs written", t0)
        # the checks are also the warm-up round: every op's plan runs
        # once on the full inputs, before and outside the timed window
        bad = run_checks(wl.ops)
        log("checks done", t0)
        probe0, empty0 = harness.host_probe_s(), harness.empty_job_s(spark)
        rounds = max(1, round(args.seconds / wl.round_s))
        steal0 = harness.cpu_times()
        records, window_s = harness.run_window(wl.ops, rounds)
        steal1 = harness.cpu_times()
        probe1, empty1 = harness.host_probe_s(), harness.empty_job_s(spark)
        rss = harness.peak_rss_mb()
        log("timed window done", t0)
        layer, extra = {}, {}
        if args.trace:
            spans = harness.Spans()
            spans.last_scan = {id(op): op.scan() for op in wl.ops}
            traced, _ = harness.run_window(wl.ops, rounds, spark, spans)
            layer, extra = trace_layers(spark, wl, records, traced, work, cores)
            write_spans(args, spans)
            log("traced run done", t0)
    finally:
        stop(spark)
        log("spark stopped", t0)

    failed = harness.failed(records, bad)
    good = [r for r in records if r.error is None and id(r.op) not in bad]
    kinds = harness.by_kind(good)
    kind_p50 = {k: harness.median([r.latency_s for r in rs]) for k, rs in kinds.items()}
    # one round's time, rebuilt from the per-kind medians
    round_s = sum(kind_p50.get(op.kind, 0.0) for op in wl.ops)
    lat = [r.latency_s for r in good]
    pct, tail_s = harness.tail(lat)
    e2e = {
        "rows_per_s": sum(op.rows for op in wl.ops) / round_s if round_s else 0.0,
        "op_p50_s": harness.median(lat),
        "op_tail_s": tail_s,
        "peak_rss_mb": rss,
        "setup_s": start_s + harness.median(fixture_s),
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "cores": cores, "rows_are": wl.unit,
        **{k: [v, E2E_UNITS[k]] for k, v in e2e.items()},
        **{f"{k}_p50_s": [v, "s"] for k, v in kind_p50.items()},
        "op_tail_percentile": pct, "op_samples": len(lat), "rounds": rounds,
        "error_rate": [failed / len(records), "ratio"],
        "run.window_s": [window_s, "s"], "session.start_s": [start_s, "s"],
        "setup.fixture_s": [fixture_s, "s"],
        "drift": {"host.probe_s": [probe0, probe1], "session.empty_job_s": [empty0, empty1]},
        # CPU time the hypervisor gave to other guests during the window
        "host.steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "op_latencies_s": [[r.op.kind, r.op.label, round(r.latency_s, 4)] for r in records],
        "errors": sorted({r.error for r in records if r.error} | set(bad.values()))[:5],
        **wl.detail, **extra,
    }
    if args.trace:
        layer.update({
            "session.start_s": start_s, "session.empty_job_s": empty0, "host.probe_s": probe0,
            "run.window_s": window_s,
        })
        metrics = {k: {"value": layer[k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    return metrics, detail, not failed, len(records), failed


def trace_layers(spark, wl, records, traced, work: str, cores: int) -> tuple[dict, dict]:
    """Per-layer metrics from the traced window and from direct calls
    into each layer; returns (the per_layer metrics, a breakdown by
    format, op kind and operator)."""
    ok = [r for r in traced if r.error is None]
    untraced_p50 = harness.median([r.latency_s for r in records if r.error is None])
    out = {
        "trace.overhead_ratio": harness.median([r.latency_s for r in ok]) / untraced_p50 if untraced_p50 else 0.0,
        "api.scan_build_s": harness.median([r.scan_s for r in ok]),
        "api.scan_cache_hit_ratio": sum(r.cache_hit for r in ok) / max(1, len(ok)),
        **{f"spark.{k}": harness.median([r.spark[k] for r in ok]) for k in SPARK_KEYS},
    }
    kinds = harness.by_kind(ok)
    detail = {
        f"trace.{kind}": {
            "p50_s": harness.median([r.latency_s for r in rs]),
            **{f"spark.{k}": harness.median([r.spark[k] for r in rs]) for k in SPARK_KEYS},
        }
        for kind, rs in kinds.items()
    }
    if wl.name == "dedup_docs":
        detail.update({f"operators.{k}_s": harness.median([r.latency_s for r in rs]) for k, rs in kinds.items()})
    out.update(layers.planning(wl.targets))
    pred = (fixtures.FILTER_COL, fixtures.FILTER_MIN) if wl.name == "read_large" else None
    dec, d = layers.decode(wl.targets, pred)
    detail.update(d)
    per_scan = dec.pop("decode_per_scan_s")
    out.update(dec)
    full = [r.latency_s for r in kinds.get("full", [])]
    if not full:  # no full-read op kind: time full reads of the inputs
        from polars_readstat_rs_spark import api

        reads = [harness.Op("full", t.label, t.rows, lambda t=t: api.readstat_scan(spark, t.options["path"]), None)
                 for t in wl.targets]
        full = [harness.execute(op)[1] for op in reads for _ in range(3)]
    # Arrow->JVM transfer plus task floors: what a full read costs beyond
    # planning and the decode spread over the partitions that run at once
    out["datasource.transfer_s"] = (
        harness.median(full) - out["api.scan_build_s"]
        - per_scan / min(out["datasource.partitions"], cores)
    )
    for o, d in (layers.writer_phases(wl.tables, os.path.join(work, "phases")), layers.fixture_writes(wl)):
        out.update(o)
        detail.update(d)
    return out, detail


def write_spans(args, spans) -> None:
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"spans-{args.workload}-{args.seed}.jsonl"), "w") as f:
        for row in spans.rows:
            f.write(json.dumps(row) + "\n")


def steady(args) -> int:
    """Run the workload ``args.steady`` times with seeds 1..N and print
    each metric's quartile spread as a share of its median, next to its
    bound in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["per_layer" if args.trace else "end_to_end"]}
    values: dict[str, list[float]] = {}
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench_out", f"steady-{args.workload}.jsonl"), "w") as runs:
        for seed in range(1, args.steady + 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
                   "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
            res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = res.stdout.strip().splitlines()
            if res.returncode or not lines:
                print(f"seed {seed}: exit {res.returncode}\n{res.stderr[-2000:]}")
                return 1
            runs.write(lines[-2] + "\n" + lines[-1] + "\n")
            out, detail = json.loads(lines[-1]), json.loads(lines[-2])
            drift = detail["drift"]
            print(f"seed {seed}: correct={out['correct']} attempted={out['attempted']} failed={out['failed']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items())
                  + " drift " + " ".join(f"{k}={a:.3g}->{b:.3g}" for k, (a, b) in drift.items())
                  + f" steal={detail['host.steal_share']:.3f}", flush=True)
            for k, v in out["metrics"].items():
                values.setdefault(k, []).append(v["value"])
    ok = True
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        b = bounds.get(k)
        verdict = "" if b is None else "ok" if spread <= b / 3 else "within bound" if spread <= b else "TOO NOISY"
        ok &= b is None or k == "setup_s" or spread <= b
        print(f"{k:>24}: median {med:.5g}  spread {spread:.3f}  bound {b}  {verdict}")
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--steady", type=int, default=0, help="run N seeds and print metric spreads")
    args = ap.parse_args()
    if args.steady:
        return steady(args)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate(work)
    try:
        try:
            import polars_readstat_rs_spark  # noqa: F401
        except ImportError as e:
            print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
            return 2
        metrics, detail, correct, attempted, failed = bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there
    print(json.dumps(detail, default=float), flush=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

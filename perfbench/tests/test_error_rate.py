"""A corrupted input must count as failed ops, not crash the run.

    python3 -m pytest perfbench/tests -q

Builds the read_large miniature inputs, truncates the .dta file, and
runs the benchmark's own check round and timed window over them.
"""

from __future__ import annotations

import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE)]

import run  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    work = os.path.join(run.ROOT, ".perfbench_work", f"test-{os.getpid()}")
    run.isolate(work)
    from polars_readstat_rs_spark.datasource import register
    from polars_readstat_rs_spark.session import get_spark

    s = get_spark("perfbench-test", cpus=2)
    s.sparkContext.setLogLevel("ERROR")
    register(s)
    yield s, work
    run.stop(s)
    shutil.rmtree(work, ignore_errors=True)


def test_corrupted_fixture_counts_in_error_rate(spark):
    import fixtures
    import harness
    from workloads import read_large

    s, work = spark
    out = os.path.join(work, "inputs")
    os.makedirs(out)
    wl = read_large(s, out, 7, fixtures.SMALL)
    dta = next(t.files[0] for t in wl.targets if t.fmt == "dta")
    with open(dta, "r+b") as f:
        f.truncate(os.path.getsize(dta) // 2)

    bad = run.run_checks(wl.ops)
    records, _ = harness.run_window(wl.ops, 1)
    failed = harness.failed(records, bad)

    dta_ops = [r for r in records if r.op.label == "dta"]
    assert len(dta_ops) == 3
    assert all(id(r.op) in bad or r.error for r in dta_ops)
    assert failed == len(dta_ops)  # the other formats' ops still succeed
    assert 0 < failed / len(records) < 1

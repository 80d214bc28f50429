"""SparkSession factory tuned for the local[32] test harness.

At cluster scale the same builder applies minus the local master /
driver-memory knobs, plus SPARK_GRAFT_AQE=1: on a real cluster AQE +
adaptive coalescing are load-bearing (runtime re-planning, skew-join
splitting, stage-size coalescing) because stages run minutes and
executor skew is real. In the single-JVM local profile the same
per-stage materialization barriers dominate sub-second stages, so the
local factory defaults AQE off (measured r8: 30-50% of small-query
wall clock was barrier tax).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Confs the engine depends on, applied defensively at runtime when code
# runs under a SparkSession we did not build (e.g. the harness driver's):
# ns-timestamp parquet reads and UTC comparisons. The Python DataSource
# filter-pushdown conf is deliberately absent: while it is on, Spark
# plans every filtered query through an extra pushdown worker, and the
# default readstat reader declines every filter anyway. A read with
# option("filter_pushdown","true") needs the session to set
# spark.sql.python.filterPushdown.enabled=true itself.
_REQUIRED_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    # testdata events.ts is parquet timestamp[us] (not UTC-adjusted); read
    # it as plain TIMESTAMP (identical micros under the UTC session zone)
    # instead of TIMESTAMP_NTZ, which unix_millis/window reject.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def ensure_session_confs(spark: SparkSession) -> None:
    for k, v in _REQUIRED_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in some deployments; reads then rely on defaults


def get_spark(app_name: str = "polars_readstat_rs_spark", cpus: str | int | None = None) -> SparkSession:
    cpus = str(cpus or DEFAULT_CPUS)
    # local mode: cores/2 shuffle partitions measured fastest (task-setup
    # overhead dominates small shuffles; AQE still splits skewed ones).
    # On a real cluster this is overridden to ~2-3x total cores.
    # SPARK_GRAFT_SHUFFLE overrides for larger-than-sf0.1 local runs: the
    # sf10 checkpoint measured 16 partitions spilling GBs per task on
    # 60M-row joins (q05 30 s, single-core merge phases) — partition
    # count must scale with data, which on a cluster AQE coalescing
    # handles from a high initial number.
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE") or (
        str(max(8, int(cpus) // 2)) if cpus.isdigit() else cpus
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        # AQE is deployment-size tuning, and THIS factory builds the
        # local[N] single-JVM profile: there are no stragglers or
        # executor-level skew to re-plan around, every query stage AQE
        # materializes adds a driver barrier (~0.1-0.2 s), and at the
        # bench scale that barrier tax measured 30-50% of wall clock
        # (q01 0.46->0.19 s, d03 1.39->0.81 s with AQE off, r8 profile).
        # A cluster deployment flips SPARK_GRAFT_AQE=1 (or sets the conf
        # in its own builder): on 1000 executors the same barriers are
        # amortized over minutes-long stages and AQE's runtime re-plan /
        # skew-join splitting is load-bearing — see the module
        # docstring. Structural skew guards (_cap_buckets, salted
        # joins, df-caps) do not depend on AQE either way.
        .config(
            "spark.sql.adaptive.enabled",
            "true" if os.environ.get("SPARK_GRAFT_AQE", "0") == "1" else "false",
        )
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # minPartitionSize=64k (default 1m): at sub-GB shuffle volumes
        # the 1 MB floor beats parallelismFirst and coalesces CPU-heavy
        # small-byte stages below the core count — measured r14 on the
        # 16-file layout: d02 0.73->1.15 s and q22 0.30->0.44 s with
        # AQE on at the default; at 64k both match or beat AQE-off
        # (d02 0.65 s) while tiny (<64k) partitions still merge. On a
        # cluster the floor only binds when per-core shuffle volume is
        # sub-MB — exactly when preserving parallelism for CPU-heavy
        # work is the right call; big shuffles coalesce identically.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # local harness: small single-file tables need small splits to use
        # the cores (a 25MB parquet is one task at the 128MB default);
        # cluster deployments keep the default for sane task counts.
        # SPARK_GRAFT_MAXPART overrides for larger local runs (sf1/sf10
        # checkpoints) where 16m splits mean hundreds of task setups per
        # scan; SPARK_GRAFT_PARQUET_BATCH sizes the vectorized reader's
        # columnar batch (rows per ColumnarBatch, default 4096) — larger
        # batches amortize per-batch dispatch on scan-bound aggregations.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAXPART", "16m"),
        )
        .config("spark.sql.files.openCostInBytes", "1m")
        .config(
            "spark.sql.parquet.columnarReaderBatchSize",
            os.environ.get("SPARK_GRAFT_PARQUET_BATCH", "4096"),
        )
        # SPARK_GRAFT_SHJ=1 prefers ShuffledHashJoin over SortMergeJoin:
        # at the sf10 checkpoint the q05 60M-row join spends ~35% of its
        # wall sorting both sides (11.6 -> 7.3 s with SHJ, measured r10);
        # at sf0.1 the sort is cheap and SHJ's per-task hash build slightly
        # loses (d03 0.9 -> 1.3 s), so the default stays SMJ and the big
        # local scale profiles opt in. On a cluster, AQE (enabled there)
        # makes this call per-join from runtime sizes instead.
        # BOUNDARY (measured r10): keep SMJ for band-explosion self-joins
        # (v05's SRP pair join at sf10 exhausted ~70 GB of disk under SHJ
        # — the hash build spills the whole build side per partition —
        # while SMJ completed in 545 s).
        .config(
            "spark.sql.join.preferSortMergeJoin",
            "false" if os.environ.get("SPARK_GRAFT_SHJ", "0") == "1" else "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata events.ts is parquet TIMESTAMP(NANOS) which Spark has no
        # native type for; read as long ns and normalize in tables.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
    )
    # SPARK_GRAFT_OFFHEAP=<size> (e.g. "8g") moves execution memory and
    # the parquet reader's ColumnVectors off-heap — a static conf, so it
    # is a session-build knob, not runtime. Part of the scale-knob
    # matrix (r11): measured NEUTRAL on the sf10 short-query hash-agg
    # constant locally; on a real cluster it trades GC pressure for
    # explicit memory, so the knob stays available.
    offheap = os.environ.get("SPARK_GRAFT_OFFHEAP")
    if offheap:
        builder = (
            builder.config("spark.memory.offHeap.enabled", "true")
            .config("spark.memory.offHeap.size", offheap)
            .config("spark.sql.columnVector.offheap.enabled", "true")
        )
    return builder.getOrCreate()

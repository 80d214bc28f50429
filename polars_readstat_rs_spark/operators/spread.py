"""Narrow-input widening without the shrink-at-scale trap.

The synthetic document tables arrive as ONE parquet split, which would
serialize per-row-expensive stages (explode/shingle/hash) on a single
task — so several operators repartition first. A FIXED repartition(32),
however, is a scale bug in the other direction: at 100 TB the corpus
arrives in thousands of partitions and a fixed number would CONCENTRATE
it. ``spread`` widens only when the input is narrower than the
session's parallelism and is a no-op on an already-wide corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .._metacache import bounded_put

# (applicationId, analyzed-plan semanticHash, scan split confs) ->
# partition count, FIFO-bounded at 64 entries. The probe is a pure
# driver-side physical-planning pass whose answer only depends on the
# analyzed plan + the session's scan split confs, and the bench/driver
# re-builds the same plans every run — so memoize it per session (r15:
# the probe was 0.1-0.3 s of build time PER CALL, and p06 pays it twice
# per invocation). A stale hit can only mis-size the widening
# (parallelism, never correctness), and the key dies with the session.
_PROBE_CACHE: dict[tuple, int] = {}
# the file-scan split confs a partition count depends on
_SPLIT_CONFS = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")


def spread(df: DataFrame, minimum: int | None = None) -> DataFrame:
    """Repartition up to ``minimum`` (default: defaultParallelism) only
    if the plan currently has fewer partitions; never shrinks.

    The probe (queryExecution().toRdd(), r15 — cheaper than df.rdd,
    which additionally plans the Python-serialization conversion)
    costs one physical planning pass at operator-construction time,
    memoized per (session, semantic plan); it is unavailable on Spark
    Connect — there the input is left untouched (Connect sources
    split via maxPartitionBytes; AQE handles the rest)."""
    try:
        sc = df.sparkSession.sparkContext
        try:
            conf = df.sparkSession.conf
            key = (
                sc.applicationId,
                df._jdf.queryExecution().analyzed().semanticHash(),
                *(conf.get(k, None) for k in _SPLIT_CONFS),
            )
        except Exception:
            key = None
        current = _PROBE_CACHE.get(key) if key is not None else None
        if current is None:
            current = df._jdf.queryExecution().toRdd().getNumPartitions()
            if key is not None:
                bounded_put(_PROBE_CACHE, key, current)
    except Exception:  # Spark Connect: no RDD access
        return df
    target = minimum or sc.defaultParallelism
    # Widen only when the input is GENUINELY narrow (< half the
    # session's parallelism): the repartition is a full shuffle of the
    # raw text, so trading it for a <2x parallelism gain on the explode
    # stage is a loss — on a 16-file layout under local[32] the
    # shuffle cost exceeded what the extra 16 tasks bought (the r8
    # multifile profile). A 1-file input still widens to full
    # parallelism; a 1000-executor corpus arrives in thousands of
    # partitions and stays a no-op either way.
    if current * 2 < target:
        return df.repartition(target)
    return df

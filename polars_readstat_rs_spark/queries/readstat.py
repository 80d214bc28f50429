"""Correctness-gate queries that exercise the readstat format layer
itself: parquet -> our .dta writer -> our Spark DataSource reader ->
aggregate, hash-compared against DuckDB aggregating the parquet
directly. A value mismatch anywhere in the write->read pipeline breaks
the hash, so the gate covers the format code, not just relational ops.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..api import readstat_scan, write_dta
from ..tables import load_table
from .registry import register

_FILTER_KEY = 5000  # deterministic subset: l_orderkey < 5000


def _roundtrip_path(spark: SparkSession, sf_dir: str) -> str:
    tag = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(tempfile.gettempdir(), f"readstat_rt_{tag}.dta")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < _FILTER_KEY)
        .select(
            "l_orderkey",
            "l_suppkey",
            "l_linenumber",
            "l_quantity",
            "l_returnflag",
            F.col("l_shipdate").cast("timestamp").alias("l_shipdate"),
        )
    )
    write_dta(li, path)
    return path


@register(
    "r01_dta_roundtrip_agg",
    oracle=f"""
    SELECT l_returnflag, count(*) AS n,
      CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      min(l_orderkey) AS min_key, max(l_orderkey) AS max_key,
      count(DISTINCT l_suppkey) AS n_supp,
      epoch_ms(min(l_shipdate)) AS min_ship_ms
    FROM lineitem WHERE l_orderkey < {_FILTER_KEY}
    GROUP BY l_returnflag
    """,
)
def r01_dta_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _roundtrip_path(spark, sf_dir)
    df = readstat_scan(spark, path)
    return df.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias("sum_qty"),
        F.min("l_orderkey").cast("long").alias("min_key"),
        F.max("l_orderkey").cast("long").alias("max_key"),
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.unix_millis(F.min("l_shipdate").cast("timestamp")).alias("min_ship_ms"),
    )


@register(
    "r02_dta_projection_pushdown",
    oracle=f"""
    SELECT l_orderkey, l_quantity
    FROM lineitem WHERE l_orderkey < {_FILTER_KEY} AND l_quantity > 30
    """,
)
def r02_dta_projection_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _roundtrip_path(spark, sf_dir)
    df = readstat_scan(spark, path, columns=["l_orderkey", "l_quantity"])
    return df.filter(F.col("l_quantity") > 30).select(
        F.col("l_orderkey").cast("long").alias("l_orderkey"), "l_quantity"
    )


@register(
    "r04_sav_roundtrip_agg",
    oracle=f"""
    SELECT o_orderstatus, count(*) AS n,
      CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
      CAST(min(o_orderdate) AS DATE) AS first_date
    FROM orders WHERE o_orderkey < {_FILTER_KEY}
    GROUP BY o_orderstatus
    """,
)
def r04_sav_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parquet -> our .sav writer -> our SPSS DataSource -> aggregate."""
    from ..formats.spss import writer as spss_writer

    tag = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(tempfile.gettempdir(), f"readstat_rt_{tag}.sav")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < _FILTER_KEY)
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
        )
    )
    spss_writer.write_sav(orders.toArrow(), path)
    df = readstat_scan(spark, path)
    return df.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double").alias("total"),
        F.min("o_orderdate").alias("first_date"),
    )


@register(
    "r05_sas_corpus_read",
    oracle="""
    SELECT 10 AS n_rows, 9 AS n_col1,
           CAST(3.987 AS DOUBLE) AS sum_col1,
           3 AS n_distinct_col2,
           CAST(354.0 AS DOUBLE) AS sum_col3
    """,
)
def r05_sas_corpus_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a reference-corpus sas7bdat through the Spark DataSource and
    aggregate; the oracle pins values cross-checked against pandas'
    independent SAS reader (exact decimal sum, no float drift)."""
    path = "/root/reference/tests/sas/data/data_pandas/test1.sas7bdat"
    df = readstat_scan(spark, path, columns=["Column1", "Column2", "Column3"])
    return df.agg(
        F.count("*").cast("int").alias("n_rows"),
        F.count("Column1").cast("int").alias("n_col1"),
        F.sum(F.col("Column1").cast("decimal(12,3)")).cast("double").alias("sum_col1"),
        F.countDistinct("Column2").cast("int").alias("n_distinct_col2"),
        F.sum(F.col("Column3").cast("decimal(12,1)")).cast("double").alias("sum_col3"),
    )


def _tagged_missing_path(spark: SparkSession, sf_dir: str) -> str:
    """Fixture .dta with Stata tagged missings (.a/.b) and system
    missing, derived deterministically from the nation table: metric is
    n_nationkey + 0.5, except %5==1 -> .a, %5==2 -> .b, %5==3 -> '.'.
    Written with raw sentinel bit patterns (src/stata/value.rs:230-278)
    since the writer itself only emits system missings."""
    import numpy as np

    from ..formats.stata.writer import _TYPE_DOUBLE, _TYPE_LONG, ColSpec, DtaStreamWriter

    tag = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(tempfile.gettempdir(), f"readstat_tagged_{tag}.dta")
    keys = sorted(r[0] for r in load_table(spark, sf_dir, "nation").select("n_nationkey").collect())
    rec = np.zeros(len(keys), dtype=[("f0", "<i4"), ("f1", "<f8")])
    rec["f0"] = keys
    bits = rec["f1"].view(np.uint64)
    for i, k in enumerate(keys):
        m = k % 5
        if m == 1:
            bits[i] = 0x7FE0000000000000 + 1  # .a
        elif m == 2:
            bits[i] = 0x7FE0000000000000 + 2  # .b
        elif m == 3:
            bits[i] = 0x7FE0000000000000  # system missing
        else:
            rec["f1"][i] = k + 0.5
    w = DtaStreamWriter(
        path,
        [ColSpec("n_key", _TYPE_LONG, 4, "%9.0g"), ColSpec("metric", _TYPE_DOUBLE, 8, "%9.0g")],
        len(keys),
    )
    w.begin()
    w.write_data(rec.tobytes())
    w.finish()
    return path


@register(
    "r06_informative_nulls_struct",
    oracle="""
    SELECT n_nationkey AS n_key,
      CAST(CASE WHEN n_nationkey % 5 IN (1, 2, 3) THEN NULL
           ELSE n_nationkey + 0.5 END AS DOUBLE) AS val,
      CASE WHEN n_nationkey % 5 = 1 THEN '.a'
           WHEN n_nationkey % 5 = 2 THEN '.b' END AS tag
    FROM nation
    """,
)
def r06_informative_nulls_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct informative-null mode THROUGH the DataSource (the r1 gate
    only proved the expression over parquet, not the reader option)."""
    path = _tagged_missing_path(spark, sf_dir)
    df = readstat_scan(
        spark, path, informative_nulls="struct", informative_null_columns=["metric"]
    )
    return df.select(
        F.col("n_key").cast("int").alias("n_key"),
        F.col("metric").getField("metric").alias("val"),
        F.col("metric").getField("null_indicator").alias("tag"),
    )


@register(
    "r07_informative_nulls_merged",
    oracle="""
    SELECT n_nationkey AS n_key,
      CASE WHEN n_nationkey % 5 = 1 THEN '.a'
           WHEN n_nationkey % 5 = 2 THEN '.b'
           WHEN n_nationkey % 5 = 3 THEN NULL
           ELSE CAST(n_nationkey + 0.5 AS VARCHAR) END AS metric
    FROM nation
    """,
)
def r07_informative_nulls_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged informative-null mode: coalesce(cast(value), indicator)
    applied in the reader (reference src/lib.rs:322-354)."""
    path = _tagged_missing_path(spark, sf_dir)
    df = readstat_scan(
        spark, path, informative_nulls="merged", informative_null_columns=["metric"]
    )
    return df.select(F.col("n_key").cast("int").alias("n_key"), "metric")


@register(
    "r03_dta_metadata_probe",
    oracle=f"""
    SELECT 6 AS nvar, CAST(count(*) AS BIGINT) AS nobs
    FROM lineitem WHERE l_orderkey < {_FILTER_KEY}
    """,
)
def r03_dta_metadata_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..api import readstat_metadata

    path = _roundtrip_path(spark, sf_dir)
    md = readstat_metadata(spark, path)
    return md.groupBy().agg(
        F.max("nvar").alias("nvar"), F.max("nobs").alias("nobs")
    )


@register(
    "r08_distributed_write_roundtrip",
    oracle=f"""
    SELECT l_returnflag, count(*) AS n,
      CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
    FROM lineitem WHERE l_orderkey < {_FILTER_KEY}
    GROUP BY l_returnflag
    """,
)
def r08_distributed_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executor-side section encoding end to end for BOTH distributed
    writers: the slice goes out through df.write.format("readstat") as
    .dta AND .sav (multi-partition, declared string widths -> the
    sections leave the executors in FINAL form, the .sav ones
    RLE-compressed there; commit() only concatenates), and both files
    must agree with the parquet oracle."""
    from ..api import _ensure_registered

    _ensure_registered(spark)  # the write runs before any readstat_scan
    tag = sf_dir.strip("/").replace("/", "_")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < _FILTER_KEY)
        .select("l_orderkey", "l_quantity", "l_returnflag")
        .repartition(4)
    )
    paths = {}
    for ext in ("dta", "sav"):
        p = os.path.join(tempfile.gettempdir(), f"readstat_dist_{tag}.{ext}")
        w = li.write.format("readstat").mode("overwrite")
        # declared width -> executor-final sections; .sav additionally
        # RLE-compresses them on the workers (commit only concatenates)
        w = w.option("string_widths", '{"l_returnflag": 1}')
        if ext == "sav":
            w = w.option("compress", "true")
        w.save(p)
        paths[ext] = p

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("l_returnflag").agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias("sum_qty"),
            F.min("l_orderkey").cast("long").alias("min_key"),
            F.max("l_orderkey").cast("long").alias("max_key"),
        )

    a = agg(readstat_scan(spark, paths["dta"]))
    b = agg(readstat_scan(spark, paths["sav"]))
    # both writers must produce identical aggregates: intersect then
    # compare against the oracle (row-count mismatch -> gate failure)
    return a.intersect(b)


_R09_OFF, _R09_LIM = 150, 100


@register(
    "r09_sav_option_interaction",
    oracle=f"""
    WITH s AS (
      SELECT o_orderkey, o_totalprice,
             row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
      FROM orders WHERE o_orderkey < {_FILTER_KEY})
    SELECT CAST(rid AS BIGINT) AS _row_idx, o_orderkey, o_totalprice
    FROM s WHERE rid >= {_R09_OFF} AND rid < {_R09_OFF + _R09_LIM}
    """,
)
def r09_sav_option_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reader OPTION-INTERACTION gate: a compressed .sav scanned with
    columns + offset + limit + split_compressed + row_index all at once
    — guards the class of bug where a fast path honors one option and
    silently drops another (e.g. the precomputed-RLE-plan path once
    ignored offset/limit). The file is written o_orderkey-sorted, so
    the slice equals the oracle's row_number window."""
    from ..formats.spss import writer as spss_writer

    tag = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(tempfile.gettempdir(), f"readstat_r09_{tag}.sav")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < _FILTER_KEY)
        .select("o_orderkey", "o_totalprice", "o_custkey")
        .sort("o_orderkey")
    )
    spss_writer.write_sav(orders.toArrow(), path, compress=True)
    df = readstat_scan(
        spark,
        path,
        columns=["o_orderkey", "o_totalprice"],
        offset=_R09_OFF,
        limit=_R09_LIM,
        split_compressed=True,
        row_index=True,
    )
    return df.select(
        "_row_idx",
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        "o_totalprice",
    )


@register(
    "r10_stream_source",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
           min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
    FROM orders GROUP BY o_orderstatus
    """,
)
def r10_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming DataSource over a .dta drop directory
    (datasource._ReadstatStreamReader): the orders table is staged as
    two atomically-dropped .dta files, streamed to a memory sink, and
    the drained rows aggregate — a hash match proves the streaming
    offsets/partitions path delivers every file exactly once through
    the same decode the batch reader uses."""
    import pyarrow.parquet as pq

    src = f"{sf_dir}/orders.parquet"
    st = os.stat(src)
    tag = sf_dir.strip("/").replace("/", "_") + f"_{st.st_size}_{st.st_mtime_ns}"
    drop = os.path.join(tempfile.gettempdir(), f"readstat_stream_{tag}")
    done = os.path.join(drop, "_STAGED")
    if not os.path.exists(done):
        os.makedirs(drop, exist_ok=True)
        orders = (
            pq.read_table(src, columns=["o_orderkey", "o_orderstatus", "o_totalprice"])
            .to_pandas()
            .sort_values("o_orderkey")
        )
        half = len(orders) // 2
        for i, sl in enumerate((orders[:half], orders[half:])):
            tmp = os.path.join(drop, f".part{i}.dta.tmp")
            sl.to_stata(tmp, version=118, write_index=False)
            os.replace(tmp, os.path.join(drop, f"part{i}.dta"))
        with open(done, "w") as fh:
            fh.write("ok")

    from ..api import _ensure_registered

    _ensure_registered(spark)
    name = "r10_drops"
    q = (
        spark.readStream.format("readstat")
        .load(drop)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (
        spark.table(name)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double").alias("total"),
            F.min("o_orderkey").cast("long").alias("min_key"),
            F.max("o_orderkey").cast("long").alias("max_key"),
        )
    )


@register(
    "r11_stream_sink",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
           min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
    FROM orders GROUP BY o_orderstatus
    """,
)
def r11_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming .dta SINK (datasource._StagedStreamWriter): the r10 drop
    directory streams through writeStream.format("readstat") into a
    part-per-micro-batch .dta directory, which the BATCH reader then
    aggregates — the hash gate covers source offsets, per-batch
    assembly, atomic publication, and decode, end to end."""
    import shutil

    from ..api import _ensure_registered

    _ensure_registered(spark)
    # reuse r10's staged drop dir (same fingerprint discipline)
    src = f"{sf_dir}/orders.parquet"
    st = os.stat(src)
    tag = sf_dir.strip("/").replace("/", "_") + f"_{st.st_size}_{st.st_mtime_ns}"
    drop = os.path.join(tempfile.gettempdir(), f"readstat_stream_{tag}")
    if not os.path.exists(os.path.join(drop, "_STAGED")):
        r10_stream_source(spark, sf_dir)  # stages the drop dir (and self-checks)
    out = os.path.join(tempfile.gettempdir(), f"readstat_sink_{tag}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        shutil.rmtree(out, ignore_errors=True)
        ck = out + "_ck"
        shutil.rmtree(ck, ignore_errors=True)
        q = (
            spark.readStream.format("readstat")
            .load(drop)
            .writeStream.format("readstat")
            .option("checkpointLocation", ck)
            .start(out)
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        with open(os.path.join(out, "_DONE"), "w") as fh:
            fh.write("ok")
    return (
        readstat_scan(spark, out)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double").alias("total"),
            F.min("o_orderkey").cast("long").alias("min_key"),
            F.max("o_orderkey").cast("long").alias("max_key"),
        )
    )


@register(
    "r12_pushdown_matrix",
    oracle=f"""
    SELECT c_mktsegment, count(*) AS n,
      CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal,
      min(c_custkey) AS min_key, max(c_custkey) AS max_key
    FROM customer
    WHERE c_custkey < {_FILTER_KEY}
      AND c_mktsegment IN ('BUILDING', 'MACHINERY')
      AND c_name LIKE 'Customer%'
      AND c_acctbal > 0.0
    GROUP BY c_mktsegment
    """,
)
def r12_pushdown_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pushed-filter MATRIX gate: a .dta roundtrip scanned with an
    In-set, a startswith, AND a numeric comparison in one filter — the
    exact predicate shapes Catalyst hands a DataSource as In /
    StringStartsWith / GreaterThan (datasource.py pushFilters). The
    filters are applied batch-side in the reader (and re-applied by
    Catalyst), so a pushdown that drops or duplicates rows breaks the
    hash against DuckDB filtering the parquet directly. Acceptance is
    opt-in since r9 (filter_pushdown option) — this single-action read
    is exactly the safe pattern; see
    tests/test_api.py::test_no_stale_filter_on_reused_relation."""
    from ..api import _ensure_registered

    _ensure_registered(spark)
    tag = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(tempfile.gettempdir(), f"readstat_r12_{tag}.dta")
    if not os.path.exists(path):
        cust = (
            load_table(spark, sf_dir, "customer")
            .filter(F.col("c_custkey") < _FILTER_KEY)
            .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
        )
        write_dta(cust, path)
    # an opted-in reader defines pushFilters, which Spark refuses to plan
    # unless the session enables Python DataSource filter pushdown
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    df = spark.read.format("readstat").option("filter_pushdown", "true").load(path)
    return (
        df.filter(
            F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
            & F.col("c_name").startswith("Customer")
            & (F.col("c_acctbal") > 0.0)
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double").alias("bal"),
            F.min("c_custkey").cast("long").alias("min_key"),
            F.max("c_custkey").cast("long").alias("max_key"),
        )
    )


@register(
    "r13_xpt_roundtrip_agg",
    oracle=f"""
    SELECT s_nationkey AS NATION, count(*) AS n,
      CAST(sum(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal,
      min(s_suppkey) AS min_key, max(s_suppkey) AS max_key
    FROM supplier
    GROUP BY s_nationkey
    """,
)
def r13_xpt_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAS Transport (XPORT v5) gate — BEYOND the reference (it has no
    .xpt support): parquet -> distributed .xpt writer (IBM-360 double
    encode, fixed-width records, 8-char name truncation) -> our Spark
    DataSource reader -> aggregate, hash-compared against DuckDB on the
    parquet. The IBM float conversion is exact for IEEE doubles in
    range, so sums match bit-for-bit."""
    from ..api import _ensure_registered

    _ensure_registered(spark)
    tag = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(tempfile.gettempdir(), f"readstat_r13_{tag}.xpt")
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("SUPPKEY"),
        F.col("s_nationkey").alias("NATION"),
        F.col("s_acctbal").alias("ACCTBAL"),
        F.col("s_name").alias("SNAME"),
    )
    sup.write.format("readstat").mode("overwrite").save(path)
    df = spark.read.format("readstat").load(path)
    return df.groupBy(F.col("NATION").cast("long").alias("NATION")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("ACCTBAL").cast("decimal(12,2)")).cast("double").alias("bal"),
        F.min("SUPPKEY").cast("long").alias("min_key"),
        F.max("SUPPKEY").cast("long").alias("max_key"),
    )


@register(
    "r14_xpt_v8_roundtrip",
    oracle="""
    SELECT n_regionkey AS the_region_grouping_key, count(*) AS n,
      min(n_name) AS first_nation_name, max(n_name) AS last_nation_name,
      CAST(sum(n_nationkey) AS DOUBLE) AS key_sum
    FROM nation
    GROUP BY n_regionkey
    """,
)
def r14_xpt_v8_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XPORT **v8** (TS140-2) gate — beyond both the reference AND the
    r13 v5 gate: >8-char column names survive a distributed write
    (option xport_version=8, LABELV8 long-name section, formats/sas/
    xport.py write_header/assemble_xpt) and the auto-detecting reader
    returns them verbatim. pandas has no v8 support, so v8's
    correctness chain is: v8 values == v5 values (tested) and v5 ==
    pandas (r13 + corpus tests); here the roundtripped long-name
    aggregate is hash-compared against DuckDB on the parquet."""
    from ..api import _ensure_registered

    _ensure_registered(spark)
    tag = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(tempfile.gettempdir(), f"readstat_r14_{tag}.xpt")
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("the_nation_primary_key"),
        F.col("n_regionkey").alias("the_region_grouping_key"),
        F.col("n_name").alias("the_nation_display_name"),
    )
    nat.write.format("readstat").mode("overwrite").option("xport_version", "8").save(path)
    df = spark.read.format("readstat").load(path)
    return df.groupBy(
        F.col("the_region_grouping_key").cast("long").alias("the_region_grouping_key")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("the_nation_display_name").alias("first_nation_name"),
        F.max("the_nation_display_name").alias("last_nation_name"),
        F.sum("the_nation_primary_key").alias("key_sum"),
    )


@register(
    "r15_sas7bdat_write_roundtrip",
    oracle="""
    SELECT c_mktsegment AS segment_name, count(*) AS n,
      CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal,
      min(c_custkey) AS min_key, max(c_custkey) AS max_key
    FROM customer GROUP BY c_mktsegment
    """,
)
def r15_sas7bdat_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE .sas7bdat writer gate — beyond the reference, whose only
    SAS write path is CSV + a .sas script (W3): parquet -> distributed
    binary sas7bdat write (formats/sas/bdat_writer.py: 64-bit LE pages,
    META subheaders, NaN missings, commit-time char re-stride) -> our
    page-partitioned DataSource reader -> aggregate, hash-compared
    against DuckDB on the parquet. pandas.read_sas independently
    validates the same files in tests/test_sas_format.py."""
    from ..api import _ensure_registered

    _ensure_registered(spark)
    tag = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(tempfile.gettempdir(), f"readstat_r15_{tag}.sas7bdat")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey_double"),
        F.col("c_mktsegment").alias("segment_name"),
        F.col("c_acctbal").alias("acctbal"),
    )
    cust.write.format("readstat").mode("overwrite").save(path)
    df = spark.read.format("readstat").load(path)
    return df.groupBy("segment_name").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("acctbal").cast("decimal(12,2)")).cast("double").alias("bal"),
        F.min("custkey_double").cast("long").alias("min_key"),
        F.max("custkey_double").cast("long").alias("max_key"),
    )


@register(
    "r16_sas7bdat_timestamp_roundtrip",
    oracle="""
    SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS event_day,
           count(*) AS n,
           CAST(min(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS min_us,
           CAST(max(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS max_us
    FROM events GROUP BY 1
    """,
)
def r16_sas7bdat_timestamp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE sas7bdat TIMESTAMP fidelity gate: events.ts (microsecond
    timestamps) -> distributed binary sas7bdat write (SAS datetime
    doubles + DATETIME format, formats/sas/bdat_writer.py) -> our
    reader converts back to timestamp -> per-day aggregate with exact
    min/max epoch micros, hash-compared against DuckDB on the parquet.
    A one-microsecond drift anywhere in the epoch math fails the hash."""
    from ..api import _ensure_registered

    _ensure_registered(spark)
    tag = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(tempfile.gettempdir(), f"readstat_r16_{tag}.sas7bdat")
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_id").cast("double").alias("eid"),
        F.col("ts").cast("timestamp").alias("event_time"),
    )
    ev.write.format("readstat").mode("overwrite").save(path)
    df = spark.read.format("readstat").load(path)
    # readback arrives as TIMESTAMP_NTZ (house prefer_timestamp_ntz);
    # cast to TIMESTAMP under the UTC session zone — identical micros
    et = F.col("event_time").cast("timestamp")
    return df.groupBy(F.to_date(et).alias("event_day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.unix_micros(et)).alias("min_us"),
        F.max(F.unix_micros(et)).alias("max_us"),
    )


@register(
    "r17_sas7bdat_compressed_roundtrip",
    oracle="""
    SELECT p_brand, count(*) AS n,
      CAST(sum(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS price_sum,
      min(p_type) AS first_type, max(p_type) AS last_type
    FROM part GROUP BY p_brand
    """,
)
def r17_sas7bdat_compressed_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RLE-COMPRESSED native sas7bdat gate: parquet -> distributed
    compressed write (option compress=true; SASYZCRL rows as data
    subheaders, bdat_writer.rle_compress_row) -> our page-parallel
    compressed reader (C4) -> aggregate vs DuckDB on the parquet. The
    padded p_type/p_brand strings are the compression-friendly shape;
    a single mis-decoded run anywhere flips the value hash."""
    from ..api import _ensure_registered

    _ensure_registered(spark)
    tag = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(tempfile.gettempdir(), f"readstat_r17_{tag}.sas7bdat")
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pkey"),
        F.col("p_brand").alias("p_brand"),
        F.col("p_type").alias("p_type"),
        F.col("p_retailprice").alias("price"),
    )
    part.write.format("readstat").mode("overwrite").option("compress", "true").option(
        "string_widths", '{"p_type": 40, "p_brand": 16}'
    ).save(path)
    df = spark.read.format("readstat").load(path)
    return df.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("price").cast("decimal(12,2)")).cast("double").alias("price_sum"),
        F.min("p_type").alias("first_type"),
        F.max("p_type").alias("last_type"),
    )


@register(
    "r18_zsav_write_roundtrip",
    oracle="""
    SELECT o_orderpriority, count(*) AS n,
      CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total,
      min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
    FROM orders GROUP BY o_orderpriority
    """,
)
def r18_zsav_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed .zsav (zlib-container SPSS) WRITE gate — the writer
    matrix's last variant (the reference reads zsav, never writes it):
    parquet -> distributed write with the RLE spool wrapped
    block-streaming into the zlib container at commit
    (formats/spss/writer.py:_zsav_stream) -> our block-parallel zsav
    reader -> aggregate vs DuckDB on the parquet."""
    from ..api import _ensure_registered

    _ensure_registered(spark)
    tag = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(tempfile.gettempdir(), f"readstat_r18_{tag}.zsav")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderpriority").alias("o_orderpriority"),
        F.col("o_totalprice").alias("price"),
    )
    orders.write.format("readstat").mode("overwrite").save(path)
    df = spark.read.format("readstat").load(path)
    return df.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("price").cast("decimal(14,2)")).cast("double").alias("total"),
        F.min("okey").cast("long").alias("min_key"),
        F.max("okey").cast("long").alias("max_key"),
    )


@register(
    "r19_por_roundtrip_agg",
    oracle="""
    SELECT o_orderpriority, count(*) AS n,
      CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total,
      min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
    FROM orders GROUP BY o_orderpriority
    """,
)
def r19_por_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPSS Portable (.por) WRITE + READ gate — the format is entirely
    beyond the reference (src/lib.rs:383-394 dispatches only
    sas7bdat/dta/sav): parquet -> distributed .por write (executors
    encode exact base-30 case streams, commit concatenates + re-wraps
    80-char lines) -> single-stream por reader -> aggregate vs DuckDB
    on the parquet. Exact because the base-30 encoding is exact for
    every IEEE double (formats/spss/portable.py)."""
    from ..api import _ensure_registered

    _ensure_registered(spark)
    tag = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(tempfile.gettempdir(), f"readstat_r19_{tag}.por")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderpriority").alias("prio"),
        F.col("o_totalprice").alias("price"),
    )
    orders.write.format("readstat").mode("overwrite").save(path)
    df = spark.read.format("readstat").load(path)
    return df.groupBy(F.col("prio").alias("o_orderpriority")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("price").cast("decimal(14,2)")).cast("double").alias("total"),
        F.min("okey").cast("long").alias("min_key"),
        F.max("okey").cast("long").alias("max_key"),
    )


@register(
    "r20_dta_v117_roundtrip",
    oracle="""
    SELECT o_orderpriority, count(*) AS n,
      CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total,
      min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
    FROM orders GROUP BY o_orderpriority
    """,
)
def r20_dta_v117_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stata v117 (pre-Stata-14) WRITE gate — the writer matrix gains a
    version knob (option dta_version=117: 33-byte names, u32 row count,
    49-byte formats, no strL): parquet -> distributed v117 write -> our
    v102-119 reader -> aggregate vs DuckDB on the parquet. pandas
    cross-reads the same file in tests."""
    from ..api import _ensure_registered

    _ensure_registered(spark)
    tag = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(tempfile.gettempdir(), f"readstat_r20_{tag}.dta")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderpriority").alias("prio"),
        F.col("o_totalprice").alias("price"),
    )
    (
        orders.write.format("readstat")
        .mode("overwrite")
        .option("dta_version", "117")
        .save(path)
    )
    from ..formats.stata.parser import read_metadata

    assert read_metadata(path).version == 117
    df = spark.read.format("readstat").load(path)
    return df.groupBy(F.col("prio").alias("o_orderpriority")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("price").cast("decimal(14,2)")).cast("double").alias("total"),
        F.min("okey").cast("long").alias("min_key"),
        F.max("okey").cast("long").alias("max_key"),
    )


@register(
    "r21_catalog_write_roundtrip",
    oracle="""
    SELECT CASE CAST(o_orderkey % 5 AS INT)
             WHEN 0 THEN 'P_ZERO' WHEN 1 THEN 'P_ONE' WHEN 2 THEN 'P_TWO'
             ELSE 'P_HIGH' END AS prio_label,
      count(*) AS n,
      CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total,
      min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
    FROM orders GROUP BY 1
    """,
)
def r21_catalog_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """.sas7bcat catalog WRITE + APPLY gate (r8 verdict item 6): the
    catalog writer (formats/sas/catalog.py:write_catalog) emits a format
    with exact entries AND a span range; a sas7bdat is written through
    the DISTRIBUTED sink with option("column_formats") attaching the
    format name to a numeric column; the read applies the re-read
    catalog (option("catalog")), decoding codes 0/1/2 via exact matches
    and 3-4 via the [3,4] span — the aggregate over the decoded LABEL
    strings hashes against DuckDB recomputing the same labeling with a
    CASE on the parquet. The reference only READS catalogs
    (src/sas/catalog.rs); the write side is beyond-reference."""
    from ..api import _ensure_registered
    from ..formats.sas.catalog import SasFormat, write_catalog

    _ensure_registered(spark)
    tag = sf_dir.strip("/").replace("/", "_")
    cat = os.path.join(tempfile.gettempdir(), f"readstat_r21_{tag}.sas7bcat")
    path = os.path.join(tempfile.gettempdir(), f"readstat_r21_{tag}.sas7bdat")
    write_catalog(
        cat,
        {
            "PRIOF": SasFormat(
                name="PRIOF",
                ranges=[
                    (0.0, 0.0, "P_ZERO"),
                    (1.0, 1.0, "P_ONE"),
                    (2.0, 2.0, "P_TWO"),
                    (3.0, 4.0, "P_HIGH"),  # span: exercises range lookup
                ],
            )
        },
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        (F.col("o_orderkey") % 5).cast("double").alias("prio_code"),
        F.col("o_totalprice").alias("price"),
    )
    (
        orders.write.format("readstat")
        .mode("overwrite")
        .option("column_formats", '{"prio_code": "PRIOF"}')
        .save(path)
    )
    df = spark.read.format("readstat").option("catalog", cat).load(path)
    return df.groupBy(F.col("prio_code").alias("prio_label")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("price").cast("decimal(14,2)")).cast("double").alias("total"),
        F.min("okey").cast("long").alias("min_key"),
        F.max("okey").cast("long").alias("max_key"),
    )


@register(
    "r22_rdc_write_roundtrip",
    oracle="""
    SELECT o_orderpriority, count(*) AS n,
      CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total,
      min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
    FROM orders GROUP BY o_orderpriority
    """,
)
def r22_rdc_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAS RDC (SASYZCR2) WRITE gate — beyond the reference twice over
    (it writes no binary sas7bdat at all, and reads RDC only
    sequentially): parquet -> distributed write with
    option("compress","rdc") (executors spill raw sections; the commit
    runs the greedy LZ encoder from bdat_writer.rdc_compress_row) ->
    our PAGE-PARALLEL compressed reader (datasource _PageRange) ->
    aggregate vs DuckDB on the parquet. A padded string column makes
    the codec actually engage (pattern matches + RLE runs); pandas
    cross-reads the same encoding in pytest."""
    from ..api import _ensure_registered

    _ensure_registered(spark)
    tag = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(tempfile.gettempdir(), f"readstat_r22_{tag}.sas7bdat")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderpriority").alias("prio"),
        F.col("o_totalprice").alias("price"),
        # padded synthetic note: gives RDC real pattern/run structure
        F.rpad(
            F.concat(F.lit("priority "), F.col("o_orderpriority"), F.lit(" status "), F.col("o_orderstatus")),
            96,
            " ",
        ).alias("note"),
    )
    (
        orders.write.format("readstat")
        .mode("overwrite")
        .option("compress", "rdc")
        .option("string_widths", '{"note": 96}')
        .save(path)
    )
    from ..formats.sas.parser import read_metadata

    assert read_metadata(path).compression == "RDC"
    df = spark.read.format("readstat").load(path)
    return df.groupBy(F.col("prio").alias("o_orderpriority")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("price").cast("decimal(14,2)")).cast("double").alias("total"),
        F.min("okey").cast("long").alias("min_key"),
        F.max("okey").cast("long").alias("max_key"),
    )


@register(
    "r23_multifile_write_roundtrip",
    oracle="""
    SELECT o_orderpriority, count(*) AS n,
      CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total,
      min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
    FROM orders GROUP BY o_orderpriority
    """,
)
def r23_multifile_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned DIRECTORY sink gate (the 100 TB write shape): parquet
    -> option("multifile","true") .dta write — each task single-shot
    writes one complete part-NNNNN.dta, commit only renames (no driver
    assembly) -> directory read (one partition per file) -> aggregate
    vs DuckDB on the parquet. Proves the executor-side writer and the
    multi-file scan agree end-to-end."""
    from ..api import _ensure_registered

    _ensure_registered(spark)
    tag = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(tempfile.gettempdir(), f"readstat_r23_{tag}.dta")
    orders = load_table(spark, sf_dir, "orders").repartition(8).select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderpriority").alias("prio"),
        F.col("o_totalprice").alias("price"),
    )
    (
        orders.write.format("readstat")
        .mode("overwrite")
        .option("multifile", "true")
        .save(path)
    )
    df = spark.read.format("readstat").load(path)
    assert df.rdd.getNumPartitions() >= 8  # partition-per-file scan
    return df.groupBy(F.col("prio").alias("o_orderpriority")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("price").cast("decimal(14,2)")).cast("double").alias("total"),
        F.min("okey").cast("long").alias("min_key"),
        F.max("okey").cast("long").alias("max_key"),
    )


# --------------------------------------------------------------------------
# r25 — union_by_name directory READ over an evolving-schema corpus.
_UNION_MID = 2500  # wave boundary: wave2 adds the l_suppkey column

@register(
    "r25_union_by_name_read",
    oracle=f"""
    SELECT l_returnflag, count(*) AS n,
      CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      count(CASE WHEN l_orderkey >= {_UNION_MID} THEN l_suppkey END) AS n_with_supp,
      min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
    FROM lineitem WHERE l_orderkey < {_FILTER_KEY}
    GROUP BY l_returnflag
    """,
)
def r25_union_by_name_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The survey-wave evolving-schema shape, value-gated end to end
    (datasource.py `_union_schema` — the READ side of what r23 gates as
    a sink): wave 1 is written WITHOUT l_suppkey, wave 2 WITH it, and
    `option("union_by_name","true")` reads the directory as the by-name
    union with null-fill — so the aggregate's count(l_suppkey) counts
    exactly the wave-2 rows. A null-fill bug, a wave mis-assignment, or
    a dropped row at the schema merge breaks the hash against DuckDB
    aggregating the source parquet directly."""
    from ..api import _ensure_registered, write_dta

    tag = sf_dir.strip("/").replace("/", "_")
    d = os.path.join(tempfile.gettempdir(), f"readstat_union_{tag}")
    os.makedirs(d, exist_ok=True)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < _FILTER_KEY)
    w1 = li.filter(F.col("l_orderkey") < _UNION_MID).select(
        F.col("l_orderkey").cast("int").alias("l_orderkey"),
        "l_quantity",
        "l_returnflag",
    )
    w2 = li.filter(F.col("l_orderkey") >= _UNION_MID).select(
        F.col("l_orderkey").cast("int").alias("l_orderkey"),
        "l_quantity",
        "l_returnflag",
        F.col("l_suppkey").cast("int").alias("l_suppkey"),
    )
    write_dta(w1, os.path.join(d, "wave1.dta"))
    write_dta(w2, os.path.join(d, "wave2.dta"))
    _ensure_registered(spark)
    df = spark.read.format("readstat").option("union_by_name", "true").load(d)
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias("sum_qty"),
        F.count("l_suppkey").alias("n_with_supp"),
        F.min("l_orderkey").cast("long").alias("min_key"),
        F.max("l_orderkey").cast("long").alias("max_key"),
    )


# --------------------------------------------------------------------------
# r26 — the pure-SQL DDL surface: CREATE TEMPORARY VIEW ... USING readstat,
# then plain spark.sql over the view (no DataFrame API in the query path).
@register(
    "r26_sql_ddl_view",
    oracle=f"""
    SELECT l_returnflag, count(*) AS n,
      CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      CAST(sum(CAST(CASE WHEN l_quantity > 30 THEN l_quantity END
               AS DECIMAL(12,2))) AS DOUBLE) AS heavy_qty,
      count(DISTINCT l_linenumber) AS n_lines
    FROM lineitem WHERE l_orderkey < {_FILTER_KEY}
    GROUP BY l_returnflag
    """,
)
def r26_sql_ddl_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-only user's path, value-gated end to end: a .dta file
    exposed with `CREATE OR REPLACE TEMPORARY VIEW ... USING readstat
    OPTIONS (path ...)` and aggregated with plain spark.sql — no
    DataFrame API anywhere in the query. This is how a BI tool or a
    notebook user with only a SQL cell consumes the format layer; the
    DDL registration, the options round-trip through the catalog, and
    Catalyst planning over the Python DataSource all sit on the gated
    path (pytest covers the DDL mechanics; this pins the VALUES)."""
    from ..api import _ensure_registered

    path = _roundtrip_path(spark, sf_dir)
    _ensure_registered(spark)
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_").replace("-", "_")
    view = f"r26_lineitem_{tag}"
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW {view} USING readstat OPTIONS (path '{path}')"
    )
    return spark.sql(f"""
        SELECT l_returnflag, count(*) AS n,
          CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
          CAST(sum(CAST(CASE WHEN l_quantity > 30 THEN l_quantity END
                   AS DECIMAL(12,2))) AS DOUBLE) AS heavy_qty,
          count(DISTINCT l_linenumber) AS n_lines
        FROM {view} GROUP BY l_returnflag
    """)


# --------------------------------------------------------------------------
# r27 — cross-format conversion CHAIN: one table flows parquet -> .dta ->
# .sav -> .sas7bdat -> .xpt, each hop through OUR writer then OUR reader,
# and only then aggregates. Any value drift at ANY of the six format
# boundaries (epochs, widths, trims, double packing — incl. the XPORT
# IBM-360 float bit-math) breaks the hash against DuckDB on the source
# parquet. The per-format roundtrip gates (r01/r04/r13/r15) isolate one
# writer+reader pair; this pins the INTEROP a migration pipeline
# (tools/convert.py) actually performs.
_CHAIN_KEY = 2000

@register(
    "r27_format_chain",
    oracle=f"""
    SELECT l_returnflag, count(*) AS n,
      CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
    FROM lineitem WHERE l_orderkey < {_CHAIN_KEY}
    GROUP BY l_returnflag
    """,
)
def r27_format_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..api import write_sas7bdat, write_sav, write_xpt

    tag = sf_dir.strip("/").replace("/", "_")
    base = os.path.join(tempfile.gettempdir(), f"readstat_chain_{tag}")
    os.makedirs(base, exist_ok=True)
    # XPORT v5 caps variable names at 8 chars, so the chain carries
    # short names and the final aggregate aliases back to the oracle's
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < _CHAIN_KEY)
        .select(
            F.col("l_orderkey").cast("int").alias("okey"),
            F.col("l_quantity").alias("qty"),
            F.col("l_returnflag").alias("rflag"),
        )
    )
    p_dta = os.path.join(base, "chain.dta")
    p_sav = os.path.join(base, "chain.sav")
    p_sas = os.path.join(base, "chain.sas7bdat")
    p_xpt = os.path.join(base, "chain.xpt")
    write_dta(li, p_dta)
    write_sav(readstat_scan(spark, p_dta), p_sav)
    write_sas7bdat(readstat_scan(spark, p_sav), p_sas)
    write_xpt(readstat_scan(spark, p_sas), p_xpt)
    df = readstat_scan(spark, p_xpt)
    return df.groupBy(F.col("rflag").alias("l_returnflag")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("qty").cast("decimal(12,2)")).cast("double").alias("sum_qty"),
        F.min("okey").cast("long").alias("min_key"),
        F.max("okey").cast("long").alias("max_key"),
    )


@register(
    "r28_local_read_parity",
    oracle=f"""
    SELECT l_returnflag, count(*) AS n,
      CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
      count(DISTINCT l_suppkey) AS n_supp
    FROM lineitem WHERE l_orderkey < {_FILTER_KEY}
    GROUP BY l_returnflag
    """,
)
def r28_local_read_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-local fast path (api.readstat_read_local, r14): the same
    .dta fixture r01 scans distributed is decoded IN-PROCESS through
    the identical executor reader code and handed to Spark as an Arrow
    local relation — an identical aggregate proves the other execution
    locus preserves decode semantics (the gate that keeps the fast
    path honest in the driver's hash record, not just in pytest)."""
    from ..api import readstat_read_local

    path = _roundtrip_path(spark, sf_dir)
    df = readstat_read_local(spark, path)
    return df.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias("sum_qty"),
        F.sum("l_orderkey").cast("long").alias("key_sum"),
        F.countDistinct("l_suppkey").alias("n_supp"),
    )

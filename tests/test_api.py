"""API-surface tests: batch iterator (S6), writers (W1-W3), schema cast
(P9), distributed DataSource write."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from polars_readstat_rs_spark import api
from polars_readstat_rs_spark.tables import load_table


def test_readstat_select_prunes_reader_side(spark, tmp_path, monkeypatch):
    """api.readstat_select is the documented projection-pushdown path
    (pyspark 4.1 Python DataSources have no column-pruning hook, so a
    bare .select() after .load() does NOT prune reader-side).  Asserts
    the byte plan: the Stata parser's per-column decode runs ONLY for
    the selected columns — non-selected bytes are skipped by the strided
    numpy record view, never decoded."""
    pd.DataFrame(
        {
            "a": np.arange(50, dtype=np.int32),
            "b": np.arange(50, dtype=np.float64) * 1.5,
            "c": [f"s{i}" for i in range(50)],
            "d": np.arange(50, dtype=np.int32) * 7,
        }
    ).to_stata(str(tmp_path / "t.dta"), version=118, write_index=False)
    p = str(tmp_path / "t.dta")

    from polars_readstat_rs_spark.formats.stata import parser as sp

    decoded: list[str] = []
    orig = sp._decode_column

    def spy(rec, v, meta, strl_map, opts):
        decoded.append(v.name)
        return orig(rec, v, meta, strl_map, opts)

    monkeypatch.setattr(sp, "_decode_column", spy)
    t = sp.read_table(p, columns=["d", "b"])
    assert t.column_names == ["b", "d"] or t.column_names == ["d", "b"]
    assert sorted(decoded) == ["b", "d"]  # a and c never parsed

    # Spark-side helper: schema is exactly the selection, values match
    sel = api.readstat_select(spark, p, ["d", "b"])
    assert sel.columns == ["b", "d"] or sel.columns == ["d", "b"]
    rows = sel.orderBy("d").collect()
    assert rows[3]["d"] == 21 and rows[3]["b"] == 4.5
    import pytest

    with pytest.raises(ValueError, match="non-empty"):
        api.readstat_select(spark, p, [])


def test_batch_iter_dta(tmp_path):
    n = 5000
    df = pd.DataFrame({"a": np.arange(n, dtype="int32"), "b": np.random.default_rng(1).normal(size=n)})
    p = str(tmp_path / "x.dta")
    df.to_stata(p, version=118, write_index=False)
    batches = list(api.readstat_batch_iter(p, batch_size=999))
    assert sum(b.num_rows for b in batches) == n
    assert len(batches) == 6  # ceil(5000/999)
    joined = pa.Table.from_batches(batches)
    assert joined.column("a").to_pylist() == list(range(n))


def test_batch_iter_sas():
    p = "/root/reference/tests/sas/data/test.sas7bdat"
    batches = list(api.readstat_batch_iter(p, batch_size=4096, limit=9000))
    assert sum(b.num_rows for b in batches) == 9000


def test_batch_iter_compress_per_batch(tmp_path):
    """Reference readstat_batch_iter compress option
    (src/readstat_stream.rs:129-137): narrowing maps over EACH batch
    independently — including the reference caveat that two batches may
    narrow to different types."""
    n = 2000
    df = pd.DataFrame(
        {
            # batch 1 (rows 0..999) fits int8, batch 2 (1000..) needs int16
            "i": np.where(np.arange(n) < 1000, np.arange(n) % 50, 1000.0 + np.arange(n)),
            "flag": (np.arange(n) % 2).astype("float64"),
            "f": np.arange(n) + 0.5,
            "s": [str(k) for k in range(n)],
        }
    )
    p = str(tmp_path / "c.dta")
    df.to_stata(p, version=118, write_index=False)
    b1, b2 = list(api.readstat_batch_iter(p, batch_size=1000, compress=True))
    assert b1.schema.field("i").type == pa.int8()
    assert b2.schema.field("i").type == pa.int16()  # per-batch, like the reference
    for b in (b1, b2):
        assert b.schema.field("flag").type == pa.bool_()
        assert b.schema.field("f").type == pa.float64()
        assert pa.types.is_integer(b.schema.field("s").type)  # parsed + narrowed
    assert b1.column("flag").to_pylist()[:4] == [False, True, False, True]
    # infer_boolean=False: 0/1 stays integer (reference flag semantics)
    b1f = next(iter(api.readstat_batch_iter(p, batch_size=1000, compress=True, infer_boolean=False)))
    assert b1f.schema.field("flag").type == pa.int8()


def test_infer_schema_two_pass_stream(spark, tmp_path):
    """Reference SCHEMA_INFERENCE.md two-pass flow: infer once, then
    stream with the schema applied per batch — stable types across
    batches, values preserved."""
    n = 2000
    pd.DataFrame(
        {
            "i": np.where(np.arange(n) < 1000, np.arange(n) % 50, 1000.0 + np.arange(n)),
            "flag": (np.arange(n) % 2).astype("float64"),
            "f": np.arange(n) + 0.5,
        }
    ).to_stata(str(tmp_path / "s.dta"), version=118, write_index=False)
    p = str(tmp_path / "s.dta")

    schema = api.infer_schema(spark, p)
    assert schema.field("i").type == pa.int16()  # whole-file stats, not per-batch
    assert schema.field("flag").type == pa.bool_()
    assert schema.field("f").type == pa.float64()

    batches = list(api.readstat_batch_iter(p, batch_size=1000, schema=schema))
    assert all(b.schema == schema for b in batches)  # stable across batches
    tbl = pa.Table.from_batches(batches)
    assert tbl.column("i").to_pylist()[:3] == [0, 1, 2]
    assert tbl.column("i").to_pylist()[-1] == 1000 + n - 1
    assert tbl.column("flag").to_pylist()[:2] == [False, True]

    # Spark StructType flavor matches read_narrowed's resulting types
    st = api.infer_schema(spark, p, as_arrow=False)
    assert [f.dataType.simpleString() for f in st.fields] == ["smallint", "boolean", "double"]
    assert api.read_narrowed(spark, p).schema == st


def test_distributed_dta_write(spark, tmp_path, sf_dir):
    df = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).repartition(4)
    p = str(tmp_path / "dist.dta")
    df.write.format("readstat").mode("overwrite").save(p)
    back = spark.read.format("readstat").load(p)
    assert back.count() == df.count()
    a = df.agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))).collect()[0][0]
    b = back.agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))).collect()[0][0]
    assert a == b
    assert len(pd.read_stata(p)) == df.count()  # independent reader


def test_write_sav_api(spark, tmp_path, sf_dir):
    df = load_table(spark, sf_dir, "region")
    p = str(tmp_path / "r.sav")
    api.write_sav(df, p)
    back = api.readstat_scan(spark, p)
    assert back.count() == 5
    assert sorted(r.r_name for r in back.collect()) == sorted(r.r_name for r in df.collect())


def test_write_sas_package(spark, tmp_path, sf_dir):
    df = load_table(spark, sf_dir, "nation")
    csv, script = str(tmp_path / "n.csv"), str(tmp_path / "n.sas")
    api.write_sas_package(df, csv, script, variable_labels={"n_name": "nation name"})
    body = open(script).read()
    assert "infile" in body and "n_name" in body and "nation name" in body
    assert len(open(csv).readlines()) == 26  # header + 25 rows


def test_cast_to_schema(spark, sf_dir):
    df = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    target = T.StructType(
        [T.StructField("c_custkey", T.IntegerType()), T.StructField("c_acctbal", T.StringType())]
    )
    out = api.cast_to_schema(df, target)
    assert dict(out.dtypes) == {"c_custkey": "int", "c_acctbal": "string"}


def test_filter_pushdown_applies_batch_side(tmp_path):
    """The reader's _apply_filters must shrink batches before they cross
    to the JVM (P4 improvement over the reference)."""
    import pyarrow as pa
    from pyspark.sql.datasource import EqualTo, GreaterThan

    from polars_readstat_rs_spark.datasource import _ReadstatReader

    df = pd.DataFrame({"a": np.arange(100, dtype="int32"), "s": ["x", "y"] * 50})
    p = str(tmp_path / "pf.dta")
    df.to_stata(p, version=118, write_index=False)
    r = _ReadstatReader({"path": p, "filter_pushdown": "true"}, "stata", None, __import__(
        "polars_readstat_rs_spark.formats.stata.parser", fromlist=["ReadOptions"]
    ).ReadOptions())
    remaining = list(r.pushFilters([GreaterThan(("a",), 90), EqualTo(("s",), "y")]))
    assert len(remaining) == 2  # everything handed back to Catalyst too
    assert len(r.pushed) == 2
    [part] = r.partitions()
    batches = list(r.read(part))
    total = sum(b.num_rows for b in batches)
    assert total == sum((df.a > 90) & (df.s == "y"))  # 4 rows, not 100


def test_filter_pushdown_e2e(spark, tmp_path):
    df = pd.DataFrame({"a": np.arange(1000, dtype="int32"), "b": np.arange(1000)[::-1]})
    p = str(tmp_path / "pf2.dta")
    df.to_stata(p, version=118, write_index=False)
    got = (
        spark.read.format("readstat").load(p)
        .filter((F.col("a") >= 990) | (F.col("b") < 5))
        .count()
    )
    assert got == int(((df.a >= 990) | (df.b < 5)).sum())


def test_filter_pushdown_in_and_string_predicates(tmp_path):
    """In / StringStartsWith / StringEndsWith / StringContains reach the
    reader and shrink batches batch-side (the Catalyst pushdowns a real
    user's .isin() / .startswith() filters generate)."""
    from pyspark.sql.datasource import In, StringContains, StringEndsWith, StringStartsWith

    from polars_readstat_rs_spark.datasource import _ReadstatReader
    from polars_readstat_rs_spark.formats.stata.parser import ReadOptions

    df = pd.DataFrame(
        {
            "a": np.arange(100, dtype="int32"),
            "s": [f"{p}_{i}" for i, p in enumerate(["alpha", "beta", "gamma", "delta"] * 25)],
        }
    )
    p = str(tmp_path / "pfin.dta")
    df.to_stata(p, version=118, write_index=False)

    def rows_with(filters):
        r = _ReadstatReader({"path": p, "filter_pushdown": "true"}, "stata", None, ReadOptions())
        remaining = list(r.pushFilters(filters))
        assert len(remaining) == len(filters)  # Catalyst re-applies everything
        assert len(r.pushed) == len(filters)
        [part] = r.partitions()
        return sum(b.num_rows for b in r.read(part))

    assert rows_with([In(("a",), (3, 7, 999))]) == 2
    assert rows_with([In(("s",), ("alpha_0", "beta_1", "nope"))]) == 2
    assert rows_with([StringStartsWith(("s",), "alpha")]) == 25
    assert rows_with([StringEndsWith(("s",), "_8")]) == 1
    assert rows_with([StringContains(("s",), "amma")]) == 25
    # null-in-set: NULL members can never make a row match; they drop out
    assert rows_with([In(("a",), (None, 5))]) == 1


def test_filter_pushdown_isin_e2e(spark, tmp_path):
    """df.filter(col.isin(...)) end-to-end through the DataSource."""
    df = pd.DataFrame({"a": np.arange(1000, dtype="int32"), "s": ["x", "y"] * 500})
    p = str(tmp_path / "pfin2.dta")
    df.to_stata(p, version=118, write_index=False)
    sdf = spark.read.format("readstat").load(p)
    assert sdf.filter(F.col("a").isin(1, 5, 2000)).count() == 2
    assert sdf.filter(F.col("s").startswith("y")).count() == 500


def test_empty_distributed_write(spark, tmp_path, sf_dir):
    df = load_table(spark, sf_dir, "region").filter("r_regionkey < 0")
    p = str(tmp_path / "empty.dta")
    df.write.format("readstat").mode("overwrite").save(p)
    back = spark.read.format("readstat").load(p)
    assert back.count() == 0
    assert back.columns == ["r_regionkey", "r_name"]


def test_wide_table_roundtrip(spark, tmp_path):
    """286-column shape (the reference's PARALLELIZATION.md benchmark)."""
    n, ncols = 2000, 286
    data = {f"c{i}": np.random.default_rng(i).normal(size=n) for i in range(ncols)}
    df = pd.DataFrame(data)
    p = str(tmp_path / "wide.dta")
    df.to_stata(p, version=118, write_index=False)
    sdf = spark.read.format("readstat").option("partitions", "4").load(p)
    assert len(sdf.columns) == ncols
    assert sdf.count() == n
    got = sdf.agg(F.sum(F.col("c7").cast("decimal(28,12)"))).collect()[0][0]
    import decimal
    exp = sum(decimal.Decimal(repr(round(v, 12))) for v in df.c7)
    # exact per-value roundtrip: compare via pyarrow instead of decimal drift
    from polars_readstat_rs_spark.formats.stata import parser as sp
    t = sp.read_table(p, columns=["c7"])
    assert t.column("c7").to_pylist() == df.c7.tolist()


def test_distributed_write_no_driver_materialization(tmp_path, monkeypatch):
    """commit() must only concatenate record blobs (numpy re-stride) and
    write header/dictionary/labels — never rebuild Arrow tables or touch
    row values as Python objects (VERDICT r1 item 1). Poisoning every
    Arrow materialization entry point proves it by construction."""
    from polars_readstat_rs_spark.formats.stata import parser as sp
    from polars_readstat_rs_spark.formats.stata import writer as sw

    # partition A: short strings, small ints; partition B: wide strings,
    # int64 beyond long range, nulls -> every global-layout decision and
    # re-stride path (width growth, long->double promotion) is exercised.
    ta = pa.table(
        {
            "k": pa.array([1, 2, 3], pa.int64()),
            "s": pa.array(["a", "bb", None], pa.string()),
            "v": pa.array([1.5, 2.5, 3.5], pa.float64()),
        }
    )
    tb = pa.table(
        {
            "k": pa.array([4, None, 6_000_000_000], pa.int64()),
            "s": pa.array(["wider-string", "x", "yy"], pa.string()),
            "v": pa.array([4.5, None, 6.5], pa.float64()),
        }
    )
    blob_a, blob_b = str(tmp_path / "a.bin"), str(tmp_path / "b.bin")
    secs_a = sw.spill_partition(ta.to_batches(max_chunksize=2), blob_a)
    secs_b = sw.spill_partition(tb.to_batches(max_chunksize=2), blob_b)

    def _poison(*a, **k):
        raise AssertionError("driver materialized row data through Arrow")

    monkeypatch.setattr(pa, "concat_tables", _poison)
    monkeypatch.setattr(pa.ipc, "open_file", _poison)
    monkeypatch.setattr(pa.ipc, "open_stream", _poison)
    out = str(tmp_path / "dist.dta")
    sw.assemble_dta(out, ta.schema, [(blob_a, secs_a), (blob_b, secs_b)])

    t = sp.read_table(out)
    assert t.column("k").to_pylist() == [1.0, 2.0, 3.0, 4.0, None, 6_000_000_000.0]
    assert t.column("s").to_pylist() == ["a", "bb", None, "wider-string", "x", "yy"]
    assert t.column("v").to_pylist() == [1.5, 2.5, 3.5, 4.5, None, 6.5]
    ref = pd.read_stata(out)  # independent reader agrees
    assert ref["s"].fillna("").tolist() == ["a", "bb", "", "wider-string", "x", "yy"]


def test_distributed_write_strl_promotion(tmp_path):
    """Partitions that disagree on str vs strL (one saw a >2045-byte
    string, the other didn't) must still assemble a correct GSO heap with
    globally unique observation refs."""
    from polars_readstat_rs_spark.formats.stata import parser as sp
    from polars_readstat_rs_spark.formats.stata import writer as sw

    long_s = "L" * 3000
    ta = pa.table({"k": pa.array([1, 2], pa.int32()), "s": pa.array(["short", "tiny"])})
    tb = pa.table({"k": pa.array([3, 4], pa.int32()), "s": pa.array([long_s, "after"])})
    blob_a, blob_b = str(tmp_path / "a.bin"), str(tmp_path / "b.bin")
    secs_a = sw.spill_partition(ta.to_batches(), blob_a)
    secs_b = sw.spill_partition(tb.to_batches(), blob_b)
    out = str(tmp_path / "strl.dta")
    sw.assemble_dta(out, ta.schema, [(blob_a, secs_a), (blob_b, secs_b)])
    t = sp.read_table(out)
    assert t.column("s").to_pylist() == ["short", "tiny", long_s, "after"]
    assert pd.read_stata(out)["s"].tolist() == ["short", "tiny", long_s, "after"]


def test_distributed_write_e2e_heterogeneous(spark, tmp_path):
    """End-to-end df.write.format("readstat") across partitions with
    divergent layouts, including the shared staging dir next to the
    output path (multi-node-safe; ADVICE r1)."""
    a = spark.createDataFrame([(1, "aa", 1.0), (2, "b", 2.0)], "k long, s string, v double")
    b = spark.createDataFrame(
        [(6_000_000_000, "the-longest-string-here", 3.0), (4, "c", None)],
        "k long, s string, v double",
    )
    df = a.coalesce(1).union(b.coalesce(1))
    p = str(tmp_path / "het.dta")
    df.write.format("readstat").mode("overwrite").save(p)
    assert not [d for d in (tmp_path).iterdir() if d.name.startswith(".het.dta._stage")]
    back = spark.read.format("readstat").load(p)
    got = {r.k for r in back.collect()}
    assert got == {1.0, 2.0, 4.0, 6_000_000_000.0}  # double: 2^31 exceeded
    assert set(pd.read_stata(p)["s"]) == {"aa", "b", "c", "the-longest-string-here"}


def test_write_dta_warns_on_lossy_int64(tmp_path):
    import warnings as w

    from polars_readstat_rs_spark.formats.stata import writer as sw

    t = pa.table({"id": pa.array([(1 << 60) + 7, 5], pa.int64())})
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        sw.write_dta(t, str(tmp_path / "lossy.dta"))
    assert any("2^53" in str(c.message) for c in caught)


def test_batch_iter_bounded_memory(tmp_path):
    """Parity with the reference's streaming memory test
    (tests/streaming.rs): iterating batches must not materialize the
    file — peak RSS growth stays far below the decoded data size."""
    import resource

    n = 1_500_000
    df = pd.DataFrame(
        {
            "a": np.arange(n, dtype="int32"),
            "b": np.random.default_rng(0).normal(size=n),
            "c": np.random.default_rng(1).normal(size=n),
            "d": np.random.default_rng(2).normal(size=n),
        }
    )
    p = str(tmp_path / "big.dta")
    df.to_stata(p, version=118, write_index=False)  # ~42MB of records
    del df
    before = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    total = 0
    for batch in api.readstat_batch_iter(p, batch_size=50_000):
        total += batch.num_rows  # drop each batch immediately
    after = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    assert total == n
    growth_mb = (after - before) / 1024
    assert growth_mb < 30, f"streaming read grew RSS by {growth_mb:.0f}MB"


def test_metadata_probe_fidelity(spark):
    """Probe carries file encoding and full value-label contents
    (reference readstat_metadata_json, src/stata/mod.rs:69-115)."""
    import json

    from polars_readstat_rs_spark.api import readstat_metadata, readstat_metadata_json

    p = "/root/reference/tests/stata/data/sample_pyreadstat.dta"
    md = readstat_metadata(spark, p)
    assert "encoding" in md.columns and "value_labels" in md.columns
    row = md.filter(md.name == "mylabl").first()
    assert row.encoding == "cp1252"  # v117: pre-118 files are cp1252
    assert json.loads(row.value_labels) == {"1": "Male", "2": "Female"}

    d = json.loads(readstat_metadata_json(p))
    assert d["version"] == 117 and d["byte_order"] == "LittleEndian"
    (v,) = [v for v in d["variables"] if v["name"] == "mylabl"]
    assert v["value_labels"] == {"1": "Male", "2": "Female"}

    sp = readstat_metadata(spark, "/root/reference/tests/spss/data/sample.sav")
    srow = sp.filter(sp.name == "mylabl").first()
    assert srow.encoding == "windows-1252"
    assert json.loads(srow.value_labels) == {"1": "Male", "2": "Female"}

    sa = readstat_metadata(spark, "/root/reference/tests/sas/data/test.sas7bdat")
    assert sa.first().encoding == "ISO-8859-1"

    sj = json.loads(readstat_metadata_json("/root/reference/tests/spss/data/sample.zsav"))
    assert sj["compression"] == "ZLIB" and sj["encoding"] == "windows-1252"
    aj = json.loads(readstat_metadata_json("/root/reference/tests/sas/data/test.sas7bdat"))
    assert aj["file_encoding"] == "ISO-8859-1" and aj["column_count"] == len(aj["columns"])


def test_metadata_json_missing_key_stringification():
    """v>=113 int label keys at/above the sentinel render as
    MISSING / MISSING_a..z (reference missing_value_label,
    src/stata/mod.rs:30-43)."""
    from polars_readstat_rs_spark.api import _stata_label_key

    assert _stata_label_key(5, 118) == "5"
    assert _stata_label_key(2147483621, 118) == "MISSING"
    assert _stata_label_key(2147483622, 118) == "MISSING_a"
    assert _stata_label_key(2147483647, 118) == "MISSING_z"
    assert _stata_label_key(2147483621, 108) == "2147483621"  # pre-113: plain


def test_write_dta_compress_narrows(spark, tmp_path):
    """write_dta(compress=True) mirrors StataWriter::with_compress
    (src/stata/writer.rs:176-183): the stats pass narrows eligible
    columns before encoding, and the file reads back identically."""
    from polars_readstat_rs_spark import api
    from polars_readstat_rs_spark.formats.stata import parser as sp

    df = spark.createDataFrame(
        [(1.0, 250.0, 1.5), (0.0, -3.0, 2.25)], "flag double, small double, frac double"
    )
    p = str(tmp_path / "c.dta")
    api.write_dta(df, p, compress=True)
    meta = sp.read_metadata(p)
    kinds = {v.name: v.kind for v in meta.variables}
    assert kinds == {"flag": "i8", "small": "i16", "frac": "f64"}
    rt = sp.read_table(p)
    assert rt.column("flag").to_pylist() == [1, 0]
    assert rt.column("small").to_pylist() == [250, -3]
    assert rt.column("frac").to_pylist() == [1.5, 2.25]


def test_multifile_scan(spark, tmp_path):
    """A glob or directory of same-schema files reads as one DataFrame,
    partitioned per file; mismatched schemas are rejected."""
    import pyarrow as pa

    from polars_readstat_rs_spark.formats.stata import writer as sw

    for i in range(3):
        t = pa.table({"k": pa.array([i * 10 + j for j in range(5)], type=pa.int32()),
                      "s": pa.array([f"f{i}_{j}" for j in range(5)])})
        sw.write_dta(t, str(tmp_path / f"part{i}.dta"))

    df = spark.read.format("readstat").load(str(tmp_path / "*.dta"))
    assert df.count() == 15
    assert sorted(r.k for r in df.select("k").collect()) == sorted(
        i * 10 + j for i in range(3) for j in range(5)
    )
    assert df.rdd.getNumPartitions() == 3  # one per file

    # directory form
    ddf = spark.read.format("readstat").load(str(tmp_path))
    assert ddf.count() == 15

    # offset/limit are single-file-only
    import pytest

    with pytest.raises(Exception, match="single input file"):
        spark.read.format("readstat").option("limit", "5").load(str(tmp_path / "*.dta")).count()

    # schema mismatch rejected
    bad = pa.table({"other": pa.array([1.0])})
    sw.write_dta(bad, str(tmp_path / "zbad.dta"))
    with pytest.raises(Exception, match="schema mismatch"):
        spark.read.format("readstat").load(str(tmp_path / "*.dta")).count()


def test_two_pass_schema_handles_parse_and_empty_batches(spark, tmp_path):
    """Review regressions: (a) the schema= pass-2 cast must apply the
    same trim/empty-to-null parse rules the pass-1 inference used —
    a raw Arrow cast rejects ' 3 ' / '' that inference approved;
    (b) narrow_batch must not crash on a zero-row batch."""
    import pyarrow as pa

    from polars_readstat_rs_spark.functions.narrow import cast_batch, narrow_batch

    df = pd.DataFrame({"s": ["1", "", "2", " 3 "], "x": [1.0, 2.0, 3.0, 4.0]})
    p = str(tmp_path / "p.dta")
    df.to_stata(p, version=118, write_index=False)
    schema = api.infer_schema(spark, p)
    assert pa.types.is_integer(schema.field("s").type)
    tbl = pa.Table.from_batches(list(api.readstat_batch_iter(p, batch_size=2, schema=schema)))
    assert tbl.column("s").to_pylist() == [1, None, 2, 3]

    empty = pa.record_batch(
        [pa.array([], type=pa.float64()), pa.array([], type=pa.string())], names=["x", "s"]
    )
    out = narrow_batch(empty)
    assert out.num_rows == 0 and out.schema.field("x").type == pa.float64()
    # cast_batch parse path also roundtrips bools from strings
    b = pa.record_batch([pa.array(["1", "0", "", None])], names=["f"])
    casted = cast_batch(b, pa.schema([pa.field("f", pa.bool_())]))
    assert casted.column("f").to_pylist() == [True, False, None, None]


def test_corrupt_inputs_fail_loudly(tmp_path):
    """Malformed files must raise clear errors, never hang or return
    partial silent data: wrong magic, truncation, cross-format reads."""
    import pytest

    from polars_readstat_rs_spark.formats.sas import parser as sas_parser
    from polars_readstat_rs_spark.formats.spss import parser as spss_parser
    from polars_readstat_rs_spark.formats.stata import parser as stata_parser

    df = pd.DataFrame({"a": np.arange(100, dtype="int32")})
    ok = str(tmp_path / "ok.dta")
    df.to_stata(ok, version=118, write_index=False)
    raw = open(ok, "rb").read()

    bad = str(tmp_path / "bad.dta")
    open(bad, "wb").write(b"XX" + raw[2:])
    with pytest.raises(ValueError, match="Stata version"):
        stata_parser.read_metadata(bad)

    trunc = str(tmp_path / "trunc.dta")
    open(trunc, "wb").write(raw[: len(raw) // 2])
    with pytest.raises(EOFError, match="truncated"):
        meta = stata_parser.read_metadata(trunc)  # may already detect it
        list(
            stata_parser.read_partition(
                trunc, 0, meta.nobs, None, stata_parser.ReadOptions(), 65536
            )
        )

    with pytest.raises(ValueError, match="SPSS header magic"):
        spss_parser.read_metadata(ok)
    with pytest.raises(Exception):  # SAS magic check
        sas_parser.read_metadata(ok)

    # data-region cuts: the header still declares rows the file no longer
    # holds, so every split of the read fails naming the file and offset
    from functools import partial

    from polars_readstat_rs_spark.datasource import ReadstatDataSource
    from polars_readstat_rs_spark.formats.sas.bdat_writer import write_sas7bdat
    from polars_readstat_rs_spark.formats.sas.xport import write_xpt
    from polars_readstat_rs_spark.formats.spss.writer import write_sav
    from polars_readstat_rs_spark.formats.stata.writer import write_dta

    n = 4000
    t = pa.table({"a": np.arange(n, dtype=np.float64), "s": [f"v{i}" for i in range(n)]})
    # an .xpt holds no row count: a cut shows as a file that is not whole
    # 80-byte records (a cut on a record boundary stays undetectable)
    writers = {"d.dta": write_dta, "u.sav": write_sav,
               "c.sav": partial(write_sav, compress=True), "b.sas7bdat": write_sas7bdat,
               "r.sas7bdat": partial(write_sas7bdat, compress="RLE"),
               "x.sas7bdat": partial(write_sas7bdat, compress="RDC"),
               "v5.xpt": write_xpt, "v8.xpt": partial(write_xpt, version=8)}
    for name, write in writers.items():
        full = str(tmp_path / name)
        write(t, full)
        raw = open(full, "rb").read()
        cut = str(tmp_path / f"cut_{name}")
        open(cut, "wb").write(raw[: len(raw) * 95 // 100])
        for parts in ("1", "4"):
            # a compressed .sas7bdat cut inside a page fails in the header
            # read, before any partition exists
            with pytest.raises(EOFError, match="truncated") as err:
                ds = ReadstatDataSource({"path": cut, "partitions": parts})
                reader = ds.reader(ds.schema())
                for part in reader.partitions():
                    list(reader.read(part))
            assert cut in str(err.value) and "byte offset" in str(err.value), (name, parts)

    # a compressed .sas7bdat cut on a page boundary keeps a whole number
    # of pages; the header's page count catches it before any partition
    # exists, so a read split into several page ranges fails too
    from polars_readstat_rs_spark.formats.sas.parser import read_metadata

    for name in ("r.sas7bdat", "x.sas7bdat"):
        full = str(tmp_path / name)
        meta = read_metadata(full)
        assert meta.page_count > 2
        raw = open(full, "rb").read()
        cut = str(tmp_path / f"page_cut_{name}")
        open(cut, "wb").write(raw[: meta.header_length + (meta.page_count - 1) * meta.page_length])
        for opts in ({"partitions": "1"}, {"partitions": "4"}, {"row_index": "true"}):
            with pytest.raises(EOFError, match="declared pages") as err:
                ds = ReadstatDataSource({"path": cut, **opts})
                reader = ds.reader(ds.schema())
                for part in reader.partitions():
                    list(reader.read(part))
            assert cut in str(err.value) and "byte offset" in str(err.value), (name, opts)

    # .por declares no row count; a cut inside a number token (here the
    # last one before the 95% mark, its '/' terminator gone) fails naming
    # the file and the stream offset
    from polars_readstat_rs_spark.formats.spss.portable import PorError, write_por

    full = str(tmp_path / "p.por")
    write_por(t, full)
    raw = open(full, "rb").read()
    cut = str(tmp_path / "cut_p.por")
    open(cut, "wb").write(raw[: raw.rindex(b"/", 0, len(raw) * 95 // 100)])
    # a plain 95% cut ends inside the last line's string, which the
    # 80-column padding completes: the missing 'Z' marker catches it
    cut95 = str(tmp_path / "cut95_p.por")
    open(cut95, "wb").write(raw[: len(raw) * 95 // 100])
    for path, msg in ((cut, "terminator"), (cut95, "'Z' end-of-data marker")):
        ds = ReadstatDataSource({"path": path})
        reader = ds.reader(ds.schema())
        with pytest.raises(PorError, match=msg) as err:
            for part in reader.partitions():
                list(reader.read(part))
        assert path in str(err.value) and "stream offset" in str(err.value), path


def _write_format(tmp_path, ext: str, n: int) -> str:
    """One ``n``-row file per readstat format, written by the repo's own
    writers: doubles with nulls and strings with empties."""
    from polars_readstat_rs_spark.formats.sas.bdat_writer import write_sas7bdat
    from polars_readstat_rs_spark.formats.sas.xport import write_xpt
    from polars_readstat_rs_spark.formats.spss.portable import write_por
    from polars_readstat_rs_spark.formats.spss.writer import write_sav
    from polars_readstat_rs_spark.formats.stata.writer import write_dta

    x = np.random.default_rng(3).normal(size=n)
    t = pa.table({
        "id": np.arange(n, dtype=np.float64),
        "x": pa.array(x, mask=np.arange(n) % 7 == 0),
        "s": [f"s{i % 13}" if i % 5 else "" for i in range(n)],
    })
    p = str(tmp_path / f"t.{ext}")
    write = {"dta": write_dta, "sav": write_sav, "sas7bdat": write_sas7bdat, "xpt": write_xpt,
             "por": write_por, "zsav": lambda t, p: write_sav(t, p, compress="zsav")}[ext]
    write(t, p)
    return p


@pytest.mark.parametrize("ext", ["dta", "sav", "zsav", "sas7bdat", "xpt", "por"])
def test_driver_local_reads_match_the_datasource(tmp_path, ext):
    """readstat_batch_iter and read_profiled run the DataSource's partition
    reader in-process, so every format reads back the DataSource's
    schema and values; readstat_row_count is the header's count (.por
    headers carry none: -1)."""
    from polars_readstat_rs_spark.datasource import ReadstatDataSource

    n = 2500
    p = _write_format(tmp_path, ext, n)
    ds = ReadstatDataSource({"path": p})
    reader = ds.reader(ds.schema())
    want = pa.Table.from_batches([b for part in reader.partitions() for b in reader.read(part)])
    assert want.num_rows == n

    batches = list(api.readstat_batch_iter(p, batch_size=1000))
    assert len(batches) >= 3 and max(b.num_rows for b in batches) <= 1000
    got = pa.Table.from_batches(batches)
    assert got.schema == want.schema and got.equals(want)
    tbl, prof = api.read_profiled(p)
    assert tbl.schema == want.schema and tbl.equals(want) and prof["rows"] == n
    cols = want.column_names[1::-1]  # two columns, reversed
    sliced = pa.Table.from_batches(api.readstat_batch_iter(p, columns=cols, offset=10, limit=100))
    assert sliced.equals(want.slice(10, 100).select(cols))
    assert api.readstat_row_count(p) == (-1 if ext == "por" else n)


def test_unknown_format_option_names_the_known_formats(tmp_path):
    from polars_readstat_rs_spark.datasource import ReadstatDataSource

    p = _write_format(tmp_path, "dta", 10)
    with pytest.raises(ValueError, match="known formats: stata, spss, sas, xport, por"):
        ReadstatDataSource({"path": p, "format": "parquet"}).schema()


def test_compressed_sas_row_range_honours_the_null_suffix(tmp_path):
    """An RLE .sas7bdat read as one row range (row_index forbids page
    splits) takes its schema from the scan's ReadOptions, so a custom
    informative-null suffix names the indicator columns it decodes."""
    from polars_readstat_rs_spark.datasource import ReadstatDataSource
    from polars_readstat_rs_spark.formats.sas.bdat_writer import write_sas7bdat

    p = str(tmp_path / "r.sas7bdat")
    x = np.arange(3000, dtype=np.float64)
    write_sas7bdat(pa.table({"x": pa.array(x, mask=x % 4 == 0)}), p, compress="RLE")
    ds = ReadstatDataSource({"path": p, "informative_nulls": "true",
                             "informative_null_suffix": "_m", "row_index": "true"})
    reader = ds.reader(ds.schema())
    got = pa.Table.from_batches([b for part in reader.partitions() for b in reader.read(part)])
    assert got.column_names == ["x", "x_m", "_row_idx"] and got.num_rows == 3000
    assert got.column("x").null_count == 750


def test_read_profiled(tmp_path):
    """Reference finish_profiled() parity: (table, timing-breakdown)."""
    n = 3000
    pd.DataFrame({"a": np.arange(n, dtype="int32")}).to_stata(
        str(tmp_path / "p.dta"), version=118, write_index=False
    )
    tbl, prof = api.read_profiled(str(tmp_path / "p.dta"), batch_size=1000)
    assert tbl.num_rows == n and prof["rows"] == n and prof["batches"] == 3
    assert prof["total_ms"] >= prof["first_batch_ms"] > 0
    assert prof["total_ms"] >= prof["decode_ms"]


def test_narrow_rule_toggles(spark):
    """CompressOptionsLite parity: each rule family toggles off
    independently (compress_numeric / datetime_to_date /
    string_to_numeric)."""
    import datetime

    from polars_readstat_rs_spark.functions.narrow import narrow

    df = spark.createDataFrame(
        [("5", datetime.datetime(2020, 1, 1), 3.0)],
        "s string, ts timestamp, x double",
    )
    all_on = dict(narrow(df).dtypes)
    assert all_on == {"s": "tinyint", "ts": "date", "x": "tinyint"}
    assert dict(narrow(df, string_to_numeric=False).dtypes)["s"] == "string"
    assert dict(narrow(df, datetime_to_date=False).dtypes)["ts"] == "timestamp"
    assert dict(narrow(df, compress_numeric=False).dtypes)["x"] == "double"
    # all off: untouched frame
    assert dict(
        narrow(
            df, compress_numeric=False, datetime_to_date=False, string_to_numeric=False
        ).dtypes
    ) == dict(df.dtypes)


def test_sql_ddl_view_over_readstat(spark, tmp_path):
    """Pure-SQL surface: CREATE TEMPORARY VIEW ... USING readstat lets a
    SQL-only user query .dta/.sav/.sas7bdat files with no Python
    DataFrame code — options (path, columns, catalog, ...) pass through
    the same DataSource."""
    import datetime

    from pyspark.sql import functions as F

    from polars_readstat_rs_spark.api import _ensure_registered

    _ensure_registered(spark)
    df = spark.range(100).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") * 2).cast("double").alias("v"),
        F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("grp"),
    )
    for ext in ("dta", "sav", "sas7bdat"):
        p = str(tmp_path / f"t.{ext}")
        df.write.format("readstat").mode("overwrite").save(p)
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW sqlv_{ext} USING readstat OPTIONS (path '{p}')"
        )
        row = spark.sql(
            f"SELECT count(*) AS n, sum(v) AS s FROM sqlv_{ext} WHERE k < 50"
        ).collect()[0]
        assert (row["n"], row["s"]) == (50, 2450.0), ext
        # grouped SQL over the labeled string column
        g = {
            r["grp"]: r["n"]
            for r in spark.sql(
                f"SELECT grp, count(*) AS n FROM sqlv_{ext} GROUP BY grp"
            ).collect()
        }
        assert g == {"g0": 34, "g1": 33, "g2": 33}, ext


def test_no_stale_filter_on_reused_relation(spark, tmp_path):
    """Regression (r9): Spark caches the planned scan per relation and
    reuses it across queries — with batch-side filters ACCEPTED, a scan
    planned for df.filter(...) then served a filterless df.count() with
    query A's filters still applied (50 instead of 100; same leak
    through CREATE TEMPORARY VIEW). Filter acceptance is therefore
    OPT-IN; by default the reader declines every filter and Catalyst
    applies them JVM-side, so relation reuse is always correct."""
    df = spark.range(100).select(
        F.col("id").cast("int").alias("k"), (F.col("id") * 2).alias("v")
    )
    p = str(tmp_path / "stale.dta")
    df.write.format("readstat").mode("overwrite").save(p)

    # DataFrame-path reuse: filtered action then full action on ONE df
    sdf = spark.read.format("readstat").load(p)
    assert sdf.filter(F.col("k") < 50).count() == 50
    assert sdf.count() == 100
    assert sdf.filter(F.col("k") < 20).count() == 20
    assert sdf.count() == 100

    # SQL temp-view reuse: the relation lives in the catalog
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW stale_v USING readstat OPTIONS (path '{p}')"
    )
    assert spark.sql("SELECT count(*) AS n FROM stale_v WHERE k < 50").collect()[0]["n"] == 50
    assert spark.sql("SELECT count(*) AS n FROM stale_v").collect()[0]["n"] == 100
    assert spark.table("stale_v").count() == 100


def test_multifile_directory_write_roundtrip(spark, tmp_path):
    """option("multifile","true"): each task writes ONE standalone file
    of the target format into the output directory (the 100 TB write
    shape — no driver assembly); the directory read plans one partition
    per file and round-trips exactly. Empty frames still publish a
    zero-row schema file."""
    df = (
        spark.range(5000)
        .repartition(6)
        .select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") * 1.5).alias("v"),
            F.concat(F.lit("s"), (F.col("id") % 7).cast("string")).alias("s"),
        )
    )
    import glob

    for ext in ("dta", "sav", "zsav", "xpt", "por", "sas7bdat"):
        out = str(tmp_path / f"dir.{ext}")
        df.write.format("readstat").mode("overwrite").option("multifile", "true").save(out)
        files = glob.glob(f"{out}/part-*.{ext}")
        assert len(files) == 6, (ext, files)
        assert not glob.glob(f"{out}/.*tmp_*"), "tmp files must not survive commit"
        back = spark.read.format("readstat").load(out)
        assert back.count() == 5000
        assert back.agg(F.sum("k")).collect()[0][0] == sum(range(5000))
        assert back.rdd.getNumPartitions() == 6  # partition-per-file read

    # the sink honours the single-file writer's options: compress=zsav
    # writes zlib .zsav parts, and .por value labels read back as labels
    out = str(tmp_path / "dir_z.sav")
    df.write.format("readstat").mode("overwrite").option("multifile", "true").option(
        "compress", "zsav"
    ).save(out)
    files = glob.glob(f"{out}/part-*.zsav")
    assert len(files) == 6 and not glob.glob(f"{out}/part-*.sav"), files
    for f in files:
        with open(f, "rb") as fh:
            assert fh.read(4) == b"$FL3", f
    assert spark.read.format("readstat").load(out).count() == 5000
    out = str(tmp_path / "labels.por")
    df.write.format("readstat").mode("overwrite").option("multifile", "true").option(
        "value_labels", '{"k": {"0": "zero", "1": "one"}}'
    ).save(out)
    back = spark.read.format("readstat").load(out)
    assert sorted(r.k for r in back.where("k IN ('zero', 'one', '2')").collect()) == [
        "2", "one", "zero"
    ]

    # overwrite clears previous parts (no stale-file mixing): rewrite
    # the dta dir with FEWER partitions and expect exactly that many
    out = str(tmp_path / "dir.dta")
    df.repartition(3).write.format("readstat").mode("overwrite").option(
        "multifile", "true"
    ).save(out)
    files = glob.glob(f"{out}/part-*.dta")
    assert len(files) == 3, files
    assert spark.read.format("readstat").load(out).count() == 5000

    # empty input -> one zero-row file carrying the schema
    out = str(tmp_path / "empty.dta")
    df.filter(F.lit(False)).write.format("readstat").mode("overwrite").option(
        "multifile", "true"
    ).save(out)
    back = spark.read.format("readstat").load(out)
    assert back.count() == 0
    assert set(back.columns) == {"k", "v", "s"}


def test_union_by_name_directory_read(spark, tmp_path):
    """option("union_by_name","true"): evolving-schema corpora (survey
    waves) read as the by-name union — missing columns null-fill, field
    order is first appearance, projections may name late-wave columns,
    and a type CONFLICT fails loudly at plan time."""
    d = str(tmp_path / "waves")
    import os

    os.makedirs(d)
    spark.range(3).select(
        F.col("id").cast("int").alias("a"), (F.col("id") + 0.5).alias("b")
    ).write.format("readstat").mode("overwrite").save(f"{d}/w1.dta")
    spark.range(3).select(
        (F.col("id") + 10).cast("int").alias("a"),
        (F.col("id") + 20.5).alias("b"),
        F.concat(F.lit("x"), F.col("id").cast("string")).alias("c"),
    ).write.format("readstat").mode("overwrite").save(f"{d}/w2.dta")

    df = spark.read.format("readstat").option("union_by_name", "true").load(d)
    assert df.schema.simpleString() == "struct<a:int,b:double,c:string>"
    rows = [tuple(r) for r in df.orderBy("a").collect()]
    assert rows[0] == (0, 0.5, None) and rows[-1] == (12, 22.5, "x2")

    # projection including a column only the second wave has
    sub = (
        spark.read.format("readstat")
        .option("union_by_name", "true")
        .option("columns", "c,a")
        .load(d)
    )
    assert sub.columns == ["c", "a"]
    assert [r["c"] for r in sub.orderBy("a").collect()] == [None, None, None, "x0", "x1", "x2"]

    # without the option: loud mismatch pointing at the fix
    import pytest

    with pytest.raises(Exception, match="union_by_name"):
        spark.read.format("readstat").load(d).count()

    # type conflict: same name, different type -> loud plan-time error
    spark.range(2).select(F.lit("notnum").alias("b"), F.col("id").cast("int").alias("a")).write.format(
        "readstat"
    ).mode("overwrite").save(f"{d}/w3.dta")
    with pytest.raises(Exception, match="common type"):
        spark.read.format("readstat").option("union_by_name", "true").load(d).schema


def test_append_semantics(spark, tmp_path):
    """mode('append') on an existing SINGLE-FILE output must fail loudly
    (it used to silently overwrite — stat files are not appendable
    containers); append to a missing path is a create; the multifile
    directory sink appends for real."""
    import pytest

    df = spark.range(10).select(F.col("id").cast("int").alias("k"))
    p = str(tmp_path / "t.dta")
    df.write.format("readstat").mode("append").save(p)  # create-by-append ok
    assert spark.read.format("readstat").load(p).count() == 10
    with pytest.raises(Exception, match="not appendable"):
        df.write.format("readstat").mode("append").save(p)
    assert spark.read.format("readstat").load(p).count() == 10  # untouched

    mp = str(tmp_path / "dir.dta")
    df.write.format("readstat").mode("overwrite").option("multifile", "true").save(mp)
    df.write.format("readstat").mode("append").option("multifile", "true").save(mp)
    assert spark.read.format("readstat").load(mp).count() == 20


def test_convert_tree_bulk(spark, tmp_path):
    """tools/convert.py: a mixed .dta/.sav tree converts to parquet +
    metadata sidecars with row counts preserved and labels exported in
    the sidecar (codes stay raw by default)."""
    import json
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import convert as C

    import pyarrow as pa
    from polars_readstat_rs_spark.formats.spss.writer import write_sav
    from polars_readstat_rs_spark.formats.stata.writer import write_dta

    src = tmp_path / "src" / "nested"
    src.mkdir(parents=True)
    t = pa.table({"k": pa.array(range(40), type=pa.int32()),
                  "g": pa.array([i % 3 for i in range(40)], type=pa.int32())})
    write_dta(t, str(src / "a.dta"), value_labels={"g": {0: "zero", 1: "one", 2: "two"}})
    write_sav(t, str(src.parent / "b.sav"))
    out = tmp_path / "out"
    manifest = C.convert_tree(spark, str(tmp_path / "src"), str(out))
    assert {m["rows"] for m in manifest} == {40} and len(manifest) == 2
    got = spark.read.parquet(manifest[0]["parquet"])
    assert got.count() == 40
    meta = json.loads(open(next(m["meta"] for m in manifest if m["src"].endswith("a.dta"))).read())
    blob = json.dumps(meta)
    assert "zero" in blob and "two" in blob  # labels exported in the sidecar


def test_scan_cache_hit_and_mtime_invalidation(spark, tmp_path):
    """r12 verdict item 5: an identical readstat_scan of unchanged files
    returns the CACHED DataFrame (skipping the schema planning worker);
    replacing the file invalidates via the (size, mtime_ns) fingerprint."""
    import os
    import time

    import pandas as pd

    from polars_readstat_rs_spark import api

    p = str(tmp_path / "cache.dta")
    pd.DataFrame({"a": [1.0, 2.0]}).to_stata(p, version=118, write_index=False)
    df1 = api.readstat_scan(spark, p)
    df2 = api.readstat_scan(spark, p)
    assert df2 is df1  # cache hit: same immutable logical plan
    assert df1.count() == 2
    # different options -> different plan, not served from cache
    df3 = api.readstat_scan(spark, p, columns=["a"])
    assert df3 is not df1
    # replace the file (force a distinct mtime_ns)
    old = os.stat(p).st_mtime_ns
    pd.DataFrame({"a": [1.0, 2.0, 3.0]}).to_stata(p, version=118, write_index=False)
    if os.stat(p).st_mtime_ns == old:
        os.utime(p, ns=(old + 1_000_000, old + 1_000_000))
    df4 = api.readstat_scan(spark, p)
    assert df4 is not df1
    assert df4.count() == 3


def test_read_metadata_stat_cache_invalidates_on_replace(tmp_path):
    """The (path, size, mtime_ns)-keyed metadata cache returns the same
    object for an unchanged file and re-parses after a replace."""
    import os

    import pandas as pd

    from polars_readstat_rs_spark.formats.stata import parser as sp

    p = str(tmp_path / "m.dta")
    pd.DataFrame({"a": [1.0]}).to_stata(p, version=118, write_index=False)
    m1 = sp.read_metadata(p)
    assert sp.read_metadata(p) is m1  # cached instance
    old = os.stat(p).st_mtime_ns
    pd.DataFrame({"a": [1.0, 2.0]}).to_stata(p, version=118, write_index=False)
    if os.stat(p).st_mtime_ns == old:
        os.utime(p, ns=(old + 1_000_000, old + 1_000_000))
    m2 = sp.read_metadata(p)
    assert m2 is not m1
    assert m2.nobs == 2


def test_scan_cache_key_includes_catalog_and_session(spark, tmp_path):
    """Code-review r13: the catalog file's fingerprint joins the cache
    key (rewriting the .sas7bcat must invalidate), and sibling sessions
    from newSession() must not share cached plans."""
    import os

    import pandas as pd

    from polars_readstat_rs_spark import api

    p = str(tmp_path / "k.dta")
    pd.DataFrame({"a": [1.0]}).to_stata(p, version=118, write_index=False)
    cat = str(tmp_path / "labels.bin")
    with open(cat, "wb") as fh:
        fh.write(b"v1")
    k1 = api._scan_cache_key(
        spark, p, None, 0, None, True, True, False, None, False, None, None,
        True, False, cat,
    )
    assert k1 is not None
    # rewrite the catalog -> different fingerprint -> different key
    old = os.stat(cat).st_mtime_ns
    with open(cat, "wb") as fh:
        fh.write(b"v2!!")
    if os.stat(cat).st_mtime_ns == old:
        os.utime(cat, ns=(old + 1_000_000, old + 1_000_000))
    k2 = api._scan_cache_key(
        spark, p, None, 0, None, True, True, False, None, False, None, None,
        True, False, cat,
    )
    assert k2 != k1
    # sibling session: same applicationId, different id(spark) -> the
    # cache key differs, so a sibling could never be served session-1's
    # plan. (Actually LOADING on a newSession() sibling is a pyspark
    # 4.1 limitation — its lookup can't resolve Python data sources
    # registered by the parent; see api._ensure_registered.)
    s2 = spark.newSession()
    k_s1 = api._scan_cache_key(
        spark, p, None, 0, None, True, True, False, None, False, None, None,
        True, False, None,
    )
    k_s2 = api._scan_cache_key(
        s2, p, None, 0, None, True, True, False, None, False, None, None,
        True, False, None,
    )
    assert k_s1 is not None and k_s2 is not None and k_s1 != k_s2


def test_page_index_compact_and_bounded(tmp_path, monkeypatch):
    """Code-review r13: the page index is a compact Nx3 int64 array, and
    files above the page-count bound bypass the cache (stay transient)."""
    import numpy as np
    import pyarrow as pa

    from polars_readstat_rs_spark.formats.sas import parser as sasp
    from polars_readstat_rs_spark.formats.sas.bdat_writer import write_sas7bdat

    p = str(tmp_path / "pi.sas7bdat")
    write_sas7bdat(pa.table({"a": np.arange(1000, dtype=np.float64)}), p)
    idx = sasp.build_page_index(p)
    assert isinstance(idx, np.ndarray) and idx.dtype == np.int64 and idx.shape[1] == 3
    assert idx[:, 2].sum() == 1000  # n_rows column covers every row
    assert sasp.build_page_index(p) is idx  # cached below the bound
    monkeypatch.setattr(sasp, "_PAGE_INDEX_CACHE_MAX_PAGES", 0)
    idx2 = sasp.build_page_index(p)
    assert idx2 is not idx  # above the bound: transient per call
    assert (idx2 == idx).all()

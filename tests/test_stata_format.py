"""Stata .dta reader/writer tests: pandas golden comparison (the
reference validates against independent implementations the same way,
SURVEY.md §5), corpus sweep, slice consistency, writer roundtrip."""

from __future__ import annotations

import glob
import warnings

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from polars_readstat_rs_spark.formats.stata import parser, writer

warnings.filterwarnings("ignore")

CORPUS = "/root/reference/tests/stata/data"

# Documented deviations from pandas (reference-semantic or policy):
#  - %tcHH:MM-style -> ns-of-day, not a full datetime
#  - pre-113 integer boundary rule follows the reference (only the max
#    sentinel is missing; pandas masks the whole Stata valid range)
ALLOW_COLS = {("sample_pyreadstat.dta", "mytime")}
ALLOW_FILES = {
    "stata_int_validranges_105.dta",
    "stata_int_validranges_108.dta",
    "stata_int_validranges_111.dta",
}


def _mixed_frame(n=2000, seed=11):
    rng = np.random.default_rng(seed)
    df = pd.DataFrame(
        {
            "v_byte": pd.array(rng.integers(-100, 100, n), dtype="Int8"),
            "v_int": pd.array(rng.integers(-30000, 30000, n), dtype="Int16"),
            "v_long": pd.array(rng.integers(-(2**31) + 2, 2**31 - 100, n), dtype="Int32"),
            "v_float": rng.normal(0, 1e4, n).astype("float32"),
            "v_double": rng.lognormal(size=n),
            "v_str": [f"name_{i % 50}" if i % 10 else "" for i in range(n)],
            "v_date": pd.to_datetime(rng.integers(0, 20000, n), unit="D", origin="1950-01-01"),
        }
    )
    for c in ["v_byte", "v_int", "v_long"]:
        df.loc[df.sample(frac=0.1, random_state=1).index, c] = pd.NA
    df.loc[df.sample(frac=0.1, random_state=2).index, "v_double"] = np.nan
    return df


@pytest.mark.parametrize("version", [114, 117, 118])
def test_reader_matches_pandas(tmp_path, version):
    df = _mixed_frame()
    p = str(tmp_path / f"m{version}.dta")
    df.to_stata(p, convert_dates={"v_date": "td"}, version=version, write_index=False)
    t = parser.read_table(p)
    ref = pd.read_stata(p)
    pdf = t.to_pandas()
    for c in ["v_byte", "v_int", "v_long", "v_float", "v_double"]:
        ours = pdf[c].astype("float64").fillna(-9e99)
        theirs = pd.to_numeric(ref[c], errors="coerce").astype("float64").fillna(-9e99)
        assert (ours == theirs).all(), c
    assert (pdf["v_str"].fillna("") == ref["v_str"]).all()
    assert (pd.to_datetime(pdf["v_date"]) == ref["v_date"]).all()


def test_corpus_sweep_vs_pandas():
    """Every reference-corpus file pandas can read must value-match."""
    files = sorted(glob.glob(f"{CORPUS}/*.dta"))
    assert len(files) > 100
    checked = 0
    for p in files:
        name = p.rsplit("/", 1)[-1]
        if name in ALLOW_FILES:
            continue
        t = parser.read_table(p, opts=parser.ReadOptions(value_labels_as_strings=False))
        meta = parser.read_metadata(p)
        assert t.num_rows == meta.nobs and t.num_columns == meta.nvar
        try:
            ref = pd.read_stata(p, convert_categoricals=False)
        except Exception:
            continue  # pandas can't read it; shape check above suffices
        pdf = t.to_pandas(date_as_object=True, timestamp_as_object=True)
        assert pdf.shape == ref.shape, name
        for c in ref.columns:
            if (name, c) in ALLOW_COLS:
                continue
            ftype = str(t.schema.field(c).type)
            o, r = pdf[c], ref[c]
            if ftype in ("date32[day]", "timestamp[us]", "timestamp[ms]"):
                if pd.api.types.is_numeric_dtype(r):
                    continue  # pandas bailed out of conversion (out-of-ns-range)
                o2 = o.map(lambda x: "" if x is None or x != x else str(x))
                r2 = r.map(lambda x: "" if pd.isna(x) else (str(x) if not isinstance(x, (int, float)) else "<raw>"))
                bad = (o2 != r2) & (r2 != "<raw>")
                # date32 prints without time; normalize pandas midnight stamps
                if bad.any() and ftype == "date32[day]":
                    r3 = r.map(lambda x: "" if pd.isna(x) else (str(x.date()) if hasattr(x, "date") else "<raw>"))
                    bad = (o2 != r3) & (r3 != "<raw>")
                assert not bad.any(), (name, c)
            elif r.dtype == object or ftype == "string":
                o2, r2 = o.fillna("").astype(str), r.fillna("").astype(str)
                bad = (o2 != r2) & ~((o2 == "") & (r2.str.strip() == ""))
                assert not bad.any(), (name, c, o2[bad].head(2).tolist(), r2[bad].head(2).tolist())
            else:
                o2 = pd.to_numeric(o, errors="coerce").astype("float64").fillna(-9e99)
                r2 = pd.to_numeric(r, errors="coerce").astype("float64").fillna(-9e99)
                assert (o2.values == r2.values).all(), (name, c)
        checked += 1
    assert checked >= 80


def test_slice_matrix(tmp_path):
    """F5: full read == concat of (offset, limit) windows; prime row count."""
    n = 1009
    df = _mixed_frame(n=n, seed=5)
    p = str(tmp_path / "slice.dta")
    df.to_stata(p, convert_dates={"v_date": "td"}, version=118, write_index=False)
    full = parser.read_table(p)
    for window in (1, 97, 512, 100000):
        parts = []
        off = 0
        while off < n:
            parts.append(parser.read_table(p, offset=off, limit=window))
            off += window
        joined = pa.concat_tables(parts)
        assert joined.equals(full), f"window={window}"
    # beyond EOF -> empty, not error
    assert parser.read_table(p, offset=10 * n, limit=5).num_rows == 0
    # column subset == full read selected columns
    sub = parser.read_table(p, columns=["v_double", "v_str"])
    assert sub.equals(full.select(["v_double", "v_str"]))


def test_writer_roundtrip_all_types(tmp_path):
    rng = np.random.default_rng(3)
    n = 500
    t = pa.table(
        {
            "b": pa.array(rng.integers(-100, 100, n), type=pa.int8()),
            "big": pa.array(rng.integers(-(2**40), 2**40, n), type=pa.int64()),
            "f": pa.array(rng.normal(size=n).astype(np.float32)),
            "s": pa.array([f"w{i % 9}" if i % 7 else None for i in range(n)]),
            "longs": pa.array([("x" * 3000) if i % 100 == 0 else "short" for i in range(n)]),
            "dt": pa.array(rng.integers(-5000, 20000, n), type=pa.int32()).cast(pa.date32()),
            "ts": pa.array(rng.integers(-(10**12), 10**12, n), type=pa.int64()).cast(
                pa.timestamp("ms")
            ),
            "status": pa.array(rng.integers(1, 4, n), type=pa.int8()),
        }
    )
    p = str(tmp_path / "rt.dta")
    labels = {"status": {1: "A", 2: "B", 3: "C"}}
    writer.write_dta(t, p, value_labels=labels)
    rt = parser.read_table(p)
    assert rt.column("b").to_pylist() == t.column("b").to_pylist()
    assert rt.column("longs").to_pylist() == t.column("longs").to_pylist()
    assert rt.column("dt").to_pylist() == t.column("dt").to_pylist()
    assert rt.column("status").to_pylist() == [labels["status"][x] for x in t.column("status").to_pylist()]
    # independent reader agrees
    ref = pd.read_stata(p)
    assert len(ref) == n
    assert (ref["longs"] == pd.Series(t.column("longs").to_pylist())).all()


def test_datasource_spark(spark, tmp_path):
    df = _mixed_frame(n=3000)
    p = str(tmp_path / "sp.dta")
    df.to_stata(p, convert_dates={"v_date": "td"}, version=118, write_index=False)
    sdf = spark.read.format("readstat").load(p)
    assert sdf.count() == 3000
    assert dict(sdf.dtypes)["v_byte"] == "tinyint"
    # pruning + slicing options
    pr = (
        spark.read.format("readstat")
        .option("columns", "v_double,v_str")
        .option("offset", "10")
        .option("limit", "100")
        .load(p)
    )
    assert pr.columns == ["v_double", "v_str"]
    assert pr.count() == 100
    # multi-partition read returns every row exactly once
    mp = spark.read.format("readstat").option("partitions", "7").option("row_index", "true").load(p)
    idx = sorted(r["_row_idx"] for r in mp.select("_row_idx").collect())
    assert idx == list(range(3000))


def test_informative_null_modes(tmp_path):
    """All three reference InformativeNullMode outputs (src/lib.rs:62-355)
    over a file with tagged (.a/.z) and system missings."""
    import numpy as np

    from polars_readstat_rs_spark.formats.stata import parser as sp
    from polars_readstat_rs_spark.formats.stata.writer import (
        _TYPE_BYTE,
        _TYPE_DOUBLE,
        ColSpec,
        DtaStreamWriter,
    )

    path = str(tmp_path / "tagged.dta")
    rec = np.zeros(5, dtype=[("f0", "<i1"), ("f1", "<f8")])
    rec["f0"] = [1, 2, 3, 0x66, 0x65]  # values, .a, system
    bits = rec["f1"].view(np.uint64)
    rec["f1"][0] = 1.5
    bits[1] = 0x7FE0000000000000  # system
    bits[2] = 0x7FE0000000000001  # .a
    bits[3] = 0x7FE000000000001A  # .z
    rec["f1"][4] = 7.0
    w = DtaStreamWriter(
        path,
        [ColSpec("k", _TYPE_BYTE, 1, "%9.0g"), ColSpec("x", _TYPE_DOUBLE, 8, "%9.0g")],
        5,
    )
    w.begin()
    w.write_data(rec.tobytes())
    w.finish()

    sep = sp.read_table(path, opts=sp.ReadOptions(informative_nulls="separate"))
    assert sep.schema.names == ["k", "k__missing", "x", "x__missing"]
    assert sep.column("x").to_pylist() == [1.5, None, None, None, 7.0]
    assert sep.column("x__missing").to_pylist() == [None, None, ".a", ".z", None]
    assert sep.column("k__missing").to_pylist() == [None, None, None, ".a", None]

    st = sp.read_table(path, opts=sp.ReadOptions(informative_nulls="struct"))
    xs = st.column("x").to_pylist()
    assert xs[2] == {"x": None, "null_indicator": ".a"}
    assert xs[0] == {"x": 1.5, "null_indicator": None}

    mg = sp.read_table(path, opts=sp.ReadOptions(informative_nulls="merged"))
    assert mg.column("x").to_pylist() == ["1.5", None, ".a", ".z", "7"]
    assert mg.column("k").to_pylist() == ["1", "2", "3", ".a", None]

    # Selected-columns variant (reference InformativeNullColumns::Selected)
    only_x = sp.read_table(
        path,
        opts=sp.ReadOptions(informative_nulls="separate", informative_null_columns=["x"]),
    )
    assert only_x.schema.names == ["k", "x", "x__missing"]


def test_informative_nulls_pre_v113_floats():
    """Pre-v113 files: float/double tagged-missing bit patterns are
    version-independent (src/stata/value.rs:19-33 keeps missing_double
    for <113), so indicators must decode; int storage has no extended
    missings there and yields all-null indicators."""
    import numpy as np

    from polars_readstat_rs_spark.formats.stata import parser as sp

    meta = sp.StataMetadata(version=108, endian="<", nvar=2, nobs=3)
    meta.variables = [
        sp.Variable("i", "i16", 2),
        sp.Variable("x", "f64", 8),
    ]
    rec = np.zeros(3, dtype=[("f0", "<i2"), ("f1", "<f8")])
    rec["f0"] = [5, 0x7FFF, 9]
    bits = rec["f1"].view(np.uint64)
    rec["f1"][0] = 2.5
    bits[1] = 0x7FE0000000000001  # .a
    bits[2] = 0x7FE0000000000000  # system
    out = sp.record_decoder(meta, sp.ReadOptions(informative_nulls="separate"))(rec.tobytes(), 0)
    assert out.column("x__missing").to_pylist() == [None, ".a", None]
    assert out.column("x").to_pylist() == [2.5, None, None]
    assert out.column("i__missing").to_pylist() == [None, None, None]  # no tags pre-113
    assert out.column("i").to_pylist() == [5, None, 9]


def test_dta_declared_string_widths(spark, tmp_path):
    """option('string_widths') pre-declares string byte widths so every
    executor section is already in the global layout — commit()'s fast
    path byte-copies sections instead of re-striding. Values and widths
    must match the undeclared write exactly."""
    from pyspark.sql import functions as F

    df = spark.range(0, 3000, 1, 5).select(
        F.col("id").cast("int").alias("k"),
        F.concat(F.lit("n_"), (F.col("id") % 50).cast("string")).alias("s"),
    )
    p = str(tmp_path / "d.dta")
    (
        df.write.format("readstat")
        .mode("overwrite")
        .option("string_widths", '{"s": 8}')
        .save(p)
    )
    back = spark.read.format("readstat").load(p)
    assert sorted(df.collect()) == sorted(back.collect())
    # declared width drives the layout even when all values are narrower
    import pandas as pd

    ref = pd.read_stata(p)
    assert len(ref) == 3000

    from polars_readstat_rs_spark.formats.stata.writer import encode_section
    import pyarrow as pa
    import pytest as _pytest

    batch = pa.record_batch({"s": pa.array(["abcdef"])})
    with _pytest.raises(ValueError, match="exceeds the declared"):
        encode_section(batch, declared={"s": 4})
    _, _, meta = encode_section(batch, declared={"s": 10})
    assert meta["cols"][0]["width"] == 10


def test_write_dta_v117_pandas_crossread(tmp_path):
    """dta_version=117: pre-Stata-14 layout (33-byte names, u32 N,
    49-byte formats), cross-validated by pandas and our own reader;
    strL columns are rejected with a clear error."""
    import datetime

    import pandas as pd
    import pyarrow as pa

    from polars_readstat_rs_spark.formats.stata import writer as W

    t = pa.table(
        {
            "k": pa.array(range(50), type=pa.int32()),
            "name": pa.array([f"row{i}" for i in range(50)]),
            "v": pa.array([i * 0.5 for i in range(50)], type=pa.float64()),
            "d": pa.array(
                [datetime.date(2020, 1, 1 + i % 28) for i in range(50)], type=pa.date32()
            ),
        }
    )
    p = str(tmp_path / "v117.dta")
    W.write_dta(t, p, version=117, variable_labels={"v": "value col"})
    m = parser.read_metadata(p)
    assert m.version == 117
    v = next(x for x in m.variables if x.name == "v")
    assert v.var_label == "value col"
    out = parser.read_table(p)
    assert out.column("name").to_pylist()[:3] == ["row0", "row1", "row2"]
    assert out.column("d").to_pylist()[0] == datetime.date(2020, 1, 1)
    ref = pd.read_stata(p, convert_categoricals=False)
    assert len(ref) == 50 and abs(ref["v"].sum() - sum(i * 0.5 for i in range(50))) < 1e-9
    with pytest.raises(ValueError, match="strL"):
        W.write_dta(pa.table({"s": pa.array(["x" * 3000])}), p, version=117)


def test_write_dta_v119_pandas_crossread(tmp_path):
    """dta_version=119 (Stata 15/16 >32k-variable layout: u32 K, u32
    sortlist entries, 24+40-bit strL refs): single-shot write with a
    strL column, cross-validated by pandas AND our own reader."""
    import pandas as pd
    import pyarrow as pa

    from polars_readstat_rs_spark.formats.stata import writer as W

    long = ["x" * (2500 + i) for i in range(30)]
    t = pa.table(
        {
            "k": pa.array(range(30), type=pa.int32()),
            "blob": pa.array(long),
            "v": pa.array([i * 0.25 for i in range(30)], type=pa.float64()),
        }
    )
    p = str(tmp_path / "v119.dta")
    W.write_dta(t, p, version=119)
    m = parser.read_metadata(p)
    assert m.version == 119
    out = parser.read_table(p)
    assert out.column("blob").to_pylist() == long
    ref = pd.read_stata(p, convert_categoricals=False)
    assert list(ref["blob"]) == long
    assert abs(ref["v"].sum() - sum(i * 0.25 for i in range(30))) < 1e-12

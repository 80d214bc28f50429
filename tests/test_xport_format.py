"""SAS Transport (XPORT v5) format layer — beyond-reference surface.

Validation strategy mirrors the other formats: exact roundtrips through
our own writer/reader, pandas.read_sas(format="xport") as the
independent second implementation, hypothesis for encoder edge cases,
and byte-level checks of the IBM-360 float conversion.
"""

from __future__ import annotations

import math
import struct

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from polars_readstat_rs_spark.formats.sas import xport as X


def test_ibm_float_known_bytes():
    """Spec examples: IBM 0x41 10.. = 1.0, 0xC1 20.. = -2.0, and the
    missing sentinels '.'/.A/.Z/._ decode to null with the right tag."""
    rows = np.frombuffer(
        b"\x41\x10\x00\x00\x00\x00\x00\x00"
        b"\xc1\x20\x00\x00\x00\x00\x00\x00"
        b"\x2e\x00\x00\x00\x00\x00\x00\x00"
        b"\x41\x00\x00\x00\x00\x00\x00\x00"
        b"\x5a\x00\x00\x00\x00\x00\x00\x00"
        b"\x5f\x00\x00\x00\x00\x00\x00\x00"
        b"\x00\x00\x00\x00\x00\x00\x00\x00",
        dtype=np.uint8,
    ).reshape(7, 8)
    vals, null, tags = X._ibm_to_ieee(rows, 8)
    assert vals[0] == 1.0 and vals[1] == -2.0
    assert list(null) == [False, False, True, True, True, True, False]
    assert [chr(t) if t else "" for t in tags] == ["", "", "", "A", "Z", "_", ""]
    assert vals[6] == 0.0  # true zero is all-zero bytes


def test_ibm_float_roundtrip_exact_bitwise():
    rng = np.random.default_rng(3)
    vals = np.concatenate(
        [
            rng.normal(size=500) * 10.0 ** rng.integers(-30, 30, 500),
            np.array([0.0, 1.0, -1.0, 2.0**52, -(2.0**52), 1e-70, 1e70, math.pi]),
        ]
    )
    null = np.zeros(len(vals), dtype=bool)
    back, nullmask, _ = X._ibm_to_ieee(X._ieee_to_ibm(vals, null), 8)
    assert not nullmask.any()
    assert np.array_equal(back, vals)  # bitwise-exact both directions


@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    doubles=st.lists(
        st.one_of(
            st.none(),
            st.floats(min_value=-1e70, max_value=1e70, allow_nan=False).filter(
                lambda x: x == 0 or abs(x) >= 1e-70  # IBM min ~5.4e-79
            ),
        ),
        min_size=0,
        max_size=30,
    ),
    texts=st.lists(
        st.one_of(st.none(), st.text(alphabet=st.characters(min_codepoint=33, max_codepoint=126), max_size=25)),
        min_size=0,
        max_size=30,
    ),
)
def test_xpt_roundtrip_property(doubles, texts, tmp_path_factory):
    n = min(len(doubles), len(texts))
    t = pa.table(
        {
            "d": pa.array(doubles[:n], type=pa.float64()),
            "s": pa.array(texts[:n], type=pa.string()),
        }
    )
    p = str(tmp_path_factory.mktemp("xpt") / "x.xpt")
    X.write_xpt(t, p)
    rt = X.read_table(p)
    assert rt.num_rows == n
    got_d = rt.column("D").to_pylist()
    for g, w in zip(got_d, doubles[:n]):
        if w is None:
            assert g is None
        else:
            assert g == w  # IBM conversion is exact in range
    got_s = rt.column("S").to_pylist()
    for g, w in zip(got_s, texts[:n]):
        assert g == (w or None)  # empty string -> null (missing_string_as_null)


def test_xpt_pandas_cross_validation(tmp_path):
    """pandas.io.sas is an independent XPORT implementation: values,
    row counts and names must agree. (Fixture avoids pandas' two known
    quirks: its blank-word tail heuristic and its zero decode.)"""
    rng = np.random.default_rng(11)
    n = 500
    t = pa.table(
        {
            "V": pa.array(rng.normal(size=n) * 1000),
            "K": pa.array(np.arange(1, n + 1, dtype="float64")),  # pandas mis-decodes spec zeros
            "NAME": pa.array([f"row-{i:04d}" for i in range(n)]),  # no trailing blanks
        }
    )
    p = str(tmp_path / "cross.xpt")
    X.write_xpt(t, p, dsname="CROSS")
    pdf = pd.read_sas(p, format="xport")
    assert len(pdf) == n
    assert list(pdf.columns) == ["V", "K", "NAME"]
    assert np.array_equal(pdf["V"].to_numpy(), t.column("V").to_numpy())
    assert np.array_equal(pdf["K"].to_numpy(), t.column("K").to_numpy())
    assert [b.decode() for b in pdf["NAME"]] == t.column("NAME").to_pylist()


def test_xpt_name_truncation_and_labels(tmp_path):
    t = pa.table({"a_very_long_column_name": pa.array([1.0]), "a_very_long_column_nam2": pa.array([2.0])})
    p = str(tmp_path / "names.xpt")
    X.write_xpt(t, p, dslabel="my label")
    meta = X.read_metadata(p)
    names = [v.name for v in meta.variables]
    assert len(set(names)) == 2 and all(len(n) <= 8 for n in names)
    # original name preserved in the 40-char label field
    assert meta.variables[0].label == "a_very_long_column_name"
    assert meta.dataset_label == "my label"


def test_xpt_truncated_numeric_lengths(tmp_path):
    """Reader handles 2-7 byte numerics (right-zero-padded IBM): write
    an 8-byte file, then shrink a column to 4 bytes by hand."""
    t = pa.table({"x": pa.array([1.0, -2.0, 0.5, 6.25])})
    p = str(tmp_path / "trunc.xpt")
    X.write_xpt(t, p)
    meta = X.read_metadata(p)
    raw = open(p, "rb").read()
    data = bytearray(raw[: meta.data_offset])
    body = raw[meta.data_offset :]
    # keep only the 4 leading bytes of each 8-byte value
    rows = [body[i * 8 : i * 8 + 4] for i in range(4)]
    # patch NAMESTR nlng 8 -> 4
    ns = raw.find(b"HEADER RECORD*******NAMESTR") + 80
    data[ns + 4 : ns + 6] = struct.pack(">h", 4)
    newbody = b"".join(rows)
    data += newbody + b" " * (-len(newbody) % 80)
    open(p, "wb").write(bytes(data))
    rt = X.read_table(p)
    assert rt.column("X").to_pylist() == [1.0, -2.0, 0.5, 6.25]


def test_xpt_trailing_blank_heuristic(tmp_path):
    """Rows whose bytes are genuinely all blank survive when they sit
    before the final 80-byte window; only tail padding is dropped."""
    t = pa.table({"s": pa.array(["a"] * 7 + [None, None, "z"])})  # 1-byte rows
    p = str(tmp_path / "blanks.xpt")
    X.write_xpt(t, p)
    rt = X.read_table(p)
    # rows 8/9 are blank but followed by data; all 10 survive
    assert rt.num_rows == 10
    assert rt.column("S").to_pylist() == ["a"] * 7 + [None, None, "z"]


def test_xpt_informative_nulls_separate(tmp_path):
    """Tagged missing (.A-.Z / ._) surfaces as a companion string col."""
    t = pa.table({"x": pa.array([1.0, None, 3.0])})
    p = str(tmp_path / "tags.xpt")
    X.write_xpt(t, p)
    # hand-patch row 1's missing '.' to '.B' (0x42)
    meta = X.read_metadata(p)
    raw = bytearray(open(p, "rb").read())
    raw[meta.data_offset + 8] = 0x42
    open(p, "wb").write(bytes(raw))
    rt = X.read_table(p, opts=X.ReadOptions(informative_nulls="separate"))
    assert rt.column_names == ["X", "X__missing"]
    assert rt.column("X").to_pylist() == [1.0, None, 3.0]
    assert rt.column("X__missing").to_pylist() == [None, ".B", None]


def test_xpt_rejects_non_xport(tmp_path):
    p = str(tmp_path / "bad.xpt")
    open(p, "wb").write(b"not a transport file" * 10)
    with pytest.raises(ValueError, match="library header"):
        X.read_metadata(p)


def test_xpt_datasource_partitioned_e2e(spark, tmp_path):
    """Distributed write -> partitioned scan -> values survive; slicing
    and projection options behave like the other fixed-width formats."""
    from pyspark.sql import functions as F

    from polars_readstat_rs_spark import api

    api._ensure_registered(spark)
    n = 5000
    df = spark.range(n).select(
        F.col("id").cast("double").alias("K"),
        (F.col("id") * 1.5 - 7).cast("double").alias("V"),
        F.concat(F.lit("name_"), F.col("id")).alias("NM"),
    )
    p = str(tmp_path / "big.xpt")
    df.repartition(8).write.format("readstat").mode("overwrite").save(p)
    back = spark.read.format("readstat").option("partitions", "6").load(p)
    assert back.rdd.getNumPartitions() == 6
    agg = back.agg(
        F.count("*").alias("n"),
        F.sum("K").alias("sk"),
        F.sum("V").alias("sv"),
        F.countDistinct("NM").alias("d"),
    ).collect()[0]
    assert (agg.n, agg.d) == (n, n)
    assert agg.sk == float(n * (n - 1) / 2)
    assert agg.sv == pytest.approx(1.5 * n * (n - 1) / 2 - 7 * n, abs=1e-6)
    sl = (
        spark.read.format("readstat")
        .option("columns", "K")
        .option("offset", "100")
        .option("limit", "10")
        .option("row_index", "true")
        .load(p)
    )
    rows = sl.collect()
    assert len(rows) == 10 and rows[0].asDict()["_row_idx"] == 100
    # rows are written partition-order; K at _row_idx i is whatever that
    # file row holds — just check the projection pruned to 2 cols
    assert sl.columns == ["K", "_row_idx"]


def test_xpt_empty_write(spark, tmp_path):
    from pyspark.sql import functions as F

    from polars_readstat_rs_spark import api

    api._ensure_registered(spark)
    df = spark.range(5).select(
        F.col("id").cast("double").alias("A"), F.lit("x").alias("S")
    ).filter("A < 0")
    p = str(tmp_path / "empty.xpt")
    df.write.format("readstat").mode("overwrite").save(p)
    back = spark.read.format("readstat").load(p)
    assert back.count() == 0
    assert back.columns == ["A", "S"]


def test_xpt_multifile_directory_scan(spark, tmp_path):
    """A directory of .xpt files reads as ONE DataFrame via the generic
    multi-file machinery (per-file partitions, schema agreement)."""
    from pyspark.sql import functions as F

    from polars_readstat_rs_spark import api

    api._ensure_registered(spark)
    d = tmp_path / "drop"
    d.mkdir()
    for i in range(3):
        df = spark.range(i * 10, (i + 1) * 10).select(
            F.col("id").cast("double").alias("K"), F.lit(f"f{i}").alias("SRC")
        )
        df.coalesce(1).write.format("readstat").mode("overwrite").save(str(d / f"part{i}.xpt"))
    allf = spark.read.format("readstat").load(str(d))
    assert allf.count() == 30
    assert allf.agg(F.countDistinct("SRC")).collect()[0][0] == 3
    assert allf.agg(F.sum("K")).collect()[0][0] == sum(range(30))


def test_xpt_npos_at_spec_offset_84(tmp_path):
    """TS-140 places npos at NAMESTR byte 84 (nifl@80, nifd@82, npos l@84
    — pandas unpacks '>hhhh8s40s8shhh2s8shhl52s'). The writer must fill
    it there (npos-honoring readers saw zeros when we packed it at 88),
    and the reader must decode from there."""
    t = pa.table({"a": [1.0, 2.0], "txt": ["ab", "cd"], "b": [3.0, 4.0]})
    p = str(tmp_path / "npos.xpt")
    X.write_xpt(t, p)
    raw = open(p, "rb").read()
    nam = raw.index(b"HEADER RECORD*******NAMESTR")
    ns0 = nam + 80
    positions, positions88 = [], []
    for i in range(3):
        b = raw[ns0 + i * 140 : ns0 + (i + 1) * 140]
        positions.append(struct.unpack_from(">i", b, 84)[0])
        positions88.append(struct.unpack_from(">i", b, 88)[0])
    assert positions == [0, 8, 10]  # 8-byte num, 2-char str, 8-byte num
    assert positions88 == [0, 0, 0]  # spec filler stays zero
    rt = X.read_table(p)
    assert rt.column("A").to_pylist() == [1.0, 2.0]
    assert rt.column("TXT").to_pylist() == ["ab", "cd"]
    assert rt.column("B").to_pylist() == [3.0, 4.0]


def test_xpt_zero_npos_fallback(tmp_path):
    """Files with zero-filled npos fields (real SAS zero-fills unused
    spec bytes; our pre-fix writer put npos at 88 leaving 84 zero) must
    fall back to cumulative positions derived from lengths."""
    t = pa.table({"x": [1.5, -2.5], "s": ["hi", "yo"]})
    p = str(tmp_path / "legacy.xpt")
    X.write_xpt(t, p)
    raw = bytearray(open(p, "rb").read())
    nam = raw.index(b"HEADER RECORD*******NAMESTR")
    ns0 = nam + 80
    for i in range(2):
        struct.pack_into(">i", raw, ns0 + i * 140 + 84, 0)  # zero npos
    p2 = str(tmp_path / "legacy0.xpt")
    open(p2, "wb").write(bytes(raw))
    rt = X.read_table(p2)
    assert rt.column("X").to_pylist() == [1.5, -2.5]
    assert rt.column("S").to_pylist() == ["hi", "yo"]


def test_xpt_assemble_colliding_declared_widths(tmp_path):
    """Two long names truncating to the same 8-char base must map their
    declared string_widths to the RIGHT short (suffixed) columns —
    isolated per-name sanitization lost the uniquifying suffix."""
    t = pa.table(
        {"verylongname_one": ["a"], "verylongname_two": ["bb"], "n": [1.0]}
    )
    blob = str(tmp_path / "part0.bin")
    secs = X.spill_partition(t.to_batches(), blob)
    out = str(tmp_path / "collide.xpt")
    X.assemble_xpt(
        out,
        [(blob, secs)],
        column_order=[("verylongname_one", True), ("verylongname_two", True), ("n", False)],
        string_widths={"verylongname_two": 5},
    )
    meta = X.read_metadata(out)
    widths = {v.name: v.length for v in meta.variables}
    # encode_sections order: verylong -> verylon1 (uniquified second)
    assert widths["VERYLONG"] == 1          # _one keeps its natural width
    assert widths["VERYLON1"] == 5          # _two got the declared width
    rt = X.read_table(out)
    assert rt.column("VERYLON1").to_pylist() == ["bb"]


# ------------------------------------------------------------- v8 (TS140-2)


def test_xpt_v8_roundtrip_long_names(tmp_path):
    """v8 long names (>8 chars, LABELV8 section) round-trip through our
    writer/reader; the same data written v5 decodes to identical values
    under the truncated names (v5 is the pandas-cross-validated path,
    so value equivalence transfers the validation to v8)."""
    t = pa.table(
        {
            "a_very_long_variable_name_x": pa.array([1.0, 2.5, None, -3.25]),
            "a_very_long_variable_name_y": pa.array(["ab", None, "xyz", ""]),
            "SHORT": pa.array([10.0, 20.0, 30.0, 40.0]),
        }
    )
    p8, p5 = str(tmp_path / "t8.xpt"), str(tmp_path / "t5.xpt")
    X.write_xpt(t, p8, dsname="LONG_DATASET_NAME_32CHARS", version=8)
    X.write_xpt(t, p5, version=5)
    m8 = X.read_metadata(p8)
    assert m8.version == 8
    assert m8.dataset_name == "LONG_DATASET_NAME_32CHARS"
    o8, o5 = X.read_table(p8), X.read_table(p5)
    assert o8.column_names == [
        "a_very_long_variable_name_x",
        "a_very_long_variable_name_y",
        "SHORT",
    ]
    for i in range(3):
        assert o8.column(i).to_pylist() == o5.column(i).to_pylist()
    # v5 file is pandas-readable; v8 values already proven equal to v5's
    ref = pd.read_sas(p5, format="xport")
    assert list(ref["SHORT"]) == [10.0, 20.0, 30.0, 40.0]


def test_xpt_v8_colliding_long_names(tmp_path):
    """Names identical in the first 8 chars stay distinct in v8 (the
    whole point of LABELV8); their NAMESTR shorts carry the v5
    uniquifying suffixes."""
    t = pa.table(
        {
            "measurement_alpha": pa.array([1.0]),
            "measurement_beta": pa.array([2.0]),
        }
    )
    p = str(tmp_path / "coll.xpt")
    X.write_xpt(t, p, version=8)
    out = X.read_table(p)
    assert out.column_names == ["measurement_alpha", "measurement_beta"]
    assert out.column(0).to_pylist() == [1.0]
    assert out.column(1).to_pylist() == [2.0]


def test_xpt_v8_datasource_distributed(spark, tmp_path):
    """Distributed v8 write via option("xport_version", "8") -> read
    back by the auto-detecting reader with long names intact."""
    from pyspark.sql import functions as F

    from polars_readstat_rs_spark import api

    api._ensure_registered(spark)
    n = 1000
    df = spark.range(n).select(
        F.col("id").cast("double").alias("the_primary_key_column"),
        (F.col("id") * 2.0).cast("double").alias("the_doubled_value_column"),
        F.concat(F.lit("nm_"), F.col("id")).alias("the_string_name_column"),
    )
    p = str(tmp_path / "dist8.xpt")
    df.repartition(4).write.format("readstat").mode("overwrite").option(
        "xport_version", "8"
    ).save(p)
    assert X.read_metadata(p).version == 8
    back = spark.read.format("readstat").load(p)
    assert back.columns == [
        "the_primary_key_column",
        "the_doubled_value_column",
        "the_string_name_column",
    ]
    agg = back.agg(
        F.count("*").alias("n"),
        F.sum("the_primary_key_column").alias("sk"),
        F.countDistinct("the_string_name_column").alias("d"),
    ).collect()[0]
    assert (agg.n, agg.d) == (n, n)
    assert agg.sk == float(n * (n - 1) / 2)


def test_xpt_v8_empty_write(spark, tmp_path):
    from pyspark.sql import functions as F

    from polars_readstat_rs_spark import api

    api._ensure_registered(spark)
    df = (
        spark.range(5)
        .select(F.col("id").cast("double").alias("a_long_numeric_name"), F.lit("x").alias("S"))
        .filter("a_long_numeric_name < 0")
    )
    p = str(tmp_path / "empty8.xpt")
    df.write.format("readstat").mode("overwrite").option("xport_version", "8").save(p)
    back = spark.read.format("readstat").load(p)
    assert back.count() == 0
    assert back.columns == ["a_long_numeric_name", "S"]

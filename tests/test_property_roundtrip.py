"""Property-based writer/reader roundtrips (hypothesis).

The format encoders/decoders are driven directly (no Spark session —
fast enough for dozens of generated examples): arbitrary tables of
doubles / int32s / strings / dates with nulls must survive
write_dta -> read_table and write_sav -> read_table value-for-value.
This is the fuzzing layer on top of the corpus sweeps: the corpus pins
real-world files, hypothesis hunts the encoder edge cases (empty
strings, extreme doubles, null-only columns, width-1 tables).
"""

from __future__ import annotations

import datetime
import math

import pyarrow as pa
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from polars_readstat_rs_spark.formats.spss import parser as spss_parser
from polars_readstat_rs_spark.formats.spss import writer as spss_writer
from polars_readstat_rs_spark.formats.stata import parser as stata_parser
from polars_readstat_rs_spark.formats.stata import writer as stata_writer

# Stata doubles reserve the top of the exponent range for missing
# sentinels; stay below that (the writer maps those inputs to missing
# by design, documented). Text: printable unicode without NULs.
_doubles = st.one_of(
    st.none(),
    st.floats(
        min_value=-8.98e307, max_value=8.98e307, allow_nan=False, allow_infinity=False
    ),
)
_ints = st.one_of(st.none(), st.integers(min_value=-2147483620, max_value=2147483620))
_texts = st.one_of(
    st.none(),
    st.text(
        alphabet=st.characters(codec="utf-8", exclude_characters="\x00"),
        min_size=0,
        max_size=40,
    ),
)
_dates = st.one_of(
    st.none(),
    st.dates(min_value=datetime.date(1800, 1, 1), max_value=datetime.date(2500, 1, 1)),
)


@st.composite
def _tables(draw):
    n = draw(st.integers(min_value=0, max_value=25))
    cols = {}
    for name, strat, typ in (
        ("d", _doubles, pa.float64()),
        ("i", _ints, pa.int32()),
        ("s", _texts, pa.string()),
        ("dt", _dates, pa.date32()),
    ):
        if draw(st.booleans()) or not cols:
            cols[name] = pa.array([draw(strat) for _ in range(n)], type=typ)
    return pa.table(cols)


def _norm_str(x: str | None) -> str | None:
    """Writers store fixed-width space-padded bytes: trailing spaces are
    not representable, and empty strings read back as null (the
    missing_string_as_null default, reference P8)."""
    if x is None:
        return None
    x = x.rstrip(" ")
    return x or None


def _dta_string_want(vals: list) -> list:
    """Expected read-back of a .dta string COLUMN: any trailing-space or
    >2045-byte value routes the whole column to strL (writer routing in
    formats/stata/writer.py — GSO payloads are length-prefixed, never
    trimmed), so every value round-trips exactly except empty strings,
    which read back as null (missing_string_as_null). A pure fixed-width
    str# column trims trailing spaces and nulls empties (_norm_str)."""
    strl = any(
        v is not None and (v.endswith(" ") or len(v.encode("utf-8")) > 2045)
        for v in vals
    )
    if strl:
        return [v if v else None for v in vals]
    return [_norm_str(v) for v in vals]


def _check_col(got: list, want: list, kind: str) -> None:
    assert len(got) == len(want)
    if kind == "s_dta":  # caller pre-applied _dta_string_want
        assert got == want, (got, want)
        return
    for g, w in zip(got, want):
        if kind == "s":
            w = _norm_str(w)
            assert g == w, (g, w)
        elif w is None:
            assert g is None, g
        elif kind == "d":
            assert g is not None and (math.isclose(g, w, rel_tol=0, abs_tol=0) or g == w)
        else:  # i / dt: exact
            assert g == w, (g, w)


@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(t=_tables())
def test_dta_roundtrip_property(t, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("prop") / "x.dta")
    stata_writer.write_dta(t, p)
    rt = stata_parser.read_table(p)
    assert rt.num_rows == t.num_rows
    assert rt.column_names == t.column_names
    for name in t.column_names:
        want = t.column(name).to_pylist()
        if name == "s":
            _check_col(rt.column(name).to_pylist(), _dta_string_want(want), "s_dta")
        else:
            _check_col(rt.column(name).to_pylist(), want, name)


@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(t=_tables())
def test_sav_roundtrip_property(t, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("prop") / "x.sav")
    spss_writer.write_sav(t, p)
    rt = spss_parser.read_table(p)
    assert rt.num_rows == t.num_rows
    assert rt.column_names == t.column_names
    for name in t.column_names:
        got = rt.column(name).to_pylist()
        want = t.column(name).to_pylist()
        if name == "i":  # sav stores numerics as doubles
            got = [None if g is None else int(g) for g in got]
        _check_col(got, want, name)


def test_dta_trailing_space_strl_exact_roundtrip(tmp_path_factory):
    """Deterministic pin of the trailing-space routing (not left to the
    hypothesis seed): a column containing any trailing-space value is
    written as strL and every value round-trips EXACTLY (spaces kept),
    with empty strings reading back as null — verified through our
    parser AND pandas."""
    import math

    import pandas as pd

    texts = [" ", "a ", "", None, "b", "  c  "]
    t = pa.table({"s": pa.array(texts, type=pa.string())})
    p = str(tmp_path_factory.mktemp("prop") / "trail.dta")
    stata_writer.write_dta(t, p)
    got = stata_parser.read_table(p).column("s").to_pylist()
    assert got == [" ", "a ", None, None, "b", "  c  "]
    pdf = pd.read_stata(p, convert_categoricals=False)
    pgot = [None if (isinstance(v, float) and math.isnan(v)) else v for v in pdf["s"]]
    pgot = [g if g != "" else None for g in pgot]
    assert pgot == [" ", "a ", None, None, "b", "  c  "]


# ------------------------------------------- writer option/width fuzzing

_long_texts = st.one_of(
    st.none(),
    st.text(
        alphabet=st.characters(codec="utf-8", exclude_characters="\x00"),
        min_size=0,
        max_size=2600,  # crosses the 2045-byte str#->strL boundary (dta)
    ),                  # and the 255-byte very-long-string segments (sav)
)


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    texts=st.lists(_long_texts, min_size=1, max_size=8),
    use_labels=st.booleans(),
)
def test_dta_wide_string_and_labels_property(texts, use_labels, tmp_path_factory):
    """Random widths across the str#/strL boundary + value labels must
    survive write_dta -> read_table AND pandas.read_stata (independent
    oracle), mirroring the reference's writer-roundtrip suites
    (tests/stata/stata_writer_roundtrip.rs)."""
    import pandas as pd

    n = len(texts)
    t = pa.table(
        {
            "s": pa.array(texts, type=pa.string()),
            "k": pa.array(list(range(n)), type=pa.int32()),
        }
    )
    labels = {"k": {i: f"label {i}" for i in range(min(n, 3))}} if use_labels else None
    p = str(tmp_path_factory.mktemp("prop") / "wide.dta")
    stata_writer.write_dta(t, p, value_labels=labels)
    # raw values (labels decoded separately below via the metadata probe)
    rt = stata_parser.read_table(
        p, opts=stata_parser.ReadOptions(value_labels_as_strings=False)
    )
    _check_col(rt.column("s").to_pylist(), _dta_string_want(texts), "s_dta")
    assert rt.column("k").to_pylist() == list(range(n))
    # independent reader: pandas (strL + labels supported in v118)
    pdf = pd.read_stata(p, convert_categoricals=False)
    got = [None if (isinstance(v, float) and math.isnan(v)) else v for v in pdf["s"]]
    got = [g if g != "" else None for g in got]
    want = _dta_string_want(texts)
    # pandas reads fixed-width str# as str, strL as str — compare direct
    assert got == want, (got, want)
    if use_labels:
        from polars_readstat_rs_spark import api

        meta = api.readstat_metadata_json(p)
        assert "label 0" in str(meta)


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    t=_tables(),
    compress=st.sampled_from([False, "bytecode", "zsav"]),
    endian=st.sampled_from(["<", ">"]),
    miss=st.booleans(),
)
def test_sav_options_matrix_property(t, compress, endian, miss, tmp_path_factory):
    """write_sav's full option surface (compress x endian x user-missing)
    under random tables: every supported combination must roundtrip
    value-for-value through the sav parser, with user-missing sentinels
    nulled on read. (compress + big-endian is rejected by design — the
    writer documents bytecode RLE as LE-only.)"""
    from hypothesis import assume

    assume(not (compress and endian == ">"))
    p = str(tmp_path_factory.mktemp("prop") / "m.sav")
    user_missing = {"d": [-999.0]} if (miss and "d" in t.column_names) else None
    spss_writer.write_sav(t, p, compress=compress, endian=endian, user_missing=user_missing)
    rt = spss_parser.read_table(p)
    assert rt.num_rows == t.num_rows
    assert rt.column_names == t.column_names
    for name in t.column_names:
        got = rt.column(name).to_pylist()
        want = t.column(name).to_pylist()
        if name == "i":
            got = [None if g is None else int(g) for g in got]
        if name == "d" and user_missing:
            want = [None if w == -999.0 else w for w in want]
        _check_col(got, want, name)


# ---------------------------------------------------------------- codecs

@settings(max_examples=40, deadline=None)
@given(
    data=st.data(),
    bits=st.sampled_from([8, 16]),
    rate=st.sampled_from([8000, 16000, 44100]),
    channels=st.integers(1, 4),
)
def test_wav_codec_property(data, bits, rate, channels):
    """encode_wav -> decode_wav roundtrips arbitrary PCM exactly,
    including odd-length 8-bit payloads (word-aligned chunk padding)."""
    import numpy as np

    from polars_readstat_rs_spark.operators import multimodal

    n = data.draw(st.integers(0, 300)) * channels
    if bits == 8:
        samples = np.array(
            data.draw(st.lists(st.integers(0, 255), min_size=n, max_size=n)),
            dtype=np.uint8,
        )
    else:
        samples = np.array(
            data.draw(st.lists(st.integers(-32768, 32767), min_size=n, max_size=n)),
            dtype=np.int16,
        )
    payload = multimodal.encode_wav(samples, rate, channels)
    d = multimodal.decode_real(payload)
    assert (d["sample_rate"], d["channels"], d["bits"]) == (rate, channels, bits)
    assert np.array_equal(d["samples"], samples.astype(np.int64))


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(1, 17),
    h=st.integers(1, 9),
    seed=st.integers(0, 2**31 - 1),
    ch=st.sampled_from([3, 4]),
    filt=st.one_of(st.none(), st.integers(0, 4)),
)
def test_png_codec_property(w, h, seed, ch, filt):
    """encode_png -> decode_png roundtrips any geometry, channel count
    (RGB/RGBA) and per-row filter choice exactly (filt=None cycles all
    five filter types across rows)."""
    import numpy as np

    from polars_readstat_rs_spark.operators import multimodal

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, (h, w, ch), dtype=np.uint8)
    d = multimodal.decode_real(multimodal.encode_png(px, filters=filt))
    assert (d["kind"], d["width"], d["height"], d["channels"]) == ("png", w, h, ch)
    assert np.array_equal(d["pixels"], px)


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(1, 17),
    h=st.integers(1, 9),
    seed=st.integers(0, 2**31 - 1),
    frames=st.integers(1, 4),
)
def test_bmp_stream_codec_property(w, h, seed, frames):
    """encode_bmp stream -> decode_bmp_stream roundtrips any geometry
    (every stride-padding case) and frame count exactly."""
    import numpy as np

    from polars_readstat_rs_spark.operators import multimodal

    rng = np.random.default_rng(seed)
    imgs = [rng.integers(0, 256, (h, w, 3), dtype=np.uint8) for _ in range(frames)]
    out = multimodal.decode_bmp_stream(b"".join(multimodal.encode_bmp(i) for i in imgs))
    assert len(out) == frames
    for got, want in zip(out, imgs):
        assert (got["width"], got["height"]) == (w, h)
        assert np.array_equal(got["pixels"], want)


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(t=_tables(), version=st.sampled_from([117, 118, 119]))
def test_dta_roundtrip_property_all_versions(t, version, tmp_path_factory):
    """The version knob must not change values: v117 (no strL), v118
    (16+48 strL refs) and v119 (u32 K / u32 sortlist / 24+40 strL refs)
    all roundtrip the same random tables bit-for-bit through our
    reader."""
    if version == 117:
        # documented v117 contract (write_dta docstring): the pre-UTF-8
        # format decodes text as cp1252, so only ASCII-safe content
        # roundtrips byte-identically
        from hypothesis import assume

        assume(
            all(
                x is None or x.isascii()
                for name in t.column_names
                if name == "s"
                for x in t.column(name).to_pylist()
            )
        )
    if version == 117 and "s" in t.column_names:
        # v117 has no strL, so trailing-space values (strL-routed by the
        # writer) raise by documented contract — out of roundtrip scope
        from hypothesis import assume

        assume(
            not any(
                x is not None and x.endswith(" ")
                for x in t.column("s").to_pylist()
            )
        )
    p = str(tmp_path_factory.mktemp("prop") / f"x{version}.dta")
    stata_writer.write_dta(t, p, version=version)
    m = stata_parser.read_metadata(p)
    assert m.version == version
    rt = stata_parser.read_table(p)
    assert rt.num_rows == t.num_rows and rt.column_names == t.column_names
    for name in t.column_names:
        want = t.column(name).to_pylist()
        if name == "s":
            _check_col(rt.column(name).to_pylist(), _dta_string_want(want), "s_dta")
        else:
            _check_col(rt.column(name).to_pylist(), want, name)


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    texts=st.lists(_long_texts, min_size=1, max_size=8),
    version=st.sampled_from([118, 119]),
)
def test_dta_strl_sections_property_v118_v119(texts, version, tmp_path_factory):
    """Distributed multi-section writes with random widths across the
    str#/strL boundary must re-base strL observation refs correctly
    under BOTH ref splits (16+48 and 24+40) — pandas cross-reads the
    assembled file."""
    import pandas as pd
    import pyarrow as pa

    t = pa.table({"s": pa.array(texts, type=pa.string())})
    base = tmp_path_factory.mktemp("prop")
    blob = str(base / "blob")
    secs = stata_writer.spill_partition(t.to_batches(max_chunksize=3), blob)
    out = str(base / f"x{version}.dta")
    stata_writer.assemble_dta(out, t.schema, [(blob, secs)], version=version)
    rt = stata_parser.read_table(out)
    want = ["" if x is None else x for x in texts]
    got = ["" if x is None else x for x in rt.column("s").to_pylist()]
    assert got == want
    ref = pd.read_stata(out, convert_categoricals=False)
    assert ["" if pd.isna(x) else x for x in ref["s"]] == want


# ------------------------------------- the shared fixed-width string codec
#
# The per-value loops the formats used before they shared one codec are
# the oracles here: pad each value's bytes; cut at the first NUL then
# trim trailing spaces (Stata, SAS, XPORT) or trim only the trailing
# run of spaces and NULs (SPSS); decode, else latin-1.

_cells = st.one_of(
    st.none(),
    st.text(alphabet=st.sampled_from(["a", "z", " ", "\x00", "é", "日", "\x7f"]), max_size=12),
)


def _oracle_bytes(vals, width, pad):
    enc = [(v or "").encode("utf-8") for v in vals]
    w = max([len(e) for e in enc] + [width, 1])
    return [e + bytes([pad]) * (w - len(e)) for e in enc]


def _oracle_string(row: bytes, encoding, null_empty, nul_terminated):
    cell = row.split(b"\0", 1)[0].rstrip(b" ") if nul_terminated else row.rstrip(b" \0")
    if null_empty and not cell:
        return None
    try:
        return cell.decode(encoding)
    except UnicodeDecodeError:
        return cell.decode("latin-1")


def _as_input(vals, kind):
    if kind == "large":
        return pa.array(vals, pa.large_string())
    if kind == "sliced":  # offset != 0 into shared buffers
        return pa.array(["pre", *vals, "post"]).slice(1, len(vals))
    if kind == "chunked":
        return pa.chunked_array([pa.array(vals[:1], pa.string()), pa.array(vals[1:], pa.string())])
    return pa.array(vals, pa.string())


@settings(max_examples=60, deadline=None)
@given(
    vals=st.lists(_cells, max_size=12),
    width=st.integers(min_value=0, max_value=20),
    pad=st.sampled_from([0x00, 0x20]),
    kind=st.sampled_from(["plain", "large", "sliced", "chunked"]),
)
def test_fixed_width_codec_matches_per_value_reference(vals, width, pad, kind):
    """fixed_width_bytes equals the per-value pad loop, and
    fixed_width_strings equals the per-value trim + decode, for both pad
    bytes, both trim rules, declared widths, nulls, empty values,
    leading/interior/trailing spaces, interior NULs, non-ASCII text and
    large_string, sliced and chunked input."""
    import numpy as np

    from polars_readstat_rs_spark.formats import fixed_width_bytes, fixed_width_strings

    u8 = fixed_width_bytes(_as_input(vals, kind), width, pad)
    assert u8.dtype == np.uint8
    assert [bytes(r) for r in u8] == _oracle_bytes(vals, width, pad)
    for nul_terminated in (True, False):
        for null_empty in (True, False):
            got = fixed_width_strings(u8, "utf-8", null_empty, nul_terminated)
            assert got.type == pa.string()
            assert got.to_pylist() == [
                _oracle_string(bytes(r), "utf-8", null_empty, nul_terminated) for r in u8
            ]


@settings(max_examples=60, deadline=None)
@given(
    rows=st.integers(min_value=0, max_value=8).flatmap(
        lambda w: st.lists(st.binary(min_size=w, max_size=w), min_size=1, max_size=10)
    ),
    encoding=st.sampled_from(["utf-8", "cp1252"]),
    nul_terminated=st.booleans(),
)
def test_fixed_width_strings_decodes_any_bytes(rows, encoding, nul_terminated):
    """Arbitrary cell bytes (invalid UTF-8 included, and zero-width
    cells) decode as the per-value reference does: in the declared
    encoding, else latin-1, value by value."""
    import numpy as np

    from polars_readstat_rs_spark.formats import fixed_width_strings

    u8 = np.frombuffer(b"".join(rows), np.uint8).reshape(len(rows), len(rows[0]))
    got = fixed_width_strings(u8, encoding, True, nul_terminated).to_pylist()
    assert got == [_oracle_string(r, encoding, True, nul_terminated) for r in rows]


def test_fixed_width_bytes_all_empty_column():
    """A column of only empty values and nulls, no declared width, is
    one pad byte wide; its cells decode back to empty/null."""
    from polars_readstat_rs_spark.formats import fixed_width_bytes, fixed_width_strings

    u8 = fixed_width_bytes(pa.array(["", None, ""]), 0, 0x20)
    assert u8.shape == (3, 1) and u8.tobytes() == b"   "
    assert fixed_width_bytes(pa.array([], pa.string()), 0, 0).shape == (0, 1)
    assert fixed_width_strings(u8, "utf-8", True, False).to_pylist() == [None] * 3
    assert fixed_width_strings(u8[:, :0], "utf-8", False, True).to_pylist() == [""] * 3

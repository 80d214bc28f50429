"""The staged readstat writers driven directly, without a Spark job:
``write`` is the executor-side spill of one partition, ``commit`` and
``abort`` the driver side — for every format the sinks write."""

from __future__ import annotations

import os

import pyarrow as pa
import pytest

from polars_readstat_rs_spark.datasource import ReadstatDataSource, _from_arrow_schema

FORMATS = {"dta": "stata", "sav": "spss", "xpt": "xport", "por": "por", "sas7bdat": "sas"}

TABLE = pa.table(
    {
        "id": pa.array(range(100), type=pa.int64()),
        "x": pa.array([None if i % 7 == 0 else i * 0.5 for i in range(100)], type=pa.float64()),
        "s": pa.array([f"s{i % 9}" for i in range(100)]),
    }
)
SCHEMA = _from_arrow_schema(TABLE.schema)


def _read(path):
    ds = ReadstatDataSource({"path": path})
    reader = ds.reader(ds.schema())
    batches = [b for p in reader.partitions() for b in reader.read(p)]
    table = pa.Table.from_batches(batches) if batches else None
    # XPORT v5 names are upper case
    names = [n.lower() for n in ds.schema().names]
    return names, table.rename_columns(names) if table else None


def _stage_dirs(d):
    return [f for f in os.listdir(d) if "._stage_" in f]


@pytest.mark.parametrize("ext", FORMATS)
def test_abort_removes_stage_dir(tmp_path, ext):
    w = ReadstatDataSource({"path": str(tmp_path / f"out.{ext}")}).writer(SCHEMA, True)
    msg = w.write(iter(TABLE.to_batches(max_chunksize=40)))
    assert msg.sections and os.path.exists(msg.blob_path)
    assert _stage_dirs(tmp_path)
    w.abort([msg])
    assert not _stage_dirs(tmp_path)
    assert not os.path.exists(tmp_path / f"out.{ext}")


@pytest.mark.parametrize("ext", FORMATS)
def test_empty_partition_commits_zero_row_file(tmp_path, ext):
    path = str(tmp_path / f"empty.{ext}")
    w = ReadstatDataSource({"path": path}).writer(SCHEMA, True)
    msg = w.write(iter(TABLE.slice(0, 0).to_batches()))
    assert msg.sections == [] and not os.path.exists(msg.blob_path)
    w.commit([msg])
    names, table = _read(path)
    assert names == ["id", "x", "s"]
    assert table is None or table.num_rows == 0
    assert not _stage_dirs(tmp_path)


@pytest.mark.parametrize("ext", FORMATS)
def test_stream_commit_publishes_one_part(tmp_path, ext):
    out = tmp_path / "sink"
    opts = {"path": str(out), "format": FORMATS[ext]}
    spill = ReadstatDataSource(opts).streamWriter(SCHEMA, True)
    msgs = [
        spill.write(iter(TABLE.slice(0, 60).to_batches())),
        spill.write(iter(TABLE.slice(60).to_batches())),
        spill.write(iter(TABLE.slice(0, 0).to_batches())),
    ]
    # Spark commits through a fresh writer whose stage_dir was never used
    ReadstatDataSource(opts).streamWriter(SCHEMA, True).commit(msgs, 7)
    assert os.listdir(out) == [f"part-00007.{ext}"]
    assert not _stage_dirs(tmp_path)
    _, table = _read(str(out / f"part-00007.{ext}"))
    assert [float(v) for v in table.column("id").to_pylist()] == list(map(float, range(100)))
    assert table.column("s").to_pylist() == TABLE.column("s").to_pylist()


# the single-shot writer of each sink case; every sink runs the same
# spill + assemble pair, so the three write paths give the same bytes
def _write_single(ext, table, path, **kw):
    from polars_readstat_rs_spark.formats.sas.bdat_writer import write_sas7bdat
    from polars_readstat_rs_spark.formats.sas.xport import write_xpt
    from polars_readstat_rs_spark.formats.spss.portable import write_por
    from polars_readstat_rs_spark.formats.spss.writer import write_sav
    from polars_readstat_rs_spark.formats.stata.writer import write_dta

    writer = {"dta": write_dta, "sav": write_sav, "zsav": write_sav, "xpt": write_xpt,
              "por": write_por, "sas7bdat": write_sas7bdat}[ext]
    writer(table, path, **kw)


SINK_CASES = {
    "dta": ({}, {}),
    "sav": ({}, {}),
    "bytecode-sav": ({"compress": "true"}, {"compress": True}),
    "zsav": ({"compress": "zsav"}, {"compress": "zsav"}),
    "xpt": ({}, {}),
    "por": ({}, {}),
    "sas7bdat": ({}, {}),
}


@pytest.mark.parametrize("case", SINK_CASES)
def test_sinks_write_identical_files(tmp_path, case):
    """write_X, a single-file sink commit of two spilled partitions and
    a multifile part of one partition write byte-identical files. The
    first partition is 40 rows, so a bytecode stream's 8-code control
    groups (each partition's stream is padded to one) fall on the same
    boundaries in all three."""
    opts, kw = SINK_CASES[case]
    ext = case.rsplit("-", 1)[-1]
    fmt = {**FORMATS, "zsav": "spss"}[ext]
    single = str(tmp_path / f"single.{ext}")
    _write_single(ext, TABLE, single, **kw)

    staged = str(tmp_path / f"staged.{ext}")
    w = ReadstatDataSource({"path": staged, **opts}).writer(SCHEMA, True)
    w.commit([w.write(iter(TABLE.slice(0, 40).to_batches())),
              w.write(iter(TABLE.slice(40).to_batches()))])

    multi = tmp_path / "multi"
    m = ReadstatDataSource({"path": str(multi), "format": fmt, "multifile": "true", **opts})
    mw = m.writer(SCHEMA, True)
    mw.commit([mw.write(iter(TABLE.to_batches(max_chunksize=30)))])
    (part,) = multi.iterdir()
    assert part.name.endswith(f".{ext}")

    want = open(single, "rb").read()
    assert open(staged, "rb").read() == want
    assert part.read_bytes() == want
    assert want.startswith(b"$FL3") == (ext == "zsav")
    assert not [f for f in os.listdir(tmp_path) if f.endswith(".spill") or "._stage_" in f]


def test_zsav_sinks_write_fl3_magic(tmp_path):
    """A zlib-compressed .sav starts with the $FL3 magic from the
    single-file sink (a .zsav path) and the stream sink alike."""
    path = str(tmp_path / "out.zsav")
    w = ReadstatDataSource({"path": path}).writer(SCHEMA, True)
    w.commit([w.write(iter(TABLE.to_batches()))])
    out = tmp_path / "sink"
    opts = {"path": str(out), "format": "spss", "compress": "zsav"}
    s = ReadstatDataSource(opts).streamWriter(SCHEMA, True)
    s.commit([s.write(iter(TABLE.to_batches()))], 0)
    for p in (path, str(out / "part-00000.zsav")):
        assert open(p, "rb").read(4) == b"$FL3"
        _, table = _read(p)
        assert table.column("s").to_pylist() == TABLE.column("s").to_pylist()


def test_sav_sections_with_different_string_widths(tmp_path):
    """Sections whose string columns are narrower than the global width
    re-stride beside a numeric column (space-padded), compressed or not."""
    for comp in ("false", "true"):
        path = str(tmp_path / f"w_{comp}.sav")
        w = ReadstatDataSource({"path": path, "compress": comp}).writer(SCHEMA, True)
        wide = TABLE.slice(50).set_column(2, "s", pa.array(["a much longer value"] * 50))
        w.commit([w.write(iter(TABLE.slice(0, 50).to_batches())), w.write(iter(wide.to_batches()))])
        _, table = _read(path)
        assert table.column("s").to_pylist() == TABLE.column("s").to_pylist()[:50] + ["a much longer value"] * 50
        assert table.column("x").to_pylist() == TABLE.column("x").to_pylist()


def test_write_sav_long_string_table_in_chunks(tmp_path):
    """A two-chunk table with a string over 255 bytes is one section to
    write_sav, so it needs no string_widths declaration (two undeclared
    staged sections of such a column do)."""
    from polars_readstat_rs_spark.formats.spss.writer import write_sav

    long = "v" * 300
    t = pa.concat_tables([
        pa.table({"k": pa.array([1.0, 2.0]), "s": pa.array(["short", long])}),
        pa.table({"k": pa.array([3.0]), "s": pa.array([long + "w"])}),
    ])
    assert t.column("s").num_chunks == 2
    path = str(tmp_path / "long.sav")
    write_sav(t, path)
    _, back = _read(path)
    assert back.column("s").to_pylist() == ["short", long, long + "w"]

    w = ReadstatDataSource({"path": str(tmp_path / "staged.sav")}).writer(
        _from_arrow_schema(t.schema), True)
    msgs = [w.write(iter(t.slice(0, 1).to_batches())), w.write(iter(t.slice(1).to_batches()))]
    with pytest.raises(ValueError, match="require a string_widths declaration"):
        w.commit(msgs)


@pytest.mark.parametrize("ext", ["dta", "sav", "xpt"])
def test_sinks_write_the_data_label(tmp_path, ext):
    """option("data_label") reaches the file header in every format
    that has one, Stata included."""
    from polars_readstat_rs_spark import formats

    path = str(tmp_path / f"lab.{ext}")
    w = ReadstatDataSource({"path": path, "data_label": "survey wave 3"}).writer(SCHEMA, True)
    w.commit([w.write(iter(TABLE.to_batches()))])
    meta = formats.parser(formats.format_of(path)).read_metadata(path)
    assert getattr(meta, "dataset_label" if ext == "xpt" else "data_label") == "survey wave 3"


# every fixed-width string shape the codec handles: nulls, empty, leading,
# interior and trailing spaces, an interior NUL, non-ASCII text, and a
# column whose values straddle the 255-byte .sav very-long-string limit
STRING_SHAPES = ["", None, "plain", " lead", "mid dle", "trail ", "a\0b", "café", "日本語", "  ", "x" * 40]


def _pinned_table():
    import random

    rng = random.Random(7)
    n = 60
    return pa.table({
        "id": pa.array(range(n), type=pa.int64()),
        "x": pa.array([None if i % 5 == 0 else rng.uniform(-1e3, 1e3) for i in range(n)]),
        "s": pa.array([STRING_SHAPES[i % len(STRING_SHAPES)] for i in range(n)]),
        "r": pa.array([rng.choice(STRING_SHAPES[2:]) + str(rng.randrange(100)) for _ in range(n)]),
        "long": pa.array([None if i % 4 == 0 else "é" * rng.randrange(120, 180) for i in range(n)]),
    })


PINNED = {
    "dta": ("dta", {}, "4712dc04c401ef099504f7ab71bc36885712c1d0ebac703147963620adef7787"),
    "sav": ("sav", {}, "4c069423054a6874803a723f093a3cfd244896c05c72b0c6e19a5695f0b5f855"),
    "bytecode-sav": ("sav", {"compress": True},
                     "6825dbe96b82bb6eef346a8aa9fea0ed4fae1097ca262b212ce9f92b1f335fe9"),
    "zsav": ("zsav", {"compress": "zsav"},
             "28bdec0d08dfc1834a03e5c8b176d7f08f9e6e52fce039968801ca1fbb077ab8"),
    "xpt-v5": ("xpt", {}, "83619124a700420edcea4d154ec100178595bdaf232cedc4703da2ca41e0fc3e"),
    "xpt-v8": ("xpt", {"version": 8},
               "4dc88fbf2f644b5110ed96efdfa184a13b8571520956b2916523f38ad44a26aa"),
    "sas7bdat": ("sas7bdat", {}, "0d2f0068a2a8d302548032a4f88e722128bebe7a84866d26f3e106d04650142f"),
    "rle-sas7bdat": ("sas7bdat", {"compress": "RLE"},
                     "d95529b94c3f08afc6be1c7483983e0d305b02e5c632404e544d15ef310427a2"),
    "por": ("por", {}, "63da734f807c8853ae03bb621de5cb61972cd2d1fd5c842a6915acd705b72c76"),
}


@pytest.mark.parametrize("case", PINNED)
def test_writer_bytes_are_pinned(tmp_path, case):
    """Writer output is deterministic, so its sha256 pins every encoder
    change: a refactor of a writer must keep these bytes."""
    import hashlib

    ext, kw, want = PINNED[case]
    path = str(tmp_path / f"pinned.{ext}")
    _write_single(ext, _pinned_table(), path, **kw)
    assert hashlib.sha256(open(path, "rb").read()).hexdigest() == want


def _c_string(v):
    return v.split("\0", 1)[0].rstrip(" ")


# each format's read rule for a fixed-width string cell; "" reads as null
STRING_RULES = {
    "dta": ({}, _c_string),
    "sav": ({}, lambda v: v.rstrip(" \0")),
    "bytecode-sav": ({"compress": True}, lambda v: v.rstrip(" \0")),
    "zsav": ({"compress": "zsav"}, lambda v: v.rstrip(" \0")),
    # XPORT is ASCII: the writer writes '?' for each non-ASCII code point
    "xpt": ({}, lambda v: _c_string(v.encode("ascii", "replace").decode())),
    "sas7bdat": ({}, _c_string),
}


@pytest.mark.parametrize("case", STRING_RULES)
def test_string_matrix_roundtrip(tmp_path, case):
    """Every string shape written by write_X reads back through the
    DataSource by the format's fixed-width rule: a NUL ends the value
    and trailing spaces go (Stata, SAS, XPORT), or only the trailing run
    of spaces and NULs goes (SPSS). Stata routes a column holding
    trailing-space values to strL, so it writes only column "f", whose
    values have none."""
    kw, rule = STRING_RULES[case]
    ext = case.rsplit("-", 1)[-1]
    shapes = STRING_SHAPES + ["\0", " \0 x", "\0 lead"]
    cols = {"s": shapes, "f": [v if v is None else v.rstrip(" ") for v in shapes]}
    if ext == "dta":
        cols.pop("s")
    table = pa.table({k: pa.array(v, pa.string()) for k, v in cols.items()})
    path = str(tmp_path / f"m.{ext}")
    _write_single(ext, table, path, **kw)
    _, back = _read(path)
    for name, vals in cols.items():
        want = [None if v is None else rule(v) or None for v in vals]
        assert back.column(name).to_pylist() == want, name
    if ext == "xpt":
        # a byte >= 0x80 (not valid UTF-8) reads as latin-1, as in
        # every other reader
        raw = open(path, "rb").read()
        assert raw.count(b"caf?") == 2
        latin = str(tmp_path / "latin.xpt")
        open(latin, "wb").write(raw.replace(b"caf?", b"caf\xe9"))
        _, back = _read(latin)
        assert back.column("s").to_pylist()[STRING_SHAPES.index("café")] == "café"


def test_xpt_rejects_over_long_character_values(tmp_path):
    """An XPORT character value over 32,767 bytes fails by column name
    in write_xpt and in an executor's spill, before any assemble."""
    from polars_readstat_rs_spark.formats.sas.xport import write_xpt

    t = pa.table({"id": pa.array([1.0, 2.0]), "big": pa.array(["x", "y" * 32768])})
    with pytest.raises(ValueError, match=r"'big'.*32767"):
        write_xpt(t, str(tmp_path / "w.xpt"))
    w = ReadstatDataSource({"path": str(tmp_path / "s.xpt")}).writer(
        _from_arrow_schema(t.schema), True)
    with pytest.raises(ValueError, match=r"'big'.*32767"):
        w.write(iter(t.to_batches()))
    ok = t.set_column(1, "big", pa.array(["x", "y" * 32767]))
    write_xpt(ok, str(tmp_path / "ok.xpt"))
    _, back = _read(str(tmp_path / "ok.xpt"))
    assert back.column("big").to_pylist() == ["x", "y" * 32767]


def test_xpt_rejects_over_long_declared_widths_without_rows(tmp_path):
    """A declared XPORT string width over 32,767 fails by column name
    also when no row reaches the encoder: write_xpt of an empty table and
    the empty assemble of a staged write."""
    import json

    from polars_readstat_rs_spark.formats.sas.xport import write_xpt

    t = pa.table({"id": pa.array([], pa.float64()), "s": pa.array([], pa.string())})
    with pytest.raises(ValueError, match=r"'s'.*32767"):
        write_xpt(t, str(tmp_path / "e.xpt"), string_widths={"s": 40000})
    w = ReadstatDataSource({"path": str(tmp_path / "st.xpt"),
                            "string_widths": json.dumps({"s": 40000})}).writer(
        _from_arrow_schema(t.schema), True)
    msg = w.write(iter(t.to_batches()))
    with pytest.raises(ValueError, match=r"'s'.*32767"):
        w.commit([msg])

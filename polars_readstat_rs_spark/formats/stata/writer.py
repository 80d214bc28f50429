"""Stata .dta v118 writer (reference W1, src/stata/writer.rs:147-380).

Writes an Arrow table (or pandas DataFrame) to a modern XML-ish .dta:
header, map, dictionary, fixed-width records, GSO heap for long strings,
and value-label tables. Type mapping:

| input                | stored as                              |
|----------------------|----------------------------------------|
| int8 / bool          | byte                                   |
| int16                | int                                    |
| int32                | long                                   |
| int64                | long if in range else double           |
| float32 / float64    | float / double                         |
| string (<= 2045 B)   | str#  (max observed utf-8 width)       |
| string (> 2045 B)    | strL  (GSO heap)                       |
| date32               | long  %td (days since 1960)            |
| timestamp            | double %tc (ms since 1960)             |

Nulls become the Stata system-missing sentinels (ints: sentinel value,
floats: the 0x7f000000 / 0x7fe0000000000000 bit patterns, strings: "").

One encoder, two halves, behind every write (``write_dta`` runs both
on the whole table as one section; the ``df.write.format("readstat")``
sinks run them across executors and the driver — the reference's
streaming-batch mode, src/stata/writer.rs:244-380):

- ``spill_partition`` encodes Arrow batches to fixed-width record byte
  *sections* (final little-endian encodings for every value-independent
  type; provisional encodings only where the layout is a global
  property: int64 long-vs-double and string widths).
- ``assemble_dta`` re-strides one section at a time with numpy into the
  final record layout and streams it through ``DtaStreamWriter`` — it
  never builds an Arrow table, never touches row values through Python
  objects, and holds at most one section in memory. StrL GSO references
  are emitted section-locally and patched to global observation numbers
  with a cumulative row base, so no partition-id coordination is needed.
"""

from __future__ import annotations

import struct
import warnings

import numpy as np
import pyarrow as pa

from .. import fixed_width_bytes, write_one_section
from .parser import DAY_MS, STATA_EPOCH_OFFSET_DAYS, STATA_EPOCH_OFFSET_MS  # noqa: F401

_MISS_I8 = 101
_MISS_I16 = 32741
_MISS_I32 = 2147483621
_MISS_F32 = np.uint32(0x7F000000)
_MISS_F64 = np.uint64(0x7FE0000000000000)
_MAX_STR = 2045
_I64_EXACT = 1 << 53  # doubles hold integers exactly only below 2^53

_TYPE_BYTE, _TYPE_INT, _TYPE_LONG, _TYPE_FLOAT, _TYPE_DOUBLE = 65530, 65529, 65528, 65527, 65526
_TYPE_STRL = 32768


def _pad(b: bytes, n: int) -> bytes:
    return b[:n] + b"\0" * (n - len(b))


def _warn_lossy_i64(name: str, vmin: int, vmax: int) -> None:
    if vmin < -_I64_EXACT or vmax > _I64_EXACT:
        warnings.warn(
            f"column {name!r}: int64 values outside Stata long range are stored as "
            f"double, and |v| > 2^53 loses precision (observed range [{vmin}, {vmax}])",
            stacklevel=3,
        )


def _has_trailing_space(arr) -> bool:
    """True when any value ends with a space. The reference-faithful
    read trim (``/root/reference/src/stata/data.rs:828-831`` trims
    trailing spaces from fixed-width str# cells, mirrored at
    ``formats/stata/parser.py``) makes such values lossy through str#;
    they round-trip exactly only via strL (GSO payloads are
    length-prefixed and never trimmed), so the writer routes them there."""
    if len(arr) == 0:
        return False
    # pa.compute works on ChunkedArray directly — no combine_chunks copy
    return pa.compute.any(pa.compute.ends_with(arr, pattern=" ")).as_py() is True


def _max_byte_width(arr) -> int:
    """Max UTF-8 byte width of a string column via one pa.compute pass —
    lets the strL-routing decision run BEFORE the (expensive) fixed-width
    byte materialization, so columns routed to strL never pay for it."""
    if len(arr) == 0:
        return 0
    w = pa.compute.max(pa.compute.binary_length(arr)).as_py()
    return int(w) if w is not None else 0


class _Col:
    """Final record encoding of a column whose layout does not depend on
    its values (everything but int64 and strings, which
    ``encode_section`` handles): typecode, width, display format and
    the little-endian data with nulls as Stata missing sentinels."""

    def __init__(self, name: str, arr: pa.Array):
        self.fmt = "%9.0g"
        t = arr.type
        mask = ~np.asarray(arr.is_valid()) if arr.null_count else np.zeros(len(arr), dtype=bool)

        if pa.types.is_boolean(t) or pa.types.is_int8(t):
            self.typecode, self.width = _TYPE_BYTE, 1
            v = np.asarray(arr.cast(pa.int8()).fill_null(0), dtype=np.int8).copy()
            v[mask] = _MISS_I8
        elif pa.types.is_int16(t):
            self.typecode, self.width = _TYPE_INT, 2
            v = np.asarray(arr.fill_null(0), dtype=np.int16).copy()
            v[mask] = _MISS_I16
        elif pa.types.is_int32(t):
            self.typecode, self.width = _TYPE_LONG, 4
            v = np.asarray(arr.fill_null(0), dtype=np.int32).copy()
            v[mask] = _MISS_I32
        elif pa.types.is_float32(t):
            self.typecode, self.width = _TYPE_FLOAT, 4
            v = np.asarray(arr.fill_null(0), dtype=np.float32).copy()
            v.view(np.uint32)[mask] = _MISS_F32
        elif pa.types.is_float64(t):
            self.typecode, self.width = _TYPE_DOUBLE, 8
            v = np.asarray(arr.fill_null(0), dtype=np.float64).copy()
            v.view(np.uint64)[mask] = _MISS_F64
        elif pa.types.is_date32(t):
            self.typecode, self.width = _TYPE_LONG, 4
            self.fmt = "%td"
            v = np.asarray(arr.cast(pa.int32()).fill_null(0), dtype=np.int32).copy()
            v = v + STATA_EPOCH_OFFSET_DAYS
            v[mask] = _MISS_I32
        elif pa.types.is_timestamp(t):
            self.typecode, self.width = _TYPE_DOUBLE, 8
            self.fmt = "%tc"
            ms = np.asarray(
                arr.cast(pa.timestamp("ms")).cast(pa.int64()).fill_null(0), dtype=np.int64
            )
            v = (ms + STATA_EPOCH_OFFSET_MS).astype(np.float64)
            v.view(np.uint64)[mask] = _MISS_F64
        else:
            raise ValueError(f"cannot write dtype {t} to .dta (column {name})")
        self.data = v


class ColSpec:
    """Final on-disk layout of one column (dictionary + record field)."""

    def __init__(self, name: str, typecode: int, width: int, fmt: str, label_name: str = ""):
        self.name = name
        self.typecode = typecode
        self.width = width
        self.fmt = fmt
        self.label_name = label_name

    def np_fmt(self) -> str:
        return _np_fmt_code(self.typecode, self.width)


def _np_fmt_code(typecode: int, width: int) -> str:
    if typecode == _TYPE_BYTE:
        return "<i1"
    if typecode == _TYPE_INT:
        return "<i2"
    if typecode == _TYPE_LONG:
        return "<i4"
    if typecode == _TYPE_FLOAT:
        return "<f4"
    if typecode == _TYPE_DOUBLE:
        return "<f8"
    if typecode == _TYPE_STRL:
        return "V8"
    return f"S{width}"


def _record_dtype(specs: list[ColSpec]) -> np.dtype:
    widths = [c.width for c in specs]
    return np.dtype(
        {
            "names": [f"f{i}" for i in range(len(specs))],
            "formats": [c.np_fmt() for c in specs],
            "offsets": np.cumsum([0] + widths[:-1]).tolist(),
            "itemsize": int(sum(widths)),
        }
    )


def _pack_strl_ref(v: int, o: int, version: int) -> int:
    """Pack a strL (v, o) data-cell reference for the target version:
    v118 splits the u64 as 16+48 bits, v119 as 24+40 (the GSO heap
    entry itself is version-invariant: u32 v + u64 o)."""
    if version >= 119:
        return (v & 0xFF_FFFF) | ((o & 0xFF_FFFF_FFFF) << 24)
    return (v & 0xFFFF) | ((o & 0xFFFF_FFFF_FFFF) << 16)


def _gso_entry(v: int, o: int, payload: bytes) -> bytes:
    return b"GSO" + struct.pack("<IQBI", v, o, 0x82, len(payload)) + payload


class DtaStreamWriter:
    """Streaming .dta v118 file writer: header + dictionary, then data
    chunks as they arrive, then GSO chunks, then value labels; the <map>
    section offsets are back-patched with one seek at the end. Constant
    memory regardless of row count."""

    def __init__(
        self,
        path: str,
        specs: list[ColSpec],
        nobs: int,
        value_labels: dict[str, dict[int, str]] | None = None,
        variable_labels: dict[str, str] | None = None,
        data_label: str = "",
        version: int = 118,
    ):
        if version not in (117, 118, 119):
            raise ValueError(f"dta writer supports versions 117, 118 and 119, got {version}")
        if version == 117 and any(c.typecode == _TYPE_STRL for c in specs):
            # v117 GSO/(v,o) packing differs (u32+u32 vs 2+6); strL
            # columns stay a v118 feature here — declare string_widths
            # <= 2045 or write v118. Trailing-space values also route
            # to strL (str# reads trim them), so they need v118 too.
            raise ValueError(
                "strL columns require dta version 118 (long strings, and "
                "strings with trailing spaces — which are trimmed by str# "
                "reads — are stored as strL)"
            )
        self.version = version
        self.path = path
        self.specs = specs
        self.nobs = nobs
        self.value_labels = value_labels or {}
        self.variable_labels = variable_labels or {}
        self.data_label = data_label
        self._f = open(path, "wb")
        self._pos: dict[str, int] = {}
        self._state = "new"

    def _w(self, b: bytes) -> None:
        self._f.write(b)

    def _mark(self, name: str) -> None:
        self._pos[name] = self._f.tell()

    def begin(self) -> None:
        assert self._state == "new"
        specs = self.specs
        nvar = len(specs)
        v8 = self.version >= 118
        # v117 section widths per the dta_117 spec (and parser._layout):
        # names/label-names 33, formats 49, variable labels 81, N u32,
        # data label u8-length (<= 80); text nominally latin-1 — ASCII
        # content roundtrips everywhere, see write_dta docstring
        self._nm = 129 if v8 else 33
        self._fm = 57 if v8 else 49
        self._vl = 321 if v8 else 81
        rel = str(self.version).encode()
        enc_label = self.data_label.encode("utf-8")[: 320 if v8 else 80]
        self._w(b"<stata_dta><header><release>" + rel + b"</release><byteorder>LSF</byteorder>")
        # v119 (Stata 15/16 >32k-variable format): K is u32, sortlist
        # entries are u32, strL (v,o) data refs split 24+40 (see
        # parser._layout srt_len / read_metadata nvar width)
        if self.version >= 119:
            self._w(b"<K>" + struct.pack("<I", nvar) + b"</K>")
        else:
            self._w(b"<K>" + struct.pack("<H", nvar) + b"</K>")
        if v8:
            self._w(b"<N>" + struct.pack("<Q", self.nobs) + b"</N>")
            self._w(b"<label>" + struct.pack("<H", len(enc_label)) + enc_label + b"</label>")
        else:
            self._w(b"<N>" + struct.pack("<I", self.nobs) + b"</N>")
            self._w(b"<label>" + bytes([len(enc_label)]) + enc_label + b"</label>")
        self._w(b"<timestamp>" + bytes([17]) + _pad(b"01 Jan 2026 00:00", 17) + b"</timestamp>")
        self._w(b"</header>")

        self._mark("map")
        self._w(b"<map>" + b"\0" * (14 * 8) + b"</map>")

        self._mark("types")
        self._w(b"<variable_types>")
        for c in specs:
            self._w(struct.pack("<H", c.typecode))
        self._w(b"</variable_types>")

        self._mark("varnames")
        self._w(b"<varnames>")
        for c in specs:
            self._w(_pad(c.name.encode("utf-8"), self._nm))
        self._w(b"</varnames>")

        self._mark("sortlist")
        srt = 4 if self.version >= 119 else 2
        self._w(b"<sortlist>" + b"\0" * (srt * (nvar + 1)) + b"</sortlist>")

        self._mark("formats")
        self._w(b"<formats>")
        for c in specs:
            self._w(_pad(c.fmt.encode(), self._fm))
        self._w(b"</formats>")

        self._mark("value_label_names")
        self._w(b"<value_label_names>")
        for c in specs:
            self._w(_pad(c.label_name.encode("utf-8"), self._nm))
        self._w(b"</value_label_names>")

        self._mark("variable_labels")
        self._w(b"<variable_labels>")
        for c in specs:
            self._w(_pad(self.variable_labels.get(c.name, "").encode("utf-8"), self._vl))
        self._w(b"</variable_labels>")

        self._mark("characteristics")
        self._w(b"<characteristics></characteristics>")

        self._mark("data")
        self._w(b"<data>")
        self._state = "data"

    def write_data(self, chunk: bytes) -> None:
        assert self._state == "data"
        self._w(chunk)

    def _begin_strls(self) -> None:
        assert self._state == "data"
        self._w(b"</data>")
        self._mark("strls")
        self._w(b"<strls>")
        self._state = "strls"

    def write_strls(self, chunk: bytes) -> None:
        if self._state == "data":
            self._begin_strls()
        assert self._state == "strls"
        self._w(chunk)

    def finish(self) -> None:
        if self._state == "data":
            self._begin_strls()
        self._w(b"</strls>")
        self._mark("value_labels")
        self._w(b"<value_labels>")
        for c in self.specs:
            if not c.label_name:
                continue
            mapping = self.value_labels[c.name]
            keys = sorted(mapping)
            txt = bytearray()
            offs = []
            for k in keys:
                offs.append(len(txt))
                txt += mapping[k].encode("utf-8") + b"\0"
            table_bytes = struct.pack("<II", len(keys), len(txt))
            table_bytes += b"".join(struct.pack("<I", o) for o in offs)
            table_bytes += b"".join(struct.pack("<i", k) for k in keys)
            table_bytes += bytes(txt)
            self._w(b"<lbl>" + struct.pack("<I", len(table_bytes)))
            self._w(_pad(c.label_name.encode("utf-8"), self._nm) + b"\0\0\0")
            self._w(table_bytes + b"</lbl>")
        self._w(b"</value_labels>")

        self._mark("end")
        self._w(b"</stata_dta>")
        eof = self._f.tell()
        m = [
            0,
            self._pos["map"],
            self._pos["types"],
            self._pos["varnames"],
            self._pos["sortlist"],
            self._pos["formats"],
            self._pos["value_label_names"],
            self._pos["variable_labels"],
            self._pos["characteristics"],
            self._pos["data"],
            self._pos["strls"],
            self._pos["value_labels"],
            self._pos["end"],
            eof,
        ]
        self._f.seek(self._pos["map"] + 5)
        self._f.write(struct.pack("<14Q", *m))
        self._f.close()
        self._state = "done"


def write_dta(
    table: pa.Table,
    path: str,
    value_labels: dict[str, dict[int, str]] | None = None,
    variable_labels: dict[str, str] | None = None,
    data_label: str = "",
    version: int = 118,
) -> None:
    """Write an Arrow table (or Spark/pandas DataFrame) as Stata .dta:
    one section through ``spill_partition`` + ``assemble_dta``.
    ``version``: 118 (default, UTF-8, strL), 117 (pre-Stata-14 compat:
    32-char names, u32 row count; no strL — strings over 2045 bytes
    raise; text content should be ASCII/latin-1-safe since v117 readers
    decode the dictionary as cp1252), or 119 (Stata 15/16
    >32k-variable format: u32 variable count, u32 sortlist entries,
    24+40-bit strL refs)."""
    write_one_section(
        table, path, spill_partition,
        lambda target, parts, schema: assemble_dta(
            target, schema, parts, value_labels, variable_labels,
            data_label=data_label, version=version,
        ),
    )


# ---------------------------------------------------------------------------
# Distributed write: executor-side section encoding + driver-side assembly.
# ---------------------------------------------------------------------------

# Provisional per-column kinds inside a spilled section:
#   "fixed" — bytes are already the final encoding (value-independent types)
#   "i64"   — little-endian int64; long-vs-double is a global decision
#   "str"   — S{w} at the section-local max width; global width unknown
#   "strl"  — V8 GSO refs with section-local observation numbers


def encode_section(
    batch: pa.RecordBatch, declared: dict[str, int] | None = None
) -> tuple[bytes, bytes, dict]:
    """Encode one Arrow batch into (record_bytes, gso_bytes, meta).

    meta["cols"][i] may carry a "bitmap" bytes entry (packed null rows
    for i64 columns) that the caller must spill and replace with
    (bitmap_off, bitmap_len).

    ``declared`` maps string column name -> fixed byte width (<= 2045).
    Declared columns encode at that width (error when a value exceeds
    it), so every section shares the global layout and assemble's
    fast path byte-copies instead of re-striding.
    """
    declared = declared or {}
    n = batch.num_rows
    col_metas: list[dict] = []
    datas: list[np.ndarray] = []
    gso_parts: list[bytes] = []
    for i, f in enumerate(batch.schema):
        arr = batch.column(i)
        t = f.type
        if pa.types.is_int64(t):
            mask = ~np.asarray(arr.is_valid()) if arr.null_count else None
            v = np.asarray(arr.fill_null(0), dtype=np.int64)
            valid = v if mask is None else v[~mask]
            cm = {
                "kind": "i64",
                "np": "<i8",
                "width": 8,
                "vmin": int(valid.min()) if len(valid) else None,
                "vmax": int(valid.max()) if len(valid) else None,
            }
            if mask is not None and mask.any():
                cm["bitmap"] = np.packbits(mask).tobytes()
            col_metas.append(cm)
            datas.append(v)
        elif pa.types.is_string(t) or pa.types.is_large_string(t):
            # decide strL from the cheap width/trailing-space passes,
            # materialize S{w} only on the confirmed fixed-width path
            wmax = _max_byte_width(arr)
            trailing = _has_trailing_space(arr)
            if trailing and f.name in declared:
                raise ValueError(
                    f"column {f.name}: a value ends with a space, which cannot "
                    f"round-trip through the declared fixed-width str# layout "
                    f"(the reader trims trailing spaces, matching the reference); "
                    f"drop the string_widths declaration so the column is "
                    f"written as strL"
                )
            if wmax > _MAX_STR or trailing:
                # strL: section-local o = row+1; assemble_dta adds the
                # cumulative row base so (v, o) is globally unique.
                vals = arr.to_pylist()
                refs = np.zeros(n, dtype="<u8")
                v_id = i + 1
                for row, s in enumerate(vals):
                    if not s:
                        continue
                    o = row + 1
                    refs[row] = (v_id & 0xFFFF) | ((o & 0xFFFF_FFFF_FFFF) << 16)
                    gso_parts.append(_gso_entry(v_id, o, s.encode("utf-8") + b"\0"))
                col_metas.append({"kind": "strl", "np": "V8", "width": 8})
                datas.append(refs.view("V8"))
            else:
                w = max(1, wmax)
                dw = declared.get(f.name)
                if dw is not None:
                    if wmax > dw:
                        raise ValueError(
                            f"column {f.name}: value of {wmax} bytes exceeds the "
                            f"declared string_widths width {dw}"
                        )
                    w = max(1, min(int(dw), _MAX_STR))
                col_metas.append({"kind": "str", "np": f"S{w}", "width": w})
                datas.append(fixed_width_bytes(arr, w).view(f"S{w}").reshape(n))
        else:
            c = _Col(f.name, arr)
            col_metas.append(
                {"kind": "fixed", "np": _np_fmt_code(c.typecode, c.width),
                 "width": c.width, "typecode": c.typecode, "fmt": c.fmt}
            )
            datas.append(c.data)

    widths = [m["width"] for m in col_metas]
    dt = np.dtype(
        {
            "names": [f"f{i}" for i in range(len(col_metas))],
            "formats": [m["np"] for m in col_metas],
            "offsets": np.cumsum([0] + widths[:-1]).tolist(),
            "itemsize": int(sum(widths)),
        }
    )
    rec = np.zeros(n, dtype=dt)
    for i, d in enumerate(datas):
        rec[f"f{i}"] = d
    meta = {"nrows": n, "cols": col_metas}
    return rec.tobytes(), b"".join(gso_parts), meta


def spill_partition(
    batches, blob_path: str, declared: dict[str, int] | None = None
) -> list[dict]:
    """Executor side of the distributed write: encode every batch to a
    section appended to ``blob_path``; return the section metadata list
    (pure dicts — this travels through the WriterCommitMessage)."""
    sections: list[dict] = []
    with open(blob_path, "wb") as f:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            rec_bytes, gso_bytes, meta = encode_section(batch, declared=declared)
            meta["rec_off"] = f.tell()
            f.write(rec_bytes)
            for cm in meta["cols"]:
                bm = cm.pop("bitmap", None)
                if bm is not None:
                    cm["bitmap_off"] = f.tell()
                    cm["bitmap_len"] = len(bm)
                    f.write(bm)
            meta["gso_off"] = f.tell()
            meta["gso_len"] = len(gso_bytes)
            f.write(gso_bytes)
            sections.append(meta)
    return sections


def _default_spec(name: str, t: pa.DataType) -> ColSpec:
    """Layout for a column with zero observed rows, from the schema."""
    c = _Col(name, pa.array([], type=t))
    return ColSpec(name, c.typecode, c.width, c.fmt)


def decide_layout(
    schema: pa.Schema, all_sections: list[dict], declared: dict[str, int] | None = None
) -> list[ColSpec]:
    """Resolve the global record layout from per-section metadata."""
    declared = declared or {}
    specs: list[ColSpec] = []
    for i, f in enumerate(schema):
        metas = [s["cols"][i] for s in all_sections]
        if pa.types.is_int64(f.type):
            vmins = [m["vmin"] for m in metas if m.get("vmin") is not None]
            vmaxs = [m["vmax"] for m in metas if m.get("vmax") is not None]
            vmin = min(vmins) if vmins else 0
            vmax = max(vmaxs) if vmaxs else 0
            if vmax > 2147483620 or vmin < -2147483647:
                _warn_lossy_i64(f.name, vmin, vmax)
                specs.append(ColSpec(f.name, _TYPE_DOUBLE, 8, "%9.0g"))
            else:
                specs.append(ColSpec(f.name, _TYPE_LONG, 4, "%9.0g"))
        elif pa.types.is_string(f.type) or pa.types.is_large_string(f.type):
            if any(m["kind"] == "strl" for m in metas):
                specs.append(ColSpec(f.name, _TYPE_STRL, 8, "%9s"))
            else:
                w = max([m["width"] for m in metas] + [declared.get(f.name, 0)] + [1])
                specs.append(ColSpec(f.name, w, w, f"%{min(w, 99)}s"))
        else:
            if metas:
                m = metas[0]
                specs.append(ColSpec(f.name, m["typecode"], m["width"], m["fmt"]))
            else:
                specs.append(_default_spec(f.name, f.type))
    return specs


def _patch_gso(buf: bytes, base: int) -> bytes:
    """Add ``base`` to the observation number of every GSO entry."""
    if not buf or base == 0:
        return buf
    out = bytearray(buf)
    pos = 0
    end = len(out)
    while pos < end:
        assert out[pos : pos + 3] == b"GSO", "corrupt spilled GSO heap"
        (o,) = struct.unpack_from("<Q", out, pos + 7)
        struct.pack_into("<Q", out, pos + 7, o + base)
        (ln,) = struct.unpack_from("<I", out, pos + 16)
        pos += 20 + ln
    return bytes(out)


def _convert_section(
    blob, sec: dict, specs: list[ColSpec], row_base: int, version: int = 118
) -> tuple[bytes, bytes]:
    """Re-stride one spilled section into the final record layout.

    Returns (record_bytes, extra_gso_bytes). Works purely on byte
    buffers + numpy field copies; never materializes rows as Python
    objects (the str->strL promotion path is the one per-value loop and
    only runs when partitions disagreed on a column being a long
    string)."""
    n = sec["nrows"]
    prov_widths = [m["width"] for m in sec["cols"]]
    prov_dt = np.dtype(
        {
            "names": [f"f{i}" for i in range(len(sec["cols"]))],
            "formats": [m["np"] for m in sec["cols"]],
            "offsets": np.cumsum([0] + prov_widths[:-1]).tolist(),
            "itemsize": int(sum(prov_widths)),
        }
    )
    final_dt = _record_dtype(specs)
    blob.seek(sec["rec_off"])
    raw = blob.read(n * prov_dt.itemsize)
    view = np.frombuffer(raw, dtype=prov_dt, count=n)

    has_strl = any(m["kind"] == "strl" for m in sec["cols"])
    if prov_dt == final_dt and not has_strl:
        return raw, b""

    out = np.zeros(n, dtype=final_dt)
    extra_gso: list[bytes] = []
    for i, (m, spec) in enumerate(zip(sec["cols"], specs)):
        f = f"f{i}"
        kind = m["kind"]
        if kind == "fixed":
            out[f] = view[f]
        elif kind == "i64":
            nulls = None
            if "bitmap_off" in m:
                blob.seek(m["bitmap_off"])
                bm = np.frombuffer(blob.read(m["bitmap_len"]), dtype=np.uint8)
                nulls = np.unpackbits(bm, count=n).astype(bool)
            if spec.typecode == _TYPE_LONG:
                v = view[f].astype(np.int32)
                if nulls is not None:
                    v[nulls] = _MISS_I32
            else:
                v = view[f].astype(np.float64)
                if nulls is not None:
                    v.view(np.uint64)[nulls] = _MISS_F64
            out[f] = v
        elif kind == "str":
            if spec.typecode == _TYPE_STRL:
                # partitions disagreed: promote this section's fixed-width
                # strings to GSO entries
                sarr = view[f]
                refs = np.zeros(n, dtype="<u8")
                v_id = i + 1
                for row in range(n):
                    sval = sarr[row]
                    if not sval:
                        continue
                    o = row_base + row + 1
                    refs[row] = _pack_strl_ref(v_id, o, version)
                    extra_gso.append(_gso_entry(v_id, o, bytes(sval) + b"\0"))
                out[f] = refs.view("V8")
            else:
                out[f] = view[f]  # numpy zero-pads S{w} -> S{W}
        else:  # strl
            # spilled sections always pack refs 16+48 with section-local
            # observation numbers; re-base to global and re-split for
            # the target version
            refs = np.frombuffer(view[f].tobytes(), dtype="<u8").copy()
            nz = refs != 0
            if version >= 119:
                v_ids = refs[nz] & np.uint64(0xFFFF)
                o_glob = (refs[nz] >> np.uint64(16)) + np.uint64(row_base)
                refs[nz] = v_ids | (o_glob << np.uint64(24))
            else:
                refs[nz] += np.uint64(row_base) << np.uint64(16)
            out[f] = refs.view("V8")
    return out.tobytes(), b"".join(extra_gso)


def assemble_dta(
    path: str,
    schema: pa.Schema,
    parts: list[tuple[str, list[dict]]],
    value_labels: dict[str, dict[int, str]] | None = None,
    variable_labels: dict[str, str] | None = None,
    data_label: str = "",
    declared: dict[str, int] | None = None,
    version: int = 118,
) -> None:
    """Driver side of the staged write: stream spilled sections into
    one .dta file. Holds one section in memory at a time — total dataset
    size is irrelevant to driver memory. ``version`` 117 forbids strL
    (declare string_widths <= 2045 to keep wide strings fixed)."""
    value_labels = value_labels or {}
    all_sections = [s for _, secs in parts for s in secs]
    specs = decide_layout(schema, all_sections, declared=declared)
    for spec in specs:
        if value_labels.get(spec.name):
            spec.label_name = spec.name
    nobs = sum(s["nrows"] for s in all_sections)

    w = DtaStreamWriter(path, specs, nobs, value_labels, variable_labels, data_label, version)
    w.begin()

    # pass 1: records (collect promoted-GSO spill paths for pass 2)
    extra_gso_chunks: list[bytes] = []
    row_base = 0
    for blob_path, secs in parts:
        if not secs:
            continue
        with open(blob_path, "rb") as blob:
            for sec in secs:
                rec_bytes, extra = _convert_section(blob, sec, specs, row_base, version=version)
                w.write_data(rec_bytes)
                if extra:
                    extra_gso_chunks.append(extra)
                row_base += sec["nrows"]

    # pass 2: GSO heaps, observation numbers patched to global
    row_base = 0
    for blob_path, secs in parts:
        if not secs:
            continue
        with open(blob_path, "rb") as blob:
            for sec in secs:
                if sec["gso_len"]:
                    blob.seek(sec["gso_off"])
                    w.write_strls(_patch_gso(blob.read(sec["gso_len"]), row_base))
                row_base += sec["nrows"]
    for chunk in extra_gso_chunks:
        w.write_strls(chunk)
    w.finish()

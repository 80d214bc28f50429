"""Stata .dta parser: metadata + vectorized record decode to Arrow.

Behavioral parity targets (cited into /root/reference, studied as a
format spec — no code reuse):
- header, binary v102-115 and XML-ish v117-119: src/stata/header.rs:8-99
- dictionary layout per version: src/stata/metadata.rs:136-219
- type codes: src/stata/metadata.rs:364-408
- missing-value sentinel rules: src/stata/value.rs:19-134
  (ints: >= system sentinel -> null; float/double: only the exact system
  bit pattern -> null, tagged .a-.z -> NaN)
- StrL (GSO heap): src/stata/data.rs:875-978
- value-label tables: src/stata/metadata.rs:466-586
- %t format -> temporal kind: src/stata/polars_output.rs:589-724
  (epoch 1960-01-01: dates - 3653 days, datetimes - 3653*86400000 ms;
  %tcHH.. time-of-day -> ns; date tokens inside %tc -> all-null)
- string semantics: stop at first NUL, trim trailing spaces
  (src/stata/data.rs:818-835); "" -> null when missing_string_as_null
- default encoding: UTF-8 for v118+, Windows-1252 below
  (src/stata/encoding.rs:3-9)

Decode is numpy-vectorized: the fixed-width record block is viewed
through one structured dtype (one field per requested column), missing
masks are computed as whole-column bit compares, and the result goes
straight to pyarrow arrays — no per-row Python loop for numerics.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

from ..._lazy import lazy_import
from ..._metacache import stat_keyed_cache
from .. import fixed_records

# numpy/pyarrow are decode-path-only; planning workers (schema/
# partitions) import this module for metadata and must not pay
# their ~140 ms import cost — see _lazy.py
np = lazy_import("numpy", globals(), "np")
pa = lazy_import("pyarrow", globals(), "pa")

STATA_EPOCH_OFFSET_DAYS = 3653  # 1970-01-01 minus 1960-01-01
STATA_EPOCH_OFFSET_MS = STATA_EPOCH_OFFSET_DAYS * 86_400_000
DAY_MS = 86_400_000

# numeric kind -> (numpy code, byte width)
_NUM_KINDS = {"i8": ("i1", 1), "i16": ("i2", 2), "i32": ("i4", 4), "f32": ("f4", 4), "f64": ("f8", 8)}


@dataclass
class Variable:
    name: str
    kind: str  # i8 i16 i32 f32 f64 str strl
    width: int  # storage bytes in the record
    fmt: str = ""
    label_name: str = ""
    var_label: str = ""
    # logical temporal kind derived from fmt: None | date | datetime | time | time_null
    temporal: str | None = None


@dataclass
class StataMetadata:
    version: int
    endian: str  # '<' or '>'
    nvar: int
    nobs: int
    variables: list[Variable] = field(default_factory=list)
    data_offset: int = 0
    strls_offset: int | None = None
    value_labels_offset: int | None = None
    value_labels: dict[str, dict[int, str]] = field(default_factory=dict)
    encoding: str = "utf-8"
    data_label: str = ""
    timestamp: str = ""

    split_unit = "rows"

    @property
    def row_count(self) -> int:
        return self.nobs

    @property
    def column_widths(self) -> dict[str, int]:
        return {v.name: v.width for v in self.variables}

    @property
    def record_len(self) -> int:
        return sum(v.width for v in self.variables)

    @property
    def offsets(self) -> list[int]:
        out, pos = [], 0
        for v in self.variables:
            out.append(pos)
            pos += v.width
        return out

    def has_strl(self) -> bool:
        return any(v.kind == "strl" for v in self.variables)


@dataclass
class ReadOptions:
    value_labels_as_strings: bool = True
    missing_string_as_null: bool = True
    row_index: bool = False  # emit _row_idx for order preservation (P10)
    # P6 informative nulls (reference InformativeNullOpts, src/lib.rs:
    # 62-115): False = off; "separate" (or True) = parallel
    # "<col>__missing" string columns; "struct" = Struct{value,
    # null_indicator}; "merged" = coalesce(cast(value, string),
    # indicator). Tagged-missing indicators are '.a'..'.z'; system
    # missing stays a plain null with no indicator.
    informative_nulls: bool | str = False
    # None = all eligible (numeric) columns; else only the named ones
    # (reference InformativeNullColumns::Selected).
    informative_null_columns: list[str] | None = None
    # reference SeparateColumn { suffix } (its default "_null"; ours
    # "__missing" — documented deviation, configurable per scan)
    informative_null_suffix: str = "__missing"

    def null_mode(self) -> str | None:
        from ..nulls import normalize_mode

        return normalize_mode(self.informative_nulls)

    def tracks_nulls(self, name: str, eligible: bool) -> bool:
        if not eligible or self.null_mode() is None:
            return False
        cols = self.informative_null_columns
        return cols is None or name in cols


# ----------------------------------------------------------------- layout

def _layout(v: int) -> dict:
    if not 102 <= v <= 119:
        raise ValueError(f"unsupported Stata version: {v}")
    return {
        "xmlish": v >= 117,
        "fmt_len": 7 if v < 105 else (12 if v < 114 else (49 if v < 118 else 57)),
        "typ_len": 1 if v < 117 else 2,
        "name_len": 9 if v < 110 else (33 if v < 118 else 129),
        "lbl_len": 9 if v < 110 else (33 if v < 118 else 129),
        "vlabel_len": 32 if v < 108 else (81 if v < 118 else 321),
        "data_label_len": 32 if v < 108 else (81 if v < 118 else 321),
        "timestamp_len": 0 if v < 105 else 18,
        "srt_len": 2 if v < 119 else 4,
        "exp_len_len": 0 if v < 105 else (2 if v < 110 else 4),
        "vl_len_len": 2 if v < 105 else 4,
        "vl_name_len": 12 if v < 105 else (33 if v < 118 else 129),
        "vl_pad": 2 if v < 105 else 3,
    }


class _Cursor:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def take(self, n: int) -> bytes:
        b = self.buf[self.pos : self.pos + n]
        if len(b) < n:
            raise EOFError("truncated .dta file")
        self.pos += n
        return b

    def tag(self, t: bytes) -> None:
        got = self.take(len(t))
        if got != t:
            raise ValueError(f"expected {t!r}, got {got!r} at {self.pos - len(t)}")

    def maybe_tag(self, t: bytes) -> bool:
        if self.buf[self.pos : self.pos + len(t)] == t:
            self.pos += len(t)
            return True
        return False

    def u8(self) -> int:
        return self.take(1)[0]

    def uint(self, n: int, endian: str) -> int:
        return int.from_bytes(self.take(n), "little" if endian == "<" else "big")


def _cstr(b: bytes, encoding: str) -> str:
    nul = b.find(b"\0")
    if nul >= 0:
        b = b[:nul]
    return b.decode(encoding, errors="replace")


# ------------------------------------------------------------- temporal fmt

def temporal_kind(fmt: str, kind: str) -> str | None:
    """%t-format -> logical temporal type (see module docstring)."""
    f = fmt.strip()
    allow_dt = kind in ("i32", "f32", "f64")
    is_num = kind in _NUM_KINDS
    # Deviation from the reference: %tw/%tm/%tq/%th/%ty values count
    # weeks/months/quarters/half-years (since 1960) or calendar years, not
    # days — the reference collapses them all to a day offset
    # (src/stata/polars_output.rs:698-700), which mis-dates those columns;
    # we apply the proper calendar conversion (validated against pandas).
    units = {"d": "date", "w": "date_w", "m": "date_m", "q": "date_q", "h": "date_h", "y": "date_y"}
    if f.startswith("%t") and len(f) >= 3:
        unit, rest = f[2], f[3:]
        if unit in "cC":
            if not allow_dt:
                return None
            if not rest:
                return "datetime"
            # %tc with explicit display tokens: date tokens present -> it
            # renders a full datetime; time-only tokens (e.g. %tcHH:MM:SS)
            # -> time-of-day ns. (Deviation: the reference nulls the
            # date-token case, src/stata/polars_output.rs:630-635.)
            return "datetime" if any(c in "CcYyNnDd" for c in rest) else "time"
        if unit in units:
            return units[unit] if is_num else None
        return None
    if f.startswith("%") and len(f) >= 2:
        unit = f[1]
        if unit in "cC":
            return "datetime" if allow_dt else None
        if unit in units:
            return units[unit] if is_num else None
    return None


# --------------------------------------------------------------- metadata

@stat_keyed_cache
def read_metadata(path: str) -> StataMetadata:
    """Cached per (path, size, mtime_ns) by stat_keyed_cache — the
    dictionary parse is paid once per file, not once per schema probe /
    partition plan / task."""
    return _read_metadata_uncached(path)


def _read_metadata_uncached(path: str) -> StataMetadata:
    with open(path, "rb") as f:
        head = f.read(1 << 20)
        if head[:11] == b"<stata_dta>":
            # XML-ish: tags are near the front; the map gives us section
            # offsets, value labels may sit at EOF. Parse from full bytes
            # lazily (metadata sections are small, so the 1MB head usually
            # suffices; fall back to full read if not).
            try:
                return _read_meta_bytes(head, path)
            except (EOFError, ValueError):
                # dictionary larger than the 1MB head (huge nvar) — a
                # truncated read can surface as either a short-buffer
                # EOFError or a mid-tag mismatch ValueError; retry full
                f.seek(0)
                return _read_meta_bytes(f.read(), path)
        f.seek(0)
        return _read_meta_bytes(f.read(), path)


def _read_meta_bytes(buf: bytes, path: str) -> StataMetadata:
    c = _Cursor(buf)
    if c.maybe_tag(b"<stata_dta>"):
        c.tag(b"<header>")
        c.tag(b"<release>")
        version = int(c.take(3).decode())
        c.tag(b"</release>")
        c.tag(b"<byteorder>")
        endian = ">" if c.take(3) == b"MSF" else "<"
        c.tag(b"</byteorder>")
        lay = _layout(version)
        c.tag(b"<K>")
        nvar = c.uint(4 if version >= 119 else 2, endian)
        c.tag(b"</K>")
        c.tag(b"<N>")
        nobs = c.uint(8 if version >= 118 else 4, endian)
        c.tag(b"</N>")
        meta = StataMetadata(version, endian, nvar, nobs)
        meta.encoding = "utf-8" if version >= 118 else "cp1252"
        c.tag(b"<label>")
        lab_len = c.uint(2, endian) if version >= 118 else c.u8()
        meta.data_label = _cstr(c.take(lab_len), meta.encoding)
        c.tag(b"</label>")
        c.tag(b"<timestamp>")
        ts_len = c.u8()
        meta.timestamp = _cstr(c.take(ts_len), meta.encoding)
        c.tag(b"</timestamp>")
        c.tag(b"</header>")
        c.tag(b"<map>")
        m = [c.uint(8, endian) for _ in range(14)]
        c.tag(b"</map>")
        meta.data_offset = m[9] + len(b"<data>")
        meta.strls_offset = m[10]
        meta.value_labels_offset = m[11]
        typlist = _read_typlist(c, nvar, lay, endian, xml=True)
        names = _read_table(c, nvar, lay["name_len"], meta.encoding, b"<varnames>", b"</varnames>")
        c.tag(b"<sortlist>")
        c.take((nvar + 1) * lay["srt_len"])
        c.tag(b"</sortlist>")
        fmts = _read_table(c, nvar, lay["fmt_len"], meta.encoding, b"<formats>", b"</formats>")
        lbls = _read_table(
            c, nvar, lay["lbl_len"], meta.encoding, b"<value_label_names>", b"</value_label_names>"
        )
        vlabs = _read_table(
            c, nvar, lay["vlabel_len"], meta.encoding, b"<variable_labels>", b"</variable_labels>"
        )
        _build_vars(meta, typlist, names, fmts, lbls, vlabs, lay)
        _read_value_labels_xmlish(meta, path)
        return meta

    # binary (v102-115)
    version = c.u8()
    byteorder = c.u8()
    endian = ">" if byteorder == 0x01 else "<"
    c.take(2)  # filetype, unused
    lay = _layout(version)
    nvar = c.uint(2, endian)
    nobs = c.uint(2, endian) if version == 102 else c.uint(4, endian)
    meta = StataMetadata(version, endian, nvar, nobs)
    meta.encoding = "cp1252"
    meta.data_label = _cstr(c.take(lay["data_label_len"]), meta.encoding)
    if lay["timestamp_len"]:
        meta.timestamp = _cstr(c.take(lay["timestamp_len"]), meta.encoding)
    typlist = _read_typlist(c, nvar, lay, endian, xml=False)
    names = _read_table(c, nvar, lay["name_len"], meta.encoding)
    c.take((nvar + 1) * lay["srt_len"])
    fmts = _read_table(c, nvar, lay["fmt_len"], meta.encoding)
    lbls = _read_table(c, nvar, lay["lbl_len"], meta.encoding)
    vlabs = _read_table(c, nvar, lay["vlabel_len"], meta.encoding)
    _build_vars(meta, typlist, names, fmts, lbls, vlabs, lay)
    # expansion fields
    if lay["exp_len_len"]:
        while True:
            dtp = c.u8()
            ln = c.uint(lay["exp_len_len"], endian)
            if dtp == 0 and ln == 0:
                break
            if dtp != 1 or ln > (1 << 20):
                raise ValueError("invalid expansion field")
            c.take(ln)
    meta.data_offset = c.pos
    meta.value_labels_offset = meta.data_offset + meta.record_len * meta.nobs
    _read_value_labels_binary(meta, buf)
    return meta


def _read_typlist(c: _Cursor, nvar: int, lay: dict, endian: str, xml: bool) -> list[int]:
    if xml:
        c.tag(b"<variable_types>")
    raw = c.take(nvar * lay["typ_len"])
    if xml:
        c.tag(b"</variable_types>")
    if lay["typ_len"] == 1:
        return list(raw)
    fmt = ("<" if endian == "<" else ">") + "H"
    return [struct.unpack_from(fmt, raw, 2 * i)[0] for i in range(nvar)]


def _read_table(
    c: _Cursor, nvar: int, entry_len: int, encoding: str, start: bytes = b"", end: bytes = b""
) -> list[str]:
    if start:
        c.tag(start)
    raw = c.take(nvar * entry_len)
    if end:
        c.tag(end)
    return [_cstr(raw[i * entry_len : (i + 1) * entry_len], encoding) for i in range(nvar)]


def _typecode(code: int, version: int) -> tuple[str, int]:
    if version >= 117:
        m = {0xFFFA: ("i8", 1), 0xFFF9: ("i16", 2), 0xFFF8: ("i32", 4), 0xFFF7: ("f32", 4), 0xFFF6: ("f64", 8)}
        if code in m:
            return m[code]
        if code == 0x8000:
            return ("strl", 8)
        return ("str", code)
    if version >= 111:
        m = {0xFB: ("i8", 1), 0xFC: ("i16", 2), 0xFD: ("i32", 4), 0xFE: ("f32", 4), 0xFF: ("f64", 8)}
        if code in m:
            return m[code]
        return ("str", code)
    if code < 0x7F:
        m = {ord("b"): ("i8", 1), ord("i"): ("i16", 2), ord("l"): ("i32", 4), ord("f"): ("f32", 4), ord("d"): ("f64", 8)}
        if code in m:
            return m[code]
        raise ValueError(f"invalid type code {code}")
    return ("str", code - 0x7F)


def _build_vars(meta, typlist, names, fmts, lbls, vlabs, lay) -> None:
    for i in range(meta.nvar):
        kind, width = _typecode(typlist[i], meta.version)
        v = Variable(
            name=names[i] or f"v{i}",
            kind=kind,
            width=width,
            fmt=fmts[i],
            label_name=lbls[i],
            var_label=vlabs[i],
        )
        v.temporal = temporal_kind(v.fmt, v.kind) if kind in _NUM_KINDS else None
        meta.variables.append(v)


# ------------------------------------------------------------ value labels

def _parse_vl_modern(meta: StataMetadata, table: bytes) -> dict[int, str]:
    endian = "little" if meta.endian == "<" else "big"
    n = int.from_bytes(table[0:4], endian)
    txtlen = int.from_bytes(table[4:8], endian)
    if txtlen > len(table) - 8 or n > (len(table) - 8 - txtlen) // 8:
        return {}
    off = [int.from_bytes(table[8 + 4 * i : 12 + 4 * i], endian) for i in range(n)]
    vals_start = 8 + 4 * n
    txt_start = 8 + 8 * n
    txt = table[txt_start : txt_start + txtlen]
    out: dict[int, str] = {}
    for i in range(n):
        o = off[i]
        if o >= txtlen:
            continue
        label = _cstr(txt[o:], meta.encoding)
        if not label:
            continue
        v = int.from_bytes(table[vals_start + 4 * i : vals_start + 4 * i + 4], endian, signed=True)
        # sentinel-range values (missing codes) are not label keys
        if v <= 0x7FFFFFE4 or meta.version < 113:
            out[v] = label
    return out


def _read_value_labels_xmlish(meta: StataMetadata, path: str) -> None:
    if not meta.value_labels_offset:
        return
    with open(path, "rb") as f:
        f.seek(meta.value_labels_offset)
        buf = f.read()
    c = _Cursor(buf)
    try:
        c.tag(b"<value_labels>")
    except (ValueError, EOFError):
        return
    lay = _layout(meta.version)
    while c.maybe_tag(b"<lbl>"):
        ln = c.uint(4, meta.endian)
        labname = _cstr(c.take(lay["vl_name_len"]), meta.encoding)
        c.take(lay["vl_pad"])
        table = c.take(ln)
        c.tag(b"</lbl>")
        if ln >= 8:
            meta.value_labels[labname] = _parse_vl_modern(meta, table)


def _read_value_labels_binary(meta: StataMetadata, buf: bytes) -> None:
    off = meta.value_labels_offset
    if not off or off >= len(buf):
        return
    c = _Cursor(buf)
    c.pos = off
    lay = _layout(meta.version)
    while True:
        try:
            if lay["vl_len_len"] == 2:
                ln = c.uint(2, meta.endian)
            else:
                ln = c.uint(4, meta.endian)
            labname = _cstr(c.take(lay["vl_name_len"]), meta.encoding)
            c.take(lay["vl_pad"])
            table = c.take(ln)
        except (EOFError, ValueError):
            break
        if lay["vl_len_len"] == 2:
            # v<105: n 8-byte label slots, value = slot index
            mapping = {}
            for i in range(ln // 8):
                lab = _cstr(table[8 * i : 8 * i + 8], meta.encoding)
                if lab:
                    mapping[i] = lab
            meta.value_labels[labname] = mapping
        elif ln >= 8:
            meta.value_labels[labname] = _parse_vl_modern(meta, table)


# ----------------------------------------------------------------- strls

def load_strls(path: str, meta: StataMetadata) -> dict[tuple[int, int], str]:
    """Load the GSO long-string heap (v117+), keyed by (v, o)."""
    out: dict[tuple[int, int], str] = {}
    if meta.version < 117 or meta.strls_offset is None:
        return out
    with open(path, "rb") as f:
        f.seek(meta.strls_offset)
        buf = f.read((meta.value_labels_offset or 0) - meta.strls_offset or -1)
    c = _Cursor(buf)
    c.tag(b"<strls>")
    while True:
        tag = c.take(3)
        if tag == b"GSO":
            v = c.uint(4, meta.endian)
            o = c.uint(8 if meta.version >= 118 else 4, meta.endian)
            if meta.version == 118:
                v &= 0xFFFF
                o &= 0x0000_FFFF_FFFF_FFFF
            elif meta.version >= 119:  # (v, o) row refs are 3+5 bytes wide
                v &= 0xFF_FFFF
                o &= 0x00FF_FFFF_FFFF
            typ = c.u8()
            ln = c.uint(4, meta.endian)
            data = c.take(ln)
            if typ == 0x82:  # NUL-terminated string payload
                out[(v, o)] = _decode_lenient(data.rstrip(b"\0"), meta.encoding)
            else:  # 0x81: binary payload without terminator -> best-effort text
                out[(v, o)] = _decode_lenient(data, meta.encoding)
        elif tag == b"</s":
            break
        else:
            raise ValueError(f"invalid strls tag {tag!r}")
    return out


def _decode_lenient(b: bytes, encoding: str) -> str:
    try:
        return b.decode(encoding)
    except (UnicodeDecodeError, LookupError):
        return b.decode("latin-1")


# ----------------------------------------------------------------- decode

def _missing_int_sentinel(kind: str, version: int) -> int:
    if version >= 113:
        return {"i8": 101, "i16": 32741, "i32": 2147483621}[kind]
    return {"i8": 127, "i16": 32767, "i32": 2147483647}[kind]


def decode_records(
    raw: bytes,
    meta: StataMetadata,
    columns: list[str] | None = None,
    strl_map: dict[tuple[int, int], str] | None = None,
    opts: ReadOptions | None = None,
    row_offset: int = 0,
) -> dict[str, pa.Array]:
    """Vectorized decode of a block of fixed-width records.

    One numpy structured view over the whole block; per-column ops only.
    """
    opts = opts or ReadOptions()
    nrows = len(raw) // meta.record_len if meta.record_len else 0
    sel = _select(meta.variables, columns)

    fields = []
    pos = 0
    sel_names = {v.name for v in sel}
    for v in meta.variables:
        fname = f"f{len(fields)}"
        if v.name in sel_names:
            if v.kind in _NUM_KINDS:
                np_code = meta.endian + _NUM_KINDS[v.kind][0]
            elif v.kind == "str":
                np_code = f"S{v.width}"
            else:  # strl
                np_code = "V8"
            fields.append((fname, np_code, pos, v.name))
        pos += v.width
    dt = np.dtype(
        {
            "names": [f[0] for f in fields],
            "formats": [f[1] for f in fields],
            "offsets": [f[2] for f in fields],
            "itemsize": meta.record_len,
        }
    )
    rec = np.frombuffer(raw, dtype=dt, count=nrows)

    out: dict[str, pa.Array] = {}
    by_name = {f[3]: f[0] for f in fields}
    mode = opts.null_mode()
    for v in sel:
        val = _decode_column(rec[by_name[v.name]], v, meta, strl_map, opts)
        if opts.tracks_nulls(v.name, v.kind in _NUM_KINDS):
            from ..nulls import combine

            ind = _indicator_column(rec[by_name[v.name]], v, meta)
            out.update(combine(v.name, val, ind, mode, opts.informative_null_suffix))
        else:
            out[v.name] = val
    if opts.row_index:
        out["_row_idx"] = pa.array(np.arange(row_offset, row_offset + nrows, dtype=np.int64))
    return out


def _decode_column(arr, v: Variable, meta: StataMetadata, strl_map, opts: ReadOptions) -> pa.Array:
    labels = meta.value_labels.get(v.label_name) if v.label_name else None
    use_labels = opts.value_labels_as_strings and labels and v.kind in _NUM_KINDS

    if v.kind in ("i8", "i16", "i32"):
        vals = arr.astype({"i8": np.int8, "i16": np.int16, "i32": np.int32}[v.kind], copy=True)
        mask = vals >= _missing_int_sentinel(v.kind, meta.version)
        if meta.version < 113:
            mask = vals > {"i8": 0x7E, "i16": 0x7FFE, "i32": 0x7FFFFFFE}[v.kind]
        if use_labels:
            return _labeled(vals.astype(np.int64), mask, labels)
        if v.temporal:
            return _temporal(vals.astype(np.int64), mask, v.temporal)
        return pa.array(vals, mask=mask)

    if v.kind in ("f32", "f64"):
        f_np = np.float32 if v.kind == "f32" else np.float64
        u_np = np.uint32 if v.kind == "f32" else np.uint64
        a = np.ascontiguousarray(arr)
        if not a.dtype.isnative:
            a = a.byteswap().view(a.dtype.newbyteorder())  # bit-exact (NaN payloads survive)
        bits = a.view(u_np)
        if v.kind == "f32":
            sign = (bits & np.uint32(0x8000_0000)) != 0
            high = bits > np.uint32(0x7EFF_FFFF)
            sysmiss = bits == np.uint32(0x7F00_0000)
        else:
            sign = (bits & np.uint64(0x8000_0000_0000_0000)) != 0
            high = bits > np.uint64(0x7FDF_FFFF_FFFF_FFFF)
            sysmiss = bits == np.uint64(0x7FE0_0000_0000_0000)
        tagged = (~sign) & high
        mask = tagged & sysmiss
        vals = a.astype(f_np, copy=True)
        vals[tagged & ~sysmiss] = np.nan  # .a-.z -> NaN (reference behavior)
        if use_labels:
            return _labeled_float(vals, mask, labels)
        if v.temporal:
            return _temporal(_float_to_i64(vals, mask), mask, v.temporal)
        return pa.array(vals, mask=mask)

    if v.kind == "str":
        u8 = np.ascontiguousarray(arr).view(np.uint8).reshape(-1, v.width)
        return fixed_width_strings(
            u8, meta.encoding, null_empty=opts.missing_string_as_null, trim_spaces=True
        )

    # strl: 8-byte (v, o) refs into the GSO heap.
    # Byte split per version: v117 -> u32+u32; v118 -> 2+6; v119 -> 3+5.
    b = np.ascontiguousarray(arr).view(np.uint8).reshape(-1, 8)
    use_le = meta.endian == "<"
    if meta.version >= 118:
        vbytes = 2 if meta.version == 118 else 3
        obytes = 8 - vbytes
        vv = np.zeros(len(b), dtype=np.uint32)
        oo = np.zeros(len(b), dtype=np.uint64)
        if use_le:
            for k in range(vbytes):
                vv |= b[:, k].astype(np.uint32) << (8 * k)
            for k in range(obytes):
                oo |= b[:, vbytes + k].astype(np.uint64) << (8 * k)
        else:
            for k in range(vbytes):
                vv |= b[:, k].astype(np.uint32) << (8 * (vbytes - 1 - k))
            for k in range(obytes):
                oo |= b[:, vbytes + k].astype(np.uint64) << (8 * (obytes - 1 - k))
    else:
        order = "<u4" if meta.endian == "<" else ">u4"
        both = np.ascontiguousarray(b).view(order).reshape(-1, 2)
        vv, oo = both[:, 0].astype(np.uint32), both[:, 1].astype(np.uint64)
    # materialize via unique+take: (v, o) packs into one uint64 (v117:
    # 32+32 bits, v118: 16+48, v119: 24+40), Python touches only the
    # distinct heap refs
    sm = strl_map or {}
    shift = np.uint64(8 * obytes if meta.version >= 118 else 32)
    keys = (vv.astype(np.uint64) << shift) | oo
    uniq = np.unique(keys)
    inv = np.searchsorted(uniq, keys).astype(np.int64)  # see _dict_inverse
    null_empty = opts.missing_string_as_null
    lut_vals: list[str | None] = []
    for k in uniq.tolist():
        a, c = k >> int(shift), k & ((1 << int(shift)) - 1)
        if a == 0 and c == 0:
            lut_vals.append(None)
        else:
            s = sm.get((a, c), "")
            lut_vals.append(None if (null_empty and not s) else s)
    lut = pa.array(lut_vals, type=pa.string())
    return lut.take(pa.array(inv.astype(np.int64)))


# indicator lookup: 0 -> no indicator (null), 1..26 -> '.a'..'.z'
# built on first decode (module must stay numpy-free at import time —
# planning workers import it for metadata only, see _lazy.py)
_TAG_LUT = None


def _tag_lut():
    global _TAG_LUT
    if _TAG_LUT is None:
        _TAG_LUT = np.array([""] + [f".{chr(ord('a') + i)}" for i in range(26)])
    return _TAG_LUT


def _indicator_column(arr, v: Variable, meta: StataMetadata) -> pa.Array:
    """Tagged-missing indicator ('.a'..'.z') per value; null otherwise.

    Mirrors the reference's separate-column informative-null mode
    (src/stata/value.rs:146-278: offset 0 = system missing -> no
    indicator; 1..26 -> .a..z). Pre-v113 integer storage has no extended
    missings (src/stata/value.rs:19-33: system_missing_enabled false) so
    those columns yield all-null indicators, but float/double tagged
    missings use the same bit patterns in every version and are decoded
    regardless.
    """
    if v.kind in ("i8", "i16", "i32"):
        if meta.version < 113:  # no .a-.z in pre-113 int storage
            return pa.array([None] * len(arr), type=pa.string())
        vals = np.asarray(arr).astype(np.int64)
        off = vals - _missing_int_sentinel(v.kind, meta.version)
    else:
        a = np.ascontiguousarray(arr)
        if not a.dtype.isnative:
            a = a.byteswap().view(a.dtype.newbyteorder())
        if v.kind == "f32":
            bits = a.view(np.uint32).astype(np.int64)
            off = (bits - 0x7F000000) // 0x80000
        else:
            bits = a.view(np.uint64)
            off = (bits - np.uint64(0x7FE0000000000000)).astype(np.int64)
    k = np.where((off >= 1) & (off <= 26), off, 0)
    return pa.array(_tag_lut()[k], type=pa.string(), mask=k == 0)


def _float_to_i64(vals: np.ndarray, mask: np.ndarray) -> np.ndarray:
    safe = np.where(mask | ~np.isfinite(vals), 0.0, vals)
    return safe.astype(np.int64)  # truncation toward zero, like a cast


def _ym_to_days(years: np.ndarray, months0: np.ndarray) -> np.ndarray:
    """(calendar year, 0-based month) -> days since 1970 (proleptic)."""
    m = (years - 1970) * 12 + months0
    return m.astype("datetime64[M]").astype("datetime64[D]").astype(np.int64)


def _temporal(i64: np.ndarray, mask: np.ndarray, kind: str) -> pa.Array:
    safe = np.where(mask, 0, i64)
    if kind == "date":
        return pa.array((safe - STATA_EPOCH_OFFSET_DAYS).astype(np.int32), type=pa.date32(), mask=mask)
    if kind == "datetime":
        # µs precision: Spark's Python-DataSource Arrow bridge rejects ms
        return pa.array((safe - STATA_EPOCH_OFFSET_MS) * 1000, type=pa.timestamp("us"), mask=mask)
    if kind == "time":
        ns = ((safe % DAY_MS) + DAY_MS) % DAY_MS * 1_000_000
        return pa.array(ns, mask=mask)
    if kind == "time_null":
        # %tc with date tokens displayed as time -> all null
        return pa.array(np.zeros(len(i64), dtype=np.int64), mask=np.ones(len(i64), dtype=bool))
    if kind == "date_w":  # weeks since 1960: 52 fixed weeks/year, wk*7 days into the year
        year = 1960 + safe // 52
        days = _ym_to_days(year, np.zeros(len(safe), dtype=np.int64)) + (safe % 52) * 7
        return pa.array(days.astype(np.int32), type=pa.date32(), mask=mask)
    if kind == "date_m":
        days = _ym_to_days(1960 + safe // 12, safe % 12)
    elif kind == "date_q":
        days = _ym_to_days(1960 + safe // 4, (safe % 4) * 3)
    elif kind == "date_h":
        days = _ym_to_days(1960 + safe // 2, (safe % 2) * 6)
    else:  # date_y: the value is the calendar year itself
        days = _ym_to_days(safe, np.zeros(len(safe), dtype=np.int64))
    return pa.array(days.astype(np.int32), type=pa.date32(), mask=mask)


def _dict_inverse(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(uniq, inverse-index) for integer arrays, ~3-30x faster than
    np.unique(return_inverse=True): a dense-range LUT when the value
    span is small (labeled columns: codes cluster near zero), else one
    sort + searchsorted. Not NaN-safe — integer dtypes only."""
    uniq = np.unique(vals)
    if not len(uniq):
        return uniq, np.zeros(0, dtype=np.int64)
    span = int(uniq[-1]) - int(uniq[0])
    if 0 <= span <= max(len(vals), 1 << 20):
        table = np.zeros(span + 1, dtype=np.int64)
        table[(uniq - uniq[0]).astype(np.int64)] = np.arange(len(uniq))
        inv = table[(vals - uniq[0]).astype(np.int64)]
    else:
        inv = np.searchsorted(uniq, vals).astype(np.int64)
    return uniq, inv


def _labeled(vals: np.ndarray, mask: np.ndarray, labels: dict[int, str]) -> pa.Array:
    """Label decode via unique+take: Python touches only the distinct
    values (labeled columns are low-cardinality by nature), the per-row
    materialization is one Arrow take."""
    uniq, inv = _dict_inverse(vals)
    lut = pa.array([labels.get(int(u), str(int(u))) for u in uniq], type=pa.string())
    idx = pa.array(inv, mask=mask)  # null index -> null row
    return lut.take(idx)


def _labeled_float(vals: np.ndarray, mask: np.ndarray, labels: dict[int, str]) -> pa.Array:
    def decode(u: np.float64) -> str:
        xf = float(u)
        if xf.is_integer() and int(xf) in labels:
            return labels[int(xf)]
        return _fmt_float(xf)

    uniq, inv = np.unique(vals, return_inverse=True)
    lut = pa.array([decode(u) for u in uniq], type=pa.string())
    idx = pa.array(inv.astype(np.int64), mask=mask)
    return lut.take(idx)


def _fmt_float(x: float) -> str:
    if x != x:  # NaN
        return "NaN"
    if x.is_integer():
        return str(int(x))
    return repr(x)


def fixed_width_strings(
    u8: np.ndarray, encoding: str, null_empty: bool, trim_spaces: bool
) -> pa.Array:
    """Vectorized fixed-width -> string decode with C-string semantics:
    stop at the first NUL, trim trailing spaces, ""->null optional.

    Builds Arrow offsets+data buffers directly (no per-row Python in the
    common ASCII/UTF-8 case).
    """
    n, w = u8.shape
    if n == 0:
        return pa.array([], type=pa.string())
    idx = np.arange(w)
    rows = np.arange(n)
    # argmax + single-element gather instead of a full .any() reduce
    # (r13: replaces two O(n*w) reductions and the repeat+arange gather
    # construction below with one boolean-mask extraction — ~20% off the
    # whole string decode, output bit-identical)
    is_nul = u8 == 0
    fn = is_nul.argmax(axis=1)
    first_nul = np.where(u8[rows, fn] == 0, fn, w)
    if trim_spaces:
        keep = (idx[None, :] < first_nul[:, None]) & (u8 != 0x20)
    else:
        keep = idx[None, :] < first_nul[:, None]
    last = keep[:, ::-1].argmax(axis=1)
    has_any = keep[rows, w - 1 - last]
    length = np.where(has_any, w - last, 0).astype(np.int64)

    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(length, out=offsets[1:])
    # each value is a PREFIX of its fixed-width row (only trailing bytes
    # trimmed), so the packed data buffer is one boolean-mask gather
    data = np.ascontiguousarray(u8)[idx[None, :] < length[:, None]]

    mask = length == 0 if null_empty else None
    if encoding in ("utf-8", "ascii") or not (data & 0x80).any():
        try:
            arr = pa.Array.from_buffers(
                pa.large_binary(),
                n,
                [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data.tobytes())],
            ).cast(pa.string())
            if mask is not None and mask.any():
                import pyarrow.compute as pc

                arr = pc.if_else(pa.array(~mask), arr, pa.scalar(None, pa.string()))
            return arr
        except pa.ArrowInvalid:
            pass  # declared UTF-8 but invalid payload -> lossy fallback below
    # per-row decode fallback; on invalid bytes fall back to latin-1
    # per value (files sometimes declare UTF-8 but hold legacy bytes)
    blob = data.tobytes()
    vals = []
    for i in range(n):
        if mask is not None and mask[i]:
            vals.append(None)
            continue
        chunk = blob[offsets[i] : offsets[i + 1]]
        try:
            vals.append(chunk.decode(encoding))
        except (UnicodeDecodeError, LookupError):
            vals.append(chunk.decode("latin-1"))
    return pa.array(vals, type=pa.string())


# ------------------------------------------------------------ arrow schema

def arrow_field(v: Variable, meta: StataMetadata, opts: ReadOptions) -> pa.Field:
    labeled = opts.value_labels_as_strings and bool(meta.value_labels.get(v.label_name))
    if v.kind in _NUM_KINDS and labeled:
        t = pa.string()
    elif v.temporal in ("date", "date_w", "date_m", "date_q", "date_h", "date_y"):
        t = pa.date32()
    elif v.temporal == "datetime":
        t = pa.timestamp("us")
    elif v.temporal in ("time", "time_null"):
        t = pa.int64()  # ns-of-day (Spark has no TimeType; documented)
    elif v.kind == "i8":
        t = pa.int8()
    elif v.kind == "i16":
        t = pa.int16()
    elif v.kind == "i32":
        t = pa.int32()
    elif v.kind == "f32":
        t = pa.float32()
    elif v.kind == "f64":
        t = pa.float64()
    else:
        t = pa.string()
    return pa.field(v.name, t)


def _select(variables, columns):
    """Projection honoring the requested column order (reference P1)."""
    if columns is None:
        return list(variables)
    by_name = {v.name: v for v in variables}
    return [by_name[c] for c in columns if c in by_name]


def arrow_schema(meta: StataMetadata, opts: ReadOptions, columns: list[str] | None = None) -> pa.Schema:
    from ..nulls import informative_fields

    sel = _select(meta.variables, columns)
    mode = opts.null_mode()
    fields = []
    for v in sel:
        f = arrow_field(v, meta, opts)
        if opts.tracks_nulls(v.name, v.kind in _NUM_KINDS):
            fields.extend(informative_fields(v.name, f.type, mode, opts.informative_null_suffix))
        else:
            fields.append(f)
    if opts.row_index:
        fields.append(pa.field("_row_idx", pa.int64()))
    return pa.schema(fields)


# --------------------------------------------------------------- readers

def read_partition(
    path: str,
    start: int,
    count: int,
    columns: list[str] | None,
    opts: ReadOptions | None = None,
    batch_size: int = 65536,
):
    """Arrow record batches for rows [start, start+count): the O(1)-seek
    fixed-width byte range the partition planner hands executors."""
    opts = opts or ReadOptions()
    meta = read_metadata(path)
    need_strl = any(
        v.kind == "strl" for v in meta.variables if columns is None or v.name in set(columns)
    )
    strl_map = load_strls(path, meta) if need_strl else None
    schema = arrow_schema(meta, opts, columns)

    def decode(raw: bytes, first: int):
        cols = decode_records(raw, meta, columns, strl_map, opts, row_offset=first)
        return pa.record_batch([cols[n] for n in schema.names], schema=schema)

    yield from fixed_records(
        path, meta.data_offset, meta.record_len, start, count, batch_size, decode
    )


def read_table(
    path: str,
    columns: list[str] | None = None,
    offset: int = 0,
    limit: int | None = None,
    opts: ReadOptions | None = None,
) -> pa.Table:
    """Eager read -> Arrow table (the S5 builder analogue)."""
    opts = opts or ReadOptions()
    meta = read_metadata(path)
    start = min(offset, meta.nobs)
    count = meta.nobs - start if limit is None else max(0, min(limit, meta.nobs - start))
    return pa.Table.from_batches(
        read_partition(path, start, count, columns, opts), schema=arrow_schema(meta, opts, columns)
    )

"""SPSS .sav/.zsav parser: metadata + vectorized decode to Arrow.

Behavioral parity targets (cited into /root/reference as a format spec):
- header ($FL2/$FL3, layout-code endian probe, bias): src/spss/header.rs:7-51
- dictionary records 2/3/4/6/7/999, subtypes 3/13/14/20/21/22:
  src/spss/metadata.rs:136-232; very-long-string coalescing :234-264;
  format classes :366-376 (20/23/24/38/39 date, 21/25 time, 22/41 datetime)
- missing rules: system 0xFFEFFFFFFFFFFFFF + LOWEST/HIGHEST + NaN; up to
  3 discrete user doubles or [low,high]+discrete; missing strings
  (src/spss/data.rs:14-16, 908-936)
- temporal: seconds since 1582-10-14, shift 12_219_379_200 s, truncate
  then convert (src/spss/data.rs:17, 1350-1369)
- string semantics: cut at declared length, drop NULs (UTF-8), trim
  trailing space/NUL, all-blank -> null (src/spss/data.rs:805-878)
- RLE bytecode: 0 pad, 252 EOF, 253 literal, 254 spaces, 255 sysmiss,
  else value-bias (src/spss/data.rs:1521-1591)
- zsav: zheader + zlib blocks + ztrailer block index
  (src/spss/data.rs:1687-1810)

Rows are sequences of 8-byte segments; uncompressed files decode through
one numpy structured view per partition (splittable by row range).
Compressed variants decode sequentially (single partition — scale across
files), mirroring the reference (src/spss/polars_output.rs:403-405).
"""

from __future__ import annotations

import os
import struct
import zlib
from dataclasses import dataclass, field

from ..._lazy import lazy_import
from ..._metacache import stat_keyed_cache
from .. import fixed_records

# numpy/pyarrow are decode-path-only; planning workers (schema/
# partitions) import this module for metadata and must not pay
# their ~140 ms import cost — see _lazy.py
np = lazy_import("numpy", globals(), "np")
pa = lazy_import("pyarrow", globals(), "pa")

# plain ints (not np.uint64) so the module imports numpy-free; numpy
# comparisons/assignments against uint64 arrays accept Python ints of
# this magnitude with identical semantics
SAV_MISSING = 0xFFEFFFFFFFFFFFFF
SAV_LOWEST = 0xFFEFFFFFFFFFFFFE
SAV_HIGHEST = 0x7FEFFFFFFFFFFFFF
SPSS_SEC_SHIFT = 12_219_379_200
SEC_PER_DAY = 86_400

_ENCODING_CODES = {
    2: "cp1252", 3: "cp1252", 1252: "cp1252", 65001: "utf-8",
    1250: "cp1250", 1251: "cp1251", 1253: "cp1253", 1254: "cp1254",
    1255: "cp1255", 1256: "cp1256", 1257: "cp1257", 1258: "cp1258",
    437: "cp437", 850: "cp850", 852: "cp852", 855: "cp855", 857: "cp857",
    858: "cp858", 860: "cp860", 861: "cp861", 862: "cp862", 863: "cp863",
    864: "cp864", 865: "cp865", 866: "cp866", 869: "cp869", 874: "cp874",
    932: "shift_jis", 936: "gbk", 949: "euc-kr", 950: "big5",
    28591: "latin-1", 28592: "iso8859-2", 28593: "iso8859-3",
    28594: "iso8859-4", 28595: "iso8859-5", 28596: "iso8859-6",
    28597: "iso8859-7", 28598: "iso8859-8", 28599: "iso8859-9",
    28605: "iso8859-15", 20866: "koi8-r", 21866: "koi8-u",
    51932: "euc-jp", 51936: "gbk", 51949: "euc-kr", 54936: "gb18030",
}


@dataclass
class Variable:
    name: str
    short_name: str
    is_str: bool
    width: int  # 8-byte segments in the row
    string_len: int  # declared byte length (0 for numeric)
    format_type: int
    format_class: str | None  # date | datetime | time | None
    label: str = ""
    value_label: str = ""
    offset: int = 0  # segment offset within the row
    missing_range: bool = False
    missing_doubles: list[float] = field(default_factory=list)
    missing_strings: list[str] = field(default_factory=list)
    # very-long-string (subtype 14) physical segmentation: per-segment
    # record byte widths. Non-final segments carry 252 DATA bytes inside
    # a 256-byte record slot; the final segment is exact. Empty for
    # ordinary variables.
    vls_segments: list[int] = field(default_factory=list)


@dataclass
class SpssMetadata:
    endian: str = "<"
    compression: int = 0  # 0 none, 1 RLE bytecode, 2 zsav
    row_count: int = 0
    bias: float = 100.0
    variables: list[Variable] = field(default_factory=list)
    data_offset: int = 0
    encoding: str = "cp1252"
    data_label: str = ""
    # label-set name -> {key(bits int or str): label}
    value_labels: dict[str, dict] = field(default_factory=dict)

    @property
    def n_segments(self) -> int:
        return sum(v.width for v in self.variables)

    @property
    def record_len(self) -> int:
        return self.n_segments * 8

    @property
    def column_widths(self) -> dict[str, int]:
        return {v.name: 8 * v.width for v in self.variables}

    @property
    def split_unit(self) -> str:
        return "rows" if self.compression == 0 else "rle"


@dataclass
class ReadOptions:
    value_labels_as_strings: bool = True
    missing_string_as_null: bool = True
    user_missing_as_null: bool = True
    row_index: bool = False
    # P6 informative nulls: indicator per column with user-declared
    # missings (numeric missing values/ranges, or declared missing
    # strings) — the value's label (if any), the stringified value for
    # discrete missings, or 'MISSING' for range hits
    # (src/spss/data.rs:938-992). System missing -> null indicator.
    # Modes: "separate"/True, "struct", "merged" (formats/nulls.py).
    informative_nulls: bool | str = False
    informative_null_columns: list[str] | None = None
    # reference SeparateColumn { suffix } (its default "_null"; ours
    # "__missing" — documented deviation, configurable per scan)
    informative_null_suffix: str = "__missing"
    # reference InformativeNullOpts.use_value_labels (default true):
    # indicator strings use the missing value's label when one exists;
    # False emits the raw value string instead
    informative_null_use_value_labels: bool = True

    def null_mode(self):
        from ..nulls import normalize_mode

        return normalize_mode(self.informative_nulls)

    def tracks_nulls(self, v) -> bool:
        if self.null_mode() is None:
            return False
        eligible = (not v.is_str and (v.missing_doubles or v.missing_range)) or (
            v.is_str and v.missing_strings
        )
        if not eligible:
            return False
        cols = self.informative_null_columns
        return cols is None or v.name in cols


def _format_class(code: int) -> str | None:
    if code in (20, 23, 24, 38, 39):
        return "date"
    if code in (21, 25):
        return "time"
    if code in (22, 41):
        return "datetime"
    return None


# ---------------------------------------------------------------- metadata

class _R:
    def __init__(self, f):
        self.f = f
        self.endian = "<"

    def take(self, n: int) -> bytes:
        b = self.f.read(n)
        if len(b) < n:
            raise EOFError("truncated .sav file")
        return b

    def u32(self) -> int:
        return struct.unpack(self.endian + "I", self.take(4))[0]

    def i32(self) -> int:
        return struct.unpack(self.endian + "i", self.take(4))[0]

    def f64(self) -> float:
        return struct.unpack(self.endian + "d", self.take(8))[0]


def _trim(b: bytes, encoding: str) -> str:
    end = len(b)
    while end > 0 and b[end - 1] in (0, 0x20):
        end -= 1
    return b[:end].decode(encoding, errors="replace").strip()


@stat_keyed_cache
def read_metadata(path: str) -> SpssMetadata:
    """Cached per (path, size, mtime_ns) by stat_keyed_cache — the
    dictionary parse is paid once per file, not once per schema probe /
    partition plan / task."""
    return _read_metadata_uncached(path)


def _read_metadata_uncached(path: str) -> SpssMetadata:
    meta = SpssMetadata()
    with open(path, "rb") as f:
        head = f.read(176)
        if head[:4] not in (b"$FL2", b"$FL3"):
            raise ValueError("invalid SPSS header magic")
        layout_le = struct.unpack("<i", head[64:68])[0]
        meta.endian = "<" if layout_le in (2, 3) else ">"
        e = meta.endian
        meta.compression = struct.unpack(e + "i", head[72:76])[0]
        meta.row_count = max(struct.unpack(e + "i", head[80:84])[0], -1)
        meta.bias = struct.unpack(e + "d", head[84:92])[0]
        meta.data_label = _trim(head[109:173], "latin-1")
        if head[:4] == b"$FL3" and meta.compression == 0:
            meta.compression = 2  # zsav magic implies zlib

        r = _R(f)
        r.endian = e
        pending_labels: list[tuple[list[bytes], list[str], list[int]]] = []
        raw_records: list[tuple[int, bytes]] = []
        current_offset = 0
        last_var: Variable | None = None

        while True:
            rec = r.u32()
            if rec == 2:  # variable
                buf = r.take(28)
                typ = struct.unpack(e + "i", buf[0:4])[0]
                has_label = struct.unpack(e + "i", buf[4:8])[0]
                n_missing = struct.unpack(e + "i", buf[8:12])[0]
                print_fmt = struct.unpack(e + "I", buf[12:16])[0]
                name = buf[20:28]
                label_raw = b""
                if has_label:
                    ln = r.u32()
                    label_raw = r.take((ln + 3) // 4 * 4)[:ln]
                missing_raw = b""
                if n_missing:
                    missing_raw = r.take(abs(n_missing) * 8)
                if typ < 0:  # string continuation
                    if last_var is None:
                        raise ValueError("string continuation without base variable")
                    last_var.width += 1
                    current_offset += 1
                    continue
                v = Variable(
                    name=name.decode("latin-1").strip().rstrip("\0").upper(),
                    short_name="",
                    is_str=typ > 0,
                    width=1,
                    string_len=typ if typ > 0 else 0,
                    format_type=(print_fmt >> 16) & 0xFF,
                    format_class=_format_class((print_fmt >> 16) & 0xFF),
                    offset=current_offset,
                )
                v.short_name = v.name
                v.label = label_raw.decode("latin-1", "replace").strip()  # re-decoded later
                if n_missing:
                    if n_missing < 0:
                        v.missing_range = True
                    cnt = abs(n_missing)
                    for i in range(cnt):
                        chunk = missing_raw[8 * i : 8 * i + 8]
                        if v.is_str:
                            v.missing_strings.append(_trim(chunk, "latin-1"))
                        else:
                            v.missing_doubles.append(struct.unpack(e + "d", chunk)[0])
                current_offset += 1
                meta.variables.append(v)
                last_var = v
            elif rec == 3:  # value labels
                cnt = r.u32()
                raws, labels = [], []
                for _ in range(cnt):
                    raw = r.take(8)
                    ln = r.take(1)[0]
                    padded = (ln + 8) // 8 * 8 - 1
                    lab = r.take(padded)[:ln]
                    raws.append(raw)
                    labels.append(lab.decode("latin-1", "replace").strip())
                rec4 = r.u32()
                if rec4 != 4:
                    raise ValueError("value label record not followed by type 4")
                var_cnt = r.u32()
                offs = [r.u32() for _ in range(var_cnt)]
                pending_labels.append((raws, labels, offs))
            elif rec == 6:  # documents
                n_lines = r.u32()
                r.take(n_lines * 80)
            elif rec == 7:  # extension
                subtype = r.u32()
                size = r.u32()
                count = r.u32()
                raw_records.append((subtype, r.take(size * count)))
            elif rec == 999:
                r.u32()  # filler
                meta.data_offset = f.tell()
                break
            else:
                raise ValueError(f"unknown SPSS record type {rec}")

        # encoding: subtype 20 wins, else subtype 3 integer-info codepage
        for subtype, data in raw_records:
            if subtype == 3 and len(data) >= 32:
                code = struct.unpack(e + "i", data[28:32])[0]
                if code in _ENCODING_CODES:
                    meta.encoding = _ENCODING_CODES[code]
        for subtype, data in raw_records:
            if subtype == 20 and data:
                label = data.decode("ascii", "replace").strip().lower().replace("_", "-")
                try:
                    b"x".decode(label)
                    meta.encoding = label
                except LookupError:
                    if label in ("utf-8", "utf8"):
                        meta.encoding = "utf-8"

        enc = meta.encoding
        for v in meta.variables:
            v.label = v.label  # short labels are ASCII-ish; fine under latin-1

        # subtype 14: very-long-string true lengths (KEY=len entries)
        for subtype, data in raw_records:
            if subtype == 14:
                for entry in data.replace(b"\0", b"").split(b"\t"):
                    if b"=" in entry:
                        k, val = entry.split(b"=", 1)
                        key = k.decode(enc, "replace").strip()
                        try:
                            ln = int(val.decode("ascii", "replace").strip() or "0")
                        except ValueError:
                            continue
                        for v in meta.variables:
                            if v.short_name.upper() == key.upper():
                                v.string_len = ln
                                break

        _coalesce_very_long(meta)

        # subtype 13: long variable names (SHORT=Long entries)
        for subtype, data in raw_records:
            if subtype == 13:
                for entry in data.replace(b"\0", b"").split(b"\t"):
                    if b"=" in entry:
                        k, val = entry.split(b"=", 1)
                        key = k.decode(enc, "replace").strip()
                        longname = val.decode(enc, "replace").strip()
                        if not key or not longname:
                            continue
                        for v in meta.variables:
                            if v.name.upper() == key.upper():
                                v.name = longname
                                break

        # numeric/short-string value labels (type 3+4): keyed by var offset
        for idx, (raws, labels, offs) in enumerate(pending_labels):
            by_offset = {v.offset: v for v in meta.variables}
            targets = [by_offset[o - 1] for o in offs if (o - 1) in by_offset]
            is_string = any(t.is_str for t in targets)
            mapping: dict = {}
            for raw, lab in zip(raws, labels):
                if not lab:
                    continue
                if is_string:
                    mapping[_trim(raw, enc)] = lab
                else:
                    bits = struct.unpack(e + "Q", raw)[0]
                    mapping[bits] = lab
            name = f"labels{idx}"
            meta.value_labels[name] = mapping
            for t in targets:
                t.value_label = name

        # subtype 21: long-string value labels
        for subtype, data in raw_records:
            if subtype == 21:
                _parse_long_string_labels(data, e, enc, meta)
        # subtype 22: long-string missing values
        for subtype, data in raw_records:
            if subtype == 22:
                _parse_long_string_missing(data, e, enc, meta)

    if meta.row_count < 0:
        meta.row_count = _count_rows(path, meta)
    return meta


def _coalesce_very_long(meta: SpssMetadata) -> None:
    out: list[Variable] = []
    i = 0
    vs = meta.variables
    while i < len(vs):
        v = vs[i]
        if v.is_str and v.string_len > 255:
            n_segments = (v.string_len + 251) // 252
            segs = [x.width * 8 for x in vs[i : i + n_segments]]
            v.width = sum(segs) // 8
            v.vls_segments = segs
            out.append(v)
            i += n_segments
        else:
            out.append(v)
            i += 1
    meta.variables = out


def _parse_long_string_labels(data: bytes, e: str, enc: str, meta: SpssMetadata) -> None:
    pos = 0
    idx = len(meta.value_labels)
    while pos + 4 <= len(data):
        ln = struct.unpack_from(e + "I", data, pos)[0]
        pos += 4
        var_name = data[pos : pos + ln].decode(enc, "replace")
        pos += ln
        if pos + 8 > len(data):
            break
        str_len = struct.unpack_from(e + "I", data, pos)[0]
        pos += 4
        n_labels = struct.unpack_from(e + "I", data, pos)[0]
        pos += 4
        mapping: dict = {}
        for _ in range(n_labels):
            vlen = struct.unpack_from(e + "I", data, pos)[0]
            pos += 4
            value = _trim(data[pos : pos + vlen], enc)
            pos += vlen
            llen = struct.unpack_from(e + "I", data, pos)[0]
            pos += 4
            lab = _trim(data[pos : pos + llen], enc)
            pos += llen
            if lab:
                mapping[value] = lab
        name = f"labels{idx}"
        idx += 1
        meta.value_labels[name] = mapping
        for v in meta.variables:
            if v.name.upper() == var_name.upper() or v.short_name.upper() == var_name.upper():
                if str_len > 0 and v.string_len < str_len:
                    v.string_len = str_len
                v.value_label = name
                break


def _parse_long_string_missing(data: bytes, e: str, enc: str, meta: SpssMetadata) -> None:
    pos = 0
    while pos + 4 <= len(data):
        ln = struct.unpack_from(e + "I", data, pos)[0]
        pos += 4
        name = data[pos : pos + ln].decode(enc, "replace")
        pos += ln
        if pos >= len(data):
            break
        n_missing = data[pos]
        pos += 1
        if n_missing == 0 or n_missing > 3:
            break
        vlen = struct.unpack_from(e + "I", data, pos)[0]
        pos += 4
        values = []
        for _ in range(n_missing):
            values.append(_trim(data[pos : pos + vlen], enc))
            pos += vlen
        for v in meta.variables:
            if v.name == name:
                v.missing_strings = values
                break


# ------------------------------------------------------------ decompression

def _decompress_rle(raw: bytes, endian: str, bias: float, max_units: int | None = None) -> bytes:
    """RLE bytecode -> flat 8-byte-unit stream.

    Two-phase vectorized decode: a light sequential scan walks the
    control chunks recording one (code, literal-offset) pair per emitted
    unit, then numpy materializes all units at once — literal gathers by
    fancy index, constant codes (254 spaces / 255 sysmiss / value-bias)
    from a 256x8 lookup table. ~10x the per-byte Python loop.
    """
    kinds_ba = bytearray()
    chunk_starts: list[int] = []  # payload start per chunk
    chunk_lits: list[int] = []  # number of 253-literals per chunk
    pos, n = 0, len(raw)
    emitted = 0
    cap = max_units if max_units is not None else float("inf")
    # chunk-level scan: only bytes.count / bytes.index (C speed) per chunk
    while pos + 8 <= n:
        ctrl = raw[pos : pos + 8]
        if 252 in ctrl:  # EOF marker: keep codes before it, then stop
            sub = ctrl[: ctrl.index(252)]
            kinds_ba += sub
            chunk_starts.append(pos + 8)
            chunk_lits.append(sub.count(253))
            break
        kinds_ba += ctrl
        n253 = ctrl.count(253)
        chunk_starts.append(pos + 8)
        chunk_lits.append(n253)
        pos += 8 + 8 * n253
        emitted += 8 - ctrl.count(0)
        if emitted >= cap:  # callers slice to exact rows; overshoot <= 7 units
            break

    kinds = np.frombuffer(bytes(kinds_ba), dtype=np.uint8)
    # literal payload offsets, fully vectorized: the j-th 253 of a chunk
    # sits at chunk_payload_start + 8*j
    counts = np.asarray(chunk_lits, dtype=np.int64)
    starts = np.asarray(chunk_starts, dtype=np.int64)
    total_lits = int(counts.sum())
    if total_lits:
        firsts = np.concatenate([[0], np.cumsum(counts)[:-1]])
        within = np.arange(total_lits, dtype=np.int64) - np.repeat(firsts, counts)
        lit_offsets = np.repeat(starts, counts) + 8 * within
    else:
        lit_offsets = np.empty(0, dtype=np.int64)

    k = kinds[kinds != 0]
    out = np.empty((len(k), 8), dtype=np.uint8)
    lut = np.zeros((256, 8), dtype=np.uint8)
    for v in range(252):
        lut[v] = np.frombuffer(struct.pack(endian + "d", float(v) - bias), np.uint8)
    lut[254] = 0x20
    lut[255] = np.frombuffer(struct.pack(endian + "Q", int(SAV_MISSING)), np.uint8)
    non_lit = k != 253
    out[non_lit] = lut[k[non_lit]]
    if len(lit_offsets):
        idx = lit_offsets[:, None] + np.arange(8, dtype=np.int64)
        src = np.frombuffer(raw, dtype=np.uint8)
        if int(lit_offsets[-1]) + 8 > n:  # truncated trailing literals: zero-fill
            src = np.concatenate([src, np.zeros(int(lit_offsets[-1]) + 8 - n, np.uint8)])
        out[~non_lit] = src[idx]
    return out.tobytes()


def _zsav_entries(path: str, meta: SpssMetadata) -> list[tuple[int, int, int, int]]:
    """ztrailer block index: (uncompressed_ofs, compressed_ofs, usize, csize)
    per zlib block (reference read_ztrailer, src/spss/data.rs:1700-1713)."""
    e = meta.endian
    with open(path, "rb") as f:
        f.seek(meta.data_offset)
        zheader_ofs, ztrailer_ofs, _ztrailer_len = struct.unpack(e + "3Q", f.read(24))
        f.seek(ztrailer_ofs)
        head = f.read(24)
        n_blocks = struct.unpack(e + "qqii", head)[3] if len(head) == 24 else 0
        index = f.read(24 * n_blocks)
        if len(head) < 24 or len(index) < 24 * n_blocks:
            raise EOFError(
                f"truncated file {path!r}: the zsav block index at byte offset "
                f"{ztrailer_ofs} runs past the end of the file"
            )
        return [struct.unpack_from(e + "qqii", index, 24 * i) for i in range(n_blocks)]


def _zsav_blocks(path: str, meta: SpssMetadata):
    """Yield decompressed zsav block byte strings in order."""
    with open(path, "rb") as f:
        for _uofs, cofs, usize, csize in _zsav_entries(path, meta):
            f.seek(cofs)
            yield zlib.decompress(f.read(csize)), usize


# ------------------------------------------- parallel compressed planning
#
# The reference decodes compressed SPSS strictly sequentially
# (read_zsav_data, src/spss/data.rs:1687-1761). We go further: a one-pass
# planning scan records, at each zlib block (zsav) or every ~stride bytes
# (sav RLE), the first RLE command-group boundary and the number of
# 8-byte units emitted before it. A command group (8 control bytes +
# 8 bytes per 253-literal) is self-contained, so decoding can restart at
# any recorded boundary with no other state — executors then decode
# disjoint block/byte ranges in parallel. The scan itself is cheap:
# zlib.decompress (C) plus bytes.count per group; it never materializes
# decoded units.

def _walk_groups(buf: bytes, base: int, units: int):
    """Walk command groups in buf; return (first_checkpoint_at_or_after_
    base, units_after, resume_pos, eof). Checkpoint = (pos - base, units
    before pos) for the first group boundary pos >= base."""
    pos, n = 0, len(buf)
    first = None
    while pos + 8 <= n:
        if first is None and pos >= base:
            first = (pos - base, units)
        ctrl = buf[pos : pos + 8]
        if 252 in ctrl:  # EOF marker
            sub = ctrl[: ctrl.index(252)]
            return first, units + len(sub) - sub.count(0), pos, True
        nxt = pos + 8 + 8 * ctrl.count(253)
        if nxt > n:  # literal payload continues in the next block
            return first, units, pos, False
        units += 8 - ctrl.count(0)  # every non-padding code emits one unit
        pos = nxt
    if first is None and pos >= base:
        first = (pos - base, units)  # boundary right at / past block end
    return first, units, pos, False


def zsav_checkpoints(path: str, meta: SpssMetadata) -> list[tuple[int, int] | None]:
    """Per-block RLE recovery points: (skip_bytes_into_block, unit_base)
    for the first command-group boundary in each block, or None when a
    group straddles the whole block (possible only for blocks smaller
    than one group, i.e. never in practice)."""
    cps: list[tuple[int, int] | None] = []
    tail = b""
    units = 0
    done = False
    with open(path, "rb") as f:
        for _uofs, cofs, usize, csize in _zsav_entries(path, meta):
            if done:
                cps.append(None)
                continue
            f.seek(cofs)
            data = zlib.decompress(f.read(csize))
            buf = tail + data if tail else data
            first, units, pos, done = _walk_groups(buf, len(buf) - len(data), units)
            cps.append(first)
            tail = buf[pos:]
    return cps


def sav_checkpoints(path: str, meta: SpssMetadata, stride: int) -> list[tuple[int, int]]:
    """(file_offset, unit_base) recovery points for raw .sav RLE, one at
    the first command-group boundary after each `stride` bytes of input."""
    cps: list[tuple[int, int]] = []
    units = 0
    abs_pos = meta.data_offset  # file offset of buf[0]
    next_mark = abs_pos
    tail = b""
    with open(path, "rb") as f:
        f.seek(abs_pos)
        while True:
            data = f.read(8 << 20)
            buf = tail + data if tail else data
            pos, n = 0, len(buf)
            done = False
            while pos + 8 <= n:
                if abs_pos + pos >= next_mark:
                    cps.append((abs_pos + pos, units))
                    next_mark = abs_pos + pos + max(1, stride)
                ctrl = buf[pos : pos + 8]
                if 252 in ctrl:
                    done = True
                    break
                nxt = pos + 8 + 8 * ctrl.count(253)
                if nxt > n:
                    break
                units += 8 - ctrl.count(0)
                pos = nxt
            if done or not data:
                break
            tail = buf[pos:]
            abs_pos += pos
    return cps


def rle_partition_plan(
    path: str,
    meta: SpssMetadata,
    start: int,
    count: int,
    n_partitions: int,
    target_bytes: int,
) -> list[tuple[int, int, int, int, int]] | None:
    """Split rows [start, start+count) of a compressed file into
    independently-decodable partitions.

    Returns (row_start, row_count, anchor, skip, unit_base) tuples —
    anchor is a block index (zsav) or file offset (sav RLE) — or None
    when splitting isn't worthwhile (small file / single partition).
    """
    rec = meta.record_len
    if count <= 0 or rec == 0:
        return None
    # splits of at most target_bytes of whole records (the caller sizes
    # the target to the scan, datasource.split_target)
    n = n_partitions if n_partitions > 0 else min(count, -(-(count * rec) // target_bytes))
    if n <= 1:
        return None
    if meta.compression == 2:
        raw_cps = zsav_checkpoints(path, meta)
        cps = [(i, skip, ub) for i, c in enumerate(raw_cps) if c for skip, ub in [c]]
    else:
        raw = sav_checkpoints(path, meta, max(1, (count * rec) // (n * 4)))
        cps = [(ofs, 0, ub) for ofs, ub in raw]
    if not cps:
        return None
    upr = meta.n_segments
    per = (count + n - 1) // n
    out = []
    pos = start
    while pos < start + count:
        take = min(per, start + count - pos)
        # latest checkpoint at or before this partition's first unit
        best = cps[0]
        for c in cps:
            if c[2] <= pos * upr:
                best = c
            else:
                break
        out.append((pos, take, best[0], best[1], best[2]))
        pos += take
    return out


def read_rle_partition(
    path: str,
    start: int,
    count: int,
    columns: list[str] | None,
    opts: ReadOptions,
    batch_size: int,
    anchor: int,
    skip: int,
    unit_base: int,
):
    """Decode rows [start, start+count) from a recovery point: decompress
    only the blocks/bytes this partition needs, never the whole stream."""
    meta = read_metadata(path)
    schema = arrow_schema(meta, opts, columns)
    rec = meta.record_len
    need_units = (start + count) * meta.n_segments - unit_base
    # 9 bytes of RLE input per unit (control + literal) is the hard bound
    # when padding appears only at stream end (true of real writers);
    # retry doubles the target for the pathological case.
    target = skip + need_units * 9 + 16
    if meta.compression == 2:
        entries = _zsav_entries(path, meta)

        def _stream(tgt: int) -> bytes:
            bufs, got = [], 0
            with open(path, "rb") as f:
                for _uofs, cofs, usize, csize in entries[anchor:]:
                    f.seek(cofs)
                    bufs.append(zlib.decompress(f.read(csize)))
                    got += len(bufs[-1])
                    if got >= tgt:
                        break
            return b"".join(bufs)[skip:]
    else:

        def _stream(tgt: int) -> bytes:
            with open(path, "rb") as f:
                f.seek(anchor)
                return f.read(tgt)

    units = _decompress_rle(_stream(target), meta.endian, meta.bias, need_units)
    while len(units) < need_units * 8:
        grown = target * 2
        data = _stream(grown)
        units = _decompress_rle(data, meta.endian, meta.bias, need_units)
        if grown >= len(data) + skip and len(units) < need_units * 8:
            break  # stream exhausted — trailing short read
        target = grown
    lo = start * rec - unit_base * 8
    raw = _declared_rows(path, units[lo : lo + count * rec], rec, count)
    for done in range(0, count, batch_size):
        cols = decode_records(raw[done * rec : (done + batch_size) * rec], meta, columns, opts,
                              row_offset=start + done)
        yield pa.record_batch([cols[n] for n in schema.names], schema=schema)


def _data_units(path: str, meta: SpssMetadata, max_units: int | None = None) -> bytes:
    """All row bytes (decompressed if needed) as a flat buffer."""
    if meta.compression == 0:
        with open(path, "rb") as f:
            f.seek(meta.data_offset)
            return f.read() if max_units is None else f.read(max_units * 8)
    if meta.compression == 2:
        stream = b"".join(b for b, _ in _zsav_blocks(path, meta))
        return _decompress_rle(stream, meta.endian, meta.bias, max_units)
    with open(path, "rb") as f:
        f.seek(meta.data_offset)
        return _decompress_rle(f.read(), meta.endian, meta.bias, max_units)


def _count_rows(path: str, meta: SpssMetadata) -> int:
    rec = meta.record_len
    if rec == 0:
        return 0
    if meta.compression == 0:
        return (os.path.getsize(path) - meta.data_offset) // rec
    return len(_data_units(path, meta)) // rec


# ----------------------------------------------------------------- decode

def _fmt_double(x: float) -> str:
    if x != x:
        return "NaN"
    if x.is_integer() and abs(x) < 1e15:
        return str(int(x))
    return repr(x)


def decode_records(
    raw: bytes,
    meta: SpssMetadata,
    columns: list[str] | None = None,
    opts: ReadOptions | None = None,
    row_offset: int = 0,
) -> dict[str, pa.Array]:
    opts = opts or ReadOptions()
    rec = meta.record_len
    nrows = len(raw) // rec if rec else 0
    raw = raw[: nrows * rec]
    sel = _select(meta.variables, columns)

    names, formats, offsets = [], [], []
    for i, v in enumerate(meta.variables):
        if v not in sel:
            continue
        names.append(f"f{i}")
        formats.append(meta.endian + "f8" if not v.is_str else f"S{v.width * 8}")
        offsets.append(v.offset * 8)
    dt = np.dtype({"names": names, "formats": formats, "offsets": offsets, "itemsize": rec})
    arr = np.frombuffer(raw, dtype=dt, count=nrows)

    out: dict[str, pa.Array] = {}
    mode = opts.null_mode()
    for i, v in enumerate(meta.variables):
        if v not in sel:
            continue
        val = _decode_column(arr[f"f{i}"], v, meta, opts)
        if opts.tracks_nulls(v):
            from ..nulls import combine

            if v.is_str:
                ind = _string_indicator_column(
                    arr[f"f{i}"], v, meta, opts.informative_null_use_value_labels
                )
            else:
                ind = _indicator_column(
                    arr[f"f{i}"], v, meta, opts.informative_null_use_value_labels
                )
            out.update(combine(v.name, val, ind, mode, opts.informative_null_suffix))
        else:
            out[v.name] = val
    if opts.row_index:
        out["_row_idx"] = pa.array(np.arange(row_offset, row_offset + nrows, dtype=np.int64))
    return out


def _decode_column(col, v: Variable, meta: SpssMetadata, opts: ReadOptions) -> pa.Array:
    labels = meta.value_labels.get(v.value_label) if v.value_label else None
    use_labels = opts.value_labels_as_strings and bool(labels)

    if not v.is_str:
        a = np.ascontiguousarray(col)
        if not a.dtype.isnative:
            a = a.byteswap().view(a.dtype.newbyteorder())
        bits = a.view(np.uint64)
        vals = a.astype(np.float64, copy=True)
        mask = (bits == SAV_MISSING) | (bits == SAV_LOWEST) | (bits == SAV_HIGHEST) | np.isnan(vals)
        if opts.user_missing_as_null and v.missing_doubles:
            if v.missing_range and len(v.missing_doubles) >= 2:
                lo = min(v.missing_doubles[0], v.missing_doubles[1])
                hi = max(v.missing_doubles[0], v.missing_doubles[1])
                mask |= (~mask) & (vals >= lo) & (vals <= hi)
                if len(v.missing_doubles) >= 3:
                    mask |= bits == np.array(v.missing_doubles[2], dtype=np.float64).view(np.uint64)
            else:
                for md in v.missing_doubles:
                    mask |= bits == np.array(md, dtype=np.float64).view(np.uint64)
        if use_labels:
            return _labeled_numeric(vals, bits, mask, labels)
        if v.format_class == "date":
            secs = np.trunc(np.where(mask, 0, vals)).astype(np.int64) - SPSS_SEC_SHIFT
            # reference divides the shifted i64 (truncation toward zero)
            days = (np.abs(secs) // SEC_PER_DAY) * np.sign(secs)
            return pa.array(days.astype(np.int32), type=pa.date32(), mask=mask)
        if v.format_class == "datetime":
            us = (np.trunc(np.where(mask, 0, vals)).astype(np.int64) - SPSS_SEC_SHIFT) * 1_000_000
            return pa.array(us, type=pa.timestamp("us"), mask=mask)
        if v.format_class == "time":
            ns = np.trunc(np.where(mask, 0, vals)).astype(np.int64) * 1_000_000_000
            return pa.array(ns, mask=mask)
        return pa.array(vals, mask=mask)

    # string column
    u8 = np.ascontiguousarray(col).view(np.uint8).reshape(-1, v.width * 8)
    u8 = _vls_squeeze(u8, v)
    cut = v.string_len if 0 < v.string_len <= u8.shape[1] else u8.shape[1]
    u8 = u8[:, :cut]
    vals = _decode_strings(u8, meta.encoding)
    missing_set = set(v.missing_strings) if opts.user_missing_as_null else set()
    out = []
    for s in vals:
        if opts.missing_string_as_null and not s:
            out.append(None)
        elif s in missing_set:
            out.append(None)
        elif use_labels and s in labels:
            out.append(labels[s])
        else:
            out.append(s)
    return pa.array(out, type=pa.string())


def _vls_squeeze(u8: np.ndarray, v) -> np.ndarray:
    """Drop very-long-string segment padding: each non-final segment's
    record slot holds only its first 252 bytes of DATA (the remainder is
    space padding SPSS inserts to fill the 255-byte segment variable) —
    naive concatenation would splice those pad bytes into the middle of
    the value. No-op for ordinary variables."""
    segs = getattr(v, "vls_segments", None)
    if not segs or len(segs) < 2:
        return u8
    parts, off = [], 0
    for k, w in enumerate(segs):
        take = min(252, w) if k < len(segs) - 1 else w
        parts.append(u8[:, off : off + take])
        off += w
    return np.hstack(parts)


def _decode_strings(u8: np.ndarray, encoding: str) -> list[str]:
    """Decode with the reference's data-string trim: strip only the
    trailing run of spaces/NULs (src/spss/data.rs:840-843) — leading
    whitespace and interior control characters are significant."""
    n = len(u8)
    blob = u8.tobytes()
    w = u8.shape[1] if n else 0
    out = []
    for i in range(n):
        chunk = blob[i * w : (i + 1) * w].rstrip(b" \0")
        try:
            out.append(chunk.decode(encoding))
        except (UnicodeDecodeError, LookupError):
            out.append(chunk.decode("latin-1"))
    return out


def _indicator_column(col, v: Variable, meta: SpssMetadata, use_labels: bool = True) -> pa.Array:
    """User-missing indicator (src/spss/data.rs:944-992): label if the
    missing value is labeled, else the value string (discrete) or
    'MISSING' (range); system sentinels/NaN -> null."""
    a = np.ascontiguousarray(col)
    if not a.dtype.isnative:
        a = a.byteswap().view(a.dtype.newbyteorder())
    bits = a.view(np.uint64)
    vals = a.astype(np.float64, copy=False)
    system = (bits == SAV_MISSING) | (bits == SAV_LOWEST) | (bits == SAV_HIGHEST) | np.isnan(vals)
    labels = meta.value_labels.get(v.value_label, {}) if use_labels else {}
    out: list[str | None] = [None] * len(vals)
    if v.missing_range and len(v.missing_doubles) >= 2:
        lo = min(v.missing_doubles[0], v.missing_doubles[1])
        hi = max(v.missing_doubles[0], v.missing_doubles[1])
        in_range = (~system) & (vals >= lo) & (vals <= hi)
        for i in np.nonzero(in_range)[0]:
            out[i] = labels.get(int(bits[i]), "MISSING")
        if len(v.missing_doubles) >= 3:
            third = np.array(v.missing_doubles[2], dtype=np.float64).view(np.uint64)
            for i in np.nonzero((~system) & (bits == third))[0]:
                out[i] = labels.get(int(bits[i]), _fmt_double(float(vals[i])))
    else:
        miss_bits = {int(np.array(m, dtype=np.float64).view(np.uint64)) for m in v.missing_doubles}
        for i in range(len(vals)):
            if not system[i] and int(bits[i]) in miss_bits:
                out[i] = labels.get(int(bits[i]), _fmt_double(float(vals[i])))
    return pa.array(out, type=pa.string())


def _string_indicator_column(col, v, meta, use_labels: bool = True) -> pa.Array:
    """Declared-missing-string indicator: the declared value's label if
    one exists, else the string itself; null when not user-missing."""
    u8 = np.ascontiguousarray(col).view(np.uint8).reshape(len(col), -1)
    u8 = _vls_squeeze(u8, v)
    cut = v.string_len if 0 < v.string_len <= u8.shape[1] else u8.shape[1]
    vals = _decode_strings(u8[:, :cut], meta.encoding)
    labels = meta.value_labels.get(v.value_label, {}) if use_labels else {}
    missing = set(v.missing_strings)
    out = [labels.get(s, s) if s in missing else None for s in vals]
    return pa.array(out, type=pa.string())


def _labeled_numeric(vals, bits, mask, labels: dict) -> pa.Array:
    """Python touches only the distinct bit patterns; rows materialize
    via one Arrow take (null index -> null row)."""
    # unique without return_inverse + searchsorted: ~3x faster inverse
    # (bits are uint64 views, so the NaN ordering caveat doesn't apply)
    uniq = np.unique(bits)
    inverse = np.searchsorted(uniq, bits)
    uniq_vals = uniq.view(np.float64)
    lut = pa.array(
        [labels.get(b, _fmt_double(x)) for b, x in zip(uniq.tolist(), uniq_vals.tolist())],
        type=pa.string(),
    )
    idx = pa.array(inverse.astype(np.int64), mask=np.asarray(mask))
    return lut.take(idx)


# ------------------------------------------------------------ arrow schema

def arrow_field(v: Variable, meta: SpssMetadata, opts: ReadOptions) -> pa.Field:
    if opts.value_labels_as_strings and meta.value_labels.get(v.value_label):
        return pa.field(v.name, pa.string())
    if v.is_str:
        return pa.field(v.name, pa.string())
    if v.format_class == "date":
        return pa.field(v.name, pa.date32())
    if v.format_class == "datetime":
        return pa.field(v.name, pa.timestamp("us"))
    if v.format_class == "time":
        return pa.field(v.name, pa.int64())
    return pa.field(v.name, pa.float64())


def _select(variables, columns):
    if columns is None:
        return list(variables)
    by_name = {v.name: v for v in variables}
    return [by_name[c] for c in columns if c in by_name]


def arrow_schema(
    meta: SpssMetadata, opts: ReadOptions, columns: list[str] | None = None
) -> pa.Schema:
    from ..nulls import informative_fields

    sel = _select(meta.variables, columns)
    mode = opts.null_mode()
    fields = []
    for v in sel:
        f = arrow_field(v, meta, opts)
        if opts.tracks_nulls(v):
            fields.extend(informative_fields(v.name, f.type, mode, opts.informative_null_suffix))
        else:
            fields.append(f)
    if opts.row_index:
        fields.append(pa.field("_row_idx", pa.int64()))
    return pa.schema(fields)


# --------------------------------------------------------------- readers

def read_table(
    path: str,
    columns: list[str] | None = None,
    offset: int = 0,
    limit: int | None = None,
    opts: ReadOptions | None = None,
) -> pa.Table:
    opts = opts or ReadOptions()
    meta = read_metadata(path)
    start = min(offset, meta.row_count)
    count = meta.row_count - start if limit is None else max(0, min(limit, meta.row_count - start))
    return pa.Table.from_batches(
        read_partition(path, start, count, columns, opts), schema=arrow_schema(meta, opts, columns)
    )


def read_partition(
    path: str,
    start: int,
    count: int,
    columns: list[str] | None,
    opts: ReadOptions | None = None,
    batch_size: int = 65536,
):
    """DataSource partition read: yields Arrow record batches."""
    opts = opts or ReadOptions()
    meta = read_metadata(path)
    schema = arrow_schema(meta, opts, columns)
    rec = meta.record_len

    def decode(raw: bytes, first: int):
        cols = decode_records(raw, meta, columns, opts, row_offset=first)
        return pa.record_batch([cols[n] for n in schema.names], schema=schema)

    if meta.compression == 0:
        yield from fixed_records(path, meta.data_offset, rec, start, count, batch_size, decode)
        return
    units = _data_units(path, meta, max_units=(start + count) * meta.n_segments)
    raw = _declared_rows(path, units[start * rec : (start + count) * rec], rec, count)
    for done in range(0, count, batch_size):
        yield decode(raw[done * rec : (done + batch_size) * rec], start + done)


def _declared_rows(path: str, raw: bytes, rec: int, count: int) -> bytes:
    """``raw`` if it holds all ``count`` records the header declared;
    otherwise the compressed stream ended early: EOFError naming the
    file and where it ends."""
    if len(raw) < count * rec:
        raise EOFError(
            f"truncated file {path!r}: compressed data ends at byte offset "
            f"{os.path.getsize(path)}, {count - len(raw) // rec} declared rows missing"
        )
    return raw


def _labels_json(meta: SpssMetadata, name: str) -> str | None:
    """A label set as JSON, double-bit keys rendered as the reference
    stringifies them (src/spss/mod.rs:34-45)."""
    import json

    mapping = meta.value_labels.get(name) if name else None
    if not mapping:
        return None
    out = {}
    for k, lab in mapping.items():
        if isinstance(k, str):
            out[k] = lab
        else:
            out[_fmt_double(struct.unpack("<d", struct.pack("<q", k))[0])] = lab
    return json.dumps(out)


def metadata_frame(spark, path: str):
    meta = read_metadata(path)
    rows = [
        (
            path,
            meta.compression,
            meta.row_count,
            len(meta.variables),
            v.name,
            "str" if v.is_str else "f64",
            v.string_len,
            v.format_type,
            v.label,
            v.value_label,
            len(meta.value_labels.get(v.value_label, {})),
            meta.encoding,
            _labels_json(meta, v.value_label),
        )
        for v in meta.variables
    ]
    return spark.createDataFrame(
        rows,
        "path string, compression int, nobs long, nvar int, name string, kind string, "
        "string_len int, format_type int, var_label string, label_name string, "
        "n_value_labels int, encoding string, value_labels string",
    )

"""SAS Transport (XPORT v5 + v8) reader/writer — beyond the reference
(polars_readstat_rs reads .sas7bdat/.sav/.dta only; .xpt is the
FDA-submission interchange format SAS ships alongside them).

v5 per the public SAS TS-140 spec; v8/v9 per TS140-2 (V8-suffixed
header markers, 32-char member + variable names, LABELV8/LABELV9 long
name/label sections — the NAMESTR array and the data encoding are
byte-identical between versions). The reader auto-detects the version
from the library header; the writer takes ``version=5|8``.

Format: a stream of 80-byte records —
library header, member header, a NAMESTR array (140-byte big-endian
variable descriptors), an OBS header, then fixed-width data records
(numerics are 2-8 byte IBM System/360 doubles, chars are space-padded
ASCII), the whole file space-padded to an 80-byte boundary.

Decode is fully vectorized: one strided numpy view over the record
bytes per column, IBM->IEEE conversion in integer bit math (exact for
every value our writer emits, correctly-rounded otherwise). The
observation count is not stored in the file; it is derived from the
data byte length with the standard trailing-blank-padding heuristic
(same policy as pandas.read_sas's xport path).
"""

from __future__ import annotations

import os
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

_REC = 80
_NAMESTR = 140
_LIB_HDR = b"HEADER RECORD*******LIBRARY HEADER RECORD!!!!!!!"
_MEM_HDR = b"HEADER RECORD*******MEMBER  HEADER RECORD!!!!!!!"
_DSC_HDR = b"HEADER RECORD*******DSCRPTR HEADER RECORD!!!!!!!"
_NAM_HDR = b"HEADER RECORD*******NAMESTR HEADER RECORD!!!!!!!"
_OBS_HDR = b"HEADER RECORD*******OBS     HEADER RECORD!!!!!!!"

# XPORT v8/v9 (TS140-2): same 80-byte record stream, V8-suffixed header
# markers, 32-char member names, and a LABELV8/LABELV9 section between
# the NAMESTR array and the OBS header carrying long variable names
# (<=32 chars) and long labels (<=256); the NAMESTR name field stays 8
# bytes (truncated name).
_LIB_HDR_V8 = b"HEADER RECORD*******LIBV8   HEADER RECORD!!!!!!!"
_MEM_HDR_V8 = b"HEADER RECORD*******MEMBV8  HEADER RECORD!!!!!!!"
_DSC_HDR_V8 = b"HEADER RECORD*******DSCPTV8 HEADER RECORD!!!!!!!"
_NAM_HDR_V8 = b"HEADER RECORD*******NAMSTV8 HEADER RECORD!!!!!!!"
_OBS_HDR_V8 = b"HEADER RECORD*******OBSV8   HEADER RECORD!!!!!!!"
_LBL_HDR_V8 = b"HEADER RECORD*******LABELV8 HEADER RECORD!!!!!!!"
_LBL_HDR_V9 = b"HEADER RECORD*******LABELV9 HEADER RECORD!!!!!!!"


@dataclass
class XportVariable:
    name: str
    label: str
    is_char: bool
    length: int  # bytes in the observation record
    position: int  # byte offset in the observation record
    format: str = ""
    informat: str = ""


@dataclass
class XportMetadata:
    variables: list[XportVariable]
    row_length: int
    row_count: int
    data_offset: int
    dataset_name: str = ""
    dataset_label: str = ""
    created: str = ""
    file_size: int = 0
    version: int = 5  # 5 (TS-140) or 8 (TS140-2 V8/V9 transport)

    split_unit = "rows"

    @property
    def column_widths(self) -> dict[str, int]:
        return {v.name: v.length for v in self.variables}


@dataclass
class ReadOptions:
    """Mirrors the sas7bdat reader's option surface where the format can
    honor it. ``informative_nulls`` supports False / "separate" (tagged
    missing .A-.Z / ._ surface as a companion string column, the
    reference's InformativeNullMode::Separate shape)."""

    missing_string_as_null: bool = True
    row_index: bool = False
    informative_nulls: bool | str = False
    informative_null_columns: list[str] | None = None
    informative_null_suffix: str = "__missing"

    def normalized_mode(self) -> str | None:
        m = self.informative_nulls
        if not m:
            return None
        if m is True or str(m).lower() in ("separate", "true"):
            return "separate"
        raise ValueError(
            f"xport informative_nulls supports only 'separate', got {m!r}"
        )


@stat_keyed_cache
def read_metadata(path: str) -> XportMetadata:
    size = os.path.getsize(path)
    with open(path, "rb") as f:
        head = f.read(min(size, 4 * 1024 * 1024))
    if head.startswith(_LIB_HDR):
        version = 5
    elif head.startswith(_LIB_HDR_V8):
        version = 8
    else:
        raise ValueError(f"{path!r} is not an XPORT v5/v8 file (bad library header)")

    def _find(marker: bytes, start: int) -> int:
        # headers are record-aligned; scan on 80-byte boundaries
        pos = start
        while pos + _REC <= len(head):
            if head[pos : pos + len(marker)] == marker:
                return pos
            pos += _REC
        raise ValueError(f"{path!r}: missing {marker[20:27].decode()} header record")

    mem_hdr, dsc_hdr, nam_hdr, obs_hdr = (
        (_MEM_HDR, _DSC_HDR, _NAM_HDR, _OBS_HDR)
        if version == 5
        else (_MEM_HDR_V8, _DSC_HDR_V8, _NAM_HDR_V8, _OBS_HDR_V8)
    )
    mem = _find(mem_hdr, 0)
    nam = _find(nam_hdr, mem)
    nvars = int(head[nam + 54 : nam + 58])
    # member header data: record after DSCRPTR holds the dataset name
    # (8 chars in v5, 32 in v8); the next holds the 40-char dataset label
    dsc = _find(dsc_hdr, mem)
    mrec = head[dsc + _REC : dsc + 2 * _REC]
    name_end = 16 if version == 5 else 40
    dsname = mrec[8:name_end].decode("ascii", "replace").strip()
    created = mrec[64:80].decode("ascii", "replace").strip()
    lrec = head[dsc + 2 * _REC : dsc + 3 * _REC]
    dslabel = lrec[32:72].decode("ascii", "replace").strip()

    ns0 = nam + _REC
    variables: list[XportVariable] = []
    for i in range(nvars):
        b = head[ns0 + i * _NAMESTR : ns0 + (i + 1) * _NAMESTR]
        if len(b) < _NAMESTR:
            raise ValueError(f"{path!r}: truncated NAMESTR array")
        ntype, _, nlng, _ = struct.unpack_from(">hhhh", b, 0)
        name = b[8:16].decode("ascii", "replace").strip()
        label = b[16:56].decode("ascii", "replace").strip()
        nform = b[56:64].decode("ascii", "replace").strip()
        niform = b[72:80].decode("ascii", "replace").strip()
        # TS-140 NAMESTR: nifl(h)@80, nifd(h)@82, npos(l)@84 — the same
        # '>hhhh8s40s8shhh2s8shhl52s' layout pandas.read_sas unpacks.
        (npos,) = struct.unpack_from(">i", b, 84)
        variables.append(
            XportVariable(
                name=name,
                label=label,
                is_char=ntype == 2,
                length=nlng,
                position=npos,
                format=nform,
                informat=niform,
            )
        )
    # Fallback: files whose npos fields are zero-filled (seen in the
    # wild, and in files from this writer's pre-fix versions that packed
    # npos at offset 88) get positions derived cumulatively from the
    # variable lengths — observation records are densely packed, so the
    # cumulative layout is the spec layout.
    cum = 0
    derived = []
    for v in variables:
        derived.append(cum)
        cum += v.length
    if [v.position for v in variables] != derived and all(
        v.position == 0 for v in variables[1:]
    ):
        for v, p in zip(variables, derived):
            v.position = p
    ns_bytes = nvars * _NAMESTR
    ns_padded = ((ns_bytes + _REC - 1) // _REC) * _REC
    # v8: an optional LABELV8/LABELV9 section sits between the NAMESTR
    # array and the OBS header, carrying (varnum, long name, long label)
    # — and for LABELV9 also long format/informat names (TS140-2).
    lbl = ns0 + ns_padded
    if version == 8 and head[lbl : lbl + len(_LBL_HDR_V8)] in (_LBL_HDR_V8, _LBL_HDR_V9):
        is_v9 = head[lbl : lbl + len(_LBL_HDR_V9)] == _LBL_HDR_V9
        n_entries = int(head[lbl + 48 : lbl + 54].split()[0] or 0)
        p = lbl + _REC
        for _ in range(n_entries):
            if is_v9:
                vn, ln, ll, lf, li = struct.unpack_from(">hhhhh", head, p)
                p += 10
            else:
                vn, ln, ll = struct.unpack_from(">hhh", head, p)
                lf = li = 0
                p += 6
            nm = head[p : p + ln].decode("ascii", "replace")
            p += ln
            lb = head[p : p + ll].decode("ascii", "replace")
            p += ll + lf + li  # long format/informat names: parsed past, not kept
            if 1 <= vn <= nvars:
                if nm:
                    variables[vn - 1].name = nm
                if lb:
                    variables[vn - 1].label = lb
    obs = _find(obs_hdr, ns0 + ns_padded)
    data_offset = obs + _REC

    row_length = sum(v.length for v in variables)
    if row_length <= 0:
        raise ValueError(f"{path!r}: zero-width observation record")
    total = size - data_offset
    n = total // row_length
    # trailing-blank padding: the data section is space-padded to an
    # 80-byte boundary, so only rows overlapping the final 80 bytes can
    # be padding; drop trailing all-blank rows in that window (pandas'
    # xport reader applies the same policy).
    if n > 0:
        tail_start = max(0, total - (_REC + row_length))
        with open(path, "rb") as f:
            f.seek(data_offset + tail_start)
            tail = f.read(total - tail_start)
        while n > 0:
            row_start = (n - 1) * row_length
            rel = row_start - tail_start
            # padding is < 80 bytes, so a padding row necessarily starts
            # inside the final 80; anything earlier is data
            if rel < 0 or (total - row_start) >= _REC:
                break
            if tail[rel : rel + row_length].strip(b" ") == b"":
                n -= 1
            else:
                break
    return XportMetadata(
        variables=variables,
        row_length=row_length,
        row_count=int(n),
        data_offset=data_offset,
        dataset_name=dsname,
        dataset_label=dslabel,
        created=created,
        file_size=size,
        version=version,
    )


def _ibm_to_ieee(raw: np.ndarray, length: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(h, length) uint8 -> (float64 values, null mask, tag chars).

    IBM 360 double: sign bit, 7-bit base-16 exponent biased 64, 56-bit
    fraction. Truncated (2-7 byte) fields are zero-padded on the right.
    SAS missing: first byte '.'(0x2E), 'A'-'Z', or '_' with the rest
    zero -> null (tag recorded for informative-nulls mode).
    """
    h = raw.shape[0]
    full = np.zeros((h, 8), dtype=np.uint8)
    full[:, :length] = raw
    bits = full.view(">u8")[:, 0].astype(np.uint64)

    first = raw[:, 0]
    rest_zero = (bits & np.uint64(0x00FFFFFFFFFFFFFF)) == 0
    is_dot = (first == 0x2E) & rest_zero
    is_tag = (((first >= 0x41) & (first <= 0x5A)) | (first == 0x5F)) & rest_zero
    null = is_dot | is_tag

    sign = np.where((bits >> np.uint64(63)) != 0, -1.0, 1.0)
    expo = ((bits >> np.uint64(56)) & np.uint64(0x7F)).astype(np.int64) - 64
    frac = (bits & np.uint64(0x00FFFFFFFFFFFFFF)).astype(np.float64)
    vals = sign * np.ldexp(frac, 4 * expo - 56)
    vals = np.where(null, np.nan, vals)
    tags = np.where(is_tag, first, np.uint8(0))
    return vals, null, tags


def _ieee_to_ibm(vals: np.ndarray, null: np.ndarray) -> np.ndarray:
    """float64 -> (n, 8) big-endian IBM bytes; nulls encode as '.'.

    Integer bit math: every finite IEEE double with unbiased exponent in
    IBM's range converts exactly (56-bit fraction holds the 53-bit
    mantissa at any of the 4 hex alignments); magnitudes outside clamp
    to IBM max/0 (documented — IBM range is ~5.4e-79..7.2e75)."""
    n = vals.shape[0]
    v = np.where(null, 0.0, vals)
    bits = v.view(np.uint64) if v.dtype == np.float64 else v.astype(np.float64).view(np.uint64)
    sign = (bits >> np.uint64(63)).astype(np.uint64)
    expo = ((bits >> np.uint64(52)) & np.uint64(0x7FF)).astype(np.int64)
    mant = (bits & np.uint64(0xFFFFFFFFFFFFF)).astype(np.uint64)
    normal = expo > 0
    mant = np.where(normal, mant | np.uint64(1 << 52), mant)
    e = np.where(normal, expo - 1023, np.int64(-1022))
    # frac_int = mant << s with s = (e + 260) mod 4; G = (e + 260 - s)//4
    s = ((e + 260) % 4).astype(np.uint64)
    G = (e + 260 - s.astype(np.int64)) // 4
    frac = mant << s
    under = (G < 0) | (v == 0.0)
    over = G > 127
    G = np.clip(G, 0, 127).astype(np.uint64)
    out_bits = (sign << np.uint64(63)) | (G << np.uint64(56)) | frac
    out_bits = np.where(under, np.uint64(0), out_bits)
    out_bits = np.where(
        over,
        (sign << np.uint64(63)) | np.uint64(0x7FFFFFFFFFFFFFFF),
        out_bits,
    )
    out = out_bits.astype(">u8").view(np.uint8).reshape(n, 8).copy()
    # SAS missing '.' = 0x2E then zeros
    out[null] = 0
    out[null, 0] = 0x2E
    return out


def arrow_schema(
    meta: XportMetadata, opts: ReadOptions | None = None, columns: list[str] | None = None
) -> pa.Schema:
    opts = opts or ReadOptions()
    sel = set(columns) if columns is not None else None
    mode = opts.normalized_mode()
    inf_sel = set(opts.informative_null_columns or []) if mode else set()
    fields = []
    if opts.row_index:
        fields.append(pa.field("_row_idx", pa.int64()))
    order = (
        [v for c in columns for v in meta.variables if v.name == c]
        if columns is not None
        else meta.variables
    )
    for v in order:
        if sel is not None and v.name not in sel:
            continue
        fields.append(pa.field(v.name, pa.string() if v.is_char else pa.float64()))
        if mode and not v.is_char and (not inf_sel or v.name in inf_sel):
            fields.append(pa.field(v.name + opts.informative_null_suffix, pa.string()))
    return pa.schema(fields)


def read_partition(
    path: str,
    start: int,
    count: int,
    columns: list[str] | None = None,
    opts: ReadOptions | None = None,
    batch_size: int = 65536,
):
    """Yield Arrow batches for rows [start, start+count) — the O(1)-seek
    fixed-width byte-range unit the partition planner hands executors."""
    opts = opts or ReadOptions()
    meta = read_metadata(path)
    schema = arrow_schema(meta, opts, columns)
    mode = opts.normalized_mode()
    inf_sel = set(opts.informative_null_columns or []) if mode else set()
    sel = set(columns) if columns is not None else None
    order = (
        [v for c in columns for v in meta.variables if v.name == c]
        if columns is not None
        else meta.variables
    )
    rec = meta.row_length

    def decode(buf: bytes, first: int):
        take = len(buf) // rec
        rows = np.frombuffer(buf, dtype=np.uint8, count=take * rec).reshape(take, rec)
        arrays, names = [], []
        if opts.row_index:
            names.append("_row_idx")
            arrays.append(pa.array(np.arange(first, first + take), type=pa.int64()))
        for v in order:
            if sel is not None and v.name not in sel:
                continue
            colbytes = rows[:, v.position : v.position + v.length]
            if v.is_char:
                flat = colbytes.tobytes()
                vals = [
                    flat[i * v.length : (i + 1) * v.length].rstrip(b" ").decode("ascii", "replace")
                    for i in range(take)
                ]
                if opts.missing_string_as_null:
                    vals = [s if s else None for s in vals]
                arrays.append(pa.array(vals, type=pa.string()))
                names.append(v.name)
            else:
                vals, nullmask, tags = _ibm_to_ieee(colbytes, v.length)
                arrays.append(pa.array(vals, type=pa.float64(), mask=nullmask))
                names.append(v.name)
                if mode and (not inf_sel or v.name in inf_sel):
                    tag_strs = [
                        (chr(t) if t else ".") if m else None
                        for t, m in zip(tags.tolist(), nullmask.tolist())
                    ]
                    arrays.append(pa.array(tag_strs, type=pa.string()))
                    names.append(v.name + opts.informative_null_suffix)
        return pa.RecordBatch.from_arrays(arrays, schema=pa.schema(
            [schema.field(n) for n in names]
        ))

    yield from fixed_records(path, meta.data_offset, rec, start, count, batch_size, decode)


def read_table(
    path: str,
    columns: list[str] | None = None,
    opts: ReadOptions | None = None,
) -> pa.Table:
    meta = read_metadata(path)
    batches = list(read_partition(path, 0, meta.row_count, columns, opts))
    schema = arrow_schema(meta, opts or ReadOptions(), columns)
    return pa.Table.from_batches(batches, schema=schema)


# --------------------------------------------------------------- writer

_FIXED_STAMP = "01JAN70:00:00:00"  # deterministic output (no wall clock)


def _pad80(b: bytes) -> bytes:
    return b + b" " * (-len(b) % _REC)


def _hdr(marker: bytes, tail: str = "0" * 30) -> bytes:
    return _pad80(marker + tail.encode("ascii"))


def _str_field(s: str, n: int) -> bytes:
    return s.encode("ascii", "replace")[:n].ljust(n, b" ")


def _sanitize_names(names: list[str], maxlen: int = 8) -> list[str]:
    """XPORT variable names are max 8 ASCII chars in v5 NAMESTRs (and
    max 32 in v8 LABELV8 entries): truncate and uniquify
    deterministically (W1's 32->8 analogue)."""
    out, seen = [], set()
    for nm in names:
        base = "".join(ch for ch in nm if ord(ch) < 128)[:maxlen] or "V"
        cand, i = base, 1
        while cand.upper() in seen:
            suffix = str(i)
            cand = base[: maxlen - len(suffix)] + suffix
            i += 1
        seen.add(cand.upper())
        out.append(cand)
    return out


def encode_sections(
    table: pa.Table, string_widths: dict[str, int] | None = None
) -> tuple[list[XportVariable], bytes]:
    """(variables, raw fixed-width record bytes) for a table chunk —
    the concatenatable unit the distributed writer needs: record bytes
    from different chunks of the same schema concatenate directly."""
    n = table.num_rows
    cols = []
    pos = 0
    variables: list[XportVariable] = []
    names = _sanitize_names(table.column_names)
    for name, short in zip(table.column_names, names):
        col = table.column(name).combine_chunks()
        typ = table.schema.field(name).type
        if pa.types.is_string(typ) or pa.types.is_large_string(typ):
            pylist = col.to_pylist()
            enc = [(x or "").encode("ascii", "replace") for x in pylist]
            width = max(
                [len(e) for e in enc] + [int((string_widths or {}).get(name, 1)), 1]
            )
            buf = np.zeros((n, width), dtype=np.uint8)
            buf[:] = 0x20
            for i, e in enumerate(enc):
                b = e[:width]
                buf[i, : len(b)] = np.frombuffer(b, dtype=np.uint8)
            variables.append(
                XportVariable(short, name if short != name else "", True, width, pos)
            )
            cols.append(buf)
            pos += width
        else:
            arr = col.cast(pa.float64())
            null = np.asarray(arr.is_null())
            vals = np.asarray(arr.fill_null(0.0).to_numpy(zero_copy_only=False), dtype=np.float64)
            buf = _ieee_to_ibm(vals, null)
            variables.append(
                XportVariable(short, name if short != name else "", False, 8, pos)
            )
            cols.append(buf)
            pos += 8
    if not variables:
        raise ValueError("cannot write an XPORT file with zero columns")
    rec = np.concatenate(cols, axis=1) if cols else np.zeros((n, 0), np.uint8)
    return variables, rec.tobytes()


def write_header(
    variables: list[XportVariable],
    dsname: str = "DATA",
    dslabel: str = "",
    version: int = 5,
    long_names: list[str] | None = None,
) -> bytes:
    """XPORT header byte stream. ``version=8`` emits the TS140-2 V8
    markers, a 32-char member name, and — when any entry in
    ``long_names`` (parallel to ``variables``) differs from its
    NAMESTR 8-char name — a LABELV8 section mapping variable number ->
    long name (+ the 40-char label, so v8 long labels round-trip too).
    The NAMESTR layout itself is identical in both versions."""
    if version not in (5, 8):
        raise ValueError(f"xport version must be 5 or 8, got {version}")
    v8 = version == 8
    sas_ver = "6.06" if not v8 else "9.4"
    out = bytearray()
    out += _hdr(_LIB_HDR if not v8 else _LIB_HDR_V8)
    out += _pad80(
        _str_field("SAS", 8)
        + _str_field("SAS", 8)
        + _str_field("SASLIB", 8)
        + _str_field(sas_ver, 8)
        + _str_field("bsd4.2", 8)
        + b" " * 24
        + _str_field(_FIXED_STAMP, 16)
    )
    out += _pad80(_str_field(_FIXED_STAMP, 16))
    out += _hdr(_MEM_HDR if not v8 else _MEM_HDR_V8, "0" * 16 + "01600000000140")
    out += _hdr(_DSC_HDR if not v8 else _DSC_HDR_V8)
    out += _pad80(
        _str_field("SAS", 8)
        + _str_field(dsname.upper(), 8 if not v8 else 32)
        + _str_field("SASDATA", 8)
        + _str_field(sas_ver, 8)
        + _str_field("bsd4.2", 8)
        + (b" " * 24 if not v8 else b"")
        + _str_field(_FIXED_STAMP, 16)
    )
    out += _pad80(_str_field(_FIXED_STAMP, 16) + b" " * 16 + _str_field(dslabel, 40) + _str_field("", 8))
    out += _hdr(_NAM_HDR if not v8 else _NAM_HDR_V8, "000000" + f"{len(variables):04d}" + "0" * 20)
    ns = bytearray()
    for i, v in enumerate(variables):
        b = bytearray(_NAMESTR)
        struct.pack_into(">hhhh", b, 0, 2 if v.is_char else 1, 0, v.length, i + 1)
        b[8:16] = _str_field(v.name.upper(), 8)
        b[16:56] = _str_field(v.label, 40)
        b[56:64] = _str_field(v.format, 8)
        struct.pack_into(">hhh", b, 64, 0, 0, 0)
        b[72:80] = _str_field(v.informat, 8)
        # nifl@80, nifd@82, npos@84 per TS-140 (npos at 88 was a bug:
        # npos-honoring readers saw zero for every variable)
        struct.pack_into(">hhi", b, 80, 0, 0, v.position)
        ns += b
    out += _pad80(bytes(ns))
    if v8 and long_names is not None:
        entries = bytearray()
        n_entries = 0
        for i, (v, ln) in enumerate(zip(variables, long_names)):
            ln = "".join(ch for ch in ln if ord(ch) < 128)[:32]
            if ln and ln.upper() != v.name.upper():
                nm = ln.encode("ascii")
                lb = v.label.encode("ascii", "replace")[:256]
                entries += struct.pack(">hhh", i + 1, len(nm), len(lb)) + nm + lb
                n_entries += 1
        if n_entries:
            out += _hdr(_LBL_HDR_V8, f"{n_entries:05d}" + " " * 25)
            out += _pad80(bytes(entries))
    out += _hdr(_OBS_HDR if not v8 else _OBS_HDR_V8)
    return bytes(out)


def write_xpt(
    table,
    path: str,
    dsname: str = "DATA",
    dslabel: str = "",
    string_widths: dict[str, int] | None = None,
    version: int = 5,
) -> None:
    """Write an Arrow table (or Spark/pandas DataFrame) as XPORT v5 or
    (``version=8``) TS140-2 V8 with 32-char long names in LABELV8."""
    if hasattr(table, "to_arrow"):
        table = table.to_arrow()
    elif not isinstance(table, pa.Table):
        table = pa.Table.from_pandas(table, preserve_index=False)
    variables, data = encode_sections(table, string_widths)
    longs = _sanitize_names(list(table.column_names), 32) if version == 8 else None
    with open(path, "wb") as f:
        f.write(write_header(variables, dsname, dslabel, version, longs))
        f.write(data)
        f.write(b" " * (-len(data) % _REC))


def spill_partition(batches, blob_path: str, declared: dict[str, int] | None = None):
    """Executor side of the distributed .xpt write: encode each Arrow
    batch to a fixed-width record section appended to ``blob_path``.
    Returns [(offset, nbytes, nrows, [(name, is_char, length), ...])]
    per section — commit() re-strides sections to the global column
    widths, so partitions never need to agree on widths up front."""
    sections = []
    off = 0
    with open(blob_path, "wb") as f:
        for batch in batches:
            t = pa.Table.from_batches([batch])
            if t.num_rows == 0:
                continue
            variables, data = encode_sections(t, declared)
            f.write(data)
            sections.append(
                (off, len(data), t.num_rows, [(v.name, v.is_char, v.length) for v in variables])
            )
            off += len(data)
    return sections


def assemble_xpt(
    path: str,
    parts: list[tuple[str, list]],
    dsname: str = "DATA",
    dslabel: str = "",
    column_order: list[str] | None = None,
    string_widths: dict[str, int] | None = None,
    version: int = 5,
) -> None:
    """Driver commit: stream every partition's sections into one .xpt,
    re-striding char columns to the global max width. One section of
    memory at a time — no row materialization. ``version=8`` writes the
    TS140-2 V8 headers with the original (long, <=32-char) column names
    from ``column_order`` in a LABELV8 section; the executors' encoded
    sections are identical in both versions (data bytes carry no
    names), so version is purely a commit-time choice."""
    all_sections = [(blob, s) for blob, secs in parts for s in secs]
    if not all_sections:
        # empty result: header with the declared columns, zero rows.
        # column_order entries may be (name, is_char) pairs or bare
        # names (then char-ness comes from a string_widths declaration).
        cols = [
            c if isinstance(c, tuple) else (c, c in (string_widths or {}))
            for c in (column_order or [])
        ]
        # same validation as the non-empty path below: a string_widths
        # key absent from the schema is a typo and must fail loudly here
        # too, not silently no-op just because the result was empty.
        declared = {n for n, _ in cols}
        stray_sw = sorted(set(string_widths or {}) - declared)
        if stray_sw and declared:
            raise ValueError(
                f"xpt writer: string_widths declares column(s) {stray_sw[:5]} "
                "not present in the written schema"
            )
        variables, pos = [], 0
        shorts = _sanitize_names([n for n, _ in cols])
        for (name, is_char), short in zip(cols, shorts):
            ln = max(1, int((string_widths or {}).get(name, 1))) if is_char else 8
            variables.append(XportVariable(short, name, is_char, ln, pos))
            pos += ln
        if not variables:
            raise ValueError("cannot write an empty XPORT file with no schema")
        longs = _sanitize_names([n for n, _ in cols], 32) if version == 8 else None
        with open(path, "wb") as f:
            f.write(write_header(variables, dsname, dslabel, version, longs))
        return

    first = all_sections[0][1][3]
    names = [n for n, _, _ in first]
    widths = {n: ln for n, c, ln in first}
    for _, (_, _, _, vars_) in all_sections:
        if [n for n, _, _ in vars_] != names:
            raise ValueError("xpt sections disagree on column order")
        for n, c, ln in vars_:
            widths[n] = max(widths[n], ln)
    # Map declared (original-name) widths to section short names via ONE
    # sanitization of the full ordered name list — the same call the
    # executors make in encode_sections — so colliding long names get
    # the identical uniquifying suffixes. Sanitizing each name in
    # isolation would drop the suffix and could hit the wrong column.
    order_names = [c[0] if isinstance(c, tuple) else c for c in (column_order or [])]
    short_of = dict(zip(order_names, _sanitize_names(order_names))) if order_names else {}
    # A column_order that is a subset or reordering of the sections'
    # columns would sanitize to DIFFERENT uniquifying suffixes than the
    # executors used, silently mapping declared widths to the wrong (or
    # no) short name — validate instead of guessing.
    if short_of and not set(short_of.values()) <= set(names):
        stray = sorted(set(short_of.values()) - set(names))[:5]
        raise ValueError(
            "xpt writer: column_order does not match the columns the "
            f"executors encoded (unknown short names {stray}); pass the "
            "full ordered column list used for the write"
        )
    for n, w in (string_widths or {}).items():
        short = short_of.get(n, _sanitize_names([n])[0])
        if short not in widths:
            raise ValueError(
                f"xpt writer: string_widths declares column {n!r} "
                f"(short {short!r}) which is not in the written schema"
            )
        widths[short] = max(widths[short], int(w))
    variables, pos = [], 0
    for n, c, _ in first:
        variables.append(XportVariable(n, "", c, widths[n] if c else 8, pos))
        pos += variables[-1].length
    out_len = pos

    longs = None
    if version == 8:
        if not order_names:
            raise ValueError("xport v8 write needs column_order (the long names)")
        # section order == dataframe column order == column_order order
        long_of = dict(zip(_sanitize_names(order_names), _sanitize_names(order_names, 32)))
        longs = [long_of.get(v.name, v.name) for v in variables]

    total = 0
    with open(path, "wb") as out:
        out.write(write_header(variables, dsname, dslabel, version, longs))
        for blob, (off, nbytes, nrows, vars_) in all_sections:
            with open(blob, "rb") as f:
                f.seek(off)
                data = f.read(nbytes)
            sec_len = sum(ln for _, _, ln in vars_)
            src = np.frombuffer(data, np.uint8).reshape(nrows, sec_len)
            if sec_len == out_len:
                out.write(data)
            else:
                dst = np.full((nrows, out_len), 0x20, dtype=np.uint8)
                spos = 0
                for (n, c, ln), v in zip(vars_, variables):
                    dst[:, v.position : v.position + ln] = src[:, spos : spos + ln]
                    spos += ln
                out.write(dst.tobytes())
            total += nrows
        out.write(b" " * (-(total * out_len) % _REC))

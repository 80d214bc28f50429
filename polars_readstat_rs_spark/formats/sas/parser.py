"""SAS .sas7bdat parser: metadata + page-wise vectorized decode to Arrow.

Behavioral parity targets (cited into /root/reference as a format spec):
- header: magic, byte32 64-bit flag, byte35/32 alignment, byte37 endian,
  byte70 encoding, page length/count (src/sas/header.rs:9-146,
  src/sas/constants.rs:2-8)
- pages: bit offset 32 (64-bit) / 16 (32-bit); types META=0 DATA=256
  MIX1=512 MIX2=640 AMD=1024 METC=16384 (src/sas/page.rs:34-107,
  src/sas/types.rs:30-52)
- metadata subheaders ROW_SIZE/COLUMN_SIZE/COLUMN_TEXT/COLUMN_NAME/
  COLUMN_ATTRS/FORMAT_AND_LABEL with per-format signature tables
  (src/sas/metadata.rs:186-685); compression detected via SASYZCRL /
  SASYZCR2 in the first COLUMN_TEXT payload
- row placement: DATA pages at bit_offset+8 (block_count rows); MIX
  pages after the subheader table with the 4-byte alignment quirk
  (src/sas/data.rs:351-428); compressed files store rows as subheaders
  on META pages, disambiguated from metadata by length<=row_length and
  signature exclusion (src/sas/data.rs:437-519)
- RLE (src/sas/decompressor/rle.rs) and RDC
  (src/sas/decompressor/rdc.rs) decompressors, 16 / 4 command sets
- truncated 3-7 byte doubles padded LE-left / BE-right; any NaN/Inf ->
  null (src/sas/value.rs:58-156)
- format-string -> logical type via DATETIME/DATE/TIME prefix tables,
  DATETIME checked before DATE (src/sas/polars_output.rs:264-280,
  src/sas/constants.rs:23-39); date heuristic: out-of-range day values
  are seconds (src/sas/polars_output.rs:311-329)
- encoding byte table (src/sas/encoding.rs:4-95)
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass, field, replace

from ..._lazy import lazy_import
from ..._metacache import stat_keyed_cache

# numpy/pyarrow are decode-path-only; planning workers (schema/
# partitions) import this module for metadata and must not pay
# their ~140 ms import cost — see _lazy.py
np = lazy_import("numpy", globals(), "np")
pa = lazy_import("pyarrow", globals(), "pa")

MAGIC = bytes(
    [
        0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
        0x00, 0x00, 0x00, 0x00, 0xC2, 0xEA, 0x81, 0x60,
        0xB3, 0x14, 0x11, 0xCF, 0xBD, 0x92, 0x08, 0x00,
        0x09, 0xC7, 0x31, 0x8C, 0x18, 0x1F, 0x10, 0x11,
    ]
)
SAS_EPOCH_OFFSET_DAYS = 3653
SECONDS_PER_DAY = 86400

DATETIME_FORMATS = (
    "DATETIME", "DTWKDATX", "B8601DN", "B8601DT", "B8601DX", "B8601DZ", "B8601LX",
    "E8601DN", "E8601DT", "E8601DX", "E8601DZ", "E8601LX", "DATEAMPM", "DTDATE",
    "DTMONYY", "DTYEAR", "TOD", "MDYAMPM",
)
DATE_FORMATS = (
    "DATE", "DAY", "DDMMYY", "DDMMYYB", "DDMMYYC", "DDMMYYD", "DDMMYYN", "DDMMYYP",
    "DDMMYYS", "JULDAY", "JULIAN", "MMDDYY", "MMDDYYB", "MMDDYYC", "MMDDYYD",
    "MMDDYYN", "MMDDYYP", "MMDDYYS", "MMYY", "MMYYC", "MMYYD", "MMYYN", "MMYYP",
    "MMYYS", "MONNAME", "MONTH", "MONYY", "QTR", "QTRR", "NENGO", "WEEKDATE",
    "WEEKDATX", "WEEKDAY", "WEEKV", "WORDDATE", "WORDDATX", "YEAR", "YYMM", "YYMMC",
    "YYMMD", "YYMMN", "YYMMP", "YYMMS", "YYMMDD", "YYMMDDB", "YYMMDDC", "YYMMDDD",
    "YYMMDDN", "YYMMDDP", "YYMMDDS", "YYMON", "YYQ", "YYQC", "YYQD", "YYQN", "YYQP",
    "YYQS", "YYQR", "YYQRC", "YYQRD", "YYQRN", "YYQRP", "YYQRS",
)
TIME_FORMATS = ("TIME", "HHMM")

# Byte -> canonical encoding name, entry-for-entry with the reference's
# get_encoding_name (src/sas/encoding.rs:4-88).
_ENCODING_NAMES = {
    20: "UTF-8", 28: "US-ASCII", 29: "ISO-8859-1", 30: "ISO-8859-2",
    31: "ISO-8859-3", 32: "ISO-8859-4", 33: "ISO-8859-5", 34: "ISO-8859-6",
    35: "ISO-8859-7", 36: "ISO-8859-8", 37: "ISO-8859-9", 39: "ISO-8859-11",
    40: "ISO-8859-15",
    # Code pages
    41: "CP437", 42: "CP850", 43: "CP852", 44: "CP857", 45: "CP858",
    46: "CP862", 47: "CP864", 48: "CP865", 49: "CP866", 50: "CP869",
    51: "CP874", 52: "CP921", 53: "CP922", 54: "CP1129", 55: "CP720",
    56: "CP737", 57: "CP775", 58: "CP860", 59: "CP863",
    60: "WINDOWS-1250", 61: "WINDOWS-1251", 62: "WINDOWS-1252",
    63: "WINDOWS-1253", 64: "WINDOWS-1254", 65: "WINDOWS-1255",
    66: "WINDOWS-1256", 67: "WINDOWS-1257", 68: "WINDOWS-1258",
    69: "MACROMAN", 70: "MACARABIC", 71: "MACHEBREW", 72: "MACGREEK",
    73: "MACTHAI", 75: "MACTURKISH", 76: "MACUKRAINE",
    # Asian encodings
    118: "CP950", 119: "EUC-TW", 123: "BIG5-HKSCS", 125: "GB18030",
    126: "CP936", 128: "CP1381", 134: "EUC-JP", 136: "CP949", 137: "CP942",
    138: "CP932", 140: "EUC-KR", 141: "CP949", 142: "CP949",
    163: "MACICELAND", 167: "ISO-2022-JP", 168: "ISO-2022-KR",
    169: "ISO-2022-CN", 172: "ISO-2022-CN-EXT",
    205: "GB18030", 227: "ISO-8859-14", 242: "ISO-8859-13",
    245: "MACCROATIAN", 246: "MACCYRILLIC", 247: "MACROMANIA",
    248: "SHIFT_JISX0213",
}

# Canonical name -> Python codec, mirroring the reference's closest-codec
# resolution (src/sas/encoding.rs:91-152): names with no exact Python codec
# get the same nearest superset the reference picks (CP921/CP922/CP1129 ->
# cp1252 default there too; CP942 -> shift_jis; CP1381 / ISO-2022-CN[-EXT]
# -> gb18030; EUC-TW / BIG5-HKSCS -> big5 family; mac variants without a
# Python codec -> mac_roman). ISO-8859-1 keeps true latin-1 semantics
# (reference decode_string special-cases byte 29, encoding.rs:156-161).
_NAME_TO_PY = {
    "UTF-8": "utf-8", "US-ASCII": "cp1252", "ISO-8859-1": "latin-1",
    "ISO-8859-2": "iso8859-2", "ISO-8859-3": "iso8859-3",
    "ISO-8859-4": "iso8859-4", "ISO-8859-5": "iso8859-5",
    "ISO-8859-6": "iso8859-6", "ISO-8859-7": "iso8859-7",
    "ISO-8859-8": "iso8859-8", "ISO-8859-9": "cp1254",
    "ISO-8859-11": "iso8859-11", "ISO-8859-13": "iso8859-13",
    "ISO-8859-14": "iso8859-14", "ISO-8859-15": "iso8859-15",
    "CP437": "cp437", "CP720": "cp720", "CP737": "cp737", "CP775": "cp775",
    "CP850": "cp850", "CP852": "cp852", "CP857": "cp857", "CP858": "cp858",
    "CP860": "cp860", "CP862": "cp862", "CP863": "cp863", "CP864": "cp864",
    "CP865": "cp865", "CP866": "cp866", "CP869": "cp869", "CP874": "cp874",
    "CP921": "iso8859-13", "CP922": "cp1252", "CP1129": "cp1252",
    "WINDOWS-1250": "cp1250", "WINDOWS-1251": "cp1251",
    "WINDOWS-1252": "cp1252", "WINDOWS-1253": "cp1253",
    "WINDOWS-1254": "cp1254", "WINDOWS-1255": "cp1255",
    "WINDOWS-1256": "cp1256", "WINDOWS-1257": "cp1257",
    "WINDOWS-1258": "cp1258",
    "MACROMAN": "mac_roman", "MACARABIC": "mac_arabic",
    "MACHEBREW": "mac_roman", "MACGREEK": "mac_greek", "MACTHAI": "mac_roman",
    "MACTURKISH": "mac_turkish", "MACUKRAINE": "mac_cyrillic",
    "MACICELAND": "mac_iceland", "MACCROATIAN": "mac_croatian",
    "MACCYRILLIC": "mac_cyrillic", "MACROMANIA": "mac_roman",
    "CP950": "cp950", "EUC-TW": "big5", "BIG5-HKSCS": "big5hkscs",
    "GB18030": "gb18030", "CP936": "cp936", "CP1381": "gb18030",
    "EUC-JP": "euc-jp", "CP932": "cp932", "CP942": "shift_jis",
    "SHIFT_JISX0213": "shift_jisx0213", "CP949": "cp949", "EUC-KR": "euc-kr",
    "ISO-2022-JP": "iso2022_jp", "ISO-2022-KR": "iso2022_kr",
    "ISO-2022-CN": "gb18030", "ISO-2022-CN-EXT": "gb18030",
}


def encoding_name(byte: int) -> str:
    """Canonical SAS encoding name for a header byte (reference parity)."""
    return _ENCODING_NAMES.get(byte, "WINDOWS-1252")


def _pyencoding(byte: int) -> str:
    return _NAME_TO_PY.get(encoding_name(byte), "cp1252")


@dataclass
class Column:
    name: str
    label: str
    fmt: str
    is_char: bool
    offset: int  # byte offset within the row
    length: int  # byte length within the row
    kind: str = "numeric"  # numeric | date | datetime | time | char


@dataclass
class SasMetadata:
    endian: str = "<"
    is_catalog: bool = False  # .sas7bcat container (magic byte 15 = 0x63)
    bit64: bool = True
    page_length: int = 0
    page_count: int = 0
    header_length: int = 0
    row_count: int = 0
    row_length: int = 0
    mix_page_row_count: int = 0
    compression: str = ""  # "", "RLE", "RDC"
    columns: list[Column] = field(default_factory=list)
    encoding_byte: int = 0
    encoding: str = "cp1252"
    dataset_name: str = ""
    sas_release: str = ""

    @property
    def column_widths(self) -> dict[str, int]:
        return {c.name: c.length for c in self.columns}

    @property
    def split_unit(self) -> str:
        return "pages" if self.compression else "rows"

    @property
    def page_bit_offset(self) -> int:
        return 32 if self.bit64 else 16

    @property
    def integer_size(self) -> int:
        return 8 if self.bit64 else 4


@dataclass
class ReadOptions:
    missing_string_as_null: bool = True
    row_index: bool = False
    # P6 informative nulls (reference InformativeNullOpts, src/lib.rs:
    # 62-115). Indicator text: '.A'..'.Z' / '._' from the NaN payload
    # bits[47:40] (src/sas/value.rs:171-214), null when the value is
    # present or system-missing. Modes: "separate"/True, "struct",
    # "merged" (see formats/nulls.py).
    informative_nulls: bool | str = False
    informative_null_columns: list[str] | None = None
    # reference SeparateColumn { suffix } (its default "_null"; ours
    # "__missing" — documented deviation, configurable per scan)
    informative_null_suffix: str = "__missing"
    # P5 for SAS (beyond reference): value labels live in a separate
    # .sas7bcat catalog — a pre-loaded {format_name: SasFormat} dict
    # (formats/sas/catalog.py). Columns whose display format matches a
    # catalog entry decode to label strings, mirroring Stata/SPSS
    # value_labels_as_strings.
    catalog_formats: dict | None = None

    def null_mode(self):
        from ..nulls import normalize_mode

        return normalize_mode(self.informative_nulls)

    def tracks_nulls(self, name: str, eligible: bool) -> bool:
        if not eligible or self.null_mode() is None:
            return False
        cols = self.informative_null_columns
        return cols is None or name in cols

    def catalog_format_for(self, c: "Column"):
        if not self.catalog_formats or not c.fmt:
            return None
        if c.kind not in ("numeric", "char"):
            return None  # date/time formats never name catalog entries
        from .catalog import normalize_format_name

        key = normalize_format_name(c.fmt)
        fmt = self.catalog_formats.get(key)
        if fmt is None or fmt.is_char != c.is_char:
            return None
        return fmt


def _column_kind(col_type_char: bool, fmt: str) -> str:
    if col_type_char:
        return "char"
    f = fmt.upper()
    if f:
        # DATETIME before DATE — the prefixes collide
        if any(f.startswith(x) for x in DATETIME_FORMATS):
            return "datetime"
        if any(f.startswith(x) for x in DATE_FORMATS):
            return "date"
        if any(f.startswith(x) for x in TIME_FORMATS):
            return "time"
    return "numeric"


# ---------------------------------------------------------- subheader sigs

def _sigs(bit64: bool):
    if bit64:
        return {
            "row_size": {b"\x00\x00\x00\x00\xf7\xf7\xf7\xf7", b"\xf7\xf7\xf7\xf7\x00\x00\x00\x00", b"\xf7\xf7\xf7\xf7\xff\xff\xfb\xfe"},
            "col_size": {b"\x00\x00\x00\x00\xf6\xf6\xf6\xf6", b"\xf6\xf6\xf6\xf6\x00\x00\x00\x00", b"\xf6\xf6\xf6\xf6\xff\xff\xfb\xfe"},
            "col_text": {b"\xfd\xff\xff\xff\xff\xff\xff\xff", b"\xff\xff\xff\xff\xff\xff\xff\xfd"},
            "col_name": {b"\xff\xff\xff\xff\xff\xff\xff\xff"},
            "col_attrs": {b"\xfc\xff\xff\xff\xff\xff\xff\xff", b"\xff\xff\xff\xff\xff\xff\xff\xfc"},
            "fmt_label": {b"\xfe\xfb\xff\xff\xff\xff\xff\xff", b"\xff\xff\xff\xff\xff\xff\xfb\xfe"},
        }
    return {
        "row_size": {b"\xf7\xf7\xf7\xf7"},
        "col_size": {b"\xf6\xf6\xf6\xf6"},
        "col_text": {b"\xfd\xff\xff\xff", b"\xff\xff\xff\xfd"},
        "col_name": {b"\xff\xff\xff\xff"},
        "col_attrs": {b"\xfc\xff\xff\xff", b"\xff\xff\xff\xfc"},
        "fmt_label": {b"\xfe\xfb\xff\xff", b"\xff\xff\xfb\xfe"},
    }


# --------------------------------------------------------------- metadata

@stat_keyed_cache
def read_metadata(path: str) -> SasMetadata:
    """Parse header + all metadata pages. Cached per (path, size,
    mtime_ns) by stat_keyed_cache: the scan reads every page, so
    repeated open->read paths (schema probe, partition planning,
    partition reads) shouldn't pay it again."""
    return _read_metadata_uncached(path)


def _read_metadata_uncached(path: str) -> SasMetadata:
    meta = SasMetadata()
    with open(path, "rb") as f:
        hdr = f.read(288)
        # byte 15 distinguishes the container: 0x60 = data (.sas7bdat),
        # 0x63 = catalog (.sas7bcat) — both share the page format, and
        # the reference routes both through this reader (detect_format,
        # src/lib.rs:389)
        if not (hdr[:15] == MAGIC[:15] and hdr[15] in (0x60, 0x63) and hdr[16:32] == MAGIC[16:32]):
            raise ValueError("invalid sas7bdat magic number")
        meta.is_catalog = hdr[15] == 0x63
        meta.bit64 = hdr[32] == ord("3")
        align2 = 4 if meta.bit64 else 0
        align1 = 4 if hdr[35] == ord("3") else 0
        meta.endian = "<" if hdr[37] == 0x01 else ">"
        meta.encoding_byte = hdr[70]
        meta.encoding = _pyencoding(hdr[70])
        e = meta.endian
        meta.header_length = struct.unpack_from(e + "I", hdr, 196 + align1)[0]
        if meta.header_length > 288:
            hdr += f.read(meta.header_length - 288)
        meta.page_length = struct.unpack_from(e + "I", hdr, 200 + align1)[0]
        # the page-count field's width varies (u64 on BE-64 files); derive
        # from the file size instead — the reference equivalently ignores
        # the field and reads pages to EOF (src/sas/metadata.rs:38-41)
        fsize = os.path.getsize(path)
        meta.page_count = (
            max(0, (fsize - meta.header_length) // meta.page_length) if meta.page_length else 0
        )
        # a cut inside a page would otherwise read short without an
        # error: compressed page-range splits cannot see the row count
        if meta.page_length and fsize > meta.header_length + meta.page_count * meta.page_length:
            raise EOFError(
                f"truncated file {path!r}: {meta.page_count} whole pages of {meta.page_length} "
                f"bytes end at byte offset {meta.header_length + meta.page_count * meta.page_length}, "
                f"the file at byte offset {fsize}"
            )
        meta.dataset_name = hdr[92:156].decode("latin-1", "replace").strip("\0 ").strip()
        total_align = align1 + align2
        meta.sas_release = hdr[216 + total_align : 224 + total_align].decode("latin-1", "replace").strip("\0 ")

        _scan_metadata_pages(f, meta)
    return meta


def _page_header(page: bytes, meta: SasMetadata):
    e, bo = meta.endian, meta.page_bit_offset
    ptype = struct.unpack_from(e + "H", page, bo)[0]
    block_count = struct.unpack_from(e + "H", page, bo + 2)[0]
    sub_count = struct.unpack_from(e + "H", page, bo + 4)[0]
    return ptype, block_count, sub_count


def _subheaders(page: bytes, meta: SasMetadata, sub_count: int):
    e, isz = meta.endian, meta.integer_size
    base = meta.page_bit_offset + 8
    ifmt = e + ("Q" if meta.bit64 else "I")
    out = []
    for i in range(sub_count):
        off = base + i * (3 * isz)
        s_off = struct.unpack_from(ifmt, page, off)[0]
        s_len = struct.unpack_from(ifmt, page, off + isz)[0]
        comp = page[off + 2 * isz]
        styp = page[off + 2 * isz + 1]
        if s_len == 0 or comp == 1:
            continue
        out.append((s_off, s_len, comp, styp))
    return out


def _trim_text(b: bytes) -> bytes:
    s, e = 0, len(b)
    while s < e and b[s : s + 1].isspace() and b[s] <= 0x7F:
        s += 1
    while e > s and b[e - 1 : e].isspace() and b[e - 1] <= 0x7F:
        e -= 1
    while e > s and b[e - 1] < 32:
        e -= 1
    return b[s:e]


def _scan_metadata_pages(f, meta: SasMetadata) -> None:
    sigs = _sigs(meta.bit64)
    e, isz = meta.endian, meta.integer_size
    ifmt = e + ("Q" if meta.bit64 else "I")
    texts: list[bytes] = []
    name_entries: list[tuple[int, int, int]] = []
    attr_entries: list[tuple[int, int, bool]] = []
    fmt_entries: list[tuple[int, int, int, int, int, int]] = []
    row_count = row_length = mix_rows = None
    column_count = None
    p1 = p2 = None

    f.seek(meta.header_length)
    for _ in range(meta.page_count):
        page = f.read(meta.page_length)
        if len(page) < meta.page_length:
            break
        ptype, _bc, sub_count = _page_header(page, meta)
        if ptype not in (0, 512, 640, 1024):  # META/MIX1/MIX2/AMD
            continue
        for s_off, s_len, _comp, _styp in _subheaders(page, meta, sub_count):
            sig = page[s_off : s_off + (8 if meta.bit64 else 4)]
            if sig in sigs["row_size"]:
                row_length = struct.unpack_from(ifmt, page, s_off + 5 * isz)[0]
                row_count = struct.unpack_from(ifmt, page, s_off + 6 * isz)[0]
                p1 = struct.unpack_from(ifmt, page, s_off + 9 * isz)[0]
                p2 = struct.unpack_from(ifmt, page, s_off + 10 * isz)[0]
                mix_rows = struct.unpack_from(ifmt, page, s_off + 15 * isz)[0]
            elif sig in sigs["col_size"]:
                column_count = struct.unpack_from(ifmt, page, s_off + isz)[0]
            elif sig in sigs["col_text"]:
                payload = page[s_off + len(sig) : s_off + s_len]
                if not texts:
                    if b"SASYZCRL" in payload:
                        meta.compression = "RLE"
                    elif b"SASYZCR2" in payload:
                        meta.compression = "RDC"
                texts.append(payload)
            elif sig in sigs["col_name"]:
                off_max = s_off + s_len - 12 - isz
                pos = s_off + isz + 8
                while pos <= off_max:
                    ti = struct.unpack_from(e + "H", page, pos)[0]
                    no = struct.unpack_from(e + "H", page, pos + 2)[0]
                    nl = struct.unpack_from(e + "H", page, pos + 4)[0]
                    name_entries.append((ti, no, nl))
                    pos += 8
            elif sig in sigs["col_attrs"]:
                off_max = s_off + s_len - 12 - isz
                pos = s_off + isz + 8
                while pos <= off_max:
                    co = struct.unpack_from(ifmt, page, pos)[0]
                    cl = struct.unpack_from(e + "I", page, pos + isz)[0]
                    ct = page[pos + isz + 6]
                    attr_entries.append((co, cl, ct != 1))
                    pos += isz + 8
            elif sig in sigs["fmt_label"]:
                b0 = s_off + 3 * isz
                fi = struct.unpack_from(e + "H", page, b0 + 22)[0]
                fo = struct.unpack_from(e + "H", page, b0 + 24)[0]
                fl = struct.unpack_from(e + "H", page, b0 + 26)[0]
                li = struct.unpack_from(e + "H", page, b0 + 28)[0]
                lo = struct.unpack_from(e + "H", page, b0 + 30)[0]
                ll = struct.unpack_from(e + "H", page, b0 + 32)[0]
                fmt_entries.append((fi, fo, fl, li, lo, ll))

    if row_count is None or row_length is None:
        if meta.is_catalog:
            # catalogs (.sas7bcat) share the page container but hold
            # format/label entries, not observation rows: the metadata
            # probe degrades to header facts + zero rows (the reference
            # dispatches catalogs to its SAS reader and would fail here;
            # a graceful empty read is the beyond-parity behavior)
            meta.row_count, meta.row_length = 0, 0
            return
        raise ValueError("missing ROW_SIZE metadata subheader")
    meta.row_count = row_count if row_length > 0 else 0
    meta.row_length = row_length
    meta.mix_page_row_count = mix_rows if mix_rows is not None else row_count
    if column_count is None:
        column_count = (p1 or 0) + (p2 or 0) or max(
            len(name_entries), len(attr_entries), len(fmt_entries)
        )

    def text_at(ti: int, off: int, ln: int) -> str:
        if not texts:
            return ""
        blk = texts[ti] if ti < len(texts) else texts[-1]
        off = min(off, len(blk))
        ln = min(ln, len(blk) - off)
        raw = _trim_text(blk[off : off + ln])
        if not raw:
            return ""
        try:
            return raw.decode(meta.encoding)
        except (UnicodeDecodeError, LookupError):
            return raw.decode("latin-1")

    cols = []
    for i in range(column_count):
        name = text_at(*name_entries[i]) if i < len(name_entries) else ""
        off, ln, is_char = attr_entries[i] if i < len(attr_entries) else (0, 0, False)
        fmt = label = ""
        if i < len(fmt_entries):
            fi, fo, fl, li, lo, ll = fmt_entries[i]
            fmt = text_at(fi, fo, fl)
            label = text_at(li, lo, ll)
        cols.append(
            Column(
                name=name or f"COL{i}",
                label=label,
                fmt=fmt,
                is_char=is_char,
                offset=off,
                length=ln,
                kind=_column_kind(is_char, fmt),
            )
        )
    meta.columns = cols


# ----------------------------------------------------------- page row scan

def _is_stat_transfer(release: str) -> bool:
    b = release.encode()
    if len(b) < 8 or b[0] not in b"89" or b[1:2] != b"." or b[6:7] != b"M":
        return False
    try:
        minor = int(b[2:6])
        rev = int(chr(b[7]))
    except ValueError:
        return False
    return minor == 0 and rev == 0


def page_row_layout(page: bytes, meta: SasMetadata) -> tuple[int, int]:
    """(data_start_offset, n_rows) for an uncompressed MIX/DATA page."""
    ptype, block_count, sub_count = _page_header(page, meta)
    bo, isz = meta.page_bit_offset, meta.integer_size
    if ptype == 256:  # DATA
        start = bo + 8
        n = block_count
        avail = (meta.page_length - start) // meta.row_length if meta.row_length else 0
        return start, min(n, avail)
    if ptype in (512, 640):  # MIX
        start = bo + 8 + sub_count * 3 * isz
        if start % 8 == 4 and start + 4 <= len(page):
            pad = page[start : start + 4]
            if not _is_stat_transfer(meta.sas_release) or pad in (b"\0\0\0\0", b"    "):
                start += 4
        avail = (meta.page_length - start) // meta.row_length if meta.row_length else 0
        n = min(meta.row_count, meta.mix_page_row_count)
        return start, min(n, avail)
    return 0, 0


# Cache the page index only for files small enough that 32 reused
# executor workers each holding one are noise: 256k pages ≈ 6 MB as an
# int64 Nx3 array per worker. A 500 GB file (~8M pages) stays transient
# per call, exactly the pre-cache behavior.
_PAGE_INDEX_CACHE_MAX_PAGES = 262_144


def build_page_index(path: str, meta: SasMetadata | None = None):
    """Per-page (page_idx, row_start, n_rows) rows for uncompressed
    files, as an Nx3 int64 numpy array (compact: 24 bytes/page vs ~130
    for a tuple list — it lives in reused executor workers).

    One page-header read per page (the analytical page index,
    src/sas/reader.rs:282-360): partition planning stays metadata-only.
    Stat-cached per path below a page-count bound: every partition task
    of the same query (and every repeat query in a reused executor
    worker) would otherwise re-scan all page headers — O(pages) seeks
    per TASK on a big file. Metadata is re-derived from ``path`` via the
    stat-cached ``read_metadata`` (the old ``meta`` parameter is
    accepted and ignored for compatibility — it was always equal).
    """
    m = read_metadata(path)
    if m.page_count > _PAGE_INDEX_CACHE_MAX_PAGES:
        return _page_index_of(path)
    return _page_index_cached(path)


@stat_keyed_cache(maxsize=8)
def _page_index_cached(path: str):
    # maxsize=8, not the default 64: one entry caps at ~6 MB
    # (_PAGE_INDEX_CACHE_MAX_PAGES), so the aggregate bound per reused
    # worker is ~48 MB instead of ~384 MB for a many-file corpus of
    # just-under-threshold files.
    return _page_index_of(path)


def _page_index_of(path: str):
    meta = read_metadata(path)
    out = []
    row_start = 0
    with open(path, "rb") as f:
        for i in range(meta.page_count):
            f.seek(meta.header_length + i * meta.page_length)
            head = f.read(meta.page_bit_offset + 8 + 64 * 3 * meta.integer_size)
            if len(head) < meta.page_bit_offset + 8:
                break
            ptype, block_count, sub_count = _page_header(head, meta)
            if ptype == 256:
                start = meta.page_bit_offset + 8
                avail = (meta.page_length - start) // meta.row_length if meta.row_length else 0
                n = min(block_count, avail)
            elif ptype in (512, 640):
                if len(head) < meta.page_bit_offset + 8 + sub_count * 3 * meta.integer_size + 8:
                    f.seek(meta.header_length + i * meta.page_length)
                    head = f.read(meta.page_length)
                start, n = page_row_layout(head, meta)
            else:
                continue
            if n <= 0:
                continue
            n = min(n, meta.row_count - row_start)
            if n <= 0:
                break
            out.append((i, row_start, n))
            row_start += n
    return np.array(out, dtype=np.int64).reshape(-1, 3)


# ------------------------------------------------------------ decompressors

def rle_decompress(src: bytes, out_len: int) -> bytes:
    """SASYZCRL run-length decode (command table re-derived from
    /root/reference/src/sas/decompressor/rle.rs:1-307 as a spec).

    Per-command loop with slice/repeat ops only — output length tracked
    in a local so no len()/min() churn in the hot path."""
    out = bytearray()
    olen = 0
    pos, n = 0, len(src)
    while pos < n and olen < out_len:
        ctrl = src[pos]
        pos += 1
        cmd, low = ctrl >> 4, ctrl & 0x0F
        if cmd <= 0x02 or 0x08 <= cmd <= 0x0B:  # literal copies
            if cmd == 0x02:  # COPY96
                cnt = low + 96
            elif cmd >= 0x08:  # COPY1/17/33/49
                cnt = low + 1 + 16 * (cmd - 0x08)
            elif cmd == 0x00:  # COPY64
                if pos >= n:
                    break
                cnt = (low << 8) + src[pos] + 64
                pos += 1
            else:  # COPY64 + 4096
                if pos >= n:
                    break
                cnt = 64 + low * 256 + src[pos] + 4096
                pos += 1
            take = cnt
            if take > n - pos:
                take = n - pos
            if take > out_len - olen:
                take = out_len - olen
            out += src[pos : pos + take]
            olen += take
            pos += take
        elif cmd == 0x04:  # INSERT_BYTE18
            if pos + 1 >= n:
                break
            cnt = (low << 4) + src[pos] + 18
            if cnt > out_len - olen:
                cnt = out_len - olen
            out += src[pos + 1 : pos + 2] * cnt
            olen += cnt
            pos += 2
        elif 0x05 <= cmd <= 0x07:  # INSERT_AT17 / BLANK17 / ZERO17
            if pos >= n:
                break
            cnt = (low << 8) + src[pos] + 17
            pos += 1
            if cnt > out_len - olen:
                cnt = out_len - olen
            out += (b"@", b" ", b"\0")[cmd - 5] * cnt
            olen += cnt
        elif cmd == 0x0C:  # INSERT_BYTE3
            if pos >= n:
                break
            cnt = low + 3
            if cnt > out_len - olen:
                cnt = out_len - olen
            out += src[pos : pos + 1] * cnt
            olen += cnt
            pos += 1
        elif cmd >= 0x0D:  # INSERT_AT2 / BLANK2 / ZERO2
            cnt = low + 2
            if cnt > out_len - olen:
                cnt = out_len - olen
            out += (b"@", b" ", b"\0")[cmd - 13] * cnt
            olen += cnt
        else:
            raise ValueError(f"invalid RLE command {cmd}")
    if olen < out_len:
        out += b"\0" * (out_len - olen)
    return bytes(out[:out_len])


def rdc_decompress(src: bytes, out_len: int) -> bytes:
    """RDC: 16-bit control words, 0-bit = literal byte, 1-bit = command.

    Run-batched: consecutive literal bits become one slice copy and
    pattern/RLE commands expand via slice ops (C speed) instead of the
    per-byte Python loop — same output, ~10x fewer interpreter steps
    (the command grammar mirrors /root/reference/src/sas/decompressor/
    rdc.rs:1-244, re-derived as a spec)."""
    out = bytearray(out_len)
    opos = 0
    pos, n = 0, len(src)
    while pos + 2 <= n and opos < out_len:
        ctrl = (src[pos] << 8) | src[pos + 1]
        pos += 2
        if ctrl == 0:  # 16 straight literals
            take = min(16, n - pos, out_len - opos)
            out[opos : opos + take] = src[pos : pos + take]
            opos += take
            pos += take
            continue
        prev = 0
        stop = False
        rem = ctrl
        while rem:
            b = 16 - rem.bit_length()  # next set bit, MSB-first order
            rem &= ~(0x8000 >> b)
            litn = b - prev
            if litn:  # literal run before this command bit
                take = min(litn, n - pos, out_len - opos)
                out[opos : opos + take] = src[pos : pos + take]
                opos += take
                pos += take
                if take < litn:
                    stop = True
                    break
            prev = b + 1
            if opos >= out_len or pos >= n:
                stop = True
                break
            cb = src[pos]
            pos += 1
            cmd, cnt = (cb >> 4) & 0x0F, cb & 0x0F
            if cmd >= 3:  # 3..15: short pattern (most frequent)
                if pos >= n:
                    stop = True
                    break
                offset = cnt + 3 + (src[pos] << 4)
                pos += 1
                take = cmd
                if take > out_len - opos:
                    take = out_len - opos
                s = opos - offset
                if s < 0:
                    raise ValueError("RDC pattern offset before start")
                if offset >= take:
                    out[opos : opos + take] = out[s : s + take]
                else:
                    out[opos : opos + take] = (bytes(out[s:opos]) * (take // offset + 1))[:take]
                opos += take
            elif cmd == 0:  # short RLE
                if pos >= n:
                    stop = True
                    break
                take = cnt + 3
                if take > out_len - opos:
                    take = out_len - opos
                out[opos : opos + take] = src[pos : pos + 1] * take
                opos += take
                pos += 1
            elif cmd == 1:  # long RLE
                if pos + 1 >= n:
                    stop = True
                    break
                take = cnt + (src[pos] << 4) + 19
                if take > out_len - opos:
                    take = out_len - opos
                out[opos : opos + take] = src[pos + 1 : pos + 2] * take
                opos += take
                pos += 2
            else:  # cmd == 2: long pattern
                if pos + 1 >= n:
                    stop = True
                    break
                offset = cnt + 3 + (src[pos] << 4)
                count = src[pos + 1] + 16
                pos += 2
                opos = _rdc_copy(out, opos, offset, count, out_len)
            if opos >= out_len:
                stop = True
                break
        if stop:
            break
        litn = 16 - prev  # trailing literals after the last set bit
        if litn:
            take = min(litn, n - pos, out_len - opos)
            out[opos : opos + take] = src[pos : pos + take]
            opos += take
            pos += take
    return bytes(out)


def _rdc_copy(out: bytearray, opos: int, offset: int, count: int, out_len: int) -> int:
    if opos < offset:
        raise ValueError("RDC pattern offset before start")
    src = opos - offset
    take = min(count, out_len - opos)
    if take <= 0:
        return opos
    if offset >= take:  # non-overlapping: one slice copy
        out[opos : opos + take] = out[src : src + take]
    else:  # overlapping: repeat the period
        pattern = bytes(out[src:opos])
        out[opos : opos + take] = (pattern * (take // offset + 1))[:take]
    return opos + take


# ----------------------------------------------------------------- decode

# 4-byte metadata signature prefixes (src/sas/data.rs:575-613) — used to
# disambiguate metadata subheaders from compressed data rows.
_META_SIG4 = {
    b"\xf7\xf7\xf7\xf7", b"\xf6\xf6\xf6\xf6", b"\xfd\xff\xff\xff", b"\xff\xff\xff\xfd",
    b"\xff\xff\xff\xff", b"\xfc\xff\xff\xff", b"\xff\xff\xff\xfc", b"\xfe\xfb\xff\xff",
    b"\xff\xff\xfb\xfe", b"\xfe\xff\xff\xff", b"\xff\xff\xff\xfe",
}
_META_SIG4_ZERO_HI = {
    b"\xf7\xf7\xf7\xf7", b"\xf6\xf6\xf6\xf6", b"\xfd\xff\xff\xff",
    b"\xfc\xff\xff\xff", b"\xfe\xfb\xff\xff", b"\xfe\xff\xff\xff",
}
_META_EXCLUDE = (b"\x00\xfc\xff\xff", b"\xff\xff\xfc\x00")


def _is_meta_sig(sig8: bytes) -> bool:
    if len(sig8) < 4:
        return False
    if sig8[:4] in _META_SIG4:
        return True
    if len(sig8) >= 8 and sig8[:4] == b"\x00\x00\x00\x00" and sig8[4:8] in _META_SIG4_ZERO_HI:
        return True
    return False


def _page_compressed_rows(
    page: bytes, meta: SasMetadata, cache: dict[bytes, bytes] | None = None
) -> list[bytes]:
    """Data rows stored as subheaders on META/MIX pages (compressed files).

    ``cache`` memoizes decompression by compressed bytes: heavily
    RLE/RDC-compressed files repeat identical row images thousands of
    times, and a dict hit (~0.1 µs) replaces a ~10 µs decode. Bounded by
    the caller (per-read, cleared at 64k entries)."""
    ptype, _bc, sub_count = _page_header(page, meta)
    rows: list[bytes] = []
    if ptype not in (0, 512, 640, 1024, 16384):
        return rows
    is_rdc = meta.compression == "RDC"
    rl = meta.row_length
    for s_off, s_len, comp, styp in _subheaders(page, meta, sub_count):
        if not ((comp == 4 or comp == 0) and styp == 1):
            continue
        if s_len > rl:
            continue
        sig8 = page[s_off : s_off + 8]
        if s_len >= 4 and _is_meta_sig(sig8):
            continue
        if sig8[:4] in _META_EXCLUDE:
            continue
        raw = page[s_off : s_off + s_len]
        if s_len < rl:
            if cache is not None:
                hit = cache.get(raw)
                if hit is None:
                    hit = rdc_decompress(raw, rl) if is_rdc else rle_decompress(raw, rl)
                    if len(cache) > 65536:
                        cache.clear()
                    cache[raw] = hit
                raw = hit
            else:
                raw = rdc_decompress(raw, rl) if is_rdc else rle_decompress(raw, rl)
        rows.append(raw)
    return rows


def iter_row_blocks(path: str, meta: SasMetadata, page_range: tuple[int, int] | None = None):
    """Yield contiguous row-byte blocks (page by page)."""
    lo, hi = page_range or (0, meta.page_count)
    cache: dict[bytes, bytes] = {}
    with open(path, "rb") as f:
        f.seek(meta.header_length + lo * meta.page_length)
        for _ in range(lo, hi):
            page = f.read(meta.page_length)
            if len(page) < meta.page_length:
                break
            if meta.compression:
                rows = _page_compressed_rows(page, meta, cache)
                if rows:
                    yield b"".join(rows), len(rows)
            else:
                ptype, _, _ = _page_header(page, meta)
                if ptype in (256, 512, 640):
                    start, nrows = page_row_layout(page, meta)
                    if nrows > 0:
                        yield page[start : start + nrows * meta.row_length], nrows


def decode_rows(
    raw: bytes,
    meta: SasMetadata,
    columns: list[str] | None = None,
    opts: ReadOptions | None = None,
    row_offset: int = 0,
) -> dict[str, pa.Array]:
    opts = opts or ReadOptions()
    rl = meta.row_length
    nrows = len(raw) // rl if rl else 0
    sel_names = {c.name for c in _select(meta.columns, columns)}

    out: dict[str, pa.Array] = {}
    names, formats, offsets = [], [], []
    for i, c in enumerate(meta.columns):
        if c.name not in sel_names:
            continue
        names.append(f"f{i}")
        formats.append(f"S{c.length}")
        offsets.append(c.offset)
    dt = np.dtype({"names": names, "formats": formats, "offsets": offsets, "itemsize": rl})
    rec = np.frombuffer(raw, dtype=dt, count=nrows)

    mode = opts.null_mode()
    for i, c in enumerate(meta.columns):
        if c.name not in sel_names:
            continue
        val = _decode_column(rec[f"f{i}"], c, meta, opts)
        if opts.tracks_nulls(c.name, not c.is_char):
            from ..nulls import combine

            ind = _indicator_column(rec[f"f{i}"], c, meta)
            out.update(combine(c.name, val, ind, mode, opts.informative_null_suffix))
        else:
            out[c.name] = val
    if opts.row_index:
        out["_row_idx"] = pa.array(np.arange(row_offset, row_offset + nrows, dtype=np.int64))
    return out


def _decode_column(arr, c: Column, meta: SasMetadata, opts: ReadOptions) -> pa.Array:
    u8 = np.ascontiguousarray(arr).view(np.uint8).reshape(-1, c.length) if c.length else np.zeros((len(arr), 0), np.uint8)
    n = len(u8)
    if c.is_char:
        from ..stata.parser import fixed_width_strings

        # SAS strings share the C-string semantics of the stata reader:
        # stop at first NUL, trim trailing spaces, "" -> null.
        s = fixed_width_strings(
            u8, meta.encoding, null_empty=opts.missing_string_as_null, trim_spaces=True
        )
        cat_fmt = opts.catalog_format_for(c)
        if cat_fmt is not None:
            from .catalog import label_char

            return label_char(s, cat_fmt)
        return s

    # numeric: truncated doubles padded LE-left / BE-right
    full = np.zeros((n, 8), dtype=np.uint8)
    ln = min(c.length, 8)
    if meta.endian == "<":
        full[:, 8 - ln :] = u8[:, :ln]
        flat = full.reshape(-1).view("<f8")
    else:
        full[:, :ln] = u8[:, :ln]
        flat = full.reshape(-1).view(">f8")
    if not flat.dtype.isnative:
        flat = flat.byteswap().view(flat.dtype.newbyteorder())  # bit-exact
    vals = flat
    bits = flat.view(np.uint64)
    abs_bits = bits & np.uint64(0x7FFF_FFFF_FFFF_FFFF)
    mask = abs_bits >= np.uint64(0x7FF0_0000_0000_0000)
    vals = np.where(mask, 0.0, vals).astype(np.float64)

    cat_fmt = opts.catalog_format_for(c)
    if cat_fmt is not None and c.kind == "numeric":
        from .catalog import label_numeric

        tags = None
        if cat_fmt.missing and mask.any():
            # reuse the informative-null tag extraction for .A-.Z/._
            tags = np.array(_indicator_column(arr, c, meta).to_pylist(), dtype=object)
        return label_numeric(vals, mask, tags, cat_fmt)

    if c.kind == "date":
        # day values outside ±[-135080, 156935] are actually seconds
        days = vals.astype(np.int32) - SAS_EPOCH_OFFSET_DAYS
        alt = (vals / SECONDS_PER_DAY).astype(np.int32) - SAS_EPOCH_OFFSET_DAYS
        in_range = (days >= -135080) & (days <= 156935)
        return pa.array(np.where(in_range, days, alt), type=pa.date32(), mask=mask)
    if c.kind == "datetime":
        us = ((vals - SAS_EPOCH_OFFSET_DAYS * float(SECONDS_PER_DAY)) * 1_000_000.0).astype(np.int64)
        return pa.array(us, type=pa.timestamp("us"), mask=mask)
    if c.kind == "time":
        ns = (vals * 1_000_000_000.0).astype(np.int64)
        return pa.array(ns, mask=mask)
    return pa.array(vals, mask=mask)


# tagged-missing indicator LUT: index 0 none, 1..26 '.A'..'.Z', 27 '._'
# built on first decode (module must stay numpy-free at import time —
# planning workers import it for metadata only, see _lazy.py)
_TAG_LUT = None


def _tag_lut():
    global _TAG_LUT
    if _TAG_LUT is None:
        _TAG_LUT = np.array([""] + [f".{chr(ord('A') + i)}" for i in range(26)] + ["._"])
    return _TAG_LUT


def _indicator_column(arr, c: Column, meta: SasMetadata) -> pa.Array:
    u8 = np.ascontiguousarray(arr).view(np.uint8).reshape(-1, c.length)
    n = len(u8)
    full = np.zeros((n, 8), dtype=np.uint8)
    ln = min(c.length, 8)
    if meta.endian == "<":
        full[:, 8 - ln :] = u8[:, :ln]
        flat = full.reshape(-1).view("<u8")
    else:
        full[:, :ln] = u8[:, :ln]
        flat = full.reshape(-1).view(">u8")
    if not flat.dtype.isnative:
        flat = flat.byteswap().view(flat.dtype.newbyteorder())
    abs_bits = flat & np.uint64(0x7FFF_FFFF_FFFF_FFFF)
    is_nan = abs_bits >= np.uint64(0x7FF0_0000_0000_0000)
    type_byte = ((flat >> np.uint64(40)) & np.uint64(0xFF)).astype(np.int64)
    k = np.zeros(n, dtype=np.int64)
    lettered = (type_byte >= 0xA5) & (type_byte <= 0xBE)
    k[lettered] = (0xFF ^ type_byte[lettered]) - 0x40  # .A(0xBE)->1 .. .Z(0xA5)->26
    k[type_byte == 0xD2] = 27  # ._
    k[~is_nan] = 0
    return pa.array(_tag_lut()[k], type=pa.string(), mask=k == 0)


# ------------------------------------------------------------ arrow schema

def arrow_field(c: Column) -> pa.Field:
    t = {
        "char": pa.string(),
        "date": pa.date32(),
        "datetime": pa.timestamp("us"),
        "time": pa.int64(),
        "numeric": pa.float64(),
    }[c.kind]
    return pa.field(c.name, t)


def _select(cols, columns):
    if columns is None:
        return list(cols)
    by_name = {c.name: c for c in cols}
    return [by_name[c] for c in columns if c in by_name]


def arrow_schema(
    meta: SasMetadata, opts: ReadOptions | None = None, columns: list[str] | None = None
) -> pa.Schema:
    from ..nulls import informative_fields

    opts = opts or ReadOptions()
    mode = opts.null_mode()
    sel = _select(meta.columns, columns)
    fields = []
    for c in sel:
        # catalog-labeled columns surface as strings (P5, like Stata)
        if opts.catalog_format_for(c) is not None:
            f = pa.field(c.name, pa.string())
        else:
            f = arrow_field(c)
        if opts.tracks_nulls(c.name, not c.is_char):
            fields.extend(informative_fields(c.name, f.type, mode, opts.informative_null_suffix))
        else:
            fields.append(f)
    if opts.row_index:
        fields.append(pa.field("_row_idx", pa.int64()))
    return pa.schema(fields)


# --------------------------------------------------------------- eager API

def _short_file(path: str, meta: SasMetadata, held: int) -> EOFError:
    # page_count follows the file size, so a file cut on a page boundary
    # holds fewer rows than the header declares
    return EOFError(
        f"truncated file {path!r}: its pages hold {held} of the {meta.row_count} rows "
        f"the header declares; the file ends at byte offset {os.path.getsize(path)}"
    )


def read_table(
    path: str,
    columns: list[str] | None = None,
    offset: int = 0,
    limit: int | None = None,
    opts: ReadOptions | None = None,
) -> pa.Table:
    opts = opts or ReadOptions()
    meta = read_metadata(path)
    schema = arrow_schema(meta, opts, columns)
    want_end = meta.row_count if limit is None else min(meta.row_count, offset + limit)
    tables = []
    seen = 0
    # accumulate page blocks into big decode batches: one numpy decode per
    # ~64k rows instead of one per page (page-sized calls drown in per-call
    # numpy overhead on many-page compressed files)
    pending: list[bytes] = []
    pend_rows = 0
    pend_base = 0

    def _flush():
        nonlocal pending, pend_rows
        if pend_rows:
            cols = decode_rows(b"".join(pending), meta, columns, opts, row_offset=pend_base)
            tables.append(pa.table({n: cols[n] for n in schema.names}, schema=schema))
        pending, pend_rows = [], 0

    for block, nrows in iter_row_blocks(path, meta):
        if seen + nrows <= offset:
            seen += nrows
            continue
        lo = max(0, offset - seen)
        hi = min(nrows, want_end - seen)
        if hi <= lo:
            seen += nrows
            if seen >= want_end:
                break
            continue
        sub = block[lo * meta.row_length : hi * meta.row_length]
        if not pend_rows:
            pend_base = seen + lo
        pending.append(sub)
        pend_rows += hi - lo
        if pend_rows >= 65536:
            _flush()
        seen += nrows
        if seen >= want_end:
            break
    _flush()
    if seen < want_end:
        raise _short_file(path, meta, seen)
    if not tables:
        empty = decode_rows(b"", meta, columns, opts)
        return pa.table({n: empty.get(n, pa.array([], type=f.type)) for n, f in zip(schema.names, schema)}, schema=schema)
    return pa.concat_tables(tables)


def read_page_range(
    path: str, page_lo: int, page_hi: int, columns: list[str] | None, batch_size: int,
    opts: ReadOptions | None = None,
):
    """Compressed-file partition read over a page range. RLE/RDC rows are
    self-contained subheaders, so pages decompress independently — unlike
    the reference, which is strictly sequential for compressed files
    (PARALLELIZATION.md: 1.0x scaling), this engine page-parallelizes
    them across Spark tasks."""
    meta = read_metadata(path)
    opts = opts or ReadOptions()
    # row_index stays False: the planner never page-parallelizes a
    # compressed read when row_index is set (datasource.py "plain" gate),
    # and decode_rows here has no global row offset to number from.
    schema = arrow_schema(meta, replace(opts, row_index=False), columns)
    pending: list[bytes] = []
    pending_rows = 0
    held = 0
    for block, nrows in iter_row_blocks(path, meta, (page_lo, page_hi)):
        pending.append(block)
        pending_rows += nrows
        held += nrows
        if pending_rows >= batch_size:
            cols = decode_rows(b"".join(pending), meta, columns, opts)
            yield pa.table({n: cols[n] for n in schema.names}, schema=schema).to_batches()[0]
            pending, pending_rows = [], 0
    if pending_rows:
        cols = decode_rows(b"".join(pending), meta, columns, opts)
        yield pa.table({n: cols[n] for n in schema.names}, schema=schema).to_batches()[0]
    # only a range over every page can check the header's row count
    if page_lo == 0 and page_hi >= meta.page_count and held < meta.row_count:
        raise _short_file(path, meta, held)


def read_partition(
    path: str,
    start: int,
    count: int,
    columns: list[str] | None,
    opts: ReadOptions | None = None,
    batch_size: int = 65536,
):
    """DataSource partition read (row range) yielding record batches.

    Uncompressed files seek straight to the pages covering the row range
    via the analytical page index (no scan-from-zero); compressed files
    are planned as a single partition so the sequential path is fine.
    """
    meta = read_metadata(path)
    opts = opts or ReadOptions()
    schema = arrow_schema(meta, opts, columns)
    if meta.compression or not count:
        t = read_table(path, columns, offset=start, limit=count, opts=opts)
        yield from t.to_batches(max_chunksize=batch_size)
        return
    # .tolist() restores plain-int tuples for the loop (transient, same
    # footprint the pre-cache list had for the duration of the task)
    index = build_page_index(path).tolist()
    end = start + count
    # page_count follows the file size, so a cut file indexes fewer rows
    held = index[-1][1] + index[-1][2] if index else 0
    if held < end:
        raise _short_file(path, meta, held)
    # accumulate page slices into ~batch_size-row decode calls: one
    # numpy decode + one Arrow table per big batch instead of one per
    # PAGE — small-page files (hundreds of rows/page) otherwise pay
    # per-batch Arrow/IPC overhead thousands of times (r8: a 100k x 43
    # file read 16x faster after this change)
    pending: list[bytes] = []
    pend_rows = 0
    pend_base = 0
    with open(path, "rb") as f:
        for page_idx, row_start, nrows in index:
            if row_start + nrows <= start:
                continue
            if row_start >= end:
                break
            f.seek(meta.header_length + page_idx * meta.page_length)
            page = f.read(meta.page_length)
            pstart, pn = page_row_layout(page, meta)
            lo = max(0, start - row_start)
            hi = min(pn, end - row_start)
            if hi <= lo:
                continue
            if not pend_rows:
                pend_base = row_start + lo
            pending.append(page[pstart + lo * meta.row_length : pstart + hi * meta.row_length])
            pend_rows += hi - lo
            if pend_rows >= batch_size:
                cols = decode_rows(b"".join(pending), meta, columns, opts, row_offset=pend_base)
                tbl = pa.table({n: cols[n] for n in schema.names}, schema=schema)
                pending, pend_rows = [], 0
                yield from tbl.to_batches(max_chunksize=batch_size)
    if pend_rows:
        cols = decode_rows(b"".join(pending), meta, columns, opts, row_offset=pend_base)
        tbl = pa.table({n: cols[n] for n in schema.names}, schema=schema)
        yield from tbl.to_batches(max_chunksize=batch_size)


def metadata_frame(spark, path: str):
    meta = read_metadata(path)
    rows = [
        (
            path,
            meta.row_count,
            len(meta.columns),
            meta.compression or "none",
            c.name,
            c.kind,
            c.length,
            c.fmt,
            c.label,
            encoding_name(meta.encoding_byte),
            meta.encoding_byte,
        )
        for c in meta.columns
    ]
    return spark.createDataFrame(
        rows,
        "path string, nobs long, nvar int, compression string, name string, kind string, "
        "length int, format string, var_label string, encoding string, encoding_byte int",
    )

"""Native .sas7bdat BINARY writer — beyond the reference AND beyond its
own writing story: polars_readstat_rs only writes SAS as CSV + a .sas
load script (its W3 surface; `src/sas/writer.rs` has no binary path),
because the sas7bdat page format is undocumented by SAS. This module
writes real 64-bit little-endian uncompressed .sas7bdat files that both
independent readers of the format we have access to — our own parser
(`formats/sas/parser.py`, built against the public format notes and the
430-file reference corpus) and `pandas.read_sas` — accept and decode
bit-for-bit.

Layout written (64-bit LE, uncompressed):
- 8 KiB header: magic, '3'/'3' alignment bytes (u64 + 4-byte align),
  endian 0x01, encoding byte 20 (UTF-8), dataset name, header/page
  sizes, page count, release string.
- One META page (type 0) holding, in processor-dependency order
  (pandas processes pointers strictly in order): ROW_SIZE (808 bytes;
  row length/count, col-count split, mix-row count, lcs=lcp=0),
  COL_SIZE, one COL_TEXT block (u16 self-inclusive size + packed
  name/label text), COL_NAME pointers, COL_ATTRS (offset/len/type per
  column), and one FORMAT/LABEL subheader PER column (pandas only
  materializes a column when it sees its format subheader). The page
  length grows to fit all metadata on one page — a deliberate
  simplification over SAS's multi-page metadata chaining, accepted by
  both readers.
- DATA pages (type 256): block_count rows packed back-to-back at
  bit_offset+8; numerics are plain LE IEEE doubles (missing = NaN),
  chars are space-padded bytes in the declared encoding.

Every write follows the house two-phase shape (XPORT/W1/W2 pattern):
``spill_partition`` encodes fixed-width row sections with local string
widths (on the executors, or the whole table as one section for
``write_sas7bdat``); ``assemble_sas7bdat`` re-strides each section to
the global widths and streams pages — one section of memory at a time,
no row materialization.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa

from .. import fixed_width_bytes, write_one_section
from .xport import _sanitize_names, column_order

_MAGIC = bytes(
    [
        0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
        0x00, 0x00, 0x00, 0x00, 0xC2, 0xEA, 0x81, 0x60,
        0xB3, 0x14, 0x11, 0xCF, 0xBD, 0x92, 0x08, 0x00,
        0x09, 0xC7, 0x31, 0x8C, 0x18, 0x1F, 0x10, 0x11,
    ]
)
_HDR_LEN = 8192
_BO = 32  # 64-bit page bit offset
_PTR = 24  # 64-bit subheader pointer length
_SIG_ROW = b"\x00\x00\x00\x00\xf7\xf7\xf7\xf7"
_SIG_COL = b"\x00\x00\x00\x00\xf6\xf6\xf6\xf6"
_SIG_TEXT = b"\xfd\xff\xff\xff\xff\xff\xff\xff"
_SIG_NAME = b"\xff\xff\xff\xff\xff\xff\xff\xff"
_SIG_ATTR = b"\xfc\xff\xff\xff\xff\xff\xff\xff"
_SIG_FMT = b"\xfe\xfb\xff\xff\xff\xff\xff\xff"


def encode_row_sections(
    table: pa.Table, string_widths: dict[str, int] | None = None,
    column_formats: dict[str, str] | None = None,
) -> tuple[list[tuple[str, bool, int, str]], bytes]:
    """(columns [(name, is_char, length, sas_format)], packed row bytes)
    for a table chunk. Numerics: LE doubles, null -> NaN. Chars:
    space-padded UTF-8 at max(observed, declared) width. TIMESTAMP
    columns become SAS datetime doubles (seconds since 1960-01-01,
    format DATETIME) and DATE columns SAS date doubles (days since
    1960-01-01, format DATE) — both independent readers convert them
    back (parser._column_kind prefix rules; pandas sas_date(time)
    _formats). Sections from chunks of the same schema concatenate
    directly (same contract as xport.encode_sections)."""
    n = table.num_rows
    cols, parts = [], []
    names = _sanitize_names(list(table.column_names), 32)
    for name, short in zip(table.column_names, names):
        col = table.column(name).combine_chunks()
        typ = table.schema.field(name).type
        if pa.types.is_string(typ) or pa.types.is_large_string(typ):
            buf = fixed_width_bytes(col, int((string_widths or {}).get(name, 1)), 0x20)
            cols.append((short, True, buf.shape[1], (column_formats or {}).get(name, "")))
            parts.append(buf)
            continue
        if pa.types.is_timestamp(typ):
            arr = col.cast(pa.timestamp("us")).cast(pa.int64())
            vals = np.asarray(arr.to_numpy(zero_copy_only=False), dtype=np.float64)
            vals = vals / 1e6 + 3653.0 * 86400.0  # unix us -> SAS seconds
            fmt = "DATETIME"
        elif pa.types.is_date(typ):
            arr = col.cast(pa.date32()).cast(pa.int32())
            vals = np.asarray(arr.to_numpy(zero_copy_only=False), dtype=np.float64)
            vals = vals + 3653.0  # unix days -> SAS days
            fmt = "DATE"
        else:
            arr = col.cast(pa.float64())
            vals = np.asarray(arr.to_numpy(zero_copy_only=False), dtype=np.float64)
            fmt = ""
        null = np.asarray(col.is_null())
        vals = vals.copy()
        vals[null] = np.nan
        # SAS's numeric domain is finite-or-missing: every reader
        # (ours, pandas, SAS itself) decodes the 0x7FF exponent range
        # as missing, so +/-inf cannot round-trip — normalize it to
        # missing at write time instead of letting it silently decay
        vals[np.isinf(vals)] = np.nan
        parts.append(vals.astype("<f8").view(np.uint8).reshape(n, 8))
        # a user format (e.g. a .sas7bcat catalog entry like NATIONF)
        # overrides the inferred temporal format for display/label use
        cols.append((short, False, 8, (column_formats or {}).get(name, fmt)))
    if not cols:
        raise ValueError("cannot write a sas7bdat file with zero columns")
    rec = np.concatenate(parts, axis=1) if parts else np.zeros((n, 0), np.uint8)
    return cols, rec.tobytes()


def _meta_page(
    cols: list[tuple[str, bool, int, str]],
    row_length: int,
    row_count: int,
    page_length: int,
    labels: dict[str, str] | None = None,
    compress: bool = False,
) -> bytes:
    """One META page: header + pointer array + subheader payloads.
    ``labels`` maps short column name -> variable label text. With
    ``compress`` ("RLE" or "RDC") the text block carries the SASYZCRL /
    SASYZCR2 literal at block offset 12 (where pandas reads it via
    lcp=8 from subheader offset 16+4) and a creator-proc at offset 36;
    our reader just greps the first text payload for the literal."""
    ncols = len(cols)
    labels = labels or {}

    # --- COL_TEXT block: [u16 size][6 zero][packed names/fmts/labels],
    # self-inclusive size; all refs are (offset, length) into this block
    text = bytearray(b"\x00" * (44 if compress else 8))
    if compress:
        text[12:20] = b"SASYZCR2" if compress == "RDC" else b"SASYZCRL"
        text[36:44] = b"DATASTEP"

    def _put(s: str, maxlen: int) -> tuple[int, int]:
        b = s.encode("utf-8", "replace")[:maxlen]
        ref = (len(text), len(b))
        text.extend(b)
        text.extend(b"\x00" * (-len(text) % 4))
        return ref

    name_refs = [_put(name, 32) for name, _, _, _ in cols]
    fmt_refs = [_put(fmt, 32) if fmt else (0, 0) for _, _, _, fmt in cols]
    lbl_refs = [
        _put(labels[name], 256) if labels.get(name) else (0, 0) for name, _, _, _ in cols
    ]
    if len(text) > 0xFFFF:
        raise ValueError("column name/format/label text exceeds one 64 KiB text block")
    struct.pack_into("<H", text, 0, len(text))

    # --- payloads
    row_size = bytearray(808)
    row_size[0:8] = _SIG_ROW
    struct.pack_into("<Q", row_size, 5 * 8, row_length)
    struct.pack_into("<Q", row_size, 6 * 8, row_count)
    struct.pack_into("<Q", row_size, 9 * 8, ncols)  # col_count_p1
    struct.pack_into("<Q", row_size, 10 * 8, 0)  # col_count_p2
    struct.pack_into("<Q", row_size, 15 * 8, 0)  # rows on mix page (none)
    # lcs@682 stays 0; lcp@706: 0 -> pandas uncompressed path, 8 ->
    # pandas reads the 8-byte compression literal from the text block
    if compress:
        struct.pack_into("<H", row_size, 706, 8)

    col_size = bytearray(24)
    col_size[0:8] = _SIG_COL
    struct.pack_into("<Q", col_size, 8, ncols)

    col_text = bytes(_SIG_TEXT) + bytes(text)

    col_name = bytearray(28 + 8 * ncols)
    col_name[0:8] = _SIG_NAME
    for i, (off, ln) in enumerate(name_refs):
        struct.pack_into("<HHH", col_name, 16 + 8 * i, 0, off, ln)

    col_attr = bytearray(28 + 16 * ncols)
    col_attr[0:8] = _SIG_ATTR
    pos = 0
    for i, (_, is_char, ln, _) in enumerate(cols):
        struct.pack_into("<Q", col_attr, 16 + 16 * i, pos)
        struct.pack_into("<I", col_attr, 24 + 16 * i, ln)
        col_attr[30 + 16 * i] = 2 if is_char else 1
        pos += ln

    fmts = []
    for i in range(ncols):
        f = bytearray(88)
        f[0:8] = _SIG_FMT
        # six u16 text refs at 3*8 + {22..32}: fmt idx/off/len, label
        # idx/off/len (idx 0 = the single text block); (0,0) refs mean
        # no format / no label and readers fall back to plain double/char
        struct.pack_into(
            "<HHHHHH", f, 24 + 22, 0, fmt_refs[i][0], fmt_refs[i][1],
            0, lbl_refs[i][0], lbl_refs[i][1],
        )
        fmts.append(bytes(f))

    payloads = [bytes(row_size), bytes(col_size), col_text, bytes(col_name), bytes(col_attr), *fmts]

    page = bytearray(page_length)
    struct.pack_into("<H", page, _BO, 0)  # META
    struct.pack_into("<H", page, _BO + 2, 0)  # block_count
    struct.pack_into("<H", page, _BO + 4, len(payloads))
    ptr_base = _BO + 8
    off = ptr_base + _PTR * len(payloads)
    off += -off % 8
    for i, p in enumerate(payloads):
        if off + len(p) > page_length:
            raise ValueError("metadata does not fit the page (internal sizing bug)")
        struct.pack_into("<QQ", page, ptr_base + _PTR * i, off, len(p))
        # compression=0, type=0, 6 pad bytes already zero
        page[off : off + len(p)] = p
        off += len(p)
        off += -off % 8
    return bytes(page)


def _header(page_length: int, page_count: int, dsname: str) -> bytes:
    hdr = bytearray(_HDR_LEN)
    hdr[0:32] = _MAGIC
    hdr[32] = ord("3")  # 64-bit
    hdr[35] = ord("3")  # 4-byte alignment
    hdr[37] = 0x01  # little-endian
    hdr[39] = ord("1")  # unix platform
    hdr[70] = 20  # UTF-8
    hdr[92:156] = dsname.encode("utf-8", "replace")[:64].ljust(64, b"\x00")
    hdr[156:164] = b"DATA    "
    # created/modified (seconds since 1960) at 164+4 / 172+4: left 0.0
    struct.pack_into("<I", hdr, 200, _HDR_LEN)  # header size (196+align1)
    struct.pack_into("<I", hdr, 204, page_length)
    struct.pack_into("<I", hdr, 208, page_count)
    hdr[224:232] = b"9.0401M4"  # release (216 + total_align 8)
    hdr[232:248] = b"X64_ES08".ljust(16, b" ")
    return bytes(hdr)


def _page_geometry(cols, row_length: int, labels: dict[str, str] | None = None) -> tuple[int, int]:
    """(page_length, meta payload demand) — page must hold the whole
    metadata set AND at least one data row."""
    ncols = len(cols)
    labels = labels or {}
    text = 8 + sum(
        ((len(n.encode()) + 3) // 4) * 4
        + ((len(f.encode()) + 3) // 4) * 4
        + ((len(labels.get(n, "").encode()[:256]) + 3) // 4) * 4
        for n, _, _, f in cols
    )
    meta = (
        _BO + 8 + _PTR * (5 + ncols)
        + 8  # alignment slop
        + sum((p + 7) // 8 * 8 for p in (808, 24, 8 + text, 28 + 8 * ncols, 28 + 16 * ncols))
        + 96 * ncols
    )
    need = max(meta, _BO + 8 + _PTR + row_length, 8192)
    # Size pages for throughput, not just fit: the old minimum-fit choice
    # put a 1M x 42-col file on 42k 8-KiB pages, and every reader (ours,
    # pandas, SAS) pays a per-page cost — header parse, row-block
    # bookkeeping — that dominated scans 3:1 over actual decode. Target
    # ~256 rows per page, capped at 256 KiB (comfortably inside what
    # real SAS emits), floored at the metadata/one-row demand.
    desired = _BO + 8 + (_PTR + row_length) * 256
    page_length = 1 << max(13, (max(need, min(desired, 1 << 18)) - 1).bit_length())
    return page_length, meta


def assemble_sas7bdat(
    path: str,
    parts: list[tuple[str, list]],
    dsname: str = "DATA",
    column_order: list | None = None,
    string_widths: dict[str, int] | None = None,
    variable_labels: dict[str, str] | None = None,
    compress: bool = False,
) -> None:
    """Driver commit: stream partition row-sections into one .sas7bdat,
    re-striding char columns to global max widths (xport.assemble_xpt
    contract; sections carry (name, is_char, length, sas_format) per
    chunk). ``variable_labels`` is keyed by ORIGINAL column name.
    ``compress``: False, "RLE" (SASYZCRL; True is accepted as an
    alias), or "RDC" (SASYZCR2)."""
    if compress:
        compress = "RLE" if compress is True else str(compress).upper()
        if compress not in ("RLE", "RDC"):
            raise ValueError(f"compress must be False, 'RLE' or 'RDC', got {compress!r}")
    all_sections = [(blob, s) for blob, secs in parts for s in secs]
    order_names = [c[0] if isinstance(c, tuple) else c for c in (column_order or [])]
    short_of = dict(zip(order_names, _sanitize_names(order_names, 32))) if order_names else {}
    labels = {
        short_of.get(n, _sanitize_names([n], 32)[0]): v
        for n, v in (variable_labels or {}).items()
    }
    if not all_sections:
        cols_decl = [
            c if isinstance(c, tuple) else (c, c in (string_widths or {}))
            for c in (column_order or [])
        ]
        if not cols_decl:
            raise ValueError("cannot write an empty sas7bdat with no schema")
        shorts = _sanitize_names([n for n, _ in cols_decl], 32)
        cols = [
            (s, is_char, max(1, int((string_widths or {}).get(n, 1))) if is_char else 8, "")
            for (n, is_char), s in zip(cols_decl, shorts)
        ]
        row_length = sum(ln for _, _, ln, _ in cols)
        page_length, _ = _page_geometry(cols, row_length, labels)
        with open(path, "wb") as f:
            f.write(_header(page_length, 1, dsname))
            f.write(_meta_page(cols, row_length, 0, page_length, labels, compress))
        return

    first = all_sections[0][1][3]
    names = [n for n, _, _, _ in first]
    widths = {n: ln for n, c, ln, _ in first}
    total_rows = 0
    for _, (_, _, nrows, vars_) in all_sections:
        if [n for n, _, _, _ in vars_] != names:
            raise ValueError("sas7bdat sections disagree on column order")
        for n, c, ln, _ in vars_:
            widths[n] = max(widths[n], ln)
        total_rows += nrows
    for n, w in (string_widths or {}).items():
        short = short_of.get(n, _sanitize_names([n], 32)[0])
        if short not in widths:
            raise ValueError(
                f"sas7bdat writer: string_widths declares column {n!r} "
                f"(short {short!r}) not in the written schema"
            )
        widths[short] = max(widths[short], int(w))

    cols, pos = [], 0
    for n, c, _, fmt in first:
        cols.append((n, c, widths[n] if c else 8, fmt))
        pos += cols[-1][2]
    row_length = pos
    page_length, _ = _page_geometry(cols, row_length, labels)
    rows_per_page = min((page_length - _BO - 8) // row_length, 0xFFFF)
    if rows_per_page < 1:
        raise ValueError("row longer than the maximum page size")

    with open(path, "wb") as f:
        f.write(_header(page_length, 1, dsname))  # page count patched below
        f.write(_meta_page(cols, row_length, total_rows, page_length, labels, compress))
        n_pages = 1
        page = bytearray(page_length)
        rows_on_page = 0
        entries: list[bytes] = []
        used = 0
        cap = page_length - (_BO + 8)

        def flush():
            nonlocal rows_on_page, page, n_pages
            struct.pack_into("<H", page, _BO, 256)  # DATA
            struct.pack_into("<H", page, _BO + 2, rows_on_page)
            struct.pack_into("<H", page, _BO + 4, 0)
            f.write(bytes(page))
            page = bytearray(page_length)
            rows_on_page = 0
            n_pages += 1

        def flush_compressed():
            # compressed rows live as data SUBHEADERS on META pages:
            # pointer (offset, len, comp=4, type=1) per row; readers
            # dispatch raw-vs-compressed on len == row_length
            nonlocal entries, used, n_pages
            if not entries:
                return
            cpage = bytearray(page_length)
            struct.pack_into("<H", cpage, _BO, 0)  # META
            struct.pack_into("<H", cpage, _BO + 2, len(entries))
            struct.pack_into("<H", cpage, _BO + 4, len(entries))
            ptr_base = _BO + 8
            off2 = ptr_base + _PTR * len(entries)
            for i, eb in enumerate(entries):
                struct.pack_into("<QQ", cpage, ptr_base + _PTR * i, off2, len(eb))
                cpage[ptr_base + _PTR * i + 16] = 4  # compressed-data id
                cpage[ptr_base + _PTR * i + 17] = 1  # data subheader type
                cpage[off2 : off2 + len(eb)] = eb
                off2 += len(eb)
            f.write(bytes(cpage))
            entries, used = [], 0
            n_pages += 1

        from .parser import _META_EXCLUDE, _is_meta_sig

        for blob, (off, nbytes, nrows, vars_) in all_sections:
            with open(blob, "rb") as src_f:
                src_f.seek(off)
                data = src_f.read(nbytes)
            sec_len = sum(ln for _, _, ln, _ in vars_)
            src = np.frombuffer(data, np.uint8).reshape(nrows, sec_len)
            if sec_len != row_length:  # re-stride to global char widths
                dst = np.full((nrows, row_length), 0x20, dtype=np.uint8)
                spos = dpos = 0
                for (n, c, ln, _), (_, _, out_ln, _) in zip(vars_, cols):
                    dst[:, dpos : dpos + ln] = src[:, spos : spos + ln]
                    spos += ln
                    dpos += out_ln
                src = dst
            for r in range(nrows):
                if compress:
                    rb = src[r].tobytes()
                    c = rdc_compress_row(rb) if compress == "RDC" else rle_compress_row(rb)
                    eb = c if c is not None and len(c) < row_length else rb
                    if eb is rb and (
                        _is_meta_sig(rb[:8]) or rb[:4] in _META_EXCLUDE
                    ):
                        # an incompressible row whose first bytes spell a
                        # metadata signature would be dropped/misrouted by
                        # readers (~2^-32 per row on random data) — no
                        # valid raw encoding exists, so fail loudly
                        raise ValueError(
                            "row collides with a metadata signature; "
                            "write this dataset with compress=False"
                        )
                    if used + _PTR + len(eb) > cap:
                        flush_compressed()
                    entries.append(eb)
                    used += _PTR + len(eb)
                else:
                    base = _BO + 8 + rows_on_page * row_length
                    page[base : base + row_length] = src[r].tobytes()
                    rows_on_page += 1
                    if rows_on_page == rows_per_page:
                        flush()
        if compress:
            flush_compressed()
        elif rows_on_page:
            flush()
        f.seek(208)
        f.write(struct.pack("<I", n_pages))


def spill_partition(batches, blob_path: str, declared: dict[str, int] | None = None,
                    column_formats: dict[str, str] | None = None):
    """Executor side of the distributed write (xport.spill_partition
    contract): encode Arrow batches to row sections appended to
    ``blob_path``; returns [(offset, nbytes, nrows, cols), ...]."""
    sections = []
    off = 0
    with open(blob_path, "wb") as f:
        for batch in batches:
            t = pa.Table.from_batches([batch])
            if t.num_rows == 0:
                continue
            cols, data = encode_row_sections(t, declared, column_formats)
            f.write(data)
            sections.append((off, len(data), t.num_rows, cols))
            off += len(data)
    return sections


def write_sas7bdat(
    table,
    path: str,
    dsname: str = "DATA",
    string_widths: dict[str, int] | None = None,
    variable_labels: dict[str, str] | None = None,
    compress: bool = False,
    column_formats: dict[str, str] | None = None,
) -> None:
    """Write an Arrow table (or Spark/pandas DataFrame) as .sas7bdat:
    one section through ``spill_partition`` + ``assemble_sas7bdat``."""
    write_one_section(
        table, path,
        lambda batches, blob: spill_partition(
            batches, blob, declared=string_widths, column_formats=column_formats
        ),
        lambda target, parts, schema: assemble_sas7bdat(
            target, parts, dsname, column_order(schema), string_widths, variable_labels, compress
        ),
    )


# ------------------------------------------------------- RLE compression

# First-byte safety: a row subheader's leading bytes must never look
# like a metadata signature (parser._META_SIG4/_META_EXCLUDE 4-byte
# prefixes; pandas' 8-byte exact signatures), or readers drop/misroute
# the row. Encodings below never START with 0x00 (COPY64) or
# 0xF6-0xFF (long ZERO2 runs) — the leading op is always a short-count
# ZERO2/BLANK2 (<= 0xF5), ZERO17/BLANK17, INSERT_*, or a COPY1-49.
_UNSAFE_FIRST = set(range(0xF6, 0x100)) | {0x00}


def rle_compress_row(row: bytes) -> bytes | None:
    """SASYZCRL encoder (opcode semantics are the inverse of
    parser.rle_decompress, itself derived from the reference
    decompressor /root/reference/src/sas/decompressor/rle.rs): greedy
    byte-run detection with literal COPY chunks between runs. Returns
    None when the encoding does not shrink the row (caller stores the
    raw row; readers dispatch on length == row_length)."""
    n = len(row)
    out = bytearray()
    lit_start = 0  # pending literal [lit_start, i)
    i = 0

    def flush_literal(end: int) -> None:
        p = lit_start
        while p < end:
            take = min(64, end - p)
            cnt = take - 1
            # COPY1/17/33/49: cmd 0x8+cnt//16, low cnt%16 -> copies cnt+1
            out.append(((0x08 + (cnt // 16)) << 4) | (cnt % 16))
            out.extend(row[p : p + take])
            p += take
        return

    while i < n:
        b = row[i]
        run = 1
        while i + run < n and row[i + run] == b and run < 4112:
            run += 1
        # worthwhile run? specials (zero/blank/@) pay off at 2-3+, any
        # byte at 4+ (INSERT_BYTE3 costs 2 bytes for 3-18 repeats)
        is_special = b in (0x00, 0x20, 0x40)
        if (is_special and run >= 3) or run >= 4:
            flush_literal(i)
            lit = len(out) == 0
            r = run
            while r > 0:
                if is_special:
                    code = {0x40: 0, 0x20: 1, 0x00: 2}[b]
                    if r >= 17:
                        cnt = min(r, 4112)
                        out.append(((0x05 + code) << 4) | ((cnt - 17) >> 8))
                        out.append((cnt - 17) & 0xFF)
                        r -= cnt
                    elif r >= 2:
                        cnt = min(r, 7 if lit else 17)  # short first op stays safe
                        out.append(((0x0D + code) << 4) | (cnt - 2))
                        r -= cnt
                    else:
                        # a 1-byte tail of a special run: literal copy
                        out.append(0x80)
                        out.append(b)
                        r -= 1
                else:
                    if r >= 18:
                        cnt = min(r, 513)
                        out.append((0x04 << 4) | ((cnt - 18) >> 8))
                        out.append((cnt - 18) & 0xFF)
                        out.append(b)
                        r -= cnt
                    elif r >= 3:
                        out.append((0x0C << 4) | (r - 3))
                        out.append(b)
                        r = 0
                    else:
                        out.append(((0x08 << 4)) | (r - 1))
                        out.extend([b] * r)
                        r = 0
                lit = False
            i += run
            lit_start = i
        else:
            i += run
    flush_literal(n)
    if not out or len(out) >= n:
        return None
    if out[0] in _UNSAFE_FIRST:  # defensive: should be unreachable
        return None
    return bytes(out)


# ------------------------------------------------------- RDC compression

def rdc_compress_row(row: bytes) -> bytes | None:
    """SASYZCR2 (Ross Data Compression) encoder — the inverse of
    parser.rdc_decompress (grammar re-derived from the reference
    decompressor /root/reference/src/sas/decompressor/rdc.rs as a spec;
    the reference itself never writes RDC).

    Stream = repeated [16-bit big-endian control word][items]: control
    bit 0 (MSB-first) = one literal byte, bit 1 = a command byte
    ``(cmd << 4) | cnt``:

    - cmd 0: short RLE, take = cnt + 3 (3..18), one value byte follows
    - cmd 1: long RLE, take = cnt + (b1 << 4) + 19 (19..4114), value b2
    - cmd 2: long pattern, offset = cnt + 3 + (b1 << 4) (3..4098),
      count = b2 + 16 (16..271)
    - cmd 3..15: short pattern, take = cmd (3..15), same offset coding

    Greedy: at each position take the longer of the byte-run and the
    rightmost 3-byte-anchored back-match (window 4098, overlap allowed
    — self-referential copies repeat modularly exactly like the
    decompressor's ``offset < take`` path). Returns None when RDC does
    not shrink the row OR the encoded prefix would collide with a
    metadata signature (the caller stores the raw row; readers dispatch
    on length == row_length)."""
    n = len(row)
    if n < 3:
        return None
    bits: list[int] = []          # 1 bit per item, MSB-first per group
    payload: list[bytes] = []     # item payloads in order
    i = 0
    while i < n:
        b = row[i]
        run = 1
        while i + run < n and row[i + run] == b:
            run += 1
        run = min(run, 4114, n - i)
        mlen = 0
        moff = 0
        if n - i >= 3 and i >= 3:
            lo = max(0, i - 4098)
            j = row.rfind(row[i : i + 3], lo, i)  # j <= i-3 -> offset >= 3
            if j != -1:
                off = i - j
                maxl = min(n - i, 271)
                L = 0
                while L < maxl and row[i + L] == row[i + L - off]:
                    L += 1
                mlen, moff = L, off
        best = max(run if run >= 3 else 0, mlen)
        if best < 3:
            bits.append(0)
            payload.append(row[i : i + 1])
            i += 1
            continue
        if run >= mlen:  # RLE (prefer: 2-byte payload up to take 18)
            take = run
            if take <= 18:
                payload.append(bytes(((0 << 4) | (take - 3), b)))
            else:
                take = min(take, 4114)
                v = take - 19
                payload.append(bytes(((1 << 4) | (v & 0x0F), v >> 4, b)))
            bits.append(1)
            i += take
        else:
            take = mlen
            o = moff - 3
            if take <= 15:
                payload.append(bytes(((take << 4) | (o & 0x0F), o >> 4)))
            else:
                payload.append(bytes(((2 << 4) | (o & 0x0F), o >> 4, take - 16)))
            bits.append(1)
            i += take
    # assemble 16-item control groups
    out = bytearray()
    for g in range(0, len(bits), 16):
        grp = bits[g : g + 16]
        ctrl = 0
        for k, bit in enumerate(grp):
            if bit:
                ctrl |= 0x8000 >> k
        out += ctrl.to_bytes(2, "big")
        for item in payload[g : g + 16]:
            out += item
    if len(out) >= n:
        return None
    from .parser import _META_EXCLUDE, _is_meta_sig

    head = bytes(out[:8])
    if _is_meta_sig(head) or head[:4] in _META_EXCLUDE:
        return None  # raw row routes safely by length == row_length
    return bytes(out)

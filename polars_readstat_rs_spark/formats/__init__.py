"""The readstat format table and the record loop the parsers share.

``FORMATS`` is the one place that knows which file extensions belong to
which format and which module parses it (the reference's
``detect_format``, src/lib.rs:383-394). Every parser module implements
the same reader interface, so the DataSource, the streaming source and
the driver-local API dispatch through this table alone:

- ``read_metadata(path)``: stat-cached header parse; every metadata type
  carries ``row_count`` (-1 when the header has none) and
  ``split_unit``, how its data region splits into partitions: "rows"
  (fixed-width records, O(1) seek), "pages" (SAS RLE/RDC row
  subheaders), "rle" (SPSS bytecode/zsav recovery points) or "stream"
  (.por: no count, no random access). Formats that split by records
  also expose ``column_widths`` ({column: record bytes}).
- ``arrow_schema(meta, opts, columns)``.
- ``read_partition(path, start, count, columns, opts=None,
  batch_size=65536)``: Arrow record batches for a row range.
- ``ReadOptions``: the ONE options class below, re-exported; a format
  ignores a field it has no use for.

Column assembly is shared too (the reference declares its options once,
``InformativeNullOpts`` src/lib.rs:62-115, rewrites the schema once,
src/lib.rs:217-278, and applies informative nulls per batch once,
src/lib.rs:282-355): every parser builds a ``Columns`` for its read, so
projection (``select``), informative-null fields and values
(``nulls.informative_fields``/``nulls.combine``) and the trailing
``_row_idx`` follow one rule in every format. A parser supplies only its
Arrow field, its value decode and its indicator decode per column, plus
each column's numpy code and record offset for fixed-width records.

Parser modules import lazily (numpy/pyarrow stay out of planning
workers that never decode), and ``parser()`` looks the module up at
every call, so a caller that replaces ``module.read_metadata`` (the
header-cache probes do) is seen everywhere.

Every writer has ONE encoder: the executor-side ``spill`` of Arrow
batches to record sections and the driver-side ``assemble`` of those
sections into the file. The single-shot ``write_*`` functions and the
multifile sink's part files run the same pair on one section
(``write_one_section``).

Fixed-width records are shared too: every fixed-width parser reads its
row ranges through ``fixed_records``, and every format's fixed-width
string cells go through ONE codec, ``fixed_width_bytes`` (encode: pad
each value's bytes to the column width) and ``fixed_width_strings``
(decode: trim the padding back off by the format's rule).
"""

from __future__ import annotations

import importlib
import os
import tempfile
from contextlib import suppress
from dataclasses import dataclass

# format name -> (extensions, parser module relative to this package).
# .sas7bcat catalogs share the sas7bdat page format (src/lib.rs:389).
FORMATS: dict[str, tuple[tuple[str, ...], str]] = {
    "stata": (("dta",), ".stata.parser"),
    "spss": (("sav", "zsav"), ".spss.parser"),
    "sas": (("sas7bdat", "sas7bcat"), ".sas.parser"),
    "xport": (("xpt",), ".sas.xport"),
    "por": (("por",), ".spss.portable"),
}
EXTENSIONS = tuple(ext for exts, _ in FORMATS.values() for ext in exts)


def format_of(path: str) -> str:
    """Format name of ``path``, by its extension."""
    ext = os.path.splitext(path)[1].lower().lstrip(".")
    for name, (exts, _) in FORMATS.items():
        if ext in exts:
            return name
    raise ValueError(
        f"cannot infer readstat format from path {path!r} "
        f"(known extensions: {', '.join(EXTENSIONS)})"
    )


def check_format(name: str) -> str:
    """``name`` lower-cased, or ValueError listing the known formats."""
    if name.lower() not in FORMATS:
        raise ValueError(f"unknown readstat format {name!r}; known formats: {', '.join(FORMATS)}")
    return name.lower()


def parser(name: str):
    """The parser module of format ``name``."""
    return importlib.import_module(FORMATS[check_format(name)][1], __name__)


@dataclass
class ReadOptions:
    """Every reader option, for every format."""

    # P5: value-labelled numerics decode to their label strings
    value_labels_as_strings: bool = True
    # P8: an empty string cell reads as null
    missing_string_as_null: bool = True
    # SPSS/.por: declared user-missing values read as null
    user_missing_as_null: bool = True
    # P10: a trailing ``_row_idx`` long column numbers each row in the file
    row_index: bool = False
    # P6 informative nulls: False = off; "separate" (or True) = a
    # parallel "<col><suffix>" string column; "struct" = Struct{value,
    # null_indicator}; "merged" = coalesce(cast(value, string),
    # indicator) (nulls.py). System missing stays a plain null.
    informative_nulls: bool | str = False
    # None = every eligible column; else only the named ones (reference
    # InformativeNullColumns::Selected)
    informative_null_columns: list[str] | None = None
    # reference SeparateColumn { suffix } (its default "_null"; ours
    # "__missing" — documented deviation, configurable per scan)
    informative_null_suffix: str = "__missing"
    # reference InformativeNullOpts.use_value_labels: an SPSS indicator
    # is the missing value's label when it has one, else the raw value
    informative_null_use_value_labels: bool = True
    # SAS (beyond the reference): {format name: SasFormat} from a
    # .sas7bcat catalog (sas/catalog.py); columns whose display format
    # names an entry decode to label strings
    catalog_formats: dict | None = None

    def null_mode(self) -> str | None:
        if not self.informative_nulls:
            return None  # off: no nulls.py (pyarrow.compute) import
        from .nulls import normalize_mode

        return normalize_mode(self.informative_nulls)

    def tracks(self, name: str, eligible: bool) -> bool:
        """Whether column ``name`` gets an informative-null indicator."""
        if not eligible or self.null_mode() is None:
            return False
        cols = self.informative_null_columns
        return cols is None or name in cols


def select(items, columns: list[str] | None) -> list:
    """The items (anything with a ``name``) a projection selects, in the
    requested order (reference P1); unknown names drop."""
    if columns is None:
        return list(items)
    by_name = {c.name: c for c in items}
    return [by_name[c] for c in columns if c in by_name]


class Columns:
    """One read's column assembly: the selected columns, their Arrow
    schema, and the record batches built from their cells.

    ``field(col)`` is the format's Arrow field for a column and
    ``eligible(col)`` whether it can carry an informative-null
    indicator. A tracked column expands through
    ``nulls.informative_fields``; ``_row_idx`` comes last."""

    def __init__(self, items, columns, opts: ReadOptions, field, eligible=lambda col: False):
        import pyarrow as pa

        self.items = select(items, columns)
        self.opts = opts
        self.mode = opts.null_mode()
        self.tracked = [opts.tracks(c.name, eligible(c)) for c in self.items]
        fields = []
        for c, tracked in zip(self.items, self.tracked):
            f = field(c)
            if tracked:
                from .nulls import informative_fields

                fields.extend(
                    informative_fields(c.name, f.type, self.mode, opts.informative_null_suffix)
                )
            else:
                fields.append(f)
        if opts.row_index:
            fields.append(pa.field("_row_idx", pa.int64()))
        self.schema = pa.schema(fields)

    def batch(self, cells, nrows: int, first_row: int, decode, indicator=None):
        """Record batch of ``nrows`` rows from file row ``first_row`` on:
        ``cells[i]`` holds the i-th selected column's cells, which
        ``decode(cells, col)`` turns into its values and, for a tracked
        column, ``indicator(cells, col)`` into its indicator strings."""
        import numpy as np
        import pyarrow as pa

        arrays = []
        for c, cell, tracked in zip(self.items, cells, self.tracked):
            value = decode(cell, c)
            if tracked:
                from .nulls import combine

                arrays.extend(combine(
                    c.name, value, indicator(cell, c), self.mode, self.opts.informative_null_suffix
                ).values())
            else:
                arrays.append(value)
        if self.opts.row_index:
            arrays.append(pa.array(np.arange(first_row, first_row + nrows, dtype=np.int64)))
        return pa.RecordBatch.from_arrays(arrays, schema=self.schema)

    def records(self, record_len: int, cell, decode, indicator=None):
        """``decode(raw, first_row) -> RecordBatch`` over a block of
        fixed-width records (the callback ``fixed_records`` takes): one
        numpy structured view of the selected columns, where ``cell(col)``
        is a column's ``(numpy code, record offset)``."""
        import numpy as np

        layout = [cell(c) for c in self.items]
        names = [f"f{i}" for i in range(len(layout))]
        dt = np.dtype({
            "names": names,
            "formats": [code for code, _ in layout],
            "offsets": [off for _, off in layout],
            "itemsize": record_len,
        })

        def run(raw: bytes, first_row: int):
            nrows = len(raw) // record_len if record_len else 0
            rec = np.frombuffer(raw, dtype=dt, count=nrows)
            return self.batch([rec[n] for n in names], nrows, first_row, decode, indicator)

        return run


def write_one_section(table, path: str, spill, assemble) -> None:
    """Write ``table`` (Arrow table, Spark or pandas DataFrame) to
    ``path`` through a format's staged encoder: the whole table spilled
    as ONE section (``spill(batches, blob) -> sections``) to a temp blob
    beside ``path``, then ``assemble(path, parts, schema)``. The blob
    goes whatever happens."""
    import pyarrow as pa

    if hasattr(table, "toArrow"):
        table = table.toArrow()
    elif hasattr(table, "to_arrow"):
        table = table.to_arrow()
    elif not isinstance(table, pa.Table):
        table = pa.Table.from_pandas(table, preserve_index=False)
    fd, blob = tempfile.mkstemp(
        prefix=f".{os.path.basename(path)}.", suffix=".spill",
        dir=os.path.dirname(os.path.abspath(path)),
    )
    os.close(fd)
    try:
        sections = spill(table.combine_chunks().to_batches(), blob)
        assemble(path, [(blob, sections)] if sections else [], table.schema)
    finally:
        with suppress(OSError):
            os.unlink(blob)


def fixed_records(path: str, data_offset: int, record_len: int, start: int, count: int,
                  batch_size: int, decode):
    """Yield ``decode(raw, first_row)`` over rows [start, start+count) of
    a fixed-width record region, ``batch_size`` rows per chunk. The
    metadata declared these rows, so a short read is a truncated file:
    EOFError naming the path and the byte offset where the data ends."""
    if record_len == 0:
        return
    with open(path, "rb") as f:
        f.seek(data_offset + start * record_len)
        done = 0
        while done < count:
            take = min(batch_size, count - done)
            raw = f.read(take * record_len)
            if len(raw) < take * record_len:
                at = data_offset + (start + done) * record_len + len(raw)
                raise EOFError(
                    f"truncated file {path!r}: data ends at byte offset {at}, "
                    f"{count - done - len(raw) // record_len} declared rows missing"
                )
            yield decode(raw, start + done)
            done += take


def fixed_width_bytes(arr, width: int = 1, pad: int = 0):
    """Arrow string/binary array (or ChunkedArray) -> ``(n, w)`` uint8
    matrix of each value's bytes padded with ``pad``, where ``w =
    max(widest value, width, 1)``. Nulls become empty values. No per-row
    Python: each row's bytes are a prefix of its row, so the packed data
    buffer lands with one boolean-mask assignment."""
    import numpy as np
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    big = pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type)
    a = arr.cast(pa.large_binary() if big else pa.binary())
    if a.null_count:
        a = a.fill_null(b"")
    n = len(a)
    off = np.frombuffer(a.buffers()[1], np.int64 if big else np.int32)[a.offset : a.offset + n + 1]
    lens = np.diff(off)
    w = max(int(lens.max()) if n else 0, width, 1)
    out = np.full((n, w), pad, np.uint8)
    if n and off[n] > off[0]:
        data = np.frombuffer(a.buffers()[2], np.uint8)
        out[np.arange(w) < lens[:, None]] = data[off[0] : off[n]]
    return out


def fixed_width_strings(u8, encoding: str, null_empty: bool, nul_terminated: bool):
    """``(n, w)`` uint8 matrix of fixed-width cells -> Arrow strings.

    ``nul_terminated`` (Stata, SAS, XPORT; the reference's C-string rule,
    src/stata/data.rs:818-835, src/sas/value.rs:94-120): the value ends at
    the first NUL, then trailing spaces are trimmed. Otherwise (SPSS,
    src/spss/data.rs:840-843) only the trailing run of spaces and NULs
    is trimmed; leading whitespace and interior NULs are kept. Empty
    values become null when ``null_empty``. Values that are not valid in
    ``encoding`` fall back to latin-1 one by one (files sometimes declare
    UTF-8 but hold legacy bytes); otherwise no per-row Python.
    """
    import numpy as np
    import pyarrow as pa

    n, w = u8.shape
    idx = np.arange(w)
    if w == 0:
        length = np.zeros(n, np.int64)
    else:
        rows = np.arange(n)
        is_nul = u8 == 0
        keep = ~is_nul & (u8 != 0x20)
        if nul_terminated:
            # argmax + single-element gather instead of a full .any() reduce
            fn = is_nul.argmax(axis=1)
            keep &= idx[None, :] < np.where(is_nul[rows, fn], fn, w)[:, None]
        last = keep[:, ::-1].argmax(axis=1)
        length = np.where(keep[rows, w - 1 - last], w - last, 0).astype(np.int64)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(length, out=offsets[1:])
    # only trailing bytes are trimmed, so each value is a PREFIX of its
    # row and the packed data buffer is one boolean-mask gather
    data = np.ascontiguousarray(u8)[idx[None, :] < length[:, None]]
    mask = length == 0 if null_empty else None
    if encoding == "utf-8" or not (data & 0x80).any():
        try:
            arr = pa.Array.from_buffers(
                pa.large_binary(), n,
                [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data.tobytes())],
            ).cast(pa.string())
            if mask is not None and mask.any():
                # imported here: a decode worker without empty values
                # never pays pyarrow.compute's ~50 ms first import
                import pyarrow.compute as pc

                arr = pc.if_else(pa.array(~mask), arr, pa.scalar(None, pa.string()))
            return arr
        except pa.ArrowInvalid:
            pass  # declared UTF-8 but invalid payload -> per-value fallback
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

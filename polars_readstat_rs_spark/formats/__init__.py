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
- ``ReadOptions``: a dataclass whose fields are the options the format
  honours.

Parser modules import lazily (numpy/pyarrow stay out of planning
workers that never decode), and ``parser()`` looks the module up at
every call, so a caller that replaces ``module.read_metadata`` (the
header-cache probes do) is seen everywhere.

Every writer has ONE encoder: the executor-side ``spill`` of Arrow
batches to record sections and the driver-side ``assemble`` of those
sections into the file. The single-shot ``write_*`` functions and the
multifile sink's part files run the same pair on one section
(``write_one_section``).
"""

from __future__ import annotations

import importlib
import os
import tempfile
from contextlib import suppress

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

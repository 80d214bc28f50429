"""In-process layer measurements for the traced run.

These call the package's layers directly from the driver, on the
workload's own inputs: the DataSource planning calls, the serial
executor decode (``reader.read`` over every partition, the same code an
executor task runs), the per-file header parse and its cache, and the
two phases of the distributed writer.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow.compute as pc

import fixtures
from checks import WrongResult
from harness import median


def _parser(fmt: str):
    from polars_readstat_rs_spark.formats.sas import parser as sas_parser
    from polars_readstat_rs_spark.formats.sas import xport
    from polars_readstat_rs_spark.formats.spss import parser as spss_parser
    from polars_readstat_rs_spark.formats.stata import parser as stata_parser

    return {"dta": stata_parser, "sav": spss_parser, "sas7bdat": sas_parser, "xpt": xport}[fmt]


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def planning(targets) -> dict:
    """Two planning passes (schema + partitions) over the targets in
    round order, as the reused planning workers see them. The second
    pass is measured; a target's first ``read_metadata`` call for each
    of its files is a header-cache hit when the file's stat key is
    already cached (later calls within one planning always hit)."""
    from polars_readstat_rs_spark.datasource import ReadstatDataSource

    def plan(t):
        ds = ReadstatDataSource(dict(t.options))
        schema, s_s = _timed(ds.schema)
        parts, p_s = _timed(ds.reader(schema).partitions)
        return s_s, p_s, len(parts)

    for t in targets:
        plan(t)
    calls = [0, 0]  # hits, first lookups
    seen: set[str] = set()  # files looked up by the current target
    parsers = {t.fmt: _parser(t.fmt) for t in targets}
    cached = {fmt: mod.read_metadata for fmt, mod in parsers.items()}

    def counting(fn):
        def read_metadata(path, *args, **kwargs):
            real = os.path.realpath(path)
            if real not in seen:
                seen.add(real)
                st = os.stat(real)
                calls[0] += (real, st.st_size, st.st_mtime_ns, args, tuple(sorted(kwargs.items()))) in fn._cache
                calls[1] += 1
            return fn(path, *args, **kwargs)
        return read_metadata

    schema_s, parts_s, nparts = [], [], []
    try:
        for fmt, mod in parsers.items():
            mod.read_metadata = counting(cached[fmt])
        for t in targets:
            seen.clear()
            s_s, p_s, n = plan(t)
            schema_s.append(s_s)
            parts_s.append(p_s)
            nparts.append(n)
    finally:
        for fmt, mod in parsers.items():
            mod.read_metadata = cached[fmt]
    headers = [
        _timed(lambda f=f, t=t: _parser(t.fmt).read_metadata.__wrapped__(f))[1]
        for t in targets for f in t.files
    ]
    return {
        "datasource.schema_s": median(schema_s),
        "datasource.partitions_s": median(parts_s),
        "datasource.partitions": median(nparts),
        "metacache.header_s": median(headers),
        "metacache.hit_ratio": calls[0] / calls[1],
    }


def decode(targets, predicate=None) -> tuple[dict, dict]:
    """Serial in-process decode of every partition of every target.
    Returns the workload totals and a breakdown by target label. With
    ``predicate`` (column, lower bound), also the share of decoded rows
    that survive it."""
    from polars_readstat_rs_spark.datasource import ReadstatDataSource

    per_fmt: dict[str, dict] = {}
    kept = 0
    for t in targets:
        t0 = time.perf_counter()
        ds = ReadstatDataSource(dict(t.options))
        reader = ds.reader(ds.schema())
        rows = nbytes = 0
        batches = []
        for p in reader.partitions():
            for b in reader.read(p):
                rows += b.num_rows
                nbytes += b.nbytes
                batches.append(b)
        dt = time.perf_counter() - t0
        if predicate:
            col, lo = fixtures.column(predicate[0], t.fmt), predicate[1]
            kept += sum(pc.sum(pc.fill_null(pc.greater(b[col], lo), False)).as_py() or 0 for b in batches)
        acc = per_fmt.setdefault(t.label, {"s": 0.0, "rows": 0, "bytes": 0, "scans": []})
        acc["s"] += dt
        acc["rows"] += rows
        acc["bytes"] += nbytes
        acc["scans"].append(dt)
    total_s = sum(a["s"] for a in per_fmt.values())
    total_rows = sum(a["rows"] for a in per_fmt.values())
    out = {
        "datasource.decode_s": total_s,
        "datasource.decode_rows_per_s": total_rows / total_s,
        "datasource.arrow_bytes_per_row": sum(a["bytes"] for a in per_fmt.values()) / total_rows,
        "decode_per_scan_s": median([s for a in per_fmt.values() for s in a["scans"]]),
    }
    detail = {}
    for label, a in per_fmt.items():
        detail[f"datasource.{label}.decode_s"] = a["s"]
        detail[f"datasource.{label}.decode_rows_per_s"] = a["rows"] / a["s"]
        detail[f"datasource.{label}.arrow_bytes_per_row"] = a["bytes"] / a["rows"]
    if predicate:
        detail["datasource.filter_keep_ratio"] = kept / total_rows
    return out, detail


def writer_phases(tables: dict, out_dir: str) -> tuple[dict, dict]:
    """The distributed writer's two phases, called directly: ``write``
    (the executor-side spill of one partition's batches) and ``commit``
    (the driver-side assembly of the final file). Each file is read back
    and must hold the table's rows and first-column sum."""
    from polars_readstat_rs_spark.datasource import ReadstatDataSource, _from_arrow_schema

    os.makedirs(out_dir, exist_ok=True)
    detail, spill, assemble = {}, 0.0, 0.0
    for ext, table in tables.items():
        table = fixtures.as_written(table, ext)
        path = os.path.join(out_dir, f"phases.{ext}")
        writer = ReadstatDataSource({"path": path}).writer(_from_arrow_schema(table.schema), True)
        msg, s_s = _timed(lambda: writer.write(iter(table.to_batches(65_536))))
        _, a_s = _timed(lambda: writer.commit([msg]))
        back = ReadstatDataSource({"path": path})
        reader = back.reader(back.schema())
        got = [b for p in reader.partitions() for b in reader.read(p)]
        rows = sum(b.num_rows for b in got)
        ids = sum(pc.sum(b.column(0)).as_py() or 0 for b in got)
        if rows != table.num_rows or ids != pc.sum(table.column(0)).as_py():
            raise WrongResult(f"{path!r} read back {rows} rows, first-column sum {ids}")
        detail[f"formats.{ext}.spill_s"] = s_s
        detail[f"formats.{ext}.assemble_s"] = a_s
        spill += s_s
        assemble += a_s
    shutil.rmtree(out_dir, ignore_errors=True)
    return {"formats.spill_s": spill, "formats.assemble_s": assemble}, detail


def fixture_writes(workload) -> tuple[dict, dict]:
    """Single-shot writer time and output bytes per row of the
    workload's fixture files (written during set-up)."""
    nbytes = sum(os.path.getsize(p) for p, _ in workload.written)
    rows = sum(n for _, n in workload.written)
    detail = {f"formats.{k}.write_s": v for k, v in workload.write_s.items()}
    return {
        "formats.write_s": sum(workload.write_s.values()),
        "formats.file_bytes_per_row": nbytes / rows,
    }, detail

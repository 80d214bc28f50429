"""Public API: the reference's entry points re-expressed for Spark.

- readstat_scan(spark, path, ...)    — lazy scan (reference S1,
  src/lib.rs:397-413): a DataFrame over the custom DataSource.
- readstat_metadata(spark, path)     — metadata probe (reference S8,
  src/lib.rs:416-438): one row per variable with name/type/format/labels.
- write_dta(df, path, ...)           — Stata writer (reference W1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ._metacache import bounded_put
from .datasource import ReadstatDataSource
from .formats.stata import parser as stata_parser
from .formats.stata import writer as stata_writer

_registered: set[int] = set()


def _ensure_registered(spark: SparkSession) -> None:
    from .session import ensure_session_confs

    ensure_session_confs(spark)
    if id(spark) not in _registered:
        try:
            spark.dataSource.register(ReadstatDataSource)
        except Exception as e:  # noqa: BLE001
            # an already-registered source is success (e.g. a test
            # registered directly before calling the api), anything
            # else is a real failure. NOTE pyspark 4.1 asymmetry:
            # spark.newSession() siblings hit ALREADY_EXISTS here yet
            # their own lookup path cannot resolve the source either —
            # format("readstat") reads must run on the session that
            # first registered (or a fresh getOrCreate()), not on a
            # newSession() sibling.
            if "DATA_SOURCE_ALREADY_EXISTS" not in str(e):
                raise
        _registered.add(id(spark))


def plan_rle_partitions(
    spark: SparkSession,
    path: str,
    partitions: int = 0,
    target_bytes: int | None = None,
) -> dict[str, list]:
    """Compute compressed-SPSS (.sav RLE / .zsav) split plans for every
    file under ``path`` as a SPARK JOB, not on the driver.

    The recovery-point scan reads each file's RLE control stream —
    O(file bytes) work that is fine driver-side for one file but
    O(corpus) for a directory. Here each executor task scans one file
    and returns only the bounded plan tuples (rows × anchors), so
    driver time is O(#files) collect. Feed the result to
    readstat_scan(..., split_compressed=True) or pass it as the
    ``rle_plan`` JSON option directly.
    """
    import json

    from .datasource import expand_paths, split_target
    from .formats.spss import parser as spss_parser

    files = expand_paths(path)

    def _meta(p: str):
        try:
            return spss_parser.read_metadata(p)
        except Exception:
            return None  # not SPSS (mixed dir) — nothing to plan

    # the split target follows the whole scan's record bytes, as the
    # DataSource planner sizes it (O(header) per file on the driver)
    tb = target_bytes or split_target(
        sum(m.row_count * m.record_len for m in map(_meta, files) if m is not None)
    )

    def _plan_one(p: str) -> tuple[str, list] | None:
        meta = _meta(p)
        if meta is None or spss_parser.splittable(meta):
            return None
        plan = spss_parser.rle_partition_plan(p, meta, 0, meta.row_count, partitions, tb)
        return (p, [list(t) for t in plan]) if plan else None

    # ALWAYS a job, even for one file: a single 500 GB .zsav's recovery
    # scan would otherwise pin the driver before the query starts
    try:
        sc = spark.sparkContext
    except Exception:
        sc = None  # Spark Connect: no RDD API from the client
    if sc is not None:
        out = (
            sc.parallelize(files, max(1, min(len(files), sc.defaultParallelism)))
            .map(_plan_one)
            .collect()
        )
    else:
        # Connect fallback: mapInPandas over a file-name DataFrame — the
        # scans still run executor-side (one task per file), only the
        # bounded plan JSON comes back to the client.
        import pandas as _pd

        def _plan_batch(batches):
            for b in batches:
                rows = []
                for p in b["path"]:
                    entry = _plan_one(p)
                    if entry:
                        rows.append({"path": entry[0], "plan": json.dumps(entry[1])})
                yield _pd.DataFrame(rows, columns=["path", "plan"])

        fdf = spark.createDataFrame([(p,) for p in files], "path string")
        fdf = fdf.repartition(max(1, min(len(files), 64)), "path")
        planned = fdf.mapInPandas(_plan_batch, "path string, plan string").collect()
        out = [(r["path"], json.loads(r["plan"])) for r in planned]
    result = {p: plan for entry in out if entry for p, plan in [entry]}
    json.dumps(result)  # fail fast if anything non-serializable slips in
    return result


def readstat_scan(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    offset: int = 0,
    limit: int | None = None,
    value_labels_as_strings: bool = True,
    missing_string_as_null: bool = True,
    row_index: bool = False,
    partitions: int | None = None,
    informative_nulls: bool | str = False,
    informative_null_columns: list[str] | None = None,
    informative_null_suffix: str | None = None,
    informative_null_use_value_labels: bool = True,
    split_compressed: bool = False,
    catalog: str | None = None,
) -> DataFrame:
    _ensure_registered(spark)
    # Session-scoped DataFrame cache (mirrors tables.load_table): a
    # DataFrame is an immutable logical plan, so an identical scan of
    # unchanged files returns the cached one and skips the schema and
    # read-planning worker rounds: a new scan of a 4k-row .dta costs
    # 0.54 s to a noop sink, the cached one 0.10 s (4 cores). The
    # stat fingerprint of every matched file invalidates on replace.
    cache_key = _scan_cache_key(
        spark, path, columns, offset, limit, value_labels_as_strings,
        missing_string_as_null, row_index, partitions, informative_nulls,
        informative_null_columns, informative_null_suffix,
        informative_null_use_value_labels, split_compressed, catalog,
    )
    if cache_key is not None:
        cached = _SCAN_CACHE.get(cache_key)
        if cached is not None:
            return cached
    r = spark.read.format("readstat")
    if catalog:
        # SAS value labels live in a separate .sas7bcat catalog; columns
        # whose display format matches a catalog entry decode to label
        # strings (P5 parity for SAS — formats/sas/catalog.py)
        r = r.option("catalog", catalog)
    if not split_compressed and offset == 0 and limit is None:
        # Auto-route: splitting a SINGLE compressed .sav/.zsav otherwise
        # falls to an O(file-bytes) control-stream scan inside the
        # planner (datasource._file_partitions) — driver-adjacent work
        # that pins planning on a 500 GB file. Detect compression from
        # the header (O(1) bytes) and let the executor job compute the
        # split plan instead. Directories already avoid the expensive
        # scan (one partition per file) unless split_compressed=True.
        from .datasource import expand_paths

        files = expand_paths(path)
        if len(files) == 1 and files[0].lower().endswith((".sav", ".zsav")):
            from .formats.spss import parser as spss_parser

            try:
                split_compressed = not spss_parser.splittable(
                    spss_parser.read_metadata(files[0])
                )
            except Exception:
                pass
    if split_compressed:
        import json

        plan = plan_rle_partitions(spark, path, partitions or 0)
        if plan:
            r = r.option("rle_plan", json.dumps(plan))
    if columns:
        r = r.option("columns", ",".join(columns))
    if offset:
        r = r.option("offset", str(offset))
    if limit is not None:
        r = r.option("limit", str(limit))
    if partitions:
        r = r.option("partitions", str(partitions))
    if informative_nulls:
        # False | "separate"/True | "struct" | "merged" (reference
        # InformativeNullMode, src/lib.rs:71-81)
        r = r.option("informative_nulls", str(informative_nulls).lower())
    if informative_null_columns:
        r = r.option("informative_null_columns", ",".join(informative_null_columns))
    if informative_null_suffix is not None:
        r = r.option("informative_null_suffix", informative_null_suffix)
    if not informative_null_use_value_labels:
        r = r.option("informative_null_use_value_labels", "false")
    r = r.option("value_labels_as_strings", str(value_labels_as_strings).lower())
    r = r.option("missing_string_as_null", str(missing_string_as_null).lower())
    r = r.option("row_index", str(row_index).lower())
    df = r.load(path)
    if cache_key is not None:
        bounded_put(_SCAN_CACHE, cache_key, df)
    return df


def _format_parser(ext: str):
    """Per-format parser module for metadata-level dispatch (one place
    instead of another copy of the if/ext ladder — r14 code review; the
    read paths keep their own ladders where logic is interleaved)."""
    if ext == "dta":
        return stata_parser
    if ext in ("sav", "zsav"):
        from .formats.spss import parser as spss_parser

        return spss_parser
    if ext in ("sas7bdat", "sas7bcat"):
        from .formats.sas import parser as sas_parser

        return sas_parser
    if ext == "xpt":
        from .formats.sas import xport

        return xport
    if ext == "por":
        from .formats.spss import portable

        return portable
    raise ValueError(f"cannot infer readstat format from extension {ext!r}")


def readstat_row_count(path: str) -> int:
    """Row count from the file header (O(header) — the per-format
    read_metadata calls are stat-fingerprint cached)."""
    meta = _format_parser(path.rsplit(".", 1)[-1].lower()).read_metadata(path)
    return meta.nobs if hasattr(meta, "nobs") else meta.row_count


def readstat_read_local(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    offset: int = 0,
    limit: int | None = None,
    value_labels_as_strings: bool = True,
    missing_string_as_null: bool = True,
    row_index: bool = False,
    informative_nulls: bool | str = False,
    informative_null_columns: list[str] | None = None,
    informative_null_suffix: str | None = None,
    informative_null_use_value_labels: bool = True,
    catalog: str | None = None,
    batch_size: int = 65536,
    max_rows: int = 5_000_000,
) -> DataFrame:
    """Driver-local fast path for SMALL single files: decode in-process
    and hand Spark an Arrow-backed local relation, skipping the Python
    DataSource planning worker + executor job entirely.

    Why it exists (READER_FLOOR_r13 / r13 verdict item 6): a new Spark
    scan of a single file pays fixed planning and task floors that an
    embedded reader does not. Measured on 4 cores to a noop sink: a
    4k-row .dta costs 0.54 s through a new DataSource scan and 0.06 s
    here; at 100k rows 0.50 s against 0.39 s, where decode starts to
    dominate and a cached 4-task scan takes 0.13 s. This path runs the
    EXACT executor reader code (``ReadstatDataSource`` ->
    ``_ReadstatReader.partitions()/read()``) in the driver process, so
    every option's semantics — value labels, catalogs, informative
    nulls, row_index, offset/limit — are byte-identical to
    ``readstat_scan``'s by construction; only the execution locus
    differs. The result is a LocalTableScan, so downstream transforms
    still distribute normally.

    Use for interactive/driver-heavy loops over small files; use
    ``readstat_scan`` (the default) for anything big or for many files
    at once — this path materializes the whole file in driver memory
    and refuses files above ``max_rows`` (``ValueError``).
    """
    from .datasource import ReadstatDataSource, expand_paths

    # same session-conf normalization as readstat_scan (UTC session
    # zone, timestamp flavor): createDataFrame localizes tz-naive Arrow
    # timestamps from the session zone, so a user-built session with a
    # non-UTC zone would otherwise shift epochs vs the DataSource path
    # (r14 code-review finding)
    _ensure_registered(spark)
    files = expand_paths(path)
    if len(files) != 1:
        raise ValueError(
            f"readstat_read_local reads ONE file, got {len(files)} from {path!r}; "
            "use readstat_scan for directories/globs"
        )
    opts: dict[str, str] = {
        "path": files[0],
        "value_labels_as_strings": str(value_labels_as_strings).lower(),
        "missing_string_as_null": str(missing_string_as_null).lower(),
        "row_index": str(row_index).lower(),
        "batch_size": str(batch_size),
        "offset": str(offset),
    }
    if columns:
        opts["columns"] = ",".join(columns)
    if limit is not None:
        opts["limit"] = str(limit)
    if informative_nulls:
        opts["informative_nulls"] = str(informative_nulls).lower()
    if informative_null_columns:
        opts["informative_null_columns"] = ",".join(informative_null_columns)
    if informative_null_suffix is not None:
        opts["informative_null_suffix"] = informative_null_suffix
    if not informative_null_use_value_labels:
        opts["informative_null_use_value_labels"] = "false"
    if catalog:
        opts["catalog"] = catalog

    ds = ReadstatDataSource(opts)
    n_rows = readstat_row_count(files[0])
    if n_rows >= 0:  # .por headers don't carry a count (-1): skip guard
        take = n_rows - min(offset, n_rows)
        if limit is not None:
            take = min(take, limit)
        if take > max_rows:
            raise ValueError(
                f"{path!r} has {take} rows to read > max_rows={max_rows}; "
                "use readstat_scan (distributed) for files this large"
            )
    spark_schema = ds.schema()
    reader = ds.reader(spark_schema)
    import pyarrow as pa

    batches = [b for part in reader.partitions() for b in reader.read(part)]
    if not batches:
        return spark.createDataFrame([], schema=spark_schema)
    table = pa.Table.from_batches(batches)
    return spark.createDataFrame(table, schema=spark_schema)


# (session, path, file fingerprints, full option tuple) -> DataFrame
_SCAN_CACHE: dict[tuple, DataFrame] = {}


def _scan_cache_key(spark, path, *opts):
    """Cache key for readstat_scan, or None when uncacheable (unstatable
    path / unhashable option). Keyed on every matched file's
    (size, mtime_ns) so replacing or adding a file invalidates — the
    directory LISTING is part of the key via the per-file entries. The
    catalog argument (opts[-1]) is a FILE the plan bakes label formats
    from, so its fingerprint joins the key too. Session identity is
    (applicationId, id(spark)): a cached DataFrame is bound to the
    session that created it, and spark.newSession() siblings share an
    applicationId but must not share plans (session-level confs)."""
    import os

    from .datasource import expand_paths

    try:
        files = list(expand_paths(path))
        catalog = opts[-1]
        if catalog:
            files.append(catalog)
        fps = tuple(
            (f, st.st_size, st.st_mtime_ns)
            for f in files
            for st in (os.stat(f),)
        )
        session_key = (spark.sparkContext.applicationId, id(spark))
    except Exception:
        return None
    try:
        norm = tuple(tuple(o) if isinstance(o, list) else o for o in opts)
        key = (session_key, path, fps, norm)
        hash(key)  # verify hashability (options may hold exotica)
        return key
    except TypeError:
        return None


def readstat_select(
    spark: SparkSession, path: str, columns: list[str], **scan_kwargs
) -> DataFrame:
    """Column-pruned scan — THE documented projection-pushdown path.

    pyspark 4.1 Python DataSources expose ``pushFilters`` but no
    column-pruning hook, so a bare ``.select()`` AFTER ``.load()``
    projects in Spark while the reader still decodes every column's
    bytes.  This helper routes the projection into the reader's
    ``columns`` option (reference projection pushdown,
    ``/root/reference/src/lib.rs`` scan args), where the per-format
    parsers skip non-selected columns at the byte level — on a 286-col
    SAS file projecting 2 columns, that is the difference between
    decoding 2/286 and 286/286 of every page.

    Equivalent to ``readstat_scan(spark, path, columns=columns, ...)``;
    exists so the fast path has a first-class, discoverable name."""
    if not columns:
        raise ValueError("readstat_select requires a non-empty column list")
    return readstat_scan(spark, path, columns=list(columns), **scan_kwargs)


def _stata_label_key(key: int, version: int) -> str:
    """Reference value_label_key_to_string + missing_value_label
    (src/stata/mod.rs:30-66): v>=113 int sentinels stringify as
    MISSING / MISSING_a..z; everything else as the integer."""
    if version >= 113 and key >= 2147483621:
        off = key - 2147483621
        if off == 0:
            return "MISSING"
        if off <= 26:
            return f"MISSING_{chr(ord('a') + off - 1)}"
    return str(key)


def _stata_labels_json(meta, name: str | None) -> str | None:
    import json

    m = meta.value_labels.get(name) if name else None
    if not m:
        return None
    return json.dumps({_stata_label_key(k, meta.version): v for k, v in m.items()})


def readstat_metadata(spark: SparkSession, path: str) -> DataFrame:
    """Per-variable metadata as a DataFrame (driver-side header parse).

    Includes the file encoding and each variable's full value-label
    mapping as JSON, matching the reference probe's fidelity
    (readstat_metadata_json, src/stata/mod.rs:69-115).
    """
    ext = path.rsplit(".", 1)[-1].lower()
    if ext == "dta":
        meta = stata_parser.read_metadata(path)
        rows = [
            (
                path,
                meta.version,
                meta.nobs,
                meta.nvar,
                v.name,
                v.kind,
                v.width,
                v.fmt,
                v.var_label,
                v.label_name,
                len(meta.value_labels.get(v.label_name, {})),
                meta.encoding,
                _stata_labels_json(meta, v.label_name),
            )
            for v in meta.variables
        ]
        return spark.createDataFrame(
            rows,
            "path string, version int, nobs long, nvar int, name string, kind string, "
            "width int, format string, var_label string, label_name string, "
            "n_value_labels int, encoding string, value_labels string",
        )
    if ext in ("sav", "zsav"):
        from .formats.spss import parser as spss_parser

        return spss_parser.metadata_frame(spark, path)
    if ext in ("sas7bdat", "sas7bcat"):
        from .formats.sas import parser as sas_parser

        return sas_parser.metadata_frame(spark, path)
    if ext == "xpt":
        from .formats.sas import xport

        meta = xport.read_metadata(path)
        rows = [
            (
                path,
                meta.row_count,
                len(meta.variables),
                v.name,
                "Char" if v.is_char else "Numeric",
                v.length,
                v.position,
                v.format,
                v.label,
                meta.dataset_name,
            )
            for v in meta.variables
        ]
        return spark.createDataFrame(
            rows,
            "path string, nobs long, nvar int, name string, kind string, "
            "width int, offset int, format string, var_label string, table_name string",
        )
    if ext == "por":
        from .formats.spss import portable

        meta = portable.read_metadata(path)
        rows = [
            (
                path,
                len(meta.variables),
                v.name,
                "Char" if v.width else "Numeric",
                v.width,
                v.fmt_type,
                v.label or None,
                len(v.value_labels),
                meta.product or None,
            )
            for v in meta.variables
        ]
        return spark.createDataFrame(
            rows,
            "path string, nvar int, name string, kind string, width int, "
            "format_type int, var_label string, n_value_labels int, product string",
        )
    raise ValueError(f"unsupported extension for {path}")


def readstat_metadata_json(path: str) -> str:
    """File metadata as one JSON string, field-for-field with the
    reference's metadata_json exports (stata src/stata/mod.rs:69-115,
    spss src/spss/mod.rs:25-83, sas src/sas/mod.rs:32-77)."""
    import json

    ext = path.rsplit(".", 1)[-1].lower()
    if ext == "dta":
        meta = stata_parser.read_metadata(path)
        kind_names = {
            "i8": "Byte", "i16": "Int", "i32": "Long", "f32": "Float",
            "f64": "Double", "str": "Str", "strl": "StrL",
        }
        variables = []
        for v in meta.variables:
            obj = {
                "name": v.name,
                "type": kind_names.get(v.kind, v.kind),
                "format": v.fmt,
                "label": v.var_label,
                "value_label_name": v.label_name or None,
            }
            labels = _stata_labels_json(meta, v.label_name)
            if labels is not None:
                obj["value_labels"] = json.loads(labels)
            variables.append(obj)
        return json.dumps(
            {
                "version": meta.version,
                "byte_order": "LittleEndian" if meta.endian == "<" else "BigEndian",
                "row_count": meta.nobs,
                "data_label": meta.data_label,
                "timestamp": meta.timestamp,
                "data_offset": meta.data_offset,
                "strls_offset": meta.strls_offset,
                "value_labels_offset": meta.value_labels_offset,
                "encoding": meta.encoding,
                "variables": variables,
            }
        )
    if ext in ("sav", "zsav"):
        from .formats.spss import parser as spss_parser

        meta = spss_parser.read_metadata(path)
        variables = []
        for v in meta.variables:
            obj = {
                "name": v.name,
                "type": "Str" if v.is_str else "Double",
                "string_len": v.string_len,
                "format_type": v.format_type,
                "format_class": v.format_class,
                "label": v.label,
                "value_label": v.value_label or None,
            }
            labels = spss_parser._labels_json(meta, v.value_label)
            if labels is not None:
                obj["value_labels"] = json.loads(labels)
            obj["missing_range"] = v.missing_range
            obj["missing_doubles"] = v.missing_doubles
            obj["missing_strings"] = v.missing_strings
            variables.append(obj)
        return json.dumps(
            {
                "row_count": meta.row_count,
                "file_label": meta.data_label,
                "compression": {0: "None", 2: "ZLIB"}.get(meta.compression, "RLE"),
                "data_offset": meta.data_offset,
                "encoding": meta.encoding,
                "variables": variables,
            }
        )
    if ext in ("sas7bdat", "sas7bcat"):
        from .formats.sas import parser as sas_parser

        meta = sas_parser.read_metadata(path)
        columns = [
            {
                "name": c.name,
                "label": c.label or None,
                "format": c.fmt or None,
                "type": "Char" if c.is_char else "Numeric",
                "offset": c.offset,
                "length": c.length,
            }
            for c in meta.columns
        ]
        return json.dumps(
            {
                "compression": meta.compression or "None",
                "row_count": meta.row_count,
                "row_length": meta.row_length,
                "column_count": len(meta.columns),
                "table_name": meta.dataset_name.strip() or None,
                "sas_release": meta.sas_release.strip() or None,
                "encoding_byte": meta.encoding_byte,
                "file_encoding": sas_parser.encoding_name(meta.encoding_byte),
                "page_size": meta.page_length,
                "page_count": meta.page_count,
                "header_length": meta.header_length,
                "columns": columns,
            }
        )
    if ext == "xpt":
        from .formats.sas import xport

        meta = xport.read_metadata(path)
        variables = [
            {
                "name": v.name,
                "label": v.label or None,
                "format": v.format or None,
                "type": "Char" if v.is_char else "Numeric",
                "offset": v.position,
                "length": v.length,
            }
            for v in meta.variables
        ]
        return json.dumps(
            {
                "row_count": meta.row_count,
                "row_length": meta.row_length,
                "column_count": len(meta.variables),
                "table_name": meta.dataset_name or None,
                "dataset_label": meta.dataset_label or None,
                "created": meta.created or None,
                "data_offset": meta.data_offset,
                "variables": variables,
            }
        )
    if ext == "por":
        from .formats.spss import portable

        meta = portable.read_metadata(path)
        variables = [
            {
                "name": v.name,
                "label": v.label or None,
                "type": "Char" if v.width else "Numeric",
                "width": v.width,
                "format_type": v.fmt_type,
                "n_value_labels": len(v.value_labels),
                "n_missing_values": len(v.missing_values),
            }
            for v in meta.variables
        ]
        return json.dumps(
            {
                # .por has no case count in the header (row_count would
                # need a full data walk; -1 = unknown, matching the
                # streaming read contract)
                "row_count": meta.row_count,
                "column_count": len(meta.variables),
                "precision": meta.precision,
                "weight_var": meta.weight_var,
                "product": meta.product or None,
                "variables": variables,
            }
        )
    raise ValueError(f"unsupported extension for {path}")


def read_sas_catalog(spark: SparkSession, path: str) -> DataFrame:
    """A .sas7bcat's value-label formats as a queryable DataFrame
    (one row per range/value/missing entry) — the relational face of
    formats/sas/catalog.py. The reference cannot read catalogs at all
    (its ext dispatch sends .sas7bcat to the sas7bdat reader,
    src/lib.rs:389); this is beyond-reference surface."""
    from .formats.sas.catalog import read_catalog

    rows = []
    for name, fmt in read_catalog(path).items():
        for lo, hi, lab in fmt.ranges:
            rows.append((name, "range", float(lo), float(hi), None, lab))
        for val, lab in fmt.values.items():
            rows.append((name, "value", None, None, val, lab))
        for tag, lab in fmt.missing.items():
            rows.append((name, "missing", None, None, tag, lab))
    return spark.createDataFrame(
        rows, "format string, kind string, lo double, hi double, value string, label string"
    )


def write_dta(df: DataFrame, path: str, compress: bool = False, **kwargs) -> None:
    """Write a Spark DataFrame as Stata .dta v118 (driver-side assembly;
    use toArrow's batched transfer — fine for dimension-scale outputs,
    use the parquet pipeline for petabyte-scale persistence).

    ``compress=True`` applies the reference writer's pre-write type
    narrowing (StataWriter::with_compress, src/stata/writer.rs:176-183 +
    src/stata/compress.rs) — one distributed stats pass, then the
    narrowed columns are written. For the distributed
    ``df.write.format("readstat")`` path, call functions.narrow(df)
    before .save(): the DataSource writer receives a planned schema and
    cannot re-type columns itself."""
    if compress:
        from .functions.narrow import narrow

        df = narrow(df)
    stata_writer.write_dta(df.toArrow(), path, **kwargs)


def write_sav(df: DataFrame, path: str, **kwargs) -> None:
    """Write a Spark DataFrame as an uncompressed SPSS .sav (W2)."""
    from .formats.spss import writer as spss_writer

    spss_writer.write_sav(df.toArrow(), path, **kwargs)


def write_xpt(df: DataFrame, path: str, **kwargs) -> None:
    """Write a Spark DataFrame as SAS Transport XPORT v5 (driver-side
    assembly; the distributed path is df.write.format("readstat")
    .save("x.xpt") — beyond the reference, which has no .xpt support)."""
    from .formats.sas import xport

    xport.write_xpt(df.toArrow(), path, **kwargs)


def write_por(df: DataFrame, path: str, **kwargs) -> None:
    """Write a Spark DataFrame as SPSS Portable .por (driver-side
    assembly; the distributed path is df.write.format("readstat")
    .save("x.por") — beyond the reference, which has no .por support).
    Numbers are written in exact base-30 (see formats/spss/portable.py),
    so every double roundtrips bitwise through this engine."""
    from .formats.spss import portable

    portable.write_por(df.toArrow(), path, **kwargs)


def write_sas7bdat(df: DataFrame, path: str, **kwargs) -> None:
    """Write a Spark DataFrame as a NATIVE binary .sas7bdat (64-bit LE,
    uncompressed) — beyond the reference, whose only SAS write path is
    CSV + a .sas load script (W3). Driver-side assembly; the
    distributed path is df.write.format("readstat").save("x.sas7bdat").
    Cross-validated against pandas.read_sas and this repo's own
    partitioned reader."""
    from .formats.sas import bdat_writer

    bdat_writer.write_sas7bdat(df.toArrow(), path, **kwargs)


def write_sas_package(df: DataFrame, csv_path: str, script_path: str, **kwargs) -> None:
    """CSV + companion .sas import script (reference W3 semantics)."""
    from .formats.sas import writer as sas_writer

    sas_writer.write_sas_package(df.toArrow(), csv_path, script_path, **kwargs)


def readstat_batch_iter(path: str, columns: list[str] | None = None, batch_size: int = 65536,
                        offset: int = 0, limit: int | None = None,
                        compress: bool = False, infer_boolean: bool = True,
                        schema=None):
    """Pull-based Arrow batch iterator, no Spark job and no full
    materialization (reference S6, src/readstat_stream.rs:53-140) —
    the driver-local streaming entry point; the Spark path gets the
    same batches through the DataSource partitions.

    ``compress=True`` applies the reference's per-batch type narrowing
    (src/readstat_stream.rs:129-137: compress_df_if_enabled maps over
    the iterator) — each batch narrows INDEPENDENTLY, so types may vary
    between batches, exactly as in the reference. For a stable narrowed
    schema, do the two-pass flow instead: ``schema=infer_schema(...)``
    casts every batch to the given Arrow schema as it is read
    (SCHEMA_INFERENCE.md's ArrowBatchStream::with_schema). ``schema``
    and ``compress`` are mutually exclusive."""
    if compress and schema is not None:
        raise ValueError("pass either compress=True or schema=, not both")
    if compress or schema is not None:
        from .functions.narrow import cast_batch, narrow_batch

        inner = readstat_batch_iter(path, columns, batch_size, offset, limit)
        if compress:
            yield from (narrow_batch(b, infer_boolean) for b in inner)
        else:
            yield from (cast_batch(b, schema) for b in inner)
        return
    ext = path.rsplit(".", 1)[-1].lower()
    if ext == "dta":
        meta = stata_parser.read_metadata(path)
        nobs = meta.nobs
        start = min(offset, nobs)
        count = nobs - start if limit is None else max(0, min(limit, nobs - start))
        import pyarrow as pa

        opts = stata_parser.ReadOptions()
        need_strl = any(v.kind == "strl" for v in meta.variables if columns is None or v.name in set(columns))
        strl_map = stata_parser.load_strls(path, meta) if need_strl else None
        schema = stata_parser.arrow_schema(meta, opts, columns)
        rec = meta.record_len
        with open(path, "rb") as f:
            f.seek(meta.data_offset + start * rec)
            done = 0
            while done < count:
                take = min(batch_size, count - done)
                raw = f.read(take * rec)
                if not raw:
                    break
                cols = stata_parser.decode_records(raw, meta, columns, strl_map, opts, row_offset=start + done)
                yield pa.record_batch([cols[n] for n in schema.names], schema=schema)
                done += take
        return
    if ext in ("sav", "zsav"):
        from .formats.spss import parser as spss_parser

        meta = spss_parser.read_metadata(path)
        start = min(offset, meta.row_count)
        count = meta.row_count - start if limit is None else max(0, min(limit, meta.row_count - start))
        yield from spss_parser.read_partition(path, start, count, columns, spss_parser.ReadOptions(), batch_size)
        return
    if ext == "sas7bdat":
        from .formats.sas import parser as sas_parser

        meta = sas_parser.read_metadata(path)
        start = min(offset, meta.row_count)
        count = meta.row_count - start if limit is None else max(0, min(limit, meta.row_count - start))
        yield from sas_parser.read_partition(path, start, count, columns, batch_size)
        return
    raise ValueError(f"unsupported extension for {path}")


def infer_schema(
    spark: SparkSession,
    path: str,
    infer_boolean: bool = True,
    as_arrow: bool = True,
    **scan_kwargs,
):
    """Pass 1 of the reference's two-pass flow (SCHEMA_INFERENCE.md:5-17:
    infer_arrow_schema): scan the file's data as a distributed aggregate
    and return the optimal narrowed schema WITHOUT materializing rows.
    Feed the result to ``readstat_batch_iter(path, schema=...)`` for a
    stable-schema stream (pass 2), or to :func:`cast_to_schema` after a
    Spark scan.

    ``infer_boolean`` matches the reference flag (0/1-integral columns
    -> Boolean when True, smallest int tier when False). Returns an
    Arrow schema by default; ``as_arrow=False`` returns the Spark
    StructType instead.
    """
    import pyarrow as pa
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import to_arrow_type

    from .functions.narrow import _SPARK_TYPES, _kind, narrowing_stats

    df = readstat_scan(spark, path, **scan_kwargs)
    dtypes = dict(df.dtypes)
    cols = [c for c in df.columns if _kind(dtypes[c]) is not None]
    decisions = (
        {r["col_name"]: r["narrowed_type"] for r in narrowing_stats(df, cols, infer_boolean).collect()}
        if cols
        else {}
    )
    narrowed = df.select(
        *[
            F.col(c).cast(_SPARK_TYPES[decisions[c]]).alias(c)
            if c in decisions and decisions[c] in _SPARK_TYPES
            else F.col(c)
            for c in df.columns
        ]
    )
    if not as_arrow:
        return narrowed.schema
    return pa.schema(
        [pa.field(f.name, to_arrow_type(f.dataType), f.nullable) for f in narrowed.schema.fields]
    )


def _arrow_schema_for(path: str, columns: list[str] | None = None):
    """Arrow schema of a file, by extension (no Spark session)."""
    ext = path.rsplit(".", 1)[-1].lower()
    if ext == "dta":
        return stata_parser.arrow_schema(
            stata_parser.read_metadata(path), stata_parser.ReadOptions(), columns
        )
    if ext in ("sav", "zsav"):
        from .formats.spss import parser as spss_parser

        return spss_parser.arrow_schema(
            spss_parser.read_metadata(path), spss_parser.ReadOptions(), columns
        )
    if ext == "sas7bdat":
        from .formats.sas import parser as sas_parser

        return sas_parser.arrow_schema(sas_parser.read_metadata(path), columns)
    raise ValueError(f"unsupported extension for {path}")


def read_profiled(path: str, **iter_kwargs):
    """Eager driver-local read with a timing breakdown — the reference's
    ``finish_profiled()`` (README.md:96-101): returns
    ``(pyarrow.Table, profile)`` where the profile carries ``total_ms``
    (the reference's headline field), ``first_batch_ms`` (metadata +
    first decode — the latency term), ``decode_ms``, ``rows`` and
    ``batches``. Accepts every :func:`readstat_batch_iter` option
    (columns/offset/limit/compress/schema)."""
    import time

    import pyarrow as pa

    t_all = time.perf_counter()
    it = readstat_batch_iter(path, **iter_kwargs)
    t0 = time.perf_counter()
    first = next(it, None)
    first_ms = (time.perf_counter() - t0) * 1000
    batches = [] if first is None else [first]
    t0 = time.perf_counter()
    batches.extend(it)
    rest_ms = (time.perf_counter() - t0) * 1000
    if batches:
        # compress=True narrows each batch INDEPENDENTLY (reference
        # semantics), so schemas may differ — permissive concat promotes
        # (int8 + int16 -> int16) instead of raising
        tbl = pa.concat_tables(
            [pa.Table.from_batches([b]) for b in batches],
            promote_options="permissive",
        )
    else:
        # 0-row read: preserve the file's declared schema
        tbl = pa.Table.from_batches(
            [], schema=iter_kwargs.get("schema") or _arrow_schema_for(path, iter_kwargs.get("columns"))
        )
    profile = {
        "total_ms": round((time.perf_counter() - t_all) * 1000, 3),
        "first_batch_ms": round(first_ms, 3),
        "decode_ms": round(first_ms + rest_ms, 3),
        "rows": tbl.num_rows,
        "batches": len(batches),
    }
    return tbl, profile


def read_narrowed(spark: SparkSession, path: str, **scan_kwargs) -> DataFrame:
    """Two-pass schema-narrowed read (reference SCHEMA_INFERENCE.md /
    P7 compress): pass 1 scans min/max/integrality, pass 2 re-reads with
    the downcast applied — ~1.5x a single pass, same as the reference."""
    from .functions.narrow import narrow

    return narrow(readstat_scan(spark, path, **scan_kwargs))


def cast_to_schema(df: DataFrame, schema) -> DataFrame:
    """User-supplied schema cast after read (reference P9 with_schema,
    src/sas/reader.rs:459-469): select+cast each named field."""
    from pyspark.sql import functions as F

    return df.select(*[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields])

"""PySpark custom DataSource for statistical-software file formats.

``spark.read.format("readstat").load(path)`` mirrors the reference's
``readstat_scan`` (src/lib.rs:383-413) as a Python DataSource (Spark 4
API). The format comes from ``option("format", ...)`` or the file
extension through the format table in ``formats/__init__.py`` (.dta ->
Stata, .sav/.zsav -> SPSS, .sas7bdat/.sas7bcat -> SAS, .xpt -> XPORT,
.por -> SPSS Portable); every format module implements one reader
interface, so this module holds no per-format branches on the read side.

Driver/executor split (SURVEY §3): ``schema()`` opens header+dictionary
only (cheap, driver-side); ``partitions()`` plans row ranges
arithmetically (the analogue of the reference's analytical page index,
src/sas/reader.rs:282-360); each task seeks its byte range and yields
Arrow record batches (vectorized decode, no per-row Python).

Options:
- ``columns``: comma-separated projection. The Python DataSource API has
  no Catalyst column-pruning hook yet, so pruning is an explicit option
  — the reader then parses only those byte ranges (reference P1, the
  51x headline feature).
- ``offset`` / ``limit``: row slice (reference P2/P3) applied before
  partition planning -> O(1) byte seek for fixed-width formats.
- ``batch_size``: rows per Arrow batch (default 65536).
- ``partitions``: target partition count. Default: Spark's
  ``FilePartition.maxSplitBytes`` rule over the bytes the scan decodes
  (see ``split_target``) — splits of min(16 MiB, max(1 MiB, scan
  bytes / cores)), so one file spreads over the idle cores and a
  directory of small files stays at one partition per file.
- ``row_index``: emit a ``_row_idx`` long column for order recovery
  (reference P10 preserve_order: Spark partitions keep intra-partition
  order, so sorting by _row_idx reconstructs file order).
- ``value_labels_as_strings`` (default true), ``missing_string_as_null``
  (default true): reference P5/P8 semantics.
- ``filter_pushdown`` (default FALSE): accept Catalyst filters for
  batch-side application (P4). Opt-in because Spark reuses the planned
  scan across queries on the same relation — see _ReadstatReader. It
  also needs the session conf
  ``spark.sql.python.filterPushdown.enabled=true``; without it Spark
  refuses the scan with ``DATA_SOURCE_PUSHDOWN_DISABLED``.
- ``union_by_name`` (default false): multi-file scans with EVOLVING
  schemas (survey waves) read as the by-name union of all files'
  fields — missing columns null-fill, type conflicts fail at plan time.
- ``multifile`` (write, default false): partitioned DIRECTORY sink —
  each task writes one complete standalone file; see _MultiPartWriter.

At cluster scale each partition is an independent (path, row-range) unit
-> 1000 executors can share one huge file or many files; compressed
formats that cannot split declare a single partition per file and scale
across files instead.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
import pyarrow as pa_lib

from . import formats


def _arrow_type_to_spark(t):
    """Hand-rolled Arrow -> Spark type mapping for the types these
    readers emit. pyspark.sql.pandas.types.from_arrow_schema drags the
    full pandas import chain (~0.2 s) into every PLANNING worker — and
    Spark 4 spawns a fresh planning worker per query, so that import
    was a per-query tax on every readstat scan (measured 0.247 s
    schema-only planning on a warm session; ~0.05 s with this).
    Returns None for types outside the emitted set (caller falls back
    to the pandas-chain conversion for exotica)."""
    import pyarrow.types as pt
    from pyspark.sql import types as T

    if pt.is_int8(t):
        return T.ByteType()
    if pt.is_int16(t):
        return T.ShortType()
    if pt.is_int32(t):
        return T.IntegerType()
    if pt.is_int64(t):
        return T.LongType()
    if pt.is_float32(t):
        return T.FloatType()
    if pt.is_float64(t):
        return T.DoubleType()
    if pt.is_boolean(t):
        return T.BooleanType()
    if pt.is_string(t) or pt.is_large_string(t):
        return T.StringType()
    if pt.is_binary(t) or pt.is_large_binary(t):
        return T.BinaryType()
    if pt.is_date32(t):
        # date64 (and fixed_size_binary above) fall through to the
        # from_arrow_schema fallback — keep this hand-rolled map
        # strictly within the verified-parity set of types the
        # readers actually emit (r12 ADVICE item 1)
        return T.DateType()
    if pt.is_timestamp(t):
        # same policy as from_arrow_schema(prefer_timestamp_ntz=True)
        return T.TimestampType() if t.tz else T.TimestampNTZType()
    if pt.is_decimal(t):
        return T.DecimalType(t.precision, t.scale)
    if pt.is_list(t) or pt.is_large_list(t):
        inner = _arrow_type_to_spark(t.value_type)
        return T.ArrayType(inner, True) if inner is not None else None
    if pt.is_struct(t):
        fields = []
        for f in t:
            ft = _arrow_type_to_spark(f.type)
            if ft is None:
                return None
            fields.append(T.StructField(f.name, ft, f.nullable))
        return T.StructType(fields)
    return None


def _from_arrow_schema(schema):
    from pyspark.sql import types as T

    fields = []
    for f in schema:
        ft = _arrow_type_to_spark(f.type)
        if ft is None:
            # exotic type: pay the pandas-chain import for correctness
            from pyspark.sql.pandas.types import from_arrow_schema

            return from_arrow_schema(schema, prefer_timestamp_ntz=True)
        fields.append(T.StructField(f.name, ft, f.nullable))
    return T.StructType(fields)

# Cap of the split target for row-range/page-range partition planning
# (split_target below sizes the actual splits). Sized to the PYTHON
# decode rate, not the JVM's: these readers decode ~100-150 MB/s per
# core (numpy structured-view + Arrow build), so a 16 MB split is
# ~0.1-0.15 s of task work — the same duration a 128 MB parquet split
# costs whole-stage codegen at ~1 GB/s. Splits are O(1)-seek byte
# ranges (no footer/stripe overhead per split), so the cap costs only
# task-scheduling floor, which multi-file 100 TB scans amortize by the
# file axis anyway. SPARK_GRAFT_READSTAT_TARGET overrides for
# deployments.
def _partition_target_bytes() -> int:
    raw = os.environ.get("SPARK_GRAFT_READSTAT_TARGET", str(16 << 20))
    try:
        v = int(raw)
    except ValueError:
        raise ValueError(
            f"SPARK_GRAFT_READSTAT_TARGET must be an integer byte count, got {raw!r} "
            "(suffixes like '64m' are not supported — use 67108864)"
        ) from None
    if v <= 0:
        raise ValueError(f"SPARK_GRAFT_READSTAT_TARGET must be positive, got {v}")
    return v


TARGET_PARTITION_BYTES = _partition_target_bytes()
# floor of the split target (Spark's openCostInBytes default): below it
# a split's task floor outweighs the decode it parallelizes
MIN_SPLIT_BYTES = 1 << 20


def _cores() -> int:
    """Cores the planning process may run on."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity masks on this platform
        return os.cpu_count() or 1


def split_target(scan_bytes: int) -> int:
    """Split size for a scan that decodes ``scan_bytes`` in total —
    Spark's FilePartition.maxSplitBytes rule: min(cap, max(floor, bytes
    per core)). One file alone spreads over every core; a directory of
    small files sums to a target above each file, so it stays at one
    partition per file. On a cluster the driver's cores can only
    under-split compared with defaultParallelism."""
    per_core = -(-scan_bytes // _cores())
    return min(TARGET_PARTITION_BYTES, max(MIN_SPLIT_BYTES, per_core))


def split_count(nbytes: int, target: int) -> int:
    """Splits of at most ``target`` bytes covering ``nbytes``, at least 1."""
    return max(1, -(-nbytes // target))


def _even_bounds(start: int, count: int, n: int) -> list[tuple[int, int]]:
    """[lo, hi) bounds of ``n`` near-equal slices of [start, start+count)."""
    n = max(1, n)
    cuts = [start + i * count // n for i in range(n + 1)]
    return [(lo, hi) for lo, hi in zip(cuts, cuts[1:]) if hi > lo]


@dataclass
class _RowRange(InputPartition):
    path: str
    start: int
    count: int


@dataclass
class _PageRange(InputPartition):
    """Compressed-SAS partition: pages [lo, hi) decode independently."""

    path: str
    lo: int
    hi: int


@dataclass
class _RlePartition(InputPartition):
    """Compressed-SPSS partition: rows [start, start+count) decoded from
    an RLE recovery point (anchor = zsav block index or sav file offset)."""

    path: str
    start: int
    count: int
    anchor: int
    skip: int
    unit_base: int


def _true(opt: str | None, default: bool = True) -> bool:
    if opt is None:
        return default
    return str(opt).lower() in ("1", "true", "yes")


def _file_schema(fmt: str, path: str, opts, columns: list[str] | None = None):
    """Arrow schema of one file of format ``fmt`` under ``opts``."""
    parser = formats.parser(fmt)
    return parser.arrow_schema(parser.read_metadata(path), opts, columns)


def expand_paths(path: str) -> list[str]:
    """A path option may be one file, a glob, or a directory (the
    multi-file scale-out path: a corpus of stat files reads as ONE
    DataFrame, partitioned per file and within files). Returns sorted
    concrete files; single non-glob files pass through unchecked so a
    missing file still raises the format's own open error."""
    import glob as _glob

    if os.path.isdir(path):
        out = [
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.rsplit(".", 1)[-1].lower() in formats.EXTENSIONS
        ]
        if not out:
            raise ValueError(f"directory {path!r} contains no readstat files")
        return sorted(out)
    if any(c in path for c in "*?["):
        out = sorted(_glob.glob(path))
        if not out:
            raise ValueError(f"glob {path!r} matched no files")
        return out
    return [path]


class ReadstatDataSource(DataSource):
    """format("readstat") — dispatches on file extension."""

    @classmethod
    def name(cls) -> str:
        return "readstat"

    def _fmt(self) -> str:
        fmt = self.options.get("format")
        if fmt:
            return formats.check_format(fmt)
        path = self.options.get("path", "")
        if os.path.isdir(path) or any(c in path for c in "*?["):
            path = expand_paths(path)[0]
        return formats.format_of(path)

    def _read_opts(self):
        """The format's ReadOptions, built from the fields it declares."""
        from dataclasses import fields

        opt = self.options.get
        inc = opt("informative_null_columns")
        values = dict(
            value_labels_as_strings=_true(opt("value_labels_as_strings")),
            missing_string_as_null=_true(opt("missing_string_as_null")),
            user_missing_as_null=_true(opt("user_missing_as_null")),
            row_index=_true(opt("row_index"), default=False),
            # "true"/"separate", "struct", "merged", or falsy — passed
            # through; the parser normalizes (reference InformativeNullMode)
            informative_nulls=opt("informative_nulls", False),
            informative_null_columns=[c.strip() for c in inc.split(",")] if inc else None,
            informative_null_suffix=opt("informative_null_suffix", "__missing"),
            informative_null_use_value_labels=_true(opt("informative_null_use_value_labels")),
        )
        cls = formats.parser(self._fmt()).ReadOptions
        declared = {f.name for f in fields(cls)}
        if "catalog_formats" in declared and opt("catalog"):
            # P5 for SAS: value labels live in a sibling .sas7bcat.
            # Loaded ONCE on the driver; the small dict pickles to
            # executors with the reader (no catalog I/O per task).
            from .formats.sas.catalog import read_catalog

            values["catalog_formats"] = read_catalog(opt("catalog"))
        return cls(**{k: v for k, v in values.items() if k in declared})

    def _columns(self) -> list[str] | None:
        cols = self.options.get("columns")
        return [c.strip() for c in cols.split(",")] if cols else None

    def schema(self):
        if _true(self.options.get("union_by_name"), default=False):
            return self._union_schema()
        path = expand_paths(self.options["path"])[0]
        return _from_arrow_schema(
            _file_schema(self._fmt(), path, self._read_opts(), self._columns())
        )

    def _union_schema(self):
        """option("union_by_name","true"): the directory schema is the
        BY-NAME union of every file's fields (survey waves: later files
        add variables; missing ones read as null). Field order = first
        appearance across the sorted file list; a name whose type
        differs across files fails LOUDLY at plan time (no silent
        coercion). O(#files) driver work, header reads only — the same
        cost the mismatch check in partitions() already pays."""
        fields: dict[str, object] = {}
        origin: dict[str, str] = {}
        fmt, opts = self._fmt(), self._read_opts()
        for p in expand_paths(self.options["path"]):
            s = _file_schema(fmt, p, opts)  # full per-file field set
            for f in s:
                prev = fields.get(f.name)
                if prev is None:
                    fields[f.name] = f.type
                    origin[f.name] = p
                elif prev != f.type:
                    raise ValueError(
                        f"union_by_name: column {f.name!r} is {prev} in "
                        f"{origin[f.name]!r} but {f.type} in {p!r} — cast "
                        "the files to a common type or read them separately"
                    )
        cols = self._columns()
        names = [n for n in fields if cols is None or n in cols]
        if cols is not None:
            missing = [c for c in cols if c not in fields]
            if missing:
                raise ValueError(f"union_by_name: columns {missing} exist in no input file")
            names = [c for c in cols]  # user-given projection order
        return _from_arrow_schema(pa_lib.schema([pa_lib.field(n, fields[n]) for n in names]))

    def reader(self, schema) -> DataSourceReader:
        # Only an opted-in scan defines pushFilters. While the session
        # conf is on, Spark plans every filtered query through an extra
        # pushdown worker (reader(), pushFilters(), partitions() again);
        # a reader that defines pushFilters needs the conf on, so the
        # default one must not define it.
        pushdown = _true(self.options.get("filter_pushdown"), default=False)
        cls = _ReadstatReader if pushdown else _ReadstatScan
        return cls(self.options, self._fmt(), self._columns(), self._read_opts(), schema)

    def streamReader(self, schema):
        """spark.readStream.format("readstat").load(dir): Structured
        Streaming over a drop directory of stat files — each micro-batch
        reads the newly arrived files with the batch reader's full
        option surface. The reference's streaming story is a pull-based
        single-file batch iterator (src/readstat_stream.rs); this is the
        push-based continuous-ingest upgrade a Spark-native engine adds.
        Format dispatch is per delivered file, so the query can start on
        an EMPTY drop directory when the user supplies .schema(...)."""
        return _ReadstatStreamReader(dict(self.options))

    def writer(self, schema, overwrite: bool):
        """df.write.format("readstat").save(path): distributed two-phase
        write of one .dta, .sav/.zsav, .xpt, .por or .sas7bdat file
        (_StagedWriter: executors spill encoded record sections beside
        the output path, the driver commit assembles them without
        materializing rows). option("staging_dir", ...) overrides the
        staging location; option("multifile","true") writes a directory
        of standalone part files instead (_MultiPartWriter). All sinks
        parse their options in _writer_codec.
        """
        path = self.options["path"]
        codec = _writer_codec(self._fmt(), self.options, schema)
        if _true(self.options.get("multifile"), default=False):
            # the 100 TB write path: a result that size cannot be one
            # file, so each task writes a complete file into the output
            # DIRECTORY and commit only renames — the read side already
            # scans directories partition-per-file (expand_paths)
            return _MultiPartWriter(path, schema, codec, overwrite)
        if not overwrite and os.path.exists(path):
            # single-file stat formats are not appendable containers: a
            # mode("append") here used to silently OVERWRITE the file.
            # Appending to a missing path is just a create and stays
            # allowed; real appends belong to the multifile directory
            # sink (each job adds part files) or the streaming sinks.
            raise ValueError(
                f"cannot append to existing single-file output "
                f"{path!r}: .dta/.sav/.xpt/.por/.sas7bdat are "
                "not appendable containers — use mode('overwrite'), or "
                "option('multifile','true') for an appendable directory of "
                "part files"
            )
        return _StagedWriter(path, codec, self.options.get("staging_dir"))

    def streamWriter(self, schema, overwrite: bool):
        """df.writeStream.format("readstat").start(dir): continuous sink
        — one immutable part-{batchId}.{ext} per micro-batch in the
        output directory (readable back by the batch reader and the
        streaming source). The path is a directory, so the format comes
        from option("format", ...), defaulting to stata."""
        codec = _writer_codec(self.options.get("format", "stata").lower(), self.options, schema)
        return _StagedStreamWriter(self.options["path"], codec, self.options.get("staging_dir"))


class _StreamFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


# how far below the watermark a file's mtime may lag and still be
# delivered (the maxFileAge analogue): covers producers whose write
# finished before their atomic rename landed. Overridable with
# option("late_file_lag_sec", ...).
_STREAM_LATE_LAG_NS = 60 * 1_000_000_000


class _ReadstatStreamReader(DataSourceStreamReader):
    """Directory-watching stream source for stat files.

    Offsets are a MODIFICATION-TIME WATERMARK plus the set of files
    within the LATE-FILE LAG window below it: a file is "delivered by"
    an offset iff its mtime is older than (watermark - lag), or it is
    listed in the boundary set. That keeps the checkpointed offset
    O(lag-window population) instead of O(#files) — a 100 TB drop
    directory accumulates millions of files and a full-file-list offset
    would grow the offset log unboundedly — while replay between two
    committed offsets stays exact, same-nanosecond drops are
    disambiguated, and a producer whose write FINISHED up to ``lag``
    before its atomic rename landed is still delivered (Spark's own
    file source gives the same tolerance via maxFileAge). Each
    micro-batch's partitions are the newly delivered files — one
    executor task per file, the right parallelism unit for continuous
    ingest (intra-file splitting belongs to the batch backfill path).

    Contract: files are immutable once visible and arrive by atomic
    rename; a file planted with an mtime more than ``lag`` below the
    committed watermark is invisible. The watermark is monotonic even
    if the directory is emptied by retention (no regression to 0, so
    restored old files cannot re-deliver). Per-file format dispatch
    happens at read() time, so mixed-format drop directories and
    empty-at-start directories (with an explicit .schema()) both work.
    """

    def __init__(self, options: dict):
        self._options = dict(options)
        self._path = self._options["path"]
        self._lag_ns = int(
            float(self._options.get("late_file_lag_sec", _STREAM_LATE_LAG_NS / 1e9)) * 1e9
        )
        self._max_wm = 0  # monotonic guard for emptied directories

    def _listing(self) -> list[tuple[int, str]]:
        try:
            files = expand_paths(self._path)
        except ValueError:
            return []  # empty drop dir: no batch yet
        return [(os.stat(p).st_mtime_ns, p) for p in files]

    def _delivered(self, offset: dict, mtime: int, path: str) -> bool:
        import json

        wm = int(offset.get("wm", 0))
        if wm == 0:
            return False
        return mtime <= wm - self._lag_ns or path in set(json.loads(offset.get("at_wm", "[]")))

    def initialOffset(self) -> dict:
        return {"wm": 0, "at_wm": "[]"}  # delivers every pre-existing file

    def latestOffset(self) -> dict:
        import json

        stats = self._listing()
        wm = max([m for m, _ in stats], default=0)
        self._max_wm = wm = max(wm, self._max_wm)
        return {
            "wm": wm,
            "at_wm": json.dumps(sorted(p for m, p in stats if m > wm - self._lag_ns)),
        }

    def partitions(self, start: dict, end: dict):
        return [
            _StreamFilePartition(p)
            for m, p in sorted(self._listing())
            if self._delivered(end, m, p) and not self._delivered(start, m, p)
        ]

    def read(self, partition: _StreamFilePartition):
        # per-file dispatch: options are re-resolved against THIS file's
        # extension, so the source never needs a listing at plan time
        sub = dict(self._options)
        sub["path"] = partition.path
        ds = ReadstatDataSource(sub)
        inner = ds.reader(None)
        for part in inner.partitions():
            yield from inner.read(part)

    def commit(self, end: dict) -> None:
        pass  # offsets are recomputable from the directory listing


class _ReadstatScan(DataSourceReader):
    """The default reader: plans row/page ranges and decodes them. It
    defines no pushFilters, so Catalyst applies every filter JVM-side
    and Spark plans the scan without a pushdown worker."""

    def __init__(self, options, fmt: str, columns, opts, spark_schema=None):
        self.path = options["path"]
        self.fmt = fmt
        self.columns = columns
        self.opts = opts
        # union-by-name multi-file mode: batches align (null-fill +
        # reorder + cast) to the planner's union schema in read()
        self.union_by_name = _true(options.get("union_by_name"), default=False)
        self.spark_schema = spark_schema if self.union_by_name else None
        self._target_arrow = None  # lazily derived executor-side
        self.batch_size = int(options.get("batch_size", 65536))
        self.offset = int(options.get("offset", 0))
        self.limit = int(options.get("limit", -1))
        self.n_partitions = int(options.get("partitions", 0))
        # pre-computed compressed-SPSS split plans (api.plan_rle_partitions
        # runs the O(corpus-bytes) recovery-point scans as a Spark job and
        # hands the bounded result back here as JSON), keyed by file path
        import json as _json

        self.rle_plan: dict[str, list] = _json.loads(options.get("rle_plan", "{}"))

    def partitions(self):
        paths = expand_paths(self.path)
        if len(paths) > 1:
            self._check_multifile(paths)
        target = split_target(sum(self._decode_bytes(p) for p in paths))
        # intra-file RLE split planning decompresses the file on the
        # driver — fine for one file, O(corpus) driver work for a
        # directory. Multi-file scans parallelize on the file axis
        # instead: one partition per compressed file.
        return [
            part
            for p in paths
            for part in self._file_partitions(p, target, allow_expensive_split=len(paths) == 1)
        ]

    def _check_multifile(self, paths: list[str]) -> None:
        # multi-file scan: per-file partition plans concatenate; row
        # slicing across a concatenated corpus is ambiguous, so offset/
        # limit stay single-file-only (Catalyst's own limit still applies
        # post-scan)
        if self.offset != 0 or self.limit >= 0:
            raise ValueError("offset/limit options require a single input file")
        if self.union_by_name:
            return  # per-file schemas may differ; read() aligns batches
        first_schema = self._arrow_schema_of(paths[0])
        for p in paths[1:]:
            s = self._arrow_schema_of(p)
            if s != first_schema:
                raise ValueError(
                    f"schema mismatch in multi-file scan: {p!r} has {s} "
                    f"!= {paths[0]!r} {first_schema}. Pass "
                    "option('union_by_name','true') to read evolving "
                    "schemas as their by-name union (missing -> null)."
                )

    def _meta(self, path: str):
        return formats.parser(self.fmt).read_metadata(path)

    def _decode_bytes(self, path: str) -> int:
        """Record bytes one read of ``path`` decodes, the split planner's
        work measure: the selected columns' widths for fixed-width
        records, whole records for row-compressed ones (every column is
        decompressed), and the file size for .por, whose header carries
        no case count."""
        meta = self._meta(path)
        if meta.split_unit == "stream":
            return os.path.getsize(path)
        _, count = self._slice(meta.row_count)
        widths = meta.column_widths
        if self.columns and meta.split_unit == "rows":
            return count * sum(widths.get(c, 0) for c in self.columns)
        return count * sum(widths.values())

    def _arrow_schema_of(self, path: str):
        return _file_schema(self.fmt, path, self.opts, self.columns)

    def _file_partitions(self, path: str, target: int, allow_expensive_split: bool = True):
        meta = self._meta(path)
        if meta.split_unit == "stream":
            # .por is a single self-delimiting character stream with no
            # case count in the header and no random access — one
            # partition per file, the same stance the reference takes
            # for compressed .sav (src/spss/polars_output.rs:403-405).
            # Multi-file scans still parallelize on the file axis, and
            # .por is a legacy interchange format (small by construction).
            return [_RowRange(path, self.offset, self.limit)]
        start, count = self._slice(meta.row_count)
        if meta.split_unit == "rle":
            if path in self.rle_plan and self.offset == 0 and self.limit < 0:
                # executor-computed plan (api.plan_rle_partitions):
                # no driver-side stream scan at all. Precomputed plans
                # cover the WHOLE file, so an offset/limit request must
                # fall through to the slicing planner below instead of
                # silently returning every row.
                return [
                    _RlePartition(path, s, c, anchor, skip, ub)
                    for s, c, anchor, skip, ub in self.rle_plan[path]
                ]
            if not allow_expensive_split:
                return [_RowRange(path, start, count)]
            # compressed (.sav RLE / .zsav): one planning pass records
            # RLE command-group recovery points, then executors decode
            # disjoint block/byte ranges independently — beyond the
            # reference, which is sequential-only here
            # (src/spss/data.rs:1687-1761). This in-planner scan is
            # O(file bytes); api.readstat_scan auto-routes single
            # compressed files through the api.plan_rle_partitions
            # executor job instead, so this branch only runs for raw
            # spark.read.format("readstat") use without a plan option.
            from .formats.spss import parser as spss_parser

            plan = spss_parser.rle_partition_plan(
                path, meta, start, count, self.n_partitions, target
            )
            if plan:
                return [
                    _RlePartition(path, s, c, anchor, skip, ub)
                    for s, c, anchor, skip, ub in plan
                ]
            return [_RowRange(path, start, count)]
        if meta.split_unit == "pages":  # SAS RLE/RDC
            # RLE/RDC rows are independent subheaders -> page-parallel
            # (improvement over the reference's sequential-only path),
            # unless a row slice / row index needs global ordering.
            plain = self.offset == 0 and self.limit < 0 and not getattr(self.opts, "row_index", False)
            if plain and meta.page_count > 1:
                n = self.n_partitions or min(16, split_count(self._decode_bytes(path), target))
                return [
                    _PageRange(path, lo, hi)
                    for lo, hi in _even_bounds(0, meta.page_count, min(n, meta.page_count))
                ]
            return [_RowRange(path, start, count)]
        # fixed-width records: O(1)-seek analytical byte-range splits
        n = self.n_partitions or split_count(self._decode_bytes(path), target)
        return [
            _RowRange(path, lo, hi - lo) for lo, hi in _even_bounds(start, count, min(n, count))
        ] or [_RowRange(path, start, 0)]

    def _slice(self, nobs: int) -> tuple[int, int]:
        start = min(self.offset, nobs)
        count = nobs - start
        if self.limit >= 0:
            count = min(count, self.limit)
        return start, count

    def _target_schema(self):
        if self._target_arrow is None:
            from pyspark.sql.pandas.types import to_arrow_schema

            self._target_arrow = to_arrow_schema(self.spark_schema)
        return self._target_arrow

    def _file_cols(self, path: str) -> list[str] | None:
        """union_by_name projection for ONE file: the target fields that
        actually exist in it (file order). A file contributing no
        projected column still contributes its ROWS — keep one real
        column so the parser preserves the row count; _align drops it."""
        have = [f.name for f in self._arrow_schema_of(path)]
        want = set(f.name for f in self._target_schema())
        cols = [n for n in have if n in want]
        return cols or have[:1]

    def _align(self, batch):
        """Null-fill, reorder, and cast one record batch to the union
        schema (union_by_name mode only)."""
        target = self._target_schema()
        present = {n: batch.column(i) for i, n in enumerate(batch.schema.names)}
        n = batch.num_rows
        arrays = []
        for f in target:
            a = present.get(f.name)
            if a is None:
                arrays.append(pa_lib.nulls(n, f.type))
            elif a.type != f.type:
                arrays.append(a.cast(f.type))
            else:
                arrays.append(a)
        return pa_lib.RecordBatch.from_arrays(arrays, schema=target)

    def read(self, partition: _RowRange):
        if self.union_by_name:
            # per-task copy of the reader: narrowing the projection to
            # THIS file's fields is task-local state
            self.columns = self._file_cols(partition.path)
            for b in self._read_raw(partition):
                yield self._align(b)
            return
        yield from self._read_raw(partition)

    def _read_raw(self, partition: _RowRange):
        if isinstance(partition, _PageRange):
            from .formats.sas import parser as sas_parser

            yield from sas_parser.read_page_range(
                partition.path, partition.lo, partition.hi, self.columns, self.batch_size, self.opts
            )
            return
        if isinstance(partition, _RlePartition):
            from .formats.spss import parser as spss_parser

            yield from spss_parser.read_rle_partition(
                partition.path, partition.start, partition.count, self.columns,
                self.opts, self.batch_size, partition.anchor, partition.skip,
                partition.unit_base,
            )
            return
        yield from formats.parser(self.fmt).read_partition(
            partition.path, partition.start, partition.count, self.columns, self.opts,
            self.batch_size,
        )


class _ReadstatReader(_ReadstatScan):
    """option("filter_pushdown","true"): the scan plus batch-side
    application of the simple filters Catalyst pushes.

    Batch-side filter application is OPT-IN (r9): Spark caches the
    planned scan per relation and REUSES it for later queries on the
    same DataFrame/SQL view — a scan planned with query A's filters
    then serves filterless query B, silently dropping rows (reproduced
    on plain `df.filter(...).count(); df.count()` and on `CREATE
    TEMPORARY VIEW ... USING readstat`). Nothing inside the reader can
    see which query is executing, so the only sound default is the
    filterless _ReadstatScan (Catalyst applies every filter JVM-side —
    correctness never depended on acceptance). This reader restores the
    Arrow-transfer shrink for single-action reads (gates, benches, ETL
    jobs that read once per relation)."""

    def __init__(self, options, fmt: str, columns, opts, spark_schema=None):
        super().__init__(options, fmt, columns, opts, spark_schema)
        self.pushed: list = []

    def pushFilters(self, filters):
        """Predicate pushdown (absent in the reference — P4). Simple
        comparisons are applied batch-side in the Python worker before
        Arrow crosses to the JVM, shrinking the transfer; every filter is
        also returned so Catalyst re-applies them (belt and braces)."""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            IsNotNull,
            IsNull,
            LessThan,
            LessThanOrEqual,
            StringContains,
            StringEndsWith,
            StringStartsWith,
        )

        simple = (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
            IsNull,
            IsNotNull,
            In,
            StringStartsWith,
            StringEndsWith,
            StringContains,
        )
        for f in filters:
            if isinstance(f, simple) and len(f.attribute) == 1:
                self.pushed.append(f)
            yield f  # Spark re-applies everything

    def _apply_filters(self, batch):
        if not self.pushed:
            return batch
        import pyarrow.compute as pc
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            IsNotNull,
            IsNull,
            LessThan,
            LessThanOrEqual,
            StringContains,
            StringEndsWith,
            StringStartsWith,
        )

        mask = None
        names = set(batch.schema.names)
        for f in self.pushed:
            col = f.attribute[0]
            if col not in names:
                continue
            arr = batch.column(col)
            try:
                if isinstance(f, IsNull):
                    m = pc.is_null(arr)
                elif isinstance(f, IsNotNull):
                    m = pc.is_valid(arr)
                elif isinstance(f, EqualTo):
                    m = pc.equal(arr, f.value)
                elif isinstance(f, GreaterThan):
                    m = pc.greater(arr, f.value)
                elif isinstance(f, GreaterThanOrEqual):
                    m = pc.greater_equal(arr, f.value)
                elif isinstance(f, LessThan):
                    m = pc.less(arr, f.value)
                elif isinstance(f, LessThanOrEqual):
                    m = pc.less_equal(arr, f.value)
                elif isinstance(f, In):
                    import pyarrow as pa

                    vals = [v for v in f.value if v is not None]
                    m = pc.is_in(arr, value_set=pa.array(vals, type=arr.type))
                elif isinstance(f, StringStartsWith):
                    m = pc.starts_with(arr, f.value)
                elif isinstance(f, StringEndsWith):
                    m = pc.ends_with(arr, f.value)
                else:  # StringContains
                    m = pc.match_substring(arr, f.value)
            except (pa_lib.ArrowInvalid, pa_lib.ArrowNotImplementedError, pa_lib.ArrowTypeError):
                continue  # incomparable literal — leave it to Catalyst
            m = pc.fill_null(m, False)
            mask = m if mask is None else pc.and_(mask, m)
        return batch.filter(mask) if mask is not None else batch

    def read(self, partition):
        for batch in super().read(partition):
            yield self._apply_filters(batch)


@dataclass(frozen=True)
class _Codec:
    """What a readstat sink needs to know about its format: the part-file
    extension, the executor-side ``spill(batches, blob) -> sections``,
    the driver-side ``assemble(target, [(blob, sections), ...])`` and the
    single-shot ``write_table(table, path)`` of the multifile sink."""

    ext: str
    spill: Callable
    assemble: Callable
    write_table: Callable


def _writer_codec(fmt: str, options, schema) -> _Codec:
    """Parse the writer options once, for every sink (single file,
    multifile directory, stream). Options are strings, so label maps and
    widths arrive as JSON; value-label keys are ints for Stata and
    floats for SPSS. Format modules are imported where they run; Spark
    ships the writer with cloudpickle, so these nested functions reach
    the executors by value."""
    import json

    from pyspark.sql import types as T

    def _json(name: str):
        return json.loads(options.get(name, "{}"))

    def arrow_schema():
        from pyspark.sql.pandas.types import to_arrow_schema

        return to_arrow_schema(schema)

    widths = {k: int(v) for k, v in _json("string_widths").items()}
    value_labels = _json("value_labels")
    variable_labels = _json("variable_labels")
    data_label = options.get("data_label", "")
    dsname = options.get("dsname", "DATA")
    compress = options.get("compress")
    column_order = [(f.name, isinstance(f.dataType, T.StringType)) for f in schema.fields]

    if fmt == "stata":
        # option("dta_version", "117"|"119"): default v118
        version = int(options.get("dta_version", "118"))
        labels = {c: {int(k): v for k, v in m.items()} for c, m in value_labels.items()}

        def spill(batches, blob):
            from .formats.stata.writer import spill_partition

            return spill_partition(batches, blob, declared=widths)

        def assemble(target, parts):
            from .formats.stata.writer import assemble_dta

            assemble_dta(target, arrow_schema(), parts, value_labels=labels,
                         variable_labels=variable_labels, declared=widths, version=version)

        def write_table(table, path):
            from .formats.stata.writer import write_dta

            write_dta(table, path, value_labels=labels, variable_labels=variable_labels,
                      version=version)

        return _Codec("dta", spill, assemble, write_table)

    if fmt == "spss":
        # a .zsav target implies the zlib container; otherwise compress
        # picks False / bytecode RLE / "zsav"
        comp = (
            "zsav"
            if options.get("path", "").lower().endswith(".zsav") or str(compress).lower() == "zsav"
            else _true(compress, default=False)
        )
        labels = {c: {float(k): v for k, v in m.items()} for c, m in value_labels.items()}
        missing = {c: [float(x) for x in xs] for c, xs in _json("user_missing").items()}

        def spill(batches, blob):
            from .formats.spss.writer import spill_sav_partition

            return spill_sav_partition(batches, blob, declared=widths, compress=comp)

        def assemble(target, parts):
            from .formats.spss.writer import assemble_sav

            assemble_sav(target, arrow_schema(), parts, value_labels=labels,
                         variable_labels=variable_labels, data_label=data_label,
                         user_missing=missing, compress=comp, declared=widths)

        def write_table(table, path):
            from .formats.spss.writer import write_sav

            write_sav(table, path, value_labels=labels, variable_labels=variable_labels,
                      data_label=data_label, user_missing=missing, compress=comp)

        return _Codec("zsav" if comp == "zsav" else "sav", spill, assemble, write_table)

    if fmt == "xport":
        # option("xport_version", "8"): TS140-2 V8 headers, 32-char names
        version = int(options.get("xport_version", "5"))

        def spill(batches, blob):
            from .formats.sas.xport import spill_partition

            return spill_partition(batches, blob, declared=widths)

        def assemble(target, parts):
            from .formats.sas.xport import assemble_xpt

            assemble_xpt(target, parts, dsname=dsname, dslabel=data_label,
                         column_order=column_order, string_widths=widths, version=version)

        def write_table(table, path):
            from .formats.sas.xport import write_xpt

            write_xpt(table, path, dsname=dsname, dslabel=data_label,
                      string_widths=widths or None, version=version)

        return _Codec("xpt", spill, assemble, write_table)

    if fmt == "sas":
        # option("compress", "rle"|"rdc"|"true"): SASYZCRL / SASYZCR2 row
        # compression ("true" is RLE); option("column_formats",
        # '{"col": "FMTNAME"}'): per-column SAS display formats
        comp = (
            compress.upper()
            if str(compress).lower() in ("rle", "rdc")
            else _true(compress, default=False)
        )
        formats = _json("column_formats")

        def spill(batches, blob):
            from .formats.sas.bdat_writer import spill_partition

            return spill_partition(batches, blob, declared=widths, column_formats=formats)

        def assemble(target, parts):
            from .formats.sas.bdat_writer import assemble_sas7bdat

            assemble_sas7bdat(target, parts, dsname=dsname, column_order=column_order,
                              string_widths=widths, variable_labels=variable_labels,
                              compress=comp)

        def write_table(table, path):
            from .formats.sas.bdat_writer import write_sas7bdat

            write_sas7bdat(table, path, dsname=dsname, string_widths=widths or None,
                           variable_labels=variable_labels, compress=comp,
                           column_formats=formats)

        return _Codec("sas7bdat", spill, assemble, write_table)

    if fmt == "por":

        def spill(batches, blob):
            from .formats.spss.portable import spill_por_partition

            return spill_por_partition(batches, blob)

        def assemble(target, parts):
            from .formats.spss.portable import assemble_por_parts

            assemble_por_parts(target, arrow_schema(), parts, variable_labels, value_labels)

        def write_table(table, path):
            from .formats.spss.portable import write_por

            write_por(table, path, variable_labels=variable_labels or None,
                      value_labels=value_labels or None)

        return _Codec("por", spill, assemble, write_table)

    raise ValueError(
        f"readstat writes .dta, .sav, .xpt, .por or .sas7bdat, not format {fmt!r} "
        '(directory sinks name it with option("format", "stata"|"spss"|"xport"|"por"|"sas"))'
    )


@dataclass
class _Spilled(WriterCommitMessage):
    blob_path: str
    sections: list  # empty for a partition with no rows (its blob is gone)


def _committed(messages) -> list:
    return [(m.blob_path, m.sections) for m in messages if m and m.sections]


class _StagedWriter(DataSourceArrowWriter):
    """Two-phase write of ONE file, the record bytes encoded on the
    executors. Each task spills its partition's Arrow batches to record
    sections (``codec.spill``) in a staging dir *beside the output path*
    — the same, shared filesystem the file goes to, so multi-node
    clusters work. commit() on the driver streams the sections into the
    final file (``codec.assemble``: header + dictionary + re-strided
    records), one section of driver memory at a time regardless of the
    data size — the reference's streaming batch-write contract
    (src/stata/writer.rs:244-380) without the row count upfront."""

    def __init__(self, path: str, codec: _Codec, staging_dir: str | None = None):
        import uuid

        self.path = path
        self.codec = codec
        parent = staging_dir or (os.path.dirname(os.path.abspath(path)) or ".")
        self.stage_dir = os.path.join(
            parent, f".{os.path.basename(path)}._stage_{uuid.uuid4().hex}"
        )

    def write(self, batches):
        import uuid

        os.makedirs(self.stage_dir, exist_ok=True)
        blob = os.path.join(self.stage_dir, f"part-{uuid.uuid4().hex}.bin")
        sections = self.codec.spill(batches, blob)
        if not sections:
            os.unlink(blob)
        return _Spilled(blob, sections)

    def commit(self, messages):
        import shutil

        self.codec.assemble(self.path, _committed(messages))
        shutil.rmtree(self.stage_dir, ignore_errors=True)

    def abort(self, messages):
        import shutil

        shutil.rmtree(self.stage_dir, ignore_errors=True)


class _StagedStreamWriter(_StagedWriter, DataSourceStreamArrowWriter):
    """writeStream.format("readstat").start(dir): each micro-batch
    assembles into one immutable ``part-{batchId:05d}.{ext}`` inside the
    output DIRECTORY — the drop-directory layout the streaming source and
    the multi-file batch reader both consume. Executors spill exactly as
    the batch writer does; commit assembles under a temp name and
    renames, so a concurrent reader never lists a half-written file, and
    batchId-named outputs make replayed micro-batches idempotent.

    Spark builds a fresh sink writer for every commit, so ``stage_dir``
    there is not the directory the executors wrote to: cleanup works
    from the blob paths in the messages instead."""

    def commit(self, messages, batchId: int) -> None:  # type: ignore[override]
        os.makedirs(self.path, exist_ok=True)
        final = os.path.join(self.path, f"part-{batchId:05d}.{self.codec.ext}")
        self.codec.assemble(final + ".tmp_", _committed(messages))
        os.replace(final + ".tmp_", final)
        self.abort(messages, batchId)

    def abort(self, messages, batchId: int) -> None:  # type: ignore[override]
        from contextlib import suppress

        # only THIS batch's blobs; the stage dir goes once it is empty
        for m in messages:
            if m:
                with suppress(OSError):
                    os.unlink(m.blob_path)
                with suppress(OSError):
                    os.rmdir(os.path.dirname(m.blob_path))


def register(spark) -> None:
    """Register format("readstat") on this SparkSession."""
    spark.dataSource.register(ReadstatDataSource)


class _PartFileCommit(WriterCommitMessage):
    def __init__(self, tmp_path: str, final_path: str):
        self.tmp_path = tmp_path
        self.final_path = final_path


class _MultiPartWriter(DataSourceArrowWriter):
    """Partitioned DIRECTORY sink (option("multifile","true")): each
    task single-shot-writes its partition as one complete standalone
    file of the target format — part-{partitionId}-{uuid}.{ext} — fully
    executor-side. Two-phase exactly-once: tasks write to dot-tmp names
    and return them in the commit message; the driver commit() renames
    exactly the committed set (task retries leave only unreferenced
    tmps, removed by abort/cleanup). The read side lists the directory
    and plans one partition per file, so write->read round-trips at any
    file count.

    Memory shape: a task buffers ITS partition as one Arrow table (the
    single-shot writers need the full table for width decisions) —
    bounded by upstream partition sizing, the same contract as columnar
    writers that buffer a row group.
    """

    def __init__(self, path: str, schema, codec: _Codec, overwrite: bool = False):
        self.path = path
        self.schema = schema
        self.codec = codec
        self.overwrite = overwrite
        os.makedirs(path, exist_ok=True)

    def _arrow_schema(self):
        from pyspark.sql.pandas.types import to_arrow_schema

        return to_arrow_schema(self.schema)

    def write(self, batches):
        import uuid

        from pyspark import TaskContext

        batches = list(batches)
        table = (
            pa_lib.Table.from_batches(batches)
            if batches
            else pa_lib.Table.from_batches([], schema=self._arrow_schema())
        )
        if table.num_rows == 0:
            return _PartFileCommit("", "")
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        base = f"part-{pid:05d}-{uuid.uuid4().hex[:8]}.{self.codec.ext}"
        tmp = os.path.join(self.path, f".{base}.tmp_")
        self.codec.write_table(table, tmp)
        return _PartFileCommit(tmp, os.path.join(self.path, base))

    def commit(self, messages):
        import glob as _glob

        if self.overwrite:
            # clear previous contents at COMMIT time (not planning), so a
            # failed job leaves the old directory intact; tmp files have a
            # dot prefix and never match the part glob
            for old in _glob.glob(os.path.join(self.path, f"part-*.{self.codec.ext}")):
                try:
                    os.unlink(old)
                except OSError:
                    pass
        published = 0
        for m in messages:
            if m and m.tmp_path:
                os.replace(m.tmp_path, m.final_path)
                published += 1
        if not published:
            # empty result: one zero-row file so directory reads still
            # see the schema (same stance as the single-file writers)
            self.codec.write_table(
                pa_lib.Table.from_batches([], schema=self._arrow_schema()),
                os.path.join(self.path, f"part-00000-empty.{self.codec.ext}"),
            )

    def abort(self, messages):
        for m in messages or []:
            if m and m.tmp_path:
                try:
                    os.unlink(m.tmp_path)
                except OSError:
                    pass

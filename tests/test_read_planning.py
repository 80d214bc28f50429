"""Read planning of the readstat DataSource: which reader a scan gets
(filter pushdown is opt-in and only the opted-in reader defines
``pushFilters``) and how a scan is split (Spark's maxSplitBytes rule
over the bytes the scan decodes, spread across the planning process's
cores). Every fixture is written here by the package's own writers."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSourceReader

from polars_readstat_rs_spark import api, datasource
from polars_readstat_rs_spark._metacache import bounded_put
from polars_readstat_rs_spark.datasource import ReadstatDataSource, _ReadstatReader
from polars_readstat_rs_spark.formats.sas import parser as sas_parser
from polars_readstat_rs_spark.formats.sas.bdat_writer import write_sas7bdat
from polars_readstat_rs_spark.formats.sas.xport import write_xpt
from polars_readstat_rs_spark.formats.spss.writer import write_sav
from polars_readstat_rs_spark.formats.stata.writer import write_dta
from polars_readstat_rs_spark.operators import spread as spread_mod

PUSHDOWN_CONF = "spark.sql.python.filterPushdown.enabled"
ROWS = 50_000
RLE_ROWS = ROWS // 4  # the RLE encoder is pure Python


def _strings(rng, n: int, lo: int, hi: int) -> pa.Array:
    pool = np.array(
        ["".join(rng.choice(list("abcdefghij"), rng.integers(lo, hi + 1))) for _ in range(512)],
        dtype=object,
    )
    return pa.array(pool[rng.integers(0, len(pool), n)], type=pa.string())


def _doubles(rng, n: int) -> pa.Array:
    v = rng.normal(size=n)
    v[rng.random(n) < 0.1] = np.nan
    return pa.array(v, from_pandas=True)


def _table(n: int, seed: int = 0, id_base: int = 0, xpt: bool = False) -> pa.Table:
    """16 columns: id, small labelled-style ints, an int, six doubles
    with ~10% missing, two dates (day counts for XPORT), two 8-byte
    strings and one 48-60-byte string."""
    rng = np.random.default_rng(seed)
    cols = {
        "id": pa.array(np.arange(id_base, id_base + n, dtype=np.int32)),
        "lab_a": pa.array(rng.integers(1, 6, n).astype(np.int8)),
        "lab_b": pa.array(rng.integers(1, 13, n).astype(np.int16)),
        "lab_c": pa.array(rng.integers(0, 3, n).astype(np.int8)),
        "n1": pa.array(rng.integers(0, 100_000, n).astype(np.int32)),
    }
    for i in range(1, 7):
        cols[f"x{i}"] = _doubles(rng, n)
    for name in ("d1", "d2"):
        days = pa.array(rng.integers(-3_000, 20_000, n).astype(np.int32))
        cols[name] = days if xpt else days.cast(pa.date32())
    cols["s8a"] = _strings(rng, n, 8, 8)
    cols["s8b"] = _strings(rng, n, 8, 8)
    cols["s60"] = _strings(rng, n, 48, 60)
    return pa.table(cols)


@pytest.fixture(scope="module")
def large(tmp_path_factory) -> dict[str, str]:
    """One 50k x 16 file per format, as the benchmark's large reads
    use, plus a quarter-size RLE .sas7bdat."""
    d = tmp_path_factory.mktemp("large")
    t = _table(ROWS)
    paths = {k: str(d / f"large.{k}") for k in ("dta", "sav", "sas7bdat", "xpt")}
    paths["rle"] = str(d / "large_rle.sas7bdat")
    write_dta(t, paths["dta"])
    write_sav(t, paths["sav"], compress=True)  # bytecode
    write_sas7bdat(t, paths["sas7bdat"])
    write_xpt(_table(ROWS, xpt=True), paths["xpt"])
    write_sas7bdat(t.slice(0, RLE_ROWS), paths["rle"], compress="RLE")
    return paths


@pytest.fixture
def four_cores(monkeypatch):
    monkeypatch.setattr(datasource, "_cores", lambda: 4)


@pytest.fixture
def pushdown_conf(spark):
    """Set the Python DataSource pushdown conf for one test, then
    restore the session's value."""
    prev = spark.conf.get(PUSHDOWN_CONF)
    yield lambda value: spark.conf.set(PUSHDOWN_CONF, value)
    spark.conf.set(PUSHDOWN_CONF, prev)


def _reader(path: str, **options):
    ds = ReadstatDataSource({"path": path, **options})
    return ds.reader(ds.schema())


def _read_all(reader) -> tuple[pa.Table, int]:
    parts = reader.partitions()
    batches = [b for p in parts for b in reader.read(p)]
    return pa.Table.from_batches(batches), len(parts)


def _scan_output_rows(df) -> int:
    """Rows the readstat BatchScan handed the JVM in the last run of df."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName().startswith("BatchScan"):
            return node.metrics().apply("numOutputRows").value()
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    raise AssertionError("no BatchScan in the plan")


def test_default_reader_defines_no_pushfilters(large):
    r = _reader(large["dta"])
    assert not isinstance(r, _ReadstatReader)
    assert type(r).pushFilters is DataSourceReader.pushFilters
    opted = _reader(large["dta"], filter_pushdown="true")
    assert isinstance(opted, _ReadstatReader)
    assert type(opted).pushFilters is not DataSourceReader.pushFilters


def test_filtered_default_scan_plans_without_pushdown_conf(spark, tmp_path, pushdown_conf):
    """A new filtered scan on the default reader needs no pushdown conf:
    Spark would refuse it (DATA_SOURCE_PUSHDOWN_DISABLED) if the reader
    defined pushFilters."""
    pushdown_conf("false")
    t = _table(2_000, seed=3)
    p = str(tmp_path / "fresh.dta")
    write_dta(t, p)
    df = spark.read.format("readstat").load(p).where(F.col("x1") > 0.5)
    got = sorted(r.id for r in df.collect())
    x1 = t["x1"].to_numpy(zero_copy_only=False)
    assert got == [int(i) for i in np.arange(2_000)[np.nan_to_num(x1, nan=-1.0) > 0.5]]
    assert _scan_output_rows(df) == 2_000  # Catalyst filters JVM-side


def test_opted_in_pushdown_needs_conf_and_shrinks_batches(spark, tmp_path, pushdown_conf):
    t = _table(2_000, seed=4)
    p = str(tmp_path / "opted.dta")
    write_dta(t, p)
    x1 = np.nan_to_num(t["x1"].to_numpy(zero_copy_only=False), nan=-1.0)
    expected = int((x1 > 0.5).sum())

    def query():
        r = spark.read.format("readstat").option("filter_pushdown", "true").load(p)
        return r.where(F.col("x1") > 0.5)

    pushdown_conf("false")
    with pytest.raises(Exception) as err:
        query().count()
    assert "DATA_SOURCE_PUSHDOWN_DISABLED" in str(err.value)
    assert PUSHDOWN_CONF in str(err.value)

    pushdown_conf("true")
    df = query()
    assert len(df.collect()) == expected
    assert _scan_output_rows(df) == expected  # filtered before the JVM


@pytest.mark.parametrize("fmt", ["dta", "sav", "sas7bdat", "xpt"])
def test_full_read_of_one_file_splits_across_cores(large, four_cores, fmt):
    assert len(_reader(large[fmt]).partitions()) == 4


def test_rle_sas_splits_by_whole_records(large, four_cores):
    # 12,500 whole records are under 4 MiB, so a quarter of them sits
    # below the 1 MiB floor: 1 MiB page-range splits
    meta = sas_parser.read_metadata(large["rle"])
    nbytes = RLE_ROWS * meta.row_length
    assert 1 << 20 < nbytes < 4 << 20
    parts = _reader(large["rle"]).partitions()
    assert len(parts) == -(-nbytes // (1 << 20))
    assert all(isinstance(p, datasource._PageRange) for p in parts)


def test_rle_plan_job_follows_cores(spark, large, four_cores):
    plan = api.plan_rle_partitions(spark, large["sav"])
    assert len(plan[large["sav"]]) == 4


@pytest.mark.parametrize("fmt", ["dta", "sas7bdat", "xpt"])
def test_fixed_width_subset_is_one_task(large, four_cores, fmt):
    cols = "ID,X1" if fmt == "xpt" else "id,x1"
    assert len(_reader(large[fmt], columns=cols).partitions()) == 1


def test_docs_file_is_one_task(tmp_path, four_cores):
    """600 documents of 40-80 words plus a 64-dim embedding: well under
    the 1 MiB floor, so one partition."""
    rng = np.random.default_rng(7)
    words = np.array(["".join(rng.choice(list("etaoinshr"), rng.integers(3, 10))) for _ in range(3_000)])
    cols = {
        "doc_id": pa.array(np.arange(600, dtype=np.int32)),
        "text": pa.array([" ".join(rng.choice(words, rng.integers(40, 81))) for _ in range(600)]),
    }
    for j in range(64):
        cols[f"e{j:02d}"] = pa.array(rng.normal(size=600))
    p = str(tmp_path / "docs.dta")
    write_dta(pa.table(cols), p)
    assert len(_reader(p).partitions()) == 1


def test_directory_of_small_files_stays_one_per_file(tmp_path, four_cores):
    cols = ["id", "lab_a", "n1", "x1", "x2", "d1", "s8a", "s60"]
    for j in range(12):
        write_dta(_table(4_000, seed=j, id_base=j * 4_000).select(cols), str(tmp_path / f"part_{j:03d}.dta"))
    parts = _reader(str(tmp_path)).partitions()
    assert len(parts) == 12
    assert len({p.path for p in parts}) == 12


@pytest.mark.parametrize("fmt", ["dta", "sav", "sas7bdat", "rle", "xpt"])
def test_split_plan_reads_same_rows_as_one_partition(large, four_cores, fmt):
    split, n_split = _read_all(_reader(large[fmt]))
    whole, n_whole = _read_all(_reader(large[fmt], partitions="1"))
    assert n_split > 1 and n_whole == 1
    assert split.num_rows == whole.num_rows == (RLE_ROWS if fmt == "rle" else ROWS)
    for name in whole.column_names:
        a, b = split[name], whole[name]
        assert a.null_count == b.null_count, name
        if pa.types.is_integer(b.type) or pa.types.is_floating(b.type):
            assert pc.sum(a).as_py() == pytest.approx(pc.sum(b).as_py()), name
    assert split.equals(whole)
    ident = "ID" if fmt == "xpt" else "id"
    assert split[ident].to_pylist() == list(range(split.num_rows))  # file order


@pytest.mark.parametrize("fmt", ["dta", "sav", "sas7bdat", "xpt"])
def test_split_plan_row_index_order(large, four_cores, fmt):
    split, n_split = _read_all(_reader(large[fmt], row_index="true"))
    assert n_split > 1
    assert split["_row_idx"].to_pylist() == list(range(ROWS))


def test_bounded_put_evicts_oldest_first():
    cache: dict = {}
    for i in range(70):
        bounded_put(cache, i, str(i))
    assert len(cache) == 64
    assert list(cache) == list(range(6, 70))


def test_spread_reprobes_when_split_confs_change(spark, tmp_path):
    """The probe memo keys on the scan split confs: a new DataFrame with
    the same plan, built after maxPartitionBytes changed mid-session,
    must be re-probed, not sized by the count planned under the old
    split size."""
    p = str(tmp_path / "probe.parquet")
    # ~0.5 MB of incompressible doubles: under the 1 MiB open cost, so
    # one split at a large maxPartitionBytes and several at 64k
    spark.range(60_000).select(F.rand(1).alias("b")).coalesce(1).write.parquet(p)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "64m")
        wide = spark.read.parquet(p)
        assert spread_mod.spread(wide, 4) is not wide  # one split: widened
        spark.conf.set("spark.sql.files.maxPartitionBytes", "64k")
        narrow = spark.read.parquet(p)
        assert spread_mod.spread(narrow, 4) is narrow  # many splits: left alone
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    plan_hash = wide._jdf.queryExecution().analyzed().semanticHash()
    assert narrow._jdf.queryExecution().analyzed().semanticHash() == plan_hash
    counts = {v for k, v in spread_mod._PROBE_CACHE.items() if k[1] == plan_hash}
    assert len(counts) == 2 and min(counts) == 1

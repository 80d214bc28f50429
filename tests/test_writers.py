"""The staged readstat writers driven directly, without a Spark job:
``write`` is the executor-side spill of one partition, ``commit`` and
``abort`` the driver side — for every format the sinks write."""

from __future__ import annotations

import os

import pyarrow as pa
import pytest

from polars_readstat_rs_spark.datasource import ReadstatDataSource, _from_arrow_schema

FORMATS = {"dta": "stata", "sav": "spss", "xpt": "xport", "por": "por", "sas7bdat": "sas"}

TABLE = pa.table(
    {
        "id": pa.array(range(100), type=pa.int64()),
        "x": pa.array([None if i % 7 == 0 else i * 0.5 for i in range(100)], type=pa.float64()),
        "s": pa.array([f"s{i % 9}" for i in range(100)]),
    }
)
SCHEMA = _from_arrow_schema(TABLE.schema)


def _read(path):
    ds = ReadstatDataSource({"path": path})
    reader = ds.reader(ds.schema())
    batches = [b for p in reader.partitions() for b in reader.read(p)]
    table = pa.Table.from_batches(batches) if batches else None
    # XPORT v5 names are upper case
    names = [n.lower() for n in ds.schema().names]
    return names, table.rename_columns(names) if table else None


def _stage_dirs(d):
    return [f for f in os.listdir(d) if "._stage_" in f]


@pytest.mark.parametrize("ext", FORMATS)
def test_abort_removes_stage_dir(tmp_path, ext):
    w = ReadstatDataSource({"path": str(tmp_path / f"out.{ext}")}).writer(SCHEMA, True)
    msg = w.write(iter(TABLE.to_batches(max_chunksize=40)))
    assert msg.sections and os.path.exists(msg.blob_path)
    assert _stage_dirs(tmp_path)
    w.abort([msg])
    assert not _stage_dirs(tmp_path)
    assert not os.path.exists(tmp_path / f"out.{ext}")


@pytest.mark.parametrize("ext", FORMATS)
def test_empty_partition_commits_zero_row_file(tmp_path, ext):
    path = str(tmp_path / f"empty.{ext}")
    w = ReadstatDataSource({"path": path}).writer(SCHEMA, True)
    msg = w.write(iter(TABLE.slice(0, 0).to_batches()))
    assert msg.sections == [] and not os.path.exists(msg.blob_path)
    w.commit([msg])
    names, table = _read(path)
    assert names == ["id", "x", "s"]
    assert table is None or table.num_rows == 0
    assert not _stage_dirs(tmp_path)


@pytest.mark.parametrize("ext", FORMATS)
def test_stream_commit_publishes_one_part(tmp_path, ext):
    out = tmp_path / "sink"
    opts = {"path": str(out), "format": FORMATS[ext]}
    spill = ReadstatDataSource(opts).streamWriter(SCHEMA, True)
    msgs = [
        spill.write(iter(TABLE.slice(0, 60).to_batches())),
        spill.write(iter(TABLE.slice(60).to_batches())),
        spill.write(iter(TABLE.slice(0, 0).to_batches())),
    ]
    # Spark commits through a fresh writer whose stage_dir was never used
    ReadstatDataSource(opts).streamWriter(SCHEMA, True).commit(msgs, 7)
    assert os.listdir(out) == [f"part-00007.{ext}"]
    assert not _stage_dirs(tmp_path)
    _, table = _read(str(out / f"part-00007.{ext}"))
    assert [float(v) for v in table.column("id").to_pylist()] == list(map(float, range(100)))
    assert table.column("s").to_pylist() == TABLE.column("s").to_pylist()

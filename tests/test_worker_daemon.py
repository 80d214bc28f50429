"""The package's Spark worker daemon (``_daemon.py``): zip archives on a
worker's path are re-read only when they change, every worker forked
by a ``get_spark`` session runs the patched method, and the workers
import the driver's copy of the package from any working directory."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

from polars_readstat_rs_spark import _daemon

REPO = Path(__file__).resolve().parent.parent


def _write_zip(path: Path, version: int) -> None:
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as z:
        z.writestr("m.py", f"VERSION = {version}\n")
    os.replace(tmp, path)  # a replaced archive, as a re-shipped file is


def test_guard_rereads_an_archive_only_when_it_changes(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, 1)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _daemon.invalidate_caches)
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, "m", raising=False)
    importlib.invalidate_caches()
    assert importlib.import_module("m").VERSION == 1
    importer = sys.path_importer_cache[str(archive)]
    assert isinstance(importer, zipimport.zipimporter)

    importer.invalidate_caches()  # the importer's first call reads the archive
    files = importer._files
    for _ in range(3):
        importlib.invalidate_caches()
        assert importer._files is files

    _write_zip(archive, 2)
    importlib.invalidate_caches()
    assert importer._files is not files
    del sys.modules["m"]
    assert importlib.import_module("m").VERSION == 2
    del sys.modules["m"]


def test_get_spark_workers_run_the_guard(spark):
    # nested, so cloudpickle ships it by value: workers cannot import tests/
    def _probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        zips = [v for v in sys.path_importer_cache.values() if isinstance(v, zipimport.zipimporter)]
        before = [id(z._files) for z in zips]
        importlib.invalidate_caches()
        unchanged = before == [id(z._files) for z in zips]
        fn = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {
                "source": [getattr(getattr(fn, "__code__", None), "co_filename", "")],
                "zips": [len(zips)],
                "unchanged": [unchanged],
            }
        )

    rows = (
        spark.range(4, numPartitions=4)
        .mapInArrow(_probe, "source string, zips bigint, unchanged boolean")
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        if sys.version_info < (3, 13):
            assert Path(r.source).resolve() == Path(_daemon.__file__).resolve()
        assert r.zips > 0 and r.unchanged, r


_OTHER_CWD = """
import sys
sys.path.insert(0, {repo!r})
import pyarrow as pa
from polars_readstat_rs_spark import api
from polars_readstat_rs_spark.formats.stata.writer import write_dta
from polars_readstat_rs_spark.session import get_spark

write_dta(pa.table({{"id": pa.array(range(500), pa.int32())}}), "t.dta")
spark = get_spark("other-cwd", cpus=2)
spark.sparkContext.setLogLevel("ERROR")
try:
    n = api.readstat_scan(spark, "t.dta").count()
    m = spark.range(10, numPartitions=2).mapInArrow(lambda it: it, "id bigint").count()
    print("COUNTS", n, m)
finally:
    spark.stop()
"""


def test_workers_import_the_package_from_any_cwd(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _OTHER_CWD.format(repo=str(REPO))],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "COUNTS 500 10" in proc.stdout, proc.stderr[-3000:]

"""Invariants of the driver order: the 50-name HEAD, then the rest.

The correctness driver records only the first 50 queries() entries, so
HEAD must be 50 registered names, and queries()/oracle_sql() must list
every registered name exactly once in the same order.
tools/rotate_head.py regenerates HEAD, oldest driver record first.
"""

import importlib.util
import json
from pathlib import Path

from __spark_entry__ import HEAD, oracle_sql, queries
from polars_readstat_rs_spark.queries import QUERIES

_TOOL = Path(__file__).resolve().parent.parent / "tools" / "rotate_head.py"


def _rotation_order():
    spec = importlib.util.spec_from_file_location("rotate_head", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.rotation_order


def test_head_names_all_registered():
    assert len(HEAD) == len(set(HEAD)) == 50
    missing = [n for n in HEAD if n not in QUERIES]
    assert not missing, missing


def test_entry_ordering_matches_head():
    qnames = list(queries())
    assert qnames[:50] == list(HEAD)
    rest = [n for n in QUERIES if n not in HEAD]
    assert qnames[50:] == rest
    assert len(qnames) == len(set(qnames)) == len(QUERIES)


def test_oracles_mirror_queries():
    assert list(oracle_sql()) == list(queries())


def test_rotation_rule(tmp_path):
    def record(rnd, names):
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(
            json.dumps({n: {"hash_match": True} for n in names})
        )

    record(1, ["a", "b", "c", "gone"])
    record(2, [])
    record(3, ["b", "d"])
    record(10, ["c", "gone"])
    names = ["c", "new2", "a", "d", "b", "e", "new1"]
    order = _rotation_order()(names, tmp_path)
    # never recorded, then last round 1, 3, 3, 10; ties keep registration order
    assert order == ["new2", "e", "new1", "a", "d", "b", "c"]
    # only an empty record: registration order
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "CORRECTNESS_r02.json").write_text("{}")
    assert _rotation_order()(names, empty) == names

"""Audit: every registered oracle SQL must produce driver-hash-safe
column types in DuckDB.

The driver's value hash is type-sensitive; DuckDB silently promotes
``sum(BIGINT)`` to HUGEINT and ``sum(INTEGER)``/``avg`` to
HUGEINT/DECIMAL, which no Spark plan can emit — the r3 p04 failure mode
(registry.py:17's own rule). This test executes every oracle against the
sf0.001 parquet views (DuckDB binds output types lazily, so LIMIT 0 is
enough) and asserts every result column's type is in the portable set.
"""

from __future__ import annotations

import duckdb
import pytest

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# Types a Spark DataFrame can emit 1:1 — anything else (HUGEINT,
# DECIMAL, TIME, interval, nested) is a driver-hash hazard.
ALLOWED = {
    "BIGINT",
    "INTEGER",
    "SMALLINT",
    "TINYINT",
    "DOUBLE",
    "FLOAT",
    "VARCHAR",
    "DATE",
    "BOOLEAN",
}


@pytest.fixture(scope="module")
def duck():
    conn = duckdb.connect()
    sf = "/root/testdata/sf0.001"
    for t in TABLES:
        conn.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    yield conn
    conn.close()


def _oracle_names():
    from polars_readstat_rs_spark.queries import ORACLES

    return sorted(ORACLES)


@pytest.mark.parametrize("name", _oracle_names())
def test_oracle_output_types(duck, name):
    from polars_readstat_rs_spark.queries import ORACLES

    rel = duck.sql(f"SELECT * FROM ({ORACLES[name]}) LIMIT 0")
    bad = [
        (c, str(t))
        for c, t in zip(rel.columns, rel.types)
        if str(t) not in ALLOWED
    ]
    assert not bad, f"{name}: non-portable oracle output types {bad}"


# Every gate whose query runs a vector top-k operator (probe, cell
# scoring or rank tail): Spark rows must equal the DuckDB oracle's, by
# the same normalized comparison as tools/check_oracle.py.
TOPK_FAMILY = [
    "v01_cosine_topk", "v03_ivf_topk", "v04_kmeans_ivf_topk", "v06_ann_recall",
    "v07_pq_topk", "v08_ivf_append", "v09_filtered_topk", "v10_ann_join",
    "v11_mmr_rerank", "v12_knn_label_vote", "v14_quantized_recall",
    "v16_matryoshka_recall", "v17_recall_nprobe_curve", "v20_semdedup_keep",
    "v21_rerank_depth_curve", "v22_ivf_pq_rerank_recall", "v23_ivf_balance",
]


@pytest.mark.parametrize("name", TOPK_FAMILY)
def test_topk_family_matches_oracle(spark, sf_dir, duck, name):
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from check_oracle import norm_rows

    from polars_readstat_rs_spark.queries import ORACLES, QUERIES

    try:
        sdf = QUERIES[name](spark, sf_dir)
        scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
    finally:
        spark.catalog.clearCache()
    res = duck.sql(ORACLES[name])
    dcols, drows = res.columns, res.fetchall()
    assert sorted(scols) == sorted(dcols)
    assert len(srows) == len(drows)
    assert norm_rows(scols, srows) == norm_rows(dcols, drows)

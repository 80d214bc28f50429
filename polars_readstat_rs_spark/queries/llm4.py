"""Product-quantization ANN gate (v07).

The oracle generates, per subspace, the same unrolled deterministic
Lloyd CTE chain v04 uses (init = ksub lowest-id subvectors, ties to the
lowest cell, centroid dims are vec_id-ordered left-to-right folds), then
mirrors the ADC scoring: per-(query, code) partial-dot LUTs summed
across subspaces left-to-right. Every ranked double is bitwise-equal to
the Spark operator's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import similarity
from ..tables import load_table
from .llm import _DOTD, _SQD
from .llm import _JACCARD_SELECT, _sh_ctes
from .registry import register

_V07_M = 4
_V07_SUB = 16  # 64-dim embeddings / 4 subspaces
_V07_KSUB = 8
_V07_K = 10


def _assign(vcte: str, ccte: str) -> str:
    sqd = _SQD.format(a="v.vec", b="c.centroid")
    return f"""SELECT vec_id, vec, cell FROM (
      SELECT v.vec_id, v.vec, c.cell,
             row_number() OVER (PARTITION BY v.vec_id ORDER BY {sqd} ASC, c.cell ASC) AS rn
      FROM {vcte} v CROSS JOIN {ccte} c) WHERE rn = 1"""


def _update(acte: str) -> str:
    return f"""SELECT cell, list_transform(range(1, len(mem[1]) + 1),
        i -> list_reduce(list_transform(mem, m -> m[i]), (x, y) -> x + y) / n) AS centroid
      FROM (SELECT cell, list(vec ORDER BY vec_id) AS mem, CAST(count(*) AS DOUBLE) AS n
            FROM {acte} GROUP BY cell)"""


def _pq_oracle() -> str:
    ctes = []
    for j in range(_V07_M):
        lo, hi = j * _V07_SUB + 1, (j + 1) * _V07_SUB
        ctes.append(
            f"v{j} AS (SELECT vec_id, list_transform(embedding[{lo}:{hi}], "
            f"x -> CAST(x AS DOUBLE)) AS vec FROM embeddings)"
        )
        ctes.append(
            f"c0_{j} AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, "
            f"vec AS centroid FROM (SELECT * FROM v{j} ORDER BY vec_id LIMIT {_V07_KSUB}))"
        )
        ctes.append(f"a1_{j} AS ({_assign(f'v{j}', f'c0_{j}')})")
        ctes.append(f"c1_{j} AS ({_update(f'a1_{j}')})")
        ctes.append(f"a2_{j} AS ({_assign(f'v{j}', f'c1_{j}')})")
        ctes.append(f"c2_{j} AS ({_update(f'a2_{j}')})")
        ctes.append(f"af_{j} AS ({_assign(f'v{j}', f'c2_{j}')})")
        dot = _DOTD.format(a="q.vec", b="c.centroid")
        ctes.append(
            f"lut{j} AS (SELECT q.vec_id AS q_id, c.cell, {dot} AS part "
            f"FROM (SELECT vec_id, vec FROM v{j} WHERE vec_id < 5) q CROSS JOIN c2_{j} c)"
        )
    code_joins = " ".join(
        f"JOIN af_{j} a{j} ON a0.vec_id = a{j}.vec_id" for j in range(1, _V07_M)
    )
    lut_joins = " ".join(
        f"JOIN lut{j} l{j} ON l{j}.q_id = l0.q_id AND l{j}.cell = a{j}.cell"
        for j in range(1, _V07_M)
    )
    parts = " + ".join(f"l{j}.part" for j in range(_V07_M))
    ctes.append(
        f"""scored AS (
      SELECT l0.q_id, a0.vec_id, {parts} AS approx_dot
      FROM af_0 a0 {code_joins}
      JOIN lut0 l0 ON l0.cell = a0.cell {lut_joins}
      WHERE a0.vec_id <> l0.q_id)"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT q_id, vec_id, approx_dot, rank FROM (
      SELECT q_id, vec_id, approx_dot,
             CAST(row_number() OVER (PARTITION BY q_id
               ORDER BY approx_dot DESC, vec_id) AS INT) AS rank
      FROM scored) WHERE rank <= {_V07_K}"""
    )


@register("v07_pq_topk", oracle=_pq_oracle())
def v07_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (operators/similarity.py:pq_topk):
    m-byte codes + broadcast LUT joins — the memory-compressed ANN path
    that never rescans raw vectors at query time."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.pq_topk(
        emb, queries, k=_V07_K, m=_V07_M, ksub=_V07_KSUB, iters=2
    )


# --------------------------------------------- d10 exact Jaccard at t=0.5

_D10_T = 0.5


@register(
    "d10_prefix_filter",
    # the d02 full-join oracle restricted to the threshold: the operator
    # keeps every pair at or above it, so the filtered oracle is exact
    oracle=f"""
    WITH {_sh_ctes()}
    SELECT * FROM ({_JACCARD_SELECT}) WHERE jaccard >= {_D10_T!r}
    """,
)
def d10_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The t=0.5 path of the one exact n-gram Jaccard operator
    (operators/dedup.py:ngram_jaccard_pairs, which d02 checks at
    t=0.2). The gate keeps its name from the prefix-filtered join it
    once ran: that join returned the same rows slower at every measured
    scale and threshold, because the df-cap already does its pruning."""
    from ..operators import dedup
    from ..tables import load_table as _lt

    docs = _lt(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=_D10_T)


# --------------------------------------------- v08 incremental IVF append

_V08_NPROBE = 3
_V08_K = 10


def _v08_oracle() -> str:
    dotq = _DOTD.format(a="vec", b="vec")
    sqd_probe = _SQD.format(a="q.q_vec", b="c.centroid")
    dot_score = _DOTD.format(a="p.q_vec", b="a.vec")
    norm_c = _DOTD.format(a="a.vec", b="a.vec")
    return f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings),
    vb AS (SELECT * FROM v WHERE vec_id % 5 <> 0),
    vn AS (SELECT * FROM v WHERE vec_id % 5 = 0),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, vec AS centroid
      FROM (SELECT * FROM vb ORDER BY vec_id LIMIT 8)),
    a1 AS ({_assign('vb', 'c0')}),
    c1 AS ({_update('a1')}),
    a2 AS ({_assign('vb', 'c1')}),
    c2 AS ({_update('a2')}),
    afb AS ({_assign('vb', 'c2')}),
    afn AS ({_assign('vn', 'c2')}),
    af AS (SELECT * FROM afb UNION ALL SELECT * FROM afn),
    q AS (
      SELECT vec_id AS q_id, vec AS q_vec, sqrt({dotq}) AS q_norm
      FROM v WHERE vec_id < 5),
    probed AS (
      SELECT q_id, q_vec, q_norm, cell FROM (
        SELECT q.q_id, q.q_vec, q.q_norm, c.cell,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY {sqd_probe} ASC, c.cell ASC) AS prank
        FROM q CROSS JOIN c2 c) WHERE prank <= {_V08_NPROBE}),
    scored AS (
      SELECT p.q_id, a.vec_id,
             round({dot_score} / (p.q_norm * sqrt({norm_c})), 6) AS sim
      FROM af a JOIN probed p ON a.cell = p.cell AND a.vec_id <> p.q_id)
    SELECT q_id, vec_id, sim, rank FROM (
      SELECT q_id, vec_id, sim,
             CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank
      FROM scored) WHERE rank <= {_V08_K}"""


@register("v08_ivf_append", oracle=_v08_oracle())
def v08_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest IVF (operators/similarity.py:ivf_append_topk):
    centroids frozen from the base build, new vectors assigned without
    retraining, queries probe the union — the vector-side analog of
    d09's incremental MinHash band join."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    new = emb.filter(F.col("vec_id") % 5 == 0)
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.ivf_append_topk(
        base, new, queries, k=_V08_K, nprobe=_V08_NPROBE, ncells=8, iters=2
    )

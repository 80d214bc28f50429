"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — broadcast the (small) query set,
scan the corpus once, rank per query. At 100 TB the corpus side stays
partition-parallel with zero shuffle until the final per-query top-k
(k rows per partition survive the partial top-k, so the shuffle is tiny).

Scale path: label-blocked near-dup join (the IVF idea: only compare
vectors inside the same coarse cell). Blocking keys shuffle once.

Dot products keep the oracle's left-to-right fold semantics everywhere;
per-row norms use the codegen fold expression (dot_expr), while PAIR
tables (millions of candidate rows) use pair_dot_udf — an
Arrow-vectorized numpy loop that performs the identical IEEE-754
addition sequence ~30x faster than interpreted higher-order lambdas.

Every top-k operator keeps only its candidate source; three helpers
below hold the decisions they share. :func:`_rank_topk` is the one
per-query rank (score DESC, id ASC, ``rank <= k``), :func:`_probe` the
one IVF probe (queries x broadcast cells, ``prank <= nprobe``) and
:func:`_score_cells` the one IVF scoring (cell join, self pair dropped,
``round(dot / (q_norm * c_norm), 6)``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ._lifecycle import release_cached, track as _track  # noqa: F401  (shared lifecycle)
from .dedup import MAX_BAND_BUCKET, _cap_buckets


def dot_expr(a: str | Column, b: str | Column) -> Column:
    """Sequential left-fold dot product in double precision."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def pair_dot_udf(a: str | Column, b: str | Column) -> Column:
    """Arrow-vectorized dot product, bitwise-identical to
    :func:`dot_expr`'s left fold: the numpy loop accumulates dimension
    j = 0..d-1 in ascending order, so each row performs exactly
    ((0 + a0*b0) + a1*b1) + ... in IEEE-754 double — same result the
    SQL oracles' list_reduce computes. Use on PAIR tables (the hot
    path: millions of candidate rows x d interpreted lambda steps
    become d numpy vector ops per batch); plain dot_expr stays fine
    for per-row norms."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _dot(sa, sb):
        if not len(sa):
            return pd.Series([], dtype="float64")
        ma = np.array(sa.tolist(), dtype=np.float64)
        mb = np.array(sb.tolist(), dtype=np.float64)
        acc = np.zeros(len(ma), dtype=np.float64)
        for j in range(ma.shape[1]):
            acc += ma[:, j] * mb[:, j]
        return pd.Series(acc)

    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return _dot(a, b)


def cosine_expr(a: str | Column, b: str | Column) -> Column:
    return dot_expr(a, b) / (F.sqrt(dot_expr(a, a)) * F.sqrt(dot_expr(b, b)))


def pair_cosine_udf(a: str | Column, b: str | Column) -> Column:
    """Arrow-vectorized full cosine for PAIR tables: dot(a,b) /
    (sqrt(dot(a,a)) * sqrt(dot(b,b))) with every fold accumulating
    dimension j = 0..d-1 in ascending order — bitwise-identical to the
    oracles' list_reduce expression, with no separate norm projection
    (so no persist/localCheckpoint barrier is needed to stop Catalyst
    re-inlining a norm column into every pair row)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(sa, sb):
        if not len(sa):
            return pd.Series([], dtype="float64")
        ma = np.array(sa.tolist(), dtype=np.float64)
        mb = np.array(sb.tolist(), dtype=np.float64)
        dot = np.zeros(len(ma), dtype=np.float64)
        na = np.zeros(len(ma), dtype=np.float64)
        nb = np.zeros(len(ma), dtype=np.float64)
        for j in range(ma.shape[1]):
            dot += ma[:, j] * mb[:, j]
            na += ma[:, j] * ma[:, j]
            nb += mb[:, j] * mb[:, j]
        return pd.Series(dot / (np.sqrt(na) * np.sqrt(nb)))

    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return _cos(a, b)


def _rank_topk(scored: DataFrame, k: int, score: str = "sim", id: str = "vec_id") -> DataFrame:
    """Per-query top-k of a scored (q_id, id, score) frame: ``rank`` is the
    row_number over (score DESC, id ASC), kept while ``rank <= k``."""
    w = W.partitionBy("q_id").orderBy(F.desc(score), F.asc(id))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _probe(
    q: DataFrame,
    cells: DataFrame,
    vec: str,
    score: Callable[[str, str], Column],
    ascending: bool,
    nprobe: int,
) -> DataFrame:
    """The IVF probe: every query (q_id, q_vec, ...) scores each broadcast
    cell's ``vec`` with ``score(q_vec, vec)`` and keeps its ``nprobe``
    best cells, ties to the lowest cell id. A distance ranks ascending
    (``pd``), a similarity descending (``psim``). Returns q's columns plus
    ``cell``."""
    p = "pd" if ascending else "psim"
    w = W.partitionBy("q_id").orderBy(F.asc(p) if ascending else F.desc(p), F.asc("cell"))
    return (
        q.crossJoin(F.broadcast(cells))
        .withColumn(p, score("q_vec", vec))
        .withColumn("prank", F.row_number().over(w))
        .filter(F.col("prank") <= nprobe)
        .select(*q.columns, "cell")
    )


def _score_cells(c: DataFrame, probed: DataFrame) -> DataFrame:
    """The IVF scoring: corpus rows (cell, vec_id, c_vec) join the probed
    (q_id, q_vec, q_norm, cell) rows on cell, drop the self pair and score
    the fold-order cosine rounded to 6 places as (q_id, vec_id, sim)."""
    return (
        c.withColumn("c_norm", F.sqrt(dot_expr("c_vec", "c_vec")))
        .join(F.broadcast(probed), ["cell"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn(
            "sim", F.round(dot_expr("q_vec", "c_vec") / (F.col("q_norm") * F.col("c_norm")), 6)
        )
        .select("q_id", "vec_id", "sim")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Top-k cosine neighbors per query vector (brute force baseline).

    ``queries`` must be a bounded set (collected once, like the k-means
    centroid model in semantic_dedup — capped at 10k, use srp_ann_join
    beyond that); the corpus is scanned once by a mapInPandas kernel
    that scores each Arrow batch against the whole query matrix in
    numpy and emits only the per-query batch-local top-(k+1) candidate
    (q_id, vec_id, sim) scalars (rounding-safe margin — see the kernel
    comment), so the JVM-side window ranks ~nq x (k+1) rows per batch
    instead of the full m x nq pair stream. The previous
    broadcast-join shape materialized corpus x nq PAIR rows each
    carrying BOTH vectors through Arrow — a ~2d-floats-per-pair row
    blowup that dominates wall time long before the top-k. Fold-order
    parity with the SQL oracles holds exactly: dot and both norms
    accumulate dimensions in ascending order (the list_reduce IEEE
    sequence) and the 6-decimal rounding stays JVM-side. Zero shuffles
    before the tiny per-query top-k; deterministic tie-break on id.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    q_rows = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")).collect()
    if len(q_rows) > 10_000:
        raise ValueError(
            "brute_force_topk queries side is a bounded broadcast model "
            f"(got {len(q_rows)} rows, cap 10000); use srp_ann_join for "
            "corpus-scale query sets"
        )
    Q = np.array([list(r.q_vec) for r in q_rows], dtype=np.float64)
    # ids keep their native dtype (inferred) — forcing int64 here would
    # break string / non-integer id columns; out_schema already carries
    # the corpus id type, so Arrow round-trips whatever numpy infers.
    q_ids = np.asarray([r.q_id for r in q_rows])
    d = Q.shape[1] if len(q_rows) else 0
    qsq = np.zeros(len(q_rows), dtype=np.float64)
    for j in range(d):
        qsq += Q[:, j] * Q[:, j]
    q_nrm = np.sqrt(qsq)
    # A zero-norm QUERY makes every one of its sims NaN, so that query
    # would vanish from the output with no signal at all (while a
    # zero-norm CORPUS row merely drops itself). Fail loudly up front:
    # cosine is undefined for the zero vector and silence here reads as
    # "empty corpus" to the caller.
    if len(q_rows) and (q_nrm == 0.0).any():
        # NOTE: the SQL oracles would instead DROP such a query's rows
        # via NULL/NaN division — a deliberate parity exception on
        # degenerate input (none exists in any gated fixture): the
        # engine fails loudly where silent SQL semantics would hide an
        # upstream bug.
        bad = [q_ids[i] for i in np.flatnonzero(q_nrm == 0.0)[:5].tolist()]
        raise ValueError(
            "brute_force_topk: zero-norm query vector(s) "
            f"(ids {bad}...) — cosine similarity is undefined for the "
            "zero vector; filter them out before calling"
        )

    id_field = corpus.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("q_id", id_field),
            T.StructField("vec_id", id_field),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    # per-batch survivors: the final ranking orders by round(sim, 6)
    # DESC then vec_id ASC after dropping the self pair, so a batch only
    # needs to emit, per query, the rows that could still reach that
    # top-k. Rounding to 6 decimals moves a value by < 5e-7, so any row
    # more than 1e-6 of raw sim below the (k+1)-th best raw sim in its
    # batch is beaten by >= k+1 rows even after rounding — of which at
    # most one is the (later filtered) self pair — and provably cannot
    # rank <= k. Emitted sims stay the raw fold-order values (rounding
    # stays JVM-side), so cross-engine parity is untouched; this only
    # prunes the m x nq pair stream (the Arrow transfer + shuffle that
    # dominated at scale) down to ~nq x (k+1) rows per batch.
    keep_k = k + 1
    margin = 1.000001e-6

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b) or not len(q_rows):
                continue
            X = np.array(b["c_vec"].tolist(), dtype=np.float64)
            m = len(b)
            dot = np.zeros((m, len(q_rows)), dtype=np.float64)
            csq = np.zeros(m, dtype=np.float64)
            for j in range(d):
                dot += X[:, j : j + 1] * Q[:, j][None, :]
                csq += X[:, j] * X[:, j]
            # zero-norm CORPUS vectors make the denominator 0 -> sim NaN
            # and the row drops itself after the kernel (zero-norm QUERY
            # vectors were already rejected loudly above — queries never
            # reach this division with q_nrm == 0).
            with np.errstate(divide="ignore", invalid="ignore"):
                sim = dot / (q_nrm[None, :] * np.sqrt(csq)[:, None])
            finite = np.isfinite(sim)
            simf = np.where(finite, sim, -np.inf)
            if m > keep_k:
                thr = np.partition(simf, m - keep_k, axis=0)[m - keep_k, :]
                keep = finite & (simf >= (thr - margin)[None, :])
            else:
                keep = finite
            rows, cols = np.nonzero(keep)
            if not len(rows):
                continue
            ids = b["vec_id"].to_numpy()
            yield pd.DataFrame(
                {
                    "q_id": q_ids[cols],
                    "vec_id": ids[rows],
                    "sim": sim[rows, cols],
                }
            )

    scored = (
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec"))
        .filter(F.col(vec_col).isNotNull())
        .mapInPandas(fn, out_schema)
        .filter(F.col("vec_id") != F.col("q_id"))
        # pandas->Arrow turns the kernel's NaN into NULL; guard both
        # (isnan(NULL) is false in Spark, so isnan alone keeps the row)
        .filter(F.col("sim").isNotNull() & ~F.isnan("sim"))
        .withColumn("sim", F.round("sim", 6))
    )
    return _track(_rank_topk(scored, k))


def ann_recall(truth: DataFrame, approx: DataFrame, k: int = 10) -> DataFrame:
    """Recall@k of an approximate top-k result against brute-force
    ground truth — the standard eval harness for tuning an ANN index
    (ncells/nprobe for IVF, bands for SRP) before committing to a
    100 TB run.

    Both inputs use the (q_id, vec_id, rank) contract that
    :func:`_rank_topk` gives brute_force_topk, ivf_topk,
    kmeans_ivf_topk, ivf_append_topk, exact_rerank, filtered_topk and
    ivf_pq_topk (pq_topk emits it too, ranked on approx_dot). Per query:
    ``n_truth`` ground-truth neighbors (<= k — a query can have fewer
    than k scoreable neighbors), ``n_hit`` of them found by the
    approximate index, ``recall`` = n_hit / n_truth as an exact single
    division.

    Scale: one semi-join shuffled on (q_id, vec_id) + one groupBy on
    q_id; both inputs are already <= k rows per query, so the eval
    costs O(queries x k) regardless of corpus size.
    """
    t = truth.filter(F.col("rank") <= k).select("q_id", "vec_id")
    a = approx.filter(F.col("rank") <= k).select("q_id", "vec_id")
    hits = (
        t.join(a, ["q_id", "vec_id"], "left_semi")
        .groupBy("q_id")
        .agg(F.count("*").alias("n_hit"))
    )
    base = t.groupBy("q_id").agg(F.count("*").alias("n_truth"))
    return base.join(hits, "q_id", "left").select(
        "q_id",
        F.col("n_truth").cast("bigint").alias("n_truth"),
        F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"),
        (
            F.coalesce("n_hit", F.lit(0)).cast("double")
            / F.col("n_truth").cast("double")
        ).alias("recall"),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    k: int = 10,
    nprobe: int = 3,
) -> DataFrame:
    """IVF-style approximate top-k: the corpus is partitioned into cells
    (here the label column; in production a k-means assignment), each
    cell represented by a deterministic pivot vector (its minimum-id
    member — reproducible, unlike float-summed centroids). A query
    scores the pivots, probes only its ``nprobe`` nearest cells, and
    brute-forces within them. At 100 TB the probed fraction bounds both
    scan and shuffle: cost scales with nprobe/ncells, not corpus size.
    """
    c = corpus.select(
        F.col(cell_col).alias("cell"), F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    ).persist()
    pivots = (
        c.withColumn("rn", F.row_number().over(W.partitionBy("cell").orderBy("vec_id")))
        .filter(F.col("rn") == 1)
        .select("cell", F.col("c_vec").alias("pivot"))
    )
    q = (
        queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
        .withColumn("q_norm", F.sqrt(dot_expr("q_vec", "q_vec")))
        .persist()
    )
    probed = _probe(q, pivots, "pivot", cosine_expr, False, nprobe)
    return _track(_rank_topk(_score_cells(c, probed), k), q, c)


def blocked_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.4,
    max_block: int | None = None,
    chunk_rows: int = 4096,
) -> DataFrame:
    """Near-duplicate vector pairs within a blocking cell (IVF-style):
    only same-block pairs are compared, so the join shuffles on the
    block key instead of building the full cross product.

    Each cell costs O(block^2); at 100 TB a runaway hot cell (one label
    holding millions of vectors) would dominate the stage. ``max_block``
    caps that: cells larger than the cap keep only the ``max_block``
    lowest-id members (deterministic, documented truncation — near-dup
    detection within a huge homogeneous cell saturates well below the
    full pair set). Default None compares everything.

    Chunking: cells are split into ``chunk_rows``-sized chunks by id
    rank and every CHUNK PAIR (ci <= cj) is its own applyInArrow group
    (the triangle self-join decomposition), so no group ever holds more
    than 2*chunk_rows vectors; each vector is shipped to ~cell/chunk_rows
    groups. Chunking bounds per-group memory, not task parallelism: the
    ``groupBy("blk", "ti", "tj")`` is satisfied by the block window's
    ``hashpartitioning(blk)``, so Spark adds no exchange for it: every
    chunk pair of one block runs in that block's task, and a hot block's
    O(block^2) Gram runs in one task. Cells at or below chunk_rows are
    one group. A block with one member can produce no pair, so the
    block window drops it (a member count over the same spec as the
    chunk max, so no extra Window node or exchange) and it never
    crosses the Python boundary: most SRP band buckets are singletons.
    Each group reaches the kernel as one Arrow table (applyInArrow):
    the vectors are one flattened list buffer reshaped to (m, d), and
    vectors of differing lengths raise ValueError instead of being
    misaligned.

    Fold-order parity with the SQL oracles is preserved exactly: the
    Gram accumulation loops dimensions in ascending order, so every
    pair performs ((0 + a0*b0) + a1*b1) + ... — pair_dot_udf's (and
    list_reduce's) IEEE addition sequence — and the 6-decimal rounding
    happens JVM-side (Spark HALF_UP; numpy rounds half-to-even). The
    inner chunking bounds each group's accumulator at ~2^22 doubles."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import types as T

    if chunk_rows < 2:
        raise ValueError(f"chunk_rows must be >= 2, got {chunk_rows}")
    in_fields = {f.name: f.dataType for f in df.schema.fields}
    out_schema = T.StructType(
        [
            T.StructField("blk", in_fields[block_col]),
            T.StructField("a_id", in_fields[id_col]),
            T.StructField("b_id", in_fields[id_col]),
            T.StructField("sim", T.DoubleType()),
        ]
    )
    # the JVM filter re-checks the ROUNDED sim; the kernel pre-filters
    # with a margin so boundary values (raw just under threshold but
    # rounding up to it) are never lost
    margin = float(threshold) - 1e-6

    def _norms(Xt: "np.ndarray") -> "np.ndarray":
        # left-fold sum of squares, dimensions ascending (matches
        # dot_expr / the oracle's list_reduce), then rounded sqrt.
        # Xt is the (d, m) transpose: row slices are contiguous.
        sq = np.zeros(Xt.shape[1], dtype=np.float64)
        for j in range(Xt.shape[0]):
            sq += Xt[j] * Xt[j]
        return np.sqrt(sq)

    def _gram_pairs(XA, idsA, XB, idsB, strict_upper_from=None):
        """Row-chunked Gram between XA and XB; emits (a, b, sim) where
        sim >= margin. strict_upper_from: positional offset of XA's
        rows inside XB (diagonal task) — keep only col > row pairs;
        None (cross task) keeps every (a, b) cell, ids already ordered
        a < b by rank construction.

        IEEE parity note: the accumulation is the same ascending-dims
        left fold as ever — the r12 change is pure MEMORY LAYOUT
        ((d, m) contiguous transposes so every slice the inner loop
        touches is sequential, plus a reused product buffer instead of
        a fresh 33 MB temp per dimension). Elementwise IEEE multiply/
        add don't depend on operand layout, so results are bitwise
        identical to the strided version; measured ~3x on the sf10
        kernel, where the (m, d) column gathers were the wall."""
        XAt = np.ascontiguousarray(XA.T)
        XBt = np.ascontiguousarray(XB.T)
        nA = _norms(XAt)
        nB = _norms(XBt)
        d = XAt.shape[0]
        mB = XB.shape[0]
        out_a, out_b, out_s = [], [], []
        chunk = max(1, (1 << 22) // max(mB, 1))
        col_idx = np.arange(mB)
        tmp = None
        for s in range(0, XA.shape[0], chunk):
            rows = min(chunk, XA.shape[0] - s)
            acc = np.zeros((rows, mB), dtype=np.float64)
            if tmp is None or tmp.shape[0] != rows:
                tmp = np.empty((rows, mB), dtype=np.float64)
            for j in range(d):
                np.multiply(XAt[j, s : s + rows, None], XBt[j][None, :], out=tmp)
                np.add(acc, tmp, out=acc)
            sim_raw = acc / (nA[s : s + rows, None] * nB[None, :])
            mask = sim_raw >= margin
            if strict_upper_from is not None:
                mask &= col_idx[None, :] > (
                    strict_upper_from + s + np.arange(rows)
                )[:, None]
            pi, qi = np.nonzero(mask)
            out_a.append(idsA[s + pi])
            out_b.append(idsB[qi])
            out_s.append(sim_raw[pi, qi])
        return out_a, out_b, out_s

    def _pairs_table(tbl, a_ids, b_ids, sims):
        # blk and id types follow the input's Arrow fields: a hard-coded
        # int64 schema fails Spark's result type check on int32 ids
        ids = tbl.schema.field("vid").type
        return pa.table(
            {
                "blk": tbl.column("blk").take(np.zeros(len(sims), dtype=np.int64)),
                "a_id": pa.array(a_ids, ids),
                "b_id": pa.array(b_ids, ids),
                "sim": pa.array(sims, pa.float64()),
            }
        )

    def _dimension(blk, tbl) -> int:
        # a bare reshape of the flattened lists would silently misalign
        # vectors of differing lengths whose total happens to divide
        lens = pc.list_value_length(tbl.column("vec")).to_numpy()
        d = int(lens[0])
        bad = np.flatnonzero(lens != d)
        if len(bad):
            raise ValueError(
                f"blocked_neardup_pairs: block {blk.as_py()!r}: vector "
                f"{tbl.column('vid')[int(bad[0])].as_py()!r} has {int(lens[bad[0]])} "
                f"elements, expected dimension {d}"
            )
        return d

    def _vectors(tbl, d: int) -> "np.ndarray":
        # float32 -> float64 is exact; a null element reads as NaN, so
        # every cosine of that vector is NaN and fails the margin mask
        flat = pc.list_flatten(tbl.column("vec")).to_numpy()
        return flat.astype(np.float64, copy=False).reshape(tbl.num_rows, d)

    def fn(key, tbl):
        blk, ti, tj = key
        if tbl.num_rows < 2:
            return _pairs_table(tbl, [], [], [])
        tbl = tbl.sort_by("vid")
        d = _dimension(blk, tbl)
        if ti.as_py() == tj.as_py():
            X = _vectors(tbl, d)
            ids = tbl.column("vid").to_numpy()
            out_a, out_b, out_s = _gram_pairs(X, ids, X, ids, strict_upper_from=0)
        else:
            is_a = pc.equal(tbl.column("side"), "a")
            a = tbl.filter(is_a)
            b = tbl.filter(pc.invert(is_a))
            if a.num_rows == 0 or b.num_rows == 0:
                return _pairs_table(tbl, [], [], [])
            out_a, out_b, out_s = _gram_pairs(
                _vectors(a, d), a.column("vid").to_numpy(), _vectors(b, d), b.column("vid").to_numpy()
            )
        return _pairs_table(tbl, np.concatenate(out_a), np.concatenate(out_b), np.concatenate(out_s))

    sel = df.select(
        F.col(block_col).alias("blk"), F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
    ).filter(
        F.col(block_col).isNotNull() & F.col(id_col).isNotNull() & F.col(vec_col).isNotNull()
    )
    # rank within block (ascending id — max_block keeps the lowest-id
    # members, the same truncation the one-task kernel applied), then
    # chunk index; mx and the member count over the SAME partitioning
    # share one Window node and add no exchange. A one-member block can
    # produce no pair, so it never crosses the Python boundary: on SRP
    # band buckets that is most of the groups.
    blk_w = W.partitionBy("blk")
    ranked = sel.withColumn("rk", F.row_number().over(blk_w.orderBy("vid")) - 1)
    if max_block is not None:
        ranked = ranked.filter(F.col("rk") < int(max_block))
    ranked = (
        ranked.withColumn("ci", (F.col("rk") / F.lit(int(chunk_rows))).cast("int"))
        .withColumn("mx", F.max("ci").over(blk_w))
        .withColumn("nblk", F.count(F.lit(1)).over(blk_w))
        .filter(F.col("nblk") >= 2)
    )
    # triangle fan-out: chunk c is side A of tasks (c, c..mx) and side
    # B of tasks (0..c-1, c). ONE explode over sequence(0, mx) builds
    # both roles (k >= ci -> (ci, k, 'a'); k < ci -> (k, ci, 'b')) —
    # the r14 two-branch union relied on ReuseExchange to avoid
    # recomputing the upstream (scan/signature/rank) subtree per
    # branch, and exchange reuse silently FAILS when the optimizer
    # leaves alias-only differences between the branches (observed in
    # r15 when a computed block key fed this kernel: the whole SRP
    # signature pipeline, corpus scan included, ran twice). A single
    # branch cannot un-share; identical rows, identical groups.
    fan = ranked.select(
        "blk",
        F.explode(
            F.expr(
                "transform(sequence(0, mx), k -> CASE WHEN k >= ci "
                "THEN struct(ci AS ti, k AS tj, 'a' AS side) "
                "ELSE struct(k AS ti, ci AS tj, 'b' AS side) END)"
            )
        ).alias("__t"),
        "vid",
        "vec",
    ).select(
        "blk", F.col("__t.ti").alias("ti"), F.col("__t.tj").alias("tj"),
        "vid", "vec", F.col("__t.side").alias("side"),
    )
    out = (
        fan.groupBy("blk", "ti", "tj")
        .applyInArrow(fn, out_schema)
        .withColumn("sim", F.round("sim", 6))
        .filter(F.col("sim") >= threshold)
    )
    return _track(out)


# ---------------------------------------------------- SRP-LSH near-dup
#
# blocked_neardup_pairs is O(block^2) within a cell — fine when cells
# stay bounded (max_block), but a corpus whose cells grow with it goes
# quadratic (tools/scale_smoke.py measures exactly that). Signed random
# projections are the subdividing alternative: near-identical vectors
# share sign bits with probability 1 - theta/pi, so banded sign
# signatures bucket near-dups together while the bucket count (2^band
# bits per band) keeps subdividing as the corpus grows — the embedding
# analogue of the 64-bit SimHash design in operators/dedup.py.

import hashlib


def _srp_plane(seed: str, b: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: component j is
    md5(seed:b:j)'s first 32 bits mapped to [-1, 1). Reproducible from
    the same arithmetic in any engine (the oracle recomputes it in SQL,
    bitwise identically)."""
    return [
        int(hashlib.md5(f"{seed}:{b}:{j}".encode()).hexdigest()[:8], 16) / 2147483648.0 - 1.0
        for j in range(dim)
    ]


def srp_signatures(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    nbits: int = 64,
    nbands: int = 4,
    seed: str = "srp",
) -> DataFrame:
    """Per-vector SRP signature as ``nbands`` band integers b0..b{n-1}
    (8 sign bits each for the defaults): bit b = (vec . plane_b) >= 0,
    computed as the same left-fold dot product the oracles replay."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    bits_per_band = nbits // nbands
    # H[j, b] = component j of hyperplane b
    H = np.array([_srp_plane(seed, b, dim) for b in range(nbits)], dtype=np.float64).T
    weights = (1 << np.arange(bits_per_band)).astype(np.int64)

    # Arrow-vectorized numpy path: nbits interpreted higher-order folds
    # per row are ~30x slower than this (measured in tools/scale_smoke).
    # Bitwise parity with the oracle's per-plane left fold is preserved
    # by accumulating dimension-by-dimension: acc[:, b] += v[:, j] *
    # H[j, b] for j ascending performs, per (row, plane), exactly the
    # additions ((0 + v0*h0) + v1*h1) + ... in the same order — float32
    # -> float64 element conversion is exact, so every double matches.
    # note: no pd.Series type hints — `from __future__ import
    # annotations` stringifies them, which pandas_udf can't infer from
    @pandas_udf(ArrayType(IntegerType()))
    def _bands(v):
        m = np.array(v.tolist(), dtype=np.float64)  # (n, dim)
        if m.ndim != 2 or m.shape[1] != dim:
            raise ValueError(f"srp_signatures: expected fixed dim {dim}, got {m.shape}")
        acc = np.zeros((m.shape[0], nbits), dtype=np.float64)
        for j in range(dim):
            acc += m[:, j : j + 1] * H[j][None, :]
        bits = acc >= 0
        band_vals = np.zeros((m.shape[0], nbands), dtype=np.int64)
        for k in range(nbands):
            band_vals[:, k] = bits[:, k * bits_per_band : (k + 1) * bits_per_band] @ weights
        return pd.Series(list(band_vals.astype(np.int32)))

    base = df.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        _bands(F.col(vec_col)).alias("_bv"),
    )
    return base.select(
        "vid", "vec", *[F.element_at("_bv", k + 1).alias(f"b{k}") for k in range(nbands)]
    )


def srp_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    dim: int = 64,
    nbits: int = 64,
    nbands: int = 4,
    seed: str = "srp",
    max_bucket: int | None = MAX_BAND_BUCKET,
) -> DataFrame:
    """Near-duplicate vector pairs via SRP-LSH: candidates where any
    sign-bit band collides, verified by exact cosine >= threshold.

    Scale shape: one shuffle on the band-bucket key — band keys
    subdivide with corpus growth (no fixed cell list to go quadratic
    in), then per-bucket exact-cosine verification via the
    triangle-chunked Gram kernel (r15; see the in-body comment).
    Anisotropy caveat: if
    the corpus occupies a narrow cone (e.g. all-positive activations),
    every random pair is moderately similar and ANY sign-based LSH
    floods with candidates — mean-center such embeddings upstream.
    Approximate by construction: a pair whose every band differs is
    missed; the default
    4 bands x 16 bits (65,536 buckets per band, the same geometry as the
    64-bit SimHash) targets high-similarity near-dups — recall ~0.5 at
    cosine 0.99 and ~1 for exact dups; use 8-bit bands (nbits=32) for
    higher recall at moderate similarity on smaller corpora.

    ``max_bucket`` (default ``MAX_BAND_BUCKET``) bounds each band
    bucket's population BEFORE the pair expansion (lowest-id
    truncation, applied by the blocked kernel's ``max_block``): on
    anisotropic / boilerplate-flooded corpora one bucket would
    otherwise hold the whole corpus and the verification runs O(n^2)
    in a single task — the one remaining scale-killer in this family
    before round 8. Pass ``None`` to disable."""
    sigs = srp_signatures(df, id_col, vec_col, dim, nbits, nbands, seed)
    stack_args = ", ".join(f"{k}, b{k}" for k in range(nbands))
    # Verification (r15 restructure): each band bucket is a BLOCK and
    # the exact-cosine verify runs as the per-bucket Gram kernel
    # (:func:`blocked_neardup_pairs` — same ascending-dimension IEEE
    # fold, same 6-decimal JVM-side rounding, triangle-chunked so no
    # task holds more than 2*chunk_rows vectors). The r14 shape joined
    # the banded table to itself and shipped BOTH vectors through
    # Arrow for every candidate pair — measured at sf1 (3.66M
    # candidates): the pair-stream Arrow serialization was ~2/3 of the
    # query wall (ship-vecs 11.7 s vs join-only 1.9 s), and a 64-term
    # JVM codegen dot was slower still (65 s). Bucket-level grouping
    # ships each vector once per band (O(n*nbands*dim) Arrow bytes,
    # not O(pairs*dim)): sf1 wall 19-26 s -> 6.3-6.7 s, bit-identical
    # rows. A pair colliding in k bands is verified k times (k <=
    # nbands, bounded) and deduped by the final distinct — the same
    # trade as before. No persist: the signature pipeline has one
    # consumer. One-member buckets (1,518 of 1,939 on the perfbench
    # dedup_docs corpus) are dropped JVM-side before the Python
    # boundary, and the kernel reads each bucket as an Arrow table:
    # perfbench dedup_docs srp_p50_s 2.82 -> 1.24 s on 4 cores (median
    # of 10 seeds), identical pairs.
    bands_long = sigs.select(
        "vid",
        "vec",
        F.expr(f"stack({nbands}, {stack_args}) AS (band_idx, band_val)"),
    ).select(
        "vid",
        "vec",
        # one combined block key: band_val < 2^32 by construction
        # (bits_per_band <= 32), so (band_idx, band_val) packs losslessly
        (F.col("band_idx").cast("long") * F.lit(4294967296) + F.col("band_val").cast("long")).alias(
            "__bkey"
        ),
    )
    pairs = blocked_neardup_pairs(
        bands_long,
        id_col="vid",
        vec_col="vec",
        block_col="__bkey",
        threshold=threshold,
        max_block=max_bucket,
    )
    out = pairs.select("a_id", "b_id", "sim").distinct()
    return _track(out)


def srp_ann_join(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    dim: int = 64,
    nbits: int = 32,
    nbands: int = 4,
    seed: str = "srp",
    max_bucket: int | None = MAX_BAND_BUCKET,
) -> DataFrame:
    """Two-table approximate-nearest-neighbor JOIN (cross-corpus
    retrieval): for each query vector, the top-``k`` corpus vectors
    among SRP band-bucket collisions, exact-cosine re-ranked.

    The retrieval shape of RAG / embedding-dedup-against-an-index at
    scale: both sides band on the SAME hyperplanes, the join shuffles
    on (band_idx, band_val) — key space subdivides with corpus growth,
    no fixed cell list — then a candidate-restricted exact re-rank and
    a per-query top-k window. Approximate by construction: a corpus
    vector colliding with the query in NO band is unreachable
    (recall/k tradeoff set by nbits/nbands, same geometry analysis as
    :func:`srp_neardup_pairs`). ``max_bucket`` caps corpus-side bucket
    population against boilerplate floods (lowest-id truncation, the
    :func:`~polars_readstat_rs_spark.operators.dedup._cap_buckets`
    discipline). Ties re-rank deterministically on (sim DESC, id ASC)
    after round(·, 6)."""
    qs = srp_signatures(queries, id_col, vec_col, dim, nbits, nbands, seed).persist()
    cs = srp_signatures(corpus, id_col, vec_col, dim, nbits, nbands, seed).persist()
    stack_args = ", ".join(f"{b}, b{b}" for b in range(nbands))
    q_bands = qs.select(
        F.col("vid").alias("q_id"),
        F.expr(f"stack({nbands}, {stack_args}) AS (band_idx, band_val)"),
    )
    c_bands = _cap_buckets(
        cs.select(
            F.col("vid").alias("c_id"),
            F.expr(f"stack({nbands}, {stack_args}) AS (band_idx, band_val)"),
        ),
        ["band_idx", "band_val"],
        "c_id",
        max_bucket,
    )
    cand = (
        q_bands.join(c_bands, ["band_idx", "band_val"])
        .select("q_id", "c_id")
        .distinct()
    )
    qn = qs.select(
        F.col("vid").alias("q_id"),
        F.col("vec").alias("q_vec"),
        F.sqrt(dot_expr("vec", "vec")).alias("q_norm"),
    )
    cn = cs.select(
        F.col("vid").alias("c_id"),
        F.col("vec").alias("c_vec"),
        F.sqrt(dot_expr("vec", "vec")).alias("c_norm"),
    )
    scored = (
        cand.join(qn, "q_id")
        .join(cn, "c_id")
        .withColumn(
            "sim",
            F.round(pair_dot_udf("q_vec", "c_vec") / (F.col("q_norm") * F.col("c_norm")), 6),
        )
        .select("q_id", "c_id", "sim")
    )
    return _track(_rank_topk(scored, k, id="c_id"), qs, cs)


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_candidates: int = 8,
    k: int = 3,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal-marginal-relevance re-rank: per query, greedily select
    ``k`` of the top-``n_candidates`` cosine neighbors, each step
    maximizing ``lam * sim(q, c) - (1 - lam) * max_{s in selected}
    sim(c, s)`` — the standard retrieval-diversity pass (RAG context
    selection, dedup-aware search).

    Greedy selection is inherently sequential in k, so the loop unrolls
    into k plan stages (k is small and fixed); every stage stays fully
    distributed and per-query: a window argmax + a hash join against
    the candidate-pair similarity table (≤ n_candidates² rows per
    query — bounded, never corpus-scale). Determinism: sims and scores
    round to 6 decimals before every argmax; ties break on c_id.
    Returns (q_id, c_id, mmr_rank, score) — score is null for rank 1
    (pure relevance seed).
    """
    w = W.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("c_id"))
    cand = (
        brute_force_topk(corpus, queries, id_col, vec_col, k=n_candidates)
        .select("q_id", F.col("vec_id").alias("c_id"), "sim")
        .persist()
    )
    vecs = corpus.select(F.col(id_col).alias("__vid"), F.col(vec_col).alias("__vec"))
    ca = cand.join(vecs, cand.c_id == vecs.__vid).select(
        "q_id", F.col("c_id").alias("a_id"), F.col("__vec").alias("a_vec")
    )
    cb = cand.join(vecs, cand.c_id == vecs.__vid).select(
        F.col("q_id").alias("q2"), F.col("c_id").alias("b_id"), F.col("__vec").alias("b_vec")
    )
    pair_sims = (
        ca.join(cb, (ca.q_id == cb.q2) & (ca.a_id != cb.b_id))
        .select(
            "q_id", "a_id", "b_id",
            F.round(pair_cosine_udf("a_vec", "b_vec"), 6).alias("ps"),
        )
        .persist()
    )

    selected = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("q_id", "c_id", F.lit(1).alias("mmr_rank"),
                F.lit(None).cast("double").alias("score"))
        .persist()
    )
    remaining = cand.join(selected.select("q_id", "c_id"), ["q_id", "c_id"], "left_anti")
    # running max similarity to the selected set, updated each round
    remaining = remaining.withColumn("maxsim", F.lit(None).cast("double"))
    for step in range(2, k + 1):
        last = selected.filter(F.col("mmr_rank") == step - 1).select(
            "q_id", F.col("c_id").alias("__last")
        )
        upd = (
            remaining.join(last, "q_id")
            .join(
                pair_sims.select(
                    "q_id", F.col("a_id").alias("c_id"), F.col("b_id").alias("__last"), "ps"
                ),
                ["q_id", "c_id", "__last"],
                "left",
            )
            .select(
                "q_id", "c_id", "sim",
                F.greatest(F.coalesce("maxsim", F.lit(-1.0)), F.coalesce("ps", F.lit(-1.0))).alias("maxsim"),
            )
        )
        # round the complement so the literal equals what an oracle
        # writes as e.g. 0.3 (1.0 - 0.7 is 0.30000000000000004 in IEEE)
        mu = round(1.0 - lam, 12)
        # cross-engine-stable 6-dp rounding (r12 sf1 finding): Spark's
        # round(x, 6) rounds x's SHORTEST DECIMAL REPR half-up, DuckDB's
        # computes round(x*1e6)/1e6 in doubles — they disagree exactly
        # when x*1e6 lands a hair under a .5 boundary whose shortest
        # repr reads at it. round(x*1e6, 0)/1e6 is identical in both
        # engines: the product doubles match, integer rounding of a
        # double agrees between half-up-on-repr and half-away (a
        # shortest repr of "X.5" implies the double IS X.5), and the
        # exact-power division matches.
        raw = F.lit(lam) * F.col("sim") - F.lit(mu) * F.col("maxsim")
        scored = upd.withColumn(
            "score", F.round(raw * F.lit(1_000_000.0), 0) / F.lit(1_000_000.0)
        )
        ws = W.partitionBy("q_id").orderBy(F.desc("score"), F.asc("c_id"))
        pick = (
            scored.withColumn("rn", F.row_number().over(ws))
            .filter(F.col("rn") == 1)
            .select("q_id", "c_id", F.lit(step).alias("mmr_rank"), "score")
        )
        selected = selected.unionByName(pick).persist()
        remaining = upd.join(pick.select("q_id", "c_id"), ["q_id", "c_id"], "left_anti")
    return _track(selected, cand, pair_sims, selected)


# ------------------------------------------------------------- k-means IVF

def _sqdist_expr(a: str | Column, b: str | Column) -> Column:
    """Sequential left-fold squared L2 distance in double precision."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    diffs = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def _assign_cells(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment (ties -> lowest cell id), MAP-ONLY.

    The centroid model (ncells x dim doubles — a bounded model
    parameter, not data) is collected into the kernel's closure and
    every vector computes its argmin in one Arrow-batched pass using
    ``_sqdist_expr``'s exact fold order (acc += (v_j - c_j)^2 with j
    ascending — the pair_dot_udf equivalence argument). ``np.argmin``
    returns the FIRST minimum and centroid rows are sorted by cell id,
    so ties break to the lowest cell, exactly the (d, cell) ordering
    this replaces.

    Why map-only matters: the previous crossJoin(broadcast) +
    row_number implementation materialized corpus x ncells rows through
    a window shuffle+sort. SemDeDup's scaling contract grows ncells
    WITH the corpus (constant cell population), which made assignment
    the one super-linear stage left in the pipeline (r4 40x scale
    smoke: 19x wall at 40x input); the mapped kernel does the same
    FLOPs with zero extra rows and zero shuffles."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    rows = sorted((int(r["cell"]), list(r["centroid"])) for r in cents.collect())
    cells = np.array([k for k, _ in rows], dtype=np.int64)
    C = np.array([c for _, c in rows], dtype=np.float64)  # (k, dim)

    @pandas_udf(IntegerType())
    def _argmin(sv):
        if not len(sv):
            return pd.Series([], dtype="int32")
        # NULL embeddings: the replaced window implementation ordered by
        # asc(d) with Spark's nulls-first default, assigning them the
        # lowest cell id — preserved here by masking them out of the
        # fold and writing cells[0] directly.
        vals = sv.tolist()
        ok = np.array([v is not None for v in vals])
        out = np.full(len(vals), int(cells[0]), dtype=np.int64)
        if ok.any():
            m = np.array([v for v, k in zip(vals, ok) if k], dtype=np.float64)
            acc = np.zeros((m.shape[0], C.shape[0]), dtype=np.float64)
            for j in range(C.shape[1]):
                d = m[:, j : j + 1] - C[None, :, j]
                acc += d * d
            out[ok] = cells[np.argmin(acc, axis=1)]
        return pd.Series(out).astype("int32")

    return vecs.withColumn("cell", _argmin("vec")).select("vec_id", "vec", "cell")


def kmeans_cells(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ncells: int = 8,
    iters: int = 2,
    exact: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic distributed Lloyd's k-means over an embedding
    column; returns (assignment: vec_id/vec/cell, centroids:
    cell/centroid).

    Determinism: init takes the ``ncells`` lowest-id vectors as
    centroids; assignment breaks distance ties on the lowest cell id;
    with ``exact=True`` each centroid dimension is a left-to-right fold
    over members ordered by vec_id, so any engine (and any partitioning)
    reproduces bitwise-identical doubles — that is what lets a SQL
    oracle verify the whole clustering. The exact path materializes each
    cell's members in one group (collect_list), which bounds it to
    cells that fit an executor; ``exact=False`` switches the update to a
    per-(cell, dimension) partial-aggregated sum — the 100 TB path, at
    the cost of float-addition-order nondeterminism in the last ulp.
    """
    vecs = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )
    spark = corpus.sparkSession

    def _materialize(cdf: DataFrame) -> DataFrame:
        # the centroid model is ncells x dim doubles — a bounded model
        # parameter, not data. Collecting it between iterations keeps
        # each assignment plan flat (one corpus scan against literal
        # centroids) instead of a recursively nested re-derivation;
        # exact doubles roundtrip unchanged through the driver.
        rows = sorted((int(r["cell"]), list(r["centroid"])) for r in cdf.collect())
        return spark.createDataFrame(rows, "cell int, centroid array<double>")

    cents = _materialize(
        vecs.orderBy("vec_id")
        .limit(ncells)
        .select(
            (F.row_number().over(W.orderBy("vec_id")) - 1).cast("int").alias("cell"),
            F.col("vec").alias("centroid"),
        )
    )
    for _ in range(iters):
        assigned = _assign_cells(vecs, cents)
        if exact:
            mem = assigned.groupBy("cell").agg(
                F.array_sort(F.collect_list(F.struct("vec_id", "vec"))).alias("mem"),
                F.count("*").cast("double").alias("n"),
            )
            dims = F.sequence(F.lit(1), F.size(F.element_at("mem", 1)["vec"]))
            cents = mem.select(
                "cell",
                F.transform(
                    dims,
                    lambda i: F.aggregate(
                        F.transform("mem", lambda s: F.element_at(s["vec"], i)),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    / F.col("n"),
                ).alias("centroid"),
            )
        else:
            per = (
                assigned.select("cell", F.posexplode("vec").alias("pos", "val"))
                .groupBy("cell", "pos")
                .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
            )
            cents = (
                per.withColumn("m", F.col("s") / F.col("n"))
                .groupBy("cell")
                .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
                .select("cell", F.transform("pm", lambda s: s["m"]).alias("centroid"))
            )
        cents = _materialize(cents)
    return _assign_cells(vecs, cents), cents


def kmeans_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 3,
    ncells: int = 8,
    iters: int = 2,
    exact: bool = True,
) -> DataFrame:
    """IVF approximate top-k with learned k-means cells (the production
    upgrade over ivf_topk's label cells): cluster once, probe the
    ``nprobe`` nearest centroids per query, brute-force inside the
    probed cells. Cost scales with nprobe/ncells, not corpus size."""
    assigned, cents = kmeans_cells(corpus, id_col, vec_col, ncells, iters, exact)
    return _centroid_topk(assigned, cents, queries, id_col, vec_col, k, nprobe)


def _centroid_topk(
    assigned: DataFrame,
    cents: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    nprobe: int,
) -> DataFrame:
    """Search over k-means cells once they are built (``assigned``:
    vec_id/vec/cell, ``cents``: cell/centroid): probe the ``nprobe``
    nearest centroids, score the probed cells, rank the top k. Shared by
    :func:`kmeans_ivf_topk` and :func:`ivf_append_topk`, which differ
    only in where their cells come from."""
    assigned = assigned.persist()
    q = (
        queries.select(
            F.col(id_col).alias("q_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("q_vec"),
        )
        .withColumn("q_norm", F.sqrt(dot_expr("q_vec", "q_vec")))
        .persist()
    )
    probed = _probe(q, cents, "centroid", _sqdist_expr, True, nprobe)
    c = assigned.select("cell", "vec_id", F.col("vec").alias("c_vec"))
    return _track(_rank_topk(_score_cells(c, probed), k), assigned, q)


def ivf_cell_stats(
    assigned: DataFrame,
    cell_col: str = "cell",
    split_factor: float = 1.5,
    merge_factor: float = 0.5,
) -> DataFrame:
    """Index-health report over an IVF assignment — the maintenance
    signal a serving fleet watches to decide when to re-train or
    re-shard cells. Per cell: population, corpus share, the global
    imbalance factor (max cell / mean cell — probe latency is bounded
    by the LARGEST probed cell, so imbalance is the tail-latency
    multiplier), and split/merge triggers against the mean population.

    Plan shape: one exchange on the cell key for the per-cell count;
    the global (total, n_cells, max) roll-up is a one-row aggregate
    broadcast back — O(ncells) state regardless of corpus size, so the
    report costs one corpus scan at any scale.

    Determinism: counts are exact; share/imbalance are single
    correctly-rounded IEEE divisions; the trigger comparisons use the
    same double mean both engines compute from the same integers.
    """
    cells = assigned.groupBy(F.col(cell_col).alias("cell")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs")
    )
    g = cells.agg(
        F.sum("n_vecs").cast("long").alias("_total"),
        F.count(F.lit(1)).cast("long").alias("_ncells"),
        F.max("n_vecs").cast("long").alias("_max_n"),
    )
    mean = F.col("_total").cast("double") / F.col("_ncells").cast("double")
    return cells.crossJoin(F.broadcast(g)).select(
        "cell",
        "n_vecs",
        F.round(F.col("n_vecs").cast("double") / F.col("_total").cast("double"), 6).alias(
            "share"
        ),
        F.round(F.col("_max_n").cast("double") / mean, 6).alias("imbalance"),
        (F.col("n_vecs").cast("double") > F.lit(float(split_factor)) * mean).alias(
            "needs_split"
        ),
        (F.col("n_vecs").cast("double") < F.lit(float(merge_factor)) * mean).alias(
            "needs_merge"
        ),
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    ncells: int = 8,
    iters: int = 2,
    exact: bool = True,
    max_cell: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: k-means-cluster the
    embedding space, compare only vectors that land in the same cell,
    link pairs above the cosine ``threshold``, and collapse each linked
    component to its lowest-id representative.

    Returns one row per input vector: ``vec_id``, ``rep_id`` (the
    representative that survives dedup — itself when the vector is
    unique or the cluster minimum), ``is_rep``. A pipeline keeps the
    rows where is_rep and drops the rest.

    Scale: clustering is the existing deterministic distributed Lloyd
    (bounded centroid model broadcast each iteration); the pair join
    shuffles once on the cell id, and per-cell cost is quadratic in the
    cell population — exactly the SemDeDup compromise; raise ``ncells``
    so cells stay bounded as the corpus grows (cells subdivide, unlike
    fixed label blocking), and/or set ``max_cell`` to hard-cap a runaway
    hot cell (keeps the ``max_cell`` lowest-id members, the same
    deterministic truncation as blocked_neardup_pairs' ``max_block``).
    Component collapse is the min-label propagation of
    :func:`~..dedup.neardup_components` (near-dup clusters are
    near-cliques, so it converges in 2-3 shuffles); that operator
    localCheckpoints, which also cuts this function's kmeans/UDF lineage
    out of the iterative plans (see its docstring — round-2's d08 driver
    hang was exponential plan-string rendering over nested cached AQE
    subplans).
    """
    from .dedup import neardup_components

    assigned, _ = kmeans_cells(corpus, id_col, vec_col, ncells, iters, exact)
    assigned = assigned.withColumn("norm", F.sqrt(dot_expr("vec", "vec")))
    if max_cell is not None:
        w = W.partitionBy("cell").orderBy(F.asc("vec_id"))
        assigned = (
            assigned.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_cell)
            .drop("__rn")
        )
    assigned = assigned.persist()
    a = assigned.select(
        "cell",
        F.col("vec_id").alias("a_id"),
        F.col("vec").alias("a_vec"),
        F.col("norm").alias("a_norm"),
    )
    b = assigned.select(
        "cell",
        F.col("vec_id").alias("b_id"),
        F.col("vec").alias("b_vec"),
        F.col("norm").alias("b_norm"),
    )
    pairs = (
        a.join(b, "cell")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn(
            "sim", pair_dot_udf("a_vec", "b_vec") / (F.col("a_norm") * F.col("b_norm"))
        )
        .filter(F.col("sim") >= threshold)
        .select("a_id", "b_id")
    )
    comps = neardup_components(pairs)
    out = (
        corpus.select(F.col(id_col).alias("vec_id"))
        .join(comps.withColumnRenamed("node", "vec_id"), "vec_id", "left")
        .select("vec_id", F.coalesce("comp", "vec_id").alias("rep_id"))
        .withColumn("is_rep", F.col("rep_id") == F.col("vec_id"))
    )
    return _track(out, assigned, comps)


def _pq_codes_and_luts(
    corpus: DataFrame,
    queries: DataFrame,
    m: int,
    ksub: int,
    iters: int,
    id_col: str,
    vec_col: str,
) -> tuple[DataFrame, list[DataFrame]]:
    """Shared PQ machinery for :func:`pq_topk` and :func:`ivf_pq_topk`:
    per-subspace deterministic k-means codebooks, corpus codes (one
    small int per subspace) and per-(query, subspace, code) partial-dot
    lookup tables. Returns (codes, luts): codes has vec_id + k0..k{m-1};
    luts[j] has (q_id, kj, partj)."""
    head = corpus.select(vec_col).first()
    if head is None or head[0] is None:
        raise ValueError("pq_topk: corpus is empty or its first vector is NULL")
    dim = len(head[0])
    assert dim % m == 0, "vector dim must divide into m subspaces"
    sub = dim // m
    qv = queries.select(
        F.col(id_col).alias("q_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("q_vec"),
    )
    codes = None
    luts = []
    for j in range(m):
        subv = corpus.select(
            id_col, F.slice(F.col(vec_col), j * sub + 1, sub).alias("embedding")
        )
        assigned, cents = kmeans_cells(subv, id_col, "embedding", ncells=ksub, iters=iters)
        cj = assigned.select("vec_id", F.col("cell").alias(f"k{j}"))
        codes = cj if codes is None else codes.join(cj, "vec_id")
        qsub = qv.select("q_id", F.slice("q_vec", j * sub + 1, sub).alias("q_sub"))
        luts.append(
            qsub.crossJoin(F.broadcast(cents)).select(
                "q_id",
                F.col("cell").alias(f"k{j}"),
                F.aggregate(
                    F.zip_with("q_sub", "centroid", lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias(f"part{j}"),
            )
        )
    return codes, luts


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 4,
    ksub: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ADC search: split the vector into ``m``
    subspaces, k-means each (the deterministic Lloyd of kmeans_cells),
    encode every corpus vector as m small codes, and score queries by
    ASYMMETRIC DISTANCE COMPUTATION — a per-(query, subspace, code)
    lookup table of partial dot products, summed across subspaces in a
    fixed order. Returns (q_id, vec_id, approx_dot, rank<=k).

    This is the memory-compressed ANN path for corpora whose raw
    vectors don't fit the cluster: codes are m bytes/vector (vs 4*dim),
    and scoring never touches the original embeddings — only the m
    broadcast-sized LUT joins. All per-subspace folds are left-to-right
    (engine-exact), the cross-subspace sum has an explicit association,
    and code assignment inherits kmeans_cells' tie-breaking, so a SQL
    oracle reproduces every ranked double bitwise.
    """
    codes, luts = _pq_codes_and_luts(corpus, queries, m, ksub, iters, id_col, vec_col)
    return _adc_rank(codes, luts, m, k)


def _adc_rank(base: DataFrame, luts: list[DataFrame], m: int, k: int) -> DataFrame:
    """Shared ADC scoring/ranking tail of :func:`pq_topk` and
    :func:`ivf_pq_topk`: join the m broadcast LUTs onto ``base`` (corpus
    codes, optionally pre-restricted to per-query rows — when ``base``
    already carries q_id the first LUT join keys on it too), sum the
    partial dots left-to-right, drop self pairs, and rank per query with
    the vec_id tie-break. One place owns the fold order and tie-break,
    so the two gated operators cannot drift apart."""
    keys0 = ["q_id", "k0"] if "q_id" in base.columns else ["k0"]
    scored = base.join(F.broadcast(luts[0]), keys0)
    for j in range(1, m):
        scored = scored.join(F.broadcast(luts[j]), ["q_id", f"k{j}"])
    approx = F.col("part0")
    for j in range(1, m):
        approx = approx + F.col(f"part{j}")
    out = (
        scored.select("q_id", "vec_id", approx.alias("approx_dot"))
        .filter(F.col("vec_id") != F.col("q_id"))
    )
    return _rank_topk(out, k, score="approx_dot")


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    depth: int = 40,
    nprobe: int = 2,
    ncells: int = 8,
    iters: int = 2,
    m: int = 2,
    ksub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The composed production index — IVF coarse probe + PQ ADC scan +
    exact re-rank, each stage the already-gated operator:

    1. k-means cells over the FULL vectors (kmeans_cells, the v04
       machinery); each query probes its ``nprobe`` nearest centroids,
       restricting the scan to ~nprobe/ncells of the corpus;
    2. PQ ADC scores ONLY the probed rows (global subspace codebooks —
       the IVFFlat+PQ variant, not per-cell residual books; codes are m
       small ints per vector, scoring is m broadcast LUT joins) down to
       the top-``depth`` candidates per query;
    3. exact_rerank refines those candidates with full-precision
       cosine to the final top-k.

    100 TB shape: stage 1's centroid model and stage 2's LUTs are
    broadcast-sized at any corpus scale; the only corpus-wide work is
    the code scan of the probed cells; stage 3 touches raw vectors for
    depth rows per query.  Every stage is deterministic (seeded k-means,
    fold-order ADC sums, vec_id tie-breaks), so a SQL oracle reproduces
    the whole pipeline bitwise."""
    assigned, cents = kmeans_cells(corpus, id_col, vec_col, ncells=ncells, iters=iters)
    assigned = assigned.persist()
    qv = queries.select(
        F.col(id_col).alias("q_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("q_vec"),
    )
    probed = _probe(qv, cents, "centroid", _sqdist_expr, True, nprobe).select(
        "q_id", F.col("cell").alias("_ivf_cell")
    )
    codes, luts = _pq_codes_and_luts(corpus, queries, m, ksub, iters, id_col, vec_col)
    restricted = codes.join(
        assigned.select("vec_id", F.col("cell").alias("_ivf_cell")), "vec_id"
    ).join(F.broadcast(probed), "_ivf_cell")
    cand = _adc_rank(restricted, luts, m, depth).select("q_id", "vec_id")
    out = exact_rerank(corpus, queries, cand, k=k, id_col=id_col, vec_col=vec_col)
    return _track(out, assigned)


def exact_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine re-rank of an ANN candidate set — the refinement
    stage of a two-stage index (coarse ADC/IVF scan -> top-c candidates
    -> exact top-k). ``candidates`` is (q_id, vec_id) pairs from the
    coarse stage; each is joined back to its RAW vectors and ranked by
    the exact fold-order cosine (round-6, vec_id tie-break — the
    brute_force_topk / v01-oracle convention, so a re-rank at depth c
    over a candidate superset reproduces the brute-force top-k rows
    bitwise).

    100 TB shape: the candidate set is n_queries x c rows — tiny next
    to the corpus at any depth worth running — so it broadcasts into
    the corpus scan (no shuffle of the corpus), the query matrix
    broadcasts likewise, and full-precision vectors are touched ONLY
    for candidate rows: the re-rank costs O(nq * c * d) regardless of
    corpus size, which is exactly why PQ/IVF codes can serve the scan
    stage from RAM while raw vectors stay on cold storage.
    """
    cand = candidates.select("q_id", "vec_id")
    qv = queries.select(
        F.col(id_col).alias("q_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_qv"),
    )
    qv = qv.withColumn("_qn", F.sqrt(dot_expr("_qv", "_qv")))
    cv = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_cv"),
    )
    scored = (
        cv.join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(qv), "q_id")
        .withColumn("_cn", F.sqrt(dot_expr("_cv", "_cv")))
        # zero-norm guard (brute_force_topk parity): cosine is undefined
        # there and a 0/0 NaN would sort FIRST under desc on both
        # engines; the oracles carry the same nrm > 0 predicate
        .filter((F.col("_qn") > 0) & (F.col("_cn") > 0))
        .select(
            "q_id",
            "vec_id",
            F.round(
                dot_expr("_qv", "_cv") / (F.col("_qn") * F.col("_cn")),
                6,
            ).alias("sim"),
        )
    )
    return _rank_topk(scored, k)


def ivf_append_topk(
    base: DataFrame,
    new: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 3,
    ncells: int = 8,
    iters: int = 2,
) -> DataFrame:
    """Incremental-ingest IVF: centroids are trained on the BASE corpus
    only (the persisted index artifact of the original build); NEW
    vectors are assigned to the frozen cells with no retraining, and
    queries probe the union — the index-reuse shape of continuous
    vector ingest (the d09 pattern for embeddings). At 100 TB the base
    assignment and centroid model are precomputed tables; an append
    costs one broadcast nearest-centroid pass over the new batch plus
    the probe-bounded scoring, never a re-cluster of the corpus.

    Deterministic end to end (kmeans_cells' init/tie/fold rules +
    frozen-centroid assignment), so the SQL oracle reproduces every
    ranked double.
    """
    assigned_b, cents = kmeans_cells(base, id_col, vec_col, ncells, iters)
    newv = new.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )
    assigned = assigned_b.select("vec_id", "vec", "cell").unionByName(_assign_cells(newv, cents))
    return _centroid_topk(assigned, cents, queries, id_col, vec_col, k, nprobe)


def filtered_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    filter_col: str = "label",
    k: int = 10,
) -> DataFrame:
    """Metadata-filtered vector search: each query's top-k is computed
    only over corpus vectors sharing its ``filter_col`` value — the
    filtered-ANN surface (language / license / source constraints
    applied at query time), with PRE-filter semantics: the constraint
    restricts the candidate set, it never truncates the top-k.

    The metadata value is the JOIN KEY, so the corpus shuffles (or
    broadcast-probes) on it and only same-group pairs are ever scored —
    at 100 TB the cost is the selected groups' size, not the corpus.
    Deterministic tie-break on id; sims rounded to 6 (the pair-UDF
    convention)."""
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        F.col(filter_col).alias("f"),
    )
    c = corpus.select(
        F.col(filter_col).alias("f"),
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("c_vec"),
    )
    scored = (
        c.join(F.broadcast(q), "f")
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("sim", F.round(pair_cosine_udf("q_vec", "c_vec"), 6))
        .select("q_id", "vec_id", "sim")
    )
    return _track(_rank_topk(scored, k))


def knn_label_vote(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """k-NN majority-vote labeling: each query vector gets the label
    held by the most of its ``k`` exact cosine neighbors — the weak-
    supervision / label-propagation primitive of a training-data
    pipeline (label the unlabeled split from a small labeled seed set).

    Built on :func:`brute_force_topk` (zero-shuffle corpus scan, tiny
    per-query top-k), then one label join on the k x |queries| neighbor
    rows (broadcast-sized by construction) and one vote aggregation.
    Deterministic: neighbors tie-break on (sim DESC, id ASC) inside
    brute_force_topk; votes tie-break on (votes DESC, best_sim DESC,
    label ASC). ``best_sim`` is each label's strongest supporting
    neighbor — returned for thresholding downstream.

    Output: q_id, label, votes, best_sim (rounded 6)."""
    nn = brute_force_topk(corpus, queries, id_col, vec_col, k)
    labels = corpus.select(F.col(id_col).alias("vec_id"), F.col(label_col).alias("label"))
    votes = (
        nn.join(labels, "vec_id")
        .groupBy("q_id", "label")
        .agg(F.count(F.lit(1)).alias("votes"), F.max("sim").alias("best_sim"))
    )
    w = W.partitionBy("q_id").orderBy(
        F.desc("votes"), F.desc("best_sim"), F.asc("label")
    )
    return (
        votes.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("q_id", "label", "votes", F.round("best_sim", 6).alias("best_sim"))
    )


def quantize_int8(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization with exact reconstruction
    -error accounting — the compression pass before shipping an
    embedding corpus to an ANN index (4x smaller than float32, 8x
    smaller than the float64 working type).

    q_i = floor(x_i * 127 / amax + 0.5) (round-half-up in plain IEEE
    arithmetic, so Spark and the SQL oracle compute bit-identical codes
    — no engine-specific round() semantics), dequant = q_i * amax / 127.
    Emits per-vector scale, max abs error and the sum of squared errors
    via the same left-fold sequence as the v-family oracles. Map-only:
    no shuffle, no UDF, no collect — scales as the scan."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = emb.select(F.col(id_col).alias("vec_id"), v.alias("v")).withColumn(
        "amax", F.array_max(F.transform("v", F.abs))
    )
    q = F.transform(
        "v",
        lambda x: F.when(F.col("amax") == 0.0, F.lit(0.0)).otherwise(
            F.floor(x * F.lit(127.0) / F.col("amax") + F.lit(0.5)).cast("double")
        ),
    )
    base = base.withColumn("q", q)
    err = F.zip_with(
        "v", "q", lambda x, qq: F.abs(x - qq * F.col("amax") / F.lit(127.0))
    )
    base = base.withColumn("err", err)
    return base.select(
        "vec_id",
        F.size("v").cast("int").alias("dim"),
        (F.col("amax") / F.lit(127.0)).alias("scale"),
        F.array_max("err").alias("max_err"),
        F.aggregate(
            F.transform("err", lambda e: e * e), F.lit(0.0), lambda a, x: a + x
        ).alias("sse"),
    )


def dequantize_int8(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Quantize-then-reconstruct projection: the corpus an int8 ANN
    index actually searches. Same code path as :func:`quantize_int8`
    (floor(x*127/amax + 0.5), dequant q*amax/127 — plain IEEE
    arithmetic, oracle-bitwise); pair with :func:`ann_recall` to
    measure the recall cost of 4x vector compression before committing
    a 100 TB corpus to it (v14). Map-only projection."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = emb.select(F.col(id_col), v.alias("v")).withColumn(
        "amax", F.array_max(F.transform("v", F.abs))
    )
    dq = F.transform(
        "v",
        lambda x: F.when(F.col("amax") == 0.0, F.lit(0.0)).otherwise(
            F.floor(x * F.lit(127.0) / F.col("amax") + F.lit(0.5)).cast("double")
            * F.col("amax")
            / F.lit(127.0)
        ),
    )
    return base.select(F.col(id_col), dq.alias(vec_col))


def embedding_moments(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Exact integer second-moment sums over an embedding column — the
    single distributed pass behind :func:`pca_whiten`.

    Each component is quantized to ``floor(x*scale + 0.5)`` (floor of a
    double is IEEE-exact, so Spark and DuckDB agree bitwise), then the
    upper-triangular co-moment sums accumulate as plain BIGINTs:
    one row per (i <= j) with ``n``, ``s_i = sum(q_i)``,
    ``s_j = sum(q_j)`` and ``s_ij = sum(q_i * q_j)`` — everything a
    covariance / PCA step needs, with zero float-summation order risk.

    Scale: the double posexplode fans each row out to d(d+1)/2 pair
    rows, but partial (map-side) aggregation collapses them to at most
    d(d+1)/2 rows per task before the single tiny shuffle — the
    classic one-pass Gramian. Overflow bound: |q| <= scale * max|x|,
    so s_ij <= n * (scale*max|x|)^2; at scale=1000 and unit-norm-ish
    embeddings that holds to ~10^12 rows per job (documented, not
    checked row-wise).
    """
    q = F.transform(
        F.col(vec_col), lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast("bigint")
    )
    qd = emb.select(q.alias("q"))
    e1 = qd.select(F.posexplode("q").alias("i", "qi"), F.col("q"))
    e2 = e1.select("i", "qi", F.posexplode("q").alias("j", "qj")).filter(
        F.col("j") >= F.col("i")
    )
    return e2.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qi").alias("s_i"),
        F.sum("qj").alias("s_j"),
        F.sum(F.col("qi") * F.col("qj")).alias("s_ij"),
    )


def pca_whiten(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    scale: int = 1000,
    whiten: bool = True,
    eps: float = 1e-9,
):
    """Distributed PCA / whitening of an embedding column.

    One :func:`embedding_moments` pass produces the exact integer
    Gramian (d(d+1)/2 bounded rows — collected to the driver, which is
    fine for any real embedding width: d=2048 is ~2M tiny rows); the
    driver descales to the double covariance matrix, eigendecomposes
    (numpy ``eigh``), and broadcasts the top-``k`` components back as
    literal vectors. The projection itself is the Arrow-vectorized
    :func:`pair_dot_udf` over the mean-centered vector — map-only, no
    shuffle, so the whole operator is one tiny agg + one codegen map.

    Returns ``(projected_df, model)`` where projected_df carries
    (id_col, components array<double>) and model is a dict with
    ``mean``, ``eigvals`` (descending), ``components`` (row-major,
    k x d, orthonormal). With ``whiten=True`` each output coordinate is
    divided by sqrt(eigval + eps), giving unit variance per component —
    the standard preprocessing before clustering / SemDeDup on a
    100 TB embedding corpus.

    The reference engine has no linear-algebra surface
    (polars_readstat_rs is a statistical-file reader); this extends the
    vector family of SURVEY.md §2.6.
    """
    import numpy as np

    rows = embedding_moments(emb, id_col, vec_col, scale).collect()
    if not rows:
        raise ValueError("pca_whiten: no embedding moments — input is empty or every vector is null")
    d = max(r["j"] for r in rows) + 1
    # every (i, j) cell must have seen every vector: a ragged or
    # null-element vector would silently skew mean/cov, so fail loudly.
    counts = {r["n"] for r in rows}
    if len(counts) != 1:
        raise ValueError(
            "pca_whiten: ragged embeddings — moment cells disagree on the "
            f"vector count ({sorted(counts)[:4]}...); fix the input width "
            "or drop malformed vectors first"
        )
    n = counts.pop()
    s1 = np.zeros(d)
    s2 = np.zeros((d, d))
    for r in rows:
        s2[r["i"], r["j"]] = s2[r["j"], r["i"]] = r["s_ij"]
        if r["i"] == r["j"]:  # diagonal rows carry every s_i exactly once
            s1[r["i"]] = r["s_i"]
    mean = s1 / (n * scale)
    cov = (s2 / scale**2 - np.outer(s1, s1) / (n * scale**2)) / n
    eigvals, eigvecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(eigvals)[::-1][:k]
    eigvals = eigvals[order]
    comps = eigvecs[:, order].T  # k x d
    model = {"mean": mean, "eigvals": eigvals, "components": comps, "n": n}

    centered = F.transform(
        F.col(vec_col),
        lambda x, i: x.cast("double") - F.element_at(F.lit(mean.tolist()), i + 1),
    )
    out = emb.select(F.col(id_col), centered.alias("_c"))
    proj_cols = []
    for ci in range(len(eigvals)):
        row = comps[ci].tolist()
        p = pair_dot_udf("_c", F.array(*[F.lit(float(v)) for v in row]))
        if whiten:
            p = p / float(np.sqrt(eigvals[ci] + eps))
        proj_cols.append(p.alias(f"pc{ci}"))
    projected = out.select(
        id_col, F.array(*[c for c in proj_cols]).alias("components")
    )
    return projected, model

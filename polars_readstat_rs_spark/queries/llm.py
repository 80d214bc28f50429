"""LLM-data-pipeline queries with DuckDB oracles: dedup (exact, n-gram
Jaccard, MinHash+LSH, SimHash), embedding similarity search, text
analysis, multimodal byte plumbing.

The oracle SQL mirrors the Spark operators expression-for-expression
(same hash seeds, same fold order, same df-caps) so the value-hash
comparison is exact. Integer widths are aligned: Spark's size/length/
row_number produce INT, so oracles cast DuckDB's BIGINT equivalents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup, multimodal, similarity, textstats
from ..tables import load_table
from .registry import register

# ---------------------------------------------------------------- shared SQL

_SHINGLE_N = 3


def _sh_ctes(n: int = _SHINGLE_N) -> str:
    """CTEs: df-capped distinct n-gram shingles + sizes + pair intersections
    (mirrors operators.dedup.ngram_jaccard_pairs)."""
    return f"""
    toks AS (SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents),
    sh_all AS (
      SELECT doc_id AS doc,
             unnest(list_distinct(list_transform(range(1, greatest(len(words) - {n - 2}, 1)),
                    i -> array_to_string(words[i:i+{n - 1}], ' ')))) AS sh
      FROM toks),
    rare AS (SELECT sh FROM sh_all GROUP BY sh HAVING count(*) <= {dedup.MAX_SHINGLE_DF}),
    sh AS (SELECT s.doc, s.sh FROM sh_all s JOIN rare USING (sh)),
    sizes AS (SELECT doc, count(*) AS sz FROM sh GROUP BY doc),
    inter AS (
      SELECT a.doc AS a_id, b.doc AS b_id, count(*) AS inter
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc < b.doc
      GROUP BY 1, 2)
    """


_JACCARD_SELECT = """
    SELECT i.a_id, i.b_id, i.inter, (sa.sz + sb.sz - i.inter) AS un,
           CAST(i.inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.inter AS DOUBLE) AS jaccard
    FROM inter i JOIN sizes sa ON i.a_id = sa.doc JOIN sizes sb ON i.b_id = sb.doc
"""

_COS = (
    "list_reduce(list_transform(range(1, len({a}) + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
)


def _cosine_sql(a: str, b: str) -> str:
    dot = _COS.format(a=a, b=b)
    na = _COS.format(a=a, b=a)
    nb = _COS.format(a=b, b=b)
    return f"round({dot} / (sqrt({na}) * sqrt({nb})), 6)"


# ------------------------------------------------------------------- dedup

@register(
    "d01_dedup_exact",
    oracle="""
    SELECT fingerprint, count(*) AS n_docs, min(doc_id) AS keep_id
    FROM (SELECT doc_id, md5(text) AS fingerprint FROM documents)
    GROUP BY fingerprint
    """,
)
def d01_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup_groups(docs, "doc_id", "text")


@register(
    "d02_dedup_ngram_jaccard",
    oracle=f"""
    WITH {_sh_ctes()}
    {_JACCARD_SELECT}
    WHERE CAST(i.inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.inter AS DOUBLE) >= 0.2
    """,
)
def d02_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=_SHINGLE_N, threshold=0.2)


def _minhash_oracle() -> str:
    sig_cols = ", ".join(
        f"min(substring(sha256(sh), {1 + 8 * i}, 8)) AS h{i}" for i in range(dedup.NUM_HASHES)
    )
    band_selects = []
    for b in range(dedup.NUM_BANDS):
        hs = [f"h{b * dedup.ROWS_PER_BAND + r}" for r in range(dedup.ROWS_PER_BAND)]
        key = " || '|' || ".join(hs)
        band_selects.append(f"SELECT doc, {b} AS band_idx, md5({key}) AS band_key FROM sig")
    bands = " UNION ALL ".join(band_selects)
    return f"""
    WITH {_sh_ctes()},
    sig AS (SELECT doc, {sig_cols} FROM (SELECT doc, sh FROM sh) GROUP BY doc),
    bands AS ({bands}),
    cand AS (
      SELECT DISTINCT x.doc AS a_id, y.doc AS b_id
      FROM bands x JOIN bands y
        ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.doc < y.doc)
    SELECT i.a_id, i.b_id, i.inter, (sa.sz + sb.sz - i.inter) AS un,
           CAST(i.inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.inter AS DOUBLE) AS jaccard
    FROM inter i
    JOIN cand c ON i.a_id = c.a_id AND i.b_id = c.b_id
    JOIN sizes sa ON i.a_id = sa.doc JOIN sizes sb ON i.b_id = sb.doc
    """


@register("d03_dedup_minhash_lsh", oracle=_minhash_oracle())
def d03_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(docs, "doc_id", "text", n=_SHINGLE_N)


def _simhash_ctes() -> str:
    """64-bit simhash as 4x16-bit band ints + hex string (mirrors
    operators.dedup.simhash bit-for-bit)."""
    sums = []
    for j in range(dedup.SIMHASH_BITS):
        k, b = j // 4 + 1, j % 4
        v = f"(strpos('0123456789abcdef', substr(md5(tok), {k}, 1)) - 1)"
        sums.append(f"sum(2 * (({v} // {1 << b}) % 2) - 1) AS s{j}")
    band_exprs = []
    for k in range(dedup.SIMHASH_BANDS):
        terms = " + ".join(
            f"(CASE WHEN s{k * dedup.SIMHASH_BAND_BITS + r} > 0 THEN {1 << r} ELSE 0 END)"
            for r in range(dedup.SIMHASH_BAND_BITS)
        )
        band_exprs.append(f"CAST({terms} AS INT) AS b{k}")
    hex_expr = " || ".join(
        f"lpad(lower(to_hex(b{k})), 4, '0')" for k in reversed(range(dedup.SIMHASH_BANDS))
    )
    return f"""
    toks AS (SELECT doc_id AS doc, unnest(list_distinct(string_split(lower(text), ' '))) AS tok
             FROM documents),
    sums AS (SELECT doc, {', '.join(sums)} FROM toks GROUP BY doc),
    banded AS (SELECT doc, {', '.join(band_exprs)} FROM sums),
    fp AS (SELECT doc, b0, b1, b2, b3, {hex_expr} AS simhash FROM banded)
    """


@register(
    "d04_simhash",
    oracle=f"WITH {_simhash_ctes()} SELECT doc, b0, b1, b2, b3, simhash FROM fp",
)
def d04_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash(docs, "doc_id", "text")


@register(
    "d05_simhash_pairs",
    oracle=f"""
    WITH {_simhash_ctes()},
    bands AS (
      SELECT doc, 0 AS band_idx, b0 AS band_val FROM fp
      UNION ALL SELECT doc, 1, b1 FROM fp
      UNION ALL SELECT doc, 2, b2 FROM fp
      UNION ALL SELECT doc, 3, b3 FROM fp),
    cand AS (
      SELECT DISTINCT x.doc AS a_id, y.doc AS b_id
      FROM bands x JOIN bands y
        ON x.band_idx = y.band_idx AND x.band_val = y.band_val AND x.doc < y.doc)
    SELECT * FROM (
      SELECT c.a_id, c.b_id, fa.simhash AS sh_a, fb.simhash AS sh_b,
             CAST(bit_count(xor(fa.b0, fb.b0)) + bit_count(xor(fa.b1, fb.b1))
                + bit_count(xor(fa.b2, fb.b2)) + bit_count(xor(fa.b3, fb.b3)) AS INT) AS hamming
      FROM cand c JOIN fp fa ON c.a_id = fa.doc JOIN fp fb ON c.b_id = fb.doc
    ) WHERE hamming <= 3
    """,
)
def d05_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate runs UNCAPPED (max_bucket=None): the oracle enumerates every
    band-bucket pair, while the operator's production default truncates
    hot buckets at MAX_BAND_BUCKET — a documented lossy skew guard whose
    capped output is pinned by the adversarial unit/scale fixtures, not
    by this SQL-equivalence gate (r3 verdict #3's contract)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=3, max_bucket=None)


# -------------------------------------------------------------- similarity

@register(
    "v01_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.q_id, e.vec_id, {_cosine_sql('q.q_vec', 'e.embedding')} AS sim
      FROM embeddings e JOIN q ON e.vec_id <> q.q_id)
    SELECT q_id, vec_id, sim, rank FROM (
      SELECT q_id, vec_id, sim,
             CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def v01_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.brute_force_topk(emb, queries, k=10)


@register(
    "v02_embedding_neardup",
    oracle=f"""
    SELECT blk, a_id, b_id, sim FROM (
      SELECT a.label AS blk, a.vec_id AS a_id, b.vec_id AS b_id,
             {_cosine_sql('a.embedding', 'b.embedding')} AS sim
      FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    ) WHERE sim >= 0.4
    """,
)
def v02_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.blocked_neardup_pairs(emb, threshold=0.4)



# --------------------------------------- PII + repetition (t05, t06)

_PII_SUFFIX = " contact bob@example.com or 555-123-4567 at 10.0.0.1"


@register(
    "t05_pii_redaction",
    # raw f-string: the regex `\.`/`\+` are meant literally (unrecognized
    # escapes — identical string value, but non-raw emitted a
    # DeprecationWarning per occurrence on every import)
    oracle=rf"""
    WITH seeded AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 7 = 0 THEN '{_PII_SUFFIX}' ELSE '' END AS t
      FROM documents),
    s1 AS (
      SELECT doc_id,
             len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}')) AS n_email,
             regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}', '<EMAIL>', 'g') AS t
      FROM seeded),
    s2 AS (
      SELECT doc_id, n_email,
             len(regexp_extract_all(t, '\+?[0-9]{{3}}[- .][0-9]{{3}}[- .][0-9]{{4}}')) AS n_phone,
             regexp_replace(t, '\+?[0-9]{{3}}[- .][0-9]{{3}}[- .][0-9]{{4}}', '<PHONE>', 'g') AS t
      FROM s1),
    s3 AS (
      SELECT doc_id, n_email, n_phone,
             len(regexp_extract_all(t, '[0-9]{{1,3}}\.[0-9]{{1,3}}\.[0-9]{{1,3}}\.[0-9]{{1,3}}')) AS n_ipv4,
             regexp_replace(t, '[0-9]{{1,3}}\.[0-9]{{1,3}}\.[0-9]{{1,3}}\.[0-9]{{1,3}}', '<IPV4>', 'g') AS t
      FROM s2)
    SELECT doc_id, t AS redacted,
           CAST(n_email AS BIGINT) AS n_email, CAST(n_phone AS BIGINT) AS n_phone,
           CAST(n_ipv4 AS BIGINT) AS n_ipv4,
           CAST(n_email + n_phone + n_ipv4 AS BIGINT) AS n_pii
    FROM s3
    """,
)
def t05_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (emails/phones/IPv4 -> typed placeholders + counts).
    The synthetic corpus carries no PII, so the gate deterministically
    appends a PII suffix to every 7th document IN BOTH ENGINES before
    redacting — the operator then has real matches to remove."""
    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(_PII_SUFFIX)).otherwise(F.lit("")),
        ).alias("text"),
    )
    return textstats.redact_pii(seeded)


@register(
    "t06_repetition",
    oracle="""
    WITH grams AS (
      SELECT doc_id,
             CASE WHEN len(string_split(lower(text), ' ')) >= 3 THEN
               list_transform(range(1, len(string_split(lower(text), ' ')) - 1),
                              i -> array_to_string(string_split(lower(text), ' ')[i:i+2], ' '))
             ELSE [] END AS g
      FROM documents)
    SELECT doc_id,
           CAST(len(g) AS BIGINT) AS n_grams,
           CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct,
           CASE WHEN len(g) > 0
                THEN 1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / CAST(len(g) AS DOUBLE)
                ELSE 0.0 END AS dup_frac,
           (CASE WHEN len(g) > 0
                THEN 1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / CAST(len(g) AS DOUBLE)
                ELSE 0.0 END) > 0.2 AS flagged
    FROM grams
    """,
)
def t06_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-3-gram fraction (Gopher-style repetition filter): a
    shuffle-free per-row map stage."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.repetition_stats(docs, n=3, max_dup_frac=0.2)


# ------------------------------------------- dedup components (d06)


@register(
    "d06_dedup_components",
    oracle=f"""
    WITH {_sh_ctes()},
    pairs AS (
      SELECT a_id, b_id FROM ({_JACCARD_SELECT}) WHERE jaccard >= 0.2),
    edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION SELECT b_id, a_id FROM pairs),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach AS (
      WITH RECURSIVE r(node, comp) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.dst, r.comp FROM r JOIN edges e ON e.src = r.node
      ) SELECT node, comp FROM r)
    SELECT node, min(comp) AS comp FROM reach GROUP BY node
    """,
)
def d06_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> dedup groups: distributed min-label propagation
    assigns every paired document the smallest reachable doc id; keeping
    rows where node == comp leaves one representative per duplicate
    cluster. The oracle walks the same graph with recursive SQL."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=_SHINGLE_N, threshold=0.2)
    return dedup.neardup_components(pairs)


# ------------------------------------------------ SRP-LSH near-dup (v05)

_SRP_DIM, _SRP_NBITS, _SRP_NBANDS, _SRP_SEED = 64, 32, 4, "srp"
_SRP_THRESHOLD = 0.3


def _srp_band_sql(k: int) -> str:
    """One 8-bit band integer: bit r set when the left-fold dot of the
    embedding with deterministic hyperplane b = 8k+r is >= 0. The
    hyperplane component for (b, j) is md5('srp:b:j') first 32 bits
    mapped to [-1, 1) — recomputed here so the oracle shares every
    double with operators.similarity._srp_plane."""
    bits = _SRP_NBITS // _SRP_NBANDS
    terms = []
    for r in range(bits):
        b = k * bits + r
        h = (
            f"(('0x' || substr(md5('{_SRP_SEED}:{b}:' || CAST(j - 1 AS VARCHAR)), 1, 8))::BIGINT"
            f" / 2147483648.0 - 1.0)"
        )
        dot = (
            f"list_reduce(list_transform(range(1, {_SRP_DIM} + 1), "
            f"j -> CAST(embedding[j] AS DOUBLE) * {h}), (x, y) -> x + y)"
        )
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << r} ELSE 0 END)")
    return " + ".join(terms)


@register(
    "v05_srp_neardup",
    oracle=f"""
    WITH sig AS (
      SELECT vec_id, embedding,
             {", ".join(f"CAST({_srp_band_sql(k)} AS INT) AS b{k}" for k in range(_SRP_NBANDS))}
      FROM embeddings),
    bands AS (
      {" UNION ALL ".join(f"SELECT vec_id, {k} AS band_idx, b{k} AS band_val FROM sig" for k in range(_SRP_NBANDS))}),
    cand AS (
      SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
      FROM bands x JOIN bands y
        ON x.band_idx = y.band_idx AND x.band_val = y.band_val AND x.vec_id < y.vec_id)
    SELECT c.a_id, c.b_id, {_cosine_sql('a.embedding', 'b.embedding')} AS sim
    FROM cand c JOIN embeddings a ON c.a_id = a.vec_id JOIN embeddings b ON c.b_id = b.vec_id
    WHERE {_cosine_sql('a.embedding', 'b.embedding')} >= {_SRP_THRESHOLD}
    """,
)
def v05_srp_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed-random-projection LSH near-dup: band buckets subdivide as
    the corpus grows (the scale-correct alternative to v02's fixed-cell
    blocking, whose per-cell cost is quadratic — tools/scale_smoke.py
    measures both)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.srp_neardup_pairs(
        emb, threshold=_SRP_THRESHOLD, dim=_SRP_DIM,
        nbits=_SRP_NBITS, nbands=_SRP_NBANDS, seed=_SRP_SEED,
    )


def _cosine_sql_raw(a: str, b: str) -> str:
    dot = _COS.format(a=a, b=b)
    na = _COS.format(a=a, b=a)
    nb = _COS.format(a=b, b=b)
    return f"{dot} / (sqrt({na}) * sqrt({nb}))"


@register(
    "v03_ivf_topk",
    oracle=f"""
    WITH pivots AS (
      SELECT label AS cell, embedding AS pivot FROM (
        SELECT label, embedding, vec_id,
               row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
        FROM embeddings) WHERE rn = 1),
    q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5),
    probed AS (
      SELECT q_id, q_vec, cell FROM (
        SELECT q.q_id, q.q_vec, p.cell,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY {_cosine_sql_raw('q.q_vec', 'p.pivot')} DESC, p.cell) AS prank
        FROM q CROSS JOIN pivots p) WHERE prank <= 3),
    scored AS (
      SELECT pr.q_id, e.vec_id, {_cosine_sql('pr.q_vec', 'e.embedding')} AS sim
      FROM embeddings e JOIN probed pr ON e.label = pr.cell AND e.vec_id <> pr.q_id)
    SELECT q_id, vec_id, sim, rank FROM (
      SELECT q_id, vec_id, sim,
             CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank
      FROM scored) WHERE rank <= 10
    """,
)
def v03_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.ivf_topk(emb, queries, k=10, nprobe=3)


# -------------------------------------------------- k-means IVF (v04)
#
# The oracle unrolls two deterministic Lloyd iterations: init = 8
# lowest-id vectors, assignment ties break on lowest cell, centroid
# dimensions are left-to-right folds over members ordered by vec_id —
# the same fold order the Spark operator uses, so centroids (and thus
# the probed cells and final ranking) are bitwise-identical doubles.

_SQD = (
    "list_reduce(list_transform(range(1, len({a}) + 1), "
    "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
)
_DOTD = (
    "list_reduce(list_transform(range(1, len({a}) + 1), "
    "i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
)


def _km_assign(cent_cte: str) -> str:
    sqd = _SQD.format(a="v.vec", b="c.centroid")
    return f"""SELECT vec_id, vec, cell FROM (
      SELECT v.vec_id, v.vec, c.cell,
             row_number() OVER (PARTITION BY v.vec_id ORDER BY {sqd} ASC, c.cell ASC) AS rn
      FROM v CROSS JOIN {cent_cte} c) WHERE rn = 1"""


def _km_update(assign_cte: str) -> str:
    return f"""SELECT cell, list_transform(range(1, len(mem[1]) + 1),
        i -> list_reduce(list_transform(mem, m -> m[i]), (x, y) -> x + y) / n) AS centroid
      FROM (SELECT cell, list(vec ORDER BY vec_id) AS mem, CAST(count(*) AS DOUBLE) AS n
            FROM {assign_cte} GROUP BY cell)"""


def _km_chain(ncells: int = 8) -> str:
    """The deterministic two-Lloyd-iteration k-means CTE prelude
    (v/c0/a1/c1/a2/c2/af) every kmeans_cells-verifying oracle shares —
    one definition so the clustering contract (init = lowest-id
    vectors, lowest-cell tie break, vec_id fold order) cannot drift
    between the v04/d08/v23 gates. Interpolate after WITH; downstream
    CTEs read ``af`` (final assignment) and ``c2`` (final centroids)."""
    return f"""v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, vec AS centroid
      FROM (SELECT * FROM v ORDER BY vec_id LIMIT {ncells})),
    a1 AS ({_km_assign('c0')}),
    c1 AS ({_km_update('a1')}),
    a2 AS ({_km_assign('c1')}),
    c2 AS ({_km_update('a2')}),
    af AS ({_km_assign('c2')})"""


@register(
    "v04_kmeans_ivf_topk",
    oracle=f"""
    WITH {_km_chain(8)},
    q AS (
      SELECT vec_id AS q_id, vec AS q_vec, sqrt({_DOTD.format(a='vec', b='vec')}) AS q_norm
      FROM v WHERE vec_id < 5),
    probed AS (
      SELECT q_id, q_vec, q_norm, cell FROM (
        SELECT q.q_id, q.q_vec, q.q_norm, c.cell,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY {_SQD.format(a='q.q_vec', b='c.centroid')} ASC, c.cell ASC) AS prank
        FROM q CROSS JOIN c2 c) WHERE prank <= 2),
    scored AS (
      SELECT p.q_id, a.vec_id,
             round({_DOTD.format(a='p.q_vec', b='a.vec')}
                   / (p.q_norm * sqrt({_DOTD.format(a='a.vec', b='a.vec')})), 6) AS sim
      FROM af a JOIN probed p ON a.cell = p.cell AND a.vec_id <> p.q_id)
    SELECT q_id, vec_id, sim, rank FROM (
      SELECT q_id, vec_id, sim,
             CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank
      FROM scored) WHERE rank <= 10
    """,
)
def v04_kmeans_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.kmeans_ivf_topk(emb, queries, k=10, nprobe=2, ncells=8, iters=2)


@register(
    "m02_frame_sample",
    oracle="""
    WITH f AS (
      SELECT doc_id, text,
             unnest(range(0, least(CAST(ceil(length(text) / 64.0) AS BIGINT), 16), 2)) AS i
      FROM documents)
    SELECT doc_id, CAST(i AS INT) AS frame_idx,
           substring(text, CAST(i * 64 + 1 AS INT), 64) AS frame,
           CAST(length(substring(text, CAST(i * 64 + 1 AS INT), 64)) AS INT) AS frame_len
    FROM f
    """,
)
def m02_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every 2nd 64-char frame (max 16 frames/doc) sampled worker-side
    through the multimodal payload column — the 1:N mapInPandas shape a
    video frame-sampler uses; the oracle reproduces the deterministic
    chunking with substring arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    payloads = multimodal.attach_payload(docs, modality="video")
    return multimodal.sample_frames(payloads, frame_chars=64, stride=2, max_frames=16)


# ------------------------------------------------------------ text analysis

def _marker_sql(lang: str) -> str:
    toks = ", ".join(f"'{t}'" for t in textstats.LANG_MARKERS[lang])
    return (
        f"CAST(len(list_filter(string_split(lower(text), ' '), w -> w IN ({toks}))) AS INT)"
        f" AS s_{lang}"
    )


@register(
    "t01_langid",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, {', '.join(_marker_sql(lg) for lg in textstats.LANG_MARKERS)}
      FROM documents)
    SELECT doc_id, lang, s_en, s_es, s_de, s_zh,
      CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_zh THEN 'en'
           WHEN s_es >= s_de AND s_es >= s_zh THEN 'es'
           WHEN s_de >= s_zh THEN 'de'
           ELSE 'zh' END AS pred_lang,
      (CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_zh THEN 'en'
            WHEN s_es >= s_de AND s_es >= s_zh THEN 'es'
            WHEN s_de >= s_zh THEN 'de'
            ELSE 'zh' END) = lang AS is_correct
    FROM scored
    """,
)
def t01_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.langid(load_table(spark, sf_dir, "documents"))


_STOP_SQL = ", ".join(f"'{t}'" for t in textstats.STOPWORDS)


@register(
    "t02_quality_score",
    oracle=f"""
    WITH w AS (SELECT doc_id, text, string_split(lower(text), ' ') AS words FROM documents)
    SELECT doc_id,
      CAST(length(text) AS INT) AS n_chars_calc,
      CAST(len(words) AS INT) AS n_tokens,
      CAST(len(list_distinct(words)) AS DOUBLE) / CAST(len(words) AS DOUBLE) AS distinct_ratio,
      CAST(len(list_filter(words, x -> x IN ({_STOP_SQL}))) AS DOUBLE) / CAST(len(words) AS DOUBLE) AS stop_ratio,
      CAST(length(text) - (len(words) - 1) AS DOUBLE) / CAST(len(words) AS DOUBLE) AS avg_word_len,
      0.5 * (CAST(len(list_distinct(words)) AS DOUBLE) / CAST(len(words) AS DOUBLE))
      + 0.3 * (CAST(len(list_filter(words, x -> x IN ({_STOP_SQL}))) AS DOUBLE) / CAST(len(words) AS DOUBLE))
      + 0.2 * least(1.0, CAST(len(words) AS DOUBLE) / 200.0) AS quality
    FROM w
    """,
)
def t02_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.quality_score(load_table(spark, sf_dir, "documents"))


@register(
    "t03_token_stats",
    oracle="""
    SELECT tok, count(*) AS n_total, count(DISTINCT doc_id) AS n_docs,
           CAST(min(length(tok)) AS INT) AS tok_len
    FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents)
    GROUP BY tok
    """,
)
def t03_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.token_stats(load_table(spark, sf_dir, "documents"))


@register(
    "t04_fingerprints",
    oracle="""
    WITH w AS (SELECT doc_id, text, string_split(lower(text), ' ') AS words FROM documents)
    SELECT doc_id,
      md5(lower(trim(text))) AS fp_full,
      md5(array_to_string(words[1:8], ' ')) AS fp_prefix8,
      list_min(list_transform(
        list_distinct(list_transform(range(1, greatest(len(words) - 3, 1)),
                      i -> array_to_string(words[i:i+4], ' '))),
        s -> md5(s))) AS fp_winnow5
    FROM w
    """,
)
def t04_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.fingerprints(load_table(spark, sf_dir, "documents"))


# -------------------------------------------------------------- multimodal

@register(
    "m01_multimodal_bytes",
    oracle="""
    SELECT doc_id, 'image' AS modality,
      CAST(octet_length(encode(text)) AS INT) AS n_bytes,
      md5(text) AS checksum,
      hex(encode(substr(text, 1, 8))) AS head_hex
    FROM documents
    """,
)
def m01_multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.payload_stats(multimodal.attach_payload(docs))


@register(
    "m03_wav_codec",
    oracle="""
    WITH s AS (
      SELECT doc_id, unnest(range(0, 64 + doc_id % 32)) AS i FROM documents),
    v AS (SELECT doc_id, (doc_id * 31 + i * 7) % 256 AS val FROM s)
    SELECT doc_id, 'wav' AS kind, CAST(8000 AS INT) AS dim_a, CAST(1 AS INT) AS dim_b,
           CAST(count(*) AS BIGINT) AS n_vals,
           CAST(sum(val) AS BIGINT) AS sum_vals,
           CAST(sum(val * val) AS BIGINT) AS sumsq_vals
    FROM v GROUP BY doc_id
    """,
)
def m03_wav_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio codec gate: per-doc WAV payloads (headers, chunks,
    8-bit PCM) are synthesized executor-side from closed-form sample
    values, then decoded by the pure-numpy RIFF parser
    (operators/multimodal.py:decode_wav) — the oracle recomputes the
    decoded-sample statistics from the closed form, so a hash match
    proves the container roundtrip, not just the plumbing."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.decode_media_features(
        multimodal.synth_media_payloads(docs, kind="wav")
    )


@register(
    "m04_bmp_codec",
    oracle="""
    WITH s AS (SELECT doc_id, unnest(range(0, 144)) AS p FROM documents),
    v AS (
      SELECT doc_id,
             (doc_id + 3 * ((p // 3) % 8) + 5 * ((p // 3) // 8) + 11 * (p % 3)) % 256 AS val
      FROM s)
    SELECT doc_id, 'bmp' AS kind, CAST(8 AS INT) AS dim_a, CAST(6 AS INT) AS dim_b,
           CAST(count(*) AS BIGINT) AS n_vals,
           CAST(sum(val) AS BIGINT) AS sum_vals,
           CAST(sum(val * val) AS BIGINT) AS sumsq_vals
    FROM v GROUP BY doc_id
    """,
)
def m04_bmp_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image codec gate: 8x6 24-bit BMPs (padded bottom-up BGR
    rows) synthesized executor-side, decoded by the pure-numpy BMP
    parser (operators/multimodal.py:decode_bmp); the oracle recomputes
    pixel statistics from the closed form (p enumerates (y, x, c))."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.decode_media_features(
        multimodal.synth_media_payloads(docs, kind="bmp")
    )


@register(
    "m06_png_codec",
    oracle="""
    WITH s AS (SELECT doc_id, unnest(range(0, 144)) AS p FROM documents),
    v AS (
      SELECT doc_id,
             (doc_id + 3 * ((p // 3) % 8) + 5 * ((p // 3) // 8) + 11 * (p % 3)) % 256 AS val
      FROM s)
    SELECT doc_id, 'png' AS kind, CAST(8 AS INT) AS dim_a, CAST(6 AS INT) AS dim_b,
           CAST(count(*) AS BIGINT) AS n_vals,
           CAST(sum(val) AS BIGINT) AS sum_vals,
           CAST(sum(val * val) AS BIGINT) AS sumsq_vals
    FROM v GROUP BY doc_id
    """,
)
def m06_png_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG codec gate: 8x6 RGB PNGs (chunked, CRC'd, zlib-deflated,
    per-row filters cycling None/Sub/Up/Average/Paeth) synthesized
    executor-side, decoded by the pure numpy+zlib PNG parser
    (operators/multimodal.py:decode_png — CRC verification + full
    defilter); the oracle recomputes pixel statistics from the same
    closed form as m04, so a hash match proves the filter/inflate
    roundtrip, not just the plumbing."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.decode_media_features(
        multimodal.synth_media_payloads(docs, kind="png")
    )


@register(
    "m07_audio_frames",
    oracle="""
    WITH f AS (
      SELECT doc_id, unnest(range(0, (64 + doc_id % 32 - 16) // 8 + 1)) AS frame_idx
      FROM documents),
    j AS (SELECT doc_id, frame_idx, unnest(range(0, 16)) AS j FROM f),
    v AS (SELECT doc_id, frame_idx, j,
            (doc_id * 31 + (frame_idx * 8 + j) * 7) % 256 AS s,
            CASE WHEN j > 0
                 THEN (doc_id * 31 + (frame_idx * 8 + j - 1) * 7) % 256 END AS prev
          FROM j)
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx, CAST(16 AS INT) AS n_samples,
      CAST(sum(s * s) AS BIGINT) AS energy,
      CAST(sum(CASE WHEN prev IS NOT NULL AND ((s >= 128) != (prev >= 128))
               THEN 1 ELSE 0 END) AS INT) AS zero_crossings
    FROM v GROUP BY doc_id, frame_idx
    """,
)
def m07_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio FRAMING gate: WAV payloads decoded by the real RIFF parser,
    then strided 16-sample windows at hop 8 (numpy sliding_window_view)
    emit exact integer energy + midpoint zero-crossing counts per frame
    — the pre-model featurization pass of an audio pipeline. The oracle
    recomputes every frame's features from the closed-form sample
    values, so a hash match proves the decode AND the window framing."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.audio_frame_features(
        multimodal.synth_media_payloads(docs, kind="wav"), frame=16, hop=8
    )


@register(
    "m08_image_resize",
    oracle="""
    WITH s AS (SELECT doc_id, unnest(range(0, 60)) AS p FROM documents),
    v AS (
      SELECT doc_id,
             (doc_id + 3 * ((((p // 3) % 5) * 8) // 5)
                     + 5 * ((((p // 3) // 5) * 6) // 4)
                     + 11 * (p % 3)) % 256 AS val
      FROM s)
    SELECT doc_id, 'bmp' AS kind, CAST(5 AS INT) AS dim_a, CAST(4 AS INT) AS dim_b,
           CAST(count(*) AS BIGINT) AS n_vals,
           CAST(sum(val) AS BIGINT) AS sum_vals,
           CAST(sum(val * val) AS BIGINT) AS sumsq_vals
    FROM v GROUP BY doc_id
    """,
)
def m08_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image-resize gate (operators/multimodal.py:resize_images):
    8x6 BMPs synthesized executor-side, decoded, nearest-neighbor
    resampled to 5x4 with the integer floor map src=(dst*src_dim)//out
    (non-divisible dims so the index math is exercised), RE-ENCODED as
    BMP and decoded again for the statistics — the oracle recomputes
    every resized pixel from the synthesis closed form, so a hash match
    proves decode -> resample -> encode -> decode end-to-end."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.resize_images(
        multimodal.synth_media_payloads(docs, kind="bmp"), out_w=5, out_h=4
    )


def _minhash_estimate_oracle() -> str:
    sig_cols = ", ".join(
        f"min(substring(sha256(sh), {1 + 8 * i}, 8)) AS h{i}" for i in range(dedup.NUM_HASHES)
    )
    band_selects = []
    for b in range(dedup.NUM_BANDS):
        hs = [f"h{b * dedup.ROWS_PER_BAND + r}" for r in range(dedup.ROWS_PER_BAND)]
        key = " || '|' || ".join(hs)
        band_selects.append(f"SELECT doc, {b} AS band_idx, md5({key}) AS band_key FROM sig")
    bands = " UNION ALL ".join(band_selects)
    agree = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(dedup.NUM_HASHES)
    )
    return f"""
    WITH {_sh_ctes()},
    sig AS (SELECT doc, {sig_cols} FROM (SELECT doc, sh FROM sh) GROUP BY doc),
    bands AS ({bands}),
    cand AS (
      SELECT DISTINCT x.doc AS a_id, y.doc AS b_id
      FROM bands x JOIN bands y
        ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.doc < y.doc)
    SELECT c.a_id, c.b_id, CAST({agree} AS INT) AS n_agree,
           CAST(({agree}) AS DOUBLE) / {dedup.NUM_HASHES}.0 AS est_jaccard
    FROM cand c
    JOIN sig sa ON c.a_id = sa.doc
    JOIN sig sb ON c.b_id = sb.doc
    """


@register("d13_minhash_estimate", oracle=_minhash_estimate_oracle())
def d13_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-estimated Jaccard screening (operators/dedup.py:
    minhash_estimate_pairs): banded candidates scored by the fraction
    of agreeing minhash chunks — the shingle text is never revisited,
    which is the screening pass a 100 TB dedup runs against its
    persisted signature artifact before exact verification."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_estimate_pairs(docs, "doc_id", "text", n=_SHINGLE_N)


def _bpe_ctes(n_merges: int = 4) -> tuple[str, list[str]]:
    """(WITH-clause text words0..wordsN/bestK, final per-merge SELECTs)."""
    stages = []
    finals = []
    for k in range(1, n_merges + 1):
        prev = f"words{k - 1}"
        stages.append(f"""
    toks{k} AS (
      SELECT regexp_extract_all(s, '>([^<>]+)<', 1) AS t, cnt FROM {prev}),
    pairs{k} AS (
      SELECT cnt,
             unnest(list_transform(range(1, greatest(len(t), 1)),
                    i -> struct_pack(a := t[i], b := t[i + 1]))) AS p
      FROM toks{k}),
    best{k} AS (
      SELECT p.a AS a, p.b AS b, sum(cnt) AS n
      FROM pairs{k} GROUP BY 1, 2
      ORDER BY n DESC, a ASC, b ASC LIMIT 1),
    words{k} AS (
      SELECT replace(s, '>' || ba.a || '<>' || ba.b || '<',
                     '>' || ba.a || ba.b || '<') AS s, cnt
      FROM {prev}, best{k} ba)""")
        finals.append(
            f"SELECT CAST({k} AS INT) AS rank, a AS \"left\", b AS \"right\", "
            f"a || b AS merged, CAST(n AS BIGINT) AS pair_count FROM best{k}"
        )
    ctes = f"""
    WITH words0 AS (
      SELECT '>' || array_to_string(regexp_extract_all(w, '.'), '<>') || '<' AS s, cnt
      FROM (
        SELECT w, count(*) AS cnt FROM (
          SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
        WHERE w <> '' AND NOT regexp_matches(w, '[<>]')
        GROUP BY w)),{",".join(stages)}"""
    return ctes, finals


def _bpe_train_oracle(n_merges: int = 4) -> str:
    ctes, finals = _bpe_ctes(n_merges)
    return ctes + "\n    " + " UNION ALL ".join(finals)


@register("t16_bpe_train", oracle=_bpe_train_oracle())
def t16_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE vocabulary TRAINING (operators/textstats.py:
    bpe_train): 4 merges learned over the distinct-word frequency table
    — pair-count aggregation, deterministic argmax, sentinel-encoded
    greedy merge via literal replace — hash-compared against DuckDB
    running the same 4 iterations UNROLLED as CTE stages, so every
    intermediate merge decision must agree exactly."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.bpe_train(docs, n_merges=4)


def _bpe_encode_oracle(n_merges: int = 4) -> str:
    # reuse the trainer's unrolled stages to re-derive best1..bestN,
    # then apply them per (doc, word) and aggregate per doc
    ctes, _finals = _bpe_ctes(n_merges)
    enc = "d.s"
    for k in range(1, n_merges + 1):
        enc = f"replace({enc}, '>' || b{k}.a || '<>' || b{k}.b || '<', '>' || b{k}.a || b{k}.b || '<')"
    joins = " ".join(f"CROSS JOIN best{k} b{k}" for k in range(1, n_merges + 1))
    return f"""{ctes.rstrip()},
    docwords AS (
      SELECT doc_id,
             '>' || array_to_string(regexp_extract_all(w, '.'), '<>') || '<' AS s
      FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents)
      WHERE w <> '' AND NOT regexp_matches(w, '[<>]')),
    encoded AS (
      SELECT d.doc_id,
             len(regexp_extract_all(d.s, '>([^<>]+)<', 1)) AS nc,
             len(regexp_extract_all({enc}, '>([^<>]+)<', 1)) AS nt
      FROM docwords d {joins})
    SELECT doc_id, count(*) AS n_words,
           CAST(sum(nt) AS BIGINT) AS n_tokens,
           CAST(sum(nc) AS BIGINT) AS n_chars
    FROM encoded GROUP BY doc_id
    """


@register("t17_bpe_encode", oracle=_bpe_encode_oracle())
def t17_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE with the trained vocabulary (operators/textstats.py:
    bpe_encode): the 4 merges learned by t16 are collected as the
    bounded model and applied per word in rank order; per-doc token
    counts are hash-compared against DuckDB re-deriving the SAME merges
    (unrolled trainer CTEs) and applying them identically — train and
    encode must agree end to end."""
    docs = load_table(spark, sf_dir, "documents")
    merges = [
        (r.left, r.right) for r in textstats.bpe_train(docs, n_merges=4).collect()
    ]
    return textstats.bpe_encode(docs, merges)

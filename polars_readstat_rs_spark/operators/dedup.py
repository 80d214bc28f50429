"""Deduplication operators for large-scale training-data pipelines.

Four families, all shuffle-aware and driver-materialization-free:

- exact: hash fingerprint -> groupBy (one shuffle on the 128-bit key).
- n-gram Jaccard: inverted index on shingles with a document-frequency
  cap (the cap bounds the worst-case pair blowup: a shingle appearing in
  d docs creates d^2/2 candidate rows, so hot shingles are dropped —
  standard skew guard at 100 TB).
- MinHash + LSH: 8 min-hashes over shingles (8x32-bit chunks of one
  sha256), banded 4x2; candidate pairs only where a full band collides,
  then exact Jaccard verification on the candidates. Min-hashes are
  lexicographic minima of seeded hash hex strings — a total order both
  Spark and DuckDB agree on, so the oracle can reproduce signatures
  exactly.
- SimHash: 64-bit sign-of-weighted-sum fingerprint per document, kept
  as four 16-bit band integers (+ a 16-hex-char string for display) so
  no signed-64-bit overflow exists in either engine. Candidates come
  from 4x16-bit band equality — 65,536 buckets per band that keep
  subdividing as the corpus grows (a 16-bit fingerprint's 256-bucket
  byte bands would degenerate to ~N^2/256 candidate pairs at scale).

At 100 TB the candidate joins shuffle on (band_idx, band_key) /
shingle — uniform hash-derived keys, so no salting needed; the df-cap
removes the stop-shingle skew source. Band keys are NOT uniform on real
corpora (millions of near-identical boilerplate pages share one band
key, turning an uncapped bucket into a single O(n^2) join task), so the
band self-joins take a ``max_bucket`` cap keeping the lowest-N doc ids
per (band, key) — deterministic, documented truncation, same discipline
as similarity.max_block; each doc carries 4 band keys, so a doc
truncated from one saturated bucket usually still pairs through its
other bands. Defaults: simhash caps at ``MAX_BAND_BUCKET`` (its bands
are computed from raw tokens — nothing else bounds a boilerplate
flood); minhash defaults to uncapped because its bucket populations are
structurally bounded by the shingle df-cap (see minhash_lsh_pairs).

Persisted intermediates (the shingle inverted index, candidate sets,
fingerprints) are recorded on the returned DataFrame as
``_readstat_cached`` — call :func:`release_cached` after consuming the
result to free executor storage in long pipelines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ._lifecycle import release_cached, track as _track  # noqa: F401  (shared lifecycle)
from .text import shingles_expr

NUM_HASHES = 8  # 8 x 32-bit chunks carved from ONE sha256 per shingle
NUM_BANDS = 4
ROWS_PER_BAND = NUM_HASHES // NUM_BANDS
MAX_SHINGLE_DF = 100  # skew guard: drop shingles appearing in > this many docs
MAX_BAND_BUCKET = 10_000  # skew guard: per-(band, key) population cap in LSH joins
SIMHASH_BITS = 64
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS


def _cap_buckets(
    bands_long: DataFrame, key_cols: list[str], doc_col: str, max_bucket: int | None
) -> DataFrame:
    """Hot-bucket skew guard for LSH band joins: keep only the
    ``max_bucket`` lowest ``doc_col`` ids per band bucket. Band keys are
    hash-derived but their POPULATIONS mirror corpus structure — a web
    corpus's boilerplate cluster puts millions of docs under one
    (band_idx, band_key), and the bucket self-join then runs O(n^2)
    rows in a single task. The cap is one extra window over the
    already-required (band, key) shuffle partitioning (no new
    exchange), deterministic, and documented truncation — the same
    discipline as :func:`similarity.blocked_neardup_pairs`'s
    ``max_block``."""
    if max_bucket is None:
        return bands_long
    w = Window.partitionBy(*key_cols).orderBy(F.asc(doc_col))
    return (
        bands_long.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_bucket)
        .drop("__rn")
    )


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: md5 fingerprint groups with representative (min id)."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
    )


def _shingle_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    persist: bool = True,
    hashed: bool = False,
    cap: str = "window",
) -> DataFrame:
    """Exploded (id, shingle) pairs, df-capped. One row per distinct
    shingle per doc.

    ``hashed=True`` emits xxhash64 longs built directly from the n word
    arguments (text.hashed_shingles_expr) — the shingle STRINGS are
    never materialized, which removed ~80% of the explode cost at the
    sf10 checkpoint. Only for callers that treat shingles as equality
    keys (jaccard intersections, df counts); signature math (minhash
    sha256) needs the raw strings.

    Persisted by default: a multi-consumer index (containment_pairs'
    self-join and sizes, the incremental minhash signatures) would
    otherwise re-explode the corpus once per consumer. At cluster scale
    this is the standard materialize-the-index step (DISK_ONLY spill
    keeps memory bounded). Pass ``persist=False`` when the caller
    consumes the table exactly once (ngram_jaccard_pairs' one SQL
    self-join) — caching a single-consumer frame only adds a
    materialization job.
    """
    # widen before the explode: document tables arrive as one small
    # parquet split, which would serialize the shingling on one task
    # (spread never SHRINKS an already-wide corpus — the fixed 32 did)
    from .spread import spread
    from .text import hashed_shingles_expr

    expr = hashed_shingles_expr(text_col, n) if hashed else shingles_expr(text_col, n)
    sh = spread(df).select(F.col(id_col).alias("doc"), F.explode(expr).alias("sh"))
    if cap == "anti":
        # df-cap via hot-hash aggregate + broadcast ANTI-JOIN (r15, the
        # minhash_lsh_pairs pattern, guide §2.3/§2.4): the count window
        # costs a corpus-wide exchange of every (doc, shingle) row just
        # to attach df, and in ngram_jaccard_pairs' shape that partitioning is
        # immediately destroyed by the per-doc size window, so the
        # window buys nothing downstream. The anti-join keeps the
        # stream scan-partitioned and replaces the exchange with a
        # second explode pass for the hot counts (CPU + one re-read,
        # cheaper than a corpus-wide shuffle of the exploded stream)
        # plus a broadcast of at most shingle_rows/MAX_SHINGLE_DF
        # 8-byte hot keys. Identical rows: same count, same <= cap
        # predicate (shingles are never NULL — hashed longs or
        # concat_ws strings from a non-null transform).
        hot = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > MAX_SHINGLE_DF)
            .select("sh")
        )
        # name-keyed joins move the key column first — restore (doc, sh)
        out = sh.join(F.broadcast(hot), "sh", "left_anti").select("doc", "sh")
    else:
        # df-cap via a count window: one shuffle on sh (vs aggregate +
        # join back = two), and the output stays hash-partitioned by sh
        # for callers that consume that partitioning directly
        w = Window.partitionBy("sh")
        out = (
            sh.withColumn("df", F.count(F.lit(1)).over(w))
            .filter(F.col("df") <= MAX_SHINGLE_DF)
            .drop("df")
        )
    return out.persist() if persist else out


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.2
) -> DataFrame:
    """Near-dup pairs by exact (df-capped) n-gram Jaccard >= threshold:
    |A∩B| from the inverted-index self-join and |A|,|B| from per-doc
    shingle counts, over every pair of docs sharing >= 1 shingle. The
    df-cap is the candidate pruning: a shingle in more than
    ``MAX_SHINGLE_DF`` docs never generates a pair.

    The shingle table is built PRE-HASHED (no shingle strings exist at
    any point — see _shingle_table(hashed=True)): every downstream use
    here is equality-only (df-cap counts, intersection join, per-doc
    sizes), with the documented 64-bit collision caveat.

    No persist: the self-join is the shingle table's only consumer, and
    its two identical sides share one exchange (ReusedExchange). The
    df-cap is the hot-hash anti-join (``cap="anti"``: one corpus-wide
    exchange removed at the price of a second explode pass for the
    bounded hot list)."""
    sh = _shingle_table(df, id_col, text_col, n, persist=False, hashed=True, cap="anti")
    # Single spark.sql() construction (PySpark {df} parameter binding):
    # building this graph Column-by-Column cost ~0.15 s of py4j round
    # trips PER INVOCATION on the driver (the d02/d03 bench profile);
    # one SQL parse is a single round trip for the identical plan.
    #
    # The intersection join only tests shingle EQUALITY, so it keys on
    # xxhash64 longs — the co-shingle shuffle carries 8 bytes instead of
    # full n-gram strings (same trick as sampling.contamination_report;
    # a 64-bit collision inflates one pair's |A∩B| with probability
    # ~d^2/2^65 — negligible and deterministic). The hashed shingle
    # table arrives as longs already — no string ever exists.
    #
    # r14 restructure: the per-doc size rides ALONG the shingle rows
    # (count window on doc) into the self-join, and the pair groupBy
    # takes min(sz) per side — constant within a (doc) group, so values
    # are identical to a joined sizes table. The previous shape joined a
    # per-doc sizes aggregate back onto the pair stream twice; at corpus
    # scale that sizes table cannot broadcast, so each join was a full
    # extra exchange of the pair stream. Cost: one 8-byte int per
    # shingle row through the intersection shuffle.
    #
    # /*+ MERGE */ pins the co-shingle self-join to sort-merge (r15,
    # guide §3.1 "pick the strategy deliberately"): both sides are the
    # SAME corpus-sized shingle table, but the planner's size estimate
    # predates the explode/window (at sf1 the "small" side is already
    # 33 MB against the 10 MB broadcast threshold), so it broadcast the
    # entire shingle table — a serial driver collect+build on the
    # query's critical path and a driver-OOM hazard at any real scale.
    # Measured at sf1/local[32], settled C2 state: 8.4 s (BHJ) -> 3.4 s
    # (SMJ), and the join stays on the one ReusedExchange
    # (plans/r15/d02_dedup_ngram_jaccard_after.txt). Identical rows —
    # join strategy only.
    out = sh.sparkSession.sql(
        """
        WITH shj AS (SELECT doc, sh, count(1) OVER (PARTITION BY doc) AS sz FROM {sh})
        SELECT a_id, b_id, inter, sza + szb - inter AS un,
               CAST(inter AS DOUBLE) / CAST(sza + szb - inter AS DOUBLE) AS jaccard
        FROM (
          SELECT /*+ MERGE(a) */ a.doc AS a_id, b.doc AS b_id, count(*) AS inter,
                 min(a.sz) AS sza, min(b.sz) AS szb
          FROM shj a JOIN shj b ON a.sh = b.sh AND a.doc < b.doc
          GROUP BY a.doc, b.doc)
        """,
        sh=sh,
    )
    return _track(out.filter(F.col("jaccard") >= threshold))


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, num_hashes: int = NUM_HASHES,
    _sh: DataFrame | None = None,
) -> DataFrame:
    """Per-doc MinHash signature: one sha256 per shingle, split into
    ``num_hashes`` 8-hex-char (32-bit) chunks; h_i = lexicographic min
    of chunk i over the doc's shingles. One hash invocation instead of
    one per hash function — the independence between chunks of a
    cryptographic digest is what MinHash needs."""
    sh = _sh if _sh is not None else _shingle_table(df, id_col, text_col, n)
    hashed = sh.select("doc", F.sha2(F.col("sh"), 256).alias("hx"))
    aggs = [
        F.min(F.substring("hx", 1 + 8 * i, 8)).alias(f"h{i}") for i in range(num_hashes)
    ]
    return hashed.groupBy("doc").agg(*aggs)


def _lsh_band_sql(
    carry: tuple[str, ...], bands: int, rows_per_band: int, max_bucket: int | None
) -> tuple[str, str]:
    """SQL text shared by the MinHash band joins: the ``NUM_HASHES``
    chunk-min aggregate columns over a sha256 ``hx`` column, and the
    ``banded``/``long``/``capped`` CTEs that turn a ``stats`` relation
    (doc, the ``carry`` columns, h0..h7) into one (band_idx, band_key)
    row per doc and band, the ``carry`` columns riding along, each
    bucket cut to its ``max_bucket`` lowest doc ids (as
    :func:`_cap_buckets`)."""
    cols = ", ".join(("doc", *carry))
    min_cols = ", ".join(
        f"min(substring(hx, {1 + 8 * i}, 8)) AS h{i}" for i in range(NUM_HASHES)
    )
    band_exprs = ", ".join(
        "md5(concat_ws('|', "
        + ", ".join(f"h{b * rows_per_band + r}" for r in range(rows_per_band))
        + f")) AS b{b}"
        for b in range(bands)
    )
    stack_args = ", ".join(f"{b}, b{b}" for b in range(bands))
    cap_cte = (
        """, capped AS (
          SELECT {cols}, band_idx, band_key FROM (
            SELECT *, row_number() OVER (
              PARTITION BY band_idx, band_key ORDER BY doc ASC) AS __rn
            FROM long) WHERE __rn <= {mb})""".format(cols=cols, mb=int(max_bucket))
        if max_bucket is not None
        else ", capped AS (SELECT * FROM long)"
    )
    band_ctes = (
        f"banded AS (SELECT {cols}, {band_exprs} FROM stats),\n"
        f"        long AS (SELECT {cols}, stack({bands}, {stack_args}) AS (band_idx, band_key)\n"
        f"                 FROM banded){cap_cte}"
    )
    return min_cols, band_ctes


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_bucket: int | None = None,
    bands: int = NUM_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """LSH-banded candidate pairs + exact Jaccard verification.

    shingle -> 8 minhashes -> ``bands`` bands of ``rows_per_band`` ->
    bucket join on (band_idx, band_key) -> verify candidates with exact
    Jaccard. The exploded shingle stream feeds a hot-hash df-cap pass
    and the signature/verification aggregation (two explode passes, no
    corpus-wide string shuffle — see the in-body comment).

    ``bands`` x ``rows_per_band`` must fit in the 8 available minhash
    chunks. The (b, r) shape is THE LSH sizing lever: candidate
    probability for a pair at Jaccard s is 1 - (1 - s^r)^b, so more
    rows per band = sharper threshold (higher precision, lower recall)
    — quantified per-config by the d20 gate before a corpus commits to
    a shape.

    ``max_bucket`` bounds each band bucket's population before the
    self-join (see :func:`_cap_buckets`). Default None: unlike simhash,
    minhash band populations are STRUCTURALLY bounded by the shingle
    df-cap — two docs share a band key (md5 of two min-hash chunks)
    only by sharing the argmin shingle of each chunk, and every shingle
    surviving ``MAX_SHINGLE_DF`` appears in <= 100 docs, so a bucket
    tops out around MAX_SHINGLE_DF x (32-bit chunk-collision factor)
    rather than at corpus scale; boilerplate floods are absorbed by the
    df-cap itself (their shared shingles exceed the df-cap and drop
    out). Set an explicit cap when raising MAX_SHINGLE_DF.

    Verification (r8 restructure, tightened r14): instead of re-joining
    the inverted index against itself restricted to candidate docs
    (semi-join + co-shingle self-join + pair groupBy + pair semi-join +
    2 size joins ~ 6 extra exchanges), the ONE groupBy(doc) that
    computes the 8 band mins also carries ``collect_set(xxhash64(sh))``
    — the doc's df-capped shingle set, packed to 8-byte longs since r15
    (equality-only use; see the in-body comment) — and since r14 that set rides the
    banded rows INTO the bucket self-join, where candidates verify by
    ``array_intersect`` inline (zero verify joins at all; see the
    in-body comment). The set stays O(doc size), the shingle table has
    exactly one consumer and is never persisted. Zero-intersection band
    collisions (md5/chunk accidents) are dropped to match exact-Jaccard
    semantics.
    """
    if bands < 1 or rows_per_band < 1:
        raise ValueError(
            f"bands ({bands}) and rows_per_band ({rows_per_band}) must both be "
            ">= 1 (zero would build malformed band SQL)"
        )
    if bands * rows_per_band > NUM_HASHES:
        raise ValueError(
            f"bands ({bands}) x rows_per_band ({rows_per_band}) exceeds the "
            f"{NUM_HASHES} available minhash chunks"
        )
    # r15: RAW exploded shingles — the df-cap no longer rides a count
    # window (see the hot/anti CTEs below), so _shingle_table's window
    # exchange is bypassed entirely.
    from .spread import spread

    sh_shared = spread(df).select(
        F.col(id_col).alias("doc"), F.explode(shingles_expr(text_col, n)).alias("sh")
    )
    spark = sh_shared.sparkSession
    # ONE groupBy(doc) computes the 8 band mins AND everything the
    # verification needs (size + shingle set) — no second shuffle of
    # the shingle table. (SQL-string construction: one py4j round
    # trip, not ~100.)
    #
    # r14 restructure (the simhash carry-through pattern): size and
    # shingle set ride ALONG the banded rows into the bucket self-join,
    # so the exact-Jaccard verification runs INSIDE the band-join stage
    # and the final DISTINCT dedups verified scalars. The previous
    # shape deduped candidates first and joined the persisted stats
    # table back twice to fetch both shingle sets — two joins that
    # cannot broadcast at corpus scale. Cost: ``bands`` copies of each
    # doc's (sz, shset) through the one band exchange (vs two copies
    # across two exchanges before), and a pair colliding in k bands
    # pays k array_intersects (k <= bands; set SIZE is order-invariant,
    # so duplicates collapse identically). Single SQL call, no persist:
    # the self-join's two identical sides share one exchange.
    min_cols, band_ctes = _lsh_band_sql(("sz", "shset"), bands, rows_per_band, max_bucket)
    # r15 restructure, measured at sf1 (shuffle_write 212 MB -> 34 MB,
    # identical 727 output rows; guide §2.3 "shuffle keys, not
    # payloads"):
    #
    # 1. The df-cap is a HOT-HASH aggregate + broadcast ANTI-JOIN
    #    instead of a count window: the window's exchange shipped every
    #    (doc, shingle-string) row corpus-wide, and — the bigger,
    #    less obvious cost — left the stream partitioned BY SHINGLE, so
    #    the stats groupBy(doc) that follows emitted one partial
    #    (set + 8 mins) row per doc PER SHUFFLE PARTITION (measured
    #    161 MB of partial-agg fragments at sf1). With the anti-join,
    #    the stream stays SCAN-partitioned — each doc's shingles are
    #    colocated, partial aggregation compacts to ~one row per doc,
    #    and the only corpus-wide exchanges carry 16-byte (hash, count)
    #    partials and the per-doc stats. The hot list (shingles in >
    #    MAX_SHINGLE_DF docs) holds at most shingle_rows/MAX_SHINGLE_DF
    #    8-byte entries — in practice the corpus's boilerplate tail —
    #    and RAISING the df-cap SHRINKS it, so the knob that loosens
    #    the skew guard also relieves the broadcast. Cost: the explode runs twice
    #    (once for counts, once for stats) — two cheap CPU passes for
    #    two removed corpus-wide shuffles of string payloads.
    # 2. The carried verification set is PACKED to xxhash64 longs (the
    #    set only feeds array_intersect), and the df-cap keys on the
    #    same hashes — the d02/p06 collision caveat (P ~ d^2/2^65)
    #    now applies here identically; the oracle gates prove no
    #    collision exists in any fixture. Signature math keeps the raw
    #    strings (sha256 must match the oracle byte-for-byte).
    out = spark.sql(
        f"""
        WITH hot AS (
          SELECT xxhash64(sh) AS shh FROM {{sh}}
          GROUP BY 1 HAVING count(*) > {MAX_SHINGLE_DF}),
        shf AS (
          SELECT /*+ BROADCAST(h) */ s.doc, xxhash64(s.sh) AS shh, sha2(s.sh, 256) AS hx
          FROM {{sh}} s LEFT ANTI JOIN hot h ON xxhash64(s.sh) = h.shh),
        stats AS (
          SELECT doc, count(*) AS sz, collect_set(shh) AS shset, {min_cols}
          FROM shf GROUP BY doc),
        {band_ctes},
        j AS (
          SELECT x.doc AS a_id, y.doc AS b_id, x.sz AS sza, y.sz AS szb,
                 CAST(size(array_intersect(x.shset, y.shset)) AS BIGINT) AS inter
          FROM capped x JOIN capped y
            ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.doc < y.doc)
        SELECT DISTINCT a_id, b_id, inter, sza + szb - inter AS un,
               CAST(inter AS DOUBLE) / CAST(sza + szb - inter AS DOUBLE) AS jaccard
        FROM j WHERE inter >= 1
        """,
        sh=sh_shared,
    )
    return _track(out)


def incremental_minhash_pairs(
    base: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_bucket: int | None = None,  # structural bound: see minhash_lsh_pairs
) -> DataFrame:
    """Incremental ingest dedup: near-dup pairs between a NEW batch and
    the existing BASE corpus (base-vs-base pairs are deliberately not
    recomputed — the base was already deduped when it was ingested).

    Same machinery as :func:`minhash_lsh_pairs` (shared shingle table,
    one sha256 -> 8 minhash chunks -> 4 banded keys, exact Jaccard
    verify on candidates), but the band join is base x new only: at
    100 TB the base side's signatures/bands are precomputed artifacts
    of earlier ingests (persist ``stats``/``banded`` to a table), so an
    incremental run costs O(new batch + touched buckets), not O(corpus).
    The df-cap is computed over base+new together, as a full-corpus run
    would.

    Output: ``base_id``, ``new_id``, ``inter``, ``un``, ``jaccard`` for
    every banded candidate pair; filter ``jaccard`` downstream for the
    reject list.
    """
    union = base.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__txt"), F.lit(False).alias("is_new")
    ).unionByName(
        new.select(
            F.col(id_col).alias("__id"), F.col(text_col).alias("__txt"), F.lit(True).alias("is_new")
        )
    )
    sh_shared = _shingle_table(union, "__id", "__txt", n)
    side = union.select(F.col("__id").alias("doc"), "is_new")
    hashed = sh_shared.select("doc", F.sha2(F.col("sh"), 256).alias("hx"))
    stats = hashed.groupBy("doc").agg(
        F.count(F.lit(1)).alias("sz"),
        *[F.min(F.substring("hx", 1 + 8 * i, 8)).alias(f"h{i}") for i in range(NUM_HASHES)],
    ).persist()
    band_cols = []
    for b in range(NUM_BANDS):
        hs = [f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
        band_cols.append(F.md5(F.concat_ws("|", *hs)).alias(f"b{b}"))
    stack_args = ", ".join(f"{b}, b{b}" for b in range(NUM_BANDS))
    bands_long = (
        stats.select("doc", *band_cols)
        .select("doc", F.expr(f"stack({NUM_BANDS}, {stack_args}) AS (band_idx, band_key)"))
        .join(side, "doc")
    )
    # cap each side's bucket population independently (the join is
    # base x new per bucket, so the bound is max_bucket^2 rows/bucket)
    x = _cap_buckets(
        bands_long.filter(~F.col("is_new")).select(
            F.col("doc").alias("base_id"), "band_idx", "band_key"
        ),
        ["band_idx", "band_key"],
        "base_id",
        max_bucket,
    )
    y = _cap_buckets(
        bands_long.filter(F.col("is_new")).select(
            F.col("doc").alias("new_id"), "band_idx", "band_key"
        ),
        ["band_idx", "band_key"],
        "new_id",
        max_bucket,
    )
    cand = x.join(y, ["band_idx", "band_key"]).select("base_id", "new_id").distinct().persist()
    sh_b = sh_shared.join(
        cand.select(F.col("base_id").alias("doc")).distinct(), "doc", "left_semi"
    )
    sh_n = sh_shared.join(
        cand.select(F.col("new_id").alias("doc")).distinct(), "doc", "left_semi"
    )
    inter = (
        sh_b.alias("a")
        .join(sh_n.alias("b"), F.col("a.sh") == F.col("b.sh"))
        .groupBy(F.col("a.doc").alias("base_id"), F.col("b.doc").alias("new_id"))
        .agg(F.count("*").alias("inter"))
        .join(cand, ["base_id", "new_id"], "left_semi")
    )
    sizes = stats.select("doc", "sz")
    out = (
        inter.join(sizes.withColumnRenamed("doc", "base_id").withColumnRenamed("sz", "sz_a"), "base_id")
        .join(sizes.withColumnRenamed("doc", "new_id").withColumnRenamed("sz", "sz_b"), "new_id")
        .select(
            "base_id",
            "new_id",
            "inter",
            (F.col("sz_a") + F.col("sz_b") - F.col("inter")).alias("un"),
            (
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
    )
    return _track(out, sh_shared, stats, cand)


def _simhash_luts(lane_bits: int) -> list[list[int]]:
    """Per-nibble packed-lane lookup tables. With ``lane_bits=16`` one
    bigint word holds all four of a nibble's bit-counts (16 aggregates
    for 64 bits); with 32-bit lanes a nibble needs two words (32
    aggregates) but counts up to 2^32-1 tokens per doc."""
    lanes_per_word = 64 // lane_bits
    n_words = (4 + lanes_per_word - 1) // lanes_per_word
    luts = []
    for w in range(n_words):
        bits = range(w * lanes_per_word, min((w + 1) * lanes_per_word, 4))
        luts.append(
            [
                sum(((n >> r) & 1) << (lane_bits * (r - w * lanes_per_word)) for r in bits)
                for n in range(16)
            ]
        )
    return luts


def simhash(df: DataFrame, id_col: str, text_col: str, lane_bits: int = 16) -> DataFrame:
    """64-bit SimHash per document over distinct word tokens, as four
    16-bit band integers b0..b3 (b0 = low bits) plus the 16-hex-char
    fingerprint string — no signed-64-bit edge cases, and the bands
    double as the LSH bucket keys.

    The hot path is narrow and integer-only: one md5 per token, two
    conv() calls turn the first 16 hex chars into two 32-bit ints, each
    nibble indexes a 16-entry packed-lane lookup table (``lane_bits``
    bit-counts per bigint lane), and the per-doc aggregate is 16 (or 32
    with ``lane_bits=32``) bigint sums plus a token count (sign test:
    2*count_of_ones > n_tokens). The default 16-bit lanes count up to
    65,535 distinct tokens per document — enforced with a runtime
    raise_error guard; pass ``lane_bits=32`` for corpora with larger
    documents (identical output, twice the aggregate width)."""
    if lane_bits not in (16, 32):
        raise ValueError("lane_bits must be 16 or 32")
    # The wide projections below are built as SQL STRINGS, not nested
    # Column objects: the expression tree has ~300 nodes, and building it
    # through the Column API costs one py4j round trip per node (~0.8 s
    # of driver time per call — measured 2.4x end-to-end on sf0.1).
    # selectExpr parses each string in ONE call; the resulting plan (and
    # every output bit) is identical.
    lane_mask = (1 << lane_bits) - 1
    lanes_per_word = 64 // lane_bits
    luts = _simhash_luts(lane_bits)
    n_words = len(luts)
    # widen before the tokenize/md5/lane-sum pipeline (r15): document
    # tables arrive locally as a handful of scan splits, which caps the
    # fingerprint stage at that task count regardless of cores
    # (measured at sf1: 3.1 s wall on 6 tasks = ~75% of d05's settled
    # exec). spread() never shrinks an already-wide corpus, so at real
    # scale it is a no-op and no exchange is added.
    from .spread import spread

    toks = spread(df).selectExpr(
        f"`{id_col}` AS doc",
        f"explode(array_distinct(split(lower(`{text_col}`), ' '))) AS tok",
    ).selectExpr(
        "doc",
        "cast(conv(substring(md5(tok), 1, 8), 16, 10) as bigint) AS v1",
        "cast(conv(substring(md5(tok), 9, 8), 16, 10) as bigint) AS v2",
    )

    # nibble m (= hex char m+1 of the md5) lives in v1 for m<8 else v2,
    # at shift 4*(7 - m%8) — hex strings read MSB-first
    def lut_sql(w: int) -> str:
        return "array(" + ",".join(f"{v}L" for v in luts[w]) + ")"

    packed_cols = [
        f"element_at({lut_sql(w)}, cast((shiftrightunsigned("
        f"{'v1' if m < 8 else 'v2'}, {4 * (7 - m % 8)}) & 15) + 1 AS int)) AS p{m}_{w}"
        for m in range(SIMHASH_BITS // 4)
        for w in range(n_words)
    ]
    packed = toks.selectExpr("doc", *packed_cols)
    sums = packed.groupBy("doc").agg(
        F.expr("count(1) AS n_tok"),
        *[
            F.expr(f"sum(p{m}_{w}) AS p{m}_{w}")
            for m in range(SIMHASH_BITS // 4)
            for w in range(n_words)
        ],
    )
    # overflow guard: lanes hold counts up to 2^lane_bits - 1 per doc.
    # Let-bound as its own projected column (r14): the guard used to be
    # textually inlined into every one of the 64 band CASE terms — 64
    # copies of the raise_error CASE to parse, analyze and codegen per
    # query build. One projection, identical semantics (same condition,
    # same error, evaluated before any band term compares against it).
    nt_guard = (
        f"CASE WHEN n_tok > {lane_mask} THEN raise_error("
        f"'simhash: more than {lane_mask} distinct tokens in one document "
        f"overflows {lane_bits}-bit count lanes; use lane_bits=32') "
        f"ELSE n_tok END AS __nt"
    )
    sums = sums.selectExpr(
        "doc",
        nt_guard,
        *[f"p{m}_{w}" for m in range(SIMHASH_BITS // 4) for w in range(n_words)],
    )
    nt_sql = "__nt"

    def band_sql(k: int) -> str:
        # band k = bits 16k..16k+15 = nibbles 4k..4k+3
        terms = []
        for m in range(4 * k, 4 * k + 4):
            for r in range(4):
                w, lane = divmod(r, lanes_per_word)
                terms.append(
                    f"CASE WHEN 2 * (shiftrightunsigned(p{m}_{w}, {lane_bits * lane})"
                    f" & {lane_mask}) > ({nt_sql})"
                    f" THEN {1 << (4 * (m - 4 * k) + r)} ELSE 0 END"
                )
        return "cast(" + " + ".join(terms) + f" AS int) AS b{k}"

    banded = sums.selectExpr("doc", *[band_sql(k) for k in range(SIMHASH_BANDS)])
    # MSB first: the hex fingerprint reads as the 64-bit number
    hexes = ", ".join(
        f"lpad(lower(hex(b{k})), 4, '0')" for k in reversed(range(SIMHASH_BANDS))
    )
    return banded.selectExpr(
        "doc", *[f"b{k}" for k in range(SIMHASH_BANDS)], f"concat({hexes}) AS simhash"
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    lane_bits: int = 16,
    max_bucket: int | None = MAX_BAND_BUCKET,
    band_bits: int = 16,
    _fps: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs: band-equality candidates, then Hamming distance
    over the full 64-bit fingerprints (summed per band lane).

    ``band_bits`` sizes the LSH bands over the 64-bit fingerprint:

    - 16 (default): 4 bands in a 65,536-bucket space each. Pigeonhole
      GUARANTEE for ``max_hamming <= 3`` (4 bands, <= 3 differing bits
      -> one band is clean) — but fixed 2^16 buckets mean bucket
      occupancy (hence candidate pairs) grows superlinearly once the
      corpus passes ~10^6 docs per distinct-ish band value.
    - 32: 2 bands in a 2^32-bucket space each — candidate volume keeps
      subdividing ~65,536x longer, the corpus-scale shape. The
      guarantee now only covers ``max_hamming <= 1``; pairs at Hamming
      2..3 are caught iff all differing bits land in one band
      (probabilistic recall, quantified by the d19 gate's
      recall-vs-band_bits curve — size the trade before a 100 TB run).

    The full fingerprint rides along in the banded table, so the Hamming
    filter runs INSIDE the band-join stage — candidate pairs that fail
    ``max_hamming`` die before the dedup shuffle, and no separate verify
    join against the fingerprint table exists. On clustered corpora
    (where one band bucket holds thousands of docs) this cuts the
    distinct() input by ~10x. ``max_bucket`` bounds each band bucket's
    population before the self-join (see :func:`_cap_buckets`)."""
    if band_bits == 16:
        stack_args = ", ".join(f"{k}, cast(b{k} as bigint)" for k in range(SIMHASH_BANDS))
        n_band_rows = SIMHASH_BANDS
    elif band_bits == 32:
        stack_args = (
            "0, cast(b0 as bigint) + cast(b1 as bigint) * 65536, "
            "1, cast(b2 as bigint) + cast(b3 as bigint) * 65536"
        )
        n_band_rows = 2
    else:
        raise ValueError(f"band_bits must be 16 or 32, got {band_bits}")
    # ``_fps`` shares one persisted fingerprint pass across several band
    # shapes (d19 compares two shapes of the SAME corpus — the
    # fingerprint computation dominates and need not run twice)
    fps = (
        _fps
        if _fps is not None
        else simhash(df, id_col, text_col, lane_bits=lane_bits).persist()  # feeds the band views
    )
    bands_long = _cap_buckets(
        fps.select(
            "doc",
            "simhash",
            *[f"b{k}" for k in range(SIMHASH_BANDS)],
            F.expr(f"stack({n_band_rows}, {stack_args}) AS (band_idx, band_val)"),
        ),
        ["band_idx", "band_val"],
        "doc",
        max_bucket,
    )
    x, y = bands_long.alias("x"), bands_long.alias("y")
    ham = None
    for k in range(SIMHASH_BANDS):
        t = F.bit_count(F.expr(f"x.b{k} ^ y.b{k}"))
        ham = t if ham is None else ham + t
    out = (
        x.join(
            y,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col("x.doc") < F.col("y.doc")),
        )
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("x.doc").alias("a_id"),
            F.col("y.doc").alias("b_id"),
            F.col("x.simhash").alias("sh_a"),
            F.col("y.simhash").alias("sh_b"),
            "hamming",
        )
        .distinct()
    )
    return _track(out, fps)


def neardup_components(pairs: DataFrame, max_iters: int = 25) -> DataFrame:
    """Connected components over a near-dup pair graph: every document
    that appears in a pair gets the component label = the smallest doc
    id reachable from it. (doc, comp) is what a dedup pipeline keeps:
    drop every doc where doc != comp and the corpus retains exactly one
    representative per duplicate cluster.

    Distributed min-label propagation: each iteration joins the
    (bidirectional) edge list against current labels and takes the
    per-node min over neighbors' labels; convergence (no label changed)
    is checked with a count — O(graph diameter) iterations, and near-dup
    graphs are shallow (clusters are cliques or near-cliques from the
    band join, so 2-3 iterations in practice). Each iteration is one
    shuffle on node id.

    Lineage hygiene: the loop uses ``localCheckpoint`` (eager), NOT
    ``persist``. Persist keeps the full logical lineage, and an
    iterative consumer nests its own cached output back into the next
    round's plan; when the input itself carries cached AQE subplans
    (d08's kmeans -> pair-UDF chain) Spark's per-action plan-description
    render (TreeNode.generateTreeString) goes super-linear in that
    nesting depth and pins the DRIVER for minutes before a single task
    launches — the round-2 d08 hang. Checkpointing cuts each generation
    to a flat LogicalRDD scan: O(1) plan depth at any iteration count.
    Old generations are executor-resident blocks reaped by the
    ContextCleaner when the DataFrame is GC'd. On a cluster with
    dynamic allocation, swap localCheckpoint for a reliable
    ``checkpoint()`` (spark.checkpoint.dir) — the operator only needs
    *some* lineage cut here, and the label tables are O(nodes) rows."""
    edges = pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    edges = (
        edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("node")).distinct().withColumn("comp", F.col("node"))
    ).localCheckpoint(eager=True)
    for _ in range(max_iters):
        neighbor = (
            edges.join(labels.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"), "comp")
        )
        new_labels = (
            labels.union(neighbor).groupBy("node").agg(F.min("comp").alias("comp"))
        ).localCheckpoint(eager=True)
        changed = (
            new_labels.join(labels.withColumnRenamed("comp", "old"), "node")
            .filter(F.col("comp") != F.col("old"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    out = labels.select("node", "comp")
    return _track(out)


MAX_PASSAGE_IDX = 1 << 20  # chunk ordinal bound for the first-occurrence key


def passage_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 8,
) -> DataFrame:
    """Passage-level exact dedup (the CCNet paragraph-hash filter,
    generalized to fixed ``chunk_words``-word windows for corpora
    without line structure): split every document into non-overlapping
    word chunks, hash each chunk, keep only the globally FIRST
    occurrence of every distinct chunk (smallest (doc, position)), and
    reassemble each document from its surviving chunks.

    Returns per document: ``n_chunks``, ``n_kept``, ``dup_ratio`` and
    the deduplicated ``clean_text`` (documents whose every chunk was
    seen earlier come back with n_kept = 0 and empty text — the rows a
    pipeline drops).

    Scale: one shuffle on the chunk hash (uniform 128-bit key) for the
    first-occurrence window, one shuffle on the doc id to reassemble.
    Boilerplate chunks repeated across millions of docs are a single
    hot hash partition-wise — the window min is partially aggregated
    and AQE splits any residual skew. First-occurrence keys pack
    (doc_id, chunk_idx) into one BIGINT: doc ids must stay below
    2^43 and documents below ``MAX_PASSAGE_IDX`` chunks.
    """
    k = chunk_words
    # let-bind the tokenized array (see text.py:shingles_expr): the
    # split runs once per row, not once per chunk
    chunks = F.expr(
        f"element_at(transform(array(split(lower({text_col}), ' ')), w -> "
        f"transform(sequence(0, cast(ceil(size(w) / cast({k} as double)) as int) - 1), "
        f"i -> concat_ws(' ', slice(w, i * {k} + 1, {k})))), 1)"
    )
    ch = (
        docs.select(F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "chunk"))
        .withColumn("h", F.md5("chunk"))
        .withColumn("k", F.col(id_col) * MAX_PASSAGE_IDX + F.col("chunk_idx"))
    )
    kept = (
        ch.withColumn("first_k", F.min("k").over(Window.partitionBy("h")))
        .filter(F.col("k") == F.col("first_k"))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk"))),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )
    base = docs.select(
        F.col(id_col),
        F.expr(
            f"cast(ceil(size(split(lower({text_col}), ' ')) / cast({k} as double)) as bigint)"
        ).alias("n_chunks"),
    )
    return (
        base.join(kept, id_col, "left")
        .select(
            id_col,
            "n_chunks",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
        .withColumn(
            "dup_ratio",
            (F.col("n_chunks") - F.col("n_kept")).cast("double")
            / F.col("n_chunks").cast("double"),
        )
    )


def duplicated_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = 5
) -> DataFrame:
    """Substring-level duplication statistics (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"
    signal, window-hash form): every OVERLAPPING k-token window is
    hashed; a window appearing in >= 2 documents is a duplicated span.
    Unlike :func:`passage_dedup`'s disjoint chunks, overlapping windows
    catch copied substrings at ANY alignment.

    Per document: ``n_windows`` (distinct window hashes), ``n_dup``
    (how many of them also appear in another document), ``dup_ratio``.
    Cost: one explode (n windows/doc), one shuffle on the window hash
    for document-frequency, one groupBy doc — no pair join at all, so
    the operator is immune to the quadratic blowups the pairwise family
    guards against; boilerplate floods only grow a counter.
    """
    # windowing reuses the shared shingle expression (one copy of the
    # overlap/edge rules); md5 over distinct shingles == distinct md5s
    wins = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.transform(shingles_expr(text_col, k), F.md5)).alias("wh"),
    )
    # df per window via a count window: stays hash-partitioned by wh,
    # and the per-doc rollup is the only other shuffle
    w = Window.partitionBy("wh")
    flagged = wins.withColumn("wdf", F.count(F.lit(1)).over(w))
    return (
        flagged.groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("wdf") >= 2, 1).otherwise(0)).alias("n_dup"),
        )
        .withColumn(
            "dup_ratio", F.col("n_dup").cast("double") / F.col("n_windows").cast("double")
        )
    )


def minhash_estimate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash candidate pairs with the SIGNATURE-ESTIMATED Jaccard —
    the screening pass of a production dedup pipeline: banded candidates
    exactly like :func:`minhash_lsh_pairs`, but similarity is estimated
    as the fraction of agreeing minhash chunks (E[match] = J for each
    chunk, so n_agree/NUM_HASHES is an unbiased estimate with stderr
    ~ sqrt(J(1-J)/NUM_HASHES)) and the shingle tables are NEVER
    revisited. At 100 TB the signatures are a persisted artifact a few
    hundred bytes per doc; estimate-screening candidate pairs against
    them costs two signature joins instead of re-shuffling the corpus'
    shingle text — exact verification (:func:`minhash_lsh_pairs`) then
    runs only on the estimate's survivors.

    Output: a_id, b_id, n_agree (0..NUM_HASHES), est_jaccard."""
    sh = _shingle_table(df, id_col, text_col, n, persist=False)
    spark = sh.sparkSession
    min_cols, band_ctes = _lsh_band_sql((), NUM_BANDS, ROWS_PER_BAND, max_bucket)
    stats = spark.sql(
        f"SELECT doc, {min_cols} "
        "FROM (SELECT doc, sha2(sh, 256) AS hx FROM {sh}) GROUP BY doc",
        sh=sh,
    ).persist()
    agree = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(NUM_HASHES)
    )
    out = spark.sql(
        f"""
        WITH stats AS (SELECT * FROM {{stats}}),
        {band_ctes},
        cand AS (
          SELECT DISTINCT x.doc AS a_id, y.doc AS b_id
          FROM capped x JOIN capped y
            ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.doc < y.doc)
        SELECT c.a_id, c.b_id,
               CAST({agree} AS INT) AS n_agree,
               CAST(({agree}) AS DOUBLE) / {NUM_HASHES}.0 AS est_jaccard
        FROM cand c
        JOIN stats sa ON c.a_id = sa.doc
        JOIN stats sb ON c.b_id = sb.doc
        """,
        stats=stats,
    )
    return _track(out, stats)


# Tracking params stripped during URL canonicalization: the analytics /
# click-id junk that makes one page crawl as thousands of "distinct"
# URLs. Matched against the key side of key=value, anchored.
_URL_TRACKING_RE = "^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|ref)="


def canonical_url_expr(url_col: str) -> Column:
    """Canonical form of a URL as a pure built-in expression chain:
    lowercase scheme+host, strip a scheme-default port (:80 http /
    :443 https), drop the fragment, normalize the path's trailing slash
    (empty path -> "/"), drop tracking query params (utm_*, fbclid,
    gclid, msclkid, ref) and sort the survivors byte-lexicographically.

    Character-class-only regexes (no backrefs/lookaround) so Java regex
    and RE2 produce identical extractions; the param sort uses binary
    collation on both engines. Map-only — scales as the scan."""
    u = F.col(url_col)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    host = (
        F.when(scheme == "http", F.regexp_replace(hostport, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, ":443$", ""))
        .otherwise(hostport)
    )
    raw_path = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    path = F.when(raw_path == "", F.lit("/")).otherwise(
        F.when(raw_path == "/", raw_path).otherwise(F.regexp_replace(raw_path, "/$", ""))
    )
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(_URL_TRACKING_RE),
        )
    )
    qpart = F.when(
        F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))
    ).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, path, qpart)


def url_dedup(urls: DataFrame, id_col: str = "doc_id", url_col: str = "url") -> DataFrame:
    """URL-level exact dedup after canonicalization — the crawl
    pipeline's first dedup pass (before any content hashing): one page
    crawled under http/https, with/without :443, trailing slash,
    #fragments, utm_* click-ids, or reordered query params collapses to
    one canonical key; the kept representative is the smallest id
    (deterministic across runs and partitionings).

    Emits (canon_url, keep_id, n_dupes) per canonical URL. Shape at
    scale: canonicalization is map-only; the single shuffle groups on
    the canonical URL — a high-cardinality, hash-distributed key (the
    whole point of dedup), so partial aggregation collapses repeats
    map-side and no salting is needed."""
    return (
        urls.select(
            canonical_url_expr(url_col).alias("canon_url"),
            F.col(id_col).alias("_id"),
        )
        .groupBy("canon_url")
        .agg(
            F.min("_id").alias("keep_id"),
            (F.count(F.lit(1)) - F.lit(1)).cast("int").alias("n_dupes"),
        )
    )


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    window: int = 4,
    hash: str = "md5",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): hash every ``k``-word gram, slide a ``window``
    of consecutive gram hashes over the document, and select the
    RIGHTMOST MINIMUM hash of each window. The selected set is tiny
    (~2/(window+1) of grams) yet carries the winnowing guarantee: any
    shared word run of at least ``window + k - 1`` words between two
    documents produces at least one shared selected fingerprint —
    unlike MinHash, misses are impossible, and unlike the full k-gram
    index (p06/d02), the inverted index is ~window/2 times smaller.

    Returns one row per selected fingerprint: (id, fp_hash BIGINT,
    fp_pos INT). Determinism: the gram hash is the first 10 hex chars
    of md5 (a 40-bit BIGINT both engines derive identically), and the
    rightmost-min selection is encoded order-free as
    ``array_min`` over ``hash * 2^16 + (65535 - pos)`` — min picks the
    smallest hash, and among equal hashes the LARGEST position, with no
    float or comparator anywhere. Documents are capped at 65,536 grams
    by the position packing (longer docs should be chunked first —
    chunk_documents composes).

    Scale: selection is map-only per document (array expressions, no
    shuffle at all); only the exploded fingerprint table shuffles, and
    it is the small winnowed set, not the full gram set.
    """
    w = window
    # hash="md5": 40-bit md5 prefix, replicable in DuckDB — the GATE
    # hash (winnowing SELECTION depends on hash ORDER, so the oracle
    # must derive identical values). hash="xxhash64": the production
    # fast path — hashes the k word arguments directly (no gram string,
    # no hex parse; HOF lambdas are interpreted, so the per-gram
    # constant matters), masked to the same 40-bit range. Selection
    # sets differ between the two (different hash order) but every
    # winnowing property (density, the >= window+k-1 overlap
    # guarantee) holds for either uniform hash.
    if hash == "md5":
        gram_hash = (
            f"cast(conv(substring(md5(concat_ws(' ', slice(ws, p, {k}))), 1, 10), 16, 10) as bigint)"
        )
    elif hash == "xxhash64":
        args = ", ".join(f"element_at(ws, p + {j})" for j in range(k))
        gram_hash = f"(xxhash64({args}) & 1099511627775)"  # low 40 bits
    else:
        raise ValueError(f"winnow hash must be 'md5' or 'xxhash64', got {hash!r}")
    # let-bind words, then the packed gram-hash array (the
    # O(words^2) re-split trap — see text.py:shingles_expr)
    # The position packing reserves 16 bits: gram position p must stay
    # in [1, 65535] or (65536 - p) underflows into the hash bits and
    # silently corrupts fp_hash/fp_pos. Enforce the documented cap
    # loudly instead of relying on callers to chunk first.
    packed = F.expr(
        f"element_at(transform(array(split(lower({text_col}), ' ')), ws -> "
        f"CASE WHEN size(ws) - {k - 1} > 65535 THEN "
        f"raise_error('winnow_fingerprints: document exceeds 65535 {k}-grams "
        f"(the 16-bit position packing cap); chunk longer documents first "
        f"— chunk_documents composes') "
        f"WHEN size(ws) >= {k} THEN "
        f"transform(sequence(1, size(ws) - {k - 1}), "
        f"p -> {gram_hash}"
        f"     * cast(65536 as bigint) + (65536 - p)) "
        f"ELSE array() END), 1)"
    )
    sel = F.expr(
        "CASE WHEN size(_packed) = 0 THEN array() ELSE "
        f"array_distinct(transform(sequence(0, greatest(size(_packed) - {w}, 0)), "
        f"s -> array_min(slice(_packed, s + 1, {w})))) END"
    )
    return (
        docs.select(F.col(id_col), packed.alias("_packed"))
        .select(F.col(id_col), F.explode(sel).alias("_fp"))
        .select(
            id_col,
            F.expr("_fp div 65536").alias("fp_hash"),
            F.expr("cast(65536 - _fp % 65536 as int)").alias("fp_pos"),
        )
    )


def winnow_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    window: int = 4,
    min_shared: int = 2,
    hash: str = "md5",
) -> DataFrame:
    """Candidate plagiarism/duplication pairs from winnowing
    fingerprints: documents sharing >= ``min_shared`` selected
    fingerprint hashes, with the shared count — the MOSS report table.

    Guarantee-based recall (every >= window+k-1-word overlap IS
    caught), bounded index size, and the usual capped inverted-index
    join shape: distinct (doc, hash) pairs, hot fingerprints capped at
    MAX_BAND_BUCKET docs (boilerplate grams shared by everything stop
    generating quadratic candidates, same contract as minhash_lsh_pairs),
    one shuffle on the 40-bit hash key.
    """
    fps = (
        winnow_fingerprints(docs, id_col, text_col, k, window, hash=hash)
        .select(F.col(id_col), "fp_hash")
        .distinct()
    )
    fps = _cap_buckets(fps, ["fp_hash"], id_col, MAX_BAND_BUCKET)
    a = fps.select(F.col("fp_hash"), F.col(id_col).alias("a_id"))
    b = fps.select(F.col("fp_hash"), F.col(id_col).alias("b_id"))
    pairs = (
        a.join(b, "fp_hash")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return pairs


def _bloom_positions(fpc: Column, m_bits: int, k: int, seed: str) -> list[Column]:
    """The k md5-derived bit positions of a document fingerprint — the
    deterministic hash family bloom_membership and bloom_fp_curve share
    (and the DuckDB oracles reproduce bit-for-bit)."""
    return [
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{seed}{j}:"), fpc)), 1, 8), 16, 10
        ).cast("bigint")
        % m_bits
        for j in range(k)
    ]


def bloom_membership(
    history: DataFrame,
    incoming: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = 1 << 18,
    k: int = 3,
    seed: str = "bloom",
) -> DataFrame:
    """Bloom-filter membership screening of an incoming batch against a
    corpus history — the incremental-crawl primitive that answers "have
    we already ingested this document?" WITHOUT joining the history:
    the history collapses to a bounded bit-set (at most ``m_bits``
    rows, typically broadcastable) that any number of incoming batches
    probe.

    Deterministic from end to end: bit position j of a document is
    md5("{seed}{j}:" || md5(text)) reduced mod ``m_bits`` — the same
    32-bit md5-bucket idiom as the samplers, so an external engine (the
    DuckDB oracle) reproduces the filter bit-for-bit; no engine-internal
    sketch state is ever exposed. Classic Bloom guarantees hold:
    NO false negatives (every exact duplicate is flagged — the gate's
    oracle enforces this structurally), false positives at the standard
    (set_bits/m)^k rate, tunable via ``m_bits``/``k``.

    Returns one row per incoming document: (id, bloom_hit, exact_dup,
    false_positive). Scale shape: history explodes to k bit positions
    and DISTINCTs down to <= m_bits rows (one shuffle, bounded output);
    the probe is a BROADCAST join of that bounded bit table against the
    incoming positions plus one groupBy(id) — incoming never shuffles
    against the history itself. ``exact_dup`` (the audit column) is the
    only part that touches history again; production screening drops it
    and the history scan amortizes across every future batch via the
    persisted bit table.
    """
    fp = F.md5(F.col(text_col))

    def positions(fpc: Column) -> list[Column]:
        return _bloom_positions(fpc, m_bits, k, seed)

    bits = (
        history.select(F.explode(F.array(*positions(fp))).alias("bit")).distinct()
    )
    probe = incoming.select(
        F.col(id_col), F.explode(F.array(*positions(fp))).alias("bit")
    )
    hits = (
        probe.join(F.broadcast(bits.withColumn("_set", F.lit(1))), "bit", "left")
        .groupBy(id_col)
        .agg((F.count("_set") == k).alias("bloom_hit"))
    )
    exact = (
        incoming.select(F.col(id_col), fp.alias("_fp"))
        .join(
            history.select(fp.alias("_fp")).distinct(),
            "_fp",
            "left_semi",
        )
        .select(F.col(id_col), F.lit(True).alias("exact_dup"))
    )
    return (
        hits.join(exact, id_col, "left")
        .select(
            id_col,
            "bloom_hit",
            F.coalesce("exact_dup", F.lit(False)).alias("exact_dup"),
            (F.col("bloom_hit") & ~F.coalesce("exact_dup", F.lit(False))).alias(
                "false_positive"
            ),
        )
    )


def bloom_fp_curve(
    history: DataFrame,
    incoming: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_list: tuple[int, ...] = (1024, 4096, 16384),
    k: int = 3,
    seed: str = "bloom",
) -> DataFrame:
    """Bloom filter SIZING curve: one row per filter width ``m`` with
    the bit-table fill, the closed-form expected false-positive rate
    fill^k, and the MEASURED rate on the incoming batch — the table
    that answers "how many bits does the ingest screen need before
    false positives stop polluting the skip decision" with numbers
    instead of the textbook formula (the sizing sibling of d19/d20's
    LSH band curves and v17/v18/v21's index knobs).

    Each width reuses bloom_membership unchanged (no false negatives by
    construction); bits_set comes from the same deterministic position
    family, so the oracle reproduces every cell. fp_rate is NULL when
    the incoming batch has no non-duplicates to mismeasure (zero-truth
    guard). theo_fp is a left-to-right fill product (k exact IEEE
    multiplies), never pow() — libm pow differs across engines.

    Scale shape per width: the history collapses ONCE to <= m bits (one
    shuffle, bounded output, persisted so the probe join and bits_set
    share it) and every aggregate is a one-row roll-up; the
    width-independent exact-duplicate flags are computed once outside
    the loop. The curve costs one history bit pass per width + one
    exact join total, regardless of corpus size; call release_cached on
    the result after consuming it.
    """
    if not m_list:
        raise ValueError("m_list must be non-empty")
    fp = F.md5(F.col(text_col))
    exact = (
        incoming.select(F.col(id_col), fp.alias("_fp"))
        .join(history.select(fp.alias("_fp")).distinct(), "_fp", "left_semi")
        .select(F.col(id_col), F.lit(True).alias("exact_dup"))
        .persist()
    )
    out = None
    cached = [exact]
    for m in m_list:
        bits = (
            history.select(
                F.explode(F.array(*_bloom_positions(fp, m, k, seed))).alias("bit")
            )
            .distinct()
            .persist()
        )
        cached.append(bits)
        probe = incoming.select(
            F.col(id_col), F.explode(F.array(*_bloom_positions(fp, m, k, seed))).alias("bit")
        )
        perdoc = (
            probe.join(F.broadcast(bits.withColumn("_set", F.lit(1))), "bit", "left")
            .groupBy(id_col)
            .agg((F.count("_set") == k).alias("bloom_hit"))
            .join(exact, id_col, "left")
            .select(
                "bloom_hit",
                F.coalesce("exact_dup", F.lit(False)).alias("exact_dup"),
                (
                    F.col("bloom_hit") & ~F.coalesce("exact_dup", F.lit(False))
                ).alias("false_positive"),
            )
        )
        stats = perdoc.agg(
            F.count(F.lit(1)).cast("long").alias("n_incoming"),
            F.sum(F.col("exact_dup").cast("long")).cast("long").alias("n_exact_dup"),
            F.sum(F.col("bloom_hit").cast("long")).cast("long").alias("n_bloom_hit"),
            F.sum(F.col("false_positive").cast("long")).cast("long").alias(
                "n_false_pos"
            ),
        )
        nbits = bits.agg(F.count(F.lit(1)).cast("long").alias("bits_set"))
        fill = F.col("bits_set").cast("double") / F.lit(float(m))
        theo = fill
        for _ in range(k - 1):
            theo = theo * fill
        nondup = F.col("n_incoming") - F.col("n_exact_dup")
        row = stats.crossJoin(F.broadcast(nbits)).select(
            F.lit(m).cast("int").alias("m_bits"),
            "bits_set",
            F.round(fill, 6).alias("fill"),
            F.round(theo, 6).alias("theo_fp"),
            "n_incoming",
            "n_exact_dup",
            "n_bloom_hit",
            "n_false_pos",
            F.round(
                F.when(
                    nondup > 0,
                    F.col("n_false_pos").cast("double") / nondup.cast("double"),
                ),
                6,
            ).alias("fp_rate"),
        )
        out = row if out is None else out.unionByName(row)
    return _track(out, *cached)


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """ASYMMETRIC near-dup detection by shingle containment
    C(src ⊆ dst) = |src ∩ dst| / |src| — the relation Jaccard
    structurally misses: a short document quoted inside a long one has
    tiny Jaccard (the union is dominated by the long side) but
    containment ~1. The screening pass for quote/excerpt/subset
    relationships before attribution or dedup-by-inclusion.

    Emits DIRECTED rows (src_id, dst_id, inter, src_sz, containment)
    where containment >= ``threshold`` — both directions of every
    co-shingling pair are tested. Same machinery and scale shape as
    the Jaccard join: df-capped hashed shingle table (strings never
    materialize), one co-shingle self-join on 8-byte keys, sizes
    joined back; the d02 collision-honesty note applies.
    """
    sh = _shingle_table(df, id_col, text_col, n, persist=True, hashed=True)
    spark = sh.sparkSession
    out = spark.sql(
        f"""
        WITH sz AS (SELECT doc, count(*) AS sz FROM {{sh}} GROUP BY doc),
        inter AS (
          SELECT a.doc AS a_id, b.doc AS b_id, count(*) AS inter
          FROM {{sh}} a JOIN {{sh}} b ON a.sh = b.sh AND a.doc < b.doc
          GROUP BY a.doc, b.doc),
        directed AS (
          SELECT i.a_id AS src_id, i.b_id AS dst_id, i.inter, sa.sz AS src_sz
          FROM inter i JOIN sz sa ON i.a_id = sa.doc
          UNION ALL
          SELECT i.b_id, i.a_id, i.inter, sb.sz
          FROM inter i JOIN sz sb ON i.b_id = sb.doc)
        SELECT src_id, dst_id, inter, src_sz,
               CAST(inter AS DOUBLE) / CAST(src_sz AS DOUBLE) AS containment
        FROM directed
        WHERE CAST(inter AS DOUBLE) / CAST(src_sz AS DOUBLE) >= {threshold!r}
        """,
        sh=sh,
    )
    return _track(out, sh)


def quality_keep_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    quality_col: str = "n_chars",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Quality-aware exact dedup: within each exact-duplicate cluster
    keep the HIGHEST-quality copy (ties broken by lowest id), not the
    lowest id — what production pipelines actually do, since duplicate
    crawls differ in truncation/encoding damage and min-id keeps
    whichever arrived first, not whichever is best.

    Output: the kept rows' (id, quality, keep_cols) manifest.

    Scale shape: the content fingerprint is computed MAP-SIDE and the
    content column is dropped before the exchange — the window shuffles
    only (fingerprint, id, quality, keep_cols), never the corpus bytes.
    One exchange total; fingerprints are hashes, so keys shard
    uniformly and cluster size (duplicate multiplicity) is the only
    skew, bounded by the corpus's true dup rate.
    """
    from pyspark.sql import Window

    slim = df.select(
        F.md5(F.col(content_col)).alias("_fp"),
        F.col(id_col),
        F.col(quality_col),
        *(keep_cols or []),
    )
    w = Window.partitionBy("_fp").orderBy(F.desc(quality_col), F.col(id_col))
    return (
        slim.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_fp")
    )

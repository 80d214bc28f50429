"""Operator-level tests: multimodal plumbing, type narrowing, dedup
building blocks, similarity search."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polars_readstat_rs_spark.functions.narrow import narrow, narrowing_stats
from polars_readstat_rs_spark.operators import dedup, multimodal, similarity
from polars_readstat_rs_spark.tables import load_table


def test_multimodal_decode_stub(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    mm = multimodal.attach_payload(docs)
    assert dict(mm.dtypes)["payload"] == "binary"
    feats = multimodal.decode_features(mm)
    rows = feats.collect()
    assert len(rows) == 50
    r = rows[0]
    assert r.modality == "image" and r.n_bytes > 0 and len(r.feat_head) <= 4
    # stub "feature" is deterministic byte stats
    assert 0 < r.feat_mean < 256


def test_multimodal_real_decoder_raises_for_unshipped_codecs():
    with pytest.raises(NotImplementedError):
        multimodal.decode_real(b"\xff\xd8\xff\xe0JFIF")  # JPEG
    with pytest.raises(NotImplementedError):
        multimodal.decode_real(b"\x89PNG")  # truncated PNG signature


def test_png_codec_roundtrip_all_filters():
    """encode_png cycles row filters None/Sub/Up/Average/Paeth; decode
    must undo each (plus the zlib inflate and chunk CRCs) exactly, for
    both RGB and RGBA."""
    import struct
    import zlib

    import numpy as np

    rng = np.random.default_rng(13)
    for ch in (3, 4):
        px = rng.integers(0, 256, (7, 5, ch), dtype=np.uint8)
        payload = multimodal.encode_png(px)
        assert payload[:8] == b"\x89PNG\r\n\x1a\n"
        d = multimodal.decode_real(payload)
        assert (d["kind"], d["width"], d["height"], d["channels"]) == ("png", 5, 7, ch)
        assert np.array_equal(d["pixels"], px)
        # header fields are genuine big-endian PNG structures
        assert payload[12:16] == b"IHDR"
        w, h, depth, ctype = struct.unpack_from(">IIBB", payload, 16)
        assert (w, h, depth, ctype) == (5, 7, 8, 2 if ch == 3 else 6)
        # scanlines really are filtered: the raw stream differs from the pixels
        raw = zlib.decompress(payload[payload.index(b"IDAT") + 4 : payload.rindex(b"IEND") - 8])
        filters = [raw[r * (5 * ch + 1)] for r in range(7)]
        assert filters == [0, 1, 2, 3, 4, 0, 1]


def test_png_codec_rejects_corruption():
    import numpy as np

    px = np.zeros((2, 2, 3), dtype=np.uint8)
    payload = bytearray(multimodal.encode_png(px))
    payload[20] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        multimodal.decode_png(bytes(payload))


def test_wav_codec_against_stdlib_wave(tmp_path):
    """Cross-validate decode_wav against Python's stdlib wave writer
    (an independent RIFF implementation), both 8- and 16-bit PCM."""
    import io
    import wave

    import numpy as np

    rng = np.random.default_rng(7)
    s8 = rng.integers(0, 256, 1000, dtype=np.uint8)
    s16 = rng.integers(-30000, 30000, 1000, dtype=np.int16)
    for samples, width, rate, ch in ((s8, 1, 8000, 1), (s16, 2, 44100, 2)):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(ch)
            w.setsampwidth(width)
            w.setframerate(rate)
            w.writeframes(samples.tobytes())
        d = multimodal.decode_real(buf.getvalue())
        assert d["kind"] == "wav"
        assert (d["sample_rate"], d["channels"], d["bits"]) == (rate, ch, width * 8)
        assert np.array_equal(d["samples"], samples.astype(np.int64))
        # and our own encoder roundtrips through stdlib wave
        with wave.open(io.BytesIO(multimodal.encode_wav(samples, rate, ch)), "rb") as r:
            assert r.getframerate() == rate and r.getnchannels() == ch
            assert r.readframes(r.getnframes()) == samples.tobytes()


def test_bmp_codec_roundtrip_with_padding():
    """Width 5 forces a 15->16 byte padded stride; decode must undo
    padding, bottom-up row order, and BGR channel order exactly."""
    import numpy as np

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, (4, 5, 3), dtype=np.uint8)
    payload = multimodal.encode_bmp(px)
    assert payload[:2] == b"BM"
    d = multimodal.decode_real(payload)
    assert (d["width"], d["height"]) == (5, 4)
    assert np.array_equal(d["pixels"], px)
    # header fields are genuine little-endian BMP structures
    import struct

    assert struct.unpack_from("<I", payload, 14)[0] == 40  # BITMAPINFOHEADER
    assert struct.unpack_from("<H", payload, 28)[0] == 24  # bpp


def test_decode_media_features_end_to_end(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    for kind in ("wav", "bmp"):
        feats = multimodal.decode_media_features(
            multimodal.synth_media_payloads(docs, kind=kind)
        ).collect()
        assert len(feats) == 20 and all(r.kind == kind for r in feats)
    r = {f.doc_id: f for f in feats}
    # closed-form pixel sums for one doc (kind == bmp from the loop)
    did = next(iter(r))
    expect = sum(
        (did + 3 * x + 5 * y + 11 * c) % 256
        for x in range(8)
        for y in range(6)
        for c in range(3)
    )
    assert r[did].sum_vals == expect and r[did].n_vals == 144


def test_narrowing(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    stats = {r.col_name: r for r in narrowing_stats(li, ["l_quantity", "l_discount"]).collect()}
    assert stats["l_quantity"].narrowed_type in ("int8", "int16")
    assert stats["l_discount"].narrowed_type == "double"
    narrowed = narrow(li.select("l_quantity", "l_discount"))
    dt = dict(narrowed.dtypes)
    assert dt["l_quantity"] in ("tinyint", "smallint")
    assert dt["l_discount"] == "double"
    # values preserved
    a = li.agg(F.sum(F.col("l_quantity").cast("long"))).collect()[0][0]
    b = narrowed.agg(F.sum(F.col("l_quantity").cast("long"))).collect()[0][0]
    assert a == b


def test_narrowing_full_rules(spark):
    """Reference compress parity (src/stata/compress.rs:82-225): Bool,
    all-midnight Date, numeric-String, all-null, and the no-int64-tier
    double fallback with its precision guard."""
    import datetime

    import pytest as _pytest

    df = spark.createDataFrame(
        [
            ("1", "x", datetime.datetime(2020, 1, 1), None, 1, (1 << 60) + 7),
            ("2", "y", datetime.datetime(2020, 1, 2), None, 0, 5),
        ],
        "num_str string, alpha_str string, ship timestamp, empty double, flag int, big long",
    )
    stats = {r.col_name: r.narrowed_type for r in narrowing_stats(df).collect()}
    assert stats == {
        "num_str": "int8",
        "alpha_str": "string",
        "ship": "date",
        "empty": "boolean",
        "flag": "boolean",
        "big": "double",  # reference has no int64 tier
    }
    with _pytest.warns(UserWarning, match="2\\^53"):
        narrowed = narrow(df)
    dt = dict(narrowed.dtypes)
    assert dt == {
        "num_str": "tinyint",
        "alpha_str": "string",
        "ship": "date",
        "empty": "boolean",
        "flag": "boolean",
        "big": "double",
    }
    row = narrowed.orderBy("num_str").first()
    assert row.num_str == 1 and row.flag is True and row.ship == datetime.date(2020, 1, 1)

    # datetimes with a time-of-day component must stay timestamps
    df2 = spark.createDataFrame(
        [(datetime.datetime(2020, 1, 1, 12, 30),)], "ts timestamp"
    )
    assert narrowing_stats(df2).first().narrowed_type == "timestamp"


def test_exact_dedup_finds_planted_duplicates(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(100)
    doubled = docs.union(docs.limit(10))  # plant 10 duplicates
    groups = dedup.exact_dedup_groups(doubled, "doc_id", "text")
    dupes = groups.filter(F.col("n_docs") > 1).count()
    assert dupes == 10


def test_minhash_finds_planted_near_duplicates(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(80)
    # plant: copies with a tweaked tail are near-duplicates
    tweaked = docs.limit(5).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail tweak")).alias("text"),
    )
    all_docs = docs.select("doc_id", "text").union(tweaked)
    pairs = dedup.minhash_lsh_pairs(all_docs, "doc_id", "text").filter(F.col("jaccard") > 0.7)
    found = {(r.a_id, r.b_id) for r in pairs.collect()}
    planted = {(i, i + 100000) for (i,) in docs.limit(5).select("doc_id").collect()}
    assert planted <= found


def test_simhash_hamming_zero_for_identical(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(30)
    copies = docs.select((F.col("doc_id") + 500000).alias("doc_id"), "text")
    pairs = dedup.simhash_pairs(docs.select("doc_id", "text").union(copies), "doc_id", "text")
    exact = pairs.filter((F.col("hamming") == 0) & (F.col("b_id") - F.col("a_id") == 500000))
    assert exact.count() == 30


def test_simhash_band_cardinality_scales(spark, sf_dir):
    """64-bit simhash bands must not hit a fixed bucket ceiling: with a
    few hundred distinct docs the band-key space (4 x 65,536) keeps
    every band well above the 256 keys a byte-banded 16-bit fingerprint
    would max out at (VERDICT r1: the N^2/256 scale-killer)."""
    docs = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[F.md5(F.concat(F.col("id").cast("string"), F.lit(f"w{i}"))) for i in range(12)],
        ).alias("text"),
    )
    fps = dedup.simhash(docs, "doc_id", "text")
    n_keys = (
        fps.select(F.expr("stack(4, 0, b0, 1, b1, 2, b2, 3, b3) AS (band_idx, band_val)"))
        .distinct()
        .count()
    )
    assert n_keys > 256, f"band keys capped at {n_keys}"
    # and the hex fingerprint matches the bands it is derived from
    row = fps.first()
    assert int(row.simhash, 16) == (row.b3 << 48) | (row.b2 << 32) | (row.b1 << 16) | row.b0


def test_simhash_hot_bucket_cap(spark):
    """Adversarial skew fixture (VERDICT r3 #3): a corpus of identical
    boilerplate pages puts the WHOLE corpus in one band bucket per band;
    ``max_bucket`` must truncate deterministically (lowest-N ids) so the
    self-join stays O(cap^2), not O(n^2)."""
    boiler = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate page body repeated across the whole corpus").alias(
            "text"
        ),
    )
    pairs = dedup.simhash_pairs(boiler, "doc_id", "text", max_bucket=50)
    rows = pairs.collect()
    # only the 50 lowest ids survive the cap -> C(50,2) hamming-0 pairs
    assert len(rows) == 50 * 49 // 2
    assert all(r.hamming == 0 and r.a_id < 50 and r.b_id < 50 for r in rows)
    dedup.release_cached(pairs)


def test_minhash_hot_bucket_cap(spark):
    """20 groups x 80 identical docs (under MAX_SHINGLE_DF, so the
    shingle df-cap does not erase them): each group floods its 4 band
    buckets with 80 docs; cap=10 keeps the 10 lowest ids per bucket ->
    exactly C(10,2) jaccard-1.0 pairs per group."""
    docs = spark.range(1600).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.md5(F.concat((F.col("id") % 20).cast("string"), F.lit(f"w{i}")))
                for i in range(12)
            ],
        ).alias("text"),
    )
    pairs = dedup.minhash_lsh_pairs(docs, "doc_id", "text", max_bucket=10)
    rows = pairs.collect()
    assert len(rows) == 20 * (10 * 9 // 2)
    # survivors are each group's 10 lowest ids: g, g+20, ..., g+180
    assert all(r.jaccard == 1.0 and r.a_id < 200 and r.b_id < 200 for r in rows)
    dedup.release_cached(pairs)


def test_lsh_verify_has_no_forced_broadcast(spark, sf_dir):
    """No forced broadcast over any UNBOUNDED relation: the r15 shape's
    one hint covers exactly the hot-shingle df-cap list (bounded by
    shingle_rows / MAX_SHINGLE_DF entries of 8 bytes — and raising the
    df-cap SHRINKS it); candidates/pairs must stay hint-free so AQE
    decides from runtime sizes."""
    docs = load_table(spark, sf_dir, "documents").limit(50)
    pairs = dedup.minhash_lsh_pairs(docs, "doc_id", "text")
    plan = pairs._jdf.queryExecution().analyzed().toString()
    assert plan.count("ResolvedHint") <= 1  # at most the hot-list hint
    if "ResolvedHint" in plan:
        # the hinted subtree must be the df-cap aggregate (HAVING
        # count > cap), not a candidate/pair relation
        hinted = plan.split("ResolvedHint", 1)[1]
        assert "xxhash64" in hinted.split("Join", 1)[0] or "Aggregate" in hinted[:2000]
    dedup.release_cached(pairs)


def test_release_cached_unpersists(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(40)
    pairs = dedup.simhash_pairs(docs, "doc_id", "text")
    pairs.count()
    cached = list(getattr(pairs, "_readstat_cached", []))
    assert cached, "simhash_pairs should track its persisted fingerprints"
    assert any(c.storageLevel.useMemory or c.storageLevel.useDisk for c in cached)
    dedup.release_cached(pairs)
    assert all(
        not (c.storageLevel.useMemory or c.storageLevel.useDisk) for c in cached
    )


def test_cosine_topk_self_similarity(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    # nearest neighbor of a duplicated vector is its copy with sim 1.0
    dup = emb.filter(F.col("vec_id") == 0).select(
        F.lit(999999).cast("long").alias("vec_id"),
        "embedding",
        F.col("label"),
    )
    res = similarity.brute_force_topk(emb.union(dup), emb.filter(F.col("vec_id") == 0), k=1)
    top = res.collect()[0]
    assert top.vec_id == 999999 and top.sim == 1.0


def test_salted_join_matches_plain_join(spark, sf_dir):
    from polars_readstat_rs_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem")  # l_suppkey is skewed-ish (10 suppliers)
    supp = load_table(spark, sf_dir, "supplier")
    plain = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy("s_name").count().collect()
    )
    salted = (
        salted_join(li.withColumnRenamed("l_suppkey", "k"), supp.withColumnRenamed("s_suppkey", "k"), "k")
        .groupBy("s_name").count().collect()
    )
    assert sorted((r.s_name, r["count"]) for r in plain) == sorted(
        (r.s_name, r["count"]) for r in salted
    )


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    """Bucketing both sides on the join key co-locates them: the join
    plan contains no Exchange on the bucketed key."""
    import uuid

    a = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    b = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    ta, tb = f"ta_{uuid.uuid4().hex[:8]}", f"tb_{uuid.uuid4().hex[:8]}"
    a.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ta)
    b.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(tb)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        j = spark.table(ta).join(spark.table(tb), F.col("o_orderkey") == F.col("l_orderkey"))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, "bucketed join still shuffles"
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_blocked_neardup_block_cap(spark, sf_dir):
    """max_block keeps only the lowest-id members of oversized cells —
    the O(block^2) guard for hot blocking keys at scale."""
    from polars_readstat_rs_spark.operators.similarity import blocked_neardup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    capped = blocked_neardup_pairs(emb, threshold=-1.0, max_block=5)
    # every cell contributes at most C(5,2)=10 pairs
    per_blk = {r.blk: r.n for r in capped.groupBy("blk").count().withColumnRenamed("count", "n").collect()}
    assert per_blk and all(n <= 10 for n in per_blk.values())
    # capped result is a subset of the uncapped pairs
    full = blocked_neardup_pairs(emb, threshold=-1.0)
    assert capped.join(full, ["blk", "a_id", "b_id", "sim"], "left_anti").count() == 0


def test_blocked_neardup_chunk_decomposition_exact(spark, sf_dir):
    """The r12 triangle chunk-pair decomposition must be EXACTLY the
    one-task-per-cell result — same pair set, bitwise-same sims — for a
    chunk size that forces every cell through multiple diagonal AND
    cross chunk-pair tasks, and must compose with max_block."""
    from polars_readstat_rs_spark.operators.similarity import blocked_neardup_pairs

    emb = load_table(spark, sf_dir, "embeddings")

    def rows(df):
        return sorted(
            (r["blk"], r["a_id"], r["b_id"], r["sim"]) for r in df.collect()
        )

    # chunk_rows >= cell size: degenerates to one task per cell (the
    # pre-r12 shape) = the truth
    truth = rows(blocked_neardup_pairs(emb, threshold=0.3, chunk_rows=1 << 20))
    assert truth
    # chunk_rows=7 forces multi-chunk cells at every SF (cells are 50+)
    chunked = rows(blocked_neardup_pairs(emb, threshold=0.3, chunk_rows=7))
    assert chunked == truth
    capped_truth = rows(
        blocked_neardup_pairs(emb, threshold=-1.0, max_block=13, chunk_rows=1 << 20)
    )
    capped_chunked = rows(
        blocked_neardup_pairs(emb, threshold=-1.0, max_block=13, chunk_rows=5)
    )
    assert capped_chunked == capped_truth
    import pytest

    with pytest.raises(ValueError):
        blocked_neardup_pairs(emb, chunk_rows=1)


def _spark_round6(x: float) -> float:
    """Spark's round(double, 6): HALF_UP on the double's decimal string
    (numpy's round is half-to-even)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def _fold_pairs(ids, X, threshold):
    """Driver-side exact-cosine reference for one block: every (a < b)
    pair whose rounded cosine reaches ``threshold``, with the dot
    products and squared norms folded over dimensions in ascending
    order, ((0 + a0*b0) + a1*b1) + ..., as the kernel and the SQL
    oracles fold them."""
    import numpy as np

    order = np.argsort(ids, kind="stable")
    ids, X = np.asarray(ids)[order], X[order]
    G = np.zeros((len(ids), len(ids)))
    sq = np.zeros(len(ids))
    for j in range(X.shape[1]):
        G += np.multiply.outer(X[:, j], X[:, j])
        sq += X[:, j] * X[:, j]
    nrm = np.sqrt(sq)
    out = []
    for p, q in zip(*np.triu_indices(len(ids), 1)):
        s = _spark_round6(float(G[p, q] / (nrm[p] * nrm[q])))
        if s >= threshold:
            out.append((int(ids[p]), int(ids[q]), s))
    return out


def _neardup_fixture(spark, id_type: str):
    """300 random 64-dim vectors plus exact copies and near copies whose
    cosine to their source falls from ~0.999 to below 0.9; a copy shares
    its source's block. Ids are shuffled (and above 2^32 for bigint) so
    the kernel's id sort matters. Four input partitions, so the block
    window needs its own exchange."""
    import numpy as np

    rng = np.random.default_rng(11)
    X = rng.normal(size=(300, 64))
    blocks = list(rng.integers(0, 3, 300))
    src = rng.choice(300, 40, replace=False)
    copies = [X[s] for s in src[:15]]
    copies += [X[s] + rng.normal(size=64) * (0.05 + 0.02 * k) for k, s in enumerate(src[15:])]
    X = np.vstack([X, copies])
    blocks += [blocks[s] for s in src]
    ids = rng.permutation(len(X)) * 3 + (1 << 33 if id_type == "bigint" else 5)
    rows = [(int(i), int(b), [float(x) for x in v]) for i, b, v in zip(ids, blocks, X)]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 4),
        f"vec_id {id_type}, label int, embedding array<double>",
    )
    return df, ids, np.array(blocks), X


def _bitwise(rows):
    return sorted(tuple(r[:-1]) + (float(r[-1]).hex(),) for r in rows)


@pytest.mark.parametrize("id_type", ["int", "bigint"])
def test_neardup_kernel_matches_a_numpy_reference(spark, id_type):
    """srp_neardup_pairs and blocked_neardup_pairs (one chunk per block,
    and chunk_rows=7 so every block runs diagonal and cross chunk-pair
    tasks) equal a driver-side numpy reference row for row, every sim
    bitwise, for int32 and int64 ids."""
    import numpy as np

    df, ids, blocks, X = _neardup_fixture(spark, id_type)
    want = []
    for b in np.unique(blocks):
        m = blocks == b
        want += [(int(b),) + p for p in _fold_pairs(ids[m], X[m], 0.3)]
    assert len(want) > 100
    for chunk_rows in (4096, 7):
        got = similarity.blocked_neardup_pairs(df, threshold=0.3, chunk_rows=chunk_rows).collect()
        assert _bitwise(got) == _bitwise(want), chunk_rows

    # SRP: the same 4 bands x 16 sign bits of the same planes, each band
    # bucket a block (no bucket nears MAX_BAND_BUCKET), pairs unioned
    nbits, nbands = 64, 4
    H = np.array([similarity._srp_plane("srp", b, 64) for b in range(nbits)]).T
    acc = np.zeros((len(X), nbits))
    for j in range(64):
        acc += X[:, j : j + 1] * H[j][None, :]
    per = nbits // nbands
    bands = (acc >= 0).reshape(len(X), nbands, per) @ (1 << np.arange(per))
    want = set()
    for k in range(nbands):
        for v in np.unique(bands[:, k]):
            m = bands[:, k] == v
            want.update(_fold_pairs(ids[m], X[m], 0.9))
    assert len(want) >= 25
    got = similarity.srp_neardup_pairs(df, threshold=0.9).collect()
    assert _bitwise(got) == _bitwise(want)


def test_neardup_plan_is_one_grouped_arrow_node(spark):
    """The per-group kernel is a grouped-Arrow node, not a grouped-pandas
    one. The one-member-block count shares the block-max Window node, so
    the plan keeps two Window nodes and its exchanges: the block hash
    (which the chunk-pair grouping reuses), plus the pair distinct for
    SRP."""
    df = _neardup_fixture(spark, "int")[0]
    for out, exchanges in (
        (similarity.blocked_neardup_pairs(df, threshold=0.3), 1),
        (similarity.srp_neardup_pairs(df, threshold=0.9), 2),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInArrow" in plan and "FlatMapGroupsInPandas" not in plan, plan
        assert plan.count("Exchange") == exchanges, plan
        assert plan.count("Window [") == 2, plan


def _metric_sum(df, node: str, metric: str = "numOutputRows") -> int:
    """Sum of one SQL metric over every ``node`` in the plan ``df`` ran."""
    total, stack = 0, [df._jdf.queryExecution().executedPlan()]
    while stack:
        p = stack.pop()
        if p.nodeName() == node:
            total += p.metrics().get(metric).get().value()
        kids = p.children()
        stack += [kids.apply(i) for i in range(kids.size())]
    return total


def test_one_member_blocks_never_reach_python(spark):
    """Ten one-member blocks and one three-member block: only the three
    members are fanned out to the per-group kernel."""
    rows = [(i, i, [1.0, float(i)]) for i in range(10)]
    rows += [(10 + k, 99, [1.0, k + 0.5]) for k in range(3)]
    df = spark.createDataFrame(rows, "vec_id int, label int, embedding array<double>")
    out = similarity.blocked_neardup_pairs(df, threshold=-1.0)
    assert sorted((r.blk, r.a_id, r.b_id) for r in out.collect()) == [
        (99, 10, 11), (99, 10, 12), (99, 11, 12)
    ]
    assert _metric_sum(out, "Generate") == 3


def test_blocked_neardup_rejects_ragged_vectors(spark):
    """Vectors of differing lengths in one block raise a ValueError that
    names the expected dimension; their total (12 = 3 x 4) would let a
    bare reshape misalign them silently."""
    rows = [(0, 1, [1.0, 2.0, 3.0, 4.0]), (1, 1, [1.0, 2.0, 3.0]), (2, 1, [1.0, 2.0, 3.0, 4.0, 5.0])]
    df = spark.createDataFrame(rows, "vec_id int, label int, embedding array<double>")
    with pytest.raises(Exception) as err:
        similarity.blocked_neardup_pairs(df, threshold=-1.0).collect()
    assert "ValueError" in str(err.value) and "expected dimension 4" in str(err.value)


@pytest.mark.parametrize("id_type", ["int", "bigint"])
def test_neardup_null_vector_element_never_pairs(spark, id_type):
    """A null element reads as NaN: the vector's cosines are NaN, so it
    pairs with nothing, not even its exact copy, while the other pairs of
    its block are kept. Its SRP sign bits are all 0 (NaN >= 0 is false)."""
    import numpy as np

    base = np.random.default_rng(3).normal(size=8)
    holed = [float(x) for x in base]
    holed[3] = None
    rows = [
        (0, 1, [float(x) for x in base]),
        (1, 1, [float(x) for x in base]),
        (2, 1, holed),
        (3, 1, [float(x) for x in base + 0.01]),
    ]
    df = spark.createDataFrame(rows, f"vec_id {id_type}, label int, embedding array<double>")
    got = similarity.blocked_neardup_pairs(df, threshold=-1.0).collect()
    assert sorted((r.a_id, r.b_id) for r in got) == [(0, 1), (0, 3), (1, 3)]
    got = similarity.srp_neardup_pairs(df, threshold=-1.0, dim=8, nbits=8, nbands=2).collect()
    assert sorted((r.a_id, r.b_id) for r in got) == [(0, 1), (0, 3), (1, 3)]
    sigs = {r.vid: (r.b0, r.b1) for r in similarity.srp_signatures(df, dim=8, nbits=8, nbands=2).collect()}
    assert sigs[2] == (0, 0)


def test_kmeans_ivf_recall(spark, sf_dir):
    """k-means IVF: assignment is a total partition, every cell is
    nearest-centroid-consistent, and probed top-k recalls a reasonable
    fraction of the brute-force neighbors. exact=False (the 100 TB
    update path) produces an equally valid clustering."""
    from polars_readstat_rs_spark.operators.similarity import (
        brute_force_topk,
        kmeans_cells,
        kmeans_ivf_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    assigned, cents = kmeans_cells(emb, ncells=8, iters=2)
    assert assigned.count() == n  # total partition, no drops
    assert cents.count() <= 8

    queries = emb.filter(F.col("vec_id") < 5)
    exact_nn = {
        (r.q_id, r.vec_id) for r in brute_force_topk(emb, queries, k=10).collect()
    }
    got = kmeans_ivf_topk(emb, queries, k=10, nprobe=3, ncells=8, iters=2).collect()
    approx_nn = {(r.q_id, r.vec_id) for r in got}
    recall = len(exact_nn & approx_nn) / len(exact_nn)
    assert recall >= 0.3, recall  # nprobe=3/8 cells on random-ish data

    fast = kmeans_ivf_topk(emb, queries, k=10, nprobe=3, ncells=8, iters=2, exact=False)
    assert fast.count() == 50


def test_frame_sampling_shape(spark, sf_dir):
    """sample_frames fans one row out to every stride-th frame with the
    cap applied; frames re-concatenate to a prefix of the source text."""
    from polars_readstat_rs_spark.operators.multimodal import attach_payload, sample_frames

    docs = load_table(spark, sf_dir, "documents").limit(20)
    frames = sample_frames(attach_payload(docs, "video"), frame_chars=10, stride=1, max_frames=4)
    got = {}
    for r in frames.collect():
        got.setdefault(r.doc_id, []).append((r.frame_idx, r.frame))
        assert r.frame_len == len(r.frame) <= 10
    texts = {r.doc_id: r.text for r in docs.collect()}
    assert set(got) == {d for d, t in texts.items() if t}
    for doc_id, fr in got.items():
        fr.sort()
        assert [i for i, _ in fr] == list(range(len(fr))) and len(fr) <= 4
        assert "".join(f for _, f in fr) == texts[doc_id][: len(fr) * 10]


def test_hash_sample_deterministic_and_stable(spark):
    """The hash Bernoulli sample is a pure function of (seed, id): the
    same rows are kept regardless of partitioning, and a superset input
    keeps every previously-sampled row (incremental stability)."""
    from pyspark.sql import functions as F

    from polars_readstat_rs_spark.operators import sampling

    small = spark.range(0, 1000).withColumnRenamed("id", "k")
    big = spark.range(0, 2000).withColumnRenamed("id", "k")
    s1 = {r.k for r in sampling.hash_sample(small, "k", 0.3).collect()}
    s1b = {r.k for r in sampling.hash_sample(small.repartition(13), "k", 0.3).collect()}
    s2 = {r.k for r in sampling.hash_sample(big, "k", 0.3).collect()}
    assert s1 == s1b
    assert s1 == {k for k in s2 if k < 1000}
    assert 0.2 < len(s1) / 1000 < 0.4  # roughly the asked rate
    # a different seed gives a different (but equally deterministic) set
    s3 = {r.k for r in sampling.hash_sample(small, "k", 0.3, seed="other").collect()}
    assert s3 != s1


def test_pack_sequences_budget_contract(spark):
    """Packs are contiguous in id, never span a group block, and
    overshoot the budget by less than one document."""
    from pyspark.sql import functions as F

    from polars_readstat_rs_spark.operators import sampling

    df = spark.range(0, 500).select(
        F.col("id"), ((F.col("id") * 37) % 90 + 10).alias("tok")
    )
    out = sampling.pack_sequences(df, "id", F.col("tok"), budget=200, group_span=100)
    rows = out.orderBy("id").collect()
    assert len(rows) == 500
    by_pack = {}
    for r in rows:
        by_pack.setdefault(r.pack_id, []).append(r)
    for pid, docs in by_pack.items():
        total = sum(d.n_tokens for d in docs)
        # overshoot strictly less than the last document's size
        assert total < 200 + docs[-1].n_tokens
        # contiguous ids, all within one group block
        ids = [d.id for d in docs]
        assert ids == sorted(ids)
        assert len({d.id // 100 for d in docs}) == 1
        assert [d.pack_pos for d in docs] == list(range(1, len(docs) + 1))


def test_contamination_report_exact_dup(spark):
    """A test doc identical to a train doc is 100% contaminated; a
    disjoint-vocabulary doc reports no overlap (absent from result)."""
    from polars_readstat_rs_spark.operators import sampling

    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")], ["doc_id", "text"]
    )
    test = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),
            (101, "completely different words entirely here now"),
        ],
        ["doc_id", "text"],
    )
    rows = sampling.contamination_report(train, test, "doc_id", "text", n=3).collect()
    assert len(rows) == 1 and rows[0].doc == 100
    assert rows[0].contamination == 1.0


def test_srp_neardup_finds_planted_pair(spark):
    """A planted near-identical vector pair must collide in at least one
    SRP band and survive the cosine verify; the band join must not
    produce the full cross product on dissimilar vectors."""
    import random

    from pyspark.sql import functions as F

    from polars_readstat_rs_spark.operators import similarity

    rnd = random.Random(7)
    base = [rnd.uniform(-1, 1) for _ in range(64)]
    near = [x + 0.001 for x in base]
    rows = [(0, [float(x) for x in base]), (1, [float(x) for x in near])]
    for i in range(2, 40):
        rows.append((i, [rnd.uniform(-1, 1) for _ in range(64)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.srp_neardup_pairs(df, threshold=0.99)
    got = {(r.a_id, r.b_id) for r in out.collect()}
    assert (0, 1) in got
    similarity.release_cached(out)
    # signatures of identical vectors are identical
    sigs = similarity.srp_signatures(df).collect()
    by_id = {r.vid: (r.b0, r.b1, r.b2, r.b3) for r in sigs}
    assert by_id[0] == by_id[1]


def test_neardup_components_labels(spark):
    """Min-label propagation: a chain a-b-c collapses to one component
    labeled by the smallest id; disjoint pairs stay separate; the keep
    list (node == comp) has exactly one representative per cluster."""
    from polars_readstat_rs_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "a_id long, b_id long",
    )
    out = dedup.neardup_components(pairs)
    comp = {r.node: r.comp for r in out.collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20}
    keepers = {n for n, c in comp.items() if n == c}
    assert keepers == {1, 10, 20}
    dedup.release_cached(out)


def test_simhash_lane_widths_agree(spark):
    """lane_bits=32 produces identical fingerprints to the default
    16-bit lanes; a document with more distinct tokens than a 16-bit
    lane can count fails loudly at 16 and succeeds at 32."""
    from pyspark.sql import functions as F

    from polars_readstat_rs_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta iota")],
        ["doc_id", "text"],
    )
    a = sorted(map(tuple, dedup.simhash(docs, "doc_id", "text").collect()))
    b = sorted(map(tuple, dedup.simhash(docs, "doc_id", "text", lane_bits=32).collect()))
    assert a == b

    big = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(70000)))], ["doc_id", "text"]
    )
    import pytest as _pytest

    # either the lane-capacity raise_error fires (n_tok guard) or, for
    # very large token counts, the ANSI long-overflow check in the
    # packed SUM itself — both are loud, neither corrupts silently
    with _pytest.raises(Exception, match="overflow"):
        dedup.simhash(big, "doc_id", "text").collect()
    rows = dedup.simhash(big, "doc_id", "text", lane_bits=32).collect()
    assert len(rows) == 1 and len(rows[0].simhash) == 16


def test_redact_pii_and_repetition(spark):
    from polars_readstat_rs_spark.operators import textstats

    docs = spark.createDataFrame(
        [
            (1, "mail me at a.b+x@corp.example.org or call 555-867-5309 now"),
            (2, "server at 192.168.0.1 and 10.0.0.255 up"),
            (3, "clean text with no identifiers at all"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in textstats.redact_pii(docs).collect()}
    assert out[1].n_email == 1 and out[1].n_phone == 1 and out[1].n_pii == 2
    assert "<EMAIL>" in out[1].redacted and "<PHONE>" in out[1].redacted
    assert "@" not in out[1].redacted
    assert out[2].n_ipv4 == 2 and out[2].redacted.count("<IPV4>") == 2
    assert out[3].n_pii == 0 and out[3].redacted == "clean text with no identifiers at all"

    rep = spark.createDataFrame(
        [(1, "spam spam spam spam spam spam"), (2, "all words here are different tokens")],
        ["doc_id", "text"],
    )
    r = {x.doc_id: x for x in textstats.repetition_stats(rep).collect()}
    assert r[1].n_grams == 4 and r[1].n_distinct == 1 and r[1].flagged
    assert r[2].dup_frac == 0.0 and not r[2].flagged


def test_incremental_dedup_matches_full_run(spark, sf_dir):
    """Base-vs-new incremental pairs are exactly the full-corpus LSH
    pairs that cross the base/new boundary — no pair lost, none added,
    and no base-vs-base recompute in the output."""
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    base = docs.filter(F.col("doc_id") % 5 != 0)
    incr = dedup.incremental_minhash_pairs(base, new, "doc_id", "text")
    got = {(r.base_id, r.new_id, r.inter) for r in incr.collect()}
    dedup.release_cached(incr)

    full = dedup.minhash_lsh_pairs(docs, "doc_id", "text")
    crossing = {
        (r.a_id, r.b_id) if r.b_id % 5 == 0 else (r.b_id, r.a_id): r.inter
        for r in full.collect()
        if (r.a_id % 5 == 0) != (r.b_id % 5 == 0)
    }
    dedup.release_cached(full)
    assert {(b, n) for b, n, _ in got} == set(crossing)
    for b, n, inter in got:
        assert crossing[(b, n)] == inter


def test_profile_numeric_matches_direct_aggregates(spark, sf_dir):
    from polars_readstat_rs_spark.operators.profile import profile_numeric

    li = load_table(spark, sf_dir, "lineitem")
    rows = {r.col_name: r for r in profile_numeric(li, ["l_quantity", "l_tax"]).collect()}
    assert set(rows) == {"l_quantity", "l_tax"}
    direct = li.agg(
        F.count("l_quantity").alias("n"),
        F.count_distinct("l_quantity").alias("nd"),
        F.min("l_quantity").alias("mn"),
        F.max("l_quantity").alias("mx"),
        F.expr("percentile(l_quantity, 0.5)").alias("p50"),
    ).collect()[0]
    q = rows["l_quantity"]
    assert (q.n, q.n_distinct, q.min_v, q.max_v, q.p50) == (
        direct.n, direct.nd, float(direct.mn), float(direct.mx), direct.p50
    )
    assert q.n_null == 0 and q.mean_v == q.sum_v / q.n

    # approx_distinct path: same shape, estimate within HLL tolerance
    approx = {
        r.col_name: r
        for r in profile_numeric(li, ["l_quantity"], approx_distinct=True).collect()
    }["l_quantity"]
    assert abs(approx.n_distinct - direct.nd) <= max(3, 0.1 * direct.nd)


def test_expectations_report(spark, sf_dir):
    from polars_readstat_rs_spark.operators.expectations import expect

    li = load_table(spark, sf_dir, "lineitem")
    report = {
        r.rule_name: r
        for r in expect(
            li,
            rules={
                "qty_positive": F.col("l_quantity") > 0,
                "qty_over_45": F.col("l_quantity") > 45,  # known violations
                "tax_not_null": F.col("l_tax").isNotNull(),
            },
            unique={
                "pk_unique": ["l_orderkey", "l_linenumber"],
                "qty_unique": ["l_quantity"],  # known violations
            },
        ).collect()
    }
    n = li.count()
    assert report["qty_positive"].passed and report["qty_positive"].n_violations == 0
    over = li.filter(~(F.col("l_quantity") > 45)).count()
    assert report["qty_over_45"].n_violations == over and not report["qty_over_45"].passed
    assert report["tax_not_null"].passed
    # the synthetic testdata does NOT keep (orderkey, linenumber) unique;
    # assert the exact violation count rather than assuming a clean PK
    nd_pk = li.select("l_orderkey", "l_linenumber").distinct().count()
    assert report["pk_unique"].n_violations == n - nd_pk
    assert report["pk_unique"].passed == (n == nd_pk)
    nd = li.select("l_quantity").distinct().count()
    assert report["qty_unique"].n_violations == n - nd
    assert all(r.n_rows == n for r in report.values())


def test_gopher_quality_rules(spark):
    from polars_readstat_rs_spark.operators import textstats

    docs = spark.createDataFrame(
        [
            # 20 words of length 4 incl. 2 stopwords -> every rule passes
            (1, "the and " + " ".join(["word"] * 18)),
            (2, "the and tiny doc"),  # word-count rule fails
            (3, " ".join(["word"] * 25)),  # no stopwords -> stopword rule fails
            (4, "the and " + " ".join(["x"] * 30)),  # avg word length too small
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in textstats.gopher_quality(docs).collect()}
    assert out[1]["keep"]
    assert not out[2]["rule_word_count"] and not out[2]["keep"]
    assert out[3]["rule_word_count"] and not out[3]["rule_stopwords"]
    assert not out[4]["rule_avg_len"]


def test_bigram_lm_counts(spark):
    import math

    from polars_readstat_rs_spark.operators import textstats

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "solo")],
        ["doc_id", "text"],
    )
    # corpus bigrams: doc1 {a b, b a, a b}, doc2 {a b, b c}
    # counts: "a b"=3, "b a"=1, "b c"=1; prefix counts: a->3... wait
    # c(a ·)=3 ("a b" x3), c(b ·)=2 ("b a","b c")
    out = {r["doc_id"]: r for r in textstats.bigram_lm(docs).collect()}
    assert out[1]["n_bigrams"] == 3 and out[1]["sum_bg_count"] == 3 + 1 + 3
    assert out[2]["n_bigrams"] == 2 and out[2]["min_bg_count"] == 1
    assert out[3]["n_bigrams"] is None  # single-token doc scores NULL
    # P(b|a)=3/3, P(a|b)=1/2, P(b|a)=1 -> sum ln = ln(1)+ln(.5)+ln(1)
    assert abs(out[1]["sum_logprob"] - math.log(0.5)) < 1e-12


def test_salted_join_matches_plain_join(spark, sf_dir):
    from pyspark.sql import functions as F

    from polars_readstat_rs_spark.operators import skew
    from polars_readstat_rs_spark.tables import load_table

    orders = load_table(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "custkey")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_nationkey"
    )
    salted = skew.salted_join(orders, cust, "custkey")
    plain = orders.join(cust, "custkey")
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0
    import pytest

    with pytest.raises(ValueError):
        skew.salted_join(orders, cust, "custkey", how="full_outer")


def test_upsert_semantics(spark):
    from polars_readstat_rs_spark.operators import merge

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["k", "s", "v"]
    )
    updates = spark.createDataFrame([(2, "B", 99.0), (4, "d", 40.0)], ["k", "s", "v"])
    out = {r["k"]: r for r in merge.upsert(base, updates, ["k"]).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[2]["s"] == "B" and out[2]["v"] == 99.0  # update wins
    assert out[4]["s"] == "d"  # insert appended
    assert out[1]["v"] == 10.0 and out[3]["v"] == 30.0  # untouched survive
    import pytest

    with pytest.raises(ValueError):
        merge.upsert(base, updates.select("s", "k", "v"), ["k"])


def test_bpe_pair_counts(spark):
    from polars_readstat_rs_spark.operators import textstats

    docs = spark.createDataFrame(
        [(1, "it's abc abc"), (2, "x 12 abc")], ["doc_id", "text"]
    )
    # pre-tokens doc1: [it, 's, " abc", " abc"]; doc2: [x, " 12", " abc"]
    # "it" -> pair "it"; "'s" -> "'s"; " abc" -> [" a","ab","bc"]
    out = {r["pair"]: r for r in textstats.bpe_pair_counts(docs).collect()}
    assert out["ab"]["n_pair"] == 3 and out["ab"]["n_docs"] == 2
    assert out["it"]["n_pair"] == 1
    assert out["'s"]["n_pair"] == 1
    assert out[" 1"]["n_pair"] == 1  # digit-run token keeps its space prefix
    assert "x" not in out  # single-char token contributes no pair


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from polars_readstat_rs_spark.operators import bucketing
    from polars_readstat_rs_spark.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    bucketing.write_bucketed(
        orders.withColumnRenamed("o_custkey", "custkey"),
        "orders_b", str(tmp_path / "orders_b"), ["custkey"], 8,
    )
    bucketing.write_bucketed(
        cust.withColumnRenamed("c_custkey", "custkey"),
        "customer_b", str(tmp_path / "customer_b"), ["custkey"], 8,
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketing.bucketed_join(spark, "orders_b", "customer_b", ["custkey"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucketing satisfied both distributions
        expected = (
            orders.join(cust, orders.o_custkey == cust.c_custkey).count()
        )
        assert joined.count() == expected
        # groupBy on the bucket column is shuffle-free too
        agg = spark.table("orders_b").groupBy("custkey").agg(F.count("*").alias("n"))
        agg_plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in agg_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


def test_partitioned_write_prunes_directories(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from polars_readstat_rs_spark.operators import bucketing
    from polars_readstat_rs_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "events_by_type")
    bucketing.write_partitioned(ev, path, ["event_type"])
    back = bucketing.read_pruned(spark, path)
    one = back.filter(F.col("event_type") == "click")
    plan = one._jdf.queryExecution().executedPlan().toString()
    # partition filter reached the scan and pruned to ONE directory
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters")[1][:200]
    n_types = ev.select("event_type").distinct().count()
    import glob

    assert len(glob.glob(f"{path}/event_type=*")) == n_types
    expected = ev.filter(F.col("event_type") == "click").count()
    assert one.count() == expected


def test_blocked_fuzzy_pairs_and_cap(spark):
    """Fuzzy matching pairs names within a block by edit distance; hot
    blocks above max_block are excluded deterministically."""
    from polars_readstat_rs_spark.operators import fuzzy

    rows = [("red bolt",), ("red bolt",), ("rod bolt",), ("blue bolt",), ("red gear",), ("rad gear",)]
    df = spark.createDataFrame(rows, ["nm"])
    block = F.element_at(F.split(F.col("name"), " "), -1)
    got = {
        (r.name_a, r.name_b, r.dist)
        for r in fuzzy.blocked_fuzzy_pairs(df, "nm", block, max_dist=2).collect()
    }
    # duplicates collapse via distinct; cross-block pairs never compared
    assert ("red bolt", "rod bolt", 1) in got
    assert ("rad gear", "red gear", 1) in got
    assert all(a.split()[-1] == b.split()[-1] for a, b, _ in got)
    # the bolt block has 3 distinct names -> capped out with max_block=2
    capped = {
        (r.name_a, r.name_b)
        for r in fuzzy.blocked_fuzzy_pairs(df, "nm", block, max_dist=2, max_block=2).collect()
    }
    assert capped == {("rad gear", "red gear")}


def test_fuzzy_join_best_match(spark):
    """fuzzy_join keeps every fact row once with its best dim match."""
    from polars_readstat_rs_spark.operators import fuzzy

    facts = spark.createDataFrame(
        [(1, "red bollt"), (2, "blue bolt"), (3, "zzz qqq")], ["fid", "fname"]
    )
    dim = spark.createDataFrame([("red bolt",), ("blue bolt",), ("red gear",)], ["dname"])
    blk = F.element_at(F.split(F.col("fname"), " "), 1)
    dblk = F.element_at(F.split(F.col("dname"), " "), 1)
    out = {
        r.fid: (r.matched_name, r.match_dist)
        for r in fuzzy.fuzzy_join(facts, dim, "fid", "fname", "dname", blk, dblk, max_dist=2).collect()
    }
    assert out[1] == ("red bolt", 1)
    assert out[2] == ("blue bolt", 0)
    assert out[3] == (None, None)  # unmatched rows survive with NULLs
    assert len(out) == 3


def test_resample_gapfill_daily(spark):
    """Gap days appear with n_events=0 and forward-filled totals."""
    import datetime

    from polars_readstat_rs_spark.operators import timeseries

    d = datetime.datetime
    rows = [
        (1, d(2024, 1, 1, 5), 10.0),
        (1, d(2024, 1, 1, 7), 2.5),
        (1, d(2024, 1, 4, 1), 4.0),  # 2-day gap before this
        (2, d(2024, 1, 2, 0), 1.0),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    out = {
        (r.user_id, str(r.day)): (r.n_events, r.day_total, r.filled_total)
        for r in timeseries.resample_gapfill_daily(ev, "user_id", "ts", "value").collect()
    }
    assert out[(1, "2024-01-01")] == (2, 12.5, 12.5)
    assert out[(1, "2024-01-02")] == (0, None, 12.5)  # gap row, LOCF
    assert out[(1, "2024-01-03")] == (0, None, 12.5)
    assert out[(1, "2024-01-04")] == (1, 4.0, 4.0)
    assert out[(2, "2024-01-02")] == (1, 1.0, 1.0)
    assert len(out) == 5  # user 2 spans a single day


def test_importance_sample_weight_monotone(spark):
    """Keep probability follows the weight column: weight 0 keeps
    nothing, weight 1 keeps everything, and the kept set is stable."""
    from polars_readstat_rs_spark.operators import sampling

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    none = sampling.importance_sample(df, "k", F.lit(0.0)).count()
    everything = sampling.importance_sample(df, "k", F.lit(1.0)).count()
    half = sampling.importance_sample(df, "k", F.lit(0.5)).count()
    assert none == 0 and everything == 2000
    assert 800 < half < 1200
    # equivalent to hash_sample at the same rate (same bucket arithmetic)
    a = {r.k for r in sampling.importance_sample(df, "k", F.lit(0.3)).collect()}
    b = {r.k for r in sampling.hash_sample(df, "k", 0.3).collect()}
    assert a == b


def test_zipf_stats_counts_and_shares(spark):
    """Ranks order by count desc then token; shares are exact-count
    ratios; cum_share is monotone to 1 over the full vocabulary."""
    from polars_readstat_rs_spark.operators import textstats

    docs = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "a b x")], ["doc_id", "text"]
    )
    rows = {r.token: r for r in textstats.zipf_stats(docs, top_k=10).collect()}
    assert rows["a"].rank == 1 and rows["a"].cnt == 4
    assert rows["b"].rank == 2 and rows["b"].cnt == 3
    assert {rows["c"].rank, rows["x"].rank} == {3, 4}
    assert abs(rows["a"].share - 4 / 9) < 1e-15
    last = max(rows.values(), key=lambda r: r.rank)
    assert abs(last.cum_share - 1.0) < 1e-15


def test_chunk_documents_coverage_and_overlap(spark):
    """Chunks tile the document with the configured stride; the last
    chunk reaches the end; short docs yield exactly one chunk."""
    from polars_readstat_rs_spark.operators.text import chunk_documents

    text = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame([(1, text), (2, "solo token")], ["doc_id", "text"])
    rows = chunk_documents(docs, "doc_id", "text", chunk_size=4, stride=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.chunk_id] = r
    d1 = by_doc[1]
    # 10 words, size 4, stride 2 -> kmax = ceil(6/2) = 3 -> 4 chunks
    assert sorted(d1) == [0, 1, 2, 3]
    assert d1[0].chunk_text == "w0 w1 w2 w3" and d1[0].chunk_tokens == 4
    assert d1[1].chunk_text == "w2 w3 w4 w5"
    assert d1[3].chunk_text == "w6 w7 w8 w9"  # reaches the document end
    assert by_doc[2][0].chunk_text == "solo token" and by_doc[2][0].chunk_tokens == 2
    assert len(by_doc[2]) == 1


def test_triangle_stats_known_graph(spark):
    """A 4-clique plus a pendant vertex: C(4,3)=4 triangles, the count
    is orientation-invariant and the clustering ratio exact."""
    from polars_readstat_rs_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)], ["s", "d"]
    )
    r = graph.triangle_stats(edges).collect()[0]
    assert r.n_vertices == 5 and r.n_edges == 7
    assert r.n_triangles == 4
    # degrees 3,3,3,4,1 -> wedges 3+3+3+6+0 = 15
    assert r.n_wedges == 15
    assert abs(r.clustering - 3.0 * 4 / 15) < 1e-15


def test_cooccurrence_edges_basket_cap(spark):
    """Groups above max_basket are excluded deterministically."""
    from polars_readstat_rs_spark.operators import graph

    rows = [(1, p) for p in range(5)] + [(2, 10), (2, 11), (2, 10)]
    df = spark.createDataFrame(rows, ["g", "p"])
    all_edges = graph.cooccurrence_edges(df, "g", "p").count()
    assert all_edges == 10 + 1  # C(5,2) + one (10,11) edge; dup row collapses
    capped = {(r.s, r.d) for r in graph.cooccurrence_edges(df, "g", "p", max_basket=2).collect()}
    assert capped == {(10, 11)}


def test_bfs_hops_path_graph(spark):
    """On a path 1-2-3-4-5 seeded at 1, hops are positions; the cap
    truncates the frontier."""
    from polars_readstat_rs_spark.operators import graph

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (4, 5)], ["s", "d"])
    seeds = spark.createDataFrame([(1,)], ["v"])
    out = {r.v: r.hop for r in graph.bfs_hops(edges, seeds, max_hops=3).collect()}
    assert out == {1: 0, 2: 1, 3: 2, 4: 3}  # vertex 5 is beyond the cap
    # two seeds: min distance wins
    seeds2 = spark.createDataFrame([(1,), (5,)], ["v"])
    out2 = {r.v: r.hop for r in graph.bfs_hops(edges, seeds2, max_hops=3).collect()}
    assert out2 == {1: 0, 2: 1, 3: 2, 4: 1, 5: 0}


def test_iqr_outliers_and_histogram(spark):
    """Fences derive from exact quartiles; histogram shares sum to 1."""
    from polars_readstat_rs_spark.operators.profile import histogram, iqr_outliers

    rows = [("a", float(v)) for v in range(1, 12)] + [("a", 100.0), ("b", 5.0)]
    df = spark.createDataFrame(rows, ["g", "v"])
    out = {r.g: r for r in iqr_outliers(df, "g", "v").collect()}
    # group a: p25=3.75, p75=9.25 over 1..11 + 100 -> 100 is the only outlier
    assert out["a"].n_outliers == 1
    assert out["a"].min_outlier == 100.0 and out["a"].max_outlier == 100.0
    assert "b" not in out  # a single value can't leave its own fences

    h = histogram(df.filter(F.col("g") == "a"), "g", "v", 10.0).collect()
    by_bin = {r.bin: r for r in h}
    assert by_bin[0].n == 9 and by_bin[1].n == 2 and by_bin[10].n == 1
    assert abs(sum(r.share for r in h) - 1.0) < 1e-12
    assert by_bin[10].bin_lo == 100.0


def test_sample_n_per_group_exact_and_stable(spark):
    """Exactly n rows per group (or the whole group), and the chosen set
    is a pure function of (seed, id) — stable across partitionings."""
    from polars_readstat_rs_spark.operators import sampling

    df = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g")
    )
    out = sampling.sample_n_per_group(df, "k", "g", 10)
    counts = {r.g: r.n for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert counts == {0: 10, 1: 10, 2: 10}
    a = {r.k for r in out.collect()}
    b = {r.k for r in sampling.sample_n_per_group(df.repartition(17), "k", "g", 10).collect()}
    assert a == b
    # tiny group: returned whole
    tiny = df.filter(F.col("k") < 5)
    assert sampling.sample_n_per_group(tiny, "k", "g", 10).count() == 5


def test_asof_nearest_directions_and_tolerance(spark):
    """Nearest matches look both directions, ties break backward, and
    rows beyond the tolerance stay unmatched."""
    import datetime

    from polars_readstat_rs_spark.operators.asof import asof_nearest

    d = datetime.datetime
    left = spark.createDataFrame(
        [
            (1, 100, d(2024, 1, 1, 12, 0)),   # signup 1h before vs 2h after -> backward
            (1, 101, d(2024, 1, 1, 13, 30)),  # 30m to later signup -> forward
            (1, 102, d(2024, 1, 2, 23, 0)),   # nothing within 6h -> null
            (2, 200, d(2024, 1, 1, 9, 0)),    # exact-tie: same-ts signup wins at delta 0
        ],
        ["user_id", "event_id", "ts"],
    )
    right = spark.createDataFrame(
        [
            (1, d(2024, 1, 1, 11, 0)),
            (1, d(2024, 1, 1, 14, 0)),
            (2, d(2024, 1, 1, 9, 0)),
        ],
        ["user_id", "ts"],
    )
    out = {
        r.event_id: (r.matched_ts, r.delta_ms)
        for r in asof_nearest(left, right, "user_id", "ts", 6 * 3600 * 1000).collect()
    }
    assert out[100] == (d(2024, 1, 1, 11, 0), -3600 * 1000)
    assert out[101] == (d(2024, 1, 1, 14, 0), 1800 * 1000)
    assert out[102] == (None, None)
    assert out[200] == (d(2024, 1, 1, 9, 0), 0)
    assert len(out) == 4


def test_pq_topk_finds_duplicate_vector(spark, sf_dir):
    """A duplicated query vector shares all m codes with the original,
    so ADC scores it at the query's own reconstruction — rank 1."""
    emb = load_table(spark, sf_dir, "embeddings")
    dup = emb.filter(F.col("vec_id") == 0).select(
        F.lit(999999).cast("long").alias("vec_id"), "embedding", "label"
    )
    res = similarity.pq_topk(
        emb.union(dup), emb.filter(F.col("vec_id") == 0), k=5
    ).collect()
    assert len(res) == 5
    assert [r.rank for r in sorted(res, key=lambda r: r.rank)] == [1, 2, 3, 4, 5]
    top = min(res, key=lambda r: r.rank)
    assert top.vec_id == 999999


def test_event_patterns_counts(spark):
    """Ordered code strings and non-overlapping regex match counts."""
    import datetime

    from polars_readstat_rs_spark.operators import textstats

    d = datetime.datetime
    rows = [
        (1, 1, d(2024, 1, 1, 1), "click"),
        (1, 2, d(2024, 1, 1, 2), "click"),
        (1, 3, d(2024, 1, 1, 3), "purchase"),   # ccp -> one "cc*p" match
        (1, 4, d(2024, 1, 1, 4), "purchase"),   # no preceding click
        (2, 5, d(2024, 1, 1, 1), "view"),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "event_id", "ts", "event_type"])
    out = {r.user_id: (r.n_events, r.n_matches) for r in textstats.event_patterns(ev, "cc*p").collect()}
    assert out == {1: (4, 1), 2: (1, 0)}


def test_snapshot_diff_classification(spark):
    """added/removed/changed/unchanged, with NULL == NULL on compares."""
    from polars_readstat_rs_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "d")], ["k", "t"]
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, None), (5, "e")], ["k", "t"]
    )
    out = {r.k: r.change_type for r in snapshot_diff(old, new, ["k"], ["t"]).collect()}
    assert out == {1: "unchanged", 2: "changed", 3: "unchanged", 4: "removed", 5: "added"}


def test_ohlc_bars_order_statistics(spark):
    """Open/close follow the (ts, event_id) order; high/low/volume."""
    import datetime

    from polars_readstat_rs_spark.operators import timeseries

    d = datetime.datetime
    rows = [
        (1, 1, d(2024, 1, 1, 9), 10.0),
        (1, 2, d(2024, 1, 1, 12), 50.0),
        (1, 3, d(2024, 1, 1, 12), 5.0),   # same ts: event_id breaks the tie
        (1, 4, d(2024, 1, 1, 16), 20.0),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "event_id", "ts", "value"])
    r = timeseries.ohlc_bars(ev, "user_id", "ts", "value").collect()[0]
    assert (r.open, r.high, r.low, r.close, r.volume) == (10.0, 50.0, 5.0, 20.0, 4)


def test_hopping_windows_replicate_events(spark):
    """width/slide = 2 -> every event appears in exactly two windows."""
    import datetime

    from polars_readstat_rs_spark.operators import timeseries

    ev = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1, 7, 30), "click", 1.0)],
        ["event_id", "ts", "event_type", "value"],
    )
    out = sorted(
        (r.window_start_ms, r.n)
        for r in timeseries.hopping_window_counts(ev, "ts").collect()
    )
    # 07:30 lands in the 03:00-09:00 and 06:00-12:00 windows
    h = 3600 * 1000
    base = int(
        datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc).timestamp()
    ) * 1000
    assert out == [(base + 3 * h, 1), (base + 6 * h, 1)]


def test_prefix_filter_complete_and_pruning(spark, sf_dir):
    """The prefix-filtered join finds EXACTLY the threshold pairs the
    full inverted-index join finds (completeness), while generating
    strictly fewer candidate comparisons (pruning)."""
    docs = load_table(spark, sf_dir, "documents").limit(120)
    tweaked = docs.limit(6).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" small tail tweak")).alias("text"),
    )
    corpus = docs.select("doc_id", "text").union(tweaked)

    full = dedup.ngram_jaccard_pairs(corpus, "doc_id", "text").filter(
        F.col("jaccard") >= 0.5
    )
    pref = dedup.prefix_filter_pairs(corpus, "doc_id", "text", 0.5)
    want = {(r.a_id, r.b_id, r.jaccard) for r in full.collect()}
    got = {(r.a_id, r.b_id, r.jaccard) for r in pref.collect()}
    assert want == got and len(got) >= 6
    dedup.release_cached(pref)


def test_jaccard_on_rejects_sizes_without_pairs(spark, sf_dir):
    """_jaccard_on's no-pairs path window-carries sizes itself; a
    caller-supplied `sizes` table without `pairs` must fail loudly
    instead of being silently dropped (r15 ADVICE fix)."""
    import pytest

    docs = load_table(spark, sf_dir, "documents").limit(10)
    sh = dedup._shingle_table(docs, "doc_id", "text", 3, persist=False, hashed=True)
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    with pytest.raises(ValueError, match="sizes.*without.*pairs"):
        dedup._jaccard_on(sh, sizes=sizes, prehashed=True)


def test_shingle_table_anti_cap_matches_window_cap(spark):
    """The r15 anti-join df-cap must keep EXACTLY the rows the count
    window kept — including at the cap boundary. Build a corpus where
    one shingle's document frequency exceeds MAX_SHINGLE_DF, one sits
    exactly AT it (must survive: the predicate is <= / >), and the rest
    are rare."""
    cap = dedup.MAX_SHINGLE_DF
    # every doc shares the hot 3-gram "a b c"; docs 0..cap-1 also share
    # "x y z" (df == cap, boundary case); each doc gets a unique tail
    rows = [
        (i, "a b c" + (" x y z" if i < cap else "") + f" unique{i} tail{i} end{i}")
        for i in range(cap + 2)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    win = dedup._shingle_table(docs, "doc_id", "text", 3, persist=False, hashed=True)
    anti = dedup._shingle_table(
        docs, "doc_id", "text", 3, persist=False, hashed=True, cap="anti"
    )
    w = {tuple(r) for r in win.collect()}
    a = {tuple(r) for r in anti.collect()}
    assert a == w and len(a) > 0
    # the hot shingle (df == cap + 2 > cap) must be gone from both
    assert win.count() == anti.count()


def test_jaccard_self_join_is_sort_merge(spark, sf_dir):
    """d02's co-shingle self-join must be pinned to sort-merge (r15):
    the planner's pre-explode size estimate otherwise broadcasts the
    entire corpus-sized shingle table (serial driver build, OOM hazard
    at scale). The hot-list anti-join is the only broadcast allowed."""
    docs = load_table(spark, sf_dir, "documents").limit(50)
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text")
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    # the only BroadcastHashJoin is the LeftAnti hot-list cap
    import re

    bhj = re.findall(r"BroadcastHashJoin.*", plan)
    assert all("LeftAnti" in b for b in bhj)


def test_pagerank_int_symmetric_and_conserved(spark):
    """On a 3-cycle all ranks are equal; a star concentrates rank at
    the hub; results are exact integers independent of partitioning."""
    from polars_readstat_rs_spark.operators import graph

    cyc = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], ["s", "d"])
    r = {x.v: x.r for x in graph.pagerank_int(cyc, iters=3).collect()}
    assert len(set(r.values())) == 1  # symmetry -> identical ranks
    star = spark.createDataFrame([(1, 2), (1, 3), (1, 4)], ["s", "d"])
    rs = {x.v: x.r for x in graph.pagerank_int(star, iters=5).collect()}
    assert rs[1] > rs[2] == rs[3] == rs[4]
    rs2 = {x.v: x.r for x in graph.pagerank_int(star.repartition(7), iters=5).collect()}
    assert rs == rs2  # exact integers: partitioning-independent


def test_ivf_append_matches_full_probe_semantics(spark, sf_dir):
    """Appended vectors are searchable without retraining: a new vector
    duplicating a query lands in the query's own probed cell and ranks
    first; the base-only index never re-clusters."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    q0 = emb.filter(F.col("vec_id") == 1)
    dup = q0.select(F.lit(777777).cast("long").alias("vec_id"), "embedding", "label")
    out = similarity.ivf_append_topk(base, dup, q0, k=3)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    assert rows[0].vec_id == 777777 and rows[0].sim == 1.0
    similarity.release_cached(out)


def test_duplicated_spans_flags_copied_substrings(spark, sf_dir):
    """Planted: doc B embeds a 6-word substring of doc A at a different
    alignment — overlapping windows must flag it (d07's disjoint chunks
    would only catch aligned copies)."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "prefix words beta gamma delta epsilon zeta end marker"),
            (3, "completely different tokens nothing shared here at all"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc: r for r in dedup.duplicated_spans(docs, "doc_id", "text", k=5).collect()}
    # 5-token windows of "beta..zeta" appear in both docs 1 and 2
    assert out[1].n_dup == 1 and out[2].n_dup == 1
    assert out[3].n_dup == 0 and out[3].dup_ratio == 0.0
    assert out[1].n_windows == 4  # 8 tokens -> 4 windows


def test_tfidf_ranks_rare_terms_first(spark):
    from polars_readstat_rs_spark.operators import textstats

    docs = spark.createDataFrame(
        [(1, "common rare1 common"), (2, "common rare2"), (3, "common filler words")],
        ["doc_id", "text"],
    )
    out = textstats.tfidf_top_terms(docs, top_k=2).collect()
    top = {r.doc_id: r.tok for r in out if r.rank == 1}
    # 'common' has df=3 -> idf 0 -> rank below the doc-unique terms
    assert top[1] == "rare1" and top[2] == "rare2"
    assert all(r.weight == 0.0 for r in out if r.tok == "common")


def test_simhash_quoted_identifiers(spark):
    """selectExpr rewrite must keep the Column-API contract for names
    needing quoting (review regression)."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")], ["my-id", "the text"]
    )
    fps = dedup.simhash(docs, "my-id", "the text").collect()
    assert len(fps) == 2 and all(len(r.simhash) == 16 for r in fps)
    spans = dedup.duplicated_spans(docs, "my-id", "the text", k=2).collect()
    assert {r.doc for r in spans} == {1, 2}


def test_bmp_stream_demux_roundtrip():
    """decode_bmp_stream must split a concatenated container exactly at
    the header-declared sizes (padding included) and reject corruption."""
    import numpy as np

    rng = np.random.default_rng(3)
    frames = [rng.integers(0, 256, (4, 5, 3), dtype=np.uint8) for _ in range(3)]
    stream = b"".join(multimodal.encode_bmp(f) for f in frames)
    out = multimodal.decode_bmp_stream(stream)
    assert len(out) == 3
    for got, want in zip(out, frames):
        assert np.array_equal(got["pixels"], want)
    with pytest.raises(ValueError, match="magic"):
        multimodal.decode_bmp_stream(stream[1:])
    with pytest.raises(ValueError, match="overruns"):
        multimodal.decode_bmp_stream(stream[:-10])


def test_scd2_intervals_change_detection(spark):
    """A repeated state must NOT open a new version (the defining SCD2
    rule); intervals chain valid_to -> next valid_from; the last version
    per key is current."""
    import datetime

    from polars_readstat_rs_spark.operators.scd import scd2_intervals

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (1, t0, 100, "A"),
        (2, t0 + datetime.timedelta(days=1), 100, "A"),  # repeat: no new version
        (3, t0 + datetime.timedelta(days=2), 100, "B"),
        (4, t0 + datetime.timedelta(days=3), 100, "A"),
        (5, t0, 200, "X"),
    ]
    log = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, state string")
    out = scd2_intervals(log, "user_id", "ts", "state", "event_id")
    got = {(r.user_id, r.version): r for r in out.collect()}
    assert len(got) == 4  # 3 versions for user 100, 1 for user 200
    assert got[(100, 1)].state == "A" and got[(100, 1)].valid_to == got[(100, 2)].valid_from
    assert got[(100, 2)].state == "B" and not got[(100, 2)].is_current
    assert got[(100, 3)].state == "A" and got[(100, 3)].is_current
    assert got[(100, 3)].valid_to is None
    assert got[(200, 1)].is_current


def test_audio_frame_features_16bit(spark):
    """Framing works for 16-bit PCM too (midpoint 0, int64 energy)."""
    import numpy as np

    from polars_readstat_rs_spark.operators import multimodal

    s = np.array([-30000, 30000] * 20, dtype=np.int16)
    payload = multimodal.encode_wav(s, 16000, 1)
    df = spark.createDataFrame([(1, bytearray(payload))], "doc_id long, payload binary")
    out = multimodal.audio_frame_features(df, frame=16, hop=8).collect()
    assert len(out) == (40 - 16) // 8 + 1
    for r in out:
        assert r.energy == 16 * 30000 * 30000
        assert r.zero_crossings == 15  # alternating signs


def test_srp_ann_join_finds_exact_duplicate(spark):
    """An exact duplicate vector collides in every SRP band, so it must
    come back as its query's rank-1 neighbor with sim == 1.0."""
    import numpy as np

    from polars_readstat_rs_spark.operators.similarity import srp_ann_join

    rng = np.random.default_rng(5)
    dim = 8
    corpus_vecs = rng.normal(size=(20, dim)).astype("float32")
    rows = [(int(100 + i), [float(x) for x in v]) for i, v in enumerate(corpus_vecs)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # query 0 duplicates corpus vector 107
    queries = spark.createDataFrame(
        [(0, [float(x) for x in corpus_vecs[7]])], "vec_id long, embedding array<float>"
    )
    out = srp_ann_join(queries, corpus, k=3, dim=dim, nbits=16, nbands=4).collect()
    top = [r for r in out if r.rank == 1]
    assert len(top) == 1 and top[0].c_id == 107 and top[0].sim == 1.0


def test_curriculum_schedule_bands_and_budget(spark):
    from polars_readstat_rs_spark.operators.sampling import curriculum_schedule

    docs = spark.createDataFrame(
        [
            (1, "aa bb cc"),          # mean word len 2 -> phase 1
            (2, "aaaaa bbbbb"),       # 5 -> phase 2
            (3, "aaaaaaaa bbbbbbbb"), # 8 -> phase 3
            (4, "xx yy"),             # 2 -> phase 1
        ],
        "doc_id long, text string",
    )
    out = {r.id: r for r in curriculum_schedule(docs, "doc_id", "text").collect()}
    assert out[1].phase == 1 and out[4].phase == 1
    assert out[2].phase == 2 and out[3].phase == 3
    # running budget within phase: seqs are 1..n and cum_tokens increases
    p1 = sorted((r for r in out.values() if r.phase == 1), key=lambda r: r.seq)
    assert [r.seq for r in p1] == [1, 2]
    assert p1[0].cum_tokens < p1[1].cum_tokens
    # budget filter drops late rows
    cut = curriculum_schedule(docs, "doc_id", "text", phase_token_budget=3).collect()
    assert all(r.cum_tokens <= 3 for r in cut)


def test_point_in_time_join_boundary_and_zero_width(spark):
    """A fact at a version's valid_from gets the NEW version; when two
    versions share a valid_from (zero-width first interval), facts pick
    the later one — matching a half-open range join."""
    import datetime

    from polars_readstat_rs_spark.operators.scd import point_in_time_join, scd2_intervals

    t0 = datetime.datetime(2024, 1, 1)
    t1 = t0 + datetime.timedelta(hours=1)
    log = spark.createDataFrame(
        [
            (1, t0, 7, "A"),
            (2, t1, 7, "B"),  # two changes at the SAME ts: zero-width B
            (3, t1, 7, "C"),
        ],
        "event_id long, ts timestamp, user_id long, state string",
    )
    dims = scd2_intervals(log, "user_id", "ts", "state", "event_id").select(
        "user_id", "state", "valid_from", "version"
    )
    facts = spark.createDataFrame(
        [(10, t0, 7), (11, t1, 7), (12, t1 + datetime.timedelta(hours=1), 7)],
        "event_id long, ts timestamp, user_id long",
    )
    out = {
        r.event_id: r
        for r in point_in_time_join(
            facts, dims, "user_id", "ts", "valid_from",
            dim_cols=["version", "state"], fact_cols=["event_id"],
            dim_order_col="version",
        ).collect()
    }
    assert out[10].state == "A" and out[10].version == 1
    assert out[11].state == "C" and out[11].version == 3  # boundary + zero-width
    assert out[12].state == "C"


def test_mmr_rerank_prefers_diverse_over_redundant(spark):
    """Construct a query with two near-identical top candidates and one
    slightly-less-relevant but orthogonal one: plain top-k would return
    the duplicate pair; MMR must pick the orthogonal vector second."""
    from polars_readstat_rs_spark.operators.similarity import mmr_rerank

    rows = [
        (100, [1.0, 0.0, 0.0, 0.02]),   # best match
        (101, [1.0, 0.001, 0.0, 0.02]), # near-duplicate of 100
        (102, [0.5, 0.86, 0.0, 0.0]),   # less relevant, diverse
        (103, [-1.0, 0.0, 0.0, 0.0]),   # irrelevant
    ]
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows], "vec_id long, embedding array<float>"
    )
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    out = {r.mmr_rank: r for r in mmr_rerank(corpus, queries, n_candidates=4, k=3, lam=0.5).collect()}
    assert out[1].c_id == 100 and out[1].score is None
    assert out[2].c_id == 102  # diversity beats the near-duplicate
    assert out[3].c_id == 101


def test_wordpiece_tokenize_longest_match(spark):
    """Greedy longest-match: 'the' beats 'th'; char fallback is total;
    empty words (double spaces) emit nothing."""
    from polars_readstat_rs_spark.operators.text import wordpiece_tokenize

    docs = spark.createDataFrame([(1, "thexq  in")], "doc_id long, text string")
    out = sorted(
        wordpiece_tokenize(docs, "doc_id", "text", ["th", "the", "in", "xq"]).collect(),
        key=lambda r: (r.word_idx, r.tok_idx),
    )
    assert [(r.word_idx, r.tok_idx, r.token) for r in out] == [
        (0, 0, "the"),  # longest match wins over 'th'
        (0, 1, "xq"),
        (2, 0, "in"),   # word_idx 1 is the empty word between spaces
    ]


def test_components_star_beats_diameter(spark):
    """A 64-node path has diameter 63: min-label propagation would need
    ~63 rounds, star contraction must finish within 16 — and both
    algorithms must agree on an arbitrary multi-component graph."""
    from polars_readstat_rs_spark.operators.dedup import neardup_components
    from polars_readstat_rs_spark.operators.graph import components_star

    chain = spark.createDataFrame([(i, i + 1) for i in range(63)], "s long, d long")
    out = {r.node: r.comp for r in components_star(chain, max_iters=16).collect()}
    assert len(out) == 64 and set(out.values()) == {0}

    pairs = spark.createDataFrame(
        [(5, 3), (3, 9), (9, 11), (20, 21), (21, 22), (40, 41)],
        "a_id long, b_id long",
    )
    star = {
        r.node: r.comp
        for r in components_star(
            pairs.selectExpr("a_id as s", "b_id as d")
        ).collect()
    }
    prop = {r.node: r.comp for r in neardup_components(pairs).collect()}
    assert star == prop


def test_components_star_raises_on_exhausted_iters(spark):
    """Exhausting max_iters without the convergence check passing must
    RAISE, not return partially-contracted (wrong) labels — a path
    component needs ~log2(n) rounds, so a tiny budget must fail loudly."""
    import pytest

    from polars_readstat_rs_spark.operators.graph import components_star

    chain = spark.createDataFrame([(i, i + 1) for i in range(63)], "s long, d long")
    with pytest.raises(RuntimeError, match="did not converge"):
        components_star(chain, max_iters=2).collect()


def test_point_in_time_join_preserves_null_attribute(spark):
    """A dimension version whose attribute is legitimately NULL must NOT
    inherit the previous version's value — the carry-forward moves one
    struct of all dim columns, not each column independently."""
    import datetime

    from polars_readstat_rs_spark.operators.scd import point_in_time_join

    t0 = datetime.datetime(2024, 1, 1)
    t1 = t0 + datetime.timedelta(hours=1)
    dims = spark.createDataFrame(
        [(7, t0, "gold", 1), (7, t1, None, 2)],
        "user_id long, valid_from timestamp, tier string, version long",
    )
    facts = spark.createDataFrame(
        [(10, t0 + datetime.timedelta(minutes=30), 7),
         (11, t1 + datetime.timedelta(minutes=30), 7)],
        "event_id long, ts timestamp, user_id long",
    )
    out = {
        r.event_id: r
        for r in point_in_time_join(
            facts, dims, "user_id", "ts", "valid_from",
            dim_cols=["tier", "version"], fact_cols=["event_id"],
        ).collect()
    }
    assert out[10].tier == "gold" and out[10].version == 1
    assert out[11].tier is None and out[11].version == 2  # NULL preserved


def test_brute_force_topk_string_ids_and_zero_norm(spark):
    """String id columns must survive (no int64 coercion), and zero-norm
    vectors must be excluded rather than ranked first via NaN."""
    from polars_readstat_rs_spark.operators.similarity import brute_force_topk

    corpus = spark.createDataFrame(
        [
            ("q", [1.0, 0.0]),
            ("close", [0.9, 0.1]),
            ("far", [0.0, 1.0]),
            ("zero", [0.0, 0.0]),  # cosine undefined: must not appear
        ],
        "vec_id string, embedding array<double>",
    )
    queries = corpus.filter("vec_id = 'q'")
    out = brute_force_topk(corpus, queries, k=3).collect()
    ranked = [r.vec_id for r in sorted(out, key=lambda r: r.rank)]
    assert ranked == ["close", "far"]  # zero-norm row dropped, ids are strings
    assert all(r.q_id == "q" for r in out)


def test_exact_percentiles_matches_builtin(spark):
    """The scalable formulation must agree with Spark's buffering
    `percentile` builtin (and hence DuckDB quantile_cont) bitwise."""
    from pyspark.sql import functions as F

    from polars_readstat_rs_spark.operators.profile import exact_percentiles

    df = spark.range(1000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.pmod(F.xxhash64("id"), F.lit(10_000)) / 100.0).alias("v"),
    )
    mine = {
        r["g"]: (r["p25"], r["p50"], r["p75"], r["p90"])
        for r in exact_percentiles(df, "g", "v").collect()
    }
    ref = {
        r["g"]: tuple(round(x, 6) for x in r["ps"])
        for r in df.groupBy("g")
        .agg(F.expr("percentile(v, array(0.25D, 0.5D, 0.75D, 0.9D))").alias("ps"))
        .collect()
    }
    assert mine == ref
    # single-element group: every percentile is the value itself
    one = spark.createDataFrame([("z", 42.5)], "g string, v double")
    row = exact_percentiles(one, "g", "v").collect()[0]
    assert (row["p25"], row["p50"], row["p75"], row["p90"]) == (42.5,) * 4


def test_knn_label_vote_deterministic(spark):
    """Planted geometry: queries sit on coordinate axes; each axis has
    3 same-label corpus neighbors -> the vote must pick that label."""
    import math

    from polars_readstat_rs_spark.operators.similarity import knn_label_vote

    dim = 8

    def vec(axis, mag=1.0, off=0.0):
        v = [off] * dim
        v[axis] = mag
        return [float(x) for x in v]

    corpus = []
    vid = 100
    for axis, label in ((0, 7), (1, 9)):
        for m in (1.0, 2.0, 3.0):  # same direction, same label
            corpus.append((vid, vec(axis, m), label))
            vid += 1
    # two off-axis distractors with a third label
    corpus.append((200, [1.0] * dim, 1))
    corpus.append((201, [-1.0] * dim, 1))
    queries = [(0, vec(0)), (1, vec(1))]
    cdf = spark.createDataFrame(corpus, "vec_id long, embedding array<double>, label int")
    qdf = spark.createDataFrame(queries, "vec_id long, embedding array<double>")
    out = {r["q_id"]: (r["label"], r["votes"]) for r in knn_label_vote(cdf, qdf, k=3).collect()}
    assert out == {0: (7, 3), 1: (9, 3)}


def test_resize_images_nearest_neighbor(spark):
    """Planted 4x2 BMP resized to 2x1: the floor map picks pixels
    (0,0) and (0,2); stats must match those exact pixels after the
    re-encode roundtrip."""
    import numpy as np

    from polars_readstat_rs_spark.operators import multimodal as M

    px = np.arange(4 * 2 * 3, dtype=np.uint8).reshape(2, 4, 3)  # (h=2, w=4, 3)
    payload = M.encode_bmp(px)
    df = spark.createDataFrame([(1, bytearray(payload))], "doc_id long, payload binary")
    row = M.resize_images(df, out_w=2, out_h=1).collect()[0]
    # src_x = (dst*4)//2 -> {0, 2}; src_y = 0
    chosen = px[[0]][:, [0, 2]].astype(np.int64).ravel()
    assert (row["dim_a"], row["dim_b"]) == (2, 1)
    assert row["n_vals"] == chosen.size
    assert row["sum_vals"] == int(chosen.sum())
    assert row["sumsq_vals"] == int((chosen * chosen).sum())


def test_leakage_free_split_invariant(spark):
    """The one property that matters: documents connected by a
    near-dup pair are NEVER on opposite sides of the split, and the
    split covers every document exactly once."""
    from polars_readstat_rs_spark.operators import dedup, sampling

    rows = []
    # 30 near-dup families of 3 + 60 singletons; vocabularies are
    # DISJOINT across families/singletons (hashed tokens), so clusters
    # are exactly the families — a shared template would near-dup-link
    # the whole corpus into one cluster and the test would assert
    # nothing (first version of this fixture did exactly that)
    import hashlib

    def toks(tag, n=12):
        return " ".join(
            hashlib.md5(f"{tag}:{i}".encode()).hexdigest()[:10] for i in range(n)
        )

    for fam in range(30):
        base = toks(f"fam{fam}")
        for j in range(3):
            rows.append((fam * 10 + j, base + f" tail{j}"))
    for k in range(60):
        rows.append((1000 + k, toks(f"solo{k}")))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # exact-jaccard method: the strict invariant (checked below against
    # ALL jaccard pairs) only holds when the split saw the same pairs
    out = sampling.leakage_free_split(
        df, "doc_id", "text", val_rate=0.3, method="jaccard"
    ).cache()
    assert out.count() == len(rows)
    side = {r.doc: r.split for r in out.collect()}
    pairs = dedup.ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.2)
    straddle = [
        (r.a_id, r.b_id) for r in pairs.collect() if side[r.a_id] != side[r.b_id]
    ]
    assert straddle == []
    # both sides are populated at 30% val over ~90 clusters
    splits = {v for v in side.values()}
    assert splits == {"train", "val"}
    dedup.release_cached(out)
    out.unpersist()
    # default (minhash) method: same invariant over the pairs IT found
    out2 = sampling.leakage_free_split(df, "doc_id", "text", val_rate=0.3).cache()
    side2 = {r.doc: r.split for r in out2.collect()}
    mh = dedup.minhash_lsh_pairs(df, "doc_id", "text").filter("jaccard >= 0.2")
    assert [
        (r.a_id, r.b_id) for r in mh.collect() if side2[r.a_id] != side2[r.b_id]
    ] == []
    dedup.release_cached(out2)
    dedup.release_cached(mh)
    out2.unpersist()


def test_bpe_train_planted_merges(spark):
    """Hand-computable corpus: 'aaab' x10 + 'ab' x5. Iter 1 pairs:
    (a,a)=20 [greedy: two per 'aaab'? no — three a's give (a,a) twice
    per word = 20], (a,b)=15 -> merge (a,a). Iter 2 re-tokenizes
    'aaab' as [aa, a, b]: pairs (aa,a)=10, (a,b)=15 -> merge (a,b).
    The repeat-run greedy case ('aaa' -> [aa, a]) is exactly what the
    sentinel replace must get right."""
    from polars_readstat_rs_spark.operators import textstats

    rows = [(i, "aaab") for i in range(10)] + [(100 + i, "ab") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.rank: (r.left, r.right, r.merged, r.pair_count) for r in
           textstats.bpe_train(df, n_merges=2).collect()}
    assert out[1] == ("a", "a", "aa", 20)
    assert out[2] == ("a", "b", "ab", 15)


def test_bpe_train_batch_equivalence(spark):
    """Batched passes (batch_k>1) must learn the EXACT sequential merge
    list (batch_k=1 runs one merge per job — the reference loop).

    The first corpus is adversarial for naive batching: 'xaby' x100
    makes merge-created pairs ((x,ab) then (x,aby)) outrank the
    still-untouched (c,d)=90, so a batcher that takes the top-2
    disjoint ORIGINAL pairs would wrongly schedule (c,d) second; the
    adjacency bound must defer it until pass 3. The second corpus
    exercises ties, repeats, and shared-token chains."""
    from polars_readstat_rs_spark.operators import textstats

    corpora = [
        [(i, "xaby") for i in range(100)] + [(1000 + i, "cd") for i in range(90)],
        [(i, "aaab banana bandana") for i in range(7)]
        + [(100 + i, "na na batman") for i in range(5)]
        + [(200 + i, "xy xy zw") for i in range(6)],
    ]
    for rows in corpora:
        df = spark.createDataFrame(rows, "doc_id long, text string")
        seq = [tuple(r) for r in textstats.bpe_train(df, n_merges=6, batch_k=1).collect()]
        bat = [tuple(r) for r in textstats.bpe_train(df, n_merges=6, batch_k=64).collect()]
        assert bat == seq
    # the adversarial corpus really defers (c,d) behind the merge chain
    df = spark.createDataFrame(corpora[0], "doc_id long, text string")
    got = [(r.left, r.right) for r in textstats.bpe_train(df, n_merges=4).collect()]
    assert got == [("a", "b"), ("ab", "y"), ("x", "aby"), ("c", "d")]


def test_bpe_train_quote_tokens(spark):
    """Tokens containing SQL-literal metacharacters (apostrophes,
    backslashes) must ride through the merge replacements as data —
    the merge expression is built from Column ops with F.lit, never
    interpolated into SQL text. 'don't'-family corpora make an
    apostrophe pair the argmax."""
    from polars_readstat_rs_spark.operators import textstats

    rows = [(i, "don't can't won't isn't") for i in range(6)] + [
        (100, r"back\slash qu'ote")
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = textstats.bpe_train(df, n_merges=3).collect()
    assert any("'" in r.left or "'" in r.right for r in merges)
    enc = textstats.bpe_encode(
        df, [(r.left, r.right) for r in merges]
    ).collect()
    assert len(enc) == 7 and all(r.n_tokens <= r.n_chars for r in enc)


def test_c4_line_filters_rules(spark):
    from polars_readstat_rs_spark.operators.textstats import c4_line_filters

    good = "alpha beta gamma delta epsilon zeta."
    docs = spark.createDataFrame(
        [
            # 3 good lines -> kept page
            (1, "\n".join([good, 'quote line with five words here"', good])),
            # page containing lorem ipsum -> dropped despite 3 good lines
            (2, "\n".join([good, good, good, "some Lorem IPSUM boilerplate text here."])),
            # page containing a brace -> dropped
            (3, "\n".join([good, good, good, "code { x }"])),
            # only 2 surviving lines -> dropped
            (4, "\n".join([good, good, "too short line.", "five words but no punct"])),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in c4_line_filters(docs).collect()}
    assert out[1].keep_doc and out[1].kept_md5 is not None
    assert out[1].n_lines == 3 and out[1].n_kept_lines == 3
    assert out[1].n_words_kept == 6 + 6 + 6
    assert not out[2].keep_doc and out[2].kept_md5 is None
    assert out[2].n_kept_lines == 4  # line filter passes; page rule rejects
    assert not out[3].keep_doc
    assert not out[4].keep_doc and out[4].n_kept_lines == 2


def test_canonical_url_dedup_collapses_junk_variants(spark):
    rows = [
        (1, "HTTP://Ex.COM:80/a/?utm_source=x&b=2&a=1#frag"),
        (2, "http://ex.com/a?a=1&b=2"),
        (3, "https://ex.com:443/a"),  # different scheme -> distinct from 1/2
        (4, "https://ex.com/a/"),
        (5, "http://ex.com:8080/a"),  # non-default port survives
        (6, "http://ex.com"),  # empty path -> "/"
        (7, "http://ex.com/?gclid=zz"),
    ]
    out = {
        r.canon_url: r
        for r in dedup.url_dedup(spark.createDataFrame(rows, ["doc_id", "url"])).collect()
    }
    assert set(out) == {
        "http://ex.com/a?a=1&b=2",
        "https://ex.com/a",
        "http://ex.com:8080/a",
        "http://ex.com/",
    }
    assert out["http://ex.com/a?a=1&b=2"].keep_id == 1
    assert out["http://ex.com/a?a=1&b=2"].n_dupes == 1
    assert out["https://ex.com/a"].keep_id == 3 and out["https://ex.com/a"].n_dupes == 1
    assert out["http://ex.com/"].keep_id == 6 and out["http://ex.com/"].n_dupes == 1


def test_mix_budget_epoch_plan(spark):
    from polars_readstat_rs_spark.operators.sampling import mix_budget

    docs = spark.createDataFrame(
        [
            ("small", "w1 w2 w3 w4"),  # 4 tokens x 10 docs = 40 available
            ("big", " ".join(f"t{i}" for i in range(100))),  # 100 x 10 = 1000
        ],
        ["source", "text"],
    )
    docs = docs.crossJoin(spark.range(10).select(F.col("id").alias("_r"))).drop("_r")
    weight = F.when(F.col("source") == "small", F.lit(1)).otherwise(F.lit(3))
    out = {r.source: r for r in mix_budget(docs, 400, weight).collect()}
    small, big = out["small"], out["big"]
    assert small.available_tokens == 40 and big.available_tokens == 1000
    assert small.target_tokens == 100.0 and big.target_tokens == 300.0
    assert small.sample_rate == 2.5  # upsample: 2 epochs + 50% pass
    assert small.n_full_epochs == 2 and small.residual_rate == 0.5
    assert big.sample_rate == 0.3 and big.n_full_epochs == 0
    assert big.residual_rate == 0.3


def test_dhash_images_known_bits_and_dedup(spark):
    """Hand-checkable dHash: 2x2 hash over a 3x2 image whose gray values
    are fully controlled; identical images collide, the horizontally
    mirrored image differs."""
    import numpy as np

    # gray ramp left->right (gray == every channel value)
    base = np.array([[10, 20, 30], [10, 20, 30]], np.uint8)  # (h=2, w=3)
    up = np.repeat(base[:, :, None], 3, axis=2)
    down = up[:, ::-1, :]  # mirrored: all comparisons flip
    rows = [
        (1, multimodal.encode_bmp(up)),
        (2, multimodal.encode_bmp(up)),  # exact duplicate of 1
        (3, multimodal.encode_bmp(down)),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "payload"])
    # hash_w=4, hash_h=4 -> 16 bits, one hex group of 4 chars.
    # Resample maps: xs = (arange(5)*3)//5 = [0,0,1,1,2] -> gray columns
    # [10,10,20,20,30]; per row the 4 comparisons are F,T,F,T -> bits
    # 1 and 3 of each 4-bit row nibble -> 0xa per row -> "aaaa".
    out = {r.doc_id: r.dhash_hex for r in multimodal.dhash_images(df, 4, 4).collect()}
    assert out[1] == out[2] != out[3]
    assert out[1] == "aaaa"
    # mirrored ramp: every comparison <=, no bits set
    assert out[3] == "0000"
    ded = {r.dhash_hex: r for r in multimodal.dhash_dedup(df, 4, 4).collect()}
    assert ded["aaaa"].keep_id == 1 and ded["aaaa"].n_dupes == 1
    assert ded["0000"].keep_id == 3 and ded["0000"].n_dupes == 0


def test_dhash_rejects_non_16_multiple():
    import pytest as _pytest

    with _pytest.raises(ValueError):
        multimodal.dhash_images(None, 3, 3)


def test_canonical_url_idempotent(spark):
    """Canonicalization is a projection: applying it twice equals once
    (the property that lets incremental crawls re-canonicalize merged
    corpora without drift)."""
    urls = [
        "HTTP://A.B:80/x/y/?utm_campaign=c&z=1&a=2#f",
        "https://A.B:443/",
        "https://a.b:8443/p?b=1&a=1&a=0",
        "ftp://Host:21/file",
        "http://h/p1/p2",
        "https://h.example.com/p/?ref=x",
        "http://h?",
        "http://h#only-frag",
    ]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], ["doc_id", "url"])
    once = df.select(
        "doc_id", dedup.canonical_url_expr("url").alias("url")
    )
    twice = once.select("doc_id", dedup.canonical_url_expr("url").alias("c2"))
    joined = once.join(twice, "doc_id")
    bad = joined.filter(F.col("url") != F.col("c2")).collect()
    assert bad == [], bad


def test_pca_whiten_matches_numpy(spark):
    """pca_whiten's distributed moment pass + driver eigh must equal a
    straight numpy PCA of the same (quantized) data: orthonormal
    components, matching eigenvalues, and whitened projections with
    ~unit variance per component."""
    import numpy as np

    rng = np.random.RandomState(7)
    # anisotropic cloud so the principal axes are unambiguous
    base = rng.randn(400, 6) @ np.diag([5.0, 3.0, 1.0, 0.5, 0.2, 0.1])
    rows = [(i, [float(v) for v in base[i]]) for i in range(400)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    projected, model = similarity.pca_whiten(df, k=3, scale=1000, whiten=True)

    # numpy reference on the identically quantized data
    q = np.floor(base.astype(np.float32).astype(np.float64) * 1000 + 0.5)
    x = q / 1000.0
    mean = x.mean(axis=0)
    cov = (x - mean).T @ (x - mean) / x.shape[0]
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:3]
    np.testing.assert_allclose(model["eigvals"], evals[order], rtol=1e-9)
    np.testing.assert_allclose(model["mean"], mean, atol=1e-12)
    comps = np.asarray(model["components"])
    np.testing.assert_allclose(comps @ comps.T, np.eye(3), atol=1e-9)

    out = {r["vec_id"]: r["components"] for r in projected.collect()}
    # projection centers the ORIGINAL floats (quantization is only for
    # the exact moment pass), so the reference must too
    x_orig = base.astype(np.float32).astype(np.float64)
    ref = (x_orig - mean) @ evecs[:, order] / np.sqrt(evals[order] + 1e-9)
    got = np.array([out[i] for i in range(400)])
    # eigenvector sign is arbitrary — compare per-column up to sign
    for c in range(3):
        d_same = np.abs(got[:, c] - ref[:, c]).max()
        d_flip = np.abs(got[:, c] + ref[:, c]).max()
        assert min(d_same, d_flip) < 1e-6
    # whitened: each component has ~unit variance
    np.testing.assert_allclose(got.std(axis=0), 1.0, rtol=1e-2)


def test_priority_sample_properties(spark):
    """DLT priority sampling invariants: exactly k rows, est_w ==
    max(w, tau) with tau the (k+1)-th priority, every sampled priority
    >= tau, and the estimator totals are stable across partitionings
    (pure hash determinism, no RNG state)."""
    from polars_readstat_rs_spark.operators import sampling

    rows = [(i, f"g{i % 5}") for i in range(1000)]
    df = spark.createDataFrame(rows, ["doc_id", "grp"])
    w = F.col("doc_id") % 9 + 1
    out = sampling.priority_sample(df, "doc_id", w, k=50, seed="t").collect()
    assert len(out) == 50
    tau = out[0]["tau"]
    assert all(r["tau"] == tau for r in out)
    for r in out:
        assert r["priority"] >= tau
        assert r["est_w"] == max(float(r["doc_id"] % 9 + 1), tau)
    # deterministic under repartitioning
    out2 = sampling.priority_sample(
        df.repartition(13), "doc_id", w, k=50, seed="t"
    ).collect()
    assert sorted(r["doc_id"] for r in out) == sorted(r["doc_id"] for r in out2)
    # all rows sampled when k >= n: tau = 0, est_w = w
    small = spark.createDataFrame([(i, 0) for i in range(5)], ["doc_id", "x"])
    allr = sampling.priority_sample(small, "doc_id", F.lit(2), k=10, seed="t").collect()
    assert len(allr) == 5 and all(r["est_w"] == 2.0 and r["tau"] == 0.0 for r in allr)


def test_winnowing_guarantee(spark):
    """The winnowing GUARANTEE (Schleimer et al. 2003 thm 1): any two
    documents sharing a word run of >= window + k - 1 words share at
    least one selected fingerprint hash. Plant a 7-word run (k=4, w=4)
    inside otherwise-disjoint documents and require a candidate pair;
    fully disjoint docs must produce none."""
    shared = "alpha beta gamma delta epsilon zeta eta"  # 7 = w + k - 1 words
    docs = [
        (1, f"one two three {shared} four five six"),
        (2, f"seven eight nine ten {shared} eleven"),
        (3, "twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    pairs = dedup.winnow_pairs(df, "doc_id", "text", k=4, window=4, min_shared=1)
    got = {(r["a_id"], r["b_id"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert not any(3 in p for p in got)
    # fingerprint density: ~2/(w+1) of grams selected, never zero for
    # docs with >= k words
    fps = dedup.winnow_fingerprints(df, "doc_id", "text", k=4, window=4)
    per_doc = {r["doc_id"]: r["cnt"] for r in fps.groupBy("doc_id").agg(F.count("*").alias("cnt")).collect()}
    assert set(per_doc) == {1, 2, 3} and all(v >= 1 for v in per_doc.values())


def test_simhash_band_bits(spark):
    """band_bits=32 (2 bands over 2^32 buckets — the corpus-scale key
    space) still catches every Hamming<=1 pair by pigeonhole, and its
    pair set is always a subset of the 16-bit-band ground truth."""
    docs = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),  # exact dup: hamming 0
        (3, "alpha beta gamma delta epsilon eta"),
        (4, "one two three four five six seven"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    wide = {
        (r["a_id"], r["b_id"])
        for r in dedup.simhash_pairs(df, "doc_id", "text", band_bits=32).collect()
    }
    truth = {
        (r["a_id"], r["b_id"])
        for r in dedup.simhash_pairs(df, "doc_id", "text", band_bits=16).collect()
    }
    assert (1, 2) in wide  # hamming 0: guaranteed at any band width
    assert wide <= truth
    with pytest.raises(ValueError, match="band_bits"):
        dedup.simhash_pairs(df, "doc_id", "text", band_bits=8)


def test_probe_media_headers(spark):
    """probe_media parses REAL encoder headers without decoding: WAV
    8/16-bit (data length + sample rate), BMP and PNG dimensions from
    their native endiannesses, and junk bytes report 'unknown'."""
    import numpy as np

    wav8 = multimodal.encode_wav(np.arange(70, dtype=np.uint8))
    wav16 = multimodal.encode_wav(
        np.arange(33, dtype=np.int16), sample_rate=16000
    )
    bmp = multimodal.encode_bmp(np.zeros((6, 8, 3), dtype=np.uint8))
    png = multimodal.encode_png(np.zeros((600, 800, 3), dtype=np.uint8))
    rows = [(1, wav8), (2, wav16), (3, bmp), (4, png), (5, b"not-a-media-file")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in multimodal.probe_media(df).collect()}
    assert (got[1]["detected_kind"], got[1]["dim_a"], got[1]["dim_b"]) == ("wav", 70, 8000)
    # 16-bit: data chunk is 2 bytes per sample
    assert (got[2]["detected_kind"], got[2]["dim_a"], got[2]["dim_b"]) == ("wav", 66, 16000)
    assert (got[3]["detected_kind"], got[3]["dim_a"], got[3]["dim_b"]) == ("bmp", 8, 6)
    assert (got[4]["detected_kind"], got[4]["dim_a"], got[4]["dim_b"]) == ("png", 800, 600)
    assert got[5]["detected_kind"] == "unknown" and got[5]["dim_a"] is None
    assert all(r["n_bytes"] > 0 for r in got.values())


def test_probe_media_topdown_bmp(spark):
    """BMP BITMAPINFOHEADER dims are SIGNED i32: a top-down BMP stores
    biHeight negative, and the probe must report |height|, not the
    ~4.29e9 unsigned reinterpretation. Built by patching the repo
    encoder's (bottom-up) header bytes to the two's-complement height."""
    import numpy as np
    import struct

    bmp = bytearray(multimodal.encode_bmp(np.zeros((6, 8, 3), dtype=np.uint8)))
    # biHeight lives at file offset 22 (1-based byte 23), LE i32
    assert struct.unpack_from("<i", bmp, 22)[0] == 6
    struct.pack_into("<i", bmp, 22, -6)
    df = spark.createDataFrame([(1, bytes(bmp))], "doc_id long, payload binary")
    row = multimodal.probe_media(df).collect()[0]
    assert (row["detected_kind"], row["dim_a"], row["dim_b"]) == ("bmp", 8, 6)


def test_minhash_band_shape(spark):
    """(b, r) validation + the recall ordering the 1-(1-s^r)^b curve
    implies: 8x1 candidates are a superset of 4x2's on any corpus
    (every 2-row band match implies both 1-row bands match)."""
    docs = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),
        (3, "one two three four five six seven eight"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    wide = {
        (r["a_id"], r["b_id"])
        for r in dedup.minhash_lsh_pairs(df, "doc_id", "text", bands=8, rows_per_band=1).collect()
    }
    default = {
        (r["a_id"], r["b_id"])
        for r in dedup.minhash_lsh_pairs(df, "doc_id", "text").collect()
    }
    assert default <= wide
    with pytest.raises(ValueError, match="chunks"):
        dedup.minhash_lsh_pairs(df, "doc_id", "text", bands=8, rows_per_band=2)
    # zero/negative shapes fail loudly, not with an opaque SQL parse error
    with pytest.raises(ValueError, match=">= 1"):
        dedup.minhash_lsh_pairs(df, "doc_id", "text", bands=0, rows_per_band=2)
    with pytest.raises(ValueError, match=">= 1"):
        dedup.minhash_lsh_pairs(df, "doc_id", "text", bands=4, rows_per_band=0)


def test_winnowing_long_doc_cap_raises(spark):
    """The 16-bit position packing caps documents at 65,535 k-grams;
    beyond that (65536 - p) would underflow into the hash bits and
    silently corrupt fingerprints, so the expression raises loudly."""
    long_doc = " ".join(f"w{i}" for i in range(65_545))  # > 65535 + k - 1 words
    df = spark.createDataFrame([(1, long_doc)], ["doc_id", "text"])
    with pytest.raises(Exception, match="65535"):
        dedup.winnow_fingerprints(df, "doc_id", "text", k=4, window=4).collect()
    # one gram under the cap still works
    ok_doc = " ".join(f"w{i}" for i in range(65_538))  # exactly 65535 grams
    okdf = spark.createDataFrame([(2, ok_doc)], ["doc_id", "text"])
    fps = dedup.winnow_fingerprints(okdf, "doc_id", "text", k=4, window=4)
    assert fps.agg(F.min("fp_pos"), F.max("fp_pos")).collect()[0][1] <= 65535


def test_priority_sample_reserved_columns_raise(spark):
    from polars_readstat_rs_spark.operators import sampling

    df = spark.createDataFrame([(1, 2.0)], ["doc_id", "priority"])
    with pytest.raises(ValueError, match="reserved"):
        sampling.priority_sample(df, "doc_id", F.lit(1), k=1)


def test_pca_whiten_empty_and_ragged_raise(spark):
    import pyarrow as pa  # noqa: F401

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty"):
        similarity.pca_whiten(empty, k=1)
    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="ragged"):
        similarity.pca_whiten(ragged, k=1)


def test_keyframe_detect_semantics(spark):
    """Frame 0 is always a keyframe with sad = 0; an identical repeated
    frame yields sad = 0 / not key; a hard scene cut yields a large sad
    and is_key."""
    import numpy as np

    a = np.zeros((4, 4, 3), dtype=np.uint8)
    b = np.full((4, 4, 3), 200, dtype=np.uint8)
    payload = (
        multimodal.encode_bmp(a) + multimodal.encode_bmp(a) + multimodal.encode_bmp(b)
    )
    df = spark.createDataFrame([(1, bytearray(payload))], ["doc_id", "payload"])
    rows = {r["frame_idx"]: r for r in multimodal.keyframe_detect(df).collect()}
    assert rows[0]["sad"] == 0 and rows[0]["is_key"]
    assert rows[1]["sad"] == 0 and not rows[1]["is_key"]
    assert rows[2]["sad"] == 200 * 48 and rows[2]["is_key"]


def test_fused_predicates_match_operators(spark, sf_dir):
    """langid_pred_expr / gopher_keep_expr (the fused single-scan
    pipeline variants) must agree row-for-row with the langid /
    gopher_quality operator outputs — p15's oracle correctness depends
    on this equivalence."""
    from polars_readstat_rs_spark.operators import textstats

    docs = load_table(spark, sf_dir, "documents")
    fused = docs.select(
        "doc_id",
        textstats.langid_pred_expr().alias("pred_f"),
        textstats.gopher_keep_expr().alias("keep_f"),
    )
    ops = (
        textstats.langid(docs)
        .select("doc_id", "pred_lang")
        .join(textstats.gopher_quality(docs).select("doc_id", "keep"), "doc_id")
    )
    bad = (
        fused.join(ops, "doc_id")
        .filter((F.col("pred_f") != F.col("pred_lang")) | (F.col("keep_f") != F.col("keep")))
        .count()
    )
    assert bad == 0


def test_label_propagation_semantics(spark):
    """Synchronous majority LP: neighbor-majority vote, smallest-label
    tiebreak, simultaneous update. A 4-clique plus a pendant node must
    converge to the clique minimum everywhere; two disconnected edges
    stay in separate communities."""
    from polars_readstat_rs_spark.operators import graph

    clique = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = clique + [(4, 9), (20, 21)]
    df = spark.createDataFrame(edges, ["s", "d"])
    out = {r["node"]: r["label"] for r in graph.label_propagation(df, iters=3).collect()}
    assert {out[n] for n in (1, 2, 3, 4, 9)} == {1}
    # the isolated edge flips labels each sync round (classic LP
    # 2-cycle on a single edge): after odd iters each holds the other's
    # id — but both stay within {20, 21}, never the clique's labels
    assert {out[20], out[21]} <= {20, 21}


def test_pack_manifest_offsets_and_overshoot(spark):
    """Manifest entries are contiguous (offset = previous offset+len,
    starting at 0) and a document larger than the budget overshoots its
    own pack by exactly its excess."""
    from polars_readstat_rs_spark.operators import sampling

    rows = [(0, 40), (1, 50), (2, 30), (3, 130), (4, 10)]
    df = spark.createDataFrame(rows, ["doc_id", "nt"])
    out = sampling.pack_manifest(df, "doc_id", F.col("nt"), budget=100).collect()
    packs = {r["pack_id"]: r for r in out}
    for r in out:
        entries = [tuple(map(int, e.split(":"))) for e in r["manifest"].split(",")]
        off = 0
        for _doc, o, ln in entries:
            assert o == off
            off += ln
        assert off == r["pack_tokens"]
        assert r["overshoot"] == max(0, r["pack_tokens"] - 100)
    # doc 3 (130 tokens) overshoots: its pack has exactly the excess
    big = next(r for r in out if "3:" in r["manifest"] or r["manifest"].startswith("3:"))
    assert big["overshoot"] > 0


def test_winnowing_xxhash64_fast_path(spark):
    """hash='xxhash64' (the production fast path — no gram strings, no
    hex parsing) keeps the winnowing guarantee: the planted overlap
    pair from the md5 test is still caught, fingerprints stay in the
    40-bit range, and an unknown hash name raises."""
    shared = "alpha beta gamma delta epsilon zeta eta"
    docs = [
        (1, f"one two three {shared} four five six"),
        (2, f"seven eight nine ten {shared} eleven"),
        (3, "twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    pairs = dedup.winnow_pairs(df, "doc_id", "text", k=4, window=4, min_shared=1, hash="xxhash64")
    got = {(r["a_id"], r["b_id"]) for r in pairs.collect()}
    assert (1, 2) in got and not any(3 in p for p in got)
    fps = dedup.winnow_fingerprints(df, "doc_id", "text", hash="xxhash64").collect()
    assert all(0 <= r["fp_hash"] < (1 << 40) for r in fps)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="winnow hash"):
        dedup.winnow_fingerprints(df, "doc_id", "text", hash="sha1")


def test_bloom_membership_properties(spark):
    """Bloom guarantees: every exact duplicate is flagged (no false
    negatives — structural), and with a tiny filter (m=8 bits) saturation
    forces false positives, which the false_positive column isolates."""
    hist = spark.createDataFrame([(i, f"doc text {i}") for i in range(50)], ["doc_id", "text"])
    inc = spark.createDataFrame(
        [(100 + i, f"doc text {i}") for i in range(10)]  # exact dups of history
        + [(200 + i, f"fresh text {i}") for i in range(10)],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dedup.bloom_membership(hist, inc).collect()}
    assert len(out) == 20
    for i in range(10):
        assert out[100 + i]["bloom_hit"] and out[100 + i]["exact_dup"]
        assert not out[100 + i]["false_positive"]
    # big filter, 50 docs: fresh docs should all miss (fp rate ~1e-10)
    assert all(not out[200 + i]["bloom_hit"] for i in range(10))
    # saturated 8-bit filter: everything hits, fresh docs are false positives
    sat = {r["doc_id"]: r for r in dedup.bloom_membership(hist, inc, m_bits=8, k=2).collect()}
    assert all(sat[100 + i]["bloom_hit"] for i in range(10))  # never a false negative
    assert any(sat[200 + i]["false_positive"] for i in range(10))


def test_containment_catches_quotes_jaccard_misses(spark):
    """A short document fully quoted inside a long one: containment of
    the short side is 1.0 while Jaccard stays below any dedup
    threshold — the asymmetric relation d18 exists for."""
    quote = "alpha beta gamma delta epsilon"
    filler = " ".join(f"w{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, quote), (2, f"{filler} {quote}")], ["doc_id", "text"]
    )
    out = dedup.containment_pairs(df, "doc_id", "text", n=3, threshold=0.9).collect()
    rows = {(r["src_id"], r["dst_id"]): r for r in out}
    assert (1, 2) in rows and rows[(1, 2)]["containment"] == 1.0
    assert (2, 1) not in rows  # the long side is NOT contained
    jac = dedup.ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.2).collect()
    assert jac == []  # jaccard misses the relation entirely


def test_apportionment_sums_exactly(spark):
    """Hamilton quotas must sum to exactly the target for awkward
    splits (the property rate-based mixing can't guarantee), and
    leftover seats go to the largest remainders with name tiebreak."""
    from polars_readstat_rs_spark.operators import sampling

    rows = [(i, ["a", "b", "c"][i % 3] if i % 7 else "d") for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    for target in (1, 7, 33, 99, 100):
        out = sampling.apportion_budget(df, "source", target).collect()
        assert sum(r["quota"] for r in out) == target
        for r in out:
            assert r["quota"] in (r["floor_quota"], r["floor_quota"] + 1)


def test_exact_rerank_full_candidates_reproduce_brute_force(spark):
    """The superset property the v21 gate relies on: re-ranking ALL
    (query, corpus) pairs must reproduce brute_force_topk's rows exactly
    (same round-6 cosine, same vec_id tie-break)."""
    import numpy as np
    from pyspark.sql import functions as F

    from polars_readstat_rs_spark.operators import similarity

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 3)
    truth = {
        (r["q_id"], r["rank"]): (r["vec_id"], r["sim"])
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    all_pairs = (
        queries.select(F.col("vec_id").alias("q_id"))
        .crossJoin(emb.select("vec_id"))
        .filter(F.col("q_id") != F.col("vec_id"))
    )
    rer = {
        (r["q_id"], r["rank"]): (r["vec_id"], r["sim"])
        for r in similarity.exact_rerank(emb, queries, all_pairs, k=5).collect()
    }
    assert rer == truth


def test_collate_batches_shapes(spark):
    """Batch invariants: every batch holds <= batch_size items, items
    never cross (bucket, shard) cells, lengths never exceed bucket_len,
    pad_frac in [0, 1), and per-cell batch ids are dense from 0."""
    from collections import defaultdict

    from polars_readstat_rs_spark.operators import multimodal

    rows = [(i, 64 + (i * 13) % 40) for i in range(123)]
    media = spark.createDataFrame(rows, "doc_id long, dim_a int")
    out = multimodal.collate_batches(
        media, len_col="dim_a", bucket=16, batch_size=8, shard_rows=50
    ).collect()
    assert sum(r["n_items"] for r in out) == 123
    cells = defaultdict(list)
    for r in out:
        assert 1 <= r["n_items"] <= 8
        assert r["max_len"] <= r["bucket_len"]
        assert 0.0 <= r["pad_frac"] < 1.0
        assert r["shard"] == min(r["shard"], 2)  # 123 ids / 50 -> shards 0..2
        cells[(r["bucket_len"], r["shard"])].append(r)
    for cell_rows in cells.values():
        ids = sorted(r["batch_id"] for r in cell_rows)
        assert ids == list(range(len(ids)))
        # only the LAST batch of a cell may be ragged
        for r in cell_rows:
            if r["batch_id"] < len(ids) - 1:
                assert r["n_items"] == 8


def test_ivf_pq_topk_full_probe_full_depth_is_brute_force(spark):
    """Degeneracy pin for the composed index: probing EVERY cell at a
    re-rank depth covering the whole corpus must reproduce
    brute_force_topk exactly — the approximation comes only from the
    probe/depth knobs, never from the stage plumbing."""
    import numpy as np
    from pyspark.sql import functions as F

    from polars_readstat_rs_spark.operators import similarity

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 3)
    truth = {
        (r["q_id"], r["rank"]): (r["vec_id"], r["sim"])
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    got = {
        (r["q_id"], r["rank"]): (r["vec_id"], r["sim"])
        for r in similarity.ivf_pq_topk(
            emb, queries, k=5, depth=40, nprobe=4, ncells=4, m=2, ksub=4
        ).collect()
    }
    assert got == truth


def test_compaction_plan_invariants(spark):
    """Planner invariants: files >= small_threshold never appear in the
    plan; partitions with < 2 small files are skipped; jobs that would
    not reduce the file count (a lone trailing file, a 90+90 bin whose
    2 inputs become 2 outputs) are suppressed; each surviving job
    overshoots the target by less than the size of one member
    (boundary packing over a running fill); manifests are size-DESC
    ordered; files_removed = n_files - est_output_files >= 1."""
    import pytest

    from polars_readstat_rs_spark.operators import maintenance

    rows = [
        # partition a: four small files + one big passthrough
        ("a", 1, 10), ("a", 2, 30), ("a", 3, 30), ("a", 4, 50), ("a", 5, 500),
        # partition b: a single small file -> ineligible
        ("b", 6, 10),
        # partition c: two small files whose bin saves nothing (2 -> 2)
        ("c", 7, 90), ("c", 8, 90),
    ]
    files = spark.createDataFrame(rows, "part string, file_id long, size_bytes long")
    out = maintenance.compaction_plan(
        files, target_bytes=100, small_threshold=100
    ).collect()
    for r in out:
        assert r["input_bytes"] < 100 + 90  # target + largest candidate
        assert r["files_removed"] == r["n_files"] - r["est_output_files"] >= 1
        members = [int(x) for x in r["file_manifest"].split(",")]
        assert len(members) == r["n_files"]
        sizes = [s for (_, f, s) in [rows[m - 1] for m in members]]
        assert sizes == sorted(sizes, reverse=True)
    # only partition a's first bin survives: 50+30+30 = 110 bytes,
    # 3 files -> 2 outputs. The trailing lone 10 (job 1, 1 -> 1), the
    # 90+90 bin (2 -> 2), the passthrough 500, and ineligible b are out.
    assert len(out) == 1
    job = out[0]
    assert (job["part"], job["job_idx"]) == ("a", 0)
    assert job["input_bytes"] == 110 and job["file_manifest"] == "4,2,3"
    # parameter validation: zero/negative target, threshold above target
    with pytest.raises(ValueError):
        maintenance.compaction_plan(files, target_bytes=0)
    with pytest.raises(ValueError):
        maintenance.compaction_plan(files, target_bytes=100, small_threshold=200)


def test_ivf_cell_stats_exact(spark):
    """Exact stats on a hand-computable assignment: populations 6/3/1,
    mean 10/3, imbalance 6/(10/3) = 1.8, cell 0 splits (6 > 5.0),
    cell 2 merges (1 < 5/3)."""
    from polars_readstat_rs_spark.operators import similarity

    rows = [(i, 0) for i in range(6)] + [(i, 1) for i in range(6, 9)] + [(9, 2)]
    assigned = spark.createDataFrame(rows, "vec_id long, cell int")
    out = {r["cell"]: r for r in similarity.ivf_cell_stats(assigned).collect()}
    assert out[0]["n_vecs"] == 6 and out[1]["n_vecs"] == 3 and out[2]["n_vecs"] == 1
    assert out[0]["share"] == 0.6 and out[2]["share"] == 0.1
    assert all(r["imbalance"] == 1.8 for r in out.values())
    assert [out[c]["needs_split"] for c in (0, 1, 2)] == [True, False, False]
    assert [out[c]["needs_merge"] for c in (0, 1, 2)] == [False, False, True]


def test_compaction_plan_matches_python_reference(spark):
    """Differential test: a seeded 5000-file manifest (sizes spanning
    zero, exact-threshold, exact-boundary, and passthrough values)
    planned by Spark must match an independent pure-Python
    implementation of the spec row for row."""
    import math

    import numpy as np

    from polars_readstat_rs_spark.operators import maintenance

    rng = np.random.default_rng(42)
    tgt, thr = 1000, 400
    rows = []
    for fid in range(5000):
        part = f"p{int(rng.integers(0, 80)):02d}"
        # mix: mostly uniform, plus adversarial exact values
        size = int(rng.integers(0, 1600))
        if fid % 97 == 0:
            size = thr  # exactly at threshold -> passthrough
        if fid % 131 == 0:
            size = tgt  # larger than threshold -> passthrough
        if fid % 53 == 0:
            size = 0  # zero-byte file is a valid candidate
        rows.append((part, fid, size))

    # independent reference: eligibility, size-DESC next-fit boundary
    # packing, zero-benefit suppression
    from collections import defaultdict

    by_part = defaultdict(list)
    for part, fid, size in rows:
        if size < thr:
            by_part[part].append((fid, size))
    expected = {}
    for part, cand in by_part.items():
        if len(cand) < 2:
            continue
        cand.sort(key=lambda t: (-t[1], t[0]))
        cum = 0
        jobs = defaultdict(list)
        for fid, size in cand:
            jobs[cum // tgt].append((fid, size))
            cum += size
        for job_idx, members in jobs.items():
            total = sum(s for _, s in members)
            est = max(1, math.ceil(total / tgt))  # zero-byte bins still write one file
            if len(members) - est < 1:
                continue
            expected[(part, job_idx)] = (
                len(members),
                total,
                est,
                len(members) - est,
                ",".join(str(f) for f, _ in members),
            )

    files = spark.createDataFrame(rows, "part string, file_id long, size_bytes long")
    got = {
        (r["part"], r["job_idx"]): (
            r["n_files"],
            r["input_bytes"],
            r["est_output_files"],
            r["files_removed"],
            r["file_manifest"],
        )
        for r in maintenance.compaction_plan(
            files, target_bytes=tgt, small_threshold=thr
        ).collect()
    }
    assert got == expected


def test_bloom_fp_curve_zero_truth_guard(spark):
    """When every incoming document is an exact duplicate there are no
    non-duplicates to mismeasure: fp_rate must be NULL (not a 0/0
    crash or engine-specific NaN), false positives zero, and every
    duplicate still hits (no false negatives at any width)."""
    from polars_readstat_rs_spark.operators import dedup

    history = spark.createDataFrame(
        [(i, f"text {i}") for i in range(30)], "doc_id long, text string"
    )
    incoming = spark.createDataFrame(
        [(100 + i, f"text {i}") for i in range(10)], "doc_id long, text string"
    )
    curve = dedup.bloom_fp_curve(history, incoming, m_list=(256, 1024), k=3)
    rows = curve.collect()
    dedup.release_cached(curve)
    assert len(rows) == 2
    for r in rows:
        assert r["n_incoming"] == 10 and r["n_exact_dup"] == 10
        assert r["n_bloom_hit"] == 10  # no false negatives, ever
        assert r["n_false_pos"] == 0
        assert r["fp_rate"] is None  # zero-truth guard
        assert 0 < r["bits_set"] <= min(90, r["m_bits"])


def test_compaction_execute_end_to_end(spark, tmp_path):
    """Plan -> execute -> verify on REAL files: a hive-partitioned
    table written as many small parquet files is listed, planned, and
    compacted in place. Data must be row-identical afterwards, the
    file count strictly reduced, and a re-plan over the compacted
    directory empty (each partition collapses to one file)."""
    from pyspark.sql import functions as F

    from polars_readstat_rs_spark.operators import maintenance

    base = str(tmp_path / "tbl")
    df = spark.range(2000).select(
        (F.col("id") % 4).cast("string").alias("part"),
        F.col("id").alias("k"),
        (F.col("id") * 7 % 113).alias("v"),
    )
    # 8 files per partition, all tiny
    df.repartition(32, "k").write.partitionBy("part").parquet(base)

    manifest, id_to_path = maintenance.fs_file_manifest(spark, base)
    n_before = len(id_to_path)
    assert n_before >= 16
    before = sorted(
        (r["part"], r["k"], r["v"]) for r in spark.read.parquet(base).collect()
    )

    plan = maintenance.compaction_plan(
        manifest, target_bytes=1 << 30, small_threshold=1 << 30
    )
    stats = maintenance.execute_compaction(spark, plan, id_to_path)
    assert stats["jobs"] == 4  # one bin per partition at a 1 GiB target
    assert stats["files_in"] == n_before and stats["files_out"] == 4

    after_manifest, after_paths = maintenance.fs_file_manifest(spark, base)
    assert len(after_paths) == 4
    after = sorted(
        (r["part"], r["k"], r["v"]) for r in spark.read.parquet(base).collect()
    )
    assert after == before
    # idempotence: one file per partition leaves nothing to compact
    replan = maintenance.compaction_plan(
        after_manifest, target_bytes=1 << 30, small_threshold=1 << 30
    )
    assert replan.count() == 0


def test_zorder_compact_clusters_output_files(spark, tmp_path):
    """OPTIMIZE ZORDER: compacting 16 grid-spanning scattered files
    must leave output files whose (x, y) bounding boxes shrink enough
    for stats-based pruning — before the rewrite EVERY file intersects
    EVERY query box; after it, a corner query box must skip at least
    half the files on min/max stats alone, and the summed bounding-box
    area must drop below half the unclustered total. Data stays
    row-identical."""
    from pyspark.sql import functions as F

    from polars_readstat_rs_spark.operators import maintenance

    base = str(tmp_path / "ztbl")
    df = spark.range(4096).select(
        (F.col("id") % 64).alias("x"),
        ((F.col("id") / 64).cast("long") % 64).alias("y"),
        F.col("id").alias("payload"),
    )
    df.repartition(16).write.parquet(base)  # every file spans the grid

    manifest, id_to_path = maintenance.fs_file_manifest(spark, base)
    total = sum(r["size_bytes"] for r in manifest.collect())
    target = total // 4 + 1
    plan = maintenance.compaction_plan(
        manifest, target_bytes=target, small_threshold=target
    )
    before = sorted(
        (r["x"], r["y"], r["payload"]) for r in spark.read.parquet(base).collect()
    )
    stats = maintenance.zorder_compact(
        spark, plan, id_to_path, zorder_cols=["x", "y"], zorder_bits=6
    )
    assert stats["partitions"] == 1 and stats["files_in"] == 16
    n_out = stats["files_out"]
    assert 2 <= n_out <= 8

    _m2, paths2 = maintenance.fs_file_manifest(spark, base)
    assert len(paths2) == n_out
    after = sorted(
        (r["x"], r["y"], r["payload"]) for r in spark.read.parquet(base).collect()
    )
    assert after == before
    boxes = [
        spark.read.parquet(p)
        .agg(F.min("x"), F.max("x"), F.min("y"), F.max("y"))
        .collect()[0]
        for p in paths2.values()
    ]
    area = sum(
        (b[1] - b[0] + 1) * (b[3] - b[2] + 1) for b in boxes
    )
    assert area < n_out * 64 * 64 / 2  # bounding boxes actually shrank
    # a 16x16 corner query must be prunable on file stats alone
    hit = sum(1 for b in boxes if b[0] < 16 and b[2] < 16)
    assert hit <= n_out // 2


def test_cms_width_curve_guards_and_monotonicity(spark):
    """Curve sanity on a small corpus: wider sketches never overcount
    MORE (mean_overcount non-increasing in m), estimates are always
    >= exact (sum_est >= sum_exact), and an empty widths tuple raises
    instead of returning None."""
    import pytest

    from polars_readstat_rs_spark.operators import textstats

    docs = spark.createDataFrame(
        [(i, "tok%d alpha beta gamma" % (i % 7)) for i in range(300)],
        "doc_id long, text string",
    )
    curve = textstats.cms_width_curve(docs, widths=(16, 256, 4096))
    rows = {r["m_buckets"]: r for r in curve.collect()}
    textstats.release_cached(curve)
    assert list(sorted(rows)) == [16, 256, 4096]
    means = [rows[m]["mean_overcount"] for m in (16, 256, 4096)]
    assert means[0] >= means[1] >= means[2]
    for r in rows.values():
        assert r["sum_est"] >= r["sum_exact"]  # CMS never underestimates
        assert r["total_tokens"] == 1200
    with pytest.raises(ValueError):
        textstats.cms_width_curve(docs, widths=())


def test_zorder_compact_multi_partition_grouping(spark, tmp_path):
    """zorder_compact must group jobs per PARTITION: with two hive
    partitions of scattered small files, each partition is rewritten
    independently (no cross-partition reads), data stays row-identical,
    and no orphaned Hadoop .crc siblings of the deleted inputs remain
    anywhere under the table root."""
    import os

    from pyspark.sql import functions as F

    from polars_readstat_rs_spark.operators import maintenance

    base = str(tmp_path / "mz")
    df = spark.range(2048).select(
        (F.col("id") % 2).cast("string").alias("part"),
        (F.col("id") % 32).alias("x"),
        ((F.col("id") / 32).cast("long") % 32).alias("y"),
        F.col("id").alias("payload"),
    )
    df.repartition(8).write.partitionBy("part").parquet(base)

    manifest, id_to_path = maintenance.fs_file_manifest(spark, base)
    n_in = len(id_to_path)
    before = sorted(
        tuple(r) for r in spark.read.parquet(base).select("part", "x", "y", "payload").collect()
    )
    plan = maintenance.compaction_plan(
        manifest, target_bytes=1 << 30, small_threshold=1 << 30
    )
    stats = maintenance.zorder_compact(
        spark, plan, id_to_path, zorder_cols=["x", "y"], zorder_bits=5
    )
    assert stats["partitions"] == 2 and stats["files_in"] == n_in
    after = sorted(
        tuple(r) for r in spark.read.parquet(base).select("part", "x", "y", "payload").collect()
    )
    assert after == before
    # every output file holds exactly one hive partition's rows (the
    # rewrite never mixed partitions): part = id % 2 by construction,
    # so every payload in a part=P file must satisfy payload % 2 == P
    _m2, paths2 = maintenance.fs_file_manifest(spark, base)
    for p in paths2.values():
        dirname = os.path.basename(os.path.dirname(p))
        assert dirname.startswith("part=")
        want = int(dirname.split("=")[1])
        got = {r["payload"] % 2 for r in spark.read.parquet(p).collect()}
        assert got == {want}
    # no orphaned .crc checksum siblings anywhere under the root
    stray_crc = [
        os.path.join(r, n)
        for r, _d, ns in os.walk(base)
        for n in ns
        if n.endswith(".crc")
        and not os.path.exists(os.path.join(r, n[1:-4]))  # .X.crc without X
    ]
    assert stray_crc == []


def test_fs_file_manifest_prunes_hidden_dirs(spark, tmp_path):
    """Crash leftovers under _compact_*/_temporary/.hidden directories
    must NOT be manifested as phantom partitions — Spark readers skip
    those paths, so planning over them would schedule rewrites of files
    no scan can see."""
    import os

    from polars_readstat_rs_spark.operators import maintenance

    base = str(tmp_path / "tbl")
    os.makedirs(os.path.join(base, "part=a"))
    with open(os.path.join(base, "part=a", "f0.parquet"), "wb") as fh:
        fh.write(b"x" * 10)
    # crash leftovers: a tmp compaction dir and a Spark _temporary tree
    for hidden in ("_compact_deadbeef", "_temporary/0/task", ".stage"):
        d = os.path.join(base, "part=a", hidden)
        os.makedirs(d)
        with open(os.path.join(d, "phantom.parquet"), "wb") as fh:
            fh.write(b"y" * 10)

    manifest, id_to_path = maintenance.fs_file_manifest(spark, base)
    assert len(id_to_path) == 1
    assert list(id_to_path.values())[0].endswith("part=a/f0.parquet")
    rows = manifest.collect()
    assert len(rows) == 1 and rows[0]["part"] == "part=a"


def test_publish_and_swap_survives_temporary_dir(tmp_path):
    """A _temporary/ subdirectory left in the staging dir by an
    aborted/retried Spark task must not abort the swap: inputs are
    still deleted (no persistent duplicate rows) and tmp is fully
    removed."""
    import os

    from polars_readstat_rs_spark.operators.maintenance import _publish_and_swap

    part_dir = str(tmp_path / "part=a")
    tmp = os.path.join(part_dir, "_compact_x")
    os.makedirs(os.path.join(tmp, "_temporary", "0"))  # aborted-task leftover
    with open(os.path.join(tmp, "part-00000.parquet"), "wb") as fh:
        fh.write(b"new")
    with open(os.path.join(tmp, "._SUCCESS.crc"), "wb") as fh:
        fh.write(b"c")
    inp = os.path.join(part_dir, "old.parquet")
    with open(inp, "wb") as fh:
        fh.write(b"old")

    n = _publish_and_swap(tmp, part_dir, "compact", [inp])
    assert n == 1
    assert not os.path.exists(inp)  # inputs gone -> no duplicates
    assert not os.path.exists(tmp)  # staging dir fully cleaned
    published = [
        f for f in os.listdir(part_dir) if f.startswith("compact-")
    ]
    assert len(published) == 1


def test_compaction_plan_keep_zero_benefit(spark):
    """keep_zero_benefit=True (the clustering-plan mode) must retain
    bins the default plan drops for zero file-count reduction, so
    zorder_compact rewrites the WHOLE partition group into the
    z-order."""
    from polars_readstat_rs_spark.operators import maintenance

    # two files whose bin already averages the target: est_output_files
    # = ceil(194/98) = 2 = n_files, files_removed = 0 -> dropped by the
    # default benefit filter
    files = spark.createDataFrame(
        [("p", 0, 97), ("p", 1, 97)],
        "part string, file_id long, size_bytes long",
    )
    default = maintenance.compaction_plan(
        files, target_bytes=98, small_threshold=98
    ).collect()
    assert default == []
    kept = maintenance.compaction_plan(
        files, target_bytes=98, small_threshold=98, keep_zero_benefit=True
    ).collect()
    assert len(kept) == 1
    (r,) = kept
    assert r["n_files"] == 2 and r["est_output_files"] == 2
    assert r["files_removed"] == 0


def test_run_jobs_serial_error_contract_matches_pooled():
    """r12 ADVICE item 2: the serial path (max_concurrency<=1) must run
    ALL jobs and raise the same aggregated RuntimeError with .partial
    accounting that the pooled path raises — not stop at the first
    failure with the raw exception."""
    import pytest

    from polars_readstat_rs_spark.operators.maintenance import _run_jobs

    def runner(j):
        if j == "bad":
            raise ValueError("boom")
        return (2, 1)

    work = ["ok1", "bad", "ok2"]
    for conc in (1, 4):  # serial and pooled must behave identically
        with pytest.raises(RuntimeError) as ei:
            _run_jobs(work, runner, max_concurrency=conc)
        err = ei.value
        assert "1/3 compaction jobs failed" in str(err)
        assert err.partial == {"jobs": 2, "files_in": 4, "files_out": 2}
        assert isinstance(err.__cause__, ValueError)
    # clean serial run still returns the (n_done, summed) accounting
    assert _run_jobs(["a", "b"], lambda j: (3, 1), max_concurrency=1) == (2, 6, 2)


def test_run_jobs_streams_500k_jobs_bounded_memory():
    """r13 verdict item 7: _run_jobs must accept an ITERATOR and drain
    it in chunks so a planner-scale job list (500k jobs here; a 2M-file
    manifest plans ~130k) never materializes on the driver. Asserted
    two ways: (a) the producer/consumer high-water mark never exceeds
    one chunk (+pool slack), (b) tracemalloc peak stays an order of
    magnitude under the ~150 MB a materialized 500k x 300B row list
    would cost."""
    import tracemalloc

    from polars_readstat_rs_spark.operators import maintenance
    from polars_readstat_rs_spark.operators.maintenance import _run_jobs

    n = 500_000
    chunk = maintenance._JOB_CHUNK
    state = {"produced": 0, "consumed": 0, "hwm": 0}

    def jobs():
        for i in range(n):
            state["produced"] += 1
            state["hwm"] = max(state["hwm"], state["produced"] - state["consumed"])
            # ~300 B of per-job payload, fresh per row (like a plan Row)
            yield f"job-{i:09d}:" + "f" * 280

    def runner(j):
        state["consumed"] += 1
        return (1, 1)

    tracemalloc.start()
    out = _run_jobs(jobs(), runner, max_concurrency=1)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert out == (n, n, n)
    assert state["hwm"] <= chunk + 1
    assert peak < 40 * 1024 * 1024, f"driver peak {peak/1e6:.0f} MB — job list materialized?"

    # pooled path: same bounded-buffer property per chunk
    state.update(produced=0, consumed=0, hwm=0)
    m = 120_000
    out = _run_jobs(
        (f"j{i}" for i in range(m)), lambda j: (1, 0), max_concurrency=4
    )
    assert out == (m, m, 0)


def test_arrow_type_map_rejects_date64_and_fixed_size_binary():
    """r12 ADVICE item 1: the hand-rolled arrow->spark map must stay
    within the verified-parity set the readers emit — date64 and
    fixed_size_binary return None so the from_arrow_schema fallback
    handles (or rejects) them."""
    import pyarrow as pa

    from polars_readstat_rs_spark.datasource import _arrow_type_to_spark
    from pyspark.sql import types as T

    assert _arrow_type_to_spark(pa.date64()) is None
    assert _arrow_type_to_spark(pa.binary(16)) is None
    assert _arrow_type_to_spark(pa.date32()) == T.DateType()
    assert _arrow_type_to_spark(pa.binary()) == T.BinaryType()


def test_train_val_test_split_deterministic_and_incremental(spark):
    """Splits are a pure function of (seed, id): stable across
    repartitioning, frozen for existing ids when the corpus grows, and
    the fractions land near 80/10/10."""
    import pytest

    from polars_readstat_rs_spark.operators import sampling

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = sampling.train_val_test_split(df, "doc_id")
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert 0.74 < counts["train"] / 2000 < 0.86
    # repartition invariance
    a = {r["doc_id"]: r["split"] for r in out.collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in sampling.train_val_test_split(df.repartition(7), "doc_id").collect()
    }
    assert a == b
    # incremental: growing the corpus never moves an existing id
    grown = sampling.train_val_test_split(
        spark.range(0, 3000).withColumnRenamed("id", "doc_id"), "doc_id"
    )
    g = {r["doc_id"]: r["split"] for r in grown.collect()}
    assert all(g[k] == v for k, v in a.items())
    with pytest.raises(ValueError):
        sampling.train_val_test_split(df, "doc_id", train=0.95, val=0.2)


def test_token_drift_exact_ranking(spark):
    """The drift ranking is exact-integer cross-multiplication: a token
    appearing only in one half ranks by cnt * other_total, and a token
    with identical rates in both halves has diff_num == 0."""
    from polars_readstat_rs_spark.operators import textstats

    rows = [
        (0, "aa bb"),  # even half: aa bb
        (2, "aa bb"),
        (1, "aa cc"),  # odd half: aa cc
        (3, "aa cc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["tok"]: r for r in textstats.token_drift(df, top_k=10).collect()}
    # totals: 4 tokens per half. aa: 2/2 -> diff 0; bb: 2 even only ->
    # |2*4 - 0*4| = 8; cc mirror = 8
    assert out["aa"]["diff_num"] == 0
    assert out["bb"]["diff_num"] == 8 and out["bb"]["cnt_a"] == 2 and out["bb"]["cnt_b"] == 0
    assert out["cc"]["diff_num"] == 8 and out["cc"]["cnt_a"] == 0 and out["cc"]["cnt_b"] == 2

"""Scale smoke: do the headline operators scale ~linearly in rows?

Synthesizes template-based corpora (documents + embeddings) at several
sizes under /tmp, runs the heavy operators at each size, and prints one
JSON line per (operator, size) with wall seconds — the point is the
RATIO between sizes, not the absolute number: an operator whose time
grows much faster than its input (pair blowup, driver materialization,
single-partition window) fails the 100 TB design contract even though
sf0.1 correctness is green.

Usage: python tools/scale_smoke.py [sizes...] [op_names...]
(default sizes 5000 25000 50000; default ops: all)
Synthetic inputs here are for SCALING measurements only — correctness
gates always run on /root/testdata (TESTDATA.md).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, ".")

WORDS = (
    "the quick brown fox jumps lazy dog data spark scale shuffle partition "
    "model train corpus token sample pack dedup embed vector cosine hash "
    "alpha beta gamma delta epsilon zeta eta theta iota kappa"
).split()


def synth(spark, n_docs: int, base: str) -> tuple[str, str]:
    """Template docs (~40 tokens, overlapping vocabulary so dedup
    operators find real candidates) + 64-dim embeddings.

    Duplicate-cluster size stays CONSTANT as the corpus grows (the
    pattern count scales with n): otherwise the true near-dup pair count
    — the output — grows quadratically and wall-time ratios measure the
    output explosion, not the operator."""
    from pyspark.sql import functions as F

    doc_path = os.path.join(base, f"docs_{n_docs}.parquet")
    emb_path = os.path.join(base, f"emb_{n_docs}.parquet")
    if not os.path.exists(doc_path):
        words = F.array(*[F.lit(w) for w in WORDS])
        df = (
            spark.range(n_docs)
            .withColumn("doc_id", F.col("id"))
            .withColumn(
                "text",
                F.concat_ws(
                    " ",
                    F.transform(
                        F.sequence(F.lit(1), F.lit(40)),
                        lambda i: F.element_at(
                            words,
                            (
                                (F.xxhash64(F.col("id") % F.lit(max(500, n_docs // 10)), i) % len(WORDS) + len(WORDS))
                                % len(WORDS)
                                + 1
                            ).cast("int"),
                        ),
                    ),
                ),
            )
            .withColumn("lang", F.element_at(F.array(F.lit("en"), F.lit("de")), (F.col("id") % 2 + 1).cast("int")))
            .withColumn("source", F.concat(F.lit("src"), (F.col("id") % 20).cast("string")))
            .select("doc_id", "text", "lang", "source")
        )
        df.write.mode("overwrite").parquet(doc_path)
    if not os.path.exists(emb_path):
        emb = (
            spark.range(n_docs)
            .withColumn("vec_id", F.col("id"))
            .withColumn(
                "embedding",
                F.transform(
                    F.sequence(F.lit(1), F.lit(64)),
                    # centered coordinates in [-1, 1): an all-positive
                    # quadrant would make every random pair ~0.75 cosine
                    # and flood any sign-based LSH with candidates
                    lambda i: (
                        ((F.xxhash64(F.col("id") % F.lit(max(1000, n_docs // 5)), i) % 2000 + 2000) % 2000 - 1000)
                        / 1000.0
                    ).cast("float"),
                ),
            )
            .withColumn("label", (F.col("id") % 32).cast("int"))
            .select("vec_id", "embedding", "label")
        )
        emb.write.mode("overwrite").parquet(emb_path)
    return doc_path, emb_path


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:] if a.isdigit()] or [5000, 25000, 50000]
    only = {a for a in sys.argv[1:] if not a.isdigit()}
    from pyspark.sql import functions as F

    from polars_readstat_rs_spark.operators import (
        asof,
        dedup,
        fuzzy,
        graph,
        maintenance,
        merge,
        multimodal,
        sampling,
        similarity,
        textstats,
        timeseries,
    )
    from polars_readstat_rs_spark.operators import text as textops
    from polars_readstat_rs_spark.session import get_spark

    spark = get_spark("scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    base = os.path.join(tempfile.gettempdir(), "readstat_scale_smoke")
    os.makedirs(base, exist_ok=True)

    def _scd2_pit(events):
        from polars_readstat_rs_spark.operators import scd

        ev = events.withColumn("event_id", F.monotonically_increasing_id()).withColumn(
            "state", (F.col("value") > 12).cast("string")
        )
        dims = scd.scd2_intervals(ev, "user_id", "ts", "state", "event_id").select(
            "user_id", "state", "valid_from", "version"
        )
        return scd.point_in_time_join(
            ev, dims, "user_id", "ts", "valid_from",
            dim_cols=["version", "state"], fact_cols=["event_id"],
            dim_order_col="version",
        )

    def run(name, mk):
        # time CONSTRUCTION + materialization: iterative operators
        # (semantic_dedup's component loop) localCheckpoint eagerly, so
        # most of their work happens while the plan is being built
        t0 = time.time()
        out = mk()
        out.write.format("noop").mode("overwrite").save()
        secs = round(time.time() - t0, 2)
        dedup.release_cached(out)
        return secs

    results: dict[str, dict[int, float]] = {}
    for n in sizes:
        doc_path, emb_path = synth(spark, n, base)
        docs = spark.read.parquet(doc_path)
        emb = spark.read.parquet(emb_path)
        # events: ~n/100 users over a span growing with n (grid rows grow
        # linearly); baskets: 4-item groups over an n/20 item space, so
        # item degree stays ~constant and edges grow linearly
        events = spark.range(n).select(
            (F.col("id") % F.lit(max(50, n // 100))).alias("user_id"),
            F.timestamp_micros(
                F.lit(1704067200000000) + F.col("id") * F.lit(37_000_000)
            ).alias("ts"),
            ((F.col("id") % 100) / F.lit(4.0)).alias("value"),
        )
        baskets = spark.range(n).select(
            (F.col("id") / 4).cast("long").alias("g"),
            F.pmod(F.xxhash64("id"), F.lit(max(100, n // 20))).alias("p"),
        )
        edges = graph.cooccurrence_edges(baskets, "g", "p")
        ops = {
            "exact_dedup": lambda: dedup.exact_dedup_groups(docs, "doc_id", "text"),
            "ngram_jaccard": lambda: dedup.ngram_jaccard_pairs(docs, "doc_id", "text"),
            "minhash_lsh": lambda: dedup.minhash_lsh_pairs(docs, "doc_id", "text"),
            # r10 band-shape variants: wide simhash bands (2^32 buckets)
            # and the max-recall minhash shape
            "simhash_b32": lambda: dedup.simhash_pairs(
                docs, "doc_id", "text", band_bits=32
            ),
            "minhash_8x1": lambda: dedup.minhash_lsh_pairs(
                docs, "doc_id", "text", bands=8, rows_per_band=1
            ),
            "simhash_pairs": lambda: dedup.simhash_pairs(docs, "doc_id", "text"),
            # r10 pruned-kernel brute-force top-k (bounded query side)
            "brute_topk": lambda: similarity.brute_force_topk(
                emb, emb.filter(F.col("vec_id") < 5), k=10
            ),
            "blocked_neardup": lambda: similarity.blocked_neardup_pairs(
                emb, threshold=0.9, max_block=2000
            ),
            "srp_neardup": lambda: similarity.srp_neardup_pairs(emb, threshold=0.9),
            # ncells grows with the corpus so cell population stays
            # ~constant — the documented SemDeDup scaling contract
            "semantic_dedup": lambda: similarity.semantic_dedup(
                emb, threshold=0.9, ncells=max(8, n // 600), max_cell=2000
            ),
            "hash_sample": lambda: sampling.hash_sample(docs, "doc_id", 0.25),
            "pack_sequences": lambda: sampling.pack_sequences(
                docs, "doc_id", F.size(F.split("text", " ")), 512, 1000
            ),
            "det_shuffle": lambda: sampling.deterministic_shuffle(docs, "doc_id"),
            "tvt_split": lambda: sampling.train_val_test_split(docs, "doc_id")
            .groupBy("split")
            .count(),
            "token_drift": lambda: textstats.token_drift(docs),
            "token_entropy": lambda: textstats.token_entropy(docs),
            "payload_dedup": lambda: multimodal.payload_dedup_manifest(
                multimodal.attach_payload(docs, keep_cols=["source"])
            ),
            "quality_score": lambda: textstats.quality_score(docs),
            "gopher_quality": lambda: textstats.gopher_quality(docs),
            "bigram_lm": lambda: textstats.bigram_lm(docs),
            "bpe_pairs": lambda: textstats.bpe_pair_counts(docs),
            "upsert": lambda: merge.upsert(
                docs, docs.filter(F.col("doc_id") % 10 == 0), ["doc_id"]
            ),
            "zipf_stats": lambda: textstats.zipf_stats(docs),
            "chunk_documents": lambda: textops.chunk_documents(
                docs, chunk_size=16, stride=8
            ),
            # names = first two tokens (vocabulary-bounded), blocked by
            # the second token
            "fuzzy_pairs": lambda: fuzzy.blocked_fuzzy_pairs(
                docs.select(
                    F.concat_ws(" ", F.slice(F.split("text", " "), 1, 2)).alias("nm")
                ),
                "nm",
                F.element_at(F.split(F.col("name"), " "), -1),
                max_dist=3,
            ),
            "gapfill": lambda: timeseries.resample_gapfill_daily(
                events, "user_id", "ts", "value"
            ),
            "triangle_stats": lambda: graph.triangle_stats(edges),
            "bfs_hops": lambda: graph.bfs_hops(
                edges, baskets.select("p").filter(F.col("p") < 10).distinct(), 3
            ),
            "asof_nearest": lambda: asof.asof_nearest(
                events.select("user_id", "ts"),
                events.filter(F.col("value") > 20).select("user_id", "ts"),
                "user_id",
                "ts",
                6 * 3600 * 1000,
            ),
            "ohlc_bars": lambda: timeseries.ohlc_bars(
                events.withColumn("event_id", F.monotonically_increasing_id()),
                "user_id",
                "ts",
                "value",
            ),
            "event_patterns": lambda: textstats.event_patterns(
                events.withColumn("event_id", F.monotonically_increasing_id())
                .withColumn(
                    "event_type",
                    F.element_at(
                        F.array(*[F.lit(t) for t in ("click", "view", "purchase")]),
                        (F.pmod(F.xxhash64("value"), F.lit(3)) + 1).cast("int"),
                    ),
                ),
                "cc*p",
            ),
            "snapshot_diff": lambda: merge.snapshot_diff(
                docs.select("doc_id", "text"),
                docs.filter(F.col("doc_id") % 7 != 0).select("doc_id", "text"),
                ["doc_id"],
                ["text"],
            ),
            "pq_topk": lambda: similarity.pq_topk(
                emb, emb.filter(F.col("vec_id") < 5), k=10
            ),
            "pagerank": lambda: graph.pagerank_int(edges, iters=5),
            "span_dedup": lambda: dedup.duplicated_spans(docs, "doc_id", "text"),
            "tfidf_terms": lambda: textstats.tfidf_top_terms(docs),
            "temperature_mix": lambda: sampling.temperature_mix(
                docs, "doc_id", "source", 1000
            ),
            "filtered_topk": lambda: similarity.filtered_topk(
                emb, emb.filter(F.col("vec_id") < 5)
            ),
            # r8 third-wave operators: the interleave's UNLIMITED path is
            # the interesting one (two-phase range-sort + prefix-sum
            # numbering — the global-window shape it replaced would have
            # been a single-task sort and failed this smoke by design)
            "interleave": lambda: sampling.interleave_sources(docs, "doc_id", "source"),
            "ngram_diversity": lambda: textstats.ngram_diversity(docs),
            "normalize_text": lambda: textstats.normalize_text(docs),
            "quantize_int8": lambda: similarity.quantize_int8(emb),
            # adversarial skew: every doc identical -> every simhash band
            # bucket holds the WHOLE corpus. With the max_bucket cap the
            # band self-join is O(cap^2) regardless of n, so wall time
            # must stay ~flat as rows grow (uncapped it is O(n^2)).
            "simhash_hotbucket": lambda: dedup.simhash_pairs(
                spark.range(n).select(
                    F.col("id").alias("doc_id"),
                    F.lit("identical boilerplate page body for every document").alias(
                        "text"
                    ),
                ),
                "doc_id",
                "text",
                max_bucket=500,
            ),
            # SRP variant (r8): identical embedding vectors — the
            # anisotropy worst case where EVERY band bucket holds the
            # whole corpus. With the (now default-on) max_bucket cap the
            # band self-join is O(cap^2) per band regardless of n; wall
            # time must stay ~flat as rows grow (uncapped it is O(n^2)).
            "srp_hotbucket": lambda: similarity.srp_neardup_pairs(
                spark.range(n).select(
                    F.col("id").alias("vec_id"),
                    F.array(
                        *[F.lit(float((i * 7 % 13) - 6)) for i in range(64)]
                    ).alias("embedding"),
                ),
                threshold=0.9,
                max_bucket=500,
            ),
            # minhash variant: identical-doc GROUPS of 90 (under the
            # shingle df-cap, which structurally bounds minhash buckets
            # at ~MAX_SHINGLE_DF docs); cap=20 truncates each bucket
            "minhash_hotbucket": lambda: dedup.minhash_lsh_pairs(
                spark.range(n).select(
                    F.col("id").alias("doc_id"),
                    F.concat_ws(
                        " ",
                        *[
                            F.md5(
                                F.concat(
                                    (F.col("id") % F.lit(max(1, n // 90))).cast("string"),
                                    F.lit(f"w{i}"),
                                )
                            )
                            for i in range(12)
                        ],
                    ).alias("text"),
                ),
                "doc_id",
                "text",
                max_bucket=20,
            ),
            # r5 additions: query set grows with the corpus (n/50) so the
            # candidate volume scales with rows, not quadratically; the
            # corpus-side bucket cap bounds boilerplate floods
            "ann_join": lambda: similarity.srp_ann_join(
                emb.filter(F.col("vec_id") % 50 == 0),
                emb.filter(F.col("vec_id") % 50 != 0),
                k=3,
                max_bucket=2000,
            ),
            "contamination": lambda: sampling.contamination_report(
                docs.filter(F.col("doc_id") % 10 != 0),
                docs.filter(F.col("doc_id") % 10 == 0),
                "doc_id",
                "text",
            ),
            "curriculum": lambda: sampling.curriculum_schedule(
                docs, "doc_id", "text"
            ),
            "scd2_pit": lambda: _scd2_pit(events),
            # r8 additions
            "exact_percentiles": lambda: __import__(
                "polars_readstat_rs_spark.operators.profile", fromlist=["profile"]
            ).exact_percentiles(events, "user_id", "value"),
            "knn_label_vote": lambda: similarity.knn_label_vote(
                emb, emb.filter(F.col("vec_id") < 100), k=5
            ),
            "leakage_free_split": lambda: sampling.leakage_free_split(
                docs, "doc_id", "text"
            ),
            "minhash_estimate": lambda: dedup.minhash_estimate_pairs(
                docs, "doc_id", "text"
            ),
            "c4_filters": lambda: textstats.c4_line_filters(
                docs.select(
                    "doc_id",
                    F.regexp_replace(
                        F.col("text"), r"(\S+ \S+ \S+ \S+ \S+ \S+) ", "$1.\n"
                    ).alias("text"),
                )
            ),
            "url_dedup": lambda: dedup.url_dedup(
                docs.select(
                    "doc_id",
                    F.concat(
                        F.lit("https://h"),
                        (F.col("doc_id") % 1000).cast("string"),
                        F.lit(".example.com/p/"),
                        (F.col("doc_id") % 7919).cast("string"),
                        F.when(F.col("doc_id") % 2 == 0, F.lit("?utm_source=x&a=1")).otherwise(
                            F.lit("?a=1")
                        ),
                    ).alias("url"),
                )
            ),
            "mix_budget": lambda: sampling.mix_budget(
                docs, 10_000_000, (F.col("doc_id") % 5 + 1)
            ),
            # r9 third-wave additions
            "winnow_pairs": lambda: dedup.winnow_pairs(docs, "doc_id", "text"),
            "priority_sample": lambda: sampling.priority_sample(
                docs, "doc_id", F.col("doc_id") % 9 + 1, k=1000
            ),
            "embedding_moments": lambda: similarity.embedding_moments(emb),
            "pca_whiten": lambda: similarity.pca_whiten(emb, k=8)[0],
            # r11 continuation: the composed index (ncells grows with
            # the corpus so probed-cell population stays ~constant — the
            # IVF scaling contract; LUTs/centroids stay broadcast-sized)
            # and the collate manifest (constant shard_rows -> shard
            # count grows linearly, per-shard sort stays constant)
            "ivf_pq_rerank": lambda: similarity.ivf_pq_topk(
                emb,
                emb.filter(F.col("vec_id") < 5),
                k=10,
                depth=40,
                nprobe=2,
                ncells=max(8, n // 600),
                m=2,
                ksub=8,
            ),
            "collate_batches": lambda: multimodal.collate_batches(
                docs.select(
                    "doc_id",
                    (F.lit(64) + F.pmod(F.col("doc_id"), F.lit(32)))
                    .cast("int")
                    .alias("dim_a"),
                ),
            ),
            # r11 third wave: the compaction planner over a manifest
            # whose partition count grows with n (files-per-partition
            # stays ~constant, so the packing window never grows) and
            # the index-health report (per-cell count + one-row roll-up)
            "compaction_plan": lambda: maintenance.compaction_plan(
                docs.select(
                    F.pmod(F.col("doc_id"), F.lit(max(25, n // 200))).alias("part"),
                    F.col("doc_id").alias("file_id"),
                    (
                        F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(67108864))
                        + F.lit(1024)
                    ).alias("size_bytes"),
                ),
                target_bytes=33554432,
                small_threshold=16777216,
            ),
            "ivf_cell_stats": lambda: similarity.ivf_cell_stats(
                emb.select(
                    "vec_id", F.pmod(F.col("vec_id"), F.lit(max(8, n // 600))).alias("cell")
                )
            ),
        }
        for name, mk in ops.items():
            if only and name not in only:
                continue
            secs = run(name, mk)
            results.setdefault(name, {})[n] = secs
            print(json.dumps({"op": name, "rows": n, "sec": secs}), flush=True)
        spark.catalog.clearCache()

    if len(sizes) >= 2:
        lo, hi = sizes[0], sizes[-1]
        print(f"\n# scaling {lo} -> {hi} rows ({hi / lo:.0f}x input):")
        for name, by_n in results.items():
            r = by_n[hi] / max(by_n[lo], 1e-9)
            print(json.dumps({"op": name, "time_ratio": round(r, 1), "input_ratio": hi / lo}))


if __name__ == "__main__":
    main()

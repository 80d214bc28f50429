"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` / ``oracle_sql()`` expose the registered suite from
polars_readstat_rs_spark.queries (relational operators per SURVEY.md §2.6
+ LLM-pipeline operators). ``entry`` runs the flagship TPC-H-Q1-style
pricing summary at sf0.001.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from polars_readstat_rs_spark.queries import ORACLES, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["q01_pricing_summary"](spark, "/root/testdata/sf0.001")


# The driver records only the first 50 queries() entries per round, so
# HEAD leads with the gates whose latest driver record
# (CORRECTNESS_r*.json) is oldest; tools/rotate_head.py regenerates it.
HEAD = (
    "m07_audio_frames",
    "p02_stratified_sample",
    "p03_domain_mix",
    "p05_det_shuffle",
    "r19_por_roundtrip_agg",
    "q30_list_agg",
    "q31_count_if",
    "q48_histogram",
    "q51_event_patterns",
    "q52_snapshot_diff",
    "q53_zorder",
    "q54_ohlc",
    "q55_hopping_window",
    "q56_trend",
    "q58_rank_family",
    "q59_array_funcs",
    "q61_lateral",
    "q87_grouped_mode",
    "p10_curriculum",
    "p12_interleave",
    "v13_quantize_int8",
    "m09_audio_resample",
    "t20_normalize_text",
    "d02_dedup_ngram_jaccard",
    "m08_image_resize",
    "d13_minhash_estimate",
    "p04_pack_sequences",
    "p06_contamination",
    "r09_sav_option_interaction",
    "r12_pushdown_matrix",
    "r13_xpt_roundtrip_agg",
    "r14_xpt_v8_roundtrip",
    "q84_group_percentiles",
    "q85_recursive_hierarchy",
    "q86_windowed_distinct",
    "g04_components_star",
    "d12_cluster_representatives",
    "v12_knn_label_vote",
    "r21_catalog_write_roundtrip",
    "r22_rdc_write_roundtrip",
    "s10_stream_clean_pipeline",
    "t21_c4_filters",
    "d15_url_dedup",
    "p13_mix_budget",
    "m10_image_dhash_dedup",
    "v15_embedding_moments",
    "p15_clean_corpus",
    "m11_keyframes",
    "g05_label_propagation",
    "p16_pack_manifest",
)


def _ordered(d: dict) -> dict:
    """HEAD first, then every other registered name in registration order."""
    out = {k: d[k] for k in HEAD}
    out.update(d)  # names already in HEAD keep their place
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Every entry is value-hash-gated (an oracle_sql() counterpart
    exists for all of them). Notables: the stateful streaming
    sessionizer (``s02``) hash-matches because its integer-cent
    accumulation makes the drained stream bitwise-equal to the batch
    lag/cumsum sessionization oracle; ``q35_approx_sketches``
    hash-matches because it emits exact NDV/median companion columns
    plus an in-query relative-error assertion over the engine-specific
    sketch values (the sketches themselves are never hashed).
    """
    return _ordered(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each query (same column names/types).

    Keys cover EVERY queries() entry — the registry maintains a
    100%-hash-gated invariant (no rows-only entries).
    """
    return _ordered(ORACLES)

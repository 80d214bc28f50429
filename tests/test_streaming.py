"""Structured Streaming tests: windowed agg equals batch; stateful
sessionization via applyInPandasWithState produces consistent sessions."""

from __future__ import annotations

from pyspark.sql import functions as F

from polars_readstat_rs_spark.streaming.sessions import sessionize_stream
from polars_readstat_rs_spark.streaming.windows import (
    events_stream,
    run_to_completion,
    windowed_counts,
)
from polars_readstat_rs_spark.tables import load_table


def test_windowed_counts_stream_equals_batch(spark, sf_dir):
    agg = windowed_counts(events_stream(spark, sf_dir))
    run_to_completion(agg, "t_windowed")
    streamed = {tuple(r) for r in spark.table("t_windowed").collect()}

    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
        )
        .select(F.unix_millis("w.start").alias("ws"), "event_type", "n", "total_value")
    )
    expected = {tuple(r) for r in batch.collect()}
    assert streamed == expected


def test_stateful_sessionization(spark, sf_dir):
    """Every session — including each user's trailing one, which only
    the event-time-timeout flush emits — must match the batch
    sessionizer exactly. The sentinel staging file advances the
    watermark past every trailing timer, so processAllAvailable()
    terminates deterministically with the complete set."""
    from pyspark.sql.window import Window

    from polars_readstat_rs_spark.streaming.windows import SENTINEL_USER

    gap_ms = 30 * 60 * 1000
    ev = load_table(spark, sf_dir, "events")
    ts_ms = F.unix_millis("ts")
    w = Window.partitionBy("user_id").orderBy(ts_ms)
    batch = (
        ev.select("user_id", ts_ms.alias("ts_ms"), "value")
        .withColumn("prev", F.lag("ts_ms").over(Window.partitionBy("user_id").orderBy("ts_ms")))
        .withColumn("new_sess", (F.col("prev").isNull() | (F.col("ts_ms") - F.col("prev") > gap_ms)).cast("long"))
        .withColumn("sess_id", F.sum("new_sess").over(
            Window.partitionBy("user_id").orderBy("ts_ms")
            .rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sess_id")
        .agg(
            F.min("ts_ms").alias("session_start_ms"),
            F.max("ts_ms").alias("session_end_ms"),
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .drop("sess_id")
    )
    expected = {
        (r.user_id, r.session_start_ms, r.session_end_ms, r.n_events, round(r.total_value, 6))
        for r in batch.collect()
    }

    stream = events_stream(spark, sf_dir, sentinel=True)
    sessions = sessionize_stream(stream, gap_ms=gap_ms).filter(
        F.col("user_id") != SENTINEL_USER
    )
    q = (
        sessions.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_sessions")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.user_id, r.session_start_ms, r.session_end_ms, r.n_events, round(r.total_value, 6))
            for r in spark.table("t_sessions").collect()
        }
    finally:
        q.stop()
    assert got == expected


def test_stream_dedup_within_watermark(spark, sf_dir):
    """Streaming exact dedup: planted duplicate events collapse to the
    batch-distinct set while state stays watermark-bounded."""
    from polars_readstat_rs_spark.streaming.dedup import dedup_stream
    from polars_readstat_rs_spark.streaming.windows import events_stream

    stream = events_stream(spark, sf_dir)
    # event_type+user_id collide heavily -> real dedup work
    deduped = dedup_stream(stream, ["user_id", "event_type"], watermark="10 minutes")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_dedup")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("t_dedup").count()
    ev = load_table(spark, sf_dir, "events")
    distinct = ev.select("user_id", "event_type").distinct().count()
    # every distinct key appears at least once; duplicates inside the
    # watermark window are dropped, so counts sit between distinct and
    # total (late re-arrivals past the watermark may legitimately reappear)
    assert distinct <= got < ev.count()


def test_hash_sample_on_stream_equals_batch(spark, sf_dir):
    """hash_sample is a stateless deterministic filter, so it applies to
    a stream unchanged and selects exactly the same rows as the batch
    run over the same data — the property that lets one sampling policy
    govern both the backfill and the live pipeline."""
    from polars_readstat_rs_spark.operators import sampling

    stream = events_stream(spark, sf_dir)
    sampled = sampling.hash_sample(stream, "event_id", 0.2).select("event_id")
    # plain filter -> append mode (run_to_completion's complete mode is
    # for aggregations only)
    q = (
        sampled.writeStream.format("memory")
        .queryName("t_sampled")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {r.event_id for r in spark.table("t_sampled").collect()}

    ev = load_table(spark, sf_dir, "events")
    expected = {r.event_id for r in sampling.hash_sample(ev, "event_id", 0.2).select("event_id").collect()}
    assert streamed == expected and len(streamed) > 0


def test_stream_stream_join_equals_batch(spark, sf_dir):
    """Watermarked stream-stream self-join drained over bounded input
    equals the batch interval join — the attribution contract."""
    from polars_readstat_rs_spark.streaming.joins import attribution_join

    joined = attribution_join(events_stream(spark, sf_dir))
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_ssjoin")
        .start()
    )
    try:
        q.processAllAvailable()
        streamed = {tuple(r) for r in spark.table("t_ssjoin").collect()}
    finally:
        q.stop()

    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("p_ts"),
    )
    batch = {
        tuple(r)
        for r in c.join(
            p,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 minutes")),
        )
        .select(
            "click_id",
            "purchase_id",
            "user_id",
            F.unix_millis("c_ts").alias("click_ms"),
            F.unix_millis("p_ts").alias("purchase_ms"),
        )
        .collect()
    }
    assert streamed == batch and len(streamed) > 0


def test_ann_recall_eval(spark, sf_dir):
    """ann_recall: identical rankings give recall 1.0; a truncated
    approximate result gives the exact expected fraction."""
    from polars_readstat_rs_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    truth = similarity.brute_force_topk(emb, queries, k=5)
    perfect = similarity.ann_recall(truth, truth, k=5).collect()
    assert all(r.recall == 1.0 and r.n_hit == r.n_truth for r in perfect)

    # drop the top-2 ranked hits per query from the approx side:
    # recall must be exactly (n_truth - 2) / n_truth
    worse = truth.filter(F.col("rank") > 2)
    partial = similarity.ann_recall(truth, worse, k=5).collect()
    assert all(r.n_hit == r.n_truth - 2 for r in partial)


def test_stream_static_join_equals_batch(spark, sf_dir):
    """Stream-static enrichment drained over bounded input equals the
    batch join (stateless per micro-batch, no watermark)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("seg")
    )
    stream = events_stream(spark, sf_dir)
    out = stream.join(cust, stream.user_id == cust.c_custkey).select(
        "event_id", "seg"
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_enriched")
        .start()
    )
    try:
        q.processAllAvailable()
        streamed = {tuple(r) for r in spark.table("t_enriched").collect()}
    finally:
        q.stop()
    ev = load_table(spark, sf_dir, "events")
    batch = {
        tuple(r)
        for r in ev.join(cust, ev.user_id == cust.c_custkey)
        .select("event_id", "seg")
        .collect()
    }
    assert streamed == batch and len(streamed) > 0


def test_incremental_agg_matches_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    from polars_readstat_rs_spark.streaming.incremental import incremental_event_totals
    from polars_readstat_rs_spark.tables import load_table

    inc = incremental_event_totals(spark, sf_dir, n_chunks=3)
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
        )
    )
    assert inc.count() == batch.count()
    assert inc.exceptAll(batch).count() == 0 and batch.exceptAll(inc).count() == 0


def test_readstat_stream_source(spark, tmp_path, sf_dir):
    """spark.readStream.format('readstat') over a drop directory: the
    first micro-batch delivers the staged files, a file dropped
    MID-STREAM arrives in a later batch, and the drained total equals
    the batch read. One executor task per new file."""
    import pandas as pd
    from pyspark.sql import functions as F

    from polars_readstat_rs_spark.datasource import register as register_ds
    from polars_readstat_rs_spark.tables import load_table

    register_ds(spark)
    drop = tmp_path / "drops"
    drop.mkdir()
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
        .toPandas()
    )
    third = len(orders) // 3
    for i, sl in enumerate((orders[:third], orders[third : 2 * third])):
        tmp = drop / f".part{i}.dta.tmp"
        sl.to_stata(str(tmp), version=118, write_index=False)
        tmp.rename(drop / f"part{i}.dta")  # atomic drop

    stream = spark.readStream.format("readstat").load(str(drop))
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("readstat_drops")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.table("readstat_drops").count() == 2 * third
        # mid-stream arrival
        tmp = drop / ".part2.dta.tmp"
        orders[2 * third :].to_stata(str(tmp), version=118, write_index=False)
        tmp.rename(drop / "part2.dta")
        q.processAllAvailable()
        got = spark.table("readstat_drops")
        assert got.count() == len(orders)
        a = got.agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))).collect()[0][0]
        b = float(sum(pd.to_numeric(orders.o_totalprice)))
        assert abs(float(a) - b) < 1e-6
    finally:
        q.stop()


def test_readstat_stream_sink_roundtrip(spark, tmp_path, sf_dir):
    """Full continuous-ingest loop: .dta drop dir -> streaming source ->
    streaming .dta SINK (one immutable part file per micro-batch) ->
    batch reader. Totals must survive the double roundtrip."""
    import pandas as pd
    from pyspark.sql import functions as F

    from polars_readstat_rs_spark.datasource import register as register_ds
    from polars_readstat_rs_spark.tables import load_table

    register_ds(spark)
    drop = tmp_path / "in"
    drop.mkdir()
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
        .toPandas()
    )
    half = len(orders) // 2
    tmp = drop / ".a.dta.tmp"
    orders[:half].to_stata(str(tmp), version=118, write_index=False)
    tmp.rename(drop / "a.dta")

    out = tmp_path / "out"
    q = (
        spark.readStream.format("readstat")
        .load(str(drop))
        .writeStream.format("readstat")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start(str(out))
    )
    try:
        q.processAllAvailable()
        tmp = drop / ".b.dta.tmp"
        orders[half:].to_stata(str(tmp), version=118, write_index=False)
        tmp.rename(drop / "b.dta")
        q.processAllAvailable()
    finally:
        q.stop()

    import os

    parts = sorted(f for f in os.listdir(out) if f.endswith(".dta"))
    assert len(parts) >= 2  # one immutable file per non-empty micro-batch
    back = spark.read.format("readstat").load(str(out))
    assert back.count() == len(orders)
    a = back.agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))).collect()[0][0]
    b = float(sum(pd.to_numeric(orders.o_totalprice)))
    assert abs(float(a) - b) < 1e-6
    # independent reader agrees on every part file
    assert sum(len(pd.read_stata(str(out / p))) for p in parts) == len(orders)


def test_readstat_stream_checkpoint_recovery(spark, tmp_path, sf_dir):
    """Exactly-once across a query RESTART: stop after batch 1, drop a
    new file, restart from the same checkpoint — the recovered query
    must deliver only the new file (offsets replayed, no duplicates)."""
    import pandas as pd

    from polars_readstat_rs_spark.datasource import register as register_ds
    from polars_readstat_rs_spark.tables import load_table

    register_ds(spark)
    drop = tmp_path / "in"
    drop.mkdir()
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name").toPandas()
    tmp = drop / ".a.dta.tmp"
    nation[:10].to_stata(str(tmp), version=118, write_index=False)
    tmp.rename(drop / "a.dta")

    out = tmp_path / "out"
    ck = str(tmp_path / "ck")

    def run_until_drained():
        q = (
            spark.readStream.format("readstat")
            .load(str(drop))
            .writeStream.format("readstat")
            .option("checkpointLocation", ck)
            .start(str(out))
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_until_drained()  # batch with a.dta, then STOP
    tmp = drop / ".b.dta.tmp"
    nation[10:].to_stata(str(tmp), version=118, write_index=False)
    tmp.rename(drop / "b.dta")
    run_until_drained()  # restarted query: must deliver ONLY b.dta

    back = spark.read.format("readstat").load(str(out))
    assert back.count() == len(nation)  # no duplicates, nothing lost
    assert sorted(r.n_nationkey for r in back.collect()) == sorted(nation.n_nationkey)


def test_readstat_stream_sink_sav(spark, tmp_path, sf_dir):
    """option('format','spss'): the streaming sink writes compressed
    .sav part files, readable back by the batch reader."""
    from pyspark.sql import functions as F

    from polars_readstat_rs_spark.datasource import register as register_ds
    from polars_readstat_rs_spark.tables import load_table

    register_ds(spark)
    drop = tmp_path / "in"
    drop.mkdir()
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name").toPandas()
    tmp = drop / ".a.dta.tmp"
    nation.to_stata(str(tmp), version=118, write_index=False)
    tmp.rename(drop / "a.dta")

    out = tmp_path / "out_sav"
    q = (
        spark.readStream.format("readstat")
        .load(str(drop))
        .writeStream.format("readstat")
        .option("format", "spss")
        .option("compress", "true")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .start(str(out))
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    back = spark.read.format("readstat").load(str(out))
    assert back.count() == len(nation)
    assert sorted(r.n_name for r in back.collect()) == sorted(nation.n_name)


def test_readstat_stream_watermark_boundary(spark, tmp_path, sf_dir):
    """Offsets are an mtime watermark + boundary set (O(1), not
    O(#files)); a file FORCED onto the committed watermark nanosecond
    (same-instant drop) must still be delivered exactly once."""
    import os

    from polars_readstat_rs_spark.datasource import register as register_ds
    from polars_readstat_rs_spark.tables import load_table

    register_ds(spark)
    drop = tmp_path / "in"
    drop.mkdir()
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name").toPandas()
    a = drop / "a.dta"
    nation[:10].to_stata(str(a), version=118, write_index=False)

    q = (
        spark.readStream.format("readstat")
        .load(str(drop))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_boundary")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.table("wm_boundary").count() == 10
        # adversarial same-nanosecond drop: b lands exactly ON the
        # committed watermark
        b = drop / "b.dta"
        nation[10:].to_stata(str(b), version=118, write_index=False)
        st = os.stat(a)
        os.utime(b, ns=(st.st_atime_ns, st.st_mtime_ns))
        q.processAllAvailable()
        got = spark.table("wm_boundary")
        assert got.count() == len(nation)  # delivered once, no dupes
    finally:
        q.stop()


def test_readstat_stream_empty_dir_start_with_schema(spark, tmp_path, sf_dir):
    """A query must be able to start on an EMPTY drop directory when the
    user supplies .schema() (the normal consumer-first startup order);
    files arriving later are delivered (review finding)."""
    from pyspark.sql import types as T

    from polars_readstat_rs_spark.datasource import register as register_ds
    from polars_readstat_rs_spark.tables import load_table

    register_ds(spark)
    drop = tmp_path / "empty_start"
    drop.mkdir()
    schema = T.StructType(
        [T.StructField("n_nationkey", T.IntegerType()), T.StructField("n_name", T.StringType())]
    )
    q = (
        spark.readStream.format("readstat")
        .schema(schema)
        .load(str(drop))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("empty_start")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.table("empty_start").count() == 0
        nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name").toPandas()
        tmp = drop / ".a.dta.tmp"
        nation.to_stata(str(tmp), version=118, write_index=False)
        tmp.rename(drop / "a.dta")
        q.processAllAvailable()
        assert spark.table("empty_start").count() == len(nation)
    finally:
        q.stop()


def test_readstat_stream_sink_xpt(spark, tmp_path, sf_dir):
    """option('format','xport') + xport_version=8: the streaming sink
    writes immutable v8 .xpt part files (long names intact), readable
    back by the batch reader."""
    from polars_readstat_rs_spark.datasource import register as register_ds
    from polars_readstat_rs_spark.formats.sas import xport as X
    from polars_readstat_rs_spark.tables import load_table

    register_ds(spark)
    drop = tmp_path / "in_x"
    drop.mkdir()
    nation = (
        load_table(spark, sf_dir, "nation")
        .selectExpr(
            "CAST(n_nationkey AS DOUBLE) AS the_nation_key_column",
            "n_name AS the_nation_name_column",
        )
        .toPandas()
    )
    tmp = drop / ".a.dta.tmp"
    nation.to_stata(str(tmp), version=118, write_index=False)
    tmp.rename(drop / "a.dta")

    out = tmp_path / "out_xpt"
    q = (
        spark.readStream.format("readstat")
        .load(str(drop))
        .writeStream.format("readstat")
        .option("format", "xport")
        .option("xport_version", "8")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .start(str(out))
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    parts = sorted(out.glob("part-*.xpt"))
    assert parts and X.read_metadata(str(parts[0])).version == 8
    back = spark.read.format("readstat").load(str(out))
    assert back.columns == ["the_nation_key_column", "the_nation_name_column"]
    assert back.count() == len(nation)
    assert sorted(r.the_nation_name_column for r in back.collect()) == sorted(
        nation.the_nation_name_column
    )


def test_readstat_stream_sink_sas7bdat(spark, tmp_path, sf_dir):
    """option('format','sas'): the streaming sink writes immutable
    native .sas7bdat part files, readable back by the batch reader AND
    pandas."""
    import pandas as pd

    from polars_readstat_rs_spark.datasource import register as register_ds
    from polars_readstat_rs_spark.tables import load_table

    register_ds(spark)
    drop = tmp_path / "in_b"
    drop.mkdir()
    nation = (
        load_table(spark, sf_dir, "nation")
        .selectExpr("CAST(n_nationkey AS DOUBLE) AS nkey", "n_name")
        .toPandas()
    )
    tmp = drop / ".a.dta.tmp"
    nation.to_stata(str(tmp), version=118, write_index=False)
    tmp.rename(drop / "a.dta")

    out = tmp_path / "out_bdat"
    q = (
        spark.readStream.format("readstat")
        .load(str(drop))
        .writeStream.format("readstat")
        .option("format", "sas")
        .option("checkpointLocation", str(tmp_path / "ck4"))
        .start(str(out))
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    parts = sorted(out.glob("part-*.sas7bdat"))
    assert parts
    ref = pd.read_sas(str(parts[0]), encoding="utf-8")
    assert len(ref) == len(nation)
    back = spark.read.format("readstat").load(str(out))
    assert back.count() == len(nation)
    assert sorted(r.n_name for r in back.collect()) == sorted(nation.n_name)


def test_readstat_stream_sink_por(spark, tmp_path, sf_dir):
    """option('format','por'): the streaming sink writes immutable
    SPSS Portable part files (exact base-30 doubles), readable back by
    the batch reader — completing the sink matrix for every format the
    engine reads."""
    from polars_readstat_rs_spark.datasource import register as register_ds
    from polars_readstat_rs_spark.formats.spss import portable as P
    from polars_readstat_rs_spark.tables import load_table

    register_ds(spark)
    drop = tmp_path / "in_p"
    drop.mkdir()
    nation = (
        load_table(spark, sf_dir, "nation")
        .selectExpr("CAST(n_nationkey AS DOUBLE) AS nkey", "n_name")
        .toPandas()
    )
    tmp = drop / ".a.dta.tmp"
    nation.to_stata(str(tmp), version=118, write_index=False)
    tmp.rename(drop / "a.dta")

    out = tmp_path / "out_por"
    q = (
        spark.readStream.format("readstat")
        .load(str(drop))
        .writeStream.format("readstat")
        .option("format", "por")
        .option("checkpointLocation", str(tmp_path / "ck_por"))
        .start(str(out))
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    parts = sorted(out.glob("part-*.por"))
    assert parts
    meta = P.read_metadata(str(parts[0]))
    assert [v.name for v in meta.variables] == ["nkey", "n_name"]
    back = spark.read.format("readstat").load(str(out))
    assert back.count() == len(nation)
    assert sorted(r.n_name for r in back.collect()) == sorted(nation.n_name)


def test_readstat_stream_sink_honours_writer_options(spark, tmp_path, sf_dir):
    """The stream sink parses the same writer options as the batch
    sink: dta_version=117 writes a v117 release header and SAS
    compress=rle writes SASYZCRL-compressed rows; values read back
    equal and no staging dir survives the query."""
    import os

    from polars_readstat_rs_spark.datasource import register as register_ds
    from polars_readstat_rs_spark.tables import load_table

    register_ds(spark)
    drop = tmp_path / "in_opts"
    drop.mkdir()
    nation = (
        load_table(spark, sf_dir, "nation")
        .selectExpr("CAST(n_nationkey AS DOUBLE) AS nkey", "n_name")
        .toPandas()
    )
    tmp = drop / ".a.dta.tmp"
    nation.to_stata(str(tmp), version=118, write_index=False)
    tmp.rename(drop / "a.dta")
    want = sorted(zip(nation.nkey, nation.n_name))

    for fmt, opts, ext, marker in (
        ("stata", {"dta_version": "117"}, "dta", b"<stata_dta><header><release>117</release>"),
        ("sas", {"compress": "rle"}, "sas7bdat", b"SASYZCRL"),
    ):
        out = tmp_path / f"out_{ext}"
        w = spark.readStream.format("readstat").load(str(drop)).writeStream.format("readstat")
        for k, v in opts.items():
            w = w.option(k, v)
        q = (
            w.option("format", fmt)
            .option("checkpointLocation", str(tmp_path / f"ck_{ext}"))
            .start(str(out))
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        parts = sorted(out.glob(f"part-*.{ext}"))
        assert parts, ext
        for p in parts:
            raw = p.read_bytes()
            assert raw.startswith(marker) if ext == "dta" else marker in raw, (p, raw[:64])
        back = spark.read.format("readstat").load(str(out)).collect()
        assert sorted((r.nkey, r.n_name) for r in back) == want
        assert not [f for f in os.listdir(tmp_path) if "._stage_" in f], os.listdir(tmp_path)

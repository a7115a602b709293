"""Structured Streaming ops: real readStream execution (availableNow) with
batch parity as the correctness oracle (SURVEY.md §2.10)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_hiscox_spark.registry import load_table
from etl_hiscox_spark.streaming.ops import (
    foreach_batch_upsert,
    run_available_now_to_memory,
    session_agg,
    stateful_dedup,
    stream_from_parquet,
    tumbling_agg,
    with_watermark,
)


def _events_parquet(spark, sf_dir, tmp_path) -> str:
    """Events re-written with µs timestamps (streaming file source can't
    read the ns-typed original)."""
    p = str(tmp_path / "events_us")
    load_table(spark, "events", sf_dir).write.mode("overwrite").parquet(p)
    return p


def test_stream_tumbling_equals_batch(spark, sf_dir, tmp_path):
    path = _events_parquet(spark, sf_dir, tmp_path)
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sv"),
    ]
    stream = with_watermark(stream_from_parquet(spark, path), "ts", "10 minutes")
    run_available_now_to_memory(
        tumbling_agg(stream, aggs, window="5 minutes", extra_keys=["event_type"]),
        "t_stream",
        output_mode="complete",
    )
    got = {
        (r["window"]["start"], r["event_type"]): (r["n"], r["sv"])
        for r in spark.table("t_stream").collect()
    }
    batch = tumbling_agg(
        spark.read.parquet(path), aggs, window="5 minutes", extra_keys=["event_type"]
    )
    want = {
        (r["window"]["start"], r["event_type"]): (r["n"], r["sv"]) for r in batch.collect()
    }
    assert got == want and len(want) > 0


def test_stream_stateful_dedup(spark, sf_dir, tmp_path):
    path = _events_parquet(spark, sf_dir, tmp_path)
    # duplicate the input: every event twice -> stateful dedup must halve it
    doubled = str(tmp_path / "doubled")
    df = spark.read.parquet(path)
    df.unionByName(df).write.mode("overwrite").parquet(doubled)
    stream = stream_from_parquet(spark, doubled)
    deduped = stateful_dedup(stream, keys=["event_id"], ts_col="ts", delay="1 hour")
    run_available_now_to_memory(deduped, "t_dedup", output_mode="append")
    assert spark.table("t_dedup").count() == df.count()


def test_stream_sliding_equals_batch(spark, sf_dir, tmp_path):
    path = _events_parquet(spark, sf_dir, tmp_path)
    from etl_hiscox_spark.streaming.ops import sliding_agg

    aggs = [F.count(F.lit(1)).alias("n")]
    stream = with_watermark(stream_from_parquet(spark, path), "ts", "10 minutes")
    run_available_now_to_memory(
        sliding_agg(stream, aggs, window="10 minutes", slide="5 minutes"),
        "t_slide",
        output_mode="complete",
    )
    got = {r["window"]["start"]: r["n"] for r in spark.table("t_slide").collect()}
    want = {
        r["window"]["start"]: r["n"]
        for r in sliding_agg(
            spark.read.parquet(path), aggs, window="10 minutes", slide="5 minutes"
        ).collect()
    }
    assert got == want and len(want) > 0


def test_stream_session_window_equals_batch(spark, sf_dir, tmp_path):
    path = _events_parquet(spark, sf_dir, tmp_path)
    aggs = [F.count(F.lit(1)).alias("n")]
    stream = with_watermark(stream_from_parquet(spark, path), "ts", "1 hour")
    run_available_now_to_memory(
        session_agg(stream, aggs, gap="30 minutes", keys=["user_id"]),
        "t_sess",
        output_mode="complete",
    )
    got = {
        (r["user_id"], r["session_window"]["start"]): r["n"]
        for r in spark.table("t_sess").collect()
    }
    want = {
        (r["user_id"], r["session_window"]["start"]): r["n"]
        for r in session_agg(
            spark.read.parquet(path), aggs, gap="30 minutes", keys=["user_id"]
        ).collect()
    }
    assert got == want and len(want) > 0


def test_session_window_batch(spark, sf_dir):
    ev = load_table(spark, "events", sf_dir)
    out = session_agg(
        ev, aggs=[F.count(F.lit(1)).alias("n")], gap="30 minutes", keys=["user_id"]
    )
    row = out.select(F.sum("n").alias("total")).first()
    assert row["total"] == ev.count()  # sessions partition the events


def test_foreach_batch_idempotent_upsert(spark, tmp_path):
    target = str(tmp_path / "upsert_target")
    upsert = foreach_batch_upsert(target, ["k"], spark)
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    b1 = spark.createDataFrame([(2, "b2"), (3, "c")], "k int, v string")
    upsert(b0, 0)
    upsert(b1, 1)
    upsert(b1, 1)  # replay of batch 1 must be a no-op (idempotent)
    got = {r["k"]: r["v"] for r in spark.read.parquet(target).collect()}
    assert got == {1: "a", 2: "b2", 3: "c"}
    assert os.path.exists(target)


def test_stream_static_join_equals_batch(spark, sf_dir, tmp_path):
    from etl_hiscox_spark.streaming.ops import stream_static_join

    path = _events_parquet(spark, sf_dir, tmp_path)
    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_mktsegment")
    stream = stream_from_parquet(spark, path)
    enriched = stream_static_join(stream, cust, stream.user_id == cust.c_custkey).groupBy(
        "c_mktsegment"
    ).agg(F.count(F.lit(1)).alias("n"))
    run_available_now_to_memory(enriched, "ss_join", output_mode="complete")
    got = {r.c_mktsegment: r.n for r in spark.table("ss_join").collect()}
    batch = spark.read.parquet(path)
    want = {
        r.c_mktsegment: r.n
        for r in stream_static_join(batch, cust, batch.user_id == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and len(want) > 0


def test_stream_stream_join_equals_batch(spark, sf_dir, tmp_path):
    from etl_hiscox_spark.streaming.ops import stream_stream_join

    path = _events_parquet(spark, sf_dir, tmp_path)

    def pairs(src):
        clicks = src.filter(F.col("event_type") == "click").select("user_id", "ts")
        buys = src.filter(F.col("event_type") == "purchase").select("user_id", "ts")
        return stream_stream_join(
            clicks, buys, key="user_id", watermark="10 minutes", max_delay="30 minutes"
        ).select(
            F.col("l.user_id").alias("user_id"),
            F.col("l.ts").alias("click_ts"),
            F.col("r.ts").alias("purchase_ts"),
        )

    stream_out = pairs(stream_from_parquet(spark, path))
    run_available_now_to_memory(stream_out, "s2s_join", output_mode="append")
    got = sorted(map(tuple, spark.table("s2s_join").collect()))
    want = sorted(map(tuple, pairs(spark.read.parquet(path)).collect()))
    assert got == want and len(want) > 0


def test_stream_stream_left_outer_equals_batch(spark, sf_dir, tmp_path):
    # Watermarked stream-stream LEFT OUTER (x12's mechanism): null-padded
    # rows only emit once the watermark proves no match can arrive, so the
    # stream run appends a far-future sentinel event on both sides to push
    # the final watermark past every real row; the sentinel user is
    # excluded from the comparison.
    from etl_hiscox_spark.streaming.ops import stream_stream_join

    ev = load_table(spark, "events", sf_dir)
    # sentinel anchored on MAX(ts): it must outrun every real row by more
    # than max_delay + watermark or some null-padded rows never emit
    sentinel = ev.agg(F.max("ts").alias("ts")).select(
        F.lit(-1).alias("user_id"),
        (F.col("ts") + F.expr("INTERVAL 7 DAYS")).alias("ts"),
        F.lit("click").alias("event_type"),
    )
    base = ev.select("user_id", "ts", "event_type")
    path = str(tmp_path / "events_sentinel")
    base.unionByName(sentinel).unionByName(
        sentinel.withColumn("event_type", F.lit("purchase"))
    ).write.mode("overwrite").parquet(path)

    def abandoned(src):
        clicks = src.filter(F.col("event_type") == "click").select("user_id", "ts")
        buys = src.filter(F.col("event_type") == "purchase").select("user_id", "ts")
        j = stream_stream_join(
            clicks, buys, key="user_id", watermark="10 minutes",
            max_delay="30 minutes", how="leftOuter",
        )
        return j.filter(F.col("r.ts").isNull()).select(
            F.col("l.user_id").alias("user_id"), F.col("l.ts").alias("click_ts")
        )

    stream_out = abandoned(stream_from_parquet(spark, path))
    run_available_now_to_memory(stream_out, "s2s_left_outer", output_mode="append")
    got = sorted(
        map(tuple, spark.table("s2s_left_outer").filter("user_id >= 0").collect())
    )
    want = sorted(
        map(tuple, abandoned(spark.read.parquet(path)).filter("user_id >= 0").collect())
    )
    assert got == want and len(want) > 0


def test_write_txn_idempotent_per_app_and_batch(spark, tmp_path):
    """The txnAppId/txnVersion protocol: a replayed (app, batch) pair is a
    no-op; later batches commit; independent apps don't interfere."""
    from etl_hiscox_spark.sources.txnlog import TxnTable

    t = TxnTable(spark, str(tmp_path / "tbl"))
    b0 = spark.createDataFrame([(1,)], "id int")
    b1 = spark.createDataFrame([(2,)], "id int")

    assert t.write_txn(b0, "appA", 0) is True
    assert t.write_txn(b0, "appA", 0) is False       # replay skipped
    assert t.write_txn(b0, "appA", 0, mode="overwrite") is False
    assert t.write_txn(b1, "appA", 1) is True
    assert t.write_txn(b1, "appA", 0) is False       # late replay of old id
    assert t.write_txn(b0, "appB", 0) is True        # other writer unaffected
    assert t.last_txn_version("appA") == 1 and t.last_txn_version("appB") == 0
    assert t.last_txn_version("appC") is None
    assert t.read().count() == 3  # 1 + 2 + 1 rows, no duplicates


def test_foreach_batch_txn_append_multibatch_replay(spark, tmp_path):
    """Multi-batch stream (maxFilesPerTrigger=1) into the txn sink, then a
    full fresh-checkpoint replay with the same app_id: row set unchanged."""
    from pyspark.sql import functions as F

    from etl_hiscox_spark.sources.txnlog import TxnTable
    from etl_hiscox_spark.streaming.ops import foreach_batch_txn_append

    src = str(tmp_path / "src")
    tbl = str(tmp_path / "tbl")
    for i in range(3):  # three files -> three micro-batches
        spark.createDataFrame([(i * 10 + j,) for j in range(5)], "id long").coalesce(
            1
        ).write.mode("append").parquet(src)

    def run(ckpt: str) -> None:
        stream = (
            spark.readStream.schema("id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(foreach_batch_txn_append(tbl, spark, "s"))
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run("ckpt1")
    t = TxnTable(spark, tbl)
    n_versions = len(t.history())
    assert n_versions >= 2  # genuinely multi-batch
    got = sorted(r["id"] for r in t.read().collect())
    assert got == sorted(i * 10 + j for i in range(3) for j in range(5))

    run("ckpt2")  # same app_id, fresh checkpoint -> every batch id skipped
    assert len(t.history()) == n_versions
    assert sorted(r["id"] for r in t.read().collect()) == got


def test_streaming_ingest_probes_minhash_index(spark, tmp_path):
    """Streaming ingestion dedup: a file stream of new documents probes
    the persisted LSH index inside foreachBatch — the daily-crawl shape
    with the incremental index as the stateful side. Each micro-batch
    shingles only itself; candidates are exact-Jaccard VERIFIED against a
    corpus store the stream maintains alongside the index; matches append
    to a report; batches then extend both index and corpus, so a near-dup
    arriving in a LATER batch is caught against an earlier batch's docs.
    The verify path persists internally, so the per-batch owned_caches
    release is load-bearing: the cached-RDD count must return to its
    baseline after every stream run (r9 review — the candidates-only
    probe path has no persists, and wrapping it made the release a
    no-op that pinned nothing)."""
    from etl_hiscox_spark.operators.caching import cached_rdd_ids, owned_caches
    from etl_hiscox_spark.operators.dedup import probe_minhash_index, write_minhash_index

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    hist = spark.createDataFrame([(0, base)], "doc_id long, text string")
    idx = str(tmp_path / "idx")
    corpus = str(tmp_path / "corpus")
    write_minhash_index(hist, "text", "doc_id", idx, num_hashes=24, num_bands=6)
    hist.write.mode("overwrite").parquet(corpus)

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    report = str(tmp_path / "report")
    # batch A: near-dup of history + fresh doc; batch B: near-dup of A's fresh doc
    spark.createDataFrame(
        [(101, base.replace("kappa", "lambda")),
         (102, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    ).write.mode("append").parquet(str(inbox))

    def probe_and_extend(batch_df, batch_id):
        # owned_caches frees the probe's internal persists (candidate set
        # + jaccard shingle stem) at the end of every foreachBatch
        # invocation — without it cached blocks accumulate per
        # micro-batch for the stream's lifetime (ADVICE r8).
        s = batch_df.sparkSession
        resolver = s.read.parquet(corpus).unionByName(batch_df)
        with owned_caches(
            probe_minhash_index(
                batch_df, "text", "doc_id", idx, verify_df=resolver, threshold=0.5
            )
        ) as matches:
            matches.write.mode("append").parquet(report)
        write_minhash_index(batch_df, "text", "doc_id", idx, num_hashes=24, num_bands=6, mode="append")
        batch_df.write.mode("append").parquet(corpus)

    def run_stream():
        # id set, not count — see test_dedup_similarity's lifecycle tests
        before_ids = cached_rdd_ids(spark)
        q = (
            spark.readStream.schema("doc_id long, text string")
            .parquet(str(inbox))
            .writeStream.foreachBatch(probe_and_extend)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not (cached_rdd_ids(spark) - before_ids), "stream leaked probe caches"

    run_stream()
    rows = spark.read.parquet(report).collect()
    got = {(r["new_id"], r["dup_of"]) for r in rows}
    assert (101, 0) in got and all(nid != 102 for nid, _ in got)
    assert all(r["jaccard"] is not None for r in rows), "corpus store failed to resolve a side"

    # batch B arrives later: near-dup of 102, which only the EXTENDED index knows
    spark.createDataFrame(
        [(201, "one two three four five six seven eight nine eleven")],
        "doc_id long, text string",
    ).write.mode("append").parquet(str(inbox))
    run_stream()
    got = {(r["new_id"], r["dup_of"]) for r in spark.read.parquet(report).collect()}
    assert (201, 102) in got


def test_streaming_ingest_appends_ivf_index(spark, tmp_path):
    """Streaming embedding ingest — the vector twin of the LSH
    probe-and-extend stream: each micro-batch is assigned to the PINNED
    centroids of a written IVF index and appended partition-wise inside
    foreachBatch; after the stream drains, a full-probe query over the
    index equals exact brute force over history + every ingested batch."""
    import numpy as np
    from pyspark.sql import functions as F

    from etl_hiscox_spark.operators.similarity import (
        append_to_ivf_index,
        cosine_topk,
        ivf_probe_topk,
        write_ivf_index,
    )

    rng = np.random.default_rng(17)
    vecs = rng.standard_normal((90, 8)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(90)]
    hist = spark.createDataFrame(rows[:30], "vec_id long, embedding array<float>")
    idx = str(tmp_path / "ivf")
    write_ivf_index(hist, idx, "embedding", "vec_id", n_clusters=4, seed=3)

    inbox = tmp_path / "vin"
    inbox.mkdir()
    spark.createDataFrame(rows[30:60], "vec_id long, embedding array<float>").write.mode(
        "append"
    ).parquet(str(inbox))
    spark.createDataFrame(rows[60:], "vec_id long, embedding array<float>").write.mode(
        "append"
    ).parquet(str(inbox))

    def ingest(batch_df, batch_id):
        append_to_ivf_index(batch_df, idx, "embedding", "vec_id")

    q = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .parquet(str(inbox))
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    from etl_hiscox_spark.operators.similarity import _read_ivf_segments
    from etl_hiscox_spark.sources.genlog import live_index_paths

    assert _read_ivf_segments(spark, live_index_paths(spark, idx)).count() == 90
    full = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qv = [float(x) for x in vecs[0]]
    got = [
        (r["vec_id"], round(r["cosine_sim"], 9))
        for r in ivf_probe_topk(spark, idx, None, "embedding", "vec_id", qv, k=5, n_probe=4).collect()
    ]
    want = [
        (r["vec_id"], round(r["cosine_sim"], 9))
        for r in cosine_topk(full, "embedding", "vec_id", qv, k=5).collect()
    ]
    assert got == want

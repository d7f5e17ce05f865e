"""Stream/batch parity for the L6 streaming windows: the same logical
plan over readStream must produce the batch twin's rows after one
availableNow drain."""

from __future__ import annotations

from pyspark.sql import functions as F

from recsys_spark_spark.plans.relational import events_daily, events_sessions
from recsys_spark_spark.sources.readers import table
from recsys_spark_spark.plans.windows_extra import events_sliding_1h
from recsys_spark_spark.streaming.windows import (
    daily_counts_stream,
    read_events_stream,
    run_stream_once,
    session_rows_stream,
    sliding_counts_stream,
)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_daily_stream_matches_batch(spark, sf_dir):
    stream = daily_counts_stream(read_events_stream(spark, sf_dir))
    got = run_stream_once(stream, "daily_stream_test")
    want = events_daily(spark, sf_dir)
    cols = ["day_start", "event_type", "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_session_stream_matches_batch_session_counts(spark, sf_dir):
    # precondition for boundary equivalence: no inter-event gap is
    # exactly the 1800 s session gap (see session_rows_stream docstring)
    e = table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # same NTZ-safe truncated-diff expression as the batch twin — gaps
    # landing in [1800, 1801) are the only ones where truncated-gap
    # (batch) and exact-gap (session_window) semantics could disagree
    gaps = e.select(
        F.timestamp_diff(
            "SECOND",
            F.date_trunc("second", F.lag("ts").over(w)),
            F.date_trunc("second", F.col("ts")),
        ).alias("gap")
    )
    assert gaps.where(F.col("gap") == 1800).count() == 0

    stream = session_rows_stream(read_events_stream(spark, sf_dir))
    sessions = run_stream_once(stream, "session_stream_test")
    got = _rows(
        sessions.groupBy("user_id").agg(
            F.count("*").alias("n_sessions"), F.sum("n_events").alias("n_events")
        ),
        ["user_id", "n_sessions", "n_events"],
    )
    want = _rows(events_sessions(spark, sf_dir), ["user_id", "n_sessions", "n_events"])
    assert got == want


def test_sliding_stream_matches_batch(spark, sf_dir):
    stream = sliding_counts_stream(read_events_stream(spark, sf_dir))
    got = run_stream_once(stream, "sliding_stream_test")
    want = events_sliding_1h(spark, sf_dir)
    cols = ["window_start", "event_type", "n_events"]
    assert _rows(got, cols) == _rows(want, cols)


def test_purchase_view_join_stream_matches_batch(spark, sf_dir):
    """Stream-stream interval join (purchases ⋈ same-user views within
    1 h) drains to exactly the batch twin's rows."""
    from recsys_spark_spark.plans.relational import events_purchase_view_join
    from recsys_spark_spark.streaming.joins import purchase_view_join_stream

    stream = purchase_view_join_stream(read_events_stream(spark, sf_dir))
    got = run_stream_once(stream, "pv_join_stream_test", output_mode="append")
    want = events_purchase_view_join(spark, sf_dir)
    cols = ["purchase_id", "view_id", "user_id", "gap_s"]
    assert got.count() > 0  # non-vacuous
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_incremental_micro_batches(spark, sf_dir):
    """maxFilesPerTrigger drives the source in bounded micro-batches;
    the final answer is unchanged."""
    stream = daily_counts_stream(
        read_events_stream(spark, sf_dir, max_files_per_trigger=1)
    )
    got = run_stream_once(stream, "daily_stream_mb_test")
    want = events_daily(spark, sf_dir)
    cols = ["day_start", "event_type", "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_histogram_sketch_stream_matches_batch(spark, sf_dir):
    """The streamed daily sketch must equal the batch-built one bin
    for bin — counts are order-insensitive additions, so a drained
    stream IS the batch sketch."""
    from recsys_spark_spark.operators.sketches import histogram_sketch
    from recsys_spark_spark.streaming.windows import histogram_sketch_stream

    stream = histogram_sketch_stream(read_events_stream(spark, sf_dir))
    got = run_stream_once(stream, "hist_sketch_stream_test")
    want = histogram_sketch(
        table(spark, sf_dir, "events").withColumn(
            "day", F.date_trunc("day", "ts").cast("date")
        ),
        ["day", "event_type"],
        "value",
    )
    cols = ["day", "event_type", "bin", "n"]
    assert _rows(got, cols) == _rows(want, cols)


def test_cms_user_sketch_stream_matches_batch_and_serves_heavy_users(
    spark, sf_dir
):
    """The streamed daily CMS grid equals the batch-built one counter
    for counter (additions are order-insensitive), and the merged grid
    answers heavy-user point queries with the CMS overestimate
    guarantee intact."""
    from recsys_spark_spark.operators.sketches import (
        cms_hash_cols,
        daily_cms_user_sketch,
    )
    from recsys_spark_spark.streaming.windows import cms_user_sketch_stream

    stream = cms_user_sketch_stream(read_events_stream(spark, sf_dir))
    got = run_stream_once(stream, "cms_user_stream_test")
    e = table(spark, sf_dir, "events")
    want = daily_cms_user_sketch(e)
    cols = ["day", "r", "b", "n"]
    assert _rows(got, cols) == _rows(want, cols)

    # merge to the total grain and point-query every user against the
    # exact count: est = min over rows, always >= exact
    merged = got.groupBy("r", "b").agg(F.sum("n").alias("c"))
    exact = e.groupBy(F.col("user_id").cast("string").alias("token")).agg(
        F.count("*").alias("exact")
    )
    cells = F.posexplode(F.array(*cms_hash_cols(F.col("token"))))
    est = (
        exact.select("token", "exact", cells.alias("r", "b"))
        .join(merged, ["r", "b"])
        .groupBy("token")
        .agg(F.min("c").alias("est"), F.max("exact").alias("exact"))
    )
    rows = est.collect()
    assert rows and all(r["est"] >= r["exact"] for r in rows)
    top_est = max(rows, key=lambda r: (r["est"], r["token"]))
    top_exact = max(rows, key=lambda r: (r["exact"], r["token"]))
    assert top_est["token"] == top_exact["token"]


def test_hll_user_sketch_stream_matches_batch(spark, sf_dir):
    """The streamed daily HLL sketch equals the batch one — register
    updates are max() ops, so micro-batched arrival yields the same
    sketch bytes and estimates — and the merged (union) estimate over
    streamed rows equals the batch rollup exactly."""
    from recsys_spark_spark.operators.sketches import (
        daily_user_sketches,
        rollup_sketches,
    )
    from recsys_spark_spark.streaming.windows import daily_user_sketch_stream

    stream = daily_user_sketch_stream(read_events_stream(spark, sf_dir))
    got = run_stream_once(stream, "hll_user_stream_test")
    want = daily_user_sketches(table(spark, sf_dir, "events")).withColumn(
        "day", F.col("day").cast("date")
    )
    g = {r["day"]: (bytes(r["sketch"]), r["est_users"]) for r in got.collect()}
    w = {r["day"]: (bytes(r["sketch"]), r["est_users"]) for r in want.collect()}
    assert g == w and g
    merged_stream = rollup_sketches(got).first()["est_users_total"]
    merged_batch = rollup_sketches(want).first()["est_users_total"]
    assert merged_stream == merged_batch


def test_bloom_filter_stream_matches_batch_and_probes(spark, sf_dir, tmp_path):
    """The streamed Bloom grid (the fourth streamed sketch family)
    must equal the batch build word for word after a MULTI-TRIGGER
    drain — bit-OR is order/batching-insensitive and needs no
    watermark, so state is ≤ m/64 rows forever.  End-to-end: the
    drained grid densifies into a filter every ingested key passes."""
    import shutil

    from recsys_spark_spark.operators.bloom import (
        bloom_build,
        bloom_densify,
        bloom_might_contain,
    )
    from recsys_spark_spark.streaming.windows import bloom_filter_stream

    src = tmp_path / "stream_src"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "events_a.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", src / "events_b.parquet")
    m, k = 1 << 14, 3

    stream = bloom_filter_stream(
        read_events_stream(
            spark, str(src), max_files_per_trigger=1, glob="events_*.parquet"
        ),
        "user_id",
        m,
        k,
    )
    got = run_stream_once(stream, "bloom_stream_test")
    assert got.count() <= m // 64  # state bound: set words only

    batch_keys = table(spark, sf_dir, "events").select("user_id")
    want_words = bloom_build(batch_keys, "user_id", m, k)
    # densify the drained sparse grid with the shared assembly and
    # compare word-for-word (duplicate ingestion ORs to the same bits)
    drained_words = bloom_densify(got, m)
    assert (
        drained_words.collect()[0]["words"]
        == want_words.collect()[0]["words"]
    ), "drained grid must equal the batch build bit-exactly"

    # every ingested key passes the maintained filter (no false negatives)
    users = batch_keys.distinct()
    passed = bloom_might_contain(users, drained_words, "user_id", m, k)
    assert passed.count() == users.count()


def test_purchase_view_join_closed_form_and_state_horizon(spark, tmp_path):
    """Blocks 6 h apart, one file each: per (user, block) a purchase
    and views 600 / 1800 / 3540 s before it (inside the 1 h lookback)
    and 5400 s before (outside).  The drain emits exactly the three
    in-window gaps per purchase, and join state tracks the watermark
    horizon (at most 3 blocks in flight), never the whole input."""
    from recsys_spark_spark.streaming.joins import purchase_view_join_stream

    n_users, n_blocks = 20, 6
    slots = [(0, "purchase"), (600, "view"), (1800, "view"), (3540, "view"), (5400, "view")]
    path = str(tmp_path / "events")
    for b in range(n_blocks):
        t0 = 1_700_000_000 + b * 6 * 3600
        rows = [
            (b * 1000 + u * 10 + i, t0 - off, u, etype)
            for u in range(n_users)
            for i, (off, etype) in enumerate(slots)
        ]
        spark.createDataFrame(
            rows, "event_id long, epoch long, user_id long, event_type string"
        ).select(
            "event_id",
            F.timestamp_seconds("epoch").alias("ts"),
            "user_id",
            "event_type",
            F.lit(1.0).alias("value"),
            F.lit(None).cast("string").alias("props"),
        ).coalesce(1).write.mode("append").parquet(path)
    stream = purchase_view_join_stream(
        read_events_stream(spark, path, max_files_per_trigger=1, glob="*.parquet")
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("pv_join_horizon_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    state = [p["stateOperators"][0]["numRowsTotal"] for p in q.recentProgress if p["stateOperators"]]
    gaps = spark.table("pv_join_horizon_test").groupBy("gap_s").count().collect()
    assert sorted((r["gap_s"], r["count"]) for r in gaps) == [
        (g, n_users * n_blocks) for g in (600, 1800, 3540)
    ]
    assert len(state) >= n_blocks and max(state) <= 3 * n_users * len(slots)

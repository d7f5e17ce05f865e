"""applyInPandasWithState: state must ACCUMULATE across micro-batches
— two copies of the events file driven one-per-trigger; the final
update per user equals the batch aggregate over both copies."""

from __future__ import annotations

import shutil

import pandas as pd
from pyspark.sql import functions as F

from recsys_spark_spark.sources.readers import table
from recsys_spark_spark.streaming.stateful import running_user_totals_stream
from recsys_spark_spark.streaming.windows import read_events_stream


def test_state_accumulates_across_microbatches(spark, sf_dir, tmp_path):
    src = tmp_path / "stream_src"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "events_a.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", src / "events_b.parquet")

    events = read_events_stream(
        spark, str(src), max_files_per_trigger=1, glob="events_*.parquet"
    )
    stream = running_user_totals_stream(events)

    updates: list[pd.DataFrame] = []

    def sink(batch_df, batch_id):
        updates.append(batch_df.toPandas())

    q = (
        stream.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    nonempty = [u for u in updates if len(u)]
    assert len(nonempty) >= 2, "expected at least two micro-batches"
    last = {}
    for pdf in updates:
        for r in pdf.itertuples(index=False):
            last[r.user_id] = (r.n_events, round(r.sum_value, 6))

    e = table(spark, sf_dir, "events")
    want = {
        r["user_id"]: (2 * r["n"], round(2 * r["s"], 6))
        for r in e.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert last == want
    # NoTimeout: state holds one row per user ever seen, no more
    state = [p["stateOperators"][0]["numRowsTotal"] for p in q.recentProgress if p["stateOperators"]]
    assert state[-1] == len(want)


def test_idle_timeout_variant_still_accumulates(spark, sf_dir, tmp_path):
    """idle_timeout_ms switches to ProcessingTimeTimeout; with a 1h
    timeout no key is evicted inside the test window, so totals must
    equal the batch aggregate — pins that the timeout plumbing
    (hasTimedOut branch, setTimeoutDuration) doesn't corrupt state.

    Driven by a bounded poll, NOT availableNow/processAllAvailable:
    with ProcessingTimeTimeout the query never quiesces (endless
    state-cleanup batches — see stateful.py CAVEAT)."""
    import time

    src = tmp_path / "stream_src"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "events_a.parquet")

    e = table(spark, sf_dir, "events")
    want = {
        r["user_id"]: (r["n"], round(r["s"], 6))
        for r in e.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }

    events = read_events_stream(
        spark, str(src), max_files_per_trigger=1, glob="events_*.parquet"
    )
    stream = running_user_totals_stream(events, idle_timeout_ms=3_600_000)

    updates: list[pd.DataFrame] = []
    q = (
        stream.writeStream.foreachBatch(
            lambda b, _: updates.append(b.toPandas())
        )
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    got: dict = {}
    deadline = time.time() + 120
    try:
        while time.time() < deadline and got != want:
            time.sleep(1)
            got = {}
            for pdf in list(updates):
                for r in pdf.itertuples(index=False):
                    got[r.user_id] = (r.n_events, round(r.sum_value, 6))
    finally:
        q.stop()
        q.awaitTermination()
    assert got == want


def test_read_events_stream_empty_dir_needs_schema(spark, tmp_path):
    """Regression (round 4): an empty landing directory crashed the
    construction-time schema sniff with a raw AnalysisException; it
    must raise the documented ValueError, and an explicit schema must
    construct a valid idle stream."""
    import pytest as _pytest

    empty = tmp_path / "landing"
    empty.mkdir()
    with _pytest.raises(ValueError, match="pass schema="):
        read_events_stream(spark, str(empty))

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    df = read_events_stream(spark, str(empty), schema=schema)
    assert df.isStreaming and "ts" in df.columns

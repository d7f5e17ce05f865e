"""Registered sketch-rollup query: mergeable fixed-bin histogram
quantiles over the events value column (operators/sketches.py).

The Spark side deliberately takes the TWO-STEP route — daily sketches
first, then an elementwise bin merge to the event_type grain — while
the oracle bins the facts directly at the final grain: the value-hash
match therefore *proves* the merge-exactness claim
(sketch-of-union == union-of-sketches) on real data, not just on the
planted pytest fixtures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import qround_sql
from ..operators.sketches import (
    HIST_LO,
    HIST_NBINS,
    HIST_W,
    histogram_quantiles,
    histogram_sketch,
    merge_histograms,
)
from ..sources.readers import table
from .registry import oracle_of, register

_QS = (0.5, 0.9, 0.99)

# DuckDB parses bare numeric literals as DECIMAL and would carry the
# rq/interpolation arithmetic in exact decimal while Spark rounds each
# double op — explicit DOUBLE casts keep both engines on the same
# per-op IEEE sequence (the contract functions/rounding.py rests on)
_LO_D = f"CAST({HIST_LO} AS DOUBLE)"
_W_D = f"CAST({HIST_W} AS DOUBLE)"
_EST = f"{_LO_D} + {_W_D} * c.bin + {_W_D} * (c.rq - h.cum_prev) / h.n"


@register(
    # new in r4 (registry window full at 50); rotate REGISTERED in r5
    "events_value_quantile_sketch",
    oracle=f"""
WITH b AS (
  SELECT event_type,
         CAST(least(greatest(floor((value - {_LO_D}) / {_W_D}), 0),
                    {HIST_NBINS - 1}) AS INTEGER) AS bin
  FROM events WHERE value IS NOT NULL
),
hist AS (
  SELECT event_type, bin, CAST(count(*) AS BIGINT) AS n
  FROM b GROUP BY 1, 2
),
h AS (
  SELECT event_type, bin, n,
         CAST(sum(n) OVER pw AS BIGINT) AS cum,
         CAST(sum(n) OVER pw - n AS BIGINT) AS cum_prev
  FROM hist
  WINDOW pw AS (PARTITION BY event_type ORDER BY bin)
),
tot AS (
  SELECT event_type, CAST(sum(n) AS BIGINT) AS n_total
  FROM hist GROUP BY 1
),
qs AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q),
spec AS (
  SELECT event_type, q, n_total, q * n_total AS rq
  FROM tot CROSS JOIN qs
),
cand AS (
  SELECT h.event_type, q, rq, n_total, min(bin) AS bin
  FROM h JOIN spec USING (event_type)
  WHERE cum >= rq GROUP BY 1, 2, 3, 4
)
SELECT c.event_type, c.q, c.n_total,
       {qround_sql(_EST, 6)} AS est
FROM cand c JOIN h ON h.event_type = c.event_type AND h.bin = c.bin
""",
)
def events_value_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 of events.value per event_type, answered from a
    MERGED daily histogram sketch (see module docstring: the oracle
    bins directly, so the hash match certifies merge exactness).

    100 TB shape: the facts are scanned once into
    (day, type, bin, n) — at most days × types × nbins (128) rows —
    and every coarser quantile query runs on that sketch relation.
    Accuracy is bounded by the bin width (|est − exact| ≤ w,
    property-tested in tests/test_sketches.py)."""
    e = table(spark, sf_dir, "events")
    daily = histogram_sketch(
        e.withColumn("day", F.date_trunc("day", "ts").cast("date")),
        key_cols=["day", "event_type"],
        value_col="value",
        lo=HIST_LO,
        w=HIST_W,
        nbins=HIST_NBINS,
    )
    rolled = merge_histograms(daily, key_cols=["event_type"])
    return histogram_quantiles(
        rolled, key_cols=["event_type"], qs=_QS, lo=HIST_LO, w=HIST_W
    )


# the streamed twin shares the ORACLE VERBATIM with the batch query:
# both must produce identical quantiles, so the single SQL string
# certifies stream-maintained state against direct fact binning
# (tier-independent lookup — the registered/demoted split rotates)
_SKETCH_ORACLE = oracle_of("events_value_quantile_sketch")

#: state-store partitions for the streamed sketch — sized to the
#: state's key cardinality (days × types windows), not the session's
#: batch shuffle width; see the query docstring for the measured A/B
STREAM_STATE_PARTITIONS = 8


@register(
    "events_stream_quantile_sketch", oracle=_SKETCH_ORACLE, bench=True
)
def events_stream_quantile_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SAME p50/p90/p99-per-event_type answer as
    events_value_quantile_sketch, but the daily histogram sketch is
    maintained STREAMING-side and lands through the exactly-once
    foreachBatch sink (new r5, perf-tracking the streaming story):

        events readStream → windowed sketch aggregation
        → idempotent batch_id-partitioned parquet (streaming/sinks.py)
        → batch merge + quantile extraction over the READ-BACK store

    The oracle is byte-identical to the batch query's, so the driver
    hash certifies the full streaming path — watermarked state,
    exactly-once sink layout, and sketch mergeability — against direct
    ANSI-SQL fact binning.  One availableNow drain in update mode
    emits every window exactly once (continuous deployments keep
    append mode per the sink docstring).

    100 TB shape: streaming state is bounded at days × types × nbins
    count rows inside the watermark horizon (independent of event
    volume); the sink writes one partition per micro-batch; the
    quantile query touches only the sketch store, never the facts.

    State partitioning: the streaming agg's state-store partition
    count is fixed at the BATCH session's shuffle width by default —
    32 state files committed per micro-batch for ~1.8k state rows is
    pure I/O overhead (measured 2.9–11.5 s → 1.5–1.9 s warm at sf0.1
    by sizing it to the state's key cardinality instead).  The width
    is scoped to the stream: it's captured when the streaming query
    STARTS and pinned by the checkpoint thereafter, so the batch
    merge/quantile stages below still run at the session width."""
    from ..functions.scratch import scratch_dir
    from ..phases import phase
    from ..streaming.sinks import read_batched, write_stream_exactly_once
    from ..streaming.windows import histogram_sketch_stream, read_events_stream

    with phase("stream_drain"):
        workdir = scratch_dir("stream_sketch_")
        old_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS)
        )
        try:
            stream = histogram_sketch_stream(read_events_stream(spark, sf_dir))
            q = write_stream_exactly_once(
                stream, f"{workdir}/store", f"{workdir}/ck", output_mode="update"
            )
            q.awaitTermination()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    stored = read_batched(spark, f"{workdir}/store")
    rolled = merge_histograms(stored, key_cols=["event_type"])
    return histogram_quantiles(
        rolled, key_cols=["event_type"], qs=_QS, lo=HIST_LO, w=HIST_W
    )


# --- Count-Min heavy hitters -------------------------------------------------
from ..operators.sketches import cms_topk_sql, cms_topk_tokens  # noqa: E402

CMS_TOPK = 25


@register("top_tokens_cms", oracle=cms_topk_sql(CMS_TOPK))
def top_tokens_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 corpus tokens by Count-Min sketch estimate (Cormode &
    Muthukrishnan 2005), exact count alongside — the frequency member
    of the mergeable-sketch family (HLL = distinct, histogram =
    quantiles, CMS = point frequencies / heavy hitters).  The grid is
    ≤ depth×width counters regardless of corpus size and merges by
    counter addition, so per-partition or per-day sketches roll up
    without rescanning facts; the md5-derived hash rows make the whole
    pipeline — grid, estimates, ranking — value-hash oracled, and the
    CMS overestimate guarantee (est ≥ exact) is property-tested under
    forced collisions in tests/test_sketches.py."""
    return cms_topk_tokens(table(spark, sf_dir, "documents"), k=CMS_TOPK)


# --- streamed Count-Min heavy users ------------------------------------------
from ..operators.dedup import hash60_sql  # noqa: E402
from ..operators.sketches import CMS_DEPTH, CMS_WIDTH, cms_hash_cols  # noqa: E402

HEAVY_USERS_TOPK = 20


def _stream_user_cms_sql(
    k: int = HEAVY_USERS_TOPK, depth: int = CMS_DEPTH, width: int = CMS_WIDTH
) -> str:
    """DuckDB twin of events_stream_user_cms: bins the FACTS directly
    into the md5 counter grid at the total grain, so the value-hash
    match proves the whole streaming path (watermarked per-day state,
    exactly-once sink, counter-addition merge) reproduces direct SQL
    fact counting bit for bit."""
    tok = "CAST(user_id AS VARCHAR)"
    cell_selects = "\nUNION ALL ".join(
        f"SELECT token, weight, {j} AS r, "
        f"({hash60_sql('token', f'cms{j}')} % {width}) AS b FROM u"
        for j in range(depth)
    )
    return f"""
WITH u AS (
  SELECT {tok} AS token, CAST(count(*) AS BIGINT) AS weight
  FROM events GROUP BY 1
),
cells AS (
  {cell_selects}
),
sketch AS (
  SELECT r, b, CAST(sum(weight) AS BIGINT) AS c FROM cells GROUP BY 1, 2
),
est AS (
  SELECT token,
         CAST(min(c) AS BIGINT) AS est_count,
         CAST(max(weight) AS BIGINT) AS exact_count
  FROM cells JOIN sketch USING (r, b) GROUP BY 1
)
SELECT CAST(row_number() OVER (
         ORDER BY est_count DESC, CAST(token AS BIGINT) ASC) AS INTEGER)
         AS rank,
       CAST(token AS BIGINT) AS user_id, est_count, exact_count
FROM est
ORDER BY est_count DESC, CAST(token AS BIGINT) ASC
LIMIT {k}
""".strip()


@register("events_stream_user_cms", oracle=_stream_user_cms_sql())
def events_stream_user_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} heavy USERS by Count-Min estimate where the counter grid
    is maintained STREAMING-side (new r6 — the second driver-oracled
    streaming query, extending the r5 quantile-sketch pattern to the
    frequency family):

        events readStream → per-day (day, r, b, n) CMS state
        (streaming/windows.py::cms_user_sketch_stream)
        → exactly-once batch_id-partitioned sink → read-back
        → counter-addition merge to the TOTAL grid
        → point estimates for the candidate users → top-k

    The oracle bins the facts directly into the same md5 grid, so the
    hash match certifies watermarked streaming state + the
    exactly-once sink layout + CMS mergeability against direct ANSI
    SQL.  Exact counts ride along (est ≥ exact always — the CMS
    overestimate guarantee).

    100 TB shape: streaming state is ≤ days × depth × width count rows
    inside the watermark horizon — independent of event volume AND of
    the distinct-user count (per-user streaming state would be
    unbounded; this is why heavy-user detection sketches); the top-k
    estimate stage touches the ≤ depth×width merged grid plus one
    distinct-user aggregate, never the raw facts."""
    from ..functions.scratch import scratch_dir

    from pyspark.sql import Window

    from ..streaming.sinks import read_batched, write_stream_exactly_once
    from ..streaming.windows import cms_user_sketch_stream, read_events_stream

    workdir = scratch_dir("stream_cms_")
    stream = cms_user_sketch_stream(read_events_stream(spark, sf_dir))
    q = write_stream_exactly_once(
        stream, f"{workdir}/store", f"{workdir}/ck", output_mode="update"
    )
    q.awaitTermination()
    grid = (
        read_batched(spark, f"{workdir}/store")
        .groupBy("r", "b")
        .agg(F.sum("n").alias("c"))
    )
    e = table(spark, sf_dir, "events")
    users = e.groupBy(
        F.col("user_id").cast("string").alias("token")
    ).agg(F.count("*").alias("weight"))
    cells = F.posexplode(F.array(*cms_hash_cols(F.col("token"))))
    est = (
        users.select("token", "weight", cells.alias("r", "b"))
        .join(F.broadcast(grid), ["r", "b"])
        .groupBy("token")
        .agg(
            F.min("c").cast("bigint").alias("est_count"),
            F.max("weight").cast("bigint").alias("exact_count"),
        )
        .select(
            F.col("token").cast("bigint").alias("user_id"),
            "est_count",
            "exact_count",
        )
    )
    top = est.orderBy(F.desc("est_count"), F.asc("user_id")).limit(
        HEAVY_USERS_TOPK
    )
    w = Window.orderBy(F.desc("est_count"), F.asc("user_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "user_id", "est_count", "exact_count"
    )


# --- Bloom-filter join pruning ------------------------------------------------
@register(
    "lineitem_bloom_semijoin",
    oracle="""
SELECT l_returnflag, l_linestatus,
       count(*) AS n_items,
       floor((sum(l_quantity)) * 1000000.0 + 0.5) / 1000000.0      AS sum_qty,
       floor((sum(l_extendedprice)) * 1000000.0 + 0.5) / 1000000.0 AS sum_price
FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
)
GROUP BY l_returnflag, l_linestatus
""",
)
def lineitem_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned semi-join (operators/bloom.py): lineitems of
    URGENT-priority orders, aggregated per (returnflag, linestatus) —
    the explicit form of scan-side join pruning for when Catalyst's
    runtime Bloom injection can't see the build side's selectivity.

    Plan shape (the 100 TB point, plan-asserted in tests/test_bloom.py):
    the urgent order keys fold into a 2^20-bit bitmap (128 KiB of
    words, collected as O(model) driver state like the ALS codebook
    and embedded as ONE parsed array literal), every lineitem is
    k-probe-filtered ROW-LOCALLY at the scan — a plain getbit Filter
    inside whole-stage codegen, no UDF, no join bringing the bitmap in
    (a 1-row crossJoin would demote the probe to an interpreted
    BroadcastNestedLoopJoin condition — the 10× trap PERF.md
    documents) — and only the surviving ~selectivity fraction of the
    fact table pays the exact verify semi-join shuffle.  Zero false negatives by construction; false
    positives are removed by the verify join — so the composition is
    SEMANTICALLY a plain semi-join, which is exactly what the oracle
    replays (a value-hash match certifies the whole prune path:
    a single dropped true row would change the aggregates).
    FP-rate-vs-analytic-bound and prune-actually-prunes assertions
    live in tests/test_bloom.py."""
    from ..operators.bloom import bloom_semi_join

    orders = table(spark, sf_dir, "orders")
    lineitem = table(spark, sf_dir, "lineitem")
    urgent = orders.where(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey")
    hits = bloom_semi_join(lineitem, urgent, "l_orderkey", "o_orderkey")
    from ..functions.rounding import qround

    return hits.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_items"),
        qround(F.sum("l_quantity"), 6).alias("sum_qty"),
        qround(F.sum("l_extendedprice"), 6).alias("sum_price"),
    )


# --- KMV / Theta bottom-k distinct rollup (r11) ------------------------------
from ..operators.dedup import hash60, hash60_sql  # noqa: E402
from ..operators.sketches import (  # noqa: E402
    KMV_DOMAIN,
    KMV_K,
    kmv_bottom_k,
    kmv_estimate,
    kmv_estimate_sql,
)

_KMV_NUM = float(KMV_K - 1) * KMV_DOMAIN
_KMV_EST = kmv_estimate_sql(_KMV_NUM, KMV_K)
_KMV_H = hash60_sql("CAST(user_id AS VARCHAR)")


def _kmv_rank_sql(src: str, part_cols: str) -> str:
    over = f"PARTITION BY {part_cols} ORDER BY _h" if part_cols else "ORDER BY _h"
    cols = f"{part_cols}, _h" if part_cols else "_h"
    return (
        f"SELECT {cols} FROM (SELECT {cols}, "
        f"row_number() OVER ({over}) AS rk FROM {src}) WHERE rk <= {KMV_K}"
    )


@register(
    "events_distinct_sketch_rollup",
    oracle=f"""
WITH hashed AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS VARCHAR) AS day_s,
         event_type, {_KMV_H} AS _h
  FROM events
),
dt_sk AS ({_kmv_rank_sql("hashed", "day_s, event_type")}),
ty_h AS (SELECT DISTINCT event_type, _h FROM hashed),
ty_sk AS ({_kmv_rank_sql("ty_h", "event_type")}),
all_h AS (SELECT DISTINCT _h FROM hashed),
all_sk AS ({_kmv_rank_sql("all_h", "")}),
dt_est AS (
  SELECT day_s, event_type, CAST(count(*) AS BIGINT) AS n_sketch,
         max(_h) AS _kth
  FROM dt_sk GROUP BY 1, 2
),
ty_est AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_sketch, max(_h) AS _kth
  FROM ty_sk GROUP BY 1
),
all_est AS (
  SELECT CAST(count(*) AS BIGINT) AS n_sketch, max(_h) AS _kth FROM all_sk
),
ex_dt AS (
  SELECT day_s, event_type, CAST(count(*) AS BIGINT) AS n_exact
  FROM hashed GROUP BY 1, 2
),
ex_ty AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact FROM ty_h GROUP BY 1
),
ex_all AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM all_h)
SELECT 'day_type' AS level, e.day_s, e.event_type, e.n_sketch,
       {_KMV_EST.replace('n_sketch', 'e.n_sketch').replace('_kth', 'e._kth')}
         AS est_users,
       x.n_exact
FROM dt_est e JOIN ex_dt x USING (day_s, event_type)
UNION ALL
SELECT 'type', 'ALL', e.event_type, e.n_sketch,
       {_KMV_EST.replace('n_sketch', 'e.n_sketch').replace('_kth', 'e._kth')},
       x.n_exact
FROM ty_est e JOIN ex_ty x USING (event_type)
UNION ALL
SELECT 'all', 'ALL', 'ALL', e.n_sketch,
       {_KMV_EST.replace('n_sketch', 'e.n_sketch').replace('_kth', 'e._kth')},
       x.n_exact
FROM all_est e CROSS JOIN ex_all x
""",
)
def events_distinct_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-users rollup through the ORACLED distinct sketch — the
    KMV / bottom-k (Theta-family) answer to the one aggregate family
    HLL could not drive into the correctness gate (its registers are
    engine-specific; the k smallest md5-hash values are not).  Three
    levels on one relation: (day × type), (type), (all), each carrying
    the sketch estimate AND the exact distinct-hash count so the error
    is visible in the row (KMV σ ≈ 1/√(k−2) ≈ 18% at k=32 — sized so
    the ESTIMATOR branch, not just the exact n<k branch, is exercised
    at sf0.01).

    MERGE evidence by independent algorithms: Spark derives the
    coarser levels by MERGING the day-level sketches (bottom-k of the
    union of stored bottom-k sets — no fact rescan, the rollup
    contract), while the oracle computes every level DIRECTLY from the
    hashed facts; the value-hash match proves merge == direct on real
    data.  100 TB shape: the sketch path's state is bounded
    (mapInPandas partial keeps ≤ groups × k hashes per partition, the
    finishing rank sees ≤ partitions × k rows per group — never a
    group's full distinct set); the exact columns are the audit
    baseline, the one side that pays a true DISTINCT (drop them in
    production and only the sketch path remains).  n_exact counts
    distinct HASHES (== distinct users absent md5-60 collisions) so
    both engines count the identical quantity."""
    e = table(spark, sf_dir, "events")
    hashed = e.select(
        F.date_trunc("day", "ts").cast("date").cast("string").alias("day_s"),
        "event_type",
        hash60(F.col("user_id")).alias("_h"),
    )
    dt_sk = kmv_bottom_k(hashed, ["day_s", "event_type"], KMV_K)

    # merged levels FROM the stored day-level sketches (the product);
    # inputs are bounded (≤ days × k per type), so a plain
    # dedupe + rank finishes the merge
    from pyspark.sql import Window

    def _merge(rel: DataFrame, gcols: list[str]) -> DataFrame:
        dd = rel.distinct()
        w = (
            Window.partitionBy(*gcols).orderBy("_h")
            if gcols
            else Window.partitionBy(F.lit(1)).orderBy("_h")
        )
        return (
            dd.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= KMV_K)
            .drop("_rk")
        )

    ty_sk = _merge(dt_sk.select("event_type", "_h"), ["event_type"])
    all_sk = _merge(dt_sk.select("_h"), [])

    d = hashed.distinct()
    ex_dt = d.groupBy("day_s", "event_type").agg(F.count("*").alias("n_exact"))
    ex_ty = (
        d.select("event_type", "_h")
        .distinct()
        .groupBy("event_type")
        .agg(F.count("*").alias("n_exact"))
    )
    ex_all = d.select("_h").distinct().agg(F.count("*").alias("n_exact"))

    dt = (
        kmv_estimate(dt_sk, ["day_s", "event_type"], KMV_K)
        .join(ex_dt, ["day_s", "event_type"])
        .select(
            F.lit("day_type").alias("level"),
            "day_s",
            "event_type",
            "n_sketch",
            "est_users",
            "n_exact",
        )
    )
    ty = (
        kmv_estimate(ty_sk, ["event_type"], KMV_K)
        .join(ex_ty, ["event_type"])
        .select(
            F.lit("type").alias("level"),
            F.lit("ALL").alias("day_s"),
            "event_type",
            "n_sketch",
            "est_users",
            "n_exact",
        )
    )
    al = (
        kmv_estimate(all_sk, [], KMV_K)
        .crossJoin(F.broadcast(ex_all))
        .select(
            F.lit("all").alias("level"),
            F.lit("ALL").alias("day_s"),
            F.lit("ALL").alias("event_type"),
            "n_sketch",
            "est_users",
            "n_exact",
        )
    )
    return dt.unionByName(ty).unionByName(al)

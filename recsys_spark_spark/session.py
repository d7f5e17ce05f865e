"""SparkSession factory.

Deliberate divergences from the reference runtime config
(reference Main.scala:338-347):

- The reference *disables* broadcast joins
  (``spark.sql.autoBroadcastJoinThreshold=-1``, Main.scala:340-342),
  forcing sort-merge everywhere.  We keep broadcast enabled and lean on
  AQE: at 100 TB the dimension tables (region/nation/part/supplier) are
  still tiny relative to the facts, and broadcast-hash is the only join
  strategy that avoids shuffling the fact table.
- Timezone pinned to UTC so timestamps compare bit-for-bit with the
  DuckDB oracle (DuckDB timestamps are UTC-naive).
- ``spark.sql.shuffle.partitions`` defaults to the local core count;
  on a real cluster this is overridden (AQE coalesces anyway).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# local[] width + shuffle partitions: the machine's core count capped
# at 32 (the bench/driver box), env-overridable — a fixed 32 would
# oversubscribe smaller machines
DEFAULT_CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS", str(min(32, os.cpu_count() or 8)))
)


def get_spark(
    app_name: str = "recsys-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    AQE is on (runtime coalescing, skew-join splitting); Arrow is on for
    every pandas-UDF exchange; parquet pushdown/pruning are Spark
    defaults and relied upon throughout.
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # r14: start every exchange 8× wider than the core count and
        # let AQE coalesce the small ones back down (guide §2.2's
        # canonical sizing move, via the documented
        # initialPartitionNum knob).  At width == cores the two CF
        # axis window sorts each spilled 2.4 GB at sf0.1 (per-task
        # sort state ~1M rows with 32 concurrent tasks sharing
        # execution memory); 8× smaller sorts fit, and tiny exchanges
        # still coalesce to few tasks.  Derived from the session
        # width, so the driver's lower-core bench run and any
        # production core count scale the same way (ABBA A/B under
        # rising co-tenant load: hybrid_topk 65.1/54.1 s vs 73.9 s,
        # OPTIMIZATION_r14.md).
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(8 * shuffle_partitions),
        )
        # r14: let AQE coalesce the OUTPUT partitioning of cached plans
        # too.  Default false pins an InMemoryRelation at the
        # un-coalesced exchange width — with the 8× initialPartitionNum
        # above, the ratings/residual/survivor caches materialized at
        # 256 partitions (~2.3k rows each at sf0.1) and EVERY consumer
        # stage inherited 256 ~100 ms tasks of pure scheduling overhead
        # (profiled: the CF stats/means/candidate map stages and all 5
        # MLlib ALS sweeps ran 256-task stages over ≤15 MB inputs).
        # CPU-heavy per-row consumers are not at risk of the few-task
        # regime this creates: every such path re-spreads its input
        # (sources.readers.spread_scan call sites in operators/dedup,
        # plans/pipeline, operators/multimodal) or repartitions
        # explicitly (ALS serve, sequential mask expansion).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # testdata events.parquet carries TIMESTAMP(NANOS) which Spark
        # rejects by default; read as long nanos, converted in sources
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # PySpark's call-site capture for error messages: with it on,
        # every F.* / Column call costs ~5 extra py4j round-trips
        # (active-session lookup, conf.get, PySparkCurrentOrigin
        # set/clear) plus a Python stack walk — 123 such calls in one
        # CF axis build, inside 2,015 round-trips with 0.70 s blocked
        # on the socket.  Trade-off: Spark error messages lose the
        # Python call-site fragment.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Generated-class cache (static; default 100 entries).  One CF
        # fold (split, two axes, hybrid, ranking metrics) compiles ~145
        # distinct generated classes, so at 100 the LRU evicts every
        # class before its next use: a warm fold of ~3.5k ratings made
        # 154-159 Janino compilations at 18-21 ms each, ~3 s of a 6-8 s
        # fold, even when the identical fold ran again.  2000 is >10x a
        # fold's working set; classes average ~2.5 KB of bytecode, so a
        # full cache holds ~5 MB.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # The cache is keyed by generated source, and by default the
        # class name carries the codegen stage id, which AQE assigns as
        # it re-plans after each stage finishes, so the ids follow which
        # stage finished first: one plan run twice got different ids
        # and recompiled 4-10 classes per CF axis.  Without the id the
        # second build of an axis compiles 0.  Trade-off: JVM stack
        # traces name the class GeneratedIterator, without the stage.
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark

#!/usr/bin/env python
"""r15 optimization-round profiler: run the bench set with the SAME
timing action as bench.py, capture ``explain("formatted")`` per query
(plans/r15/<name>_<tag>.txt), and attribute wall-clock to Spark jobs
via the status-tracker REST API (UI enabled here ONLY — bench.py stays
UI-off, so profiled absolute numbers are close but not citable; the
citable record is bench.py's own three-run protocol).

Usage: python stress/profile_bench_r15.py [before|after] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from recsys_spark_spark.session import DEFAULT_CPUS  # noqa: E402


def get_spark_ui() -> SparkSession:
    """session.get_spark's exact config, UI flipped on for REST scraping."""
    builder = (
        SparkSession.builder.appName("r15-profile")
        .master(f"local[{DEFAULT_CPUS}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(DEFAULT_CPUS))
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(8 * DEFAULT_CPUS),
        )
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        )
        .config("spark.ui.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def rest(spark, path):
    app_id = spark.sparkContext.applicationId
    url = f"http://localhost:4040/api/v1/applications/{app_id}/{path}"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from recsys_spark_spark.plans import pipeline as _pipeline
    from recsys_spark_spark.plans.registry import bench_queries
    from recsys_spark_spark.lifecycle import release

    _pipeline.PROFILE_CLEAN = True
    spark = get_spark_ui()
    bench = bench_queries()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    os.makedirs("plans/r15", exist_ok=True)
    timings: dict[str, float] = {}
    per_query_stages: dict[str, list] = {}

    for name, fn in sorted(bench.items()):
        if only and name not in only:
            continue
        seen_stages = {s["stageId"] for s in rest(spark, "stages")}
        spark.sparkContext.setJobDescription(f"bench:{name}")
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.selectExpr("bit_xor(xxhash64(*)) AS h").collect()
        t_total = time.perf_counter() - t0
        timings[name] = round(t_total, 3)
        spark.sparkContext.setJobDescription(None)

        # capture the formatted plan AFTER the action (cache-aware)
        with open(f"plans/r15/{name}_{tag}.txt", "w") as f:
            f.write(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            ))

        # stage attribution for this query
        stages = [
            s
            for s in rest(spark, "stages?status=complete")
            if s["stageId"] not in seen_stages
        ]
        stages.sort(key=lambda s: -(s.get("executorRunTime") or 0))
        per_query_stages[name] = [
            {
                "stage": s["stageId"],
                "name": (s.get("name") or "")[:80],
                "runTime_s": round((s.get("executorRunTime") or 0) / 1000, 1),
                "cpuTime_s": round((s.get("executorCpuTime") or 0) / 1e9, 1),
                "tasks": s.get("numCompleteTasks"),
                "shuffleRead_mb": round((s.get("shuffleReadBytes") or 0) / 1e6, 1),
                "shuffleWrite_mb": round(
                    (s.get("shuffleWriteBytes") or 0) / 1e6, 1
                ),
                "input_mb": round((s.get("inputBytes") or 0) / 1e6, 1),
                "spill_mb": round(
                    (s.get("memoryBytesSpilled") or 0) / 1e6, 1
                ),
                "gc_s": round((s.get("jvmGcTime") or 0) / 1000, 1),
            }
            for s in stages[:12]
        ]
        if name == "als_topk":
            release("als")
        print(f"{name}: {t_total:.2f}s", flush=True)

        # SQL-tab operator metrics for this query's executions: maps
        # wall time to OPERATORS (sort/window/join/agg) instead of
        # stages — the stage names above are all lambda frames.
        try:
            execs = rest(spark, "sql?length=200")
            new_execs = [
                e
                for e in execs
                if e.get("description", "").startswith(f"bench:{name}")
                or (e.get("jobDescription") or "").startswith(f"bench:{name}")
            ]
            nodes = []
            for e in new_execs or execs[-6:]:
                detail = rest(spark, f"sql/{e['id']}")
                for nd in detail.get("nodes", []):
                    mets = {
                        m["name"]: m["value"]
                        for m in nd.get("metrics", [])
                        if any(
                            k in m["name"]
                            for k in ("time", "spill", "rows", "size")
                        )
                    }
                    nodes.append(
                        {"node": nd["nodeName"], "metrics": mets}
                    )
            per_query_stages[name + "::sql_nodes"] = nodes[:400]
        except Exception as exc:  # best-effort scrape
            print(f"  (sql scrape failed: {exc})", flush=True)

    out = {
        "tag": tag,
        "sf_dir": sf_dir,
        "timings": timings,
        "grand": round(sum(timings.values()), 3),
        "stages": per_query_stages,
    }
    fn_out = f"/tmp/profile_r15_{tag}.json"
    with open(fn_out, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"grand": out["grand"], "timings": timings}))
    print(f"stage detail -> {fn_out}")
    spark.stop()


if __name__ == "__main__":
    main()

"""Full-registry vanilla certification sweep.

The one sweep of BOTH registry tiers in a VANILLA SparkSession (the
session shape the driver builds, without this package's configs): it
drives every named query, hash-compares each oracled query against
DuckDB at sf0.01, and releases per-query session state between queries
via ``registry.release_query_state`` so the sweep finishes on a DEFAULT
JVM heap (a 1g vanilla session OOMed after ~80 queries of accumulated
model caches before that release existed; PERF.md r10 wrap).

Usage:  python stress/full_registry_cert.py [sf_dir]
                [--driver-memory 8g] [--start-after NAME] [--fails a,b]
Exit code 0 iff every oracled query hash-matches and every no-oracle
query executes.  --driver-memory sizes the otherwise-vanilla session
(needed for sf0.1 sweeps — a 1g default JVM dies on the heavy CF
queries at 10x the gate scale); --start-after/--fails are the
self-resume protocol: a dead JVM cannot be resurrected through its
Py4J gateway in-process, so the harness records the victim as a fail
and RE-EXECS itself to finish the sweep (observed: host-OOM kills
under co-tenant pressure, and genuine heap kills at sf0.1 on 1g).
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

from recsys_spark_spark.plans import registry  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].map(lambda v: "nan" if pd.isna(v) else "%.6f" % v)
        else:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _arg(flag: str) -> str | None:
    return (
        sys.argv[sys.argv.index(flag) + 1] if flag in sys.argv else None
    )


def _fresh_session() -> SparkSession:
    # VANILLA on purpose (sf0.01, the driver-gate shape): the driver
    # builds its own session without our configs —
    # sources/readers.py::ensure_session_confs must keep it working
    # (nanos timestamps, UTC).  --driver-memory is the one concession,
    # for 10x-scale sweeps.
    b = SparkSession.builder.master("local[8]")
    mem = _arg("--driver-memory")
    if mem:
        b = b.config("spark.driver.memory", mem)
    return b.getOrCreate()


def _session_alive(spark: SparkSession) -> bool:
    try:
        return spark.range(1).count() == 1
    except Exception:  # noqa: BLE001 — liveness probe
        return False


def main() -> int:
    sf = (
        sys.argv[1]
        if len(sys.argv) > 1 and not sys.argv[1].startswith("--")
        else "/root/testdata/sf0.01"
    )
    start_after = _arg("--start-after")
    prior_fails = (_arg("--fails") or "").split(",")
    prior_fails = [f for f in prior_fails if f]
    spark = _fresh_session()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    registry._load_all()
    allq = {**registry.QUERIES, **registry.DEMOTED}
    fails, t_start = list(prior_fails), time.time()
    names = sorted(allq)
    if start_after is not None:
        names = names[names.index(start_after) + 1 :]
    for i, name in enumerate(names, len(allq) - len(names) + 1):
        spec = allq[name]
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf).toPandas()
            if spec.oracle is None:
                tag = f"rows-only {len(sdf)}"
                ok = True
            else:
                odf = con.sql(spec.oracle).df()
                a, b = canon(sdf), canon(odf)
                ok = (
                    list(a.columns) == list(b.columns)
                    and len(a) == len(b)
                    and a.equals(b)
                )
                tag = (
                    f"MATCH {len(a)}" if ok else f"MISMATCH {len(a)}/{len(b)}"
                )
        except Exception as e:  # noqa: BLE001 — harness must finish
            ok = False
            tag = f"ERR {repr(e)[:120]}"
            if not _session_alive(spark):
                # a dead driver JVM fails ONE query, not the rest of
                # the sweep — and a dead Py4J gateway cannot be
                # resurrected in-process, so RE-EXEC to continue
                print(
                    f"[{i}/{len(allq)}] {name}: {tag} — session dead, "
                    "re-execing to resume",
                    flush=True,
                )
                argv = [sys.executable, os.path.abspath(__file__), sf]
                mem = _arg("--driver-memory")
                if mem:
                    argv += ["--driver-memory", mem]
                argv += [
                    "--start-after", name,
                    "--fails", ",".join(fails + [name]),
                ]
                os.execv(sys.executable, argv)
        if not ok:
            fails.append(name)
        # the r10 lesson as code: flat-memory sweep on any heap
        registry.release_query_state(spark)
        print(f"[{i}/{len(allq)}] {name}: {tag} {time.time()-t0:.1f}s", flush=True)

    print(
        f"done: {len(allq)} queries, {len(fails)} fails in "
        f"{time.time()-t_start:.0f}s  fails={fails}",
        flush=True,
    )
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())

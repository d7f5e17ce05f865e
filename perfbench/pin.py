#!/usr/bin/env python3
"""Pin the reference digests of mixed_cold's outputs that have no oracle.

    python3 perfbench/pin.py 0 1 2 3

Run from the repository root.  For each seed it generates the inputs,
runs mixed_cold's plan in one shared session, checks every output that
has a DuckDB oracle and the top-k shape rules, and only then records
the ALS top-k, SequentialTopK top-k and cut-corpus digests in
``pinned.json`` under the CPU count the session ran with.  Re-pin after
a change that is meant to alter those outputs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import run

#: digests that no DuckDB oracle covers
PINNED_KEYS = ("als", "sequential", "dedup_cut")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("seeds", type=int, nargs="+")
    args = p.parse_args(argv)

    sys.path.insert(0, run.ROOT)
    import checks
    import workloads as W
    from ambient import PeakRss
    from spans import StatusStore, Tracer

    work = os.path.join(run.WORK, f"pin-{os.getpid()}")
    run._prepare_env(work)
    from recsys_spark_spark.session import get_spark

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    with open(checks.PINNED_PATH) as f:
        pins = json.load(f)
    if pins.get("cpus") != cpus:
        pins = {"cpus": cpus, "mixed_cold": {}}
    spark = get_spark()
    try:
        store = StatusStore(spark)
        for seed in args.seeds:
            r = run.Runner(argparse.Namespace(workload="mixed_cold", seed=seed, seconds=0, trace=0))
            r.data_dir = os.path.join(work, f"data-{seed}")
            r.generate()
            r.rss = PeakRss()
            ctx = W.Ctx(spark, r.data_dir, Tracer(), traced=False,
                        persisted_rdds=store.persisted_rdds)
            ops = r.timed_pass(ctx)
            r.check(ops, r.references(ops, use_pins=False))
            if not all(o["ok"] for o in ops):
                print(f"seed {seed}: checks failed, not pinned", file=sys.stderr)
                continue
            got = {k: v for o in ops for k, v in o["digests"].items() if k in PINNED_KEYS}
            pins["mixed_cold"][str(seed)] = got
            print(f"seed {seed}: {got}", flush=True)
    finally:
        run._stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    write_pins(pins)
    return 0


def write_pins(pins: dict) -> None:
    """pinned.json with one line per seed."""
    import checks

    seeds = sorted(pins["mixed_cold"].items(), key=lambda kv: int(kv[0]))
    lines = [f' "{seed}": {json.dumps(v, sort_keys=True)}' for seed, v in seeds]
    with open(checks.PINNED_PATH, "w") as f:
        f.write(f'{{"cpus": {pins["cpus"]}, "mixed_cold": {{\n' + ",\n".join(lines) + "\n}}\n")


if __name__ == "__main__":
    sys.exit(main())

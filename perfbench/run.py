#!/usr/bin/env python3
"""Benchmark runner: one closed-loop client over the engine's layers.

    python3 perfbench/run.py --workload cf_cv --seed 1 --seconds 30 --trace 0

Run from the repository root.  The command generates the workload's
inputs from ``--seed``, starts the engine's session, warms up where the
workload calls for it, then issues the workload's fixed op plan one op
after another (each waits for its result and is checked against a
reference).  The plan does not depend on how fast the ops run, so two
commits always time the same ops; ``--seconds`` is recorded only.  With
``--trace 1`` the same pass runs with spans and Spark status-store
deltas recorded, and the run reports per-layer metrics plus the
tracer's own time.

The last line of standard output is one JSON object with exactly the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``; the line
before it is a JSON record of the run's details (input sizes, sample
counts, ambient host load, per-op results).  See README.md.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

#: per-layer metrics reported by a traced run, ``<layer>.<metric>``;
#: ``<phase>_s`` is the self time of the layer's ``<layer>:<phase>`` spans
LAYER_METRICS = {
    "recommenders.neighborhood": (
        "s", "task_s", "spill_mb", "shuffle_write_mb", "gc_s",
        "jobs", "stages", "tasks", "core_util",
    ),
    "recommenders.hybrid": ("s", "task_s", "spill_mb", "shuffle_write_mb", "stages"),
    "metrics.evaluation": ("s", "task_s", "stages"),
    "recommenders.als": (
        "fit_s", "serve_s", "task_s", "shuffle_write_mb", "gc_s",
        "jobs", "stages", "tasks", "core_util",
    ),
    "recommenders.sequential": (
        "fit_s", "recommend_s", "task_s", "jobs", "stages", "tasks", "core_util",
    ),
    "operators.dedup": ("s", "task_s", "shuffle_write_mb", "stages"),
    "operators.components": ("s", "jobs", "stages", "core_util"),
    "plans.pipeline": ("s", "task_s", "spill_mb", "jobs", "stages"),
    "plans": ("s", "task_s", "jobs", "stages", "tasks", "core_util"),
    "streaming": ("s", "task_s", "jobs"),
    "sources": ("s", "task_s", "shuffle_write_mb", "jobs"),
}
RUN_METRICS = (
    "session.start_s",
    "session.peak_rss_mb",
    "spark.failed_tasks",
    "spark.stage_retries",
    "spark.shuffle_fetch_wait_s",
    "spark.leaked_persisted_rdds",
    "trace.overhead_s",
)
WORKLOAD_NAMES = ("cf_cv", "mixed_cold")
#: cf_cv's plan: the first fold of the paper's 5-fold loop, after the
#: last fold has run untimed as the warm-up.  One timed fold, not two:
#: a second adds ~10 s to every run, and the runs a comparison makes
#: must fit the benchmark's time budget (see README.md).
CF_PLAN = ("fold_0",)
CF_WARMUP_FOLD = 4
#: end-to-end metrics of an untraced run, with their units
E2E_METRICS = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "op_s_p50": "s",
    "ok_frac": "frac",
}


def per_layer_names() -> list[str]:
    names = [f"{layer}.{m}" for layer, ms in LAYER_METRICS.items() for m in ms]
    return names + list(RUN_METRICS)


def _prepare_env(work: str) -> None:
    """Keep every file the engine, Spark and the JVM write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM the session starts (Spark's launcher and the session JVM):
    # temp files under ``work``, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    ).strip()
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _stop_session(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)


# ------------------------------------------------------------------ metrics


def layer_metrics(tracer, n: int, cores: int) -> dict:
    """Each layer's self time and Spark deltas, summed over the traced
    pass and divided by ``n``, the times the pass ran the workload's unit
    of work (a fold for cf_cv, the whole cycle for mixed_cold)."""
    from spans import COUNTS, self_times

    wall = dict.fromkeys(LAYER_METRICS, 0.0)
    phase_wall: dict[str, float] = {}
    counts = {layer: dict.fromkeys(COUNTS, 0) for layer in LAYER_METRICS}
    for s, st in zip(tracer.spans, self_times(tracer.spans)):
        layer, _, phase = s.name.partition(":")
        if layer not in LAYER_METRICS:
            continue
        wall[layer] += st
        if phase:
            key = f"{layer}.{phase}_s"
            phase_wall[key] = phase_wall.get(key, 0.0) + st
        if s.counts is None or counts[layer] is None:
            counts[layer] = None  # stages evicted before they were read
        else:
            for k, v in s.counts.items():
                counts[layer][k] += v
    out = {}
    for layer, names in LAYER_METRICS.items():
        c = counts[layer]
        for m in names:
            name = f"{layer}.{m}"
            if m == "s":
                v = wall[layer] / n
            elif m not in COUNTS and m.endswith("_s"):
                v = phase_wall.get(name, 0.0) / n
            elif c is None:
                v = None
            elif m == "core_util":
                v = c["task_s"] / (wall[layer] * cores) if wall[layer] > 0 else 0.0
            else:
                v = c[m] / n
            out[name] = v
    return out


def spark_totals(tracer) -> dict:
    tot = {"failed_tasks": 0, "stage_retries": 0, "shuffle_fetch_wait_s": 0.0}
    for s in tracer.spans:
        if s.counts is None:
            return dict.fromkeys(tot)
        for k in tot:
            tot[k] += s.counts[k]
    return tot


# ---------------------------------------------------------------- the loop


class Runner:
    """One run: inputs, session, warm-up, timed pass, checks."""

    def __init__(self, args):
        import workloads as W

        self.args = args
        self.cf = args.workload == "cf_cv"
        self.plan = list(CF_PLAN) if self.cf else list(W.MIXED_OPS)
        #: per-layer metrics are per fold (cf_cv) or per cycle (mixed_cold)
        self.units = len(self.plan) if self.cf else 1
        self.work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
        self.data_dir = os.path.join(self.work, "data")
        self.details: dict = {"workload": args.workload, "seed": args.seed,
                              "seconds_arg": args.seconds, "plan": self.plan}

    # -- setup --------------------------------------------------------------

    def generate(self) -> float:
        """Write the inputs three times (same seed, same bytes); return the
        median time and record the sizes."""
        import gen
        import workloads as W

        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            manifest = gen.generate(self.data_dir, self.args.seed, W.SIZE)
            times.append(time.perf_counter() - t0)
        self.details["inputs"] = manifest
        return statistics.median(times)

    def warm_up(self, ctx) -> None:
        """cf_cv runs its last fold untimed, so the timed fold runs warm (a
        cold fold takes ~2.5x a warm one).  mixed_cold times each op's
        first run in a fresh session: nothing runs here."""
        import workloads as W

        if self.cf:
            W.cf_fold(ctx, CF_WARMUP_FOLD)
            W.end_op(ctx)

    def references(self, ops: list[dict], use_pins: bool = True) -> dict:
        """Reference digests for every op that ran, computed after the
        timed passes; also fixes the rows each op processes."""
        import checks
        import workloads as W

        oracles = checks.Oracles(self.data_dir)
        ratings, users = (
            int(x)
            for x in oracles.query(
                "SELECT count(*) AS n, count(DISTINCT u) AS users FROM (SELECT DISTINCT "
                "o_custkey AS u, l_partkey FROM orders JOIN lineitem ON o_orderkey = l_orderkey)"
            ).iloc[0]
        )
        self.details["ratings_rows"] = ratings
        self.users = users
        pins = use_pins and checks.load_pins(
            self.args.workload, self.args.seed, int(os.environ["SPARK_GRAFT_CPUS"])
        ) or {}
        self.details["pinned"] = sorted(pins)
        if self.cf:
            folds = sorted({int(o["op"].split("_")[1]) for o in ops})
            self.rows = {o["op"]: ratings for o in ops}
            return W.cf_references(oracles, folds)
        rows = {t: v["rows"] for t, v in self.details["inputs"].items()}
        rows["ratings"] = ratings
        self.rows = {name: rows[table] for name, (_, table) in W.MIXED_OPS.items()}
        refs = {name: oracles.registry(name) for name in W.MIXED_ORACLED}
        refs.update(pins)
        return refs

    def check(self, ops: list[dict], refs: dict) -> None:
        import workloads as W

        k = W._cf().K_ITEMS
        for o in ops:
            if "digests" not in o:
                pass  # the op raised; its traceback is already in errors
            elif self.cf:
                o["errors"] += W.check_cf(o["digests"], refs[int(o["op"].split("_")[1])])
            else:
                for key, got in o["digests"].items():
                    want = refs.get(key)
                    if want is not None and tuple(got) != tuple(want):
                        o["errors"].append(f"{key}: {tuple(got)} != reference {tuple(want)}")
                o["errors"] += W.check_shapes(o["digests"], self.users, k)
            o["ok"] = not o["errors"]
            if o["errors"]:
                print(f"perfbench: op {o['op']} failed: {o['errors']}", file=sys.stderr)

    # -- ops ----------------------------------------------------------------

    def _op_fn(self, name: str):
        import workloads as W

        if self.cf:
            fold = int(name.split("_")[1])
            return lambda c: W.cf_fold(c, fold)
        return W.MIXED_OPS[name][0]

    def _one(self, ctx, name: str) -> dict:
        """Run one op, then release the session state it left."""
        import workloads as W

        rec: dict = {"op": name, "errors": []}
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span("op", ctx.op):
                rec["digests"] = self._op_fn(name)(ctx)
        except Exception:  # noqa: BLE001 — a failed op is counted, the loop goes on
            rec["errors"].append(traceback.format_exc(limit=4))
        rec["s"] = time.perf_counter() - t0
        ctx.tracer.flush()
        self.rss.sample()
        rec["engine_rdds"] = W.end_op(ctx)
        ctx.op += 1
        return rec

    def timed_pass(self, ctx) -> list[dict]:
        """The workload's plan, one op after another."""
        return [self._one(ctx, name) for name in self.plan]

    # -- main ---------------------------------------------------------------

    def run(self) -> dict:
        import ambient

        os.makedirs(self.work, exist_ok=True)
        self.details["ambient"] = ambient.record()
        gen_s = self.generate()
        t0 = time.perf_counter()
        from recsys_spark_spark.session import get_spark

        spark = get_spark()
        start_s = time.perf_counter() - t0
        self.details["ambient"]["java"] = spark.sparkContext._jvm.System.getProperty(
            "java.version"
        )
        try:
            return self._run_session(spark, gen_s, start_s)
        finally:
            _stop_session(spark)

    def _run_session(self, spark, gen_s: float, start_s: float) -> dict:
        import ambient
        import workloads as W
        from spans import StatusStore, Tracer
        from stats import tail_percentile

        args = self.args
        store = StatusStore(spark)
        self.rss = ambient.PeakRss()
        ctx = W.Ctx(spark, self.data_dir, Tracer(), traced=False,
                    persisted_rdds=store.persisted_rdds)

        t0 = time.perf_counter()
        self.warm_up(ctx)
        warm_s = time.perf_counter() - t0

        if args.trace:
            tracer = Tracer(spark, enabled=True)
            tracer.flush()  # work before this point belongs to no span
            ctx = dataclasses.replace(ctx, tracer=tracer, traced=True)
        self.rss.reset()
        cpu = ambient.CpuWindow()
        t0 = time.perf_counter()
        ops = self.timed_pass(ctx)
        wall = time.perf_counter() - t0
        peak_mb = self.rss.peak_mb()
        busy, steal = cpu.shares()
        self.details["timed_pass_host"] = {"busy_frac": busy, "steal_frac": steal}

        t0 = time.perf_counter()
        self.check(ops, self.references(ops))
        check_s = time.perf_counter() - t0

        samples = [o["s"] for o in ops]
        pct, tail = tail_percentile(samples)
        rows = sum(self.rows[o["op"]] for o in ops)
        failed = sum(not o["ok"] for o in ops)
        values = {
            "setup_s": start_s + gen_s + warm_s,
            "rows_per_s": rows / sum(samples),
            "op_s_p50": statistics.median(samples),
            "ok_frac": 1.0 - failed / len(ops),
        }
        metrics = {n: (values[n], unit) for n, unit in E2E_METRICS.items()}
        self.details.update(
            setup_parts={"session_start_s": start_s, "generate_s_median_of_3": gen_s,
                         "warm_up_s": warm_s},
            peak_rss_mb=peak_mb,
            check_s=check_s,
            timed_wall_s=wall,
            op_samples=len(samples),
            op_s_tail=tail,  # None: fewer than the 11 ops the tail rule needs
            tail_percentile=pct,
            op_s_max=max(samples),
            rows_processed=rows,
            ops=[
                {k: o.get(k) for k in ("op", "s", "ok", "engine_rdds", "digests")}
                for o in ops
            ],
        )
        if args.trace:
            lm = layer_metrics(tracer, self.units, int(os.environ["SPARK_GRAFT_CPUS"]))
            tot = spark_totals(tracer)
            lm["session.start_s"] = start_s
            lm["session.peak_rss_mb"] = peak_mb
            for k, v in tot.items():
                lm[f"spark.{k}"] = v
            lm["spark.leaked_persisted_rdds"] = sum(o["engine_rdds"] for o in ops) / self.units
            lm["trace.overhead_s"] = tracer.flush_s
            self.details["traced_pass_metrics"] = {n: v for n, (v, _) in metrics.items()}
            metrics = {n: (v, _unit(n)) for n, v in lm.items()}
            os.makedirs(OUT, exist_ok=True)
            tracer.dump(os.path.join(OUT, f"spans-{args.workload}-{args.seed}.jsonl"))
            self.details["spans"] = len(tracer.spans)
        return {
            "correct": failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
        }


def _unit(name: str) -> str:
    m = name.rsplit(".", 1)[1]
    if m.endswith("_s") or m == "s":
        return "s"
    if m.endswith("_mb"):
        return "MB"
    if m == "core_util":
        return "frac"
    return "count"


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=30.0, help="recorded; the op plan is fixed")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import recsys_spark_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    runner = Runner(args)
    _prepare_env(runner.work)
    try:
        result = runner.run()
    finally:
        shutil.rmtree(runner.work, ignore_errors=True)
    print(json.dumps(runner.details, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

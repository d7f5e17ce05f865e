"""Self-tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import math
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import checks  # noqa: E402
import workloads  # noqa: E402
from checks import digest  # noqa: E402
from spans import COUNTS, Span, attribute, self_times  # noqa: E402
from stats import tail_percentile  # noqa: E402


# ------------------------------------------------------------ percentile rule


def _beyond(samples, pct):
    n = len(samples)
    return n - math.ceil(pct / 100.0 * n)


@pytest.mark.parametrize("n", [0, 1, 5, 10])
def test_tail_needs_eleven_samples(n):
    assert tail_percentile([1.0] * n) == (None, None)


@pytest.mark.parametrize("n", [11, 12, 19, 20, 37, 100, 101, 1000])
def test_tail_is_highest_percentile_with_ten_beyond(n):
    samples = [float(i) for i in range(n, 0, -1)]  # unsorted on purpose
    pct, value = tail_percentile(samples)
    assert _beyond(samples, pct) >= 10
    assert _beyond(samples, pct + 1) < 10
    rank = math.ceil(pct / 100.0 * n)
    assert value == sorted(samples)[rank - 1]
    assert sum(s > value for s in samples) >= 10


def test_tail_known_points():
    assert tail_percentile([float(i) for i in range(1, 101)]) == (90.0, 90.0)
    assert tail_percentile([float(i) for i in range(1, 21)]) == (50.0, 10.0)


# ------------------------------------------------------------------- spans


def _span(name, start, end, parent=None, op=0):
    s = Span(name, op, parent, float(start))
    s.end = float(end)
    return s


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span("op", 0, 10),
        _span("a", 1, 4, parent=0),
        _span("b", 5, 9, parent=0),
        _span("c", 6, 7, parent=2),
    ]
    assert self_times(spans) == [3.0, 3.0, 3.0, 1.0]


def _stage(t, **kw):
    base = {
        "submitted": t,
        "numCompleteTasks": 2,
        "numFailedTasks": 0,
        "attemptId": 0,
        "executorRunTime": 1500,
        "jvmGcTime": 100,
        "memoryBytesSpilled": 3_000_000,
        "shuffleWriteBytes": 1_000_000,
        "shuffleFetchWaitTime": 0,
    }
    base.update(kw)
    return base


def test_delta_attribution_goes_to_innermost_span():
    spans = [
        _span("op", 0, 10),
        _span("sources", 1, 2, parent=0),
        _span("recommenders.neighborhood", 3, 8, parent=0),
    ]
    stages = [
        _stage(1.5),  # sources
        _stage(4.0),  # neighborhood
        _stage(7.9, attemptId=1, numFailedTasks=1),  # neighborhood, a retry
        _stage(2.5),  # between children: the op span itself
        _stage(11.0),  # after every span: nobody's
    ]
    attribute(spans, stages, "stage", set())
    attribute(spans, [{"submitted": 4.5}, {"submitted": 1.2}], "job", set())
    op, src, nb = (s.counts for s in spans)
    assert (src["stages"], src["jobs"], src["tasks"]) == (1, 1, 2)
    assert (nb["stages"], nb["jobs"], nb["tasks"]) == (2, 1, 5)
    assert nb["stage_retries"] == 1 and nb["failed_tasks"] == 1
    assert nb["task_s"] == pytest.approx(3.0)
    assert nb["spill_mb"] == pytest.approx(6.0)
    assert nb["shuffle_write_mb"] == pytest.approx(2.0)
    assert nb["gc_s"] == pytest.approx(0.2)
    assert op["stages"] == 1 and op["jobs"] == 0


def test_evicted_stages_make_counts_unknown():
    spans = [_span("op", 0, 10), _span("sources", 1, 2, parent=0)]
    for s in spans[1:]:
        s.counts = None
    attribute(spans, [_stage(1.5)], "stage", {1})
    assert spans[1].counts is None
    assert spans[0].counts["stages"] == 0  # the evicted stage is not re-homed


class _FakeStore:
    """Status store that retains only stages with id >= ``oldest``."""

    def __init__(self, stages, oldest):
        self._stages, self._oldest = stages, oldest

    def stages(self):
        return self._oldest, [s for s in self._stages if s["stageId"] >= self._oldest]

    def jobs(self):
        return []


def _traced(stages, oldest):
    from spans import Tracer

    tr = Tracer(enabled=True)
    tr._store = _FakeStore(stages, oldest)
    return tr


def test_flush_charges_retained_stages():
    t = 1e9
    tr = _traced([dict(_stage(t + 0.5), stageId=0), dict(_stage(t + 0.6), stageId=1)], oldest=0)
    with tr.span("op", 0):
        tr.spans[0].start = t
    tr.spans[0].end = t + 1
    tr.flush()
    assert tr.spans[0].counts["stages"] == 2


def test_flush_reports_evicted_stages_as_unknown():
    t = 1e9
    tr = _traced([dict(_stage(t + 0.5), stageId=7)], oldest=7)  # ids 0-6 are gone
    with tr.span("op", 0):
        tr.spans[0].start = t
    tr.spans[0].end = t + 1
    tr.flush()
    assert tr.spans[0].counts is None


class _FakeTracer:
    def __init__(self, spans):
        self.spans = spans


def test_layer_metrics_are_means_per_unit():
    spans = [
        _span("op", 0, 10, op=0),
        _span("recommenders.neighborhood", 0, 4, parent=0, op=0),
        _span("op", 10, 20, op=1),
        _span("recommenders.neighborhood", 10, 12, parent=2, op=1),
        _span("operators.dedup", 12, 16, parent=2, op=1),
    ]
    spans[1].counts.update(task_s=8.0, stages=3)
    spans[3].counts.update(task_s=4.0, stages=2)
    spans[4].counts.update(task_s=6.0, jobs=2)
    lm = run.layer_metrics(_FakeTracer(spans), n=2, cores=4)
    assert lm["recommenders.neighborhood.s"] == pytest.approx(3.0)
    assert lm["recommenders.neighborhood.stages"] == pytest.approx(2.5)
    assert lm["recommenders.neighborhood.task_s"] == pytest.approx(6.0)
    assert lm["recommenders.neighborhood.core_util"] == pytest.approx(12.0 / (6 * 4))
    assert lm["operators.dedup.s"] == pytest.approx(2.0)
    assert lm["operators.dedup.stages"] == 0.0
    assert lm["sources.s"] == 0.0 and lm["sources.jobs"] == 0.0


def test_layer_metrics_unknown_when_a_span_lost_its_stages():
    spans = [_span("op", 0, 10), _span("sources", 0, 4, parent=0)]
    spans[1].counts = None
    lm = run.layer_metrics(_FakeTracer(spans), n=1, cores=4)
    assert lm["sources.task_s"] is None and lm["sources.jobs"] is None
    assert lm["sources.s"] == pytest.approx(4.0)  # wall time is still known


def test_layer_metrics_split_phases_of_one_layer():
    spans = [
        _span("op", 0, 10),
        _span("recommenders.als:fit", 1, 5, parent=0),
        _span("recommenders.als:serve", 5, 6, parent=0),
    ]
    spans[1].counts.update(task_s=6.0, stages=4)
    spans[2].counts.update(task_s=2.0, stages=1)
    lm = run.layer_metrics(_FakeTracer(spans), n=1, cores=4)
    assert lm["recommenders.als.fit_s"] == pytest.approx(4.0)
    assert lm["recommenders.als.serve_s"] == pytest.approx(1.0)
    assert lm["recommenders.als.stages"] == 5
    assert lm["recommenders.als.core_util"] == pytest.approx(8.0 / (5 * 4))
    assert lm["recommenders.sequential.fit_s"] == 0.0


# --------------------------------------------------------------- generator

SMALL = gen.Size(customers=20, parts=30, orders=100, events=50, documents=40)


def _files(d):
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name.removesuffix(".parquet")] = pd.read_parquet(f)
    return out


def test_generator_is_deterministic_per_seed(tmp_path):
    m1 = gen.generate(str(tmp_path / "a"), 7, SMALL)
    m2 = gen.generate(str(tmp_path / "b"), 7, SMALL)
    assert m1 == m2
    a, b = _files(tmp_path / "a"), _files(tmp_path / "b")
    for name in a:
        pd.testing.assert_frame_equal(a[name], b[name])


def test_generator_differs_across_seeds_at_equal_size(tmp_path):
    m1 = gen.generate(str(tmp_path / "a"), 7, SMALL)
    m2 = gen.generate(str(tmp_path / "b"), 8, SMALL)
    assert {t: v["rows"] for t, v in m1.items()} == {t: v["rows"] for t, v in m2.items()}
    a, b = _files(tmp_path / "a"), _files(tmp_path / "b")
    assert sorted(a) == sorted(checks.TABLES)
    for name in checks.TABLES:
        assert not a[name].equals(b[name]), name


def test_generator_plants_duplicates(tmp_path):
    gen.generate(str(tmp_path), 3, SMALL)
    docs = pd.read_parquet(tmp_path / "documents.parquet")
    assert docs["text"].duplicated().any()
    assert docs["text"].str.endswith(" dup").any()
    assert (docs["n_chars"] == docs["text"].str.len()).all()


# ------------------------------------------------------------------ checks


def test_digest_ignores_row_and_column_order():
    df = pd.DataFrame({"a": [1, 2, 3], "b": [0.1, 0.2, 0.3]})
    shuffled = df.iloc[[2, 0, 1]][["b", "a"]]
    assert digest(df) == digest(shuffled)
    assert digest(df)[0] == 3
    changed = df.assign(b=[0.1, 0.2, 0.31])
    assert digest(changed) != digest(df)
    assert digest(df.assign(b=[0.1, 0.2, 0.3000000001])) == digest(df)  # rounded at 6 dp


def test_pins_hold_only_for_their_cpu_count(tmp_path, monkeypatch):
    path = tmp_path / "pinned.json"
    path.write_text(json.dumps({"cpus": 4, "mixed_cold": {"3": {"als": [5, "x"]}}}))
    monkeypatch.setattr(checks, "PINNED_PATH", str(path))
    assert checks.load_pins("mixed_cold", 3, 4) == {"als": [5, "x"]}
    assert checks.load_pins("mixed_cold", 3, 8) == {}
    assert checks.load_pins("mixed_cold", 4, 4) == {}


def test_topk_shape_rules():
    top = pd.DataFrame({"user_id": [1, 1, 2, 2], "item_id": [5, 6, 5, 7], "rank": [1, 2, 1, 2]})
    shape = checks.topk_shape(top)
    assert shape == [4, 2, 1, 2]
    assert workloads.check_shapes({"als_shape": shape}, users=2, k=2) == []
    assert workloads.check_shapes({"als_shape": shape}, users=3, k=2)  # a user got nothing
    assert workloads.check_shapes({"sequential_shape": shape}, users=3, k=2) == []
    assert workloads.check_shapes({"sequential_shape": [4, 2, 2, 3]}, users=3, k=3)  # no rank 1


class _FakeFrame:
    def __init__(self, live):
        self.live = live

    def persist(self):
        self.live.add(id(self))
        return self

    def count(self):
        return 0

    def unpersist(self, blocking=False):
        self.live.discard(id(self))


def test_engine_left_rdds_exclude_the_benchmarks_own(monkeypatch):
    import types

    released = []
    fake = types.ModuleType("registry")
    fake.release_query_state = lambda spark: released.append(spark)
    monkeypatch.setitem(sys.modules, "recsys_spark_spark.plans.registry", fake)
    live = {"engine-cache"}  # one RDD the engine left persisted
    ctx = workloads.Ctx("spark", "", None, False, persisted_rdds=lambda: len(live))
    ctx.persist(_FakeFrame(live))
    ctx.persist(_FakeFrame(live))
    assert len(live) == 3
    assert workloads.end_op(ctx) == 1
    assert released == ["spark"] and ctx.owned == []


# ---------------------------------------------------------- BENCHMARK.json


def test_benchmark_json_names_what_the_runner_reports():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOAD_NAMES)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.E2E_METRICS)
    assert [m["name"] for m in spec["per_layer"]] == run.per_layer_names()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for name, unit in run.E2E_METRICS.items():
        assert units[name] == unit
    for name in run.per_layer_names():
        assert units[name] == run._unit(name)

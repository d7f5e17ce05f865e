"""Phase timings (recsys_spark_spark/phases.py): the nesting rule, the
log's retention, the bench stage split built on it, and a source scan
that keeps it the package's only timer."""

from __future__ import annotations

import ast
import sys
import threading
import time
from pathlib import Path

from recsys_spark_spark import phases
from recsys_spark_spark.phases import phase


def _bench():
    sys.path.insert(0, str(Path(__file__).parent.parent))
    import bench

    return bench


def _timed(name):
    with phase(name):
        time.sleep(0.01)


def test_nested_and_threaded_phases_are_sub_phases():
    phases.take()
    with phase("outer"):
        with phase("inner"):
            time.sleep(0.01)
        t = threading.Thread(target=_timed, args=("on_thread",))
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    with phase("after"):
        pass
    logged = {p.name: p for p in phases.take()}
    assert set(logged) == {"outer", "inner", "on_thread", "after"}
    assert {n for n, p in logged.items() if p.sub} == {"inner", "on_thread"}
    assert logged["outer"].seconds >= logged["inner"].seconds >= 0.01


def test_take_clears_and_latest_wins():
    phases.take()
    with phase("a"):
        time.sleep(0.02)
    with phase("a"):
        pass
    first = phases.take()
    assert [p.name for p in first] == ["a"]
    assert first[0].seconds < 0.02  # the second, shorter run replaced it
    assert phases.take() == []


def test_concurrent_phases_keep_the_open_count():
    """Many threads opening and closing phases at once: a lost update
    to the open-phase count would mark the next phase a sub-phase."""
    phases.take()

    def work(i):
        for _ in range(200):
            with phase(f"t{i}"):
                pass

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(i,)) for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert {p.name for p in phases.take()} == {f"t{i}" for i in range(16)}
    with phase("after"):
        pass
    assert [(p.name, p.sub) for p in phases.take()] == [("after", False)]


def test_stage_split_sums_top_level_phases_to_the_wall():
    phases.take()
    t0 = time.perf_counter()
    with phase("fit"):
        time.sleep(0.01)
        t = threading.Thread(target=_timed, args=("axis",))
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    with phase("index"):
        time.sleep(0.01)
    time.sleep(0.01)  # call time no phase covers
    build_s = time.perf_counter() - t0
    time.sleep(0.01)  # the action
    wall_s = time.perf_counter() - t0

    split = _bench().stage_split(phases.take(), build_s, wall_s)
    sub = split.pop("sub")
    assert set(sub) == {"axis"}
    assert set(split) == {"fit", "index", "build_other", "action"}
    assert abs(sum(split.values()) - wall_s) < 0.005
    assert split["build_other"] >= 0.009 and split["action"] >= 0.009


def test_stage_split_without_phases_is_build_plus_action():
    assert _bench().stage_split([], 1.25, 3.0) == {
        "build_other": 1.25,
        "action": 1.75,
    }


def test_phases_module_is_the_only_timer():
    """One mechanism: no module of the package reads
    ``time.perf_counter`` except phases.py and the per-query wall of
    ``registry.drive_all``."""
    pkg = Path(phases.__file__).parent
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        if path == Path(phases.__file__):
            continue
        src = path.read_text()
        if "perf_counter" not in src:
            continue
        funcs = [
            f
            for f in ast.walk(ast.parse(src))
            if isinstance(f, ast.FunctionDef)
        ]
        for n, line in enumerate(src.splitlines(), 1):
            if "perf_counter" not in line:
                continue
            inner = [f.name for f in funcs if f.lineno <= n <= f.end_lineno]
            where = f"{path.relative_to(pkg)}::{'.'.join(inner)}"
            if where != "plans/registry.py::drive_all":
                hits.append(f"{where}:{n}: {line.strip()}")
    assert hits == []


def test_minhash_pairs_is_a_phase(spark):
    """``minhash_neardup_pairs`` materializes its shingles, candidates
    and candidate shingles at call time, under one phase."""
    from recsys_spark_spark.operators.dedup import minhash_neardup_pairs

    text = "a near duplicate pair of short documents about spark"
    docs = spark.createDataFrame([(1, text), (2, text)], "doc_id long, text string")
    phases.take()
    minhash_neardup_pairs(docs)
    assert [p.name for p in phases.take()] == ["minhash_pairs"]

"""Connected components (operators/components.py): distributed
pointer-jumping min-label propagation vs a driver-side union-find on
synthetic graphs, plus the registered neardup_components grouping
invariants on real data (oracle parity is covered by
tests/test_oracle_parity.py)."""

from __future__ import annotations

import random

import pytest

from recsys_spark_spark.operators.components import connected_components


def _union_find(edges):
    """Reference answer: min-id component per node, driver-side."""
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _check(spark, edges, max_rounds=25):
    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    got = {
        r["id"]: r["comp"]
        for r in connected_components(df, max_rounds=max_rounds).collect()
    }
    assert got == _union_find(edges)


def test_chain_exercises_pointer_jumping(spark):
    # a 24-node path has diameter 23: plain min-propagation needs 23
    # propagation rounds, so max_rounds=8 FAILS unless the pointer-jump
    # halving actually works (it converges in ~5 + 1 confirm)
    _check(spark, [(i, i + 1) for i in range(1, 24)], max_rounds=8)


def test_star_and_cliques(spark):
    star = [(100, i) for i in range(101, 110)]
    clique = [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
    far = [(1000, 2000), (2000, 3000)]
    _check(spark, star + clique + far)


def test_random_graphs_match_union_find(spark):
    rng = random.Random(42)
    for _ in range(3):
        n = rng.randint(5, 40)
        edges = [
            (rng.randint(1, n), rng.randint(1, n)) for _ in range(n)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        _check(spark, edges)


def test_neardup_components_grouping_invariants(spark, sf_dir):
    """On the real corpus: every pair's endpoints share a component,
    each component has exactly one keeper, and it's the min doc_id."""
    from recsys_spark_spark.plans.registry import QUERIES, _load_all
    from recsys_spark_spark.plans.dedup import (
        NEARDUP_THRESHOLD,
        neardup_components,
    )
    from recsys_spark_spark.operators.dedup import minhash_neardup_pairs
    from recsys_spark_spark.sources.readers import table

    comp = {
        r["doc_id"]: (r["component"], r["keeper"])
        for r in neardup_components(spark, sf_dir).collect()
    }
    pairs = minhash_neardup_pairs(
        table(spark, sf_dir, "documents"), threshold=NEARDUP_THRESHOLD
    ).collect()
    assert pairs, "planted near-dup pairs must exist"
    for r in pairs:
        assert comp[r["id_a"]][0] == comp[r["id_b"]][0]
    by_comp: dict[int, list[int]] = {}
    for doc, (c, k) in comp.items():
        by_comp.setdefault(c, []).append((doc, k))
    for c, members in by_comp.items():
        keepers = [d for d, k in members if k == 1]
        assert keepers == [min(d for d, _ in members)] == [c]


def test_distributed_path_releases_its_checkpoints(spark, monkeypatch):
    """Forced down the pointer-jumping loop, a call leaves only its
    returned labels persisted (owner "components"); every round it
    superseded and its edge checkpoint are released before it returns."""
    from recsys_spark_spark import lifecycle
    from recsys_spark_spark.operators import components

    monkeypatch.setattr(components, "LOCAL_EDGE_BUDGET", 0)
    lifecycle.release()  # drain anything earlier tests left behind

    def persisted():
        return len(spark.sparkContext._jsc.getPersistentRDDs())

    base = persisted()
    edges = [(1, 2), (2, 3), (10, 11)]
    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    got = {r["id"]: r["comp"] for r in connected_components(df).collect()}
    assert got == _union_find(edges)
    assert persisted() <= base + 1
    lifecycle.release("components")
    assert persisted() == base

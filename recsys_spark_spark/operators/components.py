"""Distributed connected components over pair edges — the step that
turns near-duplicate PAIRS into duplicate GROUPS.

Every near-dedup operator in operators/dedup.py emits pairs
``(id_a, id_b)``; a production dedup pipeline must then pick ONE
keeper per transitive group (A~B, B~C ⇒ {A,B,C} share a keeper even
though A,C were never directly compared).  The reference has no
near-dedup at all (this whole family is driver-mandated extension
surface), so the semantics anchor is the standard definition:
``component(x) = min(id over everything reachable from x)``.

Algorithm: iterative min-label propagation with a pointer-jumping
(path-halving) step each round:

1. neighbor step — every node takes the min of its own label and its
   graph-neighbors' labels (one join + min-aggregate on the edge list);
2. pointer-jump step — every node replaces its label by its label's
   label (one self-join on the label relation), which halves the depth
   of label-chains and turns worst-case convergence from O(diameter)
   rounds into O(log diameter) — the same doubling trick as
   Kiveris et al.'s two-phase map-reduce CC algorithms.

Each round is two key-partitioned joins Catalyst plans as ordinary
shuffles; the driver's only role is the convergence test (the monotone
label-sum aggregate — O(1) result, not a data collect).  Near-dup graphs
are unions of small cliques/stars (diameter ~1-2), so the loop
typically runs 2 rounds; the cap is a runaway backstop for adversarial
chain graphs and raises instead of returning a wrong answer.

At 100 TB the edge list is the near-dup pair output — orders of
magnitude smaller than the corpus — and the label relation is O(nodes
in any pair); both shuffle on id keys, nothing is quadratic.
"""

from __future__ import annotations

import time

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import lifecycle

#: convergence backstop: pointer-jumping converges in O(log diameter)
#: PROPAGATION rounds, so 25 covers diameters beyond 2^25 — any real
#: input converges far earlier; hitting the cap means a logic error,
#: not a big graph, and raises.  The loop runs max_rounds + 1
#: iterations because convergence is DETECTED one round after it
#: happens (the sum-unchanged confirmation round).
MAX_ROUNDS = 25

#: directed-edge budget for the LOCAL path (r15; the BatchSOM/BPE
#: bounded-local-path precedent): near-dup edge lists are orders of
#: magnitude smaller than the corpus, and BELOW this row count a
#: driver-side union-find is exact and replaces the whole iterative
#: loop — measured ~10 Spark jobs per CC call (2 localCheckpoints + a
#: convergence collect per round, each paying scheduler+AQE latency on
#: KB-sized relations) with one collect.  2M (u, v) longs ≈ 32 MB of
#: driver state.  Above the budget the distributed pointer-jumping
#: loop runs unchanged.
LOCAL_EDGE_BUDGET = 2_000_000


def _union_find(und_rows: list[tuple], ids: list) -> dict:
    """Min-id connected components over collected directed edges —
    the exact local twin of the pointer-jumping loop (component(x) =
    min id reachable from x).  Path-halving union-by-min."""
    parent: dict = {i: i for i in ids}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in und_rows:
        ru, rv = find(u), find(v)
        if ru == rv:
            continue
        # union by MIN id so every root IS the component label
        if rv < ru:
            ru, rv = rv, ru
        parent[rv] = ru
    return {i: find(i) for i in ids}


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = MAX_ROUNDS,
    timings_out: dict | None = None,
) -> DataFrame:
    """``(id, component)`` for every node appearing in ``edges``, where
    ``component`` is the minimum node id reachable via undirected
    edges.  Ids must be orderable (the min-id convention doubles as
    the deterministic keeper rule: keeper ⇔ id == component).

    ``timings_out`` (optional, for bench attribution): filled with
    ``edges_labels_init`` (materializing the undirected edge cache +
    initial labels — this is where the upstream PAIR plan executes,
    e.g. the MinHash band join), ``iterate`` (the propagation loop)
    and ``rounds``."""
    t0 = time.perf_counter()
    # undirected: one generator explode, not a union of two plans of
    # the (possibly expensive) edge subtree.  A checkpoint, NOT a
    # cache (r15): the loop references this relation in EVERY round's
    # plan, and a cache keeps the full upstream logical plan (e.g. the
    # whole MinHash verify pipeline) inside each round — Catalyst then
    # re-analyzes/re-optimizes that subtree for every localCheckpoint
    # job of the loop, measured as ~0.1-0.5 s driver gaps between the
    # loop's micro-jobs.  The checkpoint truncates lineage once; it is
    # owned by this call and released before returning, since both
    # paths return frames that no longer read it.
    owner = object()
    und = lifecycle.checkpoint(
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                    F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
                )
            ).alias("_e")
        )
        .select("_e.*")
        .distinct(),
        owner=owner,
    )
    if timings_out is not None:
        timings_out["edges_labels_init"] = round(time.perf_counter() - t0, 3)

    # bounded LOCAL path: tiny edge lists (the near-dup norm) resolve
    # with a driver union-find instead of a multi-job iterative loop —
    # exact same (id, comp) relation, same schema; see LOCAL_EDGE_BUDGET
    t_loop = time.perf_counter()
    n_und = und.count()
    if n_und <= LOCAL_EDGE_BUDGET:
        rows = [(r["u"], r["v"]) for r in und.collect()]
        lifecycle.release(owner)
        ids = sorted({u for u, _ in rows})
        comp = _union_find(rows, ids)
        id_type = edges.schema[src].dataType
        from pyspark.sql.types import StructField, StructType

        schema = StructType(
            [StructField("id", id_type), StructField("comp", id_type)]
        )
        # from pandas (Arrow under the engine's session): a JVM-side
        # relation, so consumer stages start no Python workers, unlike
        # the pickled Python RDD a list of tuples becomes
        pdf = pd.DataFrame({"id": ids, "comp": [comp[i] for i in ids]})
        out = edges.sparkSession.createDataFrame(pdf, schema)
        if timings_out is not None:
            timings_out["iterate"] = round(time.perf_counter() - t_loop, 3)
            timings_out["rounds"] = 0
        return out

    # Iterative plans MUST truncate lineage each round: the pointer
    # jump self-joins the round's label relation, so the logical plan
    # would DOUBLE per round (2^rounds nodes — Catalyst OOMs on a
    # 24-node chain graph long before the data is big).  cache() does
    # not help (it materializes blocks but keeps the full plan);
    # localCheckpoint(eager) cuts the plan to the computed partitions.
    # On a cluster with executor churn, set a checkpoint dir and use
    # .checkpoint() instead — same contract, fault-tolerant storage.
    labels = (
        und.select(F.col("u").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("comp"))
        .localCheckpoint()
    )
    rounds = 0

    label_sum = None
    # + 1: the sum-unchanged check confirms convergence one round
    # AFTER the labels reach their fixpoint, so a graph that converges
    # on exactly round max_rounds must not raise
    for _ in range(max_rounds + 1):
        # 1) neighbor step: min label over {self} ∪ neighbors
        nbr_min = (
            und.join(labels.select(F.col("id").alias("v"), "comp"), "v")
            .groupBy(F.col("u").alias("id"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        stepped = (
            labels.join(nbr_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
                ).alias("comp"),
            )
            .localCheckpoint()
        )
        # 2) pointer jump: comp ← comp's comp (path halving)
        jumped = (
            stepped.alias("s")
            .join(
                stepped.select(
                    F.col("id").alias("comp"), F.col("comp").alias("comp2")
                ).alias("j"),
                "comp",
                "left",
            )
            .select(
                F.col("id"),
                F.coalesce(F.col("comp2"), F.col("comp")).alias("comp"),
            )
            .localCheckpoint()
        )
        # Convergence via the monotone-sum invariant: every step can
        # only DECREASE a label (min/least throughout), so the label
        # sum is strictly decreasing until the fixpoint — an O(1)-
        # result aggregate replaces a full join-and-compare against
        # the previous round's labels (which re-shuffled both label
        # relations every round).  decimal(38,0) because a sum of
        # 64-bit ids can overflow long, which ANSI mode escalates to
        # a job failure.
        new_sum = jumped.agg(
            F.sum(F.col("comp").cast("decimal(38,0)"))
        ).collect()[0][0]
        labels = jumped
        rounds += 1
        if new_sum == label_sum:
            break
        label_sum = new_sum
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    lifecycle.release(owner)
    if timings_out is not None:
        timings_out["iterate"] = round(time.perf_counter() - t_loop, 3)
        timings_out["rounds"] = rounds
    return labels.select("id", "comp")


def components_sql(pairs_sql: str, id_a: str = "id_a", id_b: str = "id_b") -> str:
    """DuckDB twin of :func:`connected_components` over the pair query
    ``pairs_sql``: a recursive CTE computes the full reachability
    relation and takes ``min(root)`` per node — the textbook
    SQL-standard form of min-id connected components.  (The recursive
    form materializes O(Σ component²) reach rows, fine for an oracle
    at sf0.01; the Spark side's pointer-jumping loop is the scale
    path.)  Returns columns ``(id, comp)``."""
    return f"""
WITH RECURSIVE pairs AS (
  SELECT {id_a} AS id_a, {id_b} AS id_b FROM ({pairs_sql}) _pairs_q
),
nodes AS (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
)
SELECT id, min(r) AS comp FROM reach GROUP BY id
""".strip()

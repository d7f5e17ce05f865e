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

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import lifecycle
from ..phases import phase

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
) -> DataFrame:
    """``(id, component)`` for every node appearing in ``edges``, where
    ``component`` is the minimum node id reachable via undirected
    edges.  Ids must be orderable (the min-id convention doubles as
    the deterministic keeper rule: keeper ⇔ id == component).

    Phases: ``edges_labels_init`` (the undirected edge checkpoint —
    where the upstream PAIR plan executes, e.g. the MinHash band join)
    and ``iterate`` (the union-find or the propagation loop).  On the
    distributed path the returned frame reads checkpointed labels owned
    by ``"components"``; everything else the call checkpoints is
    released before it returns."""
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
    try:
        with phase("edges_labels_init"):
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
        with phase("iterate"):
            # bounded LOCAL path: tiny edge lists (the near-dup norm)
            # resolve with a driver union-find instead of a multi-job
            # iterative loop — exact same (id, comp) relation, same
            # schema; see LOCAL_EDGE_BUDGET
            if und.count() <= LOCAL_EDGE_BUDGET:
                return _local_components(und, edges.schema[src].dataType)
            return _pointer_jumping(und, max_rounds, owner)
    finally:
        lifecycle.release(owner)


def _local_components(und: DataFrame, id_type) -> DataFrame:
    """:func:`_union_find` over the collected undirected edges, as an
    ``(id, comp)`` frame."""
    from pyspark.sql.types import StructField, StructType

    rows = [(r["u"], r["v"]) for r in und.collect()]
    ids = sorted({u for u, _ in rows})
    comp = _union_find(rows, ids)
    schema = StructType([StructField("id", id_type), StructField("comp", id_type)])
    # from pandas (Arrow under the engine's session): a JVM-side
    # relation, so consumer stages start no Python workers, unlike
    # the pickled Python RDD a list of tuples becomes
    pdf = pd.DataFrame({"id": ids, "comp": [comp[i] for i in ids]})
    return und.sparkSession.createDataFrame(pdf, schema)


def _pointer_jumping(und: DataFrame, max_rounds: int, owner: object) -> DataFrame:
    """The distributed loop.  Each round's neighbor step is
    checkpointed under the caller's ``owner``; each round's labels
    under their own token, released as soon as the next round's
    labels supersede them.  The final labels pass to ``"components"``,
    since the returned frame reads them."""
    # Iterative plans MUST truncate lineage each round: the pointer
    # jump self-joins the round's label relation, so the logical plan
    # would DOUBLE per round (2^rounds nodes — Catalyst OOMs on a
    # 24-node chain graph long before the data is big).  cache() does
    # not help (it materializes blocks but keeps the full plan);
    # localCheckpoint(eager) cuts the plan to the computed partitions.
    # On a cluster with executor churn, set a checkpoint dir and use
    # .checkpoint() instead — same contract, fault-tolerant storage.
    labels_owner = object()
    labels = lifecycle.checkpoint(
        und.select(F.col("u").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("comp")),
        owner=labels_owner,
    )

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
        stepped = lifecycle.checkpoint(
            labels.join(nbr_min, "id", "left").select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
                ).alias("comp"),
            ),
            owner=owner,
        )
        # 2) pointer jump: comp ← comp's comp (path halving)
        round_owner = object()
        jumped = lifecycle.checkpoint(
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
            ),
            owner=round_owner,
        )
        lifecycle.release(labels_owner)  # superseded; jumped is lineage-free
        labels, labels_owner = jumped, round_owner
        # Convergence via the monotone-sum invariant: every step can
        # only DECREASE a label (min/least throughout), so the label
        # sum is strictly decreasing until the fixpoint — an O(1)-
        # result aggregate replaces a full join-and-compare against
        # the previous round's labels (which re-shuffled both label
        # relations every round).  decimal(38,0) because a sum of
        # 64-bit ids can overflow long, which ANSI mode escalates to
        # a job failure.
        new_sum = labels.agg(
            F.sum(F.col("comp").cast("decimal(38,0)"))
        ).collect()[0][0]
        if new_sum == label_sum:
            break
        label_sum = new_sum
    else:
        lifecycle.release(labels_owner)
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    lifecycle.on_release(lambda: lifecycle.release(labels_owner), owner="components")
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

"""PageRank over the item co-rating graph (graph-analytics family).

Co-rated items form a weighted undirected graph (edge weight = number
of co-raters); PageRank over it is the classic item-importance signal
a recommender surfaces as a popularity-independent prior (power
iteration, Brin & Page 1998).  Expressed entirely as DataFrame
joins/aggregations — the standard Spark formulation when GraphX/Pregel
is out of reach from Python:

    per iteration:  contrib(dst) = Σ_src  pr(src) · w / deg(src)
                    pr'(id)      = (1−d)/n + d · contrib(id)

Cross-engine discipline: each iteration's rank is quantized with
``qround`` (floor-half-up) so the DuckDB oracle — the SAME power
iteration unrolled as a WITH chain — replays bit-for-bit; per-node
contribution sums are order-dependent in the last ulp, which the 7-dp
grid absorbs (same argument as the similarity-kernel dot products).

Scale shape: the edge build is the user-keyed co-rating pair join —
O(Σ n_u²) with the standard hot-user cutoff (``max_items_per_user``,
mirrored EXACTLY in the oracle so the cap is part of the semantics,
not an approximation).  Each iteration is one join + one aggregate on
the edge relation; edges/degrees/nodes are cached across iterations,
and at real scale each iteration's result would be checkpointed to
truncate lineage (see operators/components.py for the same pattern).

Isolated items (no co-rater) have no edge and are excluded from the
graph — documented, matches the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.rounding import qround
from ..lifecycle import materialize

PR_ROUND = 7

#: iterations beyond which each round's rank vector is
#: ``localCheckpoint``-ed to truncate lineage (components.py pattern):
#: the unrolled plan doubles in depth per iteration (join + aggregate
#: + join), and past ~10 rounds Catalyst analysis/optimization time
#: dominates — or OOMs the driver — on the exponentially-nested tree.
#: Below the threshold the plan stays pure-lazy (cheaper for the
#: registered 5-iteration query, and keeps its oracle WITH-chain
#: replay untouched).
CHECKPOINT_AFTER_ITERS = 10


def corating_edges(
    ratings: DataFrame, max_items_per_user: int | None = None
) -> DataFrame:
    """Directed co-rating edges ``(src, dst, w DOUBLE)`` — both
    directions of every co-rated item pair, weight = co-rater count."""
    r = ratings.select("user_id", "item_id")
    if max_items_per_user is not None:
        # hot users are by construction FEW — broadcast the tiny hot
        # set and anti-join (functions/similarity.py's skew-guard
        # shape); broadcasting the ~complete ok-user complement would
        # ship the whole user dimension to every executor
        hot = (
            r.groupBy("user_id")
            .agg(F.count("*").alias("_n"))
            .where(F.col("_n") > max_items_per_user)
            .select("user_id")
        )
        r = r.join(F.broadcast(hot), "user_id", "left_anti")
    a = r.select("user_id", F.col("item_id").alias("src"))
    b = r.select("user_id", F.col("item_id").alias("dst"))
    return (
        a.join(b, "user_id")
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").cast("double").alias("w"))
    )


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    round_digits: int = PR_ROUND,
) -> DataFrame:
    """Fixed-iteration PageRank → ``(id, pagerank)``.

    ``edges`` must be directed (both ways for an undirected graph)
    with a DOUBLE weight column ``w``.  Deterministic: quantized each
    iteration, so equal inputs give bit-equal ranks in any engine
    replaying the same arithmetic.

    The node set is src ∪ dst, so pure sinks (nodes with only
    incoming edges) get rank rows and receive their mass.  Dangling
    mass is NOT redistributed (a sink's rank is absorbed, the classic
    simplification) — on the symmetrized co-rating caller every node
    has out-edges, so this never fires there; documented rather than
    hidden."""
    # the final action's plan references edges/nodes/deg once per
    # iteration, so all three are eager (left lazy, the upstream
    # co-rating pair join replayed inside one action: 427 task-s for 5
    # iterations at sf0.1); nodes is counted by hand because the
    # broadcast decision below needs its count
    edges = materialize(edges, owner="pagerank", eager=True)
    nodes = materialize(
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct(),
        owner="pagerank",
    )
    n_df = F.broadcast(nodes.agg(F.count("*").cast("double").alias("n")))
    n_nodes = nodes.count()
    deg = materialize(
        edges.groupBy("src").agg(F.sum("w").cast("double").alias("deg")),
        owner="pagerank",
        eager=True,
    )
    # rank/degree relations are O(nodes); Catalyst's size estimate for
    # the ITERATED pr plan balloons (join estimates multiply), so it
    # shuffled the full edge cache every iteration (profiled: 5 ×
    # 240-300 MB exchanges at sf0.1) instead of broadcasting the tiny
    # rank relation.  Broadcast explicitly when the node count —
    # already known from the eager count — is broadcast-sized;
    # data-derived, so a billion-node graph keeps the shuffle join.
    bcast_ranks = n_nodes <= 5_000_000

    def _maybe_b(df):
        return F.broadcast(df) if bcast_ranks else df

    pr = nodes.crossJoin(n_df).select(
        "id", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    # lineage truncation for long runs (CHECKPOINT_AFTER_ITERS): the
    # per-round localCheckpoint caps the plan at one iteration's depth,
    # exactly like the pointer-jumping loop in components.py — without
    # it a 25-round run re-analyzes an exponentially nested tree each
    # round (plan-build time grows ~2× per iteration past ~10)
    checkpoint = iters > CHECKPOINT_AFTER_ITERS
    for _ in range(iters):
        contrib = (
            edges.join(_maybe_b(pr), edges.src == pr.id)
            .join(_maybe_b(deg), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("pr") * F.col("w") / F.col("deg")).alias("c"))
        )
        pr = (
            nodes.join(contrib, nodes.id == contrib.dst, "left")
            .crossJoin(n_df)
            .select(
                "id",
                qround(
                    (1.0 - damping) / F.col("n")
                    + damping * F.coalesce(F.col("c"), F.lit(0.0)),
                    round_digits,
                ).alias("pr"),
            )
        )
        if checkpoint:
            pr = pr.localCheckpoint(eager=True)
    return pr

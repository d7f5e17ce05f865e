"""Graph-analytics plans: PageRank over the item co-rating graph.

The oracle is the SAME power iteration unrolled as a DuckDB WITH
chain (it1..itN), with every iteration quantized by the shared
floor-half-up qround — an iterative algorithm made value-hash
verifiable by bounding the iteration count and pinning the float
grid each round.  Companion registered graph query:
``neardup_components`` (plans/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.rounding import qround_sql
from ..lifecycle import materialize
from ..operators.pagerank import PR_ROUND, corating_edges, pagerank
from .recsys import RATINGS_CTE, _cached_ratings
from .registry import register

PAGERANK_ITERS = 5
PAGERANK_DAMPING = 0.85
#: hot-user cutoff for the co-rating pair join — part of the query
#: SEMANTICS (mirrored in the oracle), not a silent approximation
MAX_ITEMS_PER_USER = 500


def _pagerank_sql(
    iters: int = PAGERANK_ITERS,
    damping: float = PAGERANK_DAMPING,
    cap: int = MAX_ITEMS_PER_USER,
) -> str:
    contrib = """
  SELECT e.dst AS id, sum(p.pr * e.w / d.deg) AS c
  FROM edges e JOIN {prev} p ON e.src = p.id JOIN deg d ON d.src = e.src
  GROUP BY 1
"""
    # interpolate the PYTHON-computed teleport constant: DuckDB would
    # evaluate 1.0 - 0.85 in DECIMAL (exactly 0.15) while Spark embeds
    # the Python double 0.15000000000000002 — a systematic 1-ulp
    # divergence per node per iteration that can straddle a 7-dp
    # rounding boundary
    step = (
        "it{i} AS (\n"
        "  SELECT nodes.id, "
        + qround_sql(
            f"{(1.0 - damping)!r} / nn.n + {damping!r} * COALESCE(c.c, 0.0)",
            PR_ROUND,
        )
        + " AS pr\n"
        "  FROM nodes CROSS JOIN nn LEFT JOIN (" + contrib + ") c"
        " ON c.id = nodes.id\n)"
    )
    its = ",\n".join(
        step.format(i=i, prev=f"it{i - 1}" if i > 1 else "pr0")
        for i in range(1, iters + 1)
    )
    return f"""
WITH {RATINGS_CTE},
ok_users AS (
  SELECT user_id FROM ratings GROUP BY 1 HAVING count(*) <= {cap}
),
r2 AS (SELECT r.* FROM ratings r JOIN ok_users USING (user_id)),
edges AS (
  SELECT a.item_id AS src, b.item_id AS dst, CAST(count(*) AS DOUBLE) AS w
  FROM r2 a JOIN r2 b ON a.user_id = b.user_id AND a.item_id <> b.item_id
  GROUP BY 1, 2
),
nodes AS (
  -- src UNION dst, mirroring operators/pagerank.py: identical on this
  -- symmetric co-rating graph, but a reuse with an asymmetric edge
  -- set must not silently drop sink nodes from the oracle side
  SELECT src AS id FROM edges UNION SELECT dst AS id FROM edges
),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
deg AS (SELECT src, CAST(sum(w) AS DOUBLE) AS deg FROM edges GROUP BY 1),
pr0 AS (SELECT id, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn),
{its}
SELECT id AS item_id, pr AS pagerank FROM it{iters}
"""


@register(
    # new in r4 (registry window full at 50); rotate REGISTERED in r5
    "item_pagerank",
    oracle=_pagerank_sql(),
)
def item_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank importance of every item over the co-rating graph
    (operators/pagerank.py): 5 damped power iterations, quantized per
    iteration so the unrolled-SQL oracle replays them exactly.
    Items nobody co-rated are not in the graph (no edges) and carry
    no rank row — documented, mirrored by the oracle."""
    edges = corating_edges(
        _cached_ratings(spark, sf_dir),
        max_items_per_user=MAX_ITEMS_PER_USER,
    )
    pr = pagerank(edges, PAGERANK_ITERS, PAGERANK_DAMPING)
    return pr.select(
        pr.id.alias("item_id"), pr.pr.alias("pagerank")
    )


# --- triangle counting / clustering coefficient -----------------------------

#: strong-tie threshold: co-rated by ≥ this many users — triangle
#: structure is meaningful on the strong-tie graph, and the threshold
#: keeps the sf0.01 co-rating graph (density 0.48 unthresholded!) at
#: graph-analytics density
MIN_COTRATINGS = 4


def _triangles_sql(cap: int = MAX_ITEMS_PER_USER, minw: int = MIN_COTRATINGS) -> str:
    return f"""
WITH {RATINGS_CTE},
ok_users AS (
  SELECT user_id FROM ratings GROUP BY 1 HAVING count(*) <= {cap}
),
r2 AS (SELECT r.* FROM ratings r JOIN ok_users USING (user_id)),
de AS (
  SELECT a.item_id AS s, b.item_id AS d, count(*) AS w
  FROM r2 a JOIN r2 b ON a.user_id = b.user_id AND a.item_id <> b.item_id
  GROUP BY 1, 2
),
und AS (SELECT s, d FROM de WHERE w >= {minw} AND s < d),
deg AS (
  SELECT id, CAST(count(*) AS BIGINT) AS deg
  FROM (SELECT s AS id FROM und UNION ALL SELECT d AS id FROM und) _u
  GROUP BY 1
),
o AS (
  SELECT CASE WHEN (da.deg, u.s) < (db.deg, u.d) THEN u.s ELSE u.d END AS src,
         CASE WHEN (da.deg, u.s) < (db.deg, u.d) THEN u.d ELSE u.s END AS dst
  FROM und u
  JOIN deg da ON da.id = u.s JOIN deg db ON db.id = u.d
),
tri AS (
  SELECT o1.src AS a, o1.dst AS b, o2.dst AS c
  FROM o o1
  JOIN o o2 ON o1.src = o2.src
  JOIN deg kb ON kb.id = o1.dst
  JOIN deg kc ON kc.id = o2.dst
  JOIN o o3 ON o3.src = o1.dst AND o3.dst = o2.dst
  WHERE (kb.deg, o1.dst) < (kc.deg, o2.dst)
),
pern AS (
  SELECT id, CAST(count(*) AS BIGINT) AS t
  FROM (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri) _t
  GROUP BY 1
)
SELECT deg.id AS item_id, deg.deg AS degree,
       CAST(COALESCE(pern.t, 0) AS BIGINT) AS n_triangles,
       CASE WHEN deg.deg < 2 THEN 0.0
            ELSE floor((2.0 * COALESCE(pern.t, 0)
                        / (deg.deg * (deg.deg - 1))) * 1000000.0 + 0.5)
                   / 1000000.0 END AS clustering
FROM deg LEFT JOIN pern ON pern.id = deg.id
"""


@register("item_graph_triangles", oracle=_triangles_sql())
def item_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-item triangle count + local clustering coefficient over the
    STRONG-TIE item co-rating graph (edges = co-rated by ≥ 4 users) —
    completing the graph-analytics family (PageRank = importance,
    components = connectivity, triangles = cohesion; cc(v) =
    2·T(v) / (deg(v)·(deg(v)−1)), Watts–Strogatz 1998).

    Scale shape — the degree-ordered orientation (Cohen 2009's
    MapReduce triangle counting; also Schank–Wagner): orient every
    undirected edge from its lower (degree, id) endpoint to the
    higher, so each triangle is counted exactly ONCE at its
    lowest-degree vertex and the oriented out-degree is O(√m) on ANY
    graph — the wedge join is Σ d_out² = O(m^1.5) worst case instead
    of the naive Σ deg² which a single hub makes quadratic.  Wedges
    (a→b, a→c) join back to the oriented edge (b, c) as a plain
    equi-join; all counting is exact integers, the coefficient is the
    one float (6 dp, identical expression both engines; deg < 2 pins
    0.0).  The oracle replays orientation and wedge join with tuple
    comparisons on the same (degree, id) key."""
    from pyspark.sql import functions as F

    from ..operators.pagerank import corating_edges

    edges = corating_edges(
        _cached_ratings(spark, sf_dir),
        max_items_per_user=MAX_ITEMS_PER_USER,
    )
    und = (
        edges.where(F.col("w") >= MIN_COTRATINGS)
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst")
    )
    return triangle_stats(und)


def triangle_stats(und: DataFrame) -> DataFrame:
    """Library form of item_graph_triangles over any undirected edge
    list (src < dst, no duplicates) — so tests can plant a
    hand-countable graph."""
    from pyspark.sql import functions as F

    from ..functions.rounding import qround

    # r15 (guide §5 cache-what's-reused): this plan references the
    # oriented edge relation THREE times (two wedge sides + the closing
    # join), the degree relation three times and the edge list twice —
    # unpersisted, ONE action replayed the upstream co-rating pair join
    # ~15× through the duplicated subtrees (profiled: 97.7 s wall,
    # 2,757 task-s, 110 GB of spill at sf0.1).  Each reused relation is
    # O(edges) or O(nodes), far below the pair join; the unionAll
    # fan-outs fold into single-reference explodes.
    und = materialize(und, owner="graph", eager=True)
    deg = materialize(
        und.select(F.explode(F.array("src", "dst")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("deg")),
        owner="graph",
        eager=True,
    )
    da = deg.select(F.col("id").alias("src"), F.col("deg").alias("dsrc"))
    db = deg.select(F.col("id").alias("dst"), F.col("deg").alias("ddst"))
    keyed = und.join(da, "src").join(db, "dst")
    fwd = F.struct("dsrc", "src") < F.struct("ddst", "dst")
    o = materialize(
        keyed.select(
            F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("src"),
            F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("dst"),
            F.when(fwd, F.struct(F.col("ddst").alias("d"), F.col("dst").alias("i")))
            .otherwise(F.struct(F.col("dsrc").alias("d"), F.col("src").alias("i")))
            .alias("kdst"),
        ),
        owner="graph",
        eager=True,
    )
    o1 = o.select("src", F.col("dst").alias("b"), F.col("kdst").alias("kb"))
    o2 = o.select("src", F.col("dst").alias("c"), F.col("kdst").alias("kc"))
    wedges = o1.join(o2, "src").where(F.col("kb") < F.col("kc"))
    closing = o.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tri = wedges.join(closing, ["b", "c"]).select(
        F.col("src").alias("a"), "b", "c"
    )
    pern = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("t"))
    )
    j = deg.join(pern, "id", "left").select(
        F.col("id").alias("item_id"),
        F.col("deg").cast("bigint").alias("degree"),
        F.coalesce("t", F.lit(0)).cast("bigint").alias("n_triangles"),
        F.when(F.col("deg") < 2, F.lit(0.0))
        .otherwise(
            qround(
                2.0
                * F.coalesce("t", F.lit(0))
                / (F.col("deg") * (F.col("deg") - 1)),
                6,
            )
        )
        .alias("clustering"),
    )
    return j

"""Record linkage: edit-distance-1 fuzzy self-join via symmetric
deletion neighborhoods (SymSpell lineage).

The naive fuzzy join is all-pairs × levenshtein — O(n²) and dead at
scale.  The symmetric-delete trick makes it an equi-join: two strings
within edit distance 1 share at least one member of their
delete-1 neighborhoods ({s} ∪ {s minus one char}), because a
substitution at position i means both sides deleted position i, an
insertion/deletion means one side's original equals the other's
deletion.  So: expand each distinct name to ≤ len+1 variants
(row-local), equi-join on the variant (inverted-index shape, the same
as MinHash banding), then verify the BOUNDED candidate set with exact
``levenshtein`` — a built-in in both Spark and DuckDB, so unlike most
fuzzy-match stacks the whole pipeline carries a value-hash oracle.

Scale: candidates per bucket are names sharing a variant —
``max_bucket`` caps degenerate buckets (very hot variants, e.g.
single-char names) exactly like the LSH ``max_bucket`` guard; a
provable no-op on this data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import table
from .registry import register

#: drop deletion-variant buckets larger than this before the pair
#: join (hot-bucket guard, same idiom as operators/knn.py max_bucket)
MAX_BUCKET = 1000


@register(
    # new in r4 (registry window full at 50); rotate REGISTERED in r5
    "customer_name_fuzzy_pairs",
    oracle=f"""
WITH n AS (SELECT DISTINCT c_name AS name FROM customer),
d0 AS (
  SELECT name, substr(name, 1, i - 1) || substr(name, i + 1) AS variant
  FROM n, unnest(range(1, length(name) + 1)) AS t(i)
  UNION
  SELECT name, name FROM n
),
bsz AS (
  SELECT variant FROM d0 GROUP BY variant
  HAVING count(*) <= {MAX_BUCKET}
),
d AS (SELECT d0.* FROM d0 JOIN bsz USING (variant)),
p AS (
  SELECT a.name AS name_a, b.name AS name_b
  FROM d a JOIN d b ON a.variant = b.variant AND a.name < b.name
  GROUP BY 1, 2
)
SELECT name_a, name_b,
       CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist
FROM p WHERE levenshtein(name_a, name_b) <= 1
""",
)
def customer_name_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All customer-name pairs within edit distance 1 (see module
    docstring for the symmetric-delete construction).  The synthetic
    names differ in digits, so single-digit-substitution pairs
    genuinely exist — the oracle value-checks candidate generation,
    bucketing, and the exact verify on ~20k real pairs."""
    names = table(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name")
    )
    return fuzzy_pairs(names)


def name_variant_rows(names: DataFrame, name_col: str = "name") -> DataFrame:
    """(name, variant): each distinct name plus its delete-1 variants
    (symmetric-delete candidate keys) via a row-local transform over
    the position sequence (expr form: substr's position args take the
    lambda var).  Shared by :func:`fuzzy_pairs` and the cap-drop audit
    (plans/caps.py), so the audited bucket population is the one the
    pair join buckets on."""
    n = names.select(F.col(name_col).alias("name")).distinct()
    return n.select(
        "name",
        F.explode(
            F.array_distinct(
                F.concat(
                    F.array(F.col("name")),
                    F.expr(
                        "transform(sequence(1, length(name)), "
                        "k -> concat(substr(name, 1, k - 1), "
                        "substr(name, k + 1, length(name))))"
                    ),
                )
            )
        ).alias("variant"),
    )


def fuzzy_pairs(
    names: DataFrame,
    name_col: str = "name",
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Library form over any single-column name relation; returns
    (name_a, name_b, dist) with dist ≤ 1, name_a < name_b."""
    d = name_variant_rows(names, name_col)
    bsz = (
        d.groupBy("variant")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") <= max_bucket)
        .select("variant")
    )
    d = d.join(bsz, "variant")
    a = d.alias("a")
    b = d.alias("b")
    p = (
        a.join(
            b,
            (F.col("a.variant") == F.col("b.variant"))
            & (F.col("a.name") < F.col("b.name")),
        )
        .select(
            F.col("a.name").alias("name_a"), F.col("b.name").alias("name_b")
        )
        .distinct()
    )
    dist = F.levenshtein("name_a", "name_b")
    return p.where(dist <= 1).select(
        "name_a", "name_b", dist.cast("int").alias("dist")
    )


# --- multi-pass blocked ER (r12; pass design reworked r13) -------------------
#: edit-distance budget for the blocked ER query (the delete-1 op
#: above handles d=1 exactly; blocking is how production systems reach
#: d=2 without the O(len²) delete-2 neighborhood explosion)
ER_MAX_DIST = 2

#: c_name's noisy span: 'Customer#' is 9 constant chars, the 9-digit
#: id at string positions 10..18
ER_SUFFIX_START = 10
ER_SUFFIX_LEN = 9

#: r13 pass redesign (r12 VERDICT 'what's wrong' #1 — the r12 design's
#: contiguous d+1 segments had an all-names '000' HEAD segment whose
#: cap drop voided the pigeonhole exactly for pairs with noise in both
#: surviving segments; measured recall 0.92 at sf0.01).  Two changes,
#: each measured:
#:   1. INTERLEAVED segments, keyed on segment PAIRS: digit i joins
#:      segment i mod 4 (d+2 = 4 segments, so 2 substitutions leave
#:      >= 2 segments intact and SOME pair key survives verbatim),
#:      and every key mixes high- and low-entropy digit positions —
#:      entropy grows with the corpus instead of concentrating in a
#:      dead head block (sf0.01: 15-100 blocks/pass, max 100 rows;
#:      zero drops where the old head segment dropped 1500 rows).
#:   2. a DELETE-1 symmetric-deletion pass over the suffix (the d=1
#:      operator above, as an array_passes neighborhood key): equal-
#:      length ED<=2 pairs are {Hamming<=2} ∪ {1 insert + 1 delete
#:      shifts}, and positional segments cannot catch the shift class
#:      BY CONSTRUCTION (Hamming 4+ after a shift) — each side
#:      deleting its own shifted position makes the variants collide.
#: Measured vs exact all-pairs ED<=2 (the same audit as r12):
#: recall 0.92 -> 1.0000 at BOTH sf0.01 (204,096 true pairs) and
#: sf0.1 (4,083,571 true pairs), zero false positives (verify is
#: exact), zero dropped blocks, candidate build FASTER than the old
#: design (5.7 s vs 11.4 s at sf0.01 — higher-entropy keys mean
#: smaller blocks).  The cap + audit stay active (MAX_BUCKET
#: unchanged; the planted-hot-block pytest keeps the drop path
#: exercised).
ER_N_SEGMENTS = ER_MAX_DIST + 2


def _er_seg_positions(s: int) -> list[int]:
    """1-based string positions of interleaved segment ``s``."""
    return [
        ER_SUFFIX_START + i
        for i in range(ER_SUFFIX_LEN)
        if i % ER_N_SEGMENTS == s
    ]


def er_passes(
    name_col: str = "name",
) -> tuple[list, list]:
    """(passes, array_passes) for the blocked ER query — ONE spec
    shared by the Spark plan, the oracle generator below, and the
    recall-audit pytest, so the three can never desync."""
    import itertools

    passes = []
    for a, b in itertools.combinations(range(ER_N_SEGMENTS), 2):
        cols = [
            F.substring(F.col(name_col), p, 1)
            for p in _er_seg_positions(a) + _er_seg_positions(b)
        ]
        passes.append((f"p{a}{b}", F.concat_ws("", *cols)))
    # suffix-only delete-1 neighborhood (prefix deletions add nothing:
    # the prefix is constant, so only same-position deletions would
    # collide — already covered by the identity variant)
    del1 = F.array_distinct(
        F.concat(
            F.array(F.col(name_col)),
            F.expr(
                f"transform(sequence({ER_SUFFIX_START}, length({name_col})),"
                f" k -> concat(substr({name_col}, 1, k - 1),"
                f" substr({name_col}, k + 1, length({name_col}))))"
            ),
        )
    )
    return passes, [("del1", del1)]


def _er_block_sql() -> str:
    """The b0 CTE body: same pass spec as :func:`er_passes`, DuckDB
    dialect."""
    import itertools

    parts = []
    for a, b in itertools.combinations(range(ER_N_SEGMENTS), 2):
        key = " || ".join(
            f"substr(name, {p}, 1)"
            for p in _er_seg_positions(a) + _er_seg_positions(b)
        )
        parts.append(f"SELECT 'p{a}{b}' AS pass, {key} AS bk, name FROM n")
    parts.append(
        # DISTINCT mirrors the Spark side's array_distinct (adjacent
        # equal digits make duplicate deletion variants; duplicates
        # would inflate the block-size counts the cap tests)
        f"""SELECT DISTINCT 'del1' AS pass, bk, name FROM (
    SELECT substr(name, 1, i - 1) || substr(name, i + 1) AS bk, name
    FROM n, unnest(range({ER_SUFFIX_START}, length(name) + 1)) AS t(i)
    UNION ALL
    SELECT name AS bk, name FROM n
  )"""
    )
    return "\n  UNION ALL ".join(parts)


@register(
    "customer_name_er_matches",
    oracle=f"""
WITH n AS (SELECT DISTINCT c_name AS name FROM customer),
b0 AS (
  {_er_block_sql()}
),
keep AS (SELECT pass, bk FROM b0 GROUP BY 1, 2 HAVING count(*) <= {MAX_BUCKET}),
b AS (SELECT b0.* FROM b0 JOIN keep USING (pass, bk)),
cand AS (
  SELECT DISTINCT a.name AS name_a, c.name AS name_b
  FROM b a JOIN b c ON a.pass = c.pass AND a.bk = c.bk AND a.name < c.name
),
pairs AS (
  SELECT name_a, name_b, levenshtein(name_a, name_b) AS dist
  FROM cand WHERE levenshtein(name_a, name_b) <= {ER_MAX_DIST}
),
sym AS (
  SELECT name_a AS name, name_b AS other, dist FROM pairs
  UNION ALL
  SELECT name_b AS name, name_a AS other, dist FROM pairs
),
best AS (
  SELECT name, CAST(count(*) AS BIGINT) AS n_matches,
         max(CASE WHEN rn = 1 THEN other END) AS best_match,
         CAST(max(CASE WHEN rn = 1 THEN dist END) AS INTEGER) AS best_dist
  FROM (
    SELECT name, other, dist, row_number() OVER (
             PARTITION BY name ORDER BY dist ASC, other ASC) AS rn
    FROM sym
  ) GROUP BY 1
)
SELECT n.name, CAST(coalesce(b.n_matches, 0) AS BIGINT) AS n_matches,
       b.best_match, b.best_dist
FROM n LEFT JOIN best b ON b.name = n.name
""",
)
def customer_name_er_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENTITY RESOLUTION via the multi-pass blocked fuzzy join
    (``operators/blocking.py`` — the r12 frontier operator; pass
    design reworked r13, rationale + measurements at ER_N_SEGMENTS
    above): per customer name, how many other names sit within edit
    distance {ER_MAX_DIST} (typo-noise duplicates), and the closest
    one — 6 interleaved segment-PAIR passes (substitution class,
    pigeonhole-exact for d=2 while no block drops) + 1 suffix
    delete-1 neighborhood pass (the shift class positional segments
    cannot see), hot blocks capped at MAX_BUCKET and AUDITED
    (blocked_cap_audit — zero drops on this corpus at every test
    scale; recall measured 1.0000 vs exact ED<=2 at sf0.01 AND
    sf0.1, tests/test_blocking.py).  Output is the BOUNDED
    per-entity summary (|names| rows) a downstream merge consumes,
    not the dense pair listing.

    Scale shape: candidates <= max_block x n x n_passes — LINEAR in
    rows at fixed cap.  Measured (PERF.md, "Blocked fuzzy join",
    realistic ER corpus: entity clusters with planted 2-substitution
    typos): the naive all-pairs join is plainly quadratic and dead at
    40k names (49 s -> 154 s -> 517 s for 10k/20k/40k) while the
    blocked join runs 500k/1M/2M names in 12-16 s FLAT with zero
    planted pairs lost (anti-join-asserted, not sampled).  The
    block-sizes aggregate is computed ONCE and shared by the
    keep-filter and any audit run alongside (r12 ADVICE).  No
    reference analogue (SURVEY §2 extension — the linkage family's
    scale path)."""
    from ..operators.blocking import (
        block_sizes,
        blocked_fuzzy_pairs,
        er_match_summary,
    )

    names = table(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name")
    ).distinct()
    passes, array_passes = er_passes("name")
    sizes = block_sizes(names, "name", passes, array_passes)
    pairs = blocked_fuzzy_pairs(
        names,
        "name",
        passes,
        max_dist=ER_MAX_DIST,
        max_block=MAX_BUCKET,
        array_passes=array_passes,
        sizes=sizes,
    )
    return er_match_summary(names, pairs, "name")

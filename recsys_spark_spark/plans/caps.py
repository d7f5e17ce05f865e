"""Cap-drop observability: what the capped candidate generators drop.

Six candidate generators in this engine either guard against
hot-bucket quadratic collapse by DROPPING over-cap buckets (pairs
inside them are silently missed) or expose the knob to: the dHash
16-bit chunk bands (operators/multimodal.py MAX_DHASH_BUCKET), the
fuzzy-linkage delete-1 variant buckets (plans/linkage.py MAX_BUCKET),
the CF co-rated pair join's raters-per-item cut (plans/recsys.py
MAX_RATERS_PER_ITEM — a deliberate no-op at oracle scale, which this
audit value-CERTIFIES instead of asserting in a comment), the lift
pair join's basket-size cut (plans/market.py MAX_BASKET, r10), the
MinHash band buckets (operators/dedup.py MAX_MINHASH_BUCKET — capped
as of r10, closing the one uncapped member of the hot-bucket hazard
class; engine-symmetric defaults in minhash_neardup_pairs/_sql), and
— uncapped in the shipped query but the same hazard class — the
inverted-index Jaccard's stop-shingle document-frequency cut
(ngram_jaccard_pairs' max_doc_freq, r10; the histogram row is the
deliverable there).  Correctness of the shipped queries is
oracle-certified GIVEN each cap, but before trusting a dedup run an
operator needs the number the cap hides: how many buckets/items/pairs
would be dropped on THIS corpus (r8 VERDICT what's-missing #3 — the
repo's own "no silent caps" discipline, same observability family as
the skew/explosion audits in plans/relational.py).

``dedup_cap_audit`` reports, per generator, the full bucket-size
histogram — grain (generator, bucket_size) — with each size class's
bucket/item/candidate-pair mass and an over_cap flag, so the dropped
volume at the generator's shipped cap is directly readable (sum the
over_cap rows) and the histogram shape says whether the cap is even
near the action.  Every bucket relation is the SAME one the generator
joins on, shared at the function level on the Spark side
(dhash_chunk_rows / name_variant_rows / band_rows) and at the CTE
level in the oracle (dhash_twinned_hashed_ctes / the fuzzy d0 CTE /
minhash_bands_ctes) — parity by construction.

Scale shape: each histogram is two map-side-combinable aggregates
(count per bucket key at the width the generator's own join would
shuffle, then count per size) — strictly cheaper than the generator
itself, which is what makes the audit runnable BEFORE the dedup run
it vets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    MAX_MINHASH_BUCKET,
    band_rows,
    minhash_bands_ctes,
    minhash_signatures,
    shingle_rows,
    shingles_sql,
)
from ..operators.multimodal import MAX_DHASH_BUCKET, dhash_chunk_rows
from ..sources.readers import table
from .linkage import MAX_BUCKET as FUZZY_MAX_BUCKET
from .linkage import name_variant_rows
from .market import LIFT_B0_SQL, MAX_BASKET as LIFT_MAX_BASKET
from .market import lift_basket_rows
from .recsys import MAX_RATERS_PER_ITEM as CF_MAX_RATERS
from .recsys import _cached_ratings
from .mm import dhash_twinned_hashed_ctes
from .registry import register


def cap_histogram(
    bucket_sizes: DataFrame, generator: str, cap: int | None
) -> DataFrame:
    """Bucket-size histogram with cap annotations over a one-row-per-
    bucket relation carrying a ``bsz`` count column.

    Returns (generator, cap, bucket_size, n_buckets, n_items,
    n_pairs, over_cap): n_items/n_pairs are the item and
    candidate-pair mass at that size (pairs = n_buckets · C(size, 2) —
    exactly what the generator's self-join would emit from those
    buckets, and exactly what dropping them loses).  ``cap=None``
    (uncapped generator) pins cap NULL and over_cap 0 — the histogram
    itself is the deliverable there."""
    cap_col = (
        F.lit(None).cast("bigint") if cap is None else F.lit(cap).cast("bigint")
    )
    over = (
        F.lit(0)
        if cap is None
        else F.when(F.col("bucket_size") > cap, 1).otherwise(0)
    )
    return (
        bucket_sizes.groupBy(F.col("bsz").cast("bigint").alias("bucket_size"))
        .agg(F.count("*").cast("bigint").alias("n_buckets"))
        .select(
            F.lit(generator).alias("generator"),
            cap_col.alias("cap"),
            "bucket_size",
            "n_buckets",
            (F.col("bucket_size") * F.col("n_buckets"))
            .cast("bigint")
            .alias("n_items"),
            F.expr(
                "CAST(n_buckets * (bucket_size * (bucket_size - 1) DIV 2)"
                " AS BIGINT)"
            ).alias("n_pairs"),
            over.cast("int").alias("over_cap"),
        )
    )


def _hist_sql(generator: str, cap: int | None, sizes_sql: str) -> str:
    """DuckDB twin of :func:`cap_histogram` over a subquery yielding
    one ``bsz`` row per bucket."""
    cap_expr = "CAST(NULL AS BIGINT)" if cap is None else f"CAST({cap} AS BIGINT)"
    over = "0" if cap is None else f"CASE WHEN bsz > {cap} THEN 1 ELSE 0 END"
    return f"""
SELECT '{generator}' AS generator, {cap_expr} AS cap,
       CAST(bsz AS BIGINT) AS bucket_size,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(bsz * count(*) AS BIGINT) AS n_items,
       CAST(count(*) * (bsz * (bsz - 1) // 2) AS BIGINT) AS n_pairs,
       CAST({over} AS INTEGER) AS over_cap
FROM ({sizes_sql}) _sz
GROUP BY bsz
""".strip()


def _dhash_sizes_sql() -> str:
    # the same twinned-fingerprint population the registered
    # near-pairs query hashes, bucketed by the 4 × 16-bit chunk keys
    return f"""
WITH {dhash_twinned_hashed_ctes()},
chunks AS (
  SELECT id, cx, substr(dhash, cx * 16 + 1, 16) AS chunk
  FROM hashed, (VALUES (0), (1), (2), (3)) t(cx)
)
SELECT CAST(count(*) AS BIGINT) AS bsz FROM chunks GROUP BY cx, chunk
""".strip()


def _fuzzy_sizes_sql() -> str:
    # verbatim the d0 variant relation from the fuzzy-pairs oracle
    return """
WITH n AS (SELECT DISTINCT c_name AS name FROM customer),
d0 AS (
  SELECT name, substr(name, 1, i - 1) || substr(name, i + 1) AS variant
  FROM n, unnest(range(1, length(name) + 1)) AS t(i)
  UNION
  SELECT name, name FROM n
)
SELECT CAST(count(*) AS BIGINT) AS bsz FROM d0 GROUP BY variant
""".strip()


def _minhash_sizes_sql() -> str:
    return f"""
WITH {minhash_bands_ctes()}
SELECT CAST(count(*) AS BIGINT) AS bsz FROM bands GROUP BY band, bsig
""".strip()


def _ngram_df_sizes_sql() -> str:
    # the exact shingle relation the inverted-index Jaccard self-join
    # explodes, bucketed by shingle (bsz = document frequency — the
    # population a max_doc_freq stop-shingle cut would drop from)
    return f"""
WITH sh AS (
{shingles_sql()}
)
SELECT CAST(count(*) AS BIGINT) AS bsz FROM sh GROUP BY s
""".strip()


def _lift_basket_sizes_sql() -> str:
    # verbatim the b0 CTE the lift oracle pairs on (module constant
    # shared with plans/market.py)
    return f"""
WITH b0 AS ({LIFT_B0_SQL})
SELECT CAST(count(*) AS BIGINT) AS bsz FROM b0 GROUP BY ok
""".strip()


def _cf_raters_sizes_sql() -> str:
    # the ratings projection every CF plan shares (FIXTURES.md §B),
    # bucketed by the co-rated pair join's key (item)
    return """
WITH r AS (
  SELECT o.o_custkey AS user_id, l.l_partkey AS item_id
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
)
SELECT CAST(count(*) AS BIGINT) AS bsz FROM r GROUP BY item_id
""".strip()


@register(
    "dedup_cap_audit",
    oracle="\nUNION ALL\n".join(
        [
            _hist_sql("dhash_chunk", MAX_DHASH_BUCKET, _dhash_sizes_sql()),
            _hist_sql("fuzzy_variant", FUZZY_MAX_BUCKET, _fuzzy_sizes_sql()),
            _hist_sql(
                "minhash_band", MAX_MINHASH_BUCKET, _minhash_sizes_sql()
            ),
            _hist_sql(
                "cf_item_raters", CF_MAX_RATERS, _cf_raters_sizes_sql()
            ),
            _hist_sql("ngram_shingle_df", None, _ngram_df_sizes_sql()),
            _hist_sql(
                "lift_basket", LIFT_MAX_BASKET, _lift_basket_sizes_sql()
            ),
        ]
    ),
)
def dedup_cap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-size histograms + cap-drop volumes for the six
    hot-bucket-hazard candidate generators (module docstring): dHash
    16-bit chunks over the registered near-pairs corpus (base + twin
    payloads), fuzzy-linkage delete-1 variants over customer names,
    MinHash band buckets over the document corpus (capped at
    MAX_MINHASH_BUCKET as of r10), raters-per-item over the shared CF
    ratings projection (whose cap's documented no-op-at-this-scale
    claim becomes a value-checked row here), shingle document
    frequency for the inverted-index Jaccard (uncapped in the shipped
    query — the stop-shingle population a max_doc_freq cut would drop
    from), and basket sizes for the co-occurrence lift pair join at
    the shipped MAX_BASKET.

    Read it like the skew audit: over_cap = 1 rows are what the
    generator's shipped default cap silently drops (n_items hashes /
    names, n_pairs candidate pairs); all-zero over_cap certifies —
    with a driver value-hash, not a docstring — that the caps are
    inactive on this corpus and the capped and uncapped plans agree.
    """
    from ..operators.multimodal import (
        image_dhash,
        with_ppm_content,
        with_ppm_twin_content,
    )

    docs = table(spark, sf_dir, "documents")
    payloads = with_ppm_content(docs).unionByName(with_ppm_twin_content(docs))
    dhash_sizes = (
        dhash_chunk_rows(image_dhash(payloads))
        .groupBy("c", "chunk")
        .agg(F.count("*").alias("bsz"))
    )
    fuzzy_sizes = (
        name_variant_rows(
            table(spark, sf_dir, "customer").select(
                F.col("c_name").alias("name")
            )
        )
        .groupBy("variant")
        .agg(F.count("*").alias("bsz"))
    )
    band_sizes = (
        band_rows(minhash_signatures(shingle_rows(docs)))
        .groupBy("band", "bsig")
        .agg(F.count("*").alias("bsz"))
    )
    rater_sizes = (
        _cached_ratings(spark, sf_dir)
        .groupBy("item_id")
        .agg(F.count("*").alias("bsz"))
    )
    # r10 extension (r9 VERDICT #7): the remaining two silent-cut
    # parameters join the audit — the inverted-index Jaccard's shingle
    # document-frequency distribution (the population a max_doc_freq
    # stop-shingle cut drops from; the shipped neardup_ngram_jaccard
    # runs UNCAPPED, so like minhash_band the histogram is the
    # deliverable) and the lift pair join's basket sizes at the
    # shipped MAX_BASKET hot-key guard.
    shingle_df_sizes = (
        shingle_rows(docs).groupBy("s").agg(F.count("*").alias("bsz"))
    )
    basket_sizes = (
        lift_basket_rows(spark, sf_dir)
        .groupBy("ok")
        .agg(F.count("*").alias("bsz"))
    )
    return (
        cap_histogram(dhash_sizes, "dhash_chunk", MAX_DHASH_BUCKET)
        .unionByName(
            cap_histogram(fuzzy_sizes, "fuzzy_variant", FUZZY_MAX_BUCKET)
        )
        .unionByName(
            cap_histogram(band_sizes, "minhash_band", MAX_MINHASH_BUCKET)
        )
        .unionByName(
            cap_histogram(rater_sizes, "cf_item_raters", CF_MAX_RATERS)
        )
        .unionByName(
            cap_histogram(shingle_df_sizes, "ngram_shingle_df", None)
        )
        .unionByName(
            cap_histogram(basket_sizes, "lift_basket", LIFT_MAX_BASKET)
        )
    )

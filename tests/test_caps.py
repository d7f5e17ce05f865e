"""Cap-drop observability audit (plans/caps.py) — r8 VERDICT
what's-missing #3: the capped candidate generators must SURFACE what
they drop, value-checked, not just document the recall consequence.

Oracle parity for the registered-tier-eligible ``dedup_cap_audit``
query rides tests/test_oracle_parity.py like every oracled query; here
we pin the histogram arithmetic and the planted-over-cap behavior the
shipped corpus cannot exercise (its caps are inactive — which the
audit itself certifies with all-zero over_cap rows)."""

from pyspark.sql import functions as F

from recsys_spark_spark.operators.multimodal import dhash_chunk_rows
from recsys_spark_spark.plans.caps import cap_histogram, dedup_cap_audit


def test_cap_histogram_planted_over_cap(spark):
    """Synthetic bucket-size relation with sizes straddling the cap:
    the over-cap size classes flag over_cap=1 and carry exactly the
    item/pair mass the generator would drop."""
    sizes = spark.createDataFrame(
        [(1,)] * 5 + [(3,)] * 2 + [(10,)] + [(7,)], "bsz long"
    )
    rows = {
        r["bucket_size"]: r
        for r in cap_histogram(sizes, "g", cap=5).collect()
    }
    assert set(rows) == {1, 3, 10, 7}
    assert all(r["generator"] == "g" and r["cap"] == 5 for r in rows.values())
    # size 1: 5 buckets, no pairs, under cap
    assert (rows[1]["n_buckets"], rows[1]["n_pairs"], rows[1]["over_cap"]) == (5, 0, 0)
    # size 3: 2 buckets × C(3,2)=3 pairs
    assert (rows[3]["n_buckets"], rows[3]["n_items"], rows[3]["n_pairs"]) == (2, 6, 6)
    assert rows[3]["over_cap"] == 0
    # size 10 > cap: C(10,2)=45 candidate pairs would be dropped
    assert (rows[10]["n_items"], rows[10]["n_pairs"], rows[10]["over_cap"]) == (10, 45, 1)
    assert (rows[7]["n_pairs"], rows[7]["over_cap"]) == (21, 1)


def test_cap_histogram_uncapped_pins_null_cap(spark):
    """cap=None (an uncapped generator, e.g. the MinHash bands) pins
    cap NULL and over_cap 0 on every row — the histogram alone is the
    deliverable."""
    sizes = spark.createDataFrame([(1,), (1000,)], "bsz long")
    rows = cap_histogram(sizes, "g", cap=None).collect()
    assert all(r["cap"] is None and r["over_cap"] == 0 for r in rows)


def test_dhash_chunk_audit_flags_flat_corpus(spark):
    """Planted hot-chunk mass (the low-texture collapse from the r8
    near-pairs test): ten identical fingerprints put every chunk
    bucket over a cap of 4, and the audit reports the exact dropped
    bucket/pair volume the capped generator would lose."""
    rows = [(i, "0" * 64) for i in range(1, 11)]  # 10-deep flat mass
    rows += [(20, "1" * 64)]  # lone cold fingerprint
    hashed = spark.createDataFrame(rows, "id long, dhash string")
    sizes = dhash_chunk_rows(hashed).groupBy("c", "chunk").agg(
        F.count("*").alias("bsz")
    )
    hist = {
        r["bucket_size"]: r
        for r in cap_histogram(sizes, "dhash_chunk", cap=4).collect()
    }
    # 4 chunk buckets of the flat mass (one per chunk position), each
    # holding all 10 hashes → over cap, C(10,2)=45 pairs dropped each
    assert hist[10]["n_buckets"] == 4
    assert hist[10]["n_pairs"] == 4 * 45
    assert hist[10]["over_cap"] == 1
    # the cold fingerprint's 4 singleton buckets are under cap
    assert hist[1]["n_buckets"] == 4
    assert hist[1]["over_cap"] == 0


def test_dedup_cap_audit_caps_inactive_on_shipped_corpus(spark, sf_dir):
    """On the shipped corpus every capped generator's buckets sit
    under its cap (the audit's all-clear reading), every generator
    reports at least one size class, and the per-size arithmetic
    n_items = size · n_buckets holds on every row."""
    rows = dedup_cap_audit(spark, sf_dir).collect()
    gens = {r["generator"] for r in rows}
    assert gens == {
        "dhash_chunk",
        "fuzzy_variant",
        "minhash_band",
        "cf_item_raters",
        "ngram_shingle_df",
        "lift_basket",
    }
    assert all(r["over_cap"] == 0 for r in rows)
    assert all(
        r["n_items"] == r["bucket_size"] * r["n_buckets"] for r in rows
    )
    caps = {r["generator"]: r["cap"] for r in rows}
    assert caps["dhash_chunk"] == 64
    assert caps["fuzzy_variant"] == 1000
    assert caps["minhash_band"] == 1000  # MAX_MINHASH_BUCKET, capped r10
    assert caps["cf_item_raters"] == 500
    assert caps["ngram_shingle_df"] is None  # shipped query runs uncapped
    assert caps["lift_basket"] == 1000  # MAX_BASKET


def test_minhash_band_cap_drops_hot_band(spark):
    """Planted hot-band mass (the boilerplate collapse the r10 cap
    guards): six IDENTICAL documents share every band bucket, so a cap
    below 6 drops all their buckets and the LSH pipeline emits no
    pairs for them — while an unrelated sub-cap duplicate pair is
    still found.  Uncapped (max_bucket=None) recovers the hot
    cluster's pairs, pinning that the cap (not banding) removed
    them."""
    from recsys_spark_spark.operators.dedup import minhash_neardup_pairs

    boiler = "the same boilerplate text repeated across many documents here"
    rows = [(i, boiler) for i in range(1, 7)]
    rows += [(10, "a unique pair of documents about spark execution plans"),
             (11, "a unique pair of documents about spark execution plans")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = {
        (r["id_a"], r["id_b"])
        for r in minhash_neardup_pairs(docs, threshold=0.5, max_bucket=5).collect()
    }
    assert capped == {(10, 11)}  # hot cluster dropped, cold pair kept
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in minhash_neardup_pairs(docs, threshold=0.5, max_bucket=None).collect()
    }
    # exactly C(6, 2) pairs more than capped: all of the hot cluster's
    assert uncapped - capped == {(a, b) for a in range(1, 7) for b in range(a + 1, 7)}
    assert (10, 11) in uncapped


def test_minhash_band_buckets_scale_with_replication(spark, sf_dir):
    """Replicating every document r times multiplies every band
    bucket's size by exactly r (identical texts share every band), so
    a corpus-wide duplication lifts the worst bucket by the same
    factor the band cap has to absorb."""
    from recsys_spark_spark.operators.dedup import (
        band_rows,
        minhash_signatures,
        shingle_rows,
    )
    from recsys_spark_spark.sources.readers import table

    def sizes(docs):
        return sorted(
            r["n"]
            for r in band_rows(minhash_signatures(shingle_rows(docs)))
            .groupBy("band", "bsig")
            .agg(F.count("*").alias("n"))
            .collect()
        )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    reps = spark.range(3).select(F.col("id").alias("rep"))
    docs3 = docs.crossJoin(reps).select(
        (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"), "text"
    )
    assert [3 * n for n in sizes(docs)] == sizes(docs3)


def test_minhash_cap_oracle_symmetry(spark):
    """The SQL twin mirrors the cap: with the planted hot band, Spark
    and DuckDB agree at max_bucket=5 AND at max_bucket=None (the r10
    engine-symmetry contract of minhash_neardup_pairs/_sql)."""
    import duckdb

    from recsys_spark_spark.operators.dedup import (
        minhash_neardup_pairs,
        minhash_neardup_sql,
    )

    boiler = "the same boilerplate text repeated across many documents here"
    rows = [(i, boiler) for i in range(1, 7)]
    rows += [(10, "a unique pair of documents about spark execution plans"),
             (11, "a unique pair of documents about spark execution plans")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.sql(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in rows)
        + ") t(doc_id, text)"
    )
    for cap in (5, None):
        got = {
            (r["id_a"], r["id_b"])
            for r in minhash_neardup_pairs(
                docs, threshold=0.5, max_bucket=cap
            ).collect()
        }
        want = {
            (a, b)
            for a, b, _ in con.sql(
                minhash_neardup_sql(0.5, max_bucket=cap)
            ).fetchall()
        }
        assert got == want, f"cap={cap}"

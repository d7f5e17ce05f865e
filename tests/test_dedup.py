"""Near-dedup tests on INJECTED duplicates (operators/dedup.py +
plans/llm.py L1) — the round-1 verdict flagged the L1 oracle rows as
vacuous (the corpus has no exact duplicates), so these fixtures plant
exact, formatting-variant, and near-duplicate docs and assert group
membership / pair recovery explicitly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from recsys_spark_spark.operators.dedup import (
    minhash_neardup_pairs,
    ngram_jaccard_pairs,
    shingle_rows,
    simhash_neardup_pairs,
    simhash_signatures,
)
from recsys_spark_spark.plans.llm import exact_dup_groups, normalized_dup_groups
from recsys_spark_spark.sources.readers import table

DOC_COLS = ["doc_id", "text"]


@pytest.fixture(scope="module")
def seeded_docs(spark, sf_dir):
    """sf corpus + planted duplicates:
    - 5 EXACT copies of docs 0-4            (ids 100000-100004)
    - 3 formatting variants of docs 5-7     (ids 100005-100007):
      uppercased + doubled spaces + trailing '!' — normalization-equal
    - 4 near-duplicates of docs 10-13       (ids 100010-100013):
      last token replaced — shingle-Jaccard just below 1
    """
    base = table(spark, sf_dir, "documents").select(*DOC_COLS)
    rows = {r["doc_id"]: r["text"] for r in base.where(F.col("doc_id") < 20).collect()}
    planted = []
    for i in range(5):
        planted.append((100000 + i, rows[i]))
    for i in range(5, 8):
        planted.append((100000 + i, rows[i].upper().replace(" ", "  ") + "!"))
    for i in range(10, 14):
        toks = rows[i].split(" ")
        toks[-1] = "zzzreplaced"
        planted.append((100000 + i, " ".join(toks)))
    extra = spark.createDataFrame(planted, DOC_COLS)
    return base.unionByName(extra), rows


def test_exact_dedup_finds_planted_groups(seeded_docs):
    docs, _ = seeded_docs
    groups = {r["keep_doc_id"]: r["n_docs"] for r in exact_dup_groups(docs).collect()}
    # exactly the 5 exact-copy groups, keeper = original (min) id
    assert groups == {i: 2 for i in range(5)}


def test_normalized_dedup_catches_formatting_variants(seeded_docs):
    docs, _ = seeded_docs
    groups = {
        r["keep_doc_id"]: r["n_docs"] for r in normalized_dup_groups(docs).collect()
    }
    # exact copies AND formatting variants collapse; near-dups do not
    assert groups == {i: 2 for i in range(8)}


def test_minhash_lsh_recovers_planted_neardups(seeded_docs):
    docs, _ = seeded_docs
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_neardup_pairs(docs, threshold=0.5).collect()
    }
    # every planted near-dup pair recovered (jaccard < 1), plus the
    # exact copies (jaccard == 1)
    for i in range(10, 14):
        assert (i, 100000 + i) in pairs, f"missed near-dup pair for doc {i}"
        assert 0.5 <= pairs[(i, 100000 + i)] < 1.0
    for i in range(5):
        assert pairs.get((i, 100000 + i)) == 1.0


def test_minhash_xxhash_mode_recovers_same_planted_pairs(seeded_docs):
    """Production hash mode (xxhash64, no oracle) must find the same
    planted pairs — only the bucketing hash differs, verification is
    hash-independent."""
    docs, _ = seeded_docs
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_neardup_pairs(
            docs, threshold=0.5, hash_mode="xxhash64"
        ).collect()
    }
    for i in list(range(5)) + list(range(10, 14)):
        assert (i, 100000 + i) in pairs


def test_minhash_jaccard_values_match_exact(seeded_docs):
    """LSH-verified jaccard values equal the exact inverted-index
    computation on the same pairs (the verify stage IS exact)."""
    docs, _ = seeded_docs
    lsh = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_neardup_pairs(docs, threshold=0.5).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert set(lsh) <= set(exact)  # LSH can only miss, never invent
    for k, v in lsh.items():
        assert v == exact[k]
    # at >=0.9 planted similarity, detection prob is 1-4e-8 → expect
    # full recall here
    assert set(lsh) == set(exact)


def test_ngram_jaccard_exact_values(spark, seeded_docs):
    docs, rows = seeded_docs
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    # hand-compute one planted pair's jaccard from its shingle sets
    sh = {
        i: set(
            r["s"]
            for r in shingle_rows(
                docs.where(F.col("doc_id").isin([i, 100000 + i]))
            ).collect()
            if r["id"] == i
        )
        for i in (10,)
    }
    both = shingle_rows(docs.where(F.col("doc_id").isin([10, 100010]))).collect()
    s_a = {r["s"] for r in both if r["id"] == 10}
    s_b = {r["s"] for r in both if r["id"] == 100010}
    expect = round(len(s_a & s_b) / len(s_a | s_b), 6)
    assert got[(10, 100010)] == expect


def test_simhash_exact_dups_hamming_zero(seeded_docs):
    docs, _ = seeded_docs
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_neardup_pairs(docs, max_hamming=3).collect()
    }
    for i in range(5):
        assert pairs.get((i, 100000 + i)) == 0
    # hamming values within bound and non-negative
    assert all(0 <= h <= 3 for h in pairs.values())


def test_simhash_fingerprint_deterministic(spark, sf_dir):
    d = table(spark, sf_dir, "documents").limit(30)
    a = {r["id"]: r["simhash"] for r in simhash_signatures(d).collect()}
    b = {r["id"]: r["simhash"] for r in simhash_signatures(d).collect()}
    assert a == b
    assert all(0 <= v < (1 << 60) for v in a.values())


def test_decontamination_flags_injected_overlap(spark, sf_dir):
    """A train doc cloned from an eval doc must be flagged with a high
    shared-shingle count and removed by remove_contaminated; clean
    train docs survive."""
    from pyspark.sql import functions as F

    from recsys_spark_spark.operators.dedup import (
        decontaminate_pairs,
        remove_contaminated,
    )
    from recsys_spark_spark.sources.readers import table

    docs = table(spark, sf_dir, "documents").select("doc_id", "text").limit(50)
    evals = docs.where(F.col("doc_id") < 5)
    clean_train = docs.where(F.col("doc_id") >= 5)
    # inject: clone eval doc texts into train under new ids
    clones = evals.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    train = clean_train.unionByName(clones)

    pairs = decontaminate_pairs(train, evals, n=8, min_shared=1).cache()
    flagged = {r["train_id"] for r in pairs.collect()}
    clone_ids = {r["doc_id"] for r in clones.collect()}
    assert clone_ids <= flagged, "an injected clone escaped the check"
    # a clone shares (almost) all its eval twin's 8-grams
    top = {
        r["train_id"]: r["shared_shingles"]
        for r in pairs.where(F.col("eval_id") + 1_000_000 == F.col("train_id")).collect()
    }
    assert all(v >= 10 for v in top.values())

    survivors = {
        r["doc_id"] for r in remove_contaminated(train, evals, n=8).collect()
    }
    assert not (clone_ids & survivors), "a contaminated doc survived removal"
    pairs.unpersist()


# --- exact substring-duplication spans (round 5) ----------------------------


def test_duplicate_spans_planted(spark):
    """Hand-computed span semantics: two docs share a verbatim 8-token
    run inside otherwise-unique text → exactly one maximal span each,
    covering exactly the shared run; a doc repeating a window only
    WITHIN itself is not flagged (min_docs counts DISTINCT docs)."""
    from recsys_spark_spark.operators.dedup import (
        duplicate_spans,
        duplicate_window_rows,
    )

    shared = " ".join(f"s{i}" for i in range(8))          # 8 shared tokens
    doc1 = "a1 a2 a3 " + shared + " a4 a5"                # span tokens 4..11
    doc2 = "b1 " + shared + " b2 b3 b4 b5 b6"             # span tokens 2..9
    doc3 = ("c1 c2 c3 c4 " * 2).strip() + " d1 d2 d3 d4"  # self-repeat only
    docs = spark.createDataFrame(
        [(1, doc1), (2, doc2), (3, doc3)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_windows"])
        for r in duplicate_spans(docs, n=4, min_docs=2).collect()
    }
    # with n=4, the shared 8-token run yields 5 overlapping windows
    # that must merge into ONE span spanning exactly the run
    assert got[1] == (4, 11, 5)
    assert got[2] == (2, 9, 5)
    assert 3 not in got
    # the window relation is linear in tokens: one row per stride-1
    # window of each doc
    n_windows = sum(len(t.split()) - 3 for t in (doc1, doc2, doc3))
    assert duplicate_window_rows(docs, n=4).count() == n_windows


def test_duplicate_spans_merges_only_adjacent(spark):
    """Two duplicated runs separated by a unique gap stay two spans."""
    from recsys_spark_spark.operators.dedup import duplicate_spans

    run_a = " ".join(f"x{i}" for i in range(4))
    run_b = " ".join(f"y{i}" for i in range(4))
    d1 = run_a + " gap1 gap2 gap3 gap4 gap5 " + run_b
    d2 = run_a + " other1 other2 other3 other4 other5 " + run_b
    docs = spark.createDataFrame(
        [(1, d1), (2, d2)], "doc_id long, text string"
    )
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicate_spans(docs, n=4, min_docs=2).collect()
    )
    assert got == [(1, 1, 4), (1, 10, 13), (2, 1, 4), (2, 10, 13)]


def test_dedup_cut_keeps_one_occurrence(spark):
    """Hand-computed cut semantics: the shared run survives only in
    the keeper doc (smallest (doc_id, start)); the other doc loses
    exactly the run's tokens; untouched docs pass through verbatim
    with n_cut_tokens=0."""
    from recsys_spark_spark.operators.dedup import dedup_cut_docs

    shared = " ".join(f"s{i}" for i in range(6))
    doc1 = "a1 a2 " + shared + " a3"     # keeper (doc_id 1 < 2)
    doc2 = "b1 " + shared + " b2 b3"
    doc3 = "u1 u2 u3 u4 u5 u6 u7"        # untouched
    docs = spark.createDataFrame(
        [(1, doc1), (2, doc2), (3, doc3)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["text_clean"], r["n_cut_tokens"])
        for r in dedup_cut_docs(docs, n=4, min_docs=2).collect()
    }
    assert got[1] == (doc1, 0)
    assert got[2] == ("b1 b2 b3", 6)
    assert got[3] == (doc3, 0)


def test_quality_keeper_prefers_best_doc_not_min_id(spark):
    """Planted 3-doc near-dup group where the HIGHEST-quality member
    has the LARGEST id — the keeper election must pick it (min-id
    would pick doc 1)."""
    from pyspark.sql import Window

    from recsys_spark_spark.functions.rounding import qround
    from recsys_spark_spark.operators.components import connected_components
    from recsys_spark_spark.plans.text import quality_exprs

    base = "the cat sat of the mat and the dog ran to the house in a field"
    docs = spark.createDataFrame(
        [
            (1, base + " !!!! #### $$$$"),     # punctuation-degraded
            (2, base + " ???? @@@@ %%%%"),     # punctuation-degraded
            (3, base + " it is a fine day"),   # clean → best quality
        ],
        "doc_id long, text string",
    )
    from recsys_spark_spark.operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    assert pairs.count() >= 2  # the three docs form one group
    comp = connected_components(pairs)
    _, _, _, quality = quality_exprs()
    q = docs.select("doc_id", qround(quality, 6).alias("quality"))
    w = Window.partitionBy("comp").orderBy(F.desc("quality"), F.asc("doc_id"))
    keeper = (
        comp.join(q, comp.id == q.doc_id)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .collect()
    )
    assert len(keeper) == 1 and keeper[0]["doc_id"] == 3

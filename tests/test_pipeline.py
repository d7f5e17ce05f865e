"""Composed corpus-cleaning pipeline: oracle parity at the smoke SF
plus stage-behavior tests on injected duplicates (every stage must be
shown dropping real rows — round-1 vacuity lesson)."""

from __future__ import annotations

from pyspark.sql import functions as F

from recsys_spark_spark.plans.pipeline import clean_corpus, corpus_clean
from recsys_spark_spark.plans.registry import _load_all, oracle_of
from recsys_spark_spark.sources.readers import table

from conftest import assert_df_matches_oracle


def test_corpus_clean_oracle_parity(spark, sf_dir, duck):
    # tier-independent lookup: the registered/demoted split rotates
    # (this exact test KeyError'd in r7 when corpus_clean demoted)
    _load_all()
    assert_df_matches_oracle(
        corpus_clean(spark, sf_dir), duck, oracle_of("corpus_clean")
    )


def test_corpus_clean_stages_drop_rows(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    out = corpus_clean(spark, sf_dir)
    n_in, n_out = docs.count(), out.count()
    assert 0 < n_out < n_in, "pipeline passed everything or nothing"
    langs = {r["lang"] for r in out.select("lang").distinct().collect()}
    assert "zh" not in langs
    assert out.where(F.col("quality") < 0.46).count() == 0


def test_corpus_clean_drops_injected_exact_dupes(spark, sf_dir):
    """The exact-dedup stage on >0 actual duplicates: re-inject 25
    surviving docs under new ids; every clone must be dropped and
    every original kept."""
    docs = table(spark, sf_dir, "documents")
    base_kept = clean_corpus(docs)
    sample_ids = [r["doc_id"] for r in base_kept.orderBy("doc_id").limit(25).collect()]
    clones = (
        docs.where(F.col("doc_id").isin(sample_ids))
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    out = clean_corpus(docs.unionByName(clones))
    got_ids = {r["doc_id"] for r in out.collect()}
    assert not {i + 1_000_000 for i in sample_ids} & got_ids, "a clone survived"
    assert set(sample_ids) <= got_ids, "an original was dropped"
    # the clone injection changes nothing else
    assert got_ids == {r["doc_id"] for r in base_kept.collect()}


def test_corpus_train_ready_planted_stages(spark, tmp_path):
    """One planted input per stage of corpus_train_ready: the gate drops
    a punctuation-heavy doc and a zh doc, an exact-duplicate triple and
    a near-duplicate triple (shingle Jaccard 97/99) each keep their min
    id, and a 40-token block shared by three docs is cut from all but
    the first."""
    from recsys_spark_spark.plans.pipeline import corpus_train_ready

    def toks(d):
        return [f"u{d}x{p}" for p in range(100)]

    rows = [(d, "en", " ".join(toks(d))) for d in range(4)]
    for d in range(4, 7):
        t = toks(d)
        t[10:50] = [f"bx{j}" for j in range(40)]
        rows.append((d, "en", " ".join(t)))
    rows.append((7, "en", " ".join("!!!" + w for w in toks(7))))
    rows.append((8, "zh", " ".join(toks(8))))
    rows += [(d, "en", " ".join(f"ex{p}" for p in range(100))) for d in (9, 10, 11)]
    near = [f"nx{p}" for p in range(99)]
    rows += [(d, "en", " ".join(near + [f"t{d}"])) for d in (12, 13, 14)]
    spark.createDataFrame(rows, "doc_id long, lang string, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        r["doc_id"]: r["n_tokens_clean"]
        for r in corpus_train_ready(spark, str(tmp_path)).collect()
    }
    assert set(out) == {0, 1, 2, 3, 4, 5, 6, 9, 12}
    assert sum(100 - n for n in out.values()) == 2 * 40


def test_corpus_sample_deterministic_and_nested(spark, sf_dir):
    """Hash sampling is a pure function of the id: rerun identical,
    and a smaller permille is a strict subset of a larger one."""
    from pyspark.sql import functions as F

    from recsys_spark_spark.operators.dedup import hash60

    d = table(spark, sf_dir, "documents")

    def sample_ids(permille):
        return {
            r["doc_id"]
            for r in d.where(
                hash60(F.col("doc_id").cast("string"), seed="sample") % 1000
                < permille
            ).collect()
        }

    s20 = sample_ids(200)
    assert s20 == sample_ids(200)
    s10 = sample_ids(100)
    assert s10 < s20, "10% sample must nest inside 20%"
    n = d.count()
    assert 0.1 * n < len(s20) < 0.3 * n, "20% sample far off target"


def test_corpus_pack_budget_property(spark, sf_dir):
    """Every pack except possibly a shard's last stays within budget +
    one overflowing document, and packs are contiguous per shard."""
    from pyspark.sql import functions as F

    from recsys_spark_spark.plans.pipeline import PACK_BUDGET, corpus_pack

    out = corpus_pack(spark, sf_dir)
    packs = (
        out.groupBy("shard", "pack_id")
        .agg(F.sum("n_tokens").alias("tok"), F.max("n_tokens").alias("mx"))
        .collect()
    )
    assert packs
    for r in packs:
        assert r["tok"] <= PACK_BUDGET + r["mx"], "pack overflowed by >1 doc"
    # contiguity: pack ids per shard are 0..max with no gaps
    by_shard = {}
    for r in packs:
        by_shard.setdefault(r["shard"], []).append(r["pack_id"])
    for shard, ids in by_shard.items():
        assert sorted(ids) == list(range(max(ids) + 1)), f"gap in shard {shard}"


def test_corpus_vocab_dense_frequency_ordered(spark, sf_dir):
    from recsys_spark_spark.plans.pipeline import corpus_vocab

    rows = corpus_vocab(spark, sf_dir).orderBy("token_id").collect()
    assert rows, "empty vocab"
    assert [r["token_id"] for r in rows] == list(range(len(rows)))
    occ = [(-r["n_occurrences"], r["token"]) for r in rows]
    assert occ == sorted(occ), "ids must follow (freq desc, token asc)"
    assert all(r["n_docs"] <= r["n_occurrences"] for r in rows)


def test_corpus_sample_stratified_rates(spark, sf_dir):
    from recsys_spark_spark.plans.pipeline import (
        STRATA_PERMILLE,
        corpus_sample_stratified,
    )
    from recsys_spark_spark.sources.readers import table

    base = {
        r["lang"]: r["count"]
        for r in table(spark, sf_dir, "documents").groupBy("lang").count().collect()
    }
    got = {
        r["lang"]: r["count"]
        for r in corpus_sample_stratified(spark, sf_dir).groupBy("lang").count().collect()
    }
    assert set(got) <= set(STRATA_PERMILLE)
    # zh keeps everything; other strata land near their permille
    assert got["zh"] == base["zh"]
    for lang, pm in STRATA_PERMILLE.items():
        if pm == 1000 or base.get(lang, 0) < 50:
            continue
        frac = got.get(lang, 0) / base[lang]
        assert abs(frac - pm / 1000) < 0.15, (lang, frac)


def test_doc_chunks_cover_and_overlap(spark, sf_dir):
    from pyspark.sql import functions as F

    from recsys_spark_spark.plans.pipeline import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        doc_chunks,
    )
    from recsys_spark_spark.sources.readers import table

    out = doc_chunks(spark, sf_dir)
    docs = table(spark, sf_dir, "documents")
    # per-doc chunk count matches the formula; every token is covered
    stats = (
        out.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.max("chunk_id").alias("max_id"),
            F.sum("n_chunk_tokens").alias("tok_sum"),
        )
        .join(docs.select("doc_id", F.size(F.split("text", " ")).alias("n")), "doc_id")
        .collect()
    )
    import math

    for r in stats:
        want = max(1, math.ceil((r["n"] - CHUNK_TOKENS) / CHUNK_STRIDE) + 1)
        assert r["n_chunks"] == want, (r["n"], r["n_chunks"], want)
        assert r["max_id"] == want - 1
        # overlap: total chunk tokens >= n (each token in >= 1 chunk)
        assert r["tok_sum"] >= r["n"]
    # a specific long doc: consecutive chunks overlap by CHUNK-STRIDE
    long_doc = max(stats, key=lambda r: r["n"])
    if long_doc["n_chunks"] > 1:
        rows = (
            out.where(F.col("doc_id") == long_doc["doc_id"])
            .orderBy("chunk_id")
            .collect()
        )
        a = rows[0]["chunk_text"].split(" ")
        b = rows[1]["chunk_text"].split(" ")
        assert a[CHUNK_STRIDE:] == b[: CHUNK_TOKENS - CHUNK_STRIDE]


def test_line_dedup_planted_boilerplate(spark):
    """Planted boilerplate: three docs share an identical first line
    (header) — only its first occurrence (lowest doc_id) keeps it;
    a doc that is ALL boilerplate drops out entirely."""
    from recsys_spark_spark.plans.pipeline import line_dedup

    header = " ".join(f"h{i}" for i in range(4))  # one 4-token line
    docs = spark.createDataFrame(
        [
            (1, header + " " + "alpha beta gamma delta"),
            (2, header + " " + "epsilon zeta eta theta"),
            (3, header),  # all-boilerplate doc
            (4, "iota kappa lambda mu"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r for r in line_dedup(docs, line_tokens=4).collect()
    }
    assert set(got) == {1, 2, 4}, "all-boilerplate doc must drop"
    assert got[1]["clean_text"] == header + " alpha beta gamma delta"
    assert got[2]["clean_text"] == "epsilon zeta eta theta"
    assert (got[2]["n_lines"], got[2]["n_kept"]) == (2, 1)
    assert got[4]["clean_text"] == "iota kappa lambda mu"


def test_retention_cohorts_planted_multi_cohort(spark):
    """Planted two-cohort history: user A starts week 0 and returns in
    week 1; user B starts week 0 only; user C starts week 1.  Checks
    cohort sizes, offsets, and partial retention."""
    from datetime import datetime

    from recsys_spark_spark.plans.windows_extra import retention_cohorts

    rows = [
        (1, datetime(2024, 1, 1, 10)),   # A week0 (Mon 2024-01-01)
        (1, datetime(2024, 1, 9, 10)),   # A week1
        (2, datetime(2024, 1, 3, 10)),   # B week0 only
        (3, datetime(2024, 1, 10, 10)),  # C week1
    ]
    e = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r["cohort_week"], r["week_offset"]): (
            r["n_active"],
            r["n_cohort"],
            r["retention"],
        )
        for r in retention_cohorts(e).collect()
    }
    assert got == {
        ("2024-01-01", 0): (2, 2, 1.0),
        ("2024-01-01", 1): (1, 2, 0.5),
        ("2024-01-08", 0): (1, 1, 1.0),
    }


def test_funnel_ordering_matters(spark):
    """A user with all four event types OUT of order must not count
    beyond the step where the order breaks."""
    from datetime import datetime

    from recsys_spark_spark.plans.windows_extra import funnel

    def ev(u, t, typ):
        return (u, datetime(2024, 1, 1, t), typ)

    rows = [
        # user 1: perfect order -> completes all 4
        ev(1, 1, "signup"), ev(1, 2, "view"), ev(1, 3, "click"),
        ev(1, 4, "purchase"),
        # user 2: purchase BEFORE click -> stops after view
        ev(2, 1, "signup"), ev(2, 2, "view"), ev(2, 3, "purchase"),
        ev(2, 4, "click"),
        # user 3: no signup -> counts nowhere
        ev(3, 1, "view"), ev(3, 2, "click"), ev(3, 3, "purchase"),
    ]
    e = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {
        r["step"]: (r["n_users"], r["frac_of_first"])
        for r in funnel(e).collect()
    }
    # user 2 DOES have a click after view (t=4) and no purchase after it
    assert got == {
        "signup": (2, 1.0),
        "view": (2, 1.0),
        "click": (2, 1.0),
        "purchase": (1, 0.5),
    }


# --- temperature mixture sampling ------------------------------------------

def test_mixture_sample_boosts_rare_sources(spark):
    from recsys_spark_spark.plans.pipeline import mixture_sample

    rows = [(i, "big") for i in range(900)] + [
        (900 + i, "small") for i in range(100)
    ]
    d = spark.createDataFrame(rows, "doc_id long, source string")
    out = mixture_sample(d)
    rates = {
        r["source"]: r["rate_ppm"]
        for r in out.select("source", "rate_ppm").distinct().collect()
    }
    # K·√(N/n)·1e6 half-up: √(1000/900) and √10 hand-computed
    assert rates == {"big": 105409, "small": 316228}
    # decision flags actually follow the per-source rate: the rare
    # source keeps a ~3x larger fraction (hash-uniformity gives ±few %)
    kept = {
        r["source"]: r["k"]
        for r in out.groupBy("source")
        .agg(F.sum("in_mix").alias("k"))
        .collect()
    }
    assert 0 < kept["big"] < 900 and 0 < kept["small"] < 100
    assert kept["small"] / 100 > kept["big"] / 900


def test_mixture_sample_caps_rate_at_one(spark):
    from recsys_spark_spark.plans.pipeline import mixture_sample

    # a 2-doc source among 10k: uncapped rate 0.1*sqrt(5000) > 1
    rows = [(i, "big") for i in range(10000)] + [(10000, "tiny"), (10001, "tiny")]
    d = spark.createDataFrame(rows, "doc_id long, source string")
    out = {
        r["source"]: r["rate_ppm"]
        for r in mixture_sample(d).select("source", "rate_ppm").distinct().collect()
    }
    assert out["tiny"] == 1000000  # min(1, ...) cap


def test_temperature_weights_hand_computed(spark, sf_dir, monkeypatch, tmp_path):
    """α=0.5 temperature rebalancing on a planted skewed corpus:
    weights and upsample factors match the closed form — the rare
    language is upsampled (> 1), the dominant one downsampled (< 1),
    and the q weights sum to 1."""
    import math

    from recsys_spark_spark.plans.pipeline import (
        corpus_lang_temperature_weights,
    )

    # 90% of tokens in lang a (3 tokens/doc × 300 docs), 10% in b
    rows = [(i, "a", "x y z") for i in range(300)] + [
        (300 + i, "b", "x y z") for i in range(33)
    ] + [(333, "b", "x")]
    d = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    d.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        r["lang"]: r
        for r in corpus_lang_temperature_weights(
            spark, str(tmp_path)
        ).collect()
    }
    na, nb = 900, 100
    pa, pb = na / 1000, nb / 1000
    zq = math.sqrt(pa) + math.sqrt(pb)
    qa, qb = math.sqrt(pa) / zq, math.sqrt(pb) / zq
    assert out["a"]["n_tokens"] == na and out["b"]["n_tokens"] == nb
    assert abs(out["a"]["q_weight"] - round(qa, 6)) < 2e-6
    assert abs(out["b"]["q_weight"] - round(qb, 6)) < 2e-6
    assert out["b"]["upsample_factor"] > 1.0 > out["a"]["upsample_factor"]
    assert abs(out["a"]["q_weight"] + out["b"]["q_weight"] - 1.0) < 2e-6


def test_bpe_pair_counts_hand_computed(spark, tmp_path):
    """Adjacent character-pair counts over the word vocabulary,
    weighted by word frequency: 'aab aab ab c' → pairs aa×2, ab×3
    ('aab' twice contributes aa+ab each, 'ab' once); 1-char words
    contribute nothing."""
    from recsys_spark_spark.plans.llm import corpus_bpe_pair_counts

    d = spark.createDataFrame(
        [(1, "aab aab ab c"), (2, "ab")], "doc_id long, text string"
    )
    d.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        r["pair"]: (r["cnt"], r["rank"])
        for r in corpus_bpe_pair_counts(spark, str(tmp_path)).collect()
    }
    assert out == {"ab": (4, 1), "aa": (2, 2)}


def test_corpus_splits_disjoint_total_and_stable(spark, sf_dir):
    """Every doc in exactly one split; assignment is a pure function
    (rerun-identical); split rates land near 96/2/2 per stratum."""
    # r13: corpus_splits merged into the corpus_samples decision-table
    # row — the library form is the stable handle
    from recsys_spark_spark.plans.pipeline import corpus_splits as fn
    a = {r["doc_id"]: r["split"] for r in fn(spark, sf_dir).collect()}
    b = {r["doc_id"]: r["split"] for r in fn(spark, sf_dir).collect()}
    assert a == b
    n_docs = table(spark, sf_dir, "documents").count()
    assert len(a) == n_docs  # total: every doc assigned exactly once
    from collections import Counter

    c = Counter(a.values())
    assert set(c) <= {"train", "val", "test"}
    assert c["train"] / n_docs > 0.9
    assert 0 < c["val"] and 0 < c["test"]


def test_temporal_split_never_trains_on_the_future(spark, tmp_path):
    """The protocol invariant the split exists for: per user,
    every train event strictly precedes (ts, event_id) of the val
    event, which precedes the test event; 1-event users are test-only,
    2-event users test+val; a timestamp tie breaks by event_id DESC
    (planted: events 20/21 share user 2's latest ts — the higher id
    must take the test slot)."""
    from pyspark.sql import functions as F

    from recsys_spark_spark.plans.pipeline import events_user_temporal_split

    rows = [
        # user 1: 4 events, strictly increasing ts
        (10, "2024-01-01 00:00:00", 1),
        (11, "2024-01-02 00:00:00", 1),
        (12, "2024-01-03 00:00:00", 1),
        (13, "2024-01-04 00:00:00", 1),
        # user 2: tie at the latest ts
        (20, "2024-02-01 00:00:00", 2),
        (21, "2024-02-01 00:00:00", 2),
        # user 3: single event
        (30, "2024-03-01 00:00:00", 3),
    ]
    spark.createDataFrame(
        rows, "event_id long, ts string, user_id long"
    ).select(
        "event_id",
        F.to_timestamp("ts").alias("ts"),
        "user_id",
        F.lit("click").alias("event_type"),
        F.lit(1.0).alias("value"),
        F.lit(None).cast("string").alias("props"),
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    out = {
        r["event_id"]: r["split"]
        for r in events_user_temporal_split(spark, str(tmp_path)).collect()
    }
    assert out == {
        10: "train", 11: "train", 12: "val", 13: "test",
        21: "test", 20: "val",  # tie: higher event_id wins the test slot
        30: "test",
    }

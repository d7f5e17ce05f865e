"""Composed training-data pipeline (the LLM-corpus north star):
quality gate → language gate → exact dedup → near-dup removal, as ONE
declarative plan with a full DuckDB oracle.

The individual stages exist as standalone queries (doc_quality_scores,
dedup_docs, neardup_ngram_jaccard); this module is
the composition a real corpus-cleaning job runs — and because every
stage is a column-expression/join plan, Catalyst sees the WHOLE
pipeline as one tree: the quality/language filters push into the
parquet scan, and the dedup/near-dup stages only process survivors.

Scale notes:
- the ordering is deliberate: cheap row-local gates (quality, lang)
  run FIRST so the shuffling stages (hash dedup, shingle self-join)
  see the smallest possible corpus;
- exact dedup shuffles a 32-char md5, never the document body;
- near-dup pair generation here is the exact inverted-index join
  (correct at sf scales); at 100 TB swap in the MinHash-banded
  candidate stage from operators/dedup.py — the drop rule
  (remove the higher doc_id of each verified pair) is unchanged.

Reference seed: the reference has no corpus operators at all (its
similarity kernels are ratings-space, similarity/*.scala); this is the
L1-L4 composition SURVEY §2 lists as the engine's north-star use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import qround
from ..lifecycle import materialize
from ..operators.dedup import (
    SHINGLE,
    hash60_sql,
    ngram_jaccard_pairs,
    shingles_sql,
)
from ..phases import phase
from ..sources.readers import table
from .dedup import NEARDUP_THRESHOLD
from .registry import register
from .text import quality_exprs

#: drop the bottom ~decile at sf0.01 (measured q10 = 0.458) — a real
#: pipeline tunes this on a held-out labeled slice
QUALITY_MIN = 0.46

#: languages the downstream tokenizer does not support (demo value —
#: non-vacuous: the synthetic corpus has 5 langs incl. 'zh')
DROP_LANGS = ("zh",)
#: the same tuple as a SQL IN-list — interpolated into the oracle so
#: the two sides can never desynchronize
_DROP_LANGS_SQL = ", ".join(f"'{lg}'" for lg in DROP_LANGS)


@register(
    "corpus_clean",
    bench=True,
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang, text,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         floor(least(1.0, greatest(0.0,
               0.3
               + 1.2 * (CAST(len(list_filter(string_split(text, ' '),
                         t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is')))
                         AS DOUBLE) / len(string_split(text, ' ')))
               - 2.0 * (CASE WHEN length(text) > 0 THEN
                         CAST(length(text) -
                         length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))
                         AS DOUBLE) / length(text) ELSE 0.0 END)
               + least(n_tokens, 40) / 200.0)) * 1000000.0 + 0.5) / 1000000.0
           AS quality
  FROM documents
),
gate AS (
  SELECT * FROM scored
  WHERE quality >= {QUALITY_MIN} AND lang NOT IN ({_DROP_LANGS_SQL})
),
keep AS (SELECT md5(text) AS h, min(doc_id) AS doc_id FROM gate GROUP BY 1),
surv AS (SELECT g.* FROM gate g JOIN keep k ON k.doc_id = g.doc_id),
sh AS (
{shingles_sql("surv", SHINGLE)}
),
sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY 1),
co AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS co
  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
  GROUP BY 1, 2
),
dropped AS (
  SELECT DISTINCT co.id_b AS doc_id
  FROM co
  JOIN sizes na ON na.id = co.id_a
  JOIN sizes nb ON nb.id = co.id_b
  WHERE floor((CAST(co.co AS DOUBLE) / (na.n + nb.n - co.co)) * 1000000.0 + 0.5)
          / 1000000.0 >= {NEARDUP_THRESHOLD}
)
SELECT doc_id, lang, n_tokens, quality
FROM surv
WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
""",
)
def corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-plan corpus cleaning: quality ≥ {QUALITY_MIN}, supported
    language, exact-duplicate removal (keep the smallest doc_id per
    md5), then near-duplicate removal (drop the higher doc_id of every
    exact-Jaccard pair ≥ threshold among survivors)."""
    return clean_corpus(table(spark, sf_dir, "documents"))


def _gated_survivors(
    docs: DataFrame,
    quality_min: float = QUALITY_MIN,
    drop_langs: tuple[str, ...] = DROP_LANGS,
) -> DataFrame:
    """Quality/lang gate → exact-dedup survivors (keep the smallest
    doc_id per md5), superset-projected ``(doc_id, lang, text,
    n_tokens, quality)`` and PERSISTED — the relation corpus_clean and
    corpus_train_ready share (r15; VERDICT r14 #4).  Both pipelines
    used to build this subtree with different projections (train_ready
    without n_tokens), so the two cache entries never unified; one
    superset projection makes them hit a single cache by plan identity
    — in-bench the second pipeline's gate becomes a cache read, and at
    scale the corpus pays ONE regex-heavy quality scan, not two.
    Extra-column cost to train_ready is one bigint riding along.

    spread_scan: the regex-heavy gate is CPU-bound and must not
    inherit a 1-task small-file scan (no-op on production-sized
    inputs)."""
    from ..sources.readers import spread_scan

    n_tokens, _, _, quality = quality_exprs()
    gate = (
        spread_scan(docs)
        .select(
            "doc_id",
            "lang",
            "text",
            n_tokens.alias("n_tokens"),
            qround(quality, 6).alias("quality"),
        )
        .where(F.col("quality") >= quality_min)
        .where(~F.col("lang").isin(*drop_langs))
    )
    # exact dedup as ONE window pass (r15): the old groupBy(md5) →
    # min(doc_id) → semi-join shape planned the regex-heavy gate
    # subtree TWICE (join side + inside the keeper aggregate — two
    # racing 0.85 s single-task jobs profiled per materialization) and
    # at scale shuffled the full-text relation a second time through
    # the join.  row_number over (md5(text) ORDER BY doc_id) == 1 is
    # EXACTLY the min-doc_id keeper (doc_id is unique), computes the
    # gate once, and WindowGroupLimit prunes duplicates map-side
    # before the one md5-keyed exchange.
    from pyspark.sql import Window

    wk = Window.partitionBy(
        F.md5(F.col("text").cast("binary"))
    ).orderBy("doc_id")
    surv = (
        gate.withColumn("_rn", F.row_number().over(wk))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    # surv feeds the near-dup machinery AND the final anti-join in BOTH
    # pipelines; without a persist the quality gate re-runs for every
    # consumer
    return materialize(surv, owner="pipeline")


def clean_corpus(
    docs: DataFrame,
    quality_min: float = QUALITY_MIN,
    drop_langs: tuple[str, ...] = DROP_LANGS,
    neardup_threshold: float = NEARDUP_THRESHOLD,
) -> DataFrame:
    """Library form of corpus_clean (so tests can inject duplicates —
    the shipped corpus has no exact dupes, round-1 vacuity lesson).

    Near-dup deletion here is PAIR-based (drop the higher id of each
    verified pair): cheap, one pass, but on a similarity CHAIN
    A~B~C (A≁C directly) a node that is a local min of its direct
    neighbors survives even though its transitive group has a smaller
    keeper — bounded under-deletion.  When full transitive-group
    resolution matters, run the pairs through
    operators/components.connected_components (the registered
    ``neardup_components`` query) and keep ``id == component``."""
    surv = _gated_survivors(docs, quality_min, drop_langs)

    pairs = ngram_jaccard_pairs(surv, neardup_threshold)
    # tiny (dropped doc ids) — cached so a second action on the result
    # reads it instead of re-running the pair join
    dropped = materialize(
        pairs.select(F.col("id_b").alias("doc_id")).distinct(), owner="pipeline"
    )
    return surv.join(dropped, "doc_id", "left_anti").select(
        "doc_id", "lang", "n_tokens", "quality"
    )


# --- deterministic corpus subsampling --------------------------------------

#: permille kept by corpus_sample (200‰ = 20%)
SAMPLE_PERMILLE = 200


#: per-language keep rates (permille) — the shape `sampleBy` takes,
#: but hash-deterministic: downsample over-represented languages
STRATA_PERMILLE = {"en": 100, "de": 300, "fr": 300, "es": 300, "zh": 1000}
#: the same table as a SQL CASE — generated from the dict so the
#: oracle can never desynchronize from _strata_rate()
_STRATA_CASE_SQL = (
    "CASE lang "
    + " ".join(
        f"WHEN '{lg}' THEN {pm}" for lg, pm in STRATA_PERMILLE.items()
    )
    + " ELSE 0 END"
)



def _strata_rate():
    """Per-language keep-rate (permille) column — SHARED by the
    registered corpus_samples query and the filtered library forms so
    the rate table can never desynchronize between them."""
    rate = F.lit(0)
    for lang, pm in STRATA_PERMILLE.items():
        rate = F.when(F.col("lang") == lang, F.lit(pm)).otherwise(rate)
    return rate


def _sample_pred(seed: str, permille):
    """hash60(doc_id) % 1000 < permille — the shared deterministic
    sampling predicate (permille may be a literal or a column)."""
    from ..operators.dedup import hash60

    return hash60(F.col("doc_id").cast("string"), seed=seed) % 1000 < permille


#: flags-only oracle of the former standalone corpus_samples row —
#: replayed verbatim as the `s` CTE of the merged per-doc
#: decision-table oracle (see the r13 corpus_samples registration
#: after corpus_splits below)
CORPUS_SAMPLE_FLAGS_SQL = f"""
SELECT doc_id, lang, n_chars,
       CAST(CAST(concat('0x', substr(md5(concat('sample|', CAST(doc_id AS VARCHAR))), 1, 15))
                 AS BIGINT) % 1000 < {SAMPLE_PERMILLE} AS INTEGER) AS in_sample,
       CAST(CAST(concat('0x', substr(md5(concat('strata|', CAST(doc_id AS VARCHAR))), 1, 15))
                 AS BIGINT) % 1000 <
            {_STRATA_CASE_SQL}
            AS INTEGER) AS in_strat_sample
FROM documents
""".strip()


# r13 rotation: registration merged into the per-doc decision-table
# "corpus_samples" row (after corpus_splits below), which absorbs
# corpus_mixture_sample + corpus_splits on the shared all-docs grain
# (the doc_quality_scores join-merge precedent) — library API.
def corpus_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash subsampling, uniform AND stratified, as one
    per-document decision table: keep a doc iff md5-hash(doc_id) mod
    1000 < permille, with the stratified flavor looking the permille
    up per language (the id-hash form of ``df.sampleBy``).  Unlike
    ``df.sample()`` (partition-RNG: resampling under a different
    partitioning or adding files changes the kept set), the hash
    decision is a pure function of the id — stable across reruns,
    engines, cluster sizes, and incremental loads, which is what makes
    training-data subsamples reproducible and composable (a 10% sample
    is a strict subset of the 20% sample).  Row-local: pushes to the
    scan, no shuffle.  Emitting BOTH flags on every doc (rather than
    two filtered row sets) value-checks each hash decision corpus-wide
    in one query; consumers filter on the flag they want.  (Merged
    from the former corpus_sample + corpus_sample_stratified registry
    entries.)"""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "lang",
        "n_chars",
        _sample_pred("sample", SAMPLE_PERMILLE).cast("int").alias("in_sample"),
        _sample_pred("strata", _strata_rate())
        .cast("int")
        .alias("in_strat_sample"),
    )


def corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered-row-set view of the uniform hash sample (library form;
    the registered query is corpus_samples)."""
    d = table(spark, sf_dir, "documents")
    return d.where(_sample_pred("sample", SAMPLE_PERMILLE)).select(
        "doc_id", "lang", "n_chars"
    )


# --- sequence packing -------------------------------------------------------

#: token budget per training sequence (whitespace tokens here; swap in
#: doc_bpe_token_counts' regex for BPE-ish budgets)
PACK_BUDGET = 256
#: shard count: packing is contiguous WITHIN a shard, so parallelism =
#: n_shards while each pack stays deterministic
PACK_SHARDS = 8


@register(
    "corpus_pack",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(concat('pack|', CAST(doc_id AS VARCHAR))), 1, 15))
              AS BIGINT) % {PACK_SHARDS} AS shard,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
runs AS (
  SELECT doc_id, shard, n_tokens,
         sum(n_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
)
SELECT doc_id, CAST(shard AS INTEGER) AS shard, n_tokens,
       CAST((cum - 1) // {PACK_BUDGET} AS INTEGER) AS pack_id
FROM runs
""",
)
def corpus_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pre-training: assign documents to
    fixed-token-budget packs.  Docs are hash-sharded (parallelism,
    deterministic), then packed contiguously in doc_id order within
    each shard by running token total — pack_id = (cumsum−1) div
    budget, i.e. a pack closes once its budget is reached (packs can
    overflow by at most one document, the standard greedy-contiguous
    approximation; bin-perfect packing is NP-hard and order-dependent).

    Scale shape: ONE window per shard partition — state is a running
    sum, shards bound the partition size (n_shards grows with the
    corpus), no global sort.  The reference has no corpus operators;
    this is SURVEY's L-family north star."""
    from ..operators.dedup import hash60

    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        (hash60(F.col("doc_id").cast("string"), seed="pack") % PACK_SHARDS)
        .cast("int")
        .alias("shard"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t.withColumn("cum", F.sum("n_tokens").over(w)).select(
        "doc_id",
        "shard",
        "n_tokens",
        F.floor((F.col("cum") - 1) / PACK_BUDGET).cast("int").alias("pack_id"),
    )


# --- vocabulary building ----------------------------------------------------

#: fixed vocab size — training vocabularies are capped, which is what
#: keeps the global ranking step bounded (TakeOrdered over aggregated
#: token counts, never a full corpus sort)
VOCAB_SIZE = 1024


@register(
    "corpus_vocab",
    bench=True,
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
counts AS (
  SELECT token,
         CAST(count(*) AS BIGINT) AS n_occurrences,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM tok GROUP BY token
)
SELECT token, n_occurrences, n_docs,
       CAST(row_number() OVER (ORDER BY n_occurrences DESC, token ASC) AS BIGINT)
         - 1 AS token_id
FROM counts
ORDER BY token_id
LIMIT {VOCAB_SIZE}
""",
)
def corpus_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ordered vocabulary: top-VOCAB_SIZE tokens by
    occurrence count (ties broken lexically), ids dense from 0 —
    the token→id map a tokenizer trains against.

    Scale shape: explode+groupBy is a map-side-combined count over
    the corpus; the global ranking runs on the AGGREGATED vocab,
    cut to VOCAB_SIZE by orderBy+limit (Spark plans TakeOrdered —
    per-partition top-N then a driver merge of N×partitions rows,
    no single-partition full sort); only the final N-row id
    assignment is a one-partition window, bounded by the cap."""
    d = table(spark, sf_dir, "documents")
    counts = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )
    top = counts.orderBy(F.desc("n_occurrences"), F.asc("token")).limit(
        VOCAB_SIZE
    )
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("token"))
    return top.withColumn(
        "token_id", (F.row_number().over(w) - 1).cast("bigint")
    ).select("token", "n_occurrences", "n_docs", "token_id")


# --- stratified sampling ----------------------------------------------------


def corpus_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered-row-set view of the stratified hash sample (library
    form; the registered query is corpus_samples)."""
    d = table(spark, sf_dir, "documents")
    return d.where(_sample_pred("strata", _strata_rate())).select(
        "doc_id", "lang"
    )


# --- long-document chunking -------------------------------------------------

#: tokens per chunk / stride between chunk starts (overlap = 64-48 = 16)
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


@register(
    "doc_chunks",
    bench=True,
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         CAST(greatest(1, ceil((len(string_split(text, ' ')) - {CHUNK_TOKENS})
                               / {CHUNK_STRIDE}.0) + 1) AS INTEGER) AS n_chunks
  FROM documents
),
e AS (SELECT doc_id, toks, unnest(range(n_chunks)) AS chunk_id FROM t)
SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
       array_to_string(toks[chunk_id*{CHUNK_STRIDE}+1 : chunk_id*{CHUNK_STRIDE}+{CHUNK_TOKENS}], ' ')
         AS chunk_text,
       CAST(len(toks[chunk_id*{CHUNK_STRIDE}+1 : chunk_id*{CHUNK_STRIDE}+{CHUNK_TOKENS}]) AS BIGINT)
         AS n_chunk_tokens
FROM e
""",
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking — split long documents into
    CHUNK_TOKENS-token windows every CHUNK_STRIDE tokens (the standard
    context-window prep for embedding/training long docs; overlap keeps
    boundary sentences in two chunks).  Pure column math: sequence →
    explode → slice, row-local (no shuffle), so it scales as a narrow
    map over the corpus.  Short docs yield exactly one (possibly
    partial) chunk."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    t = d.select(
        "doc_id",
        toks.alias("toks"),
        F.greatest(
            F.lit(1),
            (
                F.ceil(
                    (F.size(toks) - F.lit(CHUNK_TOKENS))
                    / F.lit(float(CHUNK_STRIDE))
                )
                + 1
            ),
        )
        .cast("int")
        .alias("n_chunks"),
    )
    e = t.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_id"),
    )
    sl = F.slice(
        F.col("toks"), F.col("chunk_id") * CHUNK_STRIDE + 1, F.lit(CHUNK_TOKENS)
    )
    return e.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.array_join(sl, " ").alias("chunk_text"),
        F.size(sl).cast("bigint").alias("n_chunk_tokens"),
    )


# --- C4-style line-level global dedup --------------------------------------
#: "line" length for line-level dedup.  The synthetic corpus has no
#: newlines, so lines are fixed non-overlapping 12-token windows —
#: the operator shape (explode → global first-occurrence → ordered
#: reassembly) is exactly C4's line dedup with a different line
#: delimiter; swap the splitter for split(text, '\n') on real text.
LINE_TOKENS = 12


@register(
    # new in r4 (registry window full at 50); rotate REGISTERED in r5
    "corpus_line_dedup",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
l AS (
  SELECT doc_id,
         unnest(range(CAST(ceil(len(toks) / {LINE_TOKENS}.0) AS INTEGER))) AS idx,
         toks
  FROM t
),
lines AS (
  SELECT doc_id, CAST(idx AS INTEGER) AS idx,
         array_to_string(toks[idx*{LINE_TOKENS}+1 : idx*{LINE_TOKENS}+{LINE_TOKENS}], ' ')
           AS line_text
  FROM l
),
fo AS (
  SELECT *, row_number() OVER (PARTITION BY line_text
                               ORDER BY doc_id, idx) AS rn
  FROM lines
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       string_agg(CASE WHEN rn = 1 THEN line_text END, ' ' ORDER BY idx)
         AS clean_text
FROM fo
GROUP BY doc_id
HAVING CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) >= 1
""",
)
def corpus_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level global deduplication: every document is
    split into lines, each line is kept only at its FIRST occurrence
    in the whole corpus (ordered by doc_id, then position), and
    documents are reassembled from their surviving lines in original
    order.  This is the C4 "three-sentence span" / line-dedup pass
    that removes boilerplate repeated across pages (headers, license
    blocks, navigation) which document-level dedup cannot see.

    Scale shape: explode is a narrow map; first occurrence is a
    map-side-combinable min(struct) aggregate + join-back keyed on
    the line (skew-resistant — see the inline note), and the
    reassembly groups by doc_id.  At 100 TB key the aggregate on
    ``hash60(line_text)`` instead of the raw string to shrink the
    exchange (collision odds ~|lines|²/2⁶¹; the raw-string key here
    keeps the oracle byte-exact).  Everything is linear in corpus
    size; no self-joins.
    Docs whose every line occurred earlier elsewhere drop out
    entirely (the HAVING) — the same removal semantics as the
    composed cleaner's exact-dedup stage."""
    return line_dedup(table(spark, sf_dir, "documents"))


def line_dedup(d: DataFrame, line_tokens: int = LINE_TOKENS) -> DataFrame:
    """Library form of corpus_line_dedup (so tests can plant
    boilerplate — the shipped corpus repeats only ~4% of its lines)."""
    toks = F.split("text", " ")
    t = d.select("doc_id", toks.alias("toks"))
    lines = t.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size("toks") / F.lit(float(line_tokens)))
                    .cast("int")
                    - 1,
                ),
                lambda i: F.array_join(
                    F.slice(F.col("toks"), i * line_tokens + 1, line_tokens),
                    " ",
                ),
            )
        ).alias("idx", "line_text"),
    )
    # First occurrence via a map-side-combinable min(struct) aggregate
    # + join-back, NOT a row_number window: a boilerplate line shared
    # by 10% of a 100 TB corpus makes its line_text key a single
    # window partition needing a full per-key sort, while the partial
    # aggregate collapses the hot key to one row per map task before
    # the exchange and AQE's skew-join splits the join-back.  min over
    # a struct is lexicographic on (doc_id, idx) — exactly the
    # window's ORDER BY (mirrored by row_number in the oracle, where
    # the corpus is oracle-sized and skew is moot).
    firsts = lines.groupBy("line_text").agg(
        F.min(F.struct("doc_id", "idx")).alias("fo")
    )
    fo = lines.join(firsts, "line_text").withColumn(
        "rn",
        F.when(
            (F.col("doc_id") == F.col("fo.doc_id"))
            & (F.col("idx") == F.col("fo.idx")),
            1,
        ).otherwise(2),
    )
    kept_struct = F.when(
        F.col("rn") == 1, F.struct(F.col("idx"), F.col("line_text"))
    )
    return (
        fo.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["line_text"],
                ),
                " ",
            ).alias("clean_text"),
        )
        .where(F.col("n_kept") >= 1)
        .select("doc_id", "n_lines", "n_kept", "clean_text")
    )


# --- temperature-based source mixture sampling ------------------------------

#: mixture gain: acceptance rate per source = min(1, MIX_K·√(N/n_s)).
#: This IS temperature-α=0.5 mixture reweighting (sampled share ∝
#: p_s^0.5, the α-smoothed source sampling of the multilingual
#: pretraining lineage — mBERT/XLM-R/mT5) folded into one constant:
#: q_s/p_s ∝ p_s^(α−1) = √(N/n_s), with the normalization Σp^α absorbed
#: into MIX_K.  α = 0.5 is chosen deliberately so p^α is sqrt — an
#: IEEE-correctly-rounded primitive in BOTH engines — rather than pow's
#: engine-specific transcendental; other temperatures would need the
#: documented ln-style ulp caveat (see plans/llm.py).
MIX_K = 0.1


#: oracle of the former standalone corpus_mixture_sample row —
#: replayed verbatim as the `m` CTE of the merged corpus_samples
#: decision-table oracle
MIXTURE_SAMPLE_SQL = f"""
WITH c AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_source
  FROM documents GROUP BY 1
),
t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
r AS (
  SELECT source, n_source,
         CAST(floor(least(1.0, {MIX_K} * sqrt(CAST(n AS DOUBLE) / n_source))
                    * 1000000.0 + 0.5) AS BIGINT) AS rate_ppm
  FROM c CROSS JOIN t
)
SELECT doc_id, d.source, n_source, rate_ppm,
       CAST({{h}} % 1000000 < rate_ppm AS INTEGER) AS in_mix
FROM documents d JOIN r USING (source)
""".strip().format(h=hash60_sql("CAST(doc_id AS VARCHAR)", "mix"))


# r13 rotation: registration merged into the per-doc decision-table
# "corpus_samples" row (after corpus_splits below) — library API,
# also feeds the planted skewed-corpus pytests via mixture_sample.
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mixture-sampling decisions: rare sources are kept
    at a boosted rate ∝ √(N/n_s) (capped at 1), abundant sources are
    downsampled — the data-mixing step that balances a multi-source
    training corpus (see MIX_K).  Same id-hash determinism contract as
    corpus_samples: the kept set is a pure function of doc_id, stable
    across engines, reruns, and cluster layouts.

    Scale shape: one O(sources) count aggregate + a 1-row total
    (broadcast), joined back on the low-cardinality source key; the
    accept test is row-local.  The synthetic corpus has UNIFORM
    sources (every rate identical) — the oracle still value-checks the
    rate arithmetic and every hash decision; the differentiation
    behavior is pinned by the planted skewed-corpus pytest."""
    return mixture_sample(table(spark, sf_dir, "documents"))


def _mixture_rates(d: DataFrame, k: float) -> DataFrame:
    """Per-source √-temperature acceptance rates (ppm) — SHARED by the
    mixture_sample library form and the merged corpus_samples decision
    table so the rate arithmetic can never drift."""
    counts = d.groupBy("source").agg(F.count("*").alias("n_source"))
    tot = d.agg(F.count("*").alias("n"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_source",
        F.floor(
            F.least(
                F.lit(1.0),
                F.lit(k)
                * F.sqrt(F.col("n").cast("double") / F.col("n_source")),
            )
            * 1000000.0
            + 0.5
        )
        .cast("bigint")
        .alias("rate_ppm"),
    )


def mixture_sample(d: DataFrame, k: float = MIX_K) -> DataFrame:
    """Library form of corpus_mixture_sample (so tests can plant a
    skewed source distribution)."""
    from ..operators.dedup import hash60

    rates = _mixture_rates(d, k)
    return d.join(rates, "source").select(
        "doc_id",
        "source",
        "n_source",
        "rate_ppm",
        (
            hash60(F.col("doc_id").cast("string"), seed="mix") % 1000000
            < F.col("rate_ppm")
        )
        .cast("int")
        .alias("in_mix"),
    )


# --- language temperature-sampling weights ----------------------------------
#: α = 1/T = 0.5 (temperature T = 2): the exponent is then sqrt — the
#: IEEE-correctly-rounded primitive in BOTH engines (same rationale as
#: MIX_K above); other temperatures would need pow's engine-specific
#: transcendental and its documented ulp caveat.
TEMP_ALPHA = 0.5


@register(
    "corpus_lang_temperature_weights",
    oracle="""
WITH c AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
),
t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM c),
p AS (
  SELECT lang, n_docs, n_tokens,
         CAST(n_tokens AS DOUBLE) / total AS p_raw,
         sqrt(CAST(n_tokens AS DOUBLE) / total) AS q_raw
  FROM c CROSS JOIN t
),
z AS (SELECT sum(q_raw) AS zq FROM p)
SELECT lang, n_docs, n_tokens,
       floor(p_raw * 1000000.0 + 0.5) / 1000000.0 AS p_share,
       floor((q_raw / zq) * 1000000.0 + 0.5) / 1000000.0 AS q_weight,
       floor(((q_raw / zq) / p_raw) * 1000000.0 + 0.5) / 1000000.0
         AS upsample_factor
FROM p CROSS JOIN z
""",
)
def corpus_lang_temperature_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-based language rebalancing weights (the multilingual
    mixing rule of XLM-R / mC4, Conneau et al. 2020 §3: sample language
    l with qₗ ∝ pₗ^α where pₗ is its token share): per language — doc
    count, token count, raw share pₗ, rebalanced weight qₗ, and the
    upsample factor qₗ/pₗ a curriculum pipeline feeds into per-language
    repeat rates.  α = 0.5 (see TEMP_ALPHA: sqrt is correctly rounded
    in both engines, so the weights are cross-engine stable).

    Scale shape: ONE map-side-combinable aggregate over the corpus
    (shuffle width = |languages|), a 1-row total and a |languages|-row
    normalizer both broadcast — the corpus is scanned exactly once and
    nothing wider than the language list ever shuffles."""
    d = table(spark, sf_dir, "documents")
    c = d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens"),
    )
    t = c.agg(F.sum("n_tokens").cast("bigint").alias("total"))
    p = c.crossJoin(F.broadcast(t)).select(
        "lang",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("total")).alias("p_raw"),
        F.sqrt(F.col("n_tokens").cast("double") / F.col("total")).alias(
            "q_raw"
        ),
    )
    z = p.agg(F.sum("q_raw").alias("zq"))
    return p.crossJoin(F.broadcast(z)).select(
        "lang",
        "n_docs",
        "n_tokens",
        qround("p_raw", 6).alias("p_share"),
        qround(F.col("q_raw") / F.col("zq"), 6).alias("q_weight"),
        qround((F.col("q_raw") / F.col("zq")) / F.col("p_raw"), 6).alias(
            "upsample_factor"
        ),
    )


def _train_ready_sql() -> str:
    """Oracle for corpus_train_ready — the four stages composed in one
    WITH chain: quality/lang gate → exact dedup → transitive near-dup
    deletion (recursive-CTE components over the MinHash pairs, table-
    parameterized to the survivor CTE) → exact-substring span CUT
    (table-parameterized likewise), with the final token recount."""
    from ..operators.components import components_sql
    from ..operators.dedup import (
        DUP_WINDOW,
        dedup_cut_sql,
        minhash_neardup_sql,
    )

    pairs_on_surv = minhash_neardup_sql(NEARDUP_THRESHOLD, table="surv")
    comp = components_sql(pairs_on_surv)
    cut = dedup_cut_sql(DUP_WINDOW, 2, table="surv2")
    return f"""
WITH scored AS (
  SELECT doc_id, lang, text,
         floor(least(1.0, greatest(0.0,
               0.3
               + 1.2 * (CAST(len(list_filter(string_split(text, ' '),
                         t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is')))
                         AS DOUBLE) / len(string_split(text, ' ')))
               - 2.0 * (CASE WHEN length(text) > 0 THEN
                         CAST(length(text) -
                         length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))
                         AS DOUBLE) / length(text) ELSE 0.0 END)
               + least(CAST(len(string_split(text, ' ')) AS BIGINT), 40)
                   / 200.0)) * 1000000.0 + 0.5) / 1000000.0 AS quality
  FROM documents
),
gate0 AS (
  SELECT * FROM scored
  WHERE quality >= {QUALITY_MIN} AND lang NOT IN ({_DROP_LANGS_SQL})
),
keep0 AS (SELECT md5(text) AS h, min(doc_id) AS doc_id FROM gate0 GROUP BY 1),
surv AS (SELECT g.* FROM gate0 g JOIN keep0 k ON k.doc_id = g.doc_id),
compq AS (SELECT * FROM ({comp}) _comp),
surv2 AS (
  SELECT s.* FROM surv s
  WHERE s.doc_id NOT IN (SELECT id FROM compq WHERE id <> comp)
),
cutq AS (SELECT * FROM ({cut}) _cut)
SELECT s.doc_id, s.lang, s.quality,
       CASE WHEN c.text_clean = '' THEN 0
            ELSE CAST(len(string_split(c.text_clean, ' ')) AS BIGINT)
       END AS n_tokens_clean,
       c.text_clean
FROM surv2 s JOIN cutq c ON c.doc_id = s.doc_id
""".strip()


@register("corpus_train_ready", oracle=_train_ready_sql(), bench=True)
def corpus_train_ready(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-corpus pipeline as ONE composed query (new
    r5) — what a user actually materializes before tokenization:

        quality/lang gate → exact dedup (min-id keeper per md5)
        → TRANSITIVE near-dup deletion (MinHash pairs →
          pointer-jumping components, the principled variant of
          corpus_clean's pair rule)
        → exact-substring span CUT among the survivors (Lee et al.
          remove-all-but-one, doc_dedup_cut's keeper rule)
        → rebuilt text + final token count.

    Output: (doc_id, lang, quality, n_tokens_clean, text_clean) — the
    oracle replays all four stages in one WITH chain and value-hashes
    every rebuilt STRING, so the composition (not just each stage) is
    driver-checkable.  Every stage reuses the registered operators'
    exact machinery; scale arguments live at each operator."""
    from ..operators.components import connected_components
    from ..operators.dedup import (
        DUP_WINDOW,
        dedup_cut_docs,
        minhash_neardup_pairs,
    )

    # the gate + exact-dedup survivor relation is SHARED with
    # corpus_clean by plan identity (one superset-projected persist —
    # see _gated_survivors); the extra n_tokens column rides along and
    # is dropped by the final select
    surv = _gated_survivors(table(spark, sf_dir, "documents"))

    # connected_components is EAGER (iterative pointer-jumping over
    # checkpoints), so this phase covers the pair plan + CC
    with phase("pairs_components"):
        pairs = minhash_neardup_pairs(surv, threshold=NEARDUP_THRESHOLD)
        comp = connected_components(pairs)
    dropped = comp.where(F.col("id") != F.col("comp")).select(
        F.col("id").alias("doc_id")
    )
    surv2 = materialize(surv.join(dropped, "doc_id", "left_anti"), owner="pipeline")

    cut = dedup_cut_docs(surv2, n=DUP_WINDOW)
    return surv2.join(cut, "doc_id").select(
        "doc_id",
        "lang",
        "quality",
        F.when(F.col("text_clean") == "", F.lit(0).cast("bigint"))
        .otherwise(F.size(F.split("text_clean", " ")).cast("bigint"))
        .alias("n_tokens_clean"),
        "text_clean",
    )


#: expected PPS sample size (corpus_pps_sample)
PPS_TARGET = 150


@register(
    "corpus_pps_sample",
    oracle=f"""
WITH scored AS (
  SELECT doc_id,
         floor(least(1.0, greatest(0.0,
               0.3
               + 1.2 * (CAST(len(list_filter(string_split(text, ' '),
                         t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is')))
                         AS DOUBLE) / len(string_split(text, ' ')))
               - 2.0 * (CASE WHEN length(text) > 0 THEN
                         CAST(length(text) -
                         length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))
                         AS DOUBLE) / length(text) ELSE 0.0 END)
               + least(CAST(len(string_split(text, ' ')) AS BIGINT), 40)
                   / 200.0)) * 1000000.0 + 0.5) / 1000000.0 AS quality
  FROM documents
),
tot AS (SELECT sum(quality) AS total_w FROM scored),
probs AS (
  SELECT s.doc_id, s.quality,
         least(1.0, {PPS_TARGET} * s.quality / t.total_w) AS p
  FROM scored s CROSS JOIN tot t
)
SELECT doc_id, quality,
       floor(p * 1000000.0 + 0.5) / 1000000.0 AS incl_prob
FROM probs
WHERE ({hash60_sql("'pps:' || CAST(doc_id AS VARCHAR)")})
        / 1152921504606846976.0
      < floor(p * 10000000.0 + 0.5) / 10000000.0
""",
)
def corpus_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PPS (probability-proportional-to-size) sampling
    with size = the corpus-clean quality score (new r5): doc i is kept
    iff ``hash60('pps:' + doc_id) / 2^60 < min(1, N·wᵢ/Σw)`` —
    Poisson-PPS (Hájek lineage), expected sample size N={PPS_TARGET},
    inclusion probability ∝ quality.  The quality-weighted
    subsampling a curriculum/mixture pipeline runs, in PURE RATIONAL
    arithmetic: no ln/exp (the Efraimidis–Spirakis exponential-key
    form needs per-row logs, which are not correctly-rounded across
    engines), so both engines evaluate bit-identical inclusion tests.

    100 TB shape: one narrow pass for quality, a 1-row total-weight
    broadcast, one filter — no shuffle of the corpus at all; the
    output also carries each row's inclusion probability (6 dp) for
    downstream Horvitz–Thompson reweighting."""
    from ..operators.dedup import hash60

    docs = table(spark, sf_dir, "documents")
    _, _, _, quality = quality_exprs()
    scored = docs.select(
        "doc_id", qround(quality, 6).alias("quality")
    )
    tot = scored.agg(F.sum("quality").alias("total_w"))
    probs = scored.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "quality",
        F.least(
            F.lit(1.0), PPS_TARGET * F.col("quality") / F.col("total_w")
        ).alias("p"),
    )
    u = hash60(
        F.concat(F.lit("pps:"), F.col("doc_id").cast("string"))
    ) / F.lit(float(1 << 60))
    # quantize p (7 dp, the repo's rank/membership convention) BEFORE
    # the inclusion test in BOTH engines: total_w is a float sum whose
    # accumulation order differs between Spark and DuckDB, so an
    # unquantized p could flip a knife-edge row by one ulp
    return probs.where(u < qround("p", 7)).select(
        "doc_id", "quality", qround("p", 6).alias("incl_prob")
    )


#: permille boundaries for the 3-way split: [0,960) train,
#: [960,980) val, [980,1000) test
SPLIT_TRAIN_PM = 960
SPLIT_VAL_PM = 980


#: oracle of the former standalone corpus_splits row — replayed
#: verbatim as the `p` CTE of the merged corpus_samples
#: decision-table oracle
CORPUS_SPLITS_SQL = f"""
SELECT doc_id, lang,
       CASE WHEN pm < {SPLIT_TRAIN_PM} THEN 'train'
            WHEN pm < {SPLIT_VAL_PM} THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, lang,
         ({hash60_sql("'split:' || lang || ':' || CAST(doc_id AS VARCHAR)")})
           % 1000 AS pm
  FROM documents
)
""".strip()


# r13 rotation: registration merged into the per-doc decision-table
# "corpus_samples" row below — library API (the writers'
# partition-by-split round-trip tests consume this form directly).
def corpus_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic STRATIFIED train/val/test assignment (new r5):
    every document lands in exactly one split by
    ``hash60('split:' + lang + ':' + doc_id) % 1000`` against fixed
    permille boundaries (96/2/2) — the language is folded into the
    hash so each stratum is split independently (a language's docs
    cannot all collide into one split by id-pattern accident), and
    membership is a PURE FUNCTION of the row: reproducible across
    reruns, engines, and data arrivals (a late-arriving doc cannot
    reshuffle anyone else's split — the property random-number splits
    lose).  Disjointness and coverage are structural (CASE on one
    hash), not probabilistic.

    100 TB shape: one narrow map, no shuffle, no state."""
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", _split_col().alias("split"))


def _split_col():
    """The stratified split assignment as a pure column expression —
    SHARED by the corpus_splits library form and the merged
    corpus_samples decision table so the two can never drift."""
    from ..operators.dedup import hash60

    pm = (
        hash60(
            F.concat(
                F.lit("split:"), F.col("lang"), F.lit(":"),
                F.col("doc_id").cast("string"),
            )
        )
        % 1000
    )
    return (
        F.when(pm < SPLIT_TRAIN_PM, "train")
        .when(pm < SPLIT_VAL_PM, "val")
        .otherwise("test")
    )


@register(
    "corpus_samples",
    oracle=f"""
WITH s AS (
  {CORPUS_SAMPLE_FLAGS_SQL}
),
m AS (
  {MIXTURE_SAMPLE_SQL}
),
p AS (
  {CORPUS_SPLITS_SQL}
)
SELECT s.doc_id, s.lang, s.n_chars, s.in_sample, s.in_strat_sample,
       m.source, m.n_source, m.rate_ppm, m.in_mix, p.split
FROM s JOIN m ON m.doc_id = s.doc_id JOIN p ON p.doc_id = s.doc_id
""",
)
def corpus_sampling_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged per-document sampling DECISION TABLE (r13 rotation):
    corpus_samples absorbed corpus_mixture_sample + corpus_splits —
    all three emit one row per document carrying a pure-function-of-id
    decision (uniform + stratified keep flags; √-temperature mixture
    rate + keep flag; train/val/test split), so they share the
    all-docs grain exactly (the doc_quality_scores join-merge
    precedent; every member driver-green by r11: samples r10,
    mixture + splits r11).  The ORACLE replays each member's former
    standalone SQL verbatim as a CTE and joins on doc_id, so the
    value hash still certifies every member's hash arithmetic
    independently; the SPARK side composes the opposite way — ONE
    scan of documents plus the O(sources) broadcast rate join, every
    flag row-local — which is the shape a 100 TB pipeline wants (the
    three-scan join-of-members form would shuffle the corpus on
    doc_id twice for no reason).

    corpus_pps_sample stays standalone, for the record: it emits a
    FILTERED sample (with Horvitz–Thompson inclusion probabilities),
    not an all-docs decision row, so folding it in would change its
    grain rather than tag it."""
    from ..operators.dedup import hash60

    d = table(spark, sf_dir, "documents")
    rates = _mixture_rates(d, MIX_K)
    return d.join(F.broadcast(rates), "source").select(
        "doc_id",
        "lang",
        "n_chars",
        _sample_pred("sample", SAMPLE_PERMILLE).cast("int").alias("in_sample"),
        _sample_pred("strata", _strata_rate())
        .cast("int")
        .alias("in_strat_sample"),
        "source",
        "n_source",
        "rate_ppm",
        (
            hash60(F.col("doc_id").cast("string"), seed="mix") % 1000000
            < F.col("rate_ppm")
        )
        .cast("int")
        .alias("in_mix"),
        _split_col().alias("split"),
    )


# --- leakage-safe temporal split ----------------------------------------------
@register(
    "events_user_temporal_split",
    oracle="""
SELECT event_id, user_id,
       CASE WHEN rn = 1 THEN 'test'
            WHEN rn = 2 THEN 'val'
            ELSE 'train' END AS split
FROM (
  SELECT event_id, user_id,
         row_number() OVER (
           PARTITION BY user_id
           ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
""",
)
def events_user_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe TEMPORAL train/val/test assignment — the
    evaluation-protocol complement to corpus_splits' stratified-random
    hash split: per user, the LAST event (by time) is test, the
    second-to-last val, everything earlier train — the standard
    leave-last-out protocol for sequential/recsys evaluation, where a
    random split would leak future interactions into training (a model
    scored on an event that precedes its own training data).

    Deterministic everywhere: ties inside a timestamp break by
    event_id DESC, so the assignment is a pure function of the row set
    (rerun/engine/layout-stable, like every split in this family).
    Users with fewer than 3 events degenerate safely (1 event → test
    only; 2 → test+val) — the convention that keeps the protocol
    honest: a user must never be trained on their own future.

    100 TB shape: ONE hash-partitioned shuffle on user_id + a linear
    window pass — identical cost to any per-user aggregate; no global
    sort, no quantile pass, no driver state."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    rn = F.row_number().over(w)
    return e.select(
        "event_id",
        "user_id",
        F.when(rn == 1, "test")
        .when(rn == 2, "val")
        .otherwise("train")
        .alias("split"),
    )

"""LLM-training-data pipeline operators (SURVEY §2.12, BASELINE north star).

Exact dedup, normalization dedup, text statistics, token frequency, and
brute-force embedding similarity search — each with a DuckDB oracle.
The approximate/scale variants (MinHash banding, SimHash, sign-LSH)
live in operators/dedup.py and operators/knn.py; their registered
queries (plans/dedup.py, plans/ann.py) ALSO carry value-hash oracles —
the hash families are deterministic, so the oracle replays the banding
— plus recall tests against the exact baselines here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import qround, qround_sql

from ..sources.readers import table
from .registry import register

R6 = 6
KNN_QUERIES = 20  # vec_id < 20 are the query vectors
KNN_K = 5


# --- exact dedup (L1) ------------------------------------------------------
def _norm_text() -> "F.Column":
    """The canonicalization (lowercase, strip punctuation, collapse
    whitespace) SHARED by dedup_docs and normalized_dup_groups — one
    definition so the registered query and the library helper can
    never drift apart."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )


def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by content hash; keeper = min doc_id.
    At 100 TB this is one hash-partitioned shuffle on a 32-char key —
    the hash, not the document body, is what shuffles.  (Library form
    so tests can inject synthetic duplicates — the shipped corpus has
    none, which would make the oracle row vacuous evidence.)"""
    return (
        docs.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .where(F.col("n_docs") > 1)
    )


#: DuckDB expression for the canonicalized text hash — the oracle twin
#: of ``_norm_text()`` above (DuckDB regexp_replace needs the 'g' flag
#: Spark applies by default)
_NORM_HASH_SQL = (
    "md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', "
    "'', 'g'), ' +', ' ', 'g')))"
)


# the URL-canonicalization fragments live in plans/text.py (their
# home); text.py registers its own queries on import and does not
# import this module, so the top-level import is cycle-free
from .text import _URL_NOISY_SQL, canonical_url_sql  # noqa: E402

_DEDUP_DOCS_ORACLE = f"""
WITH keys AS (
  SELECT 'exact' AS variant, doc_id, md5(text) AS dup_key FROM documents
  UNION ALL
  SELECT 'normalized' AS variant, doc_id, {_NORM_HASH_SQL} AS dup_key
  FROM documents
  UNION ALL
  SELECT 'url_canonical' AS variant, doc_id,
         {canonical_url_sql("url")} AS dup_key
  FROM (SELECT doc_id, {_URL_NOISY_SQL} AS url FROM documents)
)
SELECT variant, doc_id, dup_key,
       CAST(min(doc_id) OVER w AS BIGINT) AS keeper_doc_id,
       CAST(count(*) OVER w AS BIGINT) AS n_group_docs,
       CAST(doc_id <> min(doc_id) OVER w AS INTEGER) AS is_dup
FROM keys WINDOW w AS (PARTITION BY variant, dup_key)
"""


@register(
    "dedup_docs",
    oracle=_DEDUP_DOCS_ORACLE,
)
def dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged per-document keeper-mapping row (r14 rotation): L1 exact
    dedup, normalized (lowercase / strip punctuation / collapse
    whitespace) dedup, and URL-canonicalization dedup
    (scheme/case/www/port/slash/query/fragment folding — formerly the
    standalone doc_url_canonical_dedup, driver-green r13) as tagged
    variants of ONE relation: (variant, doc_id, dup_key,
    keeper_doc_id = min doc_id in the key group, n_group_docs,
    is_dup).  Emitting the full mapping — not just the >1 groups —
    keeps the oracle non-vacuous on a duplicate-free corpus and is the
    shape a downstream pipeline actually joins against.
    (Merge lineage: dedup_exact_docs + dedup_normalized_docs -> one
    row in r6; + doc_url_canonical_dedup in r14.)

    Plan shape: ONE documents scan melts each doc into its three
    (variant, dup_key) identities via explode (3x|docs| narrow rows of
    ~40-char keys — the keys, never the document bodies, are what
    shuffle), then ONE hash-partitioned window over (variant, dup_key)
    computes keeper/size/flag for all variants in a single shuffle —
    strictly fewer shuffles than the three standalone plans it
    replaces (was: two window shuffles + a groupBy+join).  A hot key
    (every crawl has them) fattens one window partition, never a
    join.  Output is 3x|docs| rows."""
    d = table(spark, sf_dir, "documents")
    keys = d.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit("exact").alias("variant"),
                    F.md5(F.col("text").cast("binary")).alias("dup_key"),
                ),
                F.struct(
                    F.lit("normalized").alias("variant"),
                    F.md5(_norm_text().cast("binary")).alias("dup_key"),
                ),
                F.struct(
                    F.lit("url_canonical").alias("variant"),
                    F.expr(
                        canonical_url_sql(f"({_URL_NOISY_SQL})")
                    ).alias("dup_key"),
                ),
            )
        ).alias("k"),
    ).select("doc_id", "k.variant", "k.dup_key")
    w = Window.partitionBy("variant", "dup_key")
    return keys.select(
        "variant",
        "doc_id",
        "dup_key",
        F.min("doc_id").over(w).alias("keeper_doc_id"),
        F.count(F.lit(1)).over(w).alias("n_group_docs"),
        (F.col("doc_id") != F.min("doc_id").over(w))
        .cast("int")
        .alias("is_dup"),
    )


# --- normalization dedup (near-dup, deterministic form) --------------------
def normalized_dup_groups(docs: DataFrame) -> DataFrame:
    """Near-dedup, deterministic flavor: canonicalize (lowercase, strip
    punctuation, collapse whitespace) then hash — catches
    formatting-only duplicates; the probabilistic flavors (MinHash,
    SimHash) are in operators/dedup.py."""
    norm = _norm_text()
    return (
        docs.groupBy(F.md5(norm.cast("binary")).alias("norm_hash"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .where(F.col("n_docs") > 1)
    )


# --- text statistics (L4) --------------------------------------------------
# (the former doc_token_stats registry entry was absorbed into
# plans/text.py::doc_quality_scores in the r6 rotation-latency merge —
# same per-doc grain, one scan)


# --- corpus token frequency ------------------------------------------------
@register(
    "top_tokens",
    oracle="""
SELECT token, n, CAST(rk AS INTEGER) AS rank FROM (
  SELECT token, n, row_number() OVER (ORDER BY n DESC, token ASC) AS rk
  FROM (
    SELECT token, count(*) AS n FROM (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ) GROUP BY token
  )
) WHERE rk <= 20
""",
)
def top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide token frequency top-20 (explode → count → rank).
    The explode-shuffle is the scale hazard; partial aggregation keeps
    the shuffle at distinct-token width, not corpus width.

    The global top-20 is taken with ``orderBy().limit(20)`` — planned as
    a distributed TakeOrderedAndProject (per-partition top-20, tiny
    merge on the driver) — NOT an unpartitioned rank window, which
    would funnel every distinct token through one partition.  The rank
    column is then attached with a window over the 20 surviving rows,
    where a single partition is exactly right."""
    d = table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(20)
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("token", "n", "rank")
    )


# --- BPE merge-pair counting (tokenizer training primitive) -----------------

#: how many top merge candidates to emit
BPE_PAIRS_TOPK = 25


@register(
    "corpus_bpe_pair_counts",
    oracle=f"""
WITH wc AS (
  SELECT word, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE length(word) >= 2
  GROUP BY 1
),
pairs AS (
  SELECT substr(word, CAST(t.i AS INTEGER), 2) AS pair, n
  FROM wc, UNNEST(generate_series(1, length(word) - 1)) AS t(i)
)
SELECT pair, cnt, CAST(rk AS INTEGER) AS rank FROM (
  SELECT pair, cnt,
         row_number() OVER (ORDER BY cnt DESC, pair ASC) AS rk
  FROM (SELECT pair, CAST(sum(n) AS BIGINT) AS cnt FROM pairs GROUP BY 1)
) WHERE rk <= {BPE_PAIRS_TOPK}
""",
)
def corpus_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed core of BPE tokenizer training (Sennrich et al.
    2016): corpus-wide adjacent symbol-pair frequencies at the
    character stage — the counts whose argmax is the first merge rule.
    A full trainer repeats this relation per merge; ONE iteration is
    the 100 TB primitive worth benchmarking because every iteration
    has the same shape (the merge itself only rewrites the word
    vocabulary, which is orders of magnitude smaller than the corpus).

    Scale shape: the corpus collapses to the DISTINCT-WORD vocabulary
    first (groupBy(word).count() — map-side combinable, shuffle width
    = |vocab| not corpus), pairs explode over the VOCAB only (each
    word yields len−1 pairs), and the final rank is a
    TakeOrderedAndProject top-{BPE_PAIRS_TOPK} like top_tokens — the
    raw corpus is scanned exactly once."""
    d = table(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    # sequence(1, len-1) is safe only because len >= 2 (Spark's
    # sequence DESCENDS for stop < start rather than returning empty)
    pairs = wc.select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1),"
                   " i -> substring(word, i, 2))")
        ).alias("pair"),
        "n",
    )
    counts = pairs.groupBy("pair").agg(F.sum("n").alias("cnt"))
    top = counts.orderBy(F.desc("cnt"), F.asc("pair")).limit(BPE_PAIRS_TOPK)
    w = Window.orderBy(F.desc("cnt"), F.asc("pair"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "pair", "cnt", "rank"
    )


# --- text quality / language stats by metadata -----------------------------
@register(
    "doc_stats_by_lang",
    oracle="""
SELECT lang,
       count(*) AS n_docs,
       floor((avg(n_chars)) * 1000000.0 + 0.5) / 1000000.0 AS avg_chars,
       floor((avg(CAST(len(string_split(text, ' ')) AS DOUBLE))) * 1000000.0 + 0.5) / 1000000.0 AS avg_tokens,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
FROM documents
GROUP BY lang
""",
)
def doc_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition profile per language tag."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        qround(F.avg("n_chars"), R6).alias("avg_chars"),
        qround(F.avg(F.size(F.split("text", " ")).cast("double")), R6).alias(
            "avg_tokens"
        ),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
    )


# --- brute-force embedding cosine top-k (L3 baseline) ----------------------
#: the exact-scan oracle, kept as a module constant so composed oracles
#: (embedding_knn_exact, embedding_knn_recall_audit) can embed it
#: verbatim after the r9 rotation moved the bruteforce name to an
#: oracle-less BENCH carrier (correctness now rides the merged
#: embedding_knn_exact row — same library code path)
KNN_BF_SQL = f"""
WITH flat AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
norms AS (
  SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM flat GROUP BY 1
),
dots AS (
  SELECT q.vec_id AS query_id, b.vec_id AS match_id, sum(q.v * b.v) AS dot
  FROM flat q JOIN flat b ON q.pos = b.pos
  WHERE q.vec_id < {KNN_QUERIES} AND b.vec_id <> q.vec_id
  GROUP BY 1, 2
),
sims AS (
  SELECT d.query_id, d.match_id,
         floor((CASE WHEN nq.nrm * nb.nrm = 0.0 THEN 0.0
                     ELSE d.dot / (nq.nrm * nb.nrm) END)
               * 10000000.0 + 0.5) / 10000000.0 AS sim
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nb ON nb.vec_id = d.match_id
)
SELECT query_id, match_id, floor((sim) * 1000000.0 + 0.5) / 1000000.0 AS sim, CAST(rk AS INTEGER) AS rank
FROM (
  SELECT query_id, match_id, sim,
         row_number() OVER (
           PARTITION BY query_id ORDER BY sim DESC, match_id ASC) AS rk
  FROM sims
) WHERE rk <= {KNN_K}
"""


@register("embedding_knn_bruteforce", bench=True)
def embedding_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k for a query set against the whole collection.

    Dimension-exploded join + hash aggregation: the base table streams
    once, queries broadcast.  This is the correctness baseline; the
    LSH-bucketed scale path is operators/knn.py."""
    # NOT spread_scan'd (r14 A/B) — see operators/ivf.py::cosine_knn_ivf:
    # bench-scale vector inputs have too little total per-row work to
    # amortize 32-way task setup; the A/B regressed the ANN trio.
    e = table(spark, sf_dir, "embeddings")
    flat = e.select(
        "vec_id",
        F.posexplode(F.col("embedding")).alias("pos", "v"),
    ).select("vec_id", "pos", F.col("v").cast("double").alias("v"))
    norms = flat.groupBy("vec_id").agg(F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nrm"))

    q = flat.where(F.col("vec_id") < KNN_QUERIES).select(
        F.col("vec_id").alias("query_id"), "pos", F.col("v").alias("qv")
    )
    dots = (
        F.broadcast(q)
        .join(flat.alias("b"), "pos")
        .where(F.col("b.vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("b.vec_id").alias("match_id"))
        .agg(F.sum(F.col("qv") * F.col("v")).alias("dot"))
    )
    nq = norms.select(F.col("vec_id").alias("query_id"), F.col("nrm").alias("nq"))
    nb = norms.select(F.col("vec_id").alias("match_id"), F.col("nrm").alias("nb"))
    sims = (
        dots.join(F.broadcast(nq), "query_id")
        .join(nb, "match_id")
        .select(
            "query_id",
            "match_id",
            # zero-vector cosine pinned to 0.0 in both engines (see
            # operators/knn.py)
            qround(
                F.when(F.col("nq") * F.col("nb") == 0.0, 0.0).otherwise(
                    F.col("dot") / (F.col("nq") * F.col("nb"))
                ),
                7,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("match_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= KNN_K)
        .select("query_id", "match_id", qround("sim", R6).alias("sim"), "rank")
    )


# --- embedding aggregation --------------------------------------------------
@register(
    "embedding_centroids_by_label",
    oracle="""
WITH e AS (
  SELECT label,
         generate_subscripts(embedding, 1) - 1 AS pos,
         unnest(embedding) AS val
  FROM embeddings
)
SELECT label, CAST(pos AS INTEGER) AS pos,
       floor(avg(CAST(val AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS centroid,
       CAST(count(*) AS BIGINT) AS n_vectors
FROM e GROUP BY 1, 2
""",
)
def embedding_centroids_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding vectors, long format
    (label, pos, centroid, n_vectors) — the class-prototype /
    cluster-seed aggregation an embedding pipeline runs constantly.
    posexplode + groupBy(label, pos) is a map-side-combined partial
    aggregate: the shuffle carries (labels × dim) partial sums, never
    vectors.  Double-sum order differs between engines by ~1e-13
    relative; the 6-dp quantization absorbs it (same rounding both
    sides)."""
    emb = table(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("pos", "val"))
    return ex.groupBy("label", "pos").agg(
        qround(F.avg(F.col("val").cast("double")), R6).alias("centroid"),
        F.count("*").alias("n_vectors"),
    )


# --- n-gram-LM quality scoring ---------------------------------------------
@register(
    # r7 rotation-latency merge: the former doc_bigram_logprob registry
    # entry (green r6) was FOLDED IN here — both were (doc_id, logprob)
    # grain, so one registry row now certifies both LM orders.
    "doc_unigram_logprob",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
vocab AS (
  SELECT token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1
),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM vocab),
scored AS (
  SELECT tok.doc_id, ln(CAST(vocab.c AS DOUBLE) / tot.t) AS lp
  FROM tok JOIN vocab USING (token) CROSS JOIN tot
),
per AS (
  SELECT doc_id, list_sort(list(lp)) AS l FROM scored GROUP BY 1
),
t2 AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(l[1:len(l) - 1]) AS w1,
         unnest(l[2:len(l)]) AS w2
  FROM t2 WHERE len(l) >= 2
),
cb AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM bg GROUP BY 1, 2
),
cctx AS (
  SELECT w1, CAST(sum(cb) AS BIGINT) AS cctx FROM cb GROUP BY 1
),
v AS (
  SELECT CAST(count(DISTINCT token) AS DOUBLE) AS v
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
),
bscored AS (
  SELECT bg.doc_id,
         ln((CAST(cb.cb AS DOUBLE) + 1.0)
            / (CAST(cctx.cctx AS DOUBLE) + v.v)) AS lp
  FROM bg JOIN cb USING (w1, w2) JOIN cctx USING (w1) CROSS JOIN v
),
bper AS (
  SELECT doc_id, list_sort(list(lp)) AS l FROM bscored GROUP BY 1
)
SELECT per.doc_id, CAST(len(per.l) AS BIGINT) AS n_tokens,
       {mean_q} AS mean_logprob,
       CAST(coalesce(len(bper.l), 0) AS BIGINT) AS n_bigrams,
       coalesce({bmean_q}, 0.0) AS mean_bigram_logprob
FROM per LEFT JOIN bper USING (doc_id)
""".format(
        mean_q=qround_sql(
            "list_reduce(per.l, (a, b) -> a + b) / len(per.l)", 6
        ),
        bmean_q=qround_sql(
            "list_reduce(bper.l, (a, b) -> a + b) / len(bper.l)", 6
        ),
    ),
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean token log-probability under a unigram LM
    trained on the corpus itself, PLUS the add-one-smoothed bigram-LM
    score (merged from the former doc_bigram_logprob registry entry —
    r7 rotation-latency merge, same per-doc grain) — the arithmetic
    core of the KenLM perplexity filter every published pretraining
    pipeline runs (CCNet/RefinedWeb lineage): documents whose tokens
    are uniformly rare (mean_logprob far below the corpus mode) are
    boilerplate, code dumps, or junk encodings; a unigram score cannot
    see scrambled or template text (same tokens, wrong order), so the
    bigram axis rides along.

    Docs with fewer than two tokens have no bigrams; the merged
    relation keeps them (the unigram side covers every doc) and pins
    (n_bigrams, mean_bigram_logprob) = (0, 0.0) in BOTH engines — 0.0
    is unambiguous because a real mean bigram logprob is strictly
    negative.

    Scale shape: explode → distinct-token-width partial-agg shuffle
    (the vocabulary), a 1-row total broadcast-crossJoin, one token-key
    join back (inverted-index shape, same as decontaminate), then a
    per-doc aggregate; the bigram side zips adjacent tokens row-local
    (NO self-join), counts at bigram-vocabulary width, and joins back
    the same way; the final merge is one per-doc-key left join.
    Nothing driver-side.

    Cross-engine note: ``ln`` is the one transcendental in the oracle
    surface (this module's other scores are rational by design); both
    engines evaluate the IDENTICAL expressions ln(c/T) and
    ln((cb + 1)/(cctx + V)) on identical doubles, and libm-vs-JVM log
    agrees to the last ulp or one beyond.  The per-doc SUM of those
    values is additionally made order-DETERMINISTIC — each doc's lp
    list is sorted and folded left-to-right in BOTH engines
    (sort_array + aggregate here, list_sort + list_reduce in the
    oracle; the fold seeds differ by a leading +0.0, which is
    IEEE-exact) — so parity cannot flake on Spark's
    partition-order-dependent float summation the way a bare sum()
    could at a rounding half-boundary."""
    d = table(spark, sf_dir, "documents")
    uni = unigram_logprob(d)
    bi = bigram_logprob(d).select(
        "doc_id",
        F.col("n_bigrams"),
        F.col("mean_logprob").alias("mean_bigram_logprob"),
    )
    return uni.join(bi, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "mean_logprob",
        F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
        F.coalesce("mean_bigram_logprob", F.lit(0.0)).alias(
            "mean_bigram_logprob"
        ),
    )


def bigram_logprob(d: DataFrame) -> DataFrame:
    """Library form of doc_bigram_logprob (so tests can score a
    hand-computable corpus)."""
    t = d.select("doc_id", F.split("text", " ").alias("l"))
    bg = (
        t.where(F.size("l") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "zip_with(slice(l, 1, size(l) - 1),"
                    " slice(l, 2, size(l) - 1),"
                    " (a, b) -> struct(a AS w1, b AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
    )
    cb = bg.groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    cctx = cb.groupBy("w1").agg(F.sum("cb").alias("cctx"))
    v = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .agg(F.countDistinct("token").cast("double").alias("v"))
    )
    scored = (
        bg.join(cb, ["w1", "w2"])
        .join(cctx, "w1")
        .crossJoin(F.broadcast(v))
    )
    lp = F.log(
        (F.col("cb").cast("double") + F.lit(1.0))
        / (F.col("cctx").cast("double") + F.col("v"))
    )
    per = scored.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(lp)).alias("l")
    )
    ordered_sum = F.aggregate("l", F.lit(0.0), lambda a, x: a + x)
    return per.select(
        "doc_id",
        F.size("l").cast("bigint").alias("n_bigrams"),
        qround(ordered_sum / F.size("l"), R6).alias("mean_logprob"),
    )


def unigram_logprob(d: DataFrame) -> DataFrame:
    """Library form of doc_unigram_logprob (so tests can score a
    hand-computable corpus)."""
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    vocab = tok.groupBy("token").agg(F.count("*").alias("c"))
    tot = vocab.agg(F.sum("c").cast("double").alias("t"))
    scored = tok.join(vocab, "token").crossJoin(F.broadcast(tot))
    lp = F.log(F.col("c").cast("double") / F.col("t"))
    per = scored.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(lp)).alias("l")
    )
    ordered_sum = F.aggregate("l", F.lit(0.0), lambda a, x: a + x)
    return per.select(
        "doc_id",
        F.size("l").cast("bigint").alias("n_tokens"),
        qround(ordered_sum / F.size("l"), R6).alias("mean_logprob"),
    )

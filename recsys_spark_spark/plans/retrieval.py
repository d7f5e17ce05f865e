"""Corpus retrieval & repetition-quality operators (training-data
pipeline extensions, SURVEY §2.12): BM25 keyword search and
Gopher-style repetition scores.

Both are pure column-expression / explode-aggregate plans (no UDFs)
with DuckDB oracles.  BM25 uses the RATIONAL Robertson idf
``(N − df + 0.5) / (df + 0.5)`` — the canonical form takes the log of
that ratio, but log is a libm transcendental whose last ulp differs
across engines, and this module's contract (like plans/text.py) is
bit-identical cross-engine scores from +,−,×,÷ only.  The rational
idf is a strictly monotone transform of the canonical one per term,
so single-term ranking is identical and multi-term ranking weights
rare terms more strongly; the divergence is documented here and in
the query docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import qround
from ..lifecycle import materialize
from ..sources.readers import table
from .registry import register

#: the fixed keyword query for the registered search (three of the
#: synthetic corpus's frequent content tokens)
QUERY_TERMS = ["join", "hash", "scan"]
BM25_K1 = 1.2
BM25_B = 0.75
TOP_N = 20

R6 = 6

#: Gopher-style repetition thresholds (Rae et al. 2021 table A1 uses
#: character fractions; these are the token-fraction analogues for the
#: space-tokenized synthetic corpus)
MAX_TOP_TOKEN_FRAC = 0.20
MAX_TOP_BIGRAM_FRAC = 0.18

_TERMS_SQL = "(" + ", ".join(f"'{t}'" for t in QUERY_TERMS) + ")"

_BM25_SQL = f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
  FROM documents
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM base
),
tf AS (
  SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf
  FROM (
    SELECT doc_id, dl,
           unnest(list_filter(toks, t -> t IN {_TERMS_SQL})) AS tok
    FROM base
  )
  GROUP BY 1, 2, 3
),
dfreq AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         CAST(count(*) AS BIGINT) AS n_terms,
         floor(sum(((n_docs - df + 0.5) / (df + 0.5))
                   * (tf * ({BM25_K1} + 1.0))
                   / (tf + {BM25_K1} * (1.0 - {BM25_B}
                                        + {BM25_B} * dl / avgdl)))
               * 1000000.0 + 0.5) / 1000000.0 AS score
  FROM tf JOIN dfreq USING (tok) CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, n_terms, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         AS rank
FROM scored
ORDER BY score DESC, doc_id
LIMIT {TOP_N}
""".strip()


@register("doc_bm25_search", oracle=_BM25_SQL)
def doc_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{20} documents for a fixed keyword query under BM25 with
    rational idf (see module docstring for the log-free divergence).

    Shape at scale: the token filter runs INSIDE the array (before the
    generator), so the explode emits only query-term hits — the
    shuffled tf relation is O(matching tokens), not O(corpus tokens);
    df and the corpus stats are 1-row/broadcast joins; the final top-N
    is TakeOrderedAndProject (no global sort materialization).
    """
    return bm25_search(table(spark, sf_dir, "documents"), QUERY_TERMS)


def bm25_search(
    docs: DataFrame,
    terms: list[str],
    top_n: int = TOP_N,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """The BM25 plan over any ``(doc_id, text)`` DataFrame — factored
    from the registered query so property tests can drive it against a
    driver-side Python twin on randomized corpora."""
    toks = F.split("text", " ")
    # consumed by the stats aggregate AND the hits explode — cache so
    # the corpus is tokenized once (same pattern as the ANN bases)
    base = materialize(
        docs.select(
            "doc_id", toks.alias("toks"), F.size(toks).cast("bigint").alias("dl")
        ),
        owner="retrieval",
    )
    stats = base.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    hits = base.select(
        "doc_id",
        "dl",
        F.explode(
            F.filter("toks", lambda t: t.isin(*terms))
        ).alias("tok"),
    )
    tf = hits.groupBy("doc_id", "dl", "tok").agg(
        F.count("*").alias("tf")
    )
    dfreq = tf.groupBy("tok").agg(
        F.count("*").cast("double").alias("df")
    )
    w = (
        ((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
        * (F.col("tf") * (k1 + 1.0))
        / (
            F.col("tf")
            + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_terms"),
            qround(F.sum(w), R6).alias("score"),
        )
    )
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(top_n)
    rw = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.withColumn(
        "rank", F.row_number().over(rw).cast("bigint")
    )


_REPETITION_SQL = f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
ex AS (
  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS i
  FROM base
),
tokc AS (
  SELECT doc_id, max(c) AS max_tok
  FROM (SELECT doc_id, tok, count(*) AS c FROM ex GROUP BY 1, 2)
  GROUP BY 1
),
bg AS (
  SELECT a.doc_id, a.tok || ' ' || b.tok AS bg
  FROM ex a JOIN ex b ON b.doc_id = a.doc_id AND b.i = a.i + 1
),
bgc AS (
  SELECT doc_id, max(c) AS max_bg
  FROM (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2)
  GROUP BY 1
),
fracs AS (
  SELECT b.doc_id, b.n_tokens,
         floor((CAST(len(list_distinct(toks)) AS DOUBLE) / n_tokens)
               * 1000000.0 + 0.5) / 1000000.0 AS distinct_frac,
         floor((CASE WHEN max_tok >= 2
                     THEN CAST(max_tok AS DOUBLE) / n_tokens
                     ELSE 0.0 END)
               * 1000000.0 + 0.5) / 1000000.0 AS top_token_frac,
         floor(least(1.0,
                    CASE WHEN coalesce(max_bg, 0) >= 2
                         THEN CAST(max_bg AS DOUBLE) * 2.0 / n_tokens
                         ELSE 0.0 END)
               * 1000000.0 + 0.5) / 1000000.0 AS top_bigram_frac
  FROM base b
  JOIN tokc USING (doc_id)
  LEFT JOIN bgc USING (doc_id)
)
SELECT doc_id, n_tokens, distinct_frac, top_token_frac, top_bigram_frac,
       CAST(CASE WHEN top_token_frac > {MAX_TOP_TOKEN_FRAC}
                   OR top_bigram_frac > {MAX_TOP_BIGRAM_FRAC}
                 THEN 1 ELSE 0 END AS BIGINT) AS repetitive
FROM fracs
""".strip()


@register("doc_repetition_scores", oracle=_REPETITION_SQL)
def doc_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See :func:`repetition_scores`; registered over the documents
    table."""
    return repetition_scores(table(spark, sf_dir, "documents"))


def repetition_scores(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals per document: distinct-
    token fraction, most-frequent-token fraction, most-frequent-bigram
    token fraction (count×2 / n_tokens), and a ``repetitive`` flag on
    the published-style thresholds.  Boilerplate and looping-generator
    text scores high on these long before perplexity filters see it.

    Shape at scale: two explode→count aggregations per document (token
    grain and bigram grain, each shuffled on doc_id) plus pure array
    expressions — linear in corpus tokens, no joins wider than
    doc_id.  The bigram array is built JVM-side with zip_with over two
    shifted slices; the oracle mirrors it with a subscript self-join.
    """
    toks = F.split("text", " ")
    # consumed three times (token counts, bigram counts, fractions) —
    # cache so the corpus is tokenized once
    base = materialize(
        docs.select(
            "doc_id", toks.alias("toks"), F.size(toks).cast("bigint").alias("n_tokens")
        ),
        owner="retrieval",
    )
    tokc = (
        base.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_tok"))
    )
    bigrams = F.zip_with(
        F.slice("toks", 1, F.size("toks") - 1),
        F.slice("toks", 2, F.size("toks") - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bgc = (
        base.select("doc_id", F.explode(bigrams).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_bg"))
    )
    fracs = (
        base.join(tokc, "doc_id")
        .join(bgc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            qround(
                F.size(F.array_distinct("toks")).cast("double")
                / F.col("n_tokens"),
                R6,
            ).alias("distinct_frac"),
            # same >=2 floor as the bigram metric: a token that
            # occurs once is not repetition (without it every doc
            # shorter than 1/threshold tokens is auto-flagged)
            qround(
                F.when(
                    F.col("max_tok") >= 2,
                    F.col("max_tok").cast("double") / F.col("n_tokens"),
                ).otherwise(0.0),
                R6,
            ).alias("top_token_frac"),
            # a bigram that occurs ONCE is not repetition — without
            # the >=2 floor every short document trips the flag (any
            # unique bigram has fraction 2/n > 0.18 for n < 12)
            # count*2/n over-counts OVERLAPPING occurrences ("hash
            # hash hash" = 2 overlapping bigrams from 3 tokens), so
            # cap at 1.0 to keep the column a true [0,1] coverage
            # fraction
            qround(
                F.least(
                    F.lit(1.0),
                    F.when(
                        F.coalesce(F.col("max_bg"), F.lit(0)) >= 2,
                        F.col("max_bg").cast("double")
                        * 2.0
                        / F.col("n_tokens"),
                    ).otherwise(0.0),
                ),
                R6,
            ).alias("top_bigram_frac"),
        )
    )
    return fracs.withColumn(
        "repetitive",
        F.when(
            (F.col("top_token_frac") > MAX_TOP_TOKEN_FRAC)
            | (F.col("top_bigram_frac") > MAX_TOP_BIGRAM_FRAC),
            1,
        )
        .otherwise(0)
        .cast("bigint"),
    )

"""Text-analysis operators for the training-data pipeline (SURVEY L4
extensions): quality scoring, heuristic language-ID, BPE-ish token
counting, and winnowing document fingerprints.

All four are pure column-expression plans (no UDFs) with DuckDB
oracles; transcendental functions are deliberately avoided in scored
outputs (libm implementations differ across engines — only +,−,×,÷
and comparisons are IEEE-identical everywhere).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import qround, qround_sql
from ..operators.dedup import hash60, hash60_sql
from ..operators.pii import pii_counts, pii_counts_sql, pii_scrub, pii_scrub_sql
from ..sources.readers import table
from .registry import register

R6 = 6

#: stopword list for quality scoring (a handful of function words that
#: actually occur in the synthetic corpus vocabulary)
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]

#: per-language marker tokens for the heuristic language-ID.  On real
#: corpora these would be the top function words per language; the
#: synthetic corpus shares one vocabulary, so the classifier output is
#: arbitrary-but-deterministic — the operator pattern (marker scoring
#: + argmax with lexicographic tie-break) is what's exercised.
LANG_MARKERS = {
    "de": ["der", "die", "und"],
    "en": ["the", "a", "is"],
    "es": ["el", "los", "una"],
    "fr": ["le", "les", "des"],
    "zh": ["shi", "wo", "ni"],
}

BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

WINNOW_K = 8  # char-gram length
WINNOW_W = 8  # winnowing window (grams)


def _sql_list(words: list[str]) -> str:
    return "(" + ", ".join(f"'{w}'" for w in words) + ")"


# --- quality scoring -------------------------------------------------------
def quality_exprs(text_col: str = "text"):
    """The quality-score column expressions, shared between
    doc_quality_scores and the composed corpus_clean pipeline
    (plans/pipeline.py).  Returns (n_tokens, stop_ratio, punct_ratio,
    quality) raw (unrounded) columns."""
    toks = F.split(text_col, " ")
    n_tokens = F.size(toks).cast("bigint")
    stop_ratio = (
        F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("double")
        / F.size(toks)
    )
    # Empty text is a real production input and makes length(text) a
    # zero denominator — Spark 4's ANSI mode escalates that to a
    # DIVIDE_BY_ZERO job failure (same hazard class as the Pearson
    # zero-variance guard in functions/similarity.py).  Define
    # punct_ratio = 0 for empty text in BOTH engines.
    punct_ratio = F.when(
        F.length(text_col) > 0,
        (
            F.length(text_col)
            - F.length(F.regexp_replace(F.col(text_col), "[^a-z0-9 ]", ""))
        ).cast("double")
        / F.length(text_col),
    ).otherwise(0.0)
    quality = F.least(
        F.lit(1.0),
        F.greatest(
            F.lit(0.0),
            F.lit(0.3)
            + 1.2 * stop_ratio
            - 2.0 * punct_ratio
            + F.least(n_tokens, F.lit(40)) / 200.0,
        ),
    )
    return n_tokens, stop_ratio, punct_ratio, quality



def _lang_score_sql(lang: str) -> str:
    return (
        f"CAST(len(list_filter(toks, t -> t IN {_sql_list(LANG_MARKERS[lang])}))"
        " AS BIGINT)"
    )


#: per-term 6dp-quantized ln for the character-entropy fold (the
#: doc_zipf_fit convention for non-correctly-rounded transcendentals)
_ENTROPY_LN_Q = qround_sql("ln(p)", 6)

#: −Σ p·ln p folded LEFT-TO-RIGHT over the SORTED distinct chars, so
#: both engines sum the identical sequence (ex-doc_char_entropy oracle,
#: merged into doc_quality_scores in the r8 rotation)
_ENTROPY_FOLD_SQL = (
    "-list_reduce(list_prepend(0.0,"
    " list_transform("
    "  list_transform(list_sort(list_distinct(chars)),"
    "   ch -> CAST(len(list_filter(chars, x -> x = ch)) AS DOUBLE)"
    "         / len(chars)),"
    "  p -> p * (" + _ENTROPY_LN_Q + "))),"
    " (a, b) -> a + b)"
)


@register(
    "doc_quality_scores",
    oracle=f"""
WITH base AS (
  SELECT doc_id, lang, text, string_split(text, ' ') AS toks,
         list_filter(string_split(text, ''), x -> x <> '') AS chars,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(string_split(text, ' '),
                              t -> t IN {_sql_list(STOPWORDS)})) AS DOUBLE)
           / len(string_split(text, ' ')) AS stop_ratio,
         CASE WHEN length(text) > 0 THEN
           CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))
                AS DOUBLE) / length(text)
         ELSE 0.0 END AS punct_ratio,
         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
           AS n_sentences,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
           AS n_syllables
  FROM documents
),
scored AS (
  SELECT *,
         {", ".join(f"{_lang_score_sql(lg)} AS s_{lg}" for lg in sorted(LANG_MARKERS))}
  FROM base
)
SELECT doc_id, n_tokens,
       floor(stop_ratio * 1000000.0 + 0.5) / 1000000.0 AS stop_ratio,
       floor(punct_ratio * 1000000.0 + 0.5) / 1000000.0 AS punct_ratio,
       floor(least(1.0, greatest(0.0,
             0.3 + 1.2 * stop_ratio - 2.0 * punct_ratio
                 + least(n_tokens, 40) / 200.0)) * 1000000.0 + 0.5) / 1000000.0
         AS quality,
       lang AS labeled_lang,
       CASE {" ".join(f"WHEN s_{lg} = best THEN '{lg}'" for lg in sorted(LANG_MARKERS))}
       END AS pred_lang,
       best AS lang_score,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
       CAST(length(text) AS BIGINT) AS n_chars,
       floor((CAST(length(replace(text, ' ', '')) AS DOUBLE)
             / len(toks)) * 1000000.0 + 0.5) / 1000000.0 AS chars_per_token,
       CAST(len(regexp_extract_all(text, '{BPE_PATTERN}')) AS BIGINT) AS n_bpe_tokens,
       CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_word_tokens,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num_tokens,
       n_sentences, n_syllables,
       floor((206.835
              - 1.015 * (CAST(n_tokens AS DOUBLE) / n_sentences)
              - 84.6 * (CAST(n_syllables AS DOUBLE) / n_tokens))
             * 1000000.0 + 0.5) / 1000000.0 AS flesch,
       CASE WHEN len(chars) = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(len(list_distinct(chars)) AS BIGINT)
       END AS n_distinct_chars,
       CASE WHEN len(chars) = 0 THEN 0.0
            ELSE {qround_sql(_ENTROPY_FOLD_SQL, 6)}
       END AS entropy_nats
FROM (
  SELECT *, greatest({", ".join(f"s_{lg}" for lg in sorted(LANG_MARKERS))}) AS best
  FROM scored
)
""",
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality + marker-token language-ID + token
    statistics + Flesch readability in one per-document pass (merged
    from the former separate doc_lang_id, doc_token_stats — r6
    rotation-latency merge — AND doc_readability — r7 merge — registry
    entries; all the same per-doc grain, one scan).

    Quality: stopword density up (natural prose has function words),
    punctuation-noise down, mild length prior — the standard cheap
    pre-filter stage of an LLM data pipeline, entirely in
    whole-stage-codegen'd column expressions.

    Language-ID: per-language function-word hit count, argmax with
    lexicographic tie-break (the first CASE arm wins, langs sorted) —
    the n-gram-heuristic pattern; swap LANG_MARKERS for real
    per-language lists on a natural corpus.

    Token statistics (ex-doc_token_stats): whitespace tokenizer counts
    plus BPE-ish regex token counts (word runs / digit runs /
    punctuation marks) — all JVM-side column functions (no UDF).

    Readability (ex-doc_readability): Flesch reading-ease (Flesch
    1948) — 206.835 − 1.015·(words/sentence) − 84.6·(syllables/word),
    dictionary-free syllable heuristic (one per [aeiouy]+ vowel-group
    run), sentence count = punctuation-run count clamped ≥ 1; words =
    the same whitespace n_tokens as above (identical expression the
    old query used), so the merge adds no second tokenizer pass.  The
    library form lives on as :func:`readability`.

    Character entropy (ex-doc_char_entropy, merged in the r8 rotation
    — same per-doc grain, one scan): Shannon entropy in nats, the
    classic cheap garbage/binary-text signal (Rae et al. 2021
    quality-filter lineage).  Fully row-local: per-char probabilities
    over the SORTED distinct characters, −Σ p·ln p folded
    left-to-right so both engines sum the identical sequence; ln is
    6dp-quantized per term (the doc_zipf_fit transcendental
    convention).  Spark's split(text, '') yields [''] for an EMPTY
    string (unlike DuckDB's string_split → []) so empty elements are
    filtered; empty documents pin (0 distinct, 0.0 nats)."""
    d = table(spark, sf_dir, "documents")
    n_tokens, stop_ratio, punct_ratio, quality = quality_exprs()
    toks = F.split("text", " ")

    def _score(markers: list[str]):
        # factory closure: the HOF lambda must be unary (a second
        # parameter would be interpreted as the element index)
        return F.size(F.filter(toks, lambda t: t.isin(*markers))).cast("bigint")

    def _n(pat: str):
        return F.size(F.regexp_extract_all("text", F.lit(pat), 0)).cast("bigint")

    n_sent = F.greatest(
        F.expr("regexp_count(text, '[.!?]+')"), F.lit(1)
    ).cast("bigint")
    n_syl = F.expr("regexp_count(lower(text), '[aeiouy]+')").cast("bigint")
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (n_tokens.cast("double") / n_sent)
        - F.lit(84.6) * (n_syl.cast("double") / n_tokens)
    )
    chars = F.filter(F.split("text", ""), lambda x: x != "")
    n_c = F.size(chars)
    dchars = F.array_sort(F.array_distinct(chars))
    ent_ps = F.transform(
        dchars,
        lambda ch: F.size(F.filter(chars, lambda x: x == ch)).cast("double")
        / n_c,
    )
    ent_terms = F.transform(ent_ps, lambda p: p * qround(F.log(p), 6))
    ent_fold = F.aggregate(ent_terms, F.lit(0.0), lambda a, b: a + b)
    scores = {lg: _score(LANG_MARKERS[lg]) for lg in sorted(LANG_MARKERS)}
    best = F.greatest(*scores.values())
    pred = None
    for lg in sorted(LANG_MARKERS):
        arm = F.when(scores[lg] == best, F.lit(lg))
        pred = arm if pred is None else pred.when(scores[lg] == best, F.lit(lg))
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        qround(stop_ratio, R6).alias("stop_ratio"),
        qround(punct_ratio, R6).alias("punct_ratio"),
        qround(quality, R6).alias("quality"),
        F.col("lang").alias("labeled_lang"),
        pred.alias("pred_lang"),
        best.alias("lang_score"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
        F.length("text").cast("bigint").alias("n_chars"),
        qround(
            F.length(F.regexp_replace(F.col("text"), " ", "")).cast("double")
            / F.size(toks),
            R6,
        ).alias("chars_per_token"),
        _n(BPE_PATTERN).alias("n_bpe_tokens"),
        _n("[a-z]+").alias("n_word_tokens"),
        _n("[0-9]+").alias("n_num_tokens"),
        n_sent.alias("n_sentences"),
        n_syl.alias("n_syllables"),
        qround(flesch, R6).alias("flesch"),
        F.when(n_c == 0, F.lit(0).cast("bigint"))
        .otherwise(F.size(dchars).cast("bigint"))
        .alias("n_distinct_chars"),
        F.when(n_c == 0, F.lit(0.0))
        .otherwise(qround(-ent_fold, 6))
        .alias("entropy_nats"),
    )


# --- winnowing fingerprints ------------------------------------------------
@register(
    # rotation r5: driver-green r1-r4; slot freed for never-checked queries
    "doc_winnow_fingerprints",
    oracle=f"""
WITH grams AS (
  SELECT doc_id, g.i AS pos,
         {hash60_sql("substr(text, CAST(g.i AS INTEGER), {k})".format(k=WINNOW_K))} AS gh
  FROM documents,
       UNNEST(generate_series(1, greatest(length(text) - {WINNOW_K - 1}, 1))) AS g(i)
),
winnowed AS (
  SELECT doc_id,
         min(gh) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS fp
  FROM grams
)
SELECT DISTINCT doc_id, fp FROM winnowed
""",
)
def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS-style) fingerprints: rolling 8-char-gram hashes,
    minimum per sliding window of 8, deduplicated — the standard
    plagiarism/near-copy fingerprint set.  Guarantees any shared
    substring of length ≥ K+W−1 yields a shared fingerprint."""
    d = table(spark, sf_dir, "documents")
    starts = F.sequence(
        F.lit(1), F.greatest(F.length("text") - (WINNOW_K - 1), F.lit(1))
    )
    grams = d.select(
        "doc_id",
        F.posexplode(
            F.transform(starts, lambda i: F.col("text").substr(i, F.lit(WINNOW_K)))
        ).alias("pos", "gram"),
    )
    gh = grams.select("doc_id", "pos", hash60(F.col("gram")).alias("gh"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, WINNOW_W - 1)
    )
    return gh.select("doc_id", F.min("gh").over(w).alias("fp")).distinct()


# --- PII scrubbing ---------------------------------------------------------
#: The synthetic corpus is PII-free word soup, so the query plants one
#: deterministic span of each PII class (email / IPv4 / phone) derived
#: from doc_id before scrubbing — every row then exercises all three
#: patterns' match BOUNDARIES end-to-end in both engines (a boundary
#: bug leaves doc_id-varying digits in clean_text and fails the value
#: hash).  Same arbitrary-but-deterministic convention as
#: LANG_MARKERS above.
_PII_AUG_SQL = (
    "text || ' reach user' || CAST(doc_id AS VARCHAR)"
    " || '@mail.example.com or +49-30-'"
    " || CAST(1000 + doc_id % 9000 AS VARCHAR)"
    " || ' at 10.' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.0.' || CAST(doc_id % 97 AS VARCHAR) || ' today'"
)


def _pii_aug_col():
    return F.concat(
        F.col("text"),
        F.lit(" reach user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +49-30-"),
        (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        F.lit(" at 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."),
        (F.col("doc_id") % 97).cast("string"),
        F.lit(" today"),
    )


@register(
    # new in r4 (registry window full at 50); rotate REGISTERED in r5
    "doc_pii_scrub",
    oracle=f"""
WITH aug AS (
  SELECT doc_id, {_PII_AUG_SQL} AS atext FROM documents
)
SELECT doc_id,
       {pii_counts_sql("atext")},
       {pii_scrub_sql("atext")} AS clean_text
FROM aug
""",
)
def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (operators/pii.py): detect + scrub emails,
    IPv4 literals, and international phone numbers into typed
    placeholder tokens — the standard regex-tier PII stage of an LLM
    data pipeline (C4/RefinedWeb/Dolma lineage).  Pure
    regexp_count/regexp_replace column expressions: a narrow map over
    the corpus, no shuffle, whole-stage codegen."""
    d = table(spark, sf_dir, "documents")
    aug = d.select("doc_id", _pii_aug_col().alias("atext"))
    n_emails, n_ips, n_phones = pii_counts(F.col("atext"))
    return aug.select(
        "doc_id",
        n_emails.cast("int").alias("n_emails"),
        n_ips.cast("int").alias("n_ips"),
        n_phones.cast("int").alias("n_phones"),
        pii_scrub(F.col("atext")).alias("clean_text"),
    )


# --- URL / domain statistics -----------------------------------------------
#: Java-regex ∩ RE2 URL shape (scheme + host, optional path) — the
#: domain-blocklist prep tier of a web-corpus pipeline (C4/RefinedWeb
#: filter by registered domain before anything heavier runs)
URL_RE = r"https?://[A-Za-z0-9.-]+(?:/[^ ]*)?"
DOMAIN_RE = r"https?://([A-Za-z0-9.-]+)"

#: The synthetic corpus has no URLs, so the query plants one per doc
#: derived from (source, doc_id) before extracting — same
#: arbitrary-but-deterministic convention as the PII augmentation;
#: the domain distribution then mirrors the source column
#: (non-vacuous counts) and a second planted URL every 3rd doc
#: exercises multi-match extraction.
_URL_AUG_SQL = (
    "text || ' see https://www.' || source || CAST(doc_id % 7 AS VARCHAR)"
    " || '.example.com/p/' || CAST(doc_id AS VARCHAR)"
    " || CASE WHEN doc_id % 3 = 0 THEN"
    " ' and http://cdn.' || source || '.example.net'"
    " ELSE '' END"
)


def _url_aug_col():
    return F.concat(
        F.col("text"),
        F.lit(" see https://www."),
        F.col("source"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com/p/"),
        F.col("doc_id").cast("string"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" and http://cdn."),
                F.col("source"),
                F.lit(".example.net"),
            ),
        ).otherwise(F.lit("")),
    )


@register(
    # new in r4 (registry window full at 50); rotate REGISTERED in r5
    "doc_url_domains",
    oracle=f"""
WITH aug AS (
  SELECT doc_id, {_URL_AUG_SQL} AS atext FROM documents
),
urls AS (
  SELECT doc_id, unnest(regexp_extract_all(atext, '{URL_RE}')) AS url
  FROM aug
)
SELECT regexp_extract(url, '{DOMAIN_RE}', 1) AS domain,
       CAST(count(*) AS BIGINT) AS n_urls,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM urls
GROUP BY 1
""",
)
def doc_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL extraction + per-domain frequency — the corpus statistics a
    domain-blocklist filter runs on (count URLs and referencing docs
    per host).  regexp_extract_all → explode → regexp_extract(host)
    → groupBy: one narrow map plus one small aggregation keyed on the
    domain (output cardinality = |domains|, not |docs|)."""
    d = table(spark, sf_dir, "documents")
    urls = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(_url_aug_col(), F.lit(URL_RE), F.lit(0))
        ).alias("url"),
    )
    return urls.groupBy(
        F.regexp_extract("url", DOMAIN_RE, 1).alias("domain")
    ).agg(
        F.count("*").alias("n_urls"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


# --- URL canonicalization + cross-doc dedup (r12) -----------------------------
#: Deterministic noisy URL per document — the same planting convention
#: as _URL_AUG_SQL (the corpus has no URLs), but with every
#: canonicalization noise channel a crawl dedup actually sees, each
#: keyed to a different doc_id residue so all channels are exercised
#: and co-occur: scheme case + http/https flip, optional www., host
#: case, explicit default ports, trailing slash, tracking query,
#: fragment.  The PATH is keyed to (source, doc_id % 50), so documents
#: genuinely collide after canonicalization — the duplicate groups the
#: keeper election is for.  ONE SQL string instantiated in BOTH
#: engines (Spark F.expr and the DuckDB oracle), the house convention
#: that keeps the op sequence identical; regexes avoid backslashes so
#: the literal survives both parsers unchanged.
_URL_NOISY_SQL = (
    "concat("
    "CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTP' END, '://', "
    "CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END, "
    "CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END, "
    "'.Example.ORG', "
    "CASE WHEN doc_id % 8 = 0 THEN ':443' "
    "WHEN doc_id % 8 = 1 THEN ':80' ELSE '' END, "
    "'/doc/', CAST(doc_id % 50 AS STRING), "
    "CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END, "
    "CASE WHEN doc_id % 6 = 0 THEN '?utm_source=feed&x=1' ELSE '' END, "
    "CASE WHEN doc_id % 4 = 0 THEN '#sec2' ELSE '' END)"
)


def canonical_url_sql(url_expr: str) -> str:
    """Canonical-URL SQL expression over ``url_expr`` — identical text
    in Spark (``F.expr``) and DuckDB: strip fragment + query (full
    query strip; param-allowlisting is a config point, documented),
    lowercase the host, drop a leading www., drop explicit default
    ports (:443/:80 — folded for BOTH schemes since the scheme itself
    is folded out of the identity), drop trailing slashes, and drop
    the scheme (http/https serve the same document in a crawl).
    Canonical identity = host + path."""
    host = (
        f"regexp_replace(regexp_replace(lower(regexp_extract({url_expr}, "
        f"'(?i)^https?://([^/?#]+)', 1)), '^www[.]', ''), ':(443|80)$', '')"
    )
    path = (
        f"regexp_replace(regexp_extract({url_expr}, "
        f"'(?i)^https?://[^/?#]+([^?#]*)', 1), '/+$', '')"
    )
    return f"concat({host}, {path})"


def doc_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document URL dedup — the crawl-pipeline step that folds
    scheme/case/www/default-port/trailing-slash/query/fragment noise
    into one canonical URL identity and elects a keeper per group
    (min doc_id, the exact-dedup convention): per document, its raw
    URL, canonical form, group keeper, group size, and keeper flag.
    Every canonicalization rule is an arithmetic-free string
    transform shared VERBATIM between the engines
    (``canonical_url_sql``), so the value hash certifies the full
    rule chain, not a lookalike.

    Scale shape: one narrow projection, one map-side-combinable
    groupBy on the canonical key (the standard dedup shuffle), one
    equi-join back on the same key — no pair explosion anywhere; a
    hot canonical URL (every crawl has them) fattens one group row,
    never a join.  Output is |docs| rows.  No reference analogue
    (SURVEY §2 extension — verdict r11 #8's named alternative).

    r14: the REGISTRY row moved into the merged ``dedup_docs``
    keeper-mapping relation (plans/llm.py, variant 'url_canonical' —
    driver-green standalone in r13, merge precondition met); this
    function stays as the richer library form (keeps the raw url and
    is_keeper columns) and is pytest-pinned against hand-computed
    canonicalization cases."""
    d = table(spark, sf_dir, "documents")
    c = d.select(
        "doc_id",
        F.expr(_URL_NOISY_SQL).alias("url"),
    ).select(
        "doc_id",
        "url",
        F.expr(canonical_url_sql("url")).alias("canonical_url"),
    )
    g = c.groupBy("canonical_url").agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_group_docs"),
    )
    return c.join(g, "canonical_url").select(
        "doc_id",
        "url",
        "canonical_url",
        "keeper_doc_id",
        "n_group_docs",
        (F.col("doc_id") == F.col("keeper_doc_id")).alias("is_keeper"),
    )


# --- Zipf rank-frequency fit -------------------------------------------------

#: fit over the top-N tokens by frequency — the head of the
#: rank-frequency curve where Zipf's law is informative
ZIPF_TOP_N = 200

#: shared slope/intercept/r² algebra over the quantized (x, y) sums —
#: ONE formula string instantiated for both engines so the IEEE op
#: sequence cannot drift between them
_ZIPF_SLOPE = "(n * sxy - sx * sy) / (n * sxx - sx * sx)"
_ZIPF_INTERCEPT = f"(sy - ({_ZIPF_SLOPE}) * sx) / n"
_ZIPF_R2 = (
    "((n * sxy - sx * sy) * (n * sxy - sx * sy))"
    " / ((n * sxx - sx * sx) * (n * syy - sy * sy))"
)


@register(
    "doc_zipf_fit",
    oracle="""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
vocab AS (
  SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1
),
ranked AS (
  SELECT row_number() OVER (ORDER BY cnt DESC, token ASC) AS rk, cnt
  FROM vocab
),
pts AS (
  SELECT floor(ln(CAST(rk AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS x,
         floor(ln(CAST(cnt AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS y
  FROM ranked WHERE rk <= {top_n}
),
s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_tokens,
       floor(({slope}) * 1000000.0 + 0.5) / 1000000.0 AS slope,
       floor(({intercept}) * 1000000.0 + 0.5) / 1000000.0 AS intercept,
       floor(({r2}) * 1000000.0 + 0.5) / 1000000.0 AS r2
FROM s
""".format(
        top_n=ZIPF_TOP_N,
        slope=_ZIPF_SLOPE,
        intercept=_ZIPF_INTERCEPT,
        r2=_ZIPF_R2,
    ),
)
def doc_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus token distribution: least-squares
    slope/intercept/R² of ln(frequency) against ln(rank) for the top
    200 tokens — the classic corpus-health statistic (natural text
    slopes ≈ −1; template/synthetic corpora flatten or kink the
    curve; Zipf 1949, Piantadosi 2014 for the modern treatment).

    Cross-engine determinism: ln(rank)/ln(count) are 6-dp-quantized
    BEFORE the regression sums, so both engines aggregate identical
    doubles (ln is not correctly-rounded across engines — the same
    hazard the PPS sampler avoids); sum order then differs only at
    ~1e-13 on 200 terms, absorbed by the 6-dp output rounding, and the
    slope/intercept/R² algebra is instantiated from ONE shared formula
    string in both engines.  Scale shape: the vocab aggregate is the
    only corpus-sized pass; the top-200 selection is
    TakeOrderedAndProject (no unpartitioned vocab window) and the
    regression runs over 200 rows."""
    return zipf_fit(table(spark, sf_dir, "documents"))


def zipf_fit(d: DataFrame, top_n: int = ZIPF_TOP_N) -> DataFrame:
    """Library form of doc_zipf_fit (so tests can fit a planted
    power-law corpus)."""
    tok = d.select(F.explode(F.split("text", " ")).alias("token"))
    vocab = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    top = vocab.orderBy(F.desc("cnt"), F.asc("token")).limit(top_n)
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    pts = top.select(
        qround(F.log(F.row_number().over(w).cast("double")), 6).alias("x"),
        qround(F.log(F.col("cnt").cast("double")), 6).alias("y"),
    )
    s = pts.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_tokens"),
        qround(F.expr(_ZIPF_SLOPE), 6).alias("slope"),
        qround(F.expr(_ZIPF_INTERCEPT), 6).alias("intercept"),
        qround(F.expr(_ZIPF_R2), 6).alias("r2"),
    )


# --- Flesch readability ------------------------------------------------------
# The doc_readability REGISTRY entry was merged into doc_quality_scores
# (r7 rotation-latency merge — same per-doc grain, one scan); the
# library form below remains the tested unit.
def readability(t: DataFrame) -> DataFrame:
    """Library form of doc_readability (so tests can score a
    hand-countable sentence)."""
    n_words = F.size(F.split("text", " ")).cast("bigint")
    n_sent = F.greatest(
        F.expr("regexp_count(text, '[.!?]+')"), F.lit(1)
    ).cast("bigint")
    n_syl = F.expr("regexp_count(lower(text), '[aeiouy]+')").cast("bigint")
    m = t.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syl.alias("n_syllables"),
    ).where(F.col("n_words") > 0)
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("n_words").cast("double") / F.col("n_sentences"))
        - F.lit(84.6) * (F.col("n_syllables").cast("double") / F.col("n_words"))
    )
    return m.select(
        "doc_id", "n_words", "n_sentences", "n_syllables",
        qround(flesch, 6).alias("flesch"),
    )


# The doc_char_entropy REGISTRY entry was merged into doc_quality_scores
# in the r8 rotation (same per-doc grain, one scan — the doc_token_stats
# / doc_readability merge pattern); the entropy expressions live inline
# in that query's select and its oracle's _ENTROPY_FOLD_SQL above.

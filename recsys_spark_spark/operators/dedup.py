"""Near-duplicate detection at scale (SURVEY L2).

Three probabilistic/bucketed flavors plus one exact flavor, all
DataFrame-native, all deterministic, all with DuckDB-replayable SQL
twins:

- **MinHash + banding** (`minhash_neardup_pairs`): token-shingle sets
  → ``n_hashes`` min-hashes → bands of ``rows_per_band`` → bucket
  join → exact-Jaccard verification of candidates.  The Jaccard
  kernel is the reference's set-overlap semantic
  (similarity/JaccardSimilarity.scala:22-29) lifted from rating
  vectors to shingle sets.
- **SimHash** (`simhash_neardup_pairs`): 60-bit per-doc fingerprint;
  pairs within Hamming distance ``max_hamming``.  With the 4-chunk
  pigeonhole join and max_hamming ≤ 3 this is EXACT, not
  probabilistic: any two 60-bit words differing in ≤3 bits agree on
  at least one 15-bit chunk.
- **Exact n-gram Jaccard** (`ngram_jaccard_pairs`): inverted-index
  self-join on shared shingles (only pairs sharing ≥1 shingle are
  enumerated — the same zero-overlap-omission argument as
  functions/similarity.py), exact Jaccard, threshold.
- Exact/normalized full-text hashing lives in plans/llm.py (L1).

Scale analysis (100 TB corpus):
- shingling + hashing are narrow maps (no shuffle);
- MinHash shuffles doc→signature (one row per doc per band, compact
  keys); bucket sizes bound the candidate join — O(Σ bucket²) per
  band, not O(n²);
- the exact-Jaccard verify touches only candidate pairs;
- `ngram_jaccard_pairs` is the exact fallback whose cost is
  O(Σ_shingle df²); ``max_doc_freq`` drops stop-shingles (a shingle
  in >N docs identifies nothing) to bound the hot keys — same skew
  rationale as plans/recsys.py MAX_RATERS_PER_ITEM.

Determinism / oracle story: every hash is the first 60 bits of
md5(seed|value) — reproducible in DuckDB with string md5 + integer
ops, so even the *probabilistic* pipelines get REAL value-hash
oracles (the oracle replays banding bit-for-bit rather than trusting
recall).  Recall itself is asserted in tests/test_dedup.py against
planted near-duplicates.  At production scale the same pipeline can
swap md5 for xxhash64 (cheaper, Spark-side only) via ``hash_mode``.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.rounding import qround
from ..lifecycle import materialize
from ..phases import phase

N_HASHES = 64
ROWS_PER_BAND = 4
SHINGLE = 3
SIMHASH_BITS = 60
SIMHASH_CHUNKS = 4
J_ROUND = 6


# --------------------------------------------------------------------------
# shared deterministic 60-bit hash
# --------------------------------------------------------------------------

def hash60(col: Column, seed: int | str = 0, hash_mode: str = "md5") -> Column:
    """First 60 bits of md5(seed|value) as a non-negative BIGINT —
    the cross-engine hash primitive (DuckDB twin: `hash60_sql`).
    ``hash_mode="xxhash64"`` is the cheap Spark-only production path
    (no oracle); NOTE its values are full-range SIGNED 64-bit — only
    the md5 mode honors the non-negative [0, 2^60) contract, so
    downstream modular math must tolerate negative values in xxhash
    mode (the Carter-Wegman % here yields values in (-p, p), still
    deterministic)."""
    if hash_mode == "xxhash64":
        return F.xxhash64(F.lit(str(seed)), col)
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{seed}|"), col.cast("string")).cast("binary")),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")


def hash60_sql(expr: str, seed: int | str = 0) -> str:
    """DuckDB twin of `hash60` (md5 mode)."""
    return (
        f"CAST(concat('0x', substr(md5(concat('{seed}|', {expr})), 1, 15)) AS BIGINT)"
    )


# --------------------------------------------------------------------------
# shingling
# --------------------------------------------------------------------------

def shingles_col(text: Column, n: int = SHINGLE) -> Column:
    """Distinct token n-gram shingles of a whitespace-tokenized text.
    Documents shorter than n tokens contribute their whole token list
    as one shingle (so no document vanishes)."""
    toks = F.split(text, " ")
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(starts, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    )


def shingle_rows(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = SHINGLE
) -> DataFrame:
    """Exploded (id, shingle) rows, distinct per document."""
    return docs.select(
        F.col(id_col).alias("id"),
        F.explode(shingles_col(F.col(text_col), n)).alias("s"),
    )


def shingles_sql(table: str = "documents", n: int = SHINGLE) -> str:
    """DuckDB twin of `shingle_rows` (as a subquery body)."""
    return f"""
SELECT DISTINCT doc_id AS id, array_to_string(list_slice(t, i, i + {n - 1}), ' ') AS s
FROM (SELECT doc_id, string_split(text, ' ') AS t FROM {table}) toks,
     UNNEST(generate_series(1, greatest(len(t) - {n - 1}, 1))) AS g(i)
""".strip()


# --------------------------------------------------------------------------
# MinHash + banding
# --------------------------------------------------------------------------

#: Mersenne prime 2³¹−1 — the Carter–Wegman modulus; products stay
#: < 2⁶², exact in any engine's BIGINT
CW_P = 2147483647


def cw_params(n_hashes: int = N_HASHES) -> list[tuple[int, int]]:
    """Deterministic (aᵢ, bᵢ) pairs for the 2-universal family
    hᵢ(x) = (aᵢ·x + bᵢ) mod p — derived from md5 in PYTHON and inlined
    as integer literals on both engines (no runtime hashing cost)."""
    out = []
    for i in range(n_hashes):
        a = int(hashlib.md5(f"a{i}".encode()).hexdigest()[:15], 16) % (CW_P - 1) + 1
        b = int(hashlib.md5(f"b{i}".encode()).hexdigest()[:15], 16) % CW_P
        out.append((a, b))
    return out


def minhash_signatures(
    sh_rows: DataFrame,
    n_hashes: int = N_HASHES,
    hash_mode: str = "md5",
) -> DataFrame:
    """(id, sig array<bigint>[n_hashes]): per-document min over the
    shingle hashes for each seed — permutation-free MinHash.

    Each shingle is hashed ONCE (md5 → 31-bit base); the n_hashes
    values come from the Carter–Wegman family (aᵢ·base + bᵢ) mod p —
    64 integer fma's instead of 64 cryptographic hashes per shingle
    (the difference between 9.6M and 150K md5 calls at sf0.1).  One
    shuffle on the doc id; parallel min aggregates, all JVM-side."""
    base = (hash60(F.col("s"), 0, hash_mode) % CW_P).alias("b31")
    hashed = sh_rows.select("id", base)
    mins = [
        F.min((F.col("b31") * a + b) % CW_P).alias(f"_h{i}")
        for i, (a, b) in enumerate(cw_params(n_hashes))
    ]
    agg = hashed.groupBy("id").agg(*mins)
    return agg.select(
        "id", F.array(*[F.col(f"_h{s}") for s in range(n_hashes)]).alias("sig")
    )


def band_rows(
    sigs: DataFrame,
    rows_per_band: int = ROWS_PER_BAND,
    n_hashes: int = N_HASHES,
) -> DataFrame:
    """(id, band, bsig): one compact string key per band — the LSH
    bucketing key.

    ``n_hashes`` must divide evenly into bands: a trailing partial
    band would silently change the recall curve AND diverge from the
    SQL twin (which banded the remainder hashes) — reject instead.
    """
    if n_hashes % rows_per_band != 0:
        raise ValueError(
            f"n_hashes={n_hashes} not divisible by rows_per_band="
            f"{rows_per_band}; a partial band silently changes recall"
        )
    n_bands = n_hashes // rows_per_band
    bands = F.array(
        *[
            F.concat_ws(
                ",",
                F.transform(
                    F.slice("sig", b * rows_per_band + 1, rows_per_band),
                    lambda x: x.cast("string"),
                ),
            )
            for b in range(n_bands)
        ]
    )
    return sigs.select("id", F.posexplode(bands).alias("band", "bsig"))


#: drop LSH band buckets larger than this before the candidate
#: self-join (hot-band guard — the same idiom as the dHash chunk cap
#: MAX_DHASH_BUCKET and the lift MAX_BASKET).  A band bucket of size m
#: emits C(m,2) candidate pairs: one boilerplate-heavy bucket of 10⁵
#: docs is 5·10⁹ pairs — the quadratic collapse the cap bounds.
#: Recall consequence (like dHash): a true near-dup pair is missed
#: only if EVERY band it collides in is over-cap; with 16 independent
#: bands that requires the pair to live exclusively in hot boilerplate
#: mass.  The shipped corpus' worst bucket sits far below the cap —
#: value-certified by dedup_cap_audit's minhash_band rows (over_cap
#: all zero), not asserted here.
MAX_MINHASH_BUCKET = 1000


def lsh_candidate_pairs(
    bands: DataFrame, max_bucket: int | None = None
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing at least one band bucket.

    ``max_bucket`` drops over-cap buckets BEFORE the self-join (see
    :data:`MAX_MINHASH_BUCKET`).  Guard shape (A/B'd at sf0.1, r10):
    over-cap keys are RARE by construction (zero on a healthy corpus,
    a handful of boilerplate families on a sick one), so aggregate to
    the tiny HOT key set and broadcast ANTI-join it — the only cost is
    the map-side-combinable count (measured +0.6-0.8 s on a 4.3 s
    sf0.1 line, ~15%; the semi-join and window-count variants measured
    +1.0-2.0 s, rejected — see PERF.md r10).  The broadcast stays
    O(hot families), never O(buckets)."""
    if max_bucket is not None:
        hot = (
            bands.groupBy("band", "bsig")
            .agg(F.count("*").alias("_bsz"))
            .where(F.col("_bsz") > max_bucket)
            .select("band", "bsig")
        )
        bands = bands.join(F.broadcast(hot), ["band", "bsig"], "anti")
    a = bands.select(F.col("id").alias("id_a"), "band", "bsig")
    b = bands.select(F.col("id").alias("id_b"), "band", "bsig")
    return (
        a.join(b, ["band", "bsig"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def verify_jaccard(
    cand: DataFrame,
    sh_rows: DataFrame,
    threshold: float,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over shingle sets, restricted to candidate pairs.
    jaccard = co / (n_a + n_b − co) — set form of the reference kernel
    (similarity/JaccardSimilarity.scala:22-29).

    ``sizes``: optional precomputed ``(id, n)`` set sizes — callers
    that already aggregate per-id over the shingle rows (the fused
    signature+size pass in :func:`minhash_neardup_pairs`) pass it in
    so this function does not re-scan ``sh_rows`` a second time.
    ``sh_rows`` may likewise be pre-restricted to the ids appearing in
    ``cand`` — the co-count join only ever reads those — as long as
    ``sizes`` still covers the FULL per-document shingle sets."""
    if sizes is None:
        sizes = sh_rows.groupBy("id").agg(F.count("*").alias("n"))
    a = sh_rows.select(F.col("id").alias("id_a"), "s")
    b = sh_rows.select(F.col("id").alias("id_b"), "s")
    co = (
        cand.join(a, "id_a")
        .join(b, ["id_b", "s"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("co"))
    )
    return (
        co.join(sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            qround(
                F.col("co") / (F.col("n_a") + F.col("n_b") - F.col("co")), J_ROUND
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_neardup_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = N_HASHES,
    rows_per_band: int = ROWS_PER_BAND,
    shingle: int = SHINGLE,
    hash_mode: str = "md5",
    max_bucket: int | None = MAX_MINHASH_BUCKET,
) -> DataFrame:
    """Full MinHash-LSH near-dedup: (id_a, id_b, jaccard ≥ threshold).

    Detection probability per true pair at Jaccard s:
    1 − (1 − s^rows_per_band)^(n_hashes/rows_per_band); defaults
    (16 bands × 4) give ≈1−4·10⁻⁸ at s=0.9 and 0.64 at s=0.5 — tune
    rows_per_band down for lower-similarity regimes.  ``max_bucket``
    (default :data:`MAX_MINHASH_BUCKET`, r10) caps band buckets
    before the candidate join; ``minhash_neardup_sql`` mirrors the
    same default so the two engines stay bit-equal at every
    setting."""
    # sh feeds FOUR subtrees (signatures, pair sizes, both verify join
    # sides).  spread_scan: the shingle explode + per-shingle hashing
    # is the CPU-heavy stage and must not inherit a 1-task file layout
    # (see readers.spread_scan).
    from ..sources.readers import spread_scan

    with phase("minhash_pairs"):
        sh = materialize(
            shingle_rows(spread_scan(docs), id_col, text_col, shingle),
            owner="dedup",
            eager=True,
        )
        sigs = minhash_signatures(sh, n_hashes, hash_mode)
        # cand feeds the id set AND the co join
        cand = materialize(
            lsh_candidate_pairs(band_rows(sigs, rows_per_band, n_hashes), max_bucket),
            owner="dedup",
            eager=True,
        )
        # r14: the exact-verify co-count join only reads shingles of docs
        # that appear in a candidate pair — a tiny subset on a healthy
        # corpus.  Restricting sh ONCE (broadcast semi-join on the
        # candidate ids) replaces the two full sh streams of the co join
        # with two scans of a small cached remnant; sizes stay the FULL
        # per-doc counts (computed from sh, unchanged values).  cand and
        # sh_c are O(near-dup docs) rows — KB-scale persists, unlike sh.
        ids = cand.select(
            F.explode(F.array("id_a", "id_b")).alias("id")
        ).distinct()
        # sh_c feeds both sides of the co join
        sh_c = materialize(
            sh.join(F.broadcast(ids), "id", "semi"), owner="dedup", eager=True
        )
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    return verify_jaccard(cand, sh_c, threshold, sizes=sizes)


def minhash_bands_ctes(
    table: str = "documents",
    n_hashes: int = N_HASHES,
    rows_per_band: int = ROWS_PER_BAND,
    shingle: int = SHINGLE,
) -> str:
    """The shingle → minhash → band CTE chain (sh / seeds / hashed /
    mh / bands), as a WITH-body fragment — the DuckDB twin of
    ``band_rows(minhash_signatures(shingle_rows(...)))``.  Shared by
    :func:`minhash_neardup_sql` and the cap-drop audit (plans/caps.py)
    so both replay the identical bucket population."""
    if n_hashes % rows_per_band != 0:
        raise ValueError(
            f"n_hashes={n_hashes} not divisible by rows_per_band="
            f"{rows_per_band} (see band_rows)"
        )
    seeds_rows = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(cw_params(n_hashes))
    )
    return f"""sh AS (
{shingles_sql(table, shingle)}
),
seeds(seed, a, b) AS (VALUES {seeds_rows}),
hashed AS (SELECT id, {hash60_sql("s")} % {CW_P} AS b31 FROM sh),
mh AS (
  SELECT hashed.id, seeds.seed, min((hashed.b31 * seeds.a + seeds.b) % {CW_P}) AS mh
  FROM hashed, seeds
  GROUP BY 1, 2
),
bands AS (
  SELECT id, seed // {rows_per_band} AS band,
         string_agg(mh::VARCHAR, ',' ORDER BY seed) AS bsig
  FROM mh GROUP BY 1, 2
)""".strip()


def minhash_neardup_sql(
    threshold: float = 0.5,
    table: str = "documents",
    n_hashes: int = N_HASHES,
    rows_per_band: int = ROWS_PER_BAND,
    shingle: int = SHINGLE,
    max_bucket: int | None = MAX_MINHASH_BUCKET,
) -> str:
    """DuckDB twin of `minhash_neardup_pairs` (md5 hash mode);
    mirrors the same ``max_bucket`` default so cap settings stay
    engine-symmetric."""
    okb = (
        ""
        if max_bucket is None
        else f"""okb AS (
  SELECT band, bsig FROM bands
  GROUP BY band, bsig HAVING count(*) <= {max_bucket}
),
"""
    )
    cap_join = (
        ""
        if max_bucket is None
        else "\n  JOIN okb k ON k.band = a.band AND k.bsig = a.bsig"
    )
    return f"""
WITH {minhash_bands_ctes(table, n_hashes, rows_per_band, shingle)},
{okb}cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bsig = b.bsig{cap_join}
  WHERE a.id < b.id
),
sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY 1),
co AS (
  SELECT c.id_a, c.id_b, count(*) AS co
  FROM cand c
  JOIN sh a ON a.id = c.id_a
  JOIN sh b ON b.id = c.id_b AND b.s = a.s
  GROUP BY 1, 2
)
SELECT co.id_a, co.id_b,
       floor((CAST(co.co AS DOUBLE) / (na.n + nb.n - co.co)) * 1000000.0 + 0.5)
         / 1000000.0 AS jaccard
FROM co
JOIN sizes na ON na.id = co.id_a
JOIN sizes nb ON nb.id = co.id_b
WHERE floor((CAST(co.co AS DOUBLE) / (na.n + nb.n - co.co)) * 1000000.0 + 0.5)
        / 1000000.0 >= {threshold}
""".strip()


# --------------------------------------------------------------------------
# exact n-gram Jaccard (inverted-index join)
# --------------------------------------------------------------------------

def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle: int = SHINGLE,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """EXACT near-dup pairs: every (id_a < id_b, jaccard ≥ threshold).

    Inverted-index self-join on shared shingles; pairs sharing no
    shingle have Jaccard 0 and are correctly absent.  ``max_doc_freq``
    drops shingles occurring in more than N documents before the join
    (stop-shingle skew guard; changes results only for pairs whose
    overlap is dominated by ubiquitous shingles)."""
    from ..sources.readers import spread_scan

    sh = shingle_rows(spread_scan(docs), id_col, text_col, shingle)
    if max_doc_freq is not None:
        df_counts = sh.groupBy("s").agg(F.count("*").alias("_df"))
        sh = sh.join(df_counts, "s").where(F.col("_df") <= max_doc_freq).drop("_df")
    # sh feeds three consumers (sizes + both sides of the self-join).
    # MEMORY_AND_DISK: shingle rows ≈ tokens × ids can exceed executor
    # memory at scale — spill, don't recompute.
    sh = materialize(sh, owner="dedup", eager=True)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("id").alias("id_a"), "s")
    b = sh.select(F.col("id").alias("id_b"), "s")
    co = (
        a.join(b, "s")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("co"))
    )
    return (
        co.join(sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            qround(
                F.col("co") / (F.col("n_a") + F.col("n_b") - F.col("co")), J_ROUND
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_sql(
    threshold: float = 0.5, table: str = "documents", shingle: int = SHINGLE
) -> str:
    """DuckDB twin of `ngram_jaccard_pairs` (no doc-freq cap)."""
    return f"""
WITH sh AS (
{shingles_sql(table, shingle)}
),
sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY 1),
co AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS co
  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
  GROUP BY 1, 2
)
SELECT co.id_a, co.id_b,
       floor((CAST(co.co AS DOUBLE) / (na.n + nb.n - co.co)) * 1000000.0 + 0.5)
         / 1000000.0 AS jaccard
FROM co
JOIN sizes na ON na.id = co.id_a
JOIN sizes nb ON nb.id = co.id_b
WHERE floor((CAST(co.co AS DOUBLE) / (na.n + nb.n - co.co)) * 1000000.0 + 0.5)
        / 1000000.0 >= {threshold}
""".strip()


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = SIMHASH_BITS,
    hash_mode: str = "md5",
) -> DataFrame:
    """(id, simhash bigint, n_tokens): 60-bit SimHash fingerprint.

    Every token *occurrence* votes ±1 on each bit of its 60-bit hash;
    bit b of the fingerprint is 1 iff the vote sum is ≥ 0.  One narrow
    map + one aggregation on the doc id."""
    from ..sources.readers import spread_scan

    docs = spread_scan(docs)
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    )
    h = toks.select("id", hash60(F.col("tok"), 0, hash_mode).alias("hv"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("hv"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"_s{b}")
        for b in range(n_bits)
    ]
    agg = h.groupBy("id").agg(F.count("*").alias("n_tokens"), *votes)
    sig = None
    for b in range(n_bits):
        term = F.when(F.col(f"_s{b}") >= 0, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sig = term if sig is None else sig + term
    return agg.select("id", sig.alias("simhash"), "n_tokens")


def simhash_neardup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_mode: str = "md5",
) -> DataFrame:
    """(id_a, id_b, hamming ≤ max_hamming) — EXACT for max_hamming ≤ 3.

    Pigeonhole banding: the 60-bit fingerprint splits into 4 chunks of
    15 bits; two words differing in ≤3 bits must agree on ≥1 chunk, so
    joining per-chunk finds every such pair (for larger max_hamming the
    join is a high-recall heuristic)."""
    sigs = simhash_signatures(docs, id_col, text_col, SIMHASH_BITS, hash_mode)
    chunk_width = SIMHASH_BITS // SIMHASH_CHUNKS
    mask = (1 << chunk_width) - 1
    chunks = F.array(
        *[
            F.shiftright(F.col("simhash"), c * chunk_width).bitwiseAND(F.lit(mask))
            for c in range(SIMHASH_CHUNKS)
        ]
    )
    ch = sigs.select("id", "simhash", F.posexplode(chunks).alias("c", "chunk"))
    a = ch.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("sig_a"), "c", "chunk"
    )
    b = ch.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("sig_b"), "c", "chunk"
    )
    cand = (
        a.join(b, ["c", "chunk"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )
    return (
        cand.select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def simhash_sql_core(table: str = "documents", n_bits: int = SIMHASH_BITS) -> str:
    """DuckDB CTE body computing (id, simhash, n_tokens)."""
    return f"""
toks AS (
  SELECT doc_id AS id, unnest(string_split(text, ' ')) AS tok FROM {table}
),
h AS (SELECT id, {hash60_sql("tok")} AS hv FROM toks),
votes AS (
  SELECT id, bb.b AS b,
         sum(CASE WHEN (hv >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS s,
         count(*) AS n
  FROM h, generate_series(0, {n_bits - 1}) bb(b)
  GROUP BY 1, 2
),
sig AS (
  SELECT id,
         CAST(sum(CASE WHEN s >= 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT)
           AS simhash,
         CAST(min(n) AS BIGINT) AS n_tokens
  FROM votes GROUP BY 1
)
""".strip()


def simhash_fingerprints_sql(table: str = "documents") -> str:
    return f"""
WITH {simhash_sql_core(table)}
SELECT id AS doc_id, simhash, n_tokens FROM sig
""".strip()


def simhash_neardup_sql(max_hamming: int = 3, table: str = "documents") -> str:
    chunk_width = SIMHASH_BITS // SIMHASH_CHUNKS
    mask = (1 << chunk_width) - 1
    return f"""
WITH {simhash_sql_core(table)},
ch AS (
  SELECT id, simhash, cc.c AS c, (simhash >> (cc.c * {chunk_width})) & {mask} AS chunk
  FROM sig, generate_series(0, {SIMHASH_CHUNKS - 1}) cc(c)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         a.simhash AS sig_a, b.simhash AS sig_b
  FROM ch a JOIN ch b ON a.c = b.c AND a.chunk = b.chunk
  WHERE a.id < b.id
)
SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(sig_a, sig_b)) <= {max_hamming}
""".strip()


# --------------------------------------------------------------------------
# Train/eval decontamination
# --------------------------------------------------------------------------

#: decontamination n-gram length — the standard contamination checks
#: match longer runs than near-dup shingling (8-13 grams in published
#: pipelines); the synthetic-corpus demo query passes 4
DECONTAM_NGRAM = 8


def decontaminate_pairs(
    train: DataFrame,
    evals: DataFrame,
    n: int = DECONTAM_NGRAM,
    min_shared: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_evals: bool = True,
) -> DataFrame:
    """Train/eval contamination check: every train document sharing at
    least ``min_shared`` distinct token n-grams with any eval document
    (the GPT-3-style benchmark-decontamination pass an LLM data
    pipeline runs before training).  Returns
    ``(train_id, eval_id, shared_shingles)``.

    SET SEMANTICS: shingle_rows emits per-document DISTINCT n-grams, so
    ``shared_shingles`` counts distinct shared n-grams — an n-gram
    repeated within a document counts once.  ``min_shared`` is
    therefore a distinct-overlap threshold; thresholds calibrated on
    raw token-occurrence counts from the literature do not transfer
    directly.

    Scale shape: inverted-index join on the shingle — the eval corpus
    is tiny next to 100 TB of train data, so its shingle set broadcasts
    (``broadcast_evals``) and the train side streams map-side with NO
    shuffle of train shingles; the only exchange is the per-pair count
    aggregate, bounded by actually-overlapping pairs.  For an eval set
    too big to broadcast, pass False for a shuffle join on the shingle
    (add a stop-shingle cap as in ngram_jaccard_pairs if df skew
    appears).  Joining on the raw shingle keeps the count exact; at
    extreme scale swap the key for hash60(s) to shrink the broadcast
    (collision odds ~|shingles|²/2⁶¹)."""
    from ..sources.readers import spread_scan

    t = shingle_rows(spread_scan(train), id_col, text_col, n).select(
        F.col("id").alias("train_id"), "s"
    )
    e = shingle_rows(evals, id_col, text_col, n).select(
        F.col("id").alias("eval_id"), "s"
    )
    if broadcast_evals:
        e = F.broadcast(e)
    return (
        t.join(e, "s")
        .groupBy("train_id", "eval_id")
        .agg(F.count("*").alias("shared_shingles"))
        .where(F.col("shared_shingles") >= min_shared)
    )


def remove_contaminated(
    train: DataFrame,
    evals: DataFrame,
    n: int = DECONTAM_NGRAM,
    min_shared: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train corpus with contaminated documents removed (anti-join on
    the flagged train ids)."""
    flagged = decontaminate_pairs(
        train, evals, n=n, min_shared=min_shared, id_col=id_col, text_col=text_col
    ).select(F.col("train_id").alias(id_col)).distinct()
    return train.join(flagged, id_col, "left_anti")


def decontaminate_sql(
    eval_pred: str,
    n: int = DECONTAM_NGRAM,
    min_shared: int = 1,
    table: str = "documents",
) -> str:
    """DuckDB twin of decontaminate_pairs where the eval split is
    defined by a predicate over the FULL ``table`` row (any column is
    in scope — the ids CTE evaluates it against the table itself and
    the shingle rows are semi-joined on id)."""
    return f"""
WITH sh AS (
{shingles_sql(table, n)}
),
eval_ids AS (SELECT doc_id AS id FROM {table} WHERE {eval_pred}),
ev AS (SELECT sh.* FROM sh JOIN eval_ids USING (id)),
tr AS (SELECT sh.* FROM sh WHERE id NOT IN (SELECT id FROM eval_ids)),
pairs AS (
  SELECT tr.id AS train_id, ev.id AS eval_id,
         count(*) AS shared_shingles
  FROM tr JOIN ev ON tr.s = ev.s
  GROUP BY 1, 2
)
SELECT train_id, eval_id, shared_shingles
FROM pairs WHERE shared_shingles >= {min_shared}
""".strip()


# --------------------------------------------------------------------------
# exact substring-duplication spans (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better": any ≥W-token window
# occurring verbatim in more than one document marks a duplicated
# region worth cutting)
# --------------------------------------------------------------------------

#: window length in whitespace tokens (the paper uses 50 BPE tokens;
#: 16 whitespace tokens is the equivalent grain for this corpus and
#: non-vacuous on the shipped data — 45 of 500 sf0.01 docs carry one)
DUP_WINDOW = 16


def duplicate_window_rows(
    docs: DataFrame,
    n: int = DUP_WINDOW,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Every stride-1 n-token window as ``(id, start, fp)`` — start is
    1-based (package shingle convention), fp is md5 of the
    space-joined window.  Documents shorter than n tokens have no
    n-token window and contribute nothing (unlike the Jaccard
    shingles, which keep short docs so set similarity stays defined).
    One narrow map + explode — O(total tokens) rows, no shuffle."""
    toks = F.split(F.col(text_col), " ")
    starts = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    return docs.where(F.size(toks) >= n).select(
        F.col(id_col).alias("id"),
        F.explode(
            F.transform(
                starts,
                lambda i: F.struct(
                    i.cast("long").alias("start"),
                    F.md5(
                        F.concat_ws(" ", F.slice(toks, i, n)).cast("binary")
                    ).alias("fp"),
                ),
            )
        ).alias("w"),
    ).select("id", "w.start", "w.fp")


def duplicate_spans(
    docs: DataFrame,
    n: int = DUP_WINDOW,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Maximal duplicated regions per document:
    ``(doc_id, span_start, span_end, n_windows)`` — every n-token
    window inside [span_start, span_end] occurs in ≥ ``min_docs``
    DISTINCT documents, and overlapping/adjacent duplicate windows are
    merged into one span (island detection over window starts).

    Scale shape (100 TB): the window relation is LINEAR in corpus
    tokens; the only wide operations are one fp-keyed aggregate
    (map-side-combinable count-distinct at 2 levels: (fp, id) then fp)
    and the semi-join back — the classic inverted-index shape, no
    suffix array and no pair join.  The per-doc island window runs
    over duplicate windows only (tiny).  A pathological fp shared by
    millions of docs costs one aggregate row, not a blowup — the
    semi-join returns each window row once regardless of how many
    documents share its fp."""
    w = duplicate_window_rows(docs, n, id_col, text_col)
    # two-level distinct count: (fp, id) pre-aggregate keeps the fp
    # shuffle payload at one row per (fp, doc) even when a doc repeats
    # a window internally
    dup_fp = (
        w.select("fp", "id")
        .distinct()
        .groupBy("fp")
        .agg(F.count("*").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("fp")
    )
    d = w.join(dup_fp, "fp", "semi")
    from pyspark.sql import Window

    win = Window.partitionBy("id").orderBy("start")
    brk = F.when(
        F.lag("start").over(win).isNull()
        | (F.col("start") > F.lag("start").over(win) + n),
        1,
    ).otherwise(0)
    gid = F.sum("brk").over(
        Window.partitionBy("id").orderBy("start").rowsBetween(
            Window.unboundedPreceding, 0
        )
    )
    return (
        d.withColumn("brk", brk)
        .withColumn("g", gid)
        .groupBy(F.col("id").alias("doc_id"), "g")
        .agg(
            F.min("start").alias("span_start"),
            (F.max("start") + (n - 1)).alias("span_end"),
            F.count("*").alias("n_windows"),
        )
        .select("doc_id", "span_start", "span_end", "n_windows")
    )


def duplicate_spans_sql(
    n: int = DUP_WINDOW, min_docs: int = 2, table: str = "documents"
) -> str:
    """DuckDB twin of :func:`duplicate_spans`."""
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM {table}),
w AS (
  SELECT doc_id, CAST(i AS BIGINT) AS start,
         md5(array_to_string(
               list_slice(t, CAST(i AS INTEGER), CAST(i AS INTEGER) + {n - 1}),
               ' ')) AS fp
  FROM toks, UNNEST(generate_series(1, len(t) - {n - 1})) AS g(i)
),
dupfp AS (
  SELECT fp FROM w GROUP BY fp HAVING count(DISTINCT doc_id) >= {min_docs}
),
d AS (SELECT w.* FROM w JOIN dupfp USING (fp)),
isl AS (
  SELECT doc_id, start,
         CASE WHEN lag(start) OVER win IS NULL
                OR start > lag(start) OVER win + {n} THEN 1 ELSE 0 END AS brk
  FROM d WINDOW win AS (PARTITION BY doc_id ORDER BY start)
),
gid AS (
  SELECT doc_id, start,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY start) AS g
  FROM isl
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       min(start) AS span_start,
       max(start) + {n - 1} AS span_end,
       CAST(count(*) AS BIGINT) AS n_windows
FROM gid GROUP BY doc_id, g
""".strip()


def dedup_cut_docs(
    docs: DataFrame,
    n: int = DUP_WINDOW,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove all-but-one occurrence of every duplicated region — the
    CUT half of the Lee et al. 2022 exact-substring dedup (the spans
    query only detects): rebuild each document's text with the
    duplicated tokens removed, keeping the single keeper occurrence.

    Deterministic keeper rule: per duplicate window fingerprint the
    keeper occurrence is the lexicographically smallest
    ``(doc_id, start)``; a token position is cut iff ≥1 duplicate
    window covers it AND NO keeper-occurrence window covers it (so
    overlapping keeper/non-keeper windows resolve in favor of
    keeping — conservative, never cuts the kept copy's context).

    Returns every input document: ``(doc_id, text_clean,
    n_cut_tokens)`` — untouched docs pass through verbatim with 0.

    Scale shape: everything linear or duplicate-bounded — the window
    relation is O(tokens); keeper election is one fp-keyed min; the
    coverage explode is O(duplicate_windows × n) (duplicates only,
    NOT the corpus); the rebuild is one posexplode + anti-join +
    per-doc ordered re-assembly.  No suffix array, no pair join."""
    from pyspark.sql import Window as _W  # noqa: F401  (doc parity)

    # r15 restructure (guide §2.4 fewer passes/joins): the old shape —
    # dup_fp aggregate, w ⋈ dup_fp, a SECOND keeper aggregate over the
    # join, then occ = join ⋈ keepers — planned THREE computations of
    # the window-fingerprint relation (fp aggregate + both join
    # consumers) and two fp-keyed join stages.  One combined aggregate
    # (distinct-doc count + min-(id,start) keeper — identical keeper
    # set: d's rows per fp ARE w's rows per fp) and one join back
    # leaves w with two consumers, cached so the corpus gets ONE
    # window-md5 pass (§5: reused twice, recompute = a full per-window
    # md5 pass — the cache spills to disk above memory, still cheaper
    # than recomputing cryptographic hashes of O(corpus tokens)
    # windows).
    w = materialize(
        duplicate_window_rows(docs, n, id_col, text_col), owner="dedup", eager=True
    )
    fpagg = (
        w.select("fp", "id", "start")
        .groupBy("fp")
        .agg(
            F.count_distinct("id").alias("nd"),
            F.min(F.struct("id", "start")).alias("k"),
        )
        .where(F.col("nd") >= min_docs)
        .select("fp", "k")
    )
    occ = w.join(fpagg, "fp").select(
        "id",
        "start",
        (
            (F.col("id") == F.col("k.id")) & (F.col("start") == F.col("k.start"))
        ).alias("is_keeper"),
    )
    coverage = occ.select(
        "id",
        F.explode(F.sequence("start", F.col("start") + (n - 1))).alias("pos"),
        "is_keeper",
    )
    # cut (duplicate-bounded) feeds the token anti-join AND the
    # per-doc cut counts
    cut = materialize(
        coverage.groupBy("id", "pos")
        .agg(F.max("is_keeper").alias("any_keeper"))
        .where(~F.col("any_keeper"))
        .select("id", "pos"),
        owner="dedup",
        eager=True,
    )
    # r14 note (examined, measured, REJECTED at bench scale): a
    # duplicate-bounded rebuild — semi-join docs to the ids with ≥1
    # cut position, pass every untouched doc through verbatim (split +
    # single-space rejoin is the identity, so the rebuild only needs
    # the 221/5000 touched docs at sf0.1) — measured +1.4 s on
    # corpus_train_ready at sf0.1 in an ABAB A/B: the extra persist /
    # distinct / semi-join stages cost more than the saved posexplode
    # over a 5k-doc corpus.  At a 100 TB corpus the restricted shape
    # wins (rebuild cost becomes O(duplicate tokens), not O(corpus
    # tokens)); revisit when the input regime changes.
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos0", "tok"),
    ).select("id", (F.col("pos0") + 1).cast("long").alias("pos"), "tok")
    kept = toks.join(cut, ["id", "pos"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("text_clean")
    )
    n_cut = cut.groupBy("id").agg(F.count("*").alias("n_cut_tokens"))
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(rebuilt.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .join(n_cut.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            F.coalesce("n_cut_tokens", F.lit(0).cast("long")).alias(
                "n_cut_tokens"
            ),
        )
    )


def dedup_cut_sql(
    n: int = DUP_WINDOW, min_docs: int = 2, table: str = "documents"
) -> str:
    """DuckDB twin of :func:`dedup_cut_docs`."""
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM {table}),
w AS (
  SELECT doc_id, CAST(i AS BIGINT) AS start,
         md5(array_to_string(
               list_slice(t, CAST(i AS INTEGER), CAST(i AS INTEGER) + {n - 1}),
               ' ')) AS fp
  FROM toks, UNNEST(generate_series(1, len(t) - {n - 1})) AS g(i)
),
dupfp AS (
  SELECT fp FROM w GROUP BY fp HAVING count(DISTINCT doc_id) >= {min_docs}
),
d AS (SELECT w.* FROM w JOIN dupfp USING (fp)),
keepers AS (
  SELECT fp, min(struct_pack(doc_id := doc_id, start := start)) AS k
  FROM d GROUP BY fp
),
occ AS (
  SELECT d.doc_id, d.start,
         (d.doc_id = k.k.doc_id AND d.start = k.k.start) AS is_keeper
  FROM d JOIN keepers k USING (fp)
),
coverage AS (
  SELECT doc_id, CAST(p AS BIGINT) AS pos, is_keeper
  FROM occ, UNNEST(generate_series(start, start + {n - 1})) AS gp(p)
),
cut AS (
  SELECT doc_id, pos FROM coverage
  GROUP BY doc_id, pos HAVING NOT bool_or(is_keeper)
),
tk AS (
  SELECT doc_id, CAST(p AS BIGINT) AS pos, t[CAST(p AS INTEGER)] AS tok
  FROM toks, UNNEST(generate_series(1, len(t))) AS gp(p)
),
kept AS (
  SELECT tk.* FROM tk
  WHERE NOT EXISTS (SELECT 1 FROM cut c
                    WHERE c.doc_id = tk.doc_id AND c.pos = tk.pos)
),
rebuilt AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean
  FROM kept GROUP BY doc_id
),
ncut AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cut_tokens
  FROM cut GROUP BY doc_id
)
SELECT CAST(dd.doc_id AS BIGINT) AS doc_id,
       coalesce(r.text_clean, '') AS text_clean,
       coalesce(nc.n_cut_tokens, 0) AS n_cut_tokens
FROM {table} dd
LEFT JOIN rebuilt r ON r.doc_id = dd.doc_id
LEFT JOIN ncut nc ON nc.doc_id = dd.doc_id
""".strip()

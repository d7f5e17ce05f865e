"""Multimodal-column queries (BASELINE north star).

The binary payload here is the UTF-8 document text (the corpus is
ASCII, so the DuckDB oracle reproduces byte math from the text
column); the Spark side runs the REAL binary path — encode → Arrow
batch → mapInPandas byte slicing/hashing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import (
    FRAME_BYTES,
    FRAME_EVERY,
    binary_features,
    frame_samples,
    with_binary_content,
)
from ..sources.readers import table
from .registry import register


@register(
    "multimodal_features_frames",
    oracle=f"""
WITH feats AS (
  SELECT doc_id AS id, 'text' AS modality,
         CAST(length(text) AS BIGINT) AS n_bytes,
         md5(text) AS content_md5
  FROM documents
),
frames AS (
  SELECT doc_id AS id, ff.i AS frame_idx,
         md5(substr(text, CAST(ff.i AS INTEGER) * {FRAME_BYTES} + 1, {FRAME_BYTES}))
           AS frame_md5
  FROM documents,
       UNNEST(generate_series(
         0, greatest((length(text) + {FRAME_BYTES - 1}) // {FRAME_BYTES}, 1) - 1))
         AS ff(i)
)
SELECT f.id, f.modality, f.n_bytes, f.content_md5,
       CAST(fr.frame_idx AS INTEGER) AS frame_idx, fr.frame_md5
FROM feats f JOIN frames fr ON fr.id = f.id
WHERE fr.frame_idx % {FRAME_EVERY} = 0
""",
)
def multimodal_features_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column decode harness, both shapes in one query (merged
    from the former multimodal_features + multimodal_frame_samples
    registry entries): per-payload feature extraction (1:1) JOINED
    with one-to-many frame sampling (the video frame-extraction
    shape), each through its own Arrow-batched mapInPandas pass.
    Output grain = sampled frame, carrying the payload-level features;
    both UDF paths are value-checked by the oracle on every row.

    Scale note: the join key is the payload id — frame rows join
    against the 1:1 feature rows co-partitioned by id; binary payloads
    themselves never shuffle (both mapInPandas passes are narrow)."""
    docs = with_binary_content(table(spark, sf_dir, "documents"))
    feats = binary_features(docs)
    frames = frame_samples(docs)
    return frames.join(feats, "id").select(
        "id", "modality", "n_bytes", "content_md5", "frame_idx", "frame_md5"
    )


def _ppm_resize_sql() -> str:
    """DuckDB twin of the REAL decode→resize path: regenerates the
    deterministic raster (md5 blocks of text), picks the same
    nearest-neighbor byte positions as hex slices, and fingerprints
    the resized raster — value-hash parity for genuinely decoded
    pixels."""
    from ..operators.multimodal import PPM_H, PPM_W, RESIZE_H, RESIZE_W

    n_bytes = PPM_W * PPM_H * 3
    n_blocks = (n_bytes + 15) // 16
    raster_hex = " || ".join(
        f"md5(text || ':{i}')" for i in range(n_blocks)
    )
    slices = []
    for y in range(RESIZE_H):
        sy = (y * PPM_H) // RESIZE_H
        for x in range(RESIZE_W):
            sx = (x * PPM_W) // RESIZE_W
            off = (sy * PPM_W + sx) * 3
            slices.append(f"substr(raster_hex, {off * 2 + 1}, 6)")
    resized_hex = " || ".join(slices)
    return f"""
WITH raster AS (
  SELECT doc_id, substr({raster_hex}, 1, {n_bytes * 2}) AS raster_hex
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS id,
       CAST({PPM_W} AS INTEGER) AS src_width,
       CAST({PPM_H} AS INTEGER) AS src_height,
       CAST({RESIZE_W} AS INTEGER) AS width,
       CAST({RESIZE_H} AS INTEGER) AS height,
       md5({resized_hex}) AS resized_md5
FROM raster
""".strip()


@register("multimodal_ppm_resize", oracle=_ppm_resize_sql())
def multimodal_ppm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode + resize (new r5, retiring the round-1..4
    image stub): every document gets a genuine P6 PPM payload
    (deterministic md5-block raster, real netpbm encoder), which
    resize_images then DECODES (header parse + raster reshape) and
    nearest-neighbor resamples inside Arrow-batched mapInPandas; the
    oracle independently rebuilds the raster and the same resample
    positions in SQL, so the decoded-pixel math is value-hash-checked
    on every row."""
    from ..operators.multimodal import resize_images, with_ppm_content

    docs = table(spark, sf_dir, "documents")
    return resize_images(with_ppm_content(docs))


def _wav_features_sql() -> str:
    """DuckDB twin of the REAL WAV decode→feature path: regenerates
    the deterministic int16 little-endian samples from the md5 blocks
    and recomputes count/rate/peak/RMS — value-hash parity for
    genuinely decoded audio."""
    from ..operators.multimodal import WAV_RATE, WAV_SAMPLES

    # sample j lives in md5 block j//8 at hex offset (j%8)*4
    # (lo byte then hi byte — little endian)
    return f"""
WITH s AS (
  SELECT doc_id,
         CAST(concat('0x',
              substr(md5(text || '~' || (j // 8)), (j % 8) * 4 + 3, 2),
              substr(md5(text || '~' || (j // 8)), (j % 8) * 4 + 1, 2))
           AS INTEGER) AS u
  FROM documents, generate_series(0, {WAV_SAMPLES - 1}) t(j)
),
sv AS (
  SELECT doc_id, CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v
  FROM s
)
SELECT CAST(doc_id AS BIGINT) AS id,
       CAST({WAV_SAMPLES} AS BIGINT) AS n_samples,
       CAST({WAV_RATE} AS INTEGER) AS sample_rate,
       CAST(max(abs(v)) AS BIGINT) AS peak,
       floor(sqrt(avg(CAST(v AS DOUBLE) * v)) * 1000000.0 + 0.5)
         / 1000000.0 AS rms
FROM sv GROUP BY doc_id
""".strip()


@register("multimodal_wav_features", oracle=_wav_features_sql())
def multimodal_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode (new r5, retiring the engine's LAST decode
    stub): every document gets a genuine RIFF/WAVE payload (16-bit
    mono PCM, deterministic md5-block samples, real struct-packed
    encoder), which audio_features then DECODES (RIFF chunk walk +
    fmt validation + sample extraction) and reduces to
    count/rate/peak/RMS; the oracle independently rebuilds the int16
    samples from the md5 hex and recomputes the same features, so the
    decoded-sample math is value-hash-checked on every row."""
    from ..operators.multimodal import audio_features, with_wav_content

    docs = table(spark, sf_dir, "documents")
    return audio_features(with_wav_content(docs))


def _video_frames_sql() -> str:
    """DuckDB twin of the REAL demux→decode→resize video path: for
    each SAMPLED frame it regenerates that frame's deterministic
    raster (md5 blocks of text keyed by frame index), fingerprints the
    decoded raster hex, picks the same nearest-neighbor byte positions
    as hex slices, and fingerprints the resized raster — value-hash
    parity for genuinely demuxed and decoded frames (one UNION ALL arm
    per sampled frame; the sampling stride is FRAME_EVERY)."""
    from ..operators.multimodal import (
        FRAME_EVERY,
        PPM_H,
        PPM_W,
        RESIZE_H,
        RESIZE_W,
        VIDEO_FRAMES,
    )

    n_bytes = PPM_W * PPM_H * 3
    n_blocks = (n_bytes + 15) // 16
    slices = []
    for y in range(RESIZE_H):
        sy = (y * PPM_H) // RESIZE_H
        for x in range(RESIZE_W):
            sx = (x * PPM_W) // RESIZE_W
            off = (sy * PPM_W + sx) * 3
            slices.append(f"substr(raster_hex, {off * 2 + 1}, 6)")
    resized_hex = " || ".join(slices)
    arms = []
    for f in range(0, VIDEO_FRAMES, FRAME_EVERY):
        raster_hex = " || ".join(
            f"md5(text || '@{f}:{i}')" for i in range(n_blocks)
        )
        arms.append(
            f"""
SELECT CAST(doc_id AS BIGINT) AS id,
       CAST({f} AS INTEGER) AS frame_idx,
       CAST({PPM_W} AS INTEGER) AS src_width,
       CAST({PPM_H} AS INTEGER) AS src_height,
       md5(raster_hex) AS frame_md5,
       md5({resized_hex}) AS resized_md5
FROM (
  SELECT doc_id, substr({raster_hex}, 1, {n_bytes * 2}) AS raster_hex
  FROM documents
)""".strip()
        )
    return "\nUNION ALL\n".join(arms)


@register("multimodal_video_frames", oracle=_video_frames_sql())
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video demux + per-frame decode + resize (new r6, retiring
    the engine's LAST deterministic-fake harness): every document gets
    a genuine concatenated-P6 video container (VIDEO_FRAMES real
    netpbm frames, deterministic md5-block rasters), which
    video_frame_features then DEMUXES by parsing each frame's own
    header, samples every FRAME_EVERY-th frame, DECODES its pixel
    raster and nearest-neighbor resamples it; the oracle independently
    rebuilds each sampled frame's raster and the same resample
    positions in SQL, so the demux boundaries AND the decoded-pixel
    math are value-hash-checked on every emitted frame.  Queued at the
    r7 rotation head for its first driver row."""
    from ..operators.multimodal import video_frame_features, with_video_content

    docs = table(spark, sf_dir, "documents")
    return video_frame_features(with_video_content(docs))


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone per-payload feature extraction (library form; the
    registered query is multimodal_features_frames)."""
    docs = table(spark, sf_dir, "documents")
    return binary_features(with_binary_content(docs))


def multimodal_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone frame sampling (library form; the registered query
    is multimodal_features_frames)."""
    docs = table(spark, sf_dir, "documents")
    return frame_samples(with_binary_content(docs))


# --- perceptual-hash image dedup (multimodal × dedup family) -----------------
def _dhash_sql_parts() -> tuple[list[str], str]:
    """(luma select list, bit-string expression) over a ``raster_hex``
    column — the SQL replay of image_dhash's grid sample + integer
    luma + horizontal gradient, shared by the exact-dedup and
    near-pairs oracles so the two can never drift."""
    from ..operators.multimodal import (
        DHASH_GRID_H,
        DHASH_GRID_W,
        PPM_H,
        PPM_W,
    )

    def px(hexpos: int) -> str:
        return (
            f"CAST(concat('0x', substr(raster_hex, {hexpos}, 2)) AS BIGINT)"
        )

    lumas = []
    for y in range(DHASH_GRID_H):
        sy = (y * PPM_H) // DHASH_GRID_H
        for x in range(DHASH_GRID_W):
            sx = (x * PPM_W) // DHASH_GRID_W
            off = (sy * PPM_W + sx) * 3
            p = off * 2 + 1
            lumas.append(
                f"299 * {px(p)} + 587 * {px(p + 2)} + 114 * {px(p + 4)}"
                f" AS l_{y}_{x}"
            )
    bits = " || ".join(
        f"CASE WHEN l_{y}_{x + 1} > l_{y}_{x} THEN '1' ELSE '0' END"
        for y in range(DHASH_GRID_H)
        for x in range(DHASH_GRID_W - 1)
    )
    return lumas, bits


def _raster_hex_sql() -> str:
    """The deterministic md5-block raster as hex, replaying
    with_ppm_content's block construction."""
    from ..operators.multimodal import PPM_H, PPM_W

    n_bytes = PPM_W * PPM_H * 3
    n_blocks = (n_bytes + 15) // 16
    blocks = " || ".join(f"md5(text || ':{i}')" for i in range(n_blocks))
    return f"substr({blocks}, 1, {n_bytes * 2})"


def _image_dhash_dedup_sql() -> str:
    """DuckDB twin of the decode→dHash→group pipeline: regenerates the
    deterministic raster (md5 blocks of text), parses the SAME sampled
    pixel bytes from hex, applies the identical integer-luma compare,
    and groups the 64-bit strings — every dHash bit is value-hash
    parity-checked per row."""
    lumas, bits = _dhash_sql_parts()
    return f"""
WITH raster AS (
  SELECT doc_id, {_raster_hex_sql()} AS raster_hex
  FROM documents
),
luma AS (
  SELECT doc_id, {", ".join(lumas)} FROM raster
),
hashed AS (
  SELECT doc_id, {bits} AS dhash FROM luma
)
SELECT CAST(doc_id AS BIGINT) AS id, dhash,
       CAST(count(*) OVER (PARTITION BY dhash) AS BIGINT) AS group_size,
       CAST(doc_id = min(doc_id) OVER (PARTITION BY dhash) AS INTEGER)
         AS is_keeper
FROM hashed
""".strip()


@register(
    "multimodal_image_dhash_dedup", oracle=_image_dhash_dedup_sql()
)
def multimodal_image_dhash_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Image near-duplicate detection by perceptual difference hash
    (Krawetz dHash) — the multimodal member of the dedup family: every
    document's REAL P6 PPM payload is decoded, luma-sampled on the
    9×8 grid, turned into the 64-bit horizontal-gradient fingerprint
    (operators/multimodal.py::image_dhash), and images sharing a
    fingerprint form a duplicate group with the min-id keeper rule the
    text dedups use.  dHash is invariant to the content-preserving
    transforms that break byte-exact dedup (resize, mild compression),
    which is why production image pipelines fingerprint pixels, not
    bytes.  On the synthetic corpus the rasters are md5-random so all
    groups are singletons — the per-row BIT parity is what the oracle
    certifies here; the grouping semantics are pinned by the
    injected-duplicate pytest (round-1 vacuity lesson).

    Scale shape: decode + hash is one Arrow-batched narrow map; the
    group stats are one |distinct-hash|-keyed window — the same
    md5-shuffle shape as exact text dedup (never the pixels; 8 bytes
    of fingerprint per image cross the wire).  Near-MISS matching at
    Hamming ≤ 3 ships as
    operators/multimodal.py::image_dhash_near_pairs (pigeonhole band
    join, exact by the same argument as SimHash; pytest-pinned)."""
    from pyspark.sql import Window

    from ..operators.multimodal import image_dhash, with_ppm_content

    docs = table(spark, sf_dir, "documents")
    hashed = image_dhash(with_ppm_content(docs))
    w = Window.partitionBy("dhash")
    return hashed.select(
        "id",
        "dhash",
        F.count("*").over(w).cast("bigint").alias("group_size"),
        (F.col("id") == F.min("id").over(w)).cast("int").alias("is_keeper"),
    )


def dhash_twinned_hashed_ctes() -> str:
    """WITH-body fragment (base / twin / allr / luma / hashed) that
    rebuilds the registered near-pairs corpus — base rasters PLUS the
    planted twins (hex overlay of 'ffffff' at the modified pixel's
    byte offset, exactly with_ppm_twin_content's mutation) — and
    replays the dHash bits.  Shared by the near-pairs oracle and the
    cap-drop audit (plans/caps.py) so both see the identical
    fingerprint population."""
    from ..operators.multimodal import (
        PPM_W,
        TWIN_EVERY,
        TWIN_ID_OFFSET,
        TWIN_PIX_X,
        TWIN_PIX_Y,
    )

    lumas, bits = _dhash_sql_parts()
    off = (TWIN_PIX_Y * PPM_W + TWIN_PIX_X) * 3 * 2  # hex chars before pixel
    return f"""base AS (
  SELECT CAST(doc_id AS BIGINT) AS id, {_raster_hex_sql()} AS raster_hex
  FROM documents
),
twin AS (
  SELECT id + {TWIN_ID_OFFSET} AS id,
         substr(raster_hex, 1, {off}) || 'ffffff' ||
           substr(raster_hex, {off + 7}) AS raster_hex
  FROM base WHERE id % {TWIN_EVERY} = 0
),
allr AS (SELECT * FROM base UNION ALL SELECT * FROM twin),
luma AS (
  SELECT id, {", ".join(lumas)} FROM allr
),
hashed AS (
  SELECT id, {bits} AS dhash FROM luma
)"""


def _image_dhash_near_pairs_sql() -> str:
    """DuckDB twin of the Hamming-tolerant match: rebuilds BOTH the
    base rasters and the planted twins' rasters (hex overlay of
    'ffffff' at the modified pixel's byte offset — exactly
    with_ppm_twin_content's mutation), replays the dHash bits via the
    shared _dhash_sql_parts, then brute-force joins with an exact
    per-character Hamming count.  Brute force is the SEMANTIC
    definition the banded Spark plan must equal: for max_hamming ≤
    DHASH_CHUNKS − 1 the pigeonhole argument makes the band join
    exact, and the registered query runs uncapped (max_bucket=None —
    r8 ADVICE), so a value-hash match certifies band generation +
    verify end-to-end; the default cap's drop volume is what
    plans/caps.py::dedup_cap_audit surfaces."""
    hamming = (
        "CAST(len(list_filter(range(1, 65), i -> "
        "substr(a.dhash, CAST(i AS INTEGER), 1) "
        "<> substr(b.dhash, CAST(i AS INTEGER), 1))) AS INTEGER)"
    )
    return f"""
WITH {dhash_twinned_hashed_ctes()}
SELECT id_a, id_b, hamming FROM (
  SELECT a.id AS id_a, b.id AS id_b, {hamming} AS hamming
  FROM hashed a JOIN hashed b ON a.id < b.id
)
WHERE hamming BETWEEN 1 AND 3
""".strip()


@register(
    "image_dhash_near_pairs", oracle=_image_dhash_near_pairs_sql()
)
def image_dhash_near_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-tolerant perceptual image matching — the production
    image-dedup MODE (re-encodes and single-pixel noise flip a few
    gradient bits; exact-hash grouping alone misses them), now under
    the oracle discipline like every other dedup family member (r7
    VERDICT #3: the un-oracled paths are where round-1's vacuity
    lesson bit).

    The corpus's md5-random rasters never collide below Hamming 4, so
    the query PLANTS deterministic near-miss twins (every TWIN_EVERY-th
    document re-encoded with one dHash-sampled pixel forced to peak
    luminance — operators/multimodal.py::with_ppm_twin_content); each
    twin lands at Hamming 0-2 from its base depending on the base's
    own gradient bits, giving the band join real sub-threshold matches
    whose distances the oracle value-checks (the PII planted-span
    convention).  Hamming-0 twins are excluded by the operator's
    near-MISS contract — they belong to the exact-dedup group.

    Scale shape: candidates share a 16-bit chunk key (never all
    pairs) and only 8 fingerprint bytes per image shuffle.  The
    ORACLED query runs UNCAPPED (``max_bucket=None``): the DuckDB
    oracle models brute-force all-pairs with no hot-chunk cap, so a
    capped run on a low-texture corpus would silently drop pairs the
    oracle still counts (r8 ADVICE — plan/oracle desync).  Production
    callers keep the MAX_DHASH_BUCKET default; the dropped-bucket
    volume that cap hides is surfaced by ``dedup_cap_audit``."""
    from ..operators.multimodal import (
        image_dhash,
        image_dhash_near_pairs,
        with_ppm_content,
        with_ppm_twin_content,
    )

    docs = table(spark, sf_dir, "documents")
    payloads = with_ppm_content(docs).unionByName(with_ppm_twin_content(docs))
    return image_dhash_near_pairs(
        image_dhash(payloads), max_hamming=3, max_bucket=None
    )

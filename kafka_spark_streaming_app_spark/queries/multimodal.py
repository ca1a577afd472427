"""Multimodal queries: typed-metadata projection (oracle-checked) and
the mapInPandas feature/frame stages (rows-only — Python UDF bodies
are not SQL-expressible)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import (
    decode_audio_stats,
    decode_image_stats,
    decode_video_frame_stats,
    extract_features,
    extract_features_arrow,
    image_header_metadata,
    sample_frames,
    synthesize_audio_media,
    synthesize_image_media,
    synthesize_media,
    synthesize_video_media,
)
from ..registry import query
from ..sources.batch import load_table

_META_ORACLE = """
SELECT
    doc_id AS media_id,
    CASE WHEN doc_id % 3 = 0 THEN 'image'
         WHEN doc_id % 3 = 1 THEN 'audio'
         ELSE 'video' END AS media_type,
    octet_length(encode(text)) AS n_bytes,
    CASE WHEN doc_id % 3 = 0 THEN CAST(n_chars % 640 + 16 AS INTEGER) END AS width,
    CASE WHEN doc_id % 3 = 0 THEN CAST(n_chars % 480 + 16 AS INTEGER) END AS height,
    CASE WHEN doc_id % 3 = 1 THEN 16000 END AS sample_rate,
    CASE WHEN doc_id % 3 = 2 THEN CAST(n_chars % 32 + 2 AS INTEGER) END AS n_frames
FROM documents
"""


@query("multimodal_metadata", _META_ORACLE)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload + typed metadata struct: the JVM-side projection
    (payload length, struct field access) that prunes/filters media
    before any Python decode cost."""
    media = synthesize_media(load_table(spark, sf_dir, "documents"))
    return media.select(
        "media_id",
        "media_type",
        F.octet_length("payload").cast("bigint").alias("n_bytes"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.sample_rate").alias("sample_rate"),
        F.col("meta.n_frames").alias("n_frames"),
    )


# The fake featurizer computes byte stats from EXACT integer power
# sums, so the whole feature row is SQL-expressible: the oracle
# re-derives per-byte values from the hex encoding of the payload.
_FEATURES_ORACLE = """
WITH b AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS media_type,
           hex(encode(text)) AS h,
           octet_length(encode(text)) AS n
    FROM documents
),
bytes AS (
    SELECT doc_id, ('0x' || substr(h, 2 * i - 1, 2))::INT AS v
    FROM (SELECT doc_id, h, unnest(range(1, n + 1)) AS i FROM b)
),
stats AS (
    SELECT doc_id, count(*) AS n_bytes, sum(v) AS s, sum(v * v) AS ss
    FROM bytes GROUP BY doc_id
),
binc AS (
    SELECT doc_id, v // 16 AS bin, count(*) AS c FROM bytes GROUP BY 1, 2
),
bins AS (
    SELECT b.doc_id, g.bin, coalesce(c.c, 0) AS c
    FROM b
    CROSS JOIN generate_series(0, 15) AS g(bin)
    LEFT JOIN binc c ON c.doc_id = b.doc_id AND c.bin = g.bin
),
hist AS (
    SELECT doc_id, string_agg(c::VARCHAR, ',' ORDER BY bin) AS histogram
    FROM bins GROUP BY doc_id
)
SELECT
    b.doc_id AS media_id,
    b.media_type,
    coalesce(s.n_bytes, 0) AS n_bytes,
    CASE WHEN coalesce(s.n_bytes, 0) = 0 THEN 0.0
         ELSE round(s.s::DOUBLE / s.n_bytes, 6) END AS byte_mean,
    CASE WHEN coalesce(s.n_bytes, 0) = 0 THEN 0.0
         ELSE round(sqrt(greatest(0.0,
              s.ss::DOUBLE / s.n_bytes
              - (s.s::DOUBLE / s.n_bytes) * (s.s::DOUBLE / s.n_bytes))), 6)
    END AS byte_std,
    h.histogram
FROM b
LEFT JOIN stats s ON s.doc_id = b.doc_id
LEFT JOIN hist h ON h.doc_id = b.doc_id
"""


@query("multimodal_features", _FEATURES_ORACLE)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched byte-feature extraction (mapInPandas), projected
    to a canon-safe shape for the harness: the histogram array is
    serialized to a comma-joined string (array columns are unhashable
    driver-side), mean/std rounded at the engine boundary."""
    media = synthesize_media(load_table(spark, sf_dir, "documents"))
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "media_type",
        "n_bytes",
        F.round("byte_mean", 6).alias("byte_mean"),
        F.round("byte_std", 6).alias("byte_std"),
        F.array_join(F.col("histogram").cast("array<string>"), ",").alias(
            "histogram"
        ),
    )


@query("multimodal_features_arrow", _FEATURES_ORACLE)
def multimodal_features_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapInArrow face of the featurizer (RecordBatch in/out, no
    pandas materialization), checked against the SAME oracle as the
    pandas path — both faces provably compute identical values."""
    media = synthesize_media(load_table(spark, sf_dir, "documents"))
    feats = extract_features_arrow(media)
    return feats.select(
        "media_id",
        "media_type",
        "n_bytes",
        F.round("byte_mean", 6).alias("byte_mean"),
        F.round("byte_std", 6).alias("byte_std"),
        F.array_join(F.col("histogram").cast("array<string>"), ",").alias(
            "histogram"
        ),
    )


# Frame expansion over the deterministic fake is pure arithmetic:
# video docs have n_frames = n_chars % 32 + 2, slices of step
# max(n_bytes // n_frames, 1), sampled every 2nd index. The oracle
# reproduces ids × frame indices and each slice's byte length.
_FRAMES_ORACLE = """
WITH v AS (
    SELECT doc_id,
           octet_length(encode(text)) AS nb,
           (n_chars % 32 + 2) AS n_frames
    FROM documents
    WHERE doc_id % 3 = 2
),
f AS (
    SELECT doc_id, nb,
           greatest(nb // greatest(n_frames, 1), 1) AS step,
           unnest(range(0, n_frames, 2)) AS frame_idx
    FROM v
)
SELECT
    doc_id AS media_id,
    CAST(frame_idx AS INTEGER) AS frame_idx,
    CAST(greatest(0, least((frame_idx + 1) * step, nb) - frame_idx * step)
         AS BIGINT) AS frame_bytes
FROM f
"""


# REAL codec path: the fixture plants genuine PNG bytes (zlib IDAT,
# CRC'd chunks) for even doc_ids and real JPEG marker sequences for odd
# ones with closed-form dimensions, so the header parse is SQL-checkable.
_IMAGE_HEADERS_ORACLE = """
SELECT
    doc_id AS media_id,
    CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
    CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 24 + 8
              ELSE doc_id % 640 + 16 END AS INTEGER) AS width,
    CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 16 + 8
              ELSE doc_id % 480 + 16 END AS INTEGER) AS height,
    CAST(8 AS INTEGER) AS bit_depth,
    CAST(CASE WHEN doc_id % 2 = 0 THEN 1
              ELSE doc_id % 3 + 1 END AS INTEGER) AS channels
FROM documents
"""


@query("multimodal_image_headers", _IMAGE_HEADERS_ORACLE)
def multimodal_image_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL container parsing: PNG IHDR / JPEG SOF marker scan over
    genuine bytes (operators/imagecodec.py, pure stdlib). A wrong
    chunk walk, endianness slip, or marker-skip bug breaks the hash."""
    media = synthesize_image_media(load_table(spark, sf_dir, "documents"))
    return image_header_metadata(media)


# DQT oracle: the fixture plants n = doc_id % 3 + 1 real quantization
# tables with entries (doc_id + 17*t + j) % 255 + 1; the oracle
# re-enumerates every (table, entry) pair and aggregates — a wrong
# segment-length walk, a missed multi-table DQT body, or an 8/16-bit
# precision slip in the parser breaks the hash.
_JPEG_QUANT_ORACLE = """
WITH d AS (
    SELECT doc_id, doc_id % 3 + 1 AS nt FROM documents
),
e AS (
    SELECT d.doc_id, d.nt,
           ((d.doc_id + 17 * t.t + x.j) % 255 + 1) AS q
    FROM d,
         LATERAL (SELECT unnest(range(0, d.nt)) AS t) t,
         LATERAL (SELECT unnest(range(0, 64)) AS j) x
)
SELECT
    doc_id AS media_id,
    CAST(doc_id % 640 + 16 AS INTEGER) AS width,
    CAST(doc_id % 480 + 16 AS INTEGER) AS height,
    CAST(doc_id % 3 + 1 AS INTEGER) AS channels,
    CAST(nt AS INTEGER) AS n_tables,
    CAST(sum(q) AS BIGINT) AS quant_sum,
    CAST(min(q) AS INTEGER) AS quant_min,
    CAST(max(q) AS INTEGER) AS quant_max
FROM e
GROUP BY doc_id, nt
"""


@query("multimodal_jpeg_quant", _JPEG_QUANT_ORACLE)
def multimodal_jpeg_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG quantization-table metadata through the full marker walk
    (operators/imagecodec.py:parse_jpeg_quant): real DQT segments are
    planted per document and the parser must recover table count and
    exact entry sum/min/max alongside the SOF dimensions — the
    compression-quality fingerprint a media-curation pipeline filters
    on, without any entropy decode."""
    from ..operators.multimodal import (
        jpeg_quant_metadata,
        synthesize_jpeg_quant_media,
    )

    media = synthesize_jpeg_quant_media(load_table(spark, sf_dir, "documents"))
    return jpeg_quant_metadata(media)


# The decode oracle recomputes every pixel of every even-doc PNG from
# the fixture formula pixel(y,x) = (doc_id + 31*y + x) % 256 — if the
# encoder wrote wrong bytes OR the decoder (inflate + unfilter)
# misreads them, the integer stats cannot match.
_IMAGE_DECODE_ORACLE = """
WITH d AS (
    SELECT doc_id, doc_id % 24 + 8 AS w, doc_id % 16 + 8 AS h
    FROM documents WHERE doc_id % 2 = 0
),
yy AS (SELECT doc_id, w, h, unnest(range(0, h)) AS y FROM d),
px AS (
    SELECT doc_id, w, h, (doc_id + 31 * y + x.x) % 256 AS p
    FROM yy, LATERAL (SELECT unnest(range(0, w)) AS x) x
)
SELECT
    doc_id AS media_id,
    CAST(w AS INTEGER) AS width,
    CAST(h AS INTEGER) AS height,
    CAST(count(*) AS BIGINT) AS n_pixels,
    CAST(sum(p) AS BIGINT) AS pixel_sum,
    CAST(min(p) AS INTEGER) AS pixel_min,
    CAST(max(p) AS INTEGER) AS pixel_max
FROM px
GROUP BY doc_id, w, h
"""


@query("multimodal_image_decode", _IMAGE_DECODE_ORACLE)
def multimodal_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode (``fake=False``): zlib inflate + scanline
    unfilter per image inside an Arrow-batched mapInPandas stage;
    exact integer pixel stats hash-checked against the closed-form
    pixel formula."""
    media = synthesize_image_media(load_table(spark, sf_dir, "documents"))
    return decode_image_stats(media)


# REAL audio path: the fixture plants genuine RIFF/WAV PCM bytes with
# closed-form samples, so the oracle recomputes every decoded int16
# value — a wrong chunk walk, endianness slip, or sample misread in
# either the encoder or the decoder breaks the hash.
_AUDIO_DECODE_ORACLE = """
WITH d AS (
    SELECT doc_id,
           doc_id % 480 + 32 AS n,
           8000 * (doc_id % 3 + 1) AS rate
    FROM documents
),
s AS (
    SELECT doc_id, n, rate,
           (doc_id * 7919 + i.i * 131) % 65536 - 32768 AS v
    FROM d, LATERAL (SELECT unnest(range(0, n)) AS i) i
)
SELECT
    doc_id AS media_id,
    CAST(rate AS INTEGER) AS sample_rate,
    CAST(1 AS INTEGER) AS channels,
    CAST(n AS BIGINT) AS n_samples,
    CAST(n * 1000 // rate AS BIGINT) AS duration_ms,
    CAST(sum(v) AS BIGINT) AS amp_sum,
    CAST(min(v) AS INTEGER) AS amp_min,
    CAST(max(v) AS INTEGER) AS amp_max,
    CAST(sum(v * v) AS BIGINT) AS energy
FROM s
GROUP BY doc_id, n, rate
"""


@query("multimodal_audio_decode", _AUDIO_DECODE_ORACLE)
def multimodal_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV decode (``fake=False``): RIFF chunk walk + PCM sample
    read per row inside an Arrow-batched mapInPandas stage; exact
    integer amplitude stats hash-checked against the closed-form
    sample formula (operators/avcodec.py, pure stdlib)."""
    media = synthesize_audio_media(load_table(spark, sf_dir, "documents"))
    return decode_audio_stats(media)


# REAL video path: genuine YUV4MPEG2 streams (Cmono luma planes) with
# closed-form frames; every 2nd frame is sampled and its exact luma
# stats recomputed by the oracle from the fixture formula.
_VIDEO_DECODE_ORACLE = """
WITH d AS (
    SELECT doc_id,
           doc_id % 16 + 8 AS w,
           doc_id % 8 + 8 AS h,
           doc_id % 6 + 2 AS nf
    FROM documents
),
f AS (
    SELECT doc_id, w, h, unnest(range(0, nf, 2)) AS fi FROM d
),
px AS (
    SELECT doc_id, w, h, fi,
           (doc_id + 7 * fi + 3 * y.y + x.x) % 256 AS p
    FROM f,
         LATERAL (SELECT unnest(range(0, h)) AS y) y,
         LATERAL (SELECT unnest(range(0, w)) AS x) x
)
SELECT
    doc_id AS media_id,
    CAST(fi AS INTEGER) AS frame_idx,
    CAST(w AS INTEGER) AS width,
    CAST(h AS INTEGER) AS height,
    CAST(sum(p) AS BIGINT) AS luma_sum,
    CAST(min(p) AS INTEGER) AS luma_min,
    CAST(max(p) AS INTEGER) AS luma_max
FROM px
GROUP BY doc_id, fi, w, h
"""


@query("multimodal_video_decode", _VIDEO_DECODE_ORACLE)
def multimodal_video_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Y4M decode + frame sampling (``fake=False``): parse the
    YUV4MPEG2 parameter header and FRAME markers, keep every 2nd frame,
    emit exact integer luma stats per kept frame — the row-expanding
    decode shape through a genuine container."""
    media = synthesize_video_media(load_table(spark, sf_dir, "documents"))
    return decode_video_frame_stats(media, every_n=2)


@query("multimodal_frame_sample", _FRAMES_ORACLE)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-expanding frame sampler over video rows (mapInPandas),
    projected to (id, frame index, slice length) — binary payloads
    stay out of the canon (bytearray columns are unhashable
    driver-side); the length check still pins the exact slicing."""
    media = synthesize_media(load_table(spark, sf_dir, "documents"))
    frames = sample_frames(media, every_n=2)
    return frames.select(
        "media_id",
        "frame_idx",
        F.octet_length("frame_payload").cast("bigint").alias("frame_bytes"),
    )


# Perceptual-hash image dedup: the oracle recomputes every pixel of
# every fixture PNG from the closed form (pair formula + the odd
# member's +1 retouch), derives the 64-bit aHash with the same exact
# integer comparison block_sum*N > total_sum*n_block, and enumerates
# the full Hamming<=3 pair set. A decoder bug, a block-grid
# off-by-one, or an incomplete banding join all break the hash.
_AHASH_ORACLE = """
WITH d AS (
    SELECT doc_id,
           doc_id // 2 AS pair,
           (doc_id // 2) % 24 + 8 AS w,
           (doc_id // 2) % 16 + 8 AS h
    FROM documents
),
px AS (
    SELECT doc_id, w, h, y.y AS y, x.x AS x,
           LEAST((pair + 31 * y.y + x.x) % 256
                 + CASE WHEN doc_id % 2 = 1 AND (y.y + x.x) % 17 = 0
                        THEN 1 ELSE 0 END, 255) AS p
    FROM d,
         LATERAL (SELECT unnest(range(0, h)) AS y) y,
         LATERAL (SELECT unnest(range(0, w)) AS x) x
),
blk AS (
    SELECT doc_id, (y * 8) // h * 8 + (x * 8) // w AS idx, p FROM px
),
tot AS (SELECT doc_id, sum(p) AS s, count(*) AS n FROM blk GROUP BY doc_id),
bsum AS (
    SELECT doc_id, idx, sum(p) AS bs, count(*) AS bc
    FROM blk GROUP BY doc_id, idx
),
bits AS (
    SELECT b.doc_id, b.idx,
           CASE WHEN b.bs * t.n > t.s * b.bc THEN 1 ELSE 0 END AS bit
    FROM bsum b JOIN tot t USING (doc_id)
),
bands AS (
    SELECT doc_id,
           CAST(sum(CASE WHEN idx // 16 = 0 THEN bit * (1 << (idx % 16)) ELSE 0 END) AS BIGINT) AS b0,
           CAST(sum(CASE WHEN idx // 16 = 1 THEN bit * (1 << (idx % 16)) ELSE 0 END) AS BIGINT) AS b1,
           CAST(sum(CASE WHEN idx // 16 = 2 THEN bit * (1 << (idx % 16)) ELSE 0 END) AS BIGINT) AS b2,
           CAST(sum(CASE WHEN idx // 16 = 3 THEN bit * (1 << (idx % 16)) ELSE 0 END) AS BIGINT) AS b3
    FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
          + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
            AS INTEGER) AS hamming
FROM bands a JOIN bands b
  ON a.doc_id < b.doc_id
 AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
    + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3
"""


@query("multimodal_ahash_dedup", _AHASH_ORACLE)
def multimodal_ahash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate image detection end-to-end through
    the REAL PNG codec: decode -> 8x8 block-mean aHash (exact integer
    threshold, operators/multimodal.py:ahash_bands) -> Hamming-banded
    self-join. The hash is split into four 16-bit bands; at radius 3
    the pigeonhole principle makes the four band-equality equi-joins a
    COMPLETE candidate generator (same contract as the SimHash query),
    and the exact Hamming verify runs on candidates only — never
    all-pairs (operators/multimodal.py:hamming_band_pairs). At 100 TB
    the band key space is 2^16, so production passes
    ``max_band_bucket`` — the hot-band cap ported from the LSH family
    (an all-dark-band key is the analogue of a stopword shingle; see
    the planted-skew regression test); the fixture's quasi-random
    blocks run uncapped, keeping the completeness guarantee the
    oracle checks. Planted pairs: docs 2m / 2m+1 are the same image
    up to a +1 retouch on every 17th diagonal."""
    from ..operators.multimodal import (
        ahash_bands,
        hamming_band_pairs,
        synthesize_ahash_media,
    )

    bands = ahash_bands(
        synthesize_ahash_media(load_table(spark, sf_dir, "documents"))
    )
    return hamming_band_pairs(bands, radius=3)


# Audio-fingerprint oracle: recompute every PCM sample of every
# fixture WAV from the closed form (pair waveform + the odd member's
# +3 nudge on every 13th sample), derive the 64-frame energy
# fingerprint with the same exact integer comparison, and enumerate
# the Hamming<=3 pair set through the identical band join.
_AFP_ORACLE = """
WITH p AS (
    SELECT doc_id,
           doc_id // 2 AS pair,
           (doc_id // 2) % 480 + 64 AS n
    FROM documents
),
s AS (
    SELECT doc_id, n, i.i AS i,
           LEAST((pair * 7919 + i.i * 131) % 65536 - 32768
                 + CASE WHEN doc_id % 2 = 1 AND i.i % 13 = 0
                        THEN 3 ELSE 0 END, 32767) AS v
    FROM p, LATERAL (SELECT unnest(range(0, n)) AS i) i
),
e AS (
    SELECT doc_id, n, (i * 64) // n AS f,
           sum(v * v) AS ef, count(*) AS nf
    FROM s GROUP BY doc_id, n, (i * 64) // n
),
tot AS (SELECT doc_id, sum(ef) AS E FROM e GROUP BY doc_id),
bits AS (
    SELECT e.doc_id, e.f,
           CASE WHEN e.ef * e.n > t.E * e.nf THEN 1 ELSE 0 END AS bit
    FROM e JOIN tot t USING (doc_id)
),
bands AS (
    SELECT doc_id,
           CAST(sum(CASE WHEN f // 16 = 0 THEN bit * (1 << (f % 16)) ELSE 0 END) AS BIGINT) AS b0,
           CAST(sum(CASE WHEN f // 16 = 1 THEN bit * (1 << (f % 16)) ELSE 0 END) AS BIGINT) AS b1,
           CAST(sum(CASE WHEN f // 16 = 2 THEN bit * (1 << (f % 16)) ELSE 0 END) AS BIGINT) AS b2,
           CAST(sum(CASE WHEN f // 16 = 3 THEN bit * (1 << (f % 16)) ELSE 0 END) AS BIGINT) AS b3
    FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
          + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
            AS INTEGER) AS hamming
FROM bands a JOIN bands b
  ON a.doc_id < b.doc_id
 AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
    + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3
"""


@query("multimodal_audio_fingerprint_dedup", _AFP_ORACLE)
def multimodal_audio_fingerprint_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-duplicate audio detection end-to-end through the REAL WAV
    codec: decode -> 64-frame energy fingerprint (exact integer
    threshold, operators/multimodal.py:audio_fingerprint_bands) ->
    the same pigeonhole-complete 4x16-bit Hamming-band join as the
    image aHash query (operators/multimodal.py:hamming_band_pairs,
    which also carries the production hot-band cap — digital-silence
    clips are this family's stopword analogue) — the dedup family now
    covers text (shingles), embeddings (cosine/SemDeDup), images
    (aHash), and audio. Planted pairs: docs 2m / 2m+1 are the same
    waveform up to a +3 nudge on every 13th sample."""
    from ..operators.multimodal import (
        audio_fingerprint_bands,
        hamming_band_pairs,
        synthesize_afp_media,
    )

    bands = audio_fingerprint_bands(
        synthesize_afp_media(load_table(spark, sf_dir, "documents"))
    )
    return hamming_band_pairs(bands, radius=3)


# Video-fingerprint oracle: recompute every frame's total luminance
# from the closed form (8x8 mono, modulus 254 so the odd member's +1
# flash-frame nudge never clamps), derive the 64-bucket temporal
# fingerprint with the same exact integer comparison, and enumerate
# the Hamming<=3 pair set through the identical band join.
_VFP_ORACLE = """
WITH p AS (
    SELECT doc_id,
           doc_id // 2 AS pair,
           (doc_id // 2) % 24 + 40 AS n
    FROM documents
),
fs AS (
    SELECT doc_id, n, f.f AS f,
           sum((pair * 31 + f.f * 7 + y.y * 3 + x.x) % 254
               + CASE WHEN doc_id % 2 = 1 AND f.f % 11 = 0
                      THEN 1 ELSE 0 END) AS fsum
    FROM p,
         LATERAL (SELECT unnest(range(0, n)) AS f) f,
         LATERAL (SELECT unnest(range(0, 8)) AS y) y,
         LATERAL (SELECT unnest(range(0, 8)) AS x) x
    GROUP BY doc_id, n, f.f
),
b AS (
    SELECT doc_id, n, (f * 64) // n AS bkt,
           sum(fsum) AS lb, count(*) AS nb
    FROM fs GROUP BY doc_id, n, (f * 64) // n
),
tot AS (SELECT doc_id, sum(lb) AS total FROM b GROUP BY doc_id),
bits AS (
    SELECT b.doc_id, b.bkt,
           CASE WHEN b.lb * b.n > t.total * b.nb THEN 1 ELSE 0 END AS bit
    FROM b JOIN tot t USING (doc_id)
),
bands AS (
    SELECT doc_id,
           CAST(sum(CASE WHEN bkt // 16 = 0 THEN bit * (1 << (bkt % 16)) ELSE 0 END) AS BIGINT) AS b0,
           CAST(sum(CASE WHEN bkt // 16 = 1 THEN bit * (1 << (bkt % 16)) ELSE 0 END) AS BIGINT) AS b1,
           CAST(sum(CASE WHEN bkt // 16 = 2 THEN bit * (1 << (bkt % 16)) ELSE 0 END) AS BIGINT) AS b2,
           CAST(sum(CASE WHEN bkt // 16 = 3 THEN bit * (1 << (bkt % 16)) ELSE 0 END) AS BIGINT) AS b3
    FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
          + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
            AS INTEGER) AS hamming
FROM bands a JOIN bands b
  ON a.doc_id < b.doc_id
 AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
    + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3
"""


@query("multimodal_video_fingerprint_dedup", _VFP_ORACLE)
def multimodal_video_fingerprint_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-duplicate video detection end-to-end through the REAL Y4M
    decoder: decode -> 64-bucket temporal-luminance fingerprint
    (exact integer threshold,
    operators/multimodal.py:video_fingerprint_bands) -> the shared
    pigeonhole-complete Hamming-band join (with its hot-band cap
    available for degenerate corpora) — the dedup family's FIFTH
    modality: text shingles, embeddings, images, audio, and now
    video. Planted pairs: docs 2m / 2m+1 are the same clip up to a
    +1 flash on every 11th frame."""
    from ..operators.multimodal import (
        hamming_band_pairs,
        synthesize_vfp_media,
        video_fingerprint_bands,
    )

    bands = video_fingerprint_bands(
        synthesize_vfp_media(load_table(spark, sf_dir, "documents"))
    )
    return hamming_band_pairs(bands, radius=3)


# --- video scene-cut detection ----------------------------------------------

# Closed-form twin of operators/multimodal.synthesize_scene_video_media
# + scene_cut_frames: recompute every pixel of every frame pair in SQL
# and apply the identical integer cross-multiplied threshold. Exactness
# needs no quantization anywhere — luma is uint8, diff sums are int64.
_SCENE_CUT_ORACLE = """
WITH p AS (
    SELECT doc_id AS d,
           doc_id % 16 + 8 AS w,
           doc_id % 8 + 8 AS h,
           doc_id % 10 + 12 AS nf,
           doc_id % 4 + 3 AS seg
    FROM documents
),
fd AS (
    SELECT d, w, h, f.f AS f,
           CAST(sum(abs(
               (d*17 + ((f.f + 1) // seg)*53 + ((f.f + 1) % 2)*2
                + 3*y.y + x.x) % 240
             - (d*17 + (f.f // seg)*53 + (f.f % 2)*2
                + 3*y.y + x.x) % 240
           )) AS BIGINT) AS diff_sum
    FROM p,
         LATERAL (SELECT unnest(range(0, nf - 1)) AS f) f,
         LATERAL (SELECT unnest(range(0, h)) AS y) y,
         LATERAL (SELECT unnest(range(0, w)) AS x) x
    GROUP BY d, w, h, f.f
)
SELECT d AS media_id,
       CAST(f + 1 AS BIGINT) AS cut_frame,
       diff_sum,
       CAST(w * h AS BIGINT) AS n_pixels
FROM fd
WHERE 100 * diff_sum > 2000 * w * h
"""


@query("multimodal_scene_cuts", _SCENE_CUT_ORACLE)
def multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection end-to-end through the REAL Y4M codec:
    every document becomes a scene-structured clip (piecewise-constant
    luma base + ±2 flicker), and a cut fires at frame f+1 when the
    mean |Δluma| vs frame f exceeds 20 — evaluated as the exact
    integer cross-multiplication 100·Σ|Δ| > 2000·n_pixels, so the cut
    set is engine-independent with no float thresholds. The oracle
    recomputes every pixel of every frame pair from the closed form.
    This is the segmentation primitive that precedes per-scene frame
    sampling / dedup in a video curation pipeline; the Spark plan is
    decode + one vectorized frame-pair scan per clip inside
    ``mapInPandas`` — zero shuffles."""
    from ..operators.multimodal import (
        scene_cut_frames,
        synthesize_scene_video_media,
    )

    media = synthesize_scene_video_media(
        load_table(spark, sf_dir, "documents")
    )
    return scene_cut_frames(media, mean_diff_x100=2000)


# Spectral (Walsh-Hadamard) perceptual hash: the oracle recomputes
# every pixel from the fixture closed form, the fixed-point block
# means, all 20 integer WHT coefficient signs, and the complete
# Hamming<=3 pair set — a decoder bug, a sign-table slip, or a
# band-packing error all break the hash.
from ..operators.multimodal import WHT_COEFFS as _WHT_COEFFS

_WHT_VALUES = ", ".join(
    f"({k}, {u}, {v})" for k, (u, v) in enumerate(_WHT_COEFFS)
)

_WHT_ORACLE = f"""
WITH d AS (
    SELECT doc_id,
           doc_id // 2 AS pair,
           (doc_id // 2) % 24 + 8 AS w,
           (doc_id // 2) % 16 + 8 AS h
    FROM documents
),
px AS (
    SELECT doc_id, w, h, y.y AS y, x.x AS x,
           LEAST((pair + 31 * y.y + x.x) % 256
                 + CASE WHEN doc_id % 2 = 1 AND (y.y + x.x) % 17 = 0
                        THEN 1 ELSE 0 END, 255) AS p
    FROM d,
         LATERAL (SELECT unnest(range(0, h)) AS y) y,
         LATERAL (SELECT unnest(range(0, w)) AS x) x
),
blk AS (
    SELECT doc_id, (y * 8) // h * 8 + (x * 8) // w AS idx, p FROM px
),
m AS (
    SELECT doc_id, idx,
           CAST((sum(p) * 1048576) // count(*) AS BIGINT) AS mv
    FROM blk GROUP BY doc_id, idx
),
coeffs AS (SELECT * FROM (VALUES {_WHT_VALUES}) AS t(k, u, v)),
co AS (
    SELECT m.doc_id, c.k,
           CAST(sum(m.mv * (CASE WHEN (bit_count((m.idx // 8) & c.u)
                                       + bit_count((m.idx % 8) & c.v)) % 2 = 0
                                 THEN 1 ELSE -1 END)) AS BIGINT) AS cv
    FROM m, coeffs c
    GROUP BY m.doc_id, c.k
),
bands AS (
    SELECT doc_id,
           CAST(sum(CASE WHEN k // 5 = 0 AND cv > 0
                         THEN 1 << (k % 5) ELSE 0 END) AS BIGINT) AS b0,
           CAST(sum(CASE WHEN k // 5 = 1 AND cv > 0
                         THEN 1 << (k % 5) ELSE 0 END) AS BIGINT) AS b1,
           CAST(sum(CASE WHEN k // 5 = 2 AND cv > 0
                         THEN 1 << (k % 5) ELSE 0 END) AS BIGINT) AS b2,
           CAST(sum(CASE WHEN k // 5 = 3 AND cv > 0
                         THEN 1 << (k % 5) ELSE 0 END) AS BIGINT) AS b3
    FROM co GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
          + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
            AS INTEGER) AS hamming
FROM bands a JOIN bands b
  ON a.doc_id < b.doc_id
 AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
    + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3
"""


@query("multimodal_spectral_hash_dedup", _WHT_ORACLE)
def multimodal_spectral_hash_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Frequency-domain perceptual image dedup through the REAL PNG
    codec: the pHash construction with the float DCT replaced by the
    integer Walsh-Hadamard transform (operators/multimodal.py:
    wht_spectral_bands), so every stage — decode, fixed-point block
    means, 20 low-sequency coefficient signs, band packing, complete
    radius-3 Hamming band join — is exact int64 and the oracle checks
    it bit-for-bit. Complements multimodal_ahash_dedup: aHash
    thresholds SPATIAL block means (robust to noise, fooled by
    gradients), the spectral hash thresholds FREQUENCY components
    (EXACTLY invariant to global brightness shifts — pinned in
    tests/test_multimodal.py — but measurably weaker on sparse
    additive retouches: 36/50 planted pairs at radius 3 vs aHash's
    full recall), and production perceptual dedup runs both for that
    reason. Same fixture (planted retouched pairs 2m/2m+1), same
    pigeonhole-complete band-join contract. Runs WITH the hot-band cap
    (2000 members per band value — ~4x the largest real bucket at
    sf0.1, so it never fires at oracle scales and the hash-pinned pair
    set stays the complete one) because the 5-bit band saturates
    fastest of the four perceptual hashes: every corpus doubling
    doubles every band bucket, and the capped plan bounds candidate
    generation at N*cap instead of N^2/32 — boilerplate-band
    exclusion is the standard LSH recall price, pinned by the
    planted-skew test."""
    from ..operators.multimodal import (
        hamming_band_pairs,
        synthesize_ahash_media,
        wht_spectral_bands,
    )

    bands = wht_spectral_bands(
        synthesize_ahash_media(load_table(spark, sf_dir, "documents"))
    )
    return hamming_band_pairs(bands, radius=3, max_band_bucket=2000)


# VAD oracle: recompute every PCM sample from the fixture closed form,
# the exact int64 frame energies, the cross-multiplied above-average
# threshold, and the run-length segmentation — a decoder bug, a frame
# off-by-one, or a wrong lag in the segment merge all break the hash.
_VAD_ORACLE = """
WITH d AS (
    SELECT doc_id, doc_id % 480 + 96 AS n FROM documents
),
s AS (
    SELECT doc_id, i.i AS i,
           CASE WHEN (doc_id + i.i // 32) % 3 = 0
                THEN (doc_id * 37 + i.i * 7) % 2048 - 1024
                ELSE (doc_id + i.i) % 8 - 4 END AS v
    FROM d, LATERAL (SELECT unnest(range(0, n)) AS i) i
),
fr AS (
    SELECT doc_id, i // 32 AS f,
           CAST(count(*) AS BIGINT) AS nf,
           CAST(sum(v * v) AS BIGINT) AS e
    FROM s GROUP BY 1, 2
),
tot AS (
    SELECT doc_id, CAST(sum(e) AS BIGINT) AS te,
           CAST(sum(nf) AS BIGINT) AS tn,
           CAST(count(*) AS BIGINT) AS n_frames
    FROM fr GROUP BY 1
),
vo AS (
    SELECT fr.doc_id, f, nf, e, (e * tn > te * nf) AS voiced
    FROM fr JOIN tot USING (doc_id)
),
seg AS (
    SELECT doc_id, f, nf, voiced,
           CASE WHEN voiced AND NOT coalesce(
                    lag(voiced) OVER (PARTITION BY doc_id ORDER BY f),
                    false)
                THEN 1 ELSE 0 END AS seg_start
    FROM vo
),
runid AS (
    SELECT doc_id, f, nf, voiced, seg_start,
           sum(seg_start) OVER (PARTITION BY doc_id ORDER BY f
                                ROWS UNBOUNDED PRECEDING) AS rid
    FROM seg
),
runs AS (
    SELECT doc_id, rid, CAST(count(*) AS BIGINT) AS run_len
    FROM runid WHERE voiced GROUP BY 1, 2
),
per_clip AS (
    SELECT doc_id,
           CAST(sum(CASE WHEN voiced THEN 1 ELSE 0 END) AS BIGINT)
               AS n_voiced_frames,
           CAST(sum(seg_start) AS BIGINT) AS n_segments,
           CAST(sum(CASE WHEN voiced THEN nf ELSE 0 END) AS BIGINT)
               AS voiced_samples
    FROM runid GROUP BY doc_id
)
SELECT t.doc_id AS media_id,
       t.n_frames,
       p.n_voiced_frames,
       p.n_segments,
       coalesce((SELECT max(run_len) FROM runs r WHERE r.doc_id = t.doc_id),
                0) AS longest_run_frames,
       CAST(p.voiced_samples * 1000 // 16000 AS BIGINT) AS voiced_ms
FROM tot t JOIN per_clip p USING (doc_id)
"""


@query("multimodal_audio_vad", _VAD_ORACLE)
def multimodal_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-threshold voice-activity detection through the REAL WAV
    codec — the silence-trimming / speech-segmentation step an audio
    training pipeline runs before transcription or chunking: decode →
    exact int64 energies over fixed 32-sample frames
    (operators/multimodal.py:vad_frames — Python stops at the codec
    boundary) → a frame is VOICED iff its per-sample energy exceeds
    the clip average by exact cross-multiplication e_f·N > E·n_f →
    consecutive voiced frames merge into segments via the sessionize
    lag/cumsum pattern (one media-keyed window, no self-join). Emits
    per clip: frame/voiced counts, segment count, longest voiced run,
    and voiced milliseconds. The planted fixture alternates ~30 dB
    loud/quiet frames by a closed form, so the oracle recomputes every
    sample, energy, threshold decision, and run boundary exactly. At
    100 TB the frame table shards by media_id (windows stay per-key);
    partial last frames keep true sample counts so thresholds never
    assume equal frames."""
    from pyspark.sql import Window

    from ..operators.multimodal import synthesize_vad_media, vad_frames

    frames = vad_frames(
        synthesize_vad_media(load_table(spark, sf_dir, "documents"))
    ).localCheckpoint(eager=False)
    tot = frames.groupBy("media_id").agg(
        F.sum("energy").cast("bigint").alias("te"),
        F.sum("n_samples").cast("bigint").alias("tn"),
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
    )
    vo = frames.join(tot, "media_id").withColumn(
        "voiced",
        F.col("energy") * F.col("tn") > F.col("te") * F.col("n_samples"),
    )
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    seg = vo.withColumn(
        "seg_start",
        F.when(
            F.col("voiced")
            & ~F.coalesce(F.lag("voiced").over(w), F.lit(False)),
            1,
        ).otherwise(0),
    )
    cw = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    runid = seg.withColumn("rid", F.sum("seg_start").over(cw))
    runs = (
        runid.filter("voiced")
        .groupBy("media_id", "rid")
        .agg(F.count(F.lit(1)).cast("bigint").alias("run_len"))
        .groupBy("media_id")
        .agg(F.max("run_len").alias("longest_run_frames"))
    )
    per_clip = runid.groupBy("media_id").agg(
        F.sum(F.when(F.col("voiced"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_voiced_frames"),
        F.sum("seg_start").cast("bigint").alias("n_segments"),
        F.sum(F.when(F.col("voiced"), F.col("n_samples")).otherwise(0))
        .cast("bigint")
        .alias("voiced_samples"),
    )
    return (
        tot.select("media_id", "n_frames")
        .join(per_clip, "media_id")
        .join(runs, "media_id", "left")
        .select(
            "media_id",
            "n_frames",
            "n_voiced_frames",
            "n_segments",
            F.coalesce("longest_run_frames", F.lit(0))
            .cast("bigint")
            .alias("longest_run_frames"),
            F.expr("CAST(voiced_samples * 1000 div 16000 AS BIGINT)").alias(
                "voiced_ms"
            ),
        )
    )


# Resize oracle: recompute every source pixel from the fixture closed
# form, apply the same integer nearest-neighbor index map, and
# serialize the full 8x6 output grid — any decoder, index-map, or
# serialization slip breaks the hash on the pixel level.
_RESIZE_W, _RESIZE_H = 8, 6

_RESIZE_ORACLE = f"""
WITH d AS (
    SELECT doc_id, doc_id % 24 + 8 AS w, doc_id % 16 + 8 AS h
    FROM documents WHERE doc_id % 2 = 0
),
grid AS (
    SELECT doc_id, w, h, y.y AS oy, x.x AS ox,
           (doc_id + 31 * ((y.y * h) // {_RESIZE_H})
            + ((x.x * w) // {_RESIZE_W})) % 256 AS p
    FROM d,
         LATERAL (SELECT unnest(range(0, {_RESIZE_H})) AS y) y,
         LATERAL (SELECT unnest(range(0, {_RESIZE_W})) AS x) x
)
SELECT doc_id AS media_id,
       CAST(max(w) AS INTEGER) AS src_w,
       CAST(max(h) AS INTEGER) AS src_h,
       string_agg(CAST(p AS VARCHAR), ','
                  ORDER BY oy, ox) AS pixels_csv,
       CAST(sum(p) AS BIGINT) AS pixel_sum,
       CAST(min(p) AS INTEGER) AS pixel_min,
       CAST(max(p) AS INTEGER) AS pixel_max
FROM grid GROUP BY doc_id
"""


@query("multimodal_image_resize", _RESIZE_ORACLE)
def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor thumbnail resize (8×6) through the REAL PNG
    codec — decode, integer index-map resample, full-grid
    serialization (operators/multimodal.py:resize_png_pixels). The
    oracle recomputes every OUTPUT pixel from the fixture's closed
    form through the same index map, so the hash pins the resample
    itself pixel-for-pixel — the strongest check the multimodal
    family carries (decode stats summarize; this serializes). The
    production shape for higher-order kernels (bilinear/bicubic) is
    identical — only the per-batch numpy kernel changes; nearest-
    neighbor is the variant whose integer arithmetic both engines
    reproduce exactly."""
    from ..operators.multimodal import (
        resize_png_pixels,
        synthesize_image_media,
    )

    media = synthesize_image_media(
        load_table(spark, sf_dir, "documents")
    ).filter(F.col("media_id") % 2 == 0)
    return resize_png_pixels(media, _RESIZE_W, _RESIZE_H)


# Motion-vector oracle: recompute every pixel of both frames of every
# pair from the rigid-motion closed form, evaluate all 9 candidate
# displacements' exact SADs, and take the (sad, dy, dx) argmin — a
# decoder bug, a block-anchor off-by-one, or a wrong tie-break all
# break the hash. The planted rigid motion means the winner is the
# true scene translation with SAD = 0 (pinned in pytest).
_MV_ORACLE = """
WITH d AS (
    SELECT doc_id, doc_id % 4 + 3 AS nf FROM documents
),
pairs AS (
    SELECT doc_id, f.f AS f,
           (doc_id + f.f) % 2 AS sy0,
           (doc_id * 3 + 2 * f.f) % 2 AS sx0,
           (doc_id + f.f + 1) % 2 AS sy1,
           (doc_id * 3 + 2 * (f.f + 1)) % 2 AS sx1
    FROM d, LATERAL (SELECT unnest(range(0, nf - 1)) AS f) f
),
grid AS (
    SELECT p.*, by.y0, bx.x0, dy.dy, dx.dx
    FROM pairs p,
         LATERAL (SELECT unnest([2, 6]) AS y0) by,
         LATERAL (SELECT unnest([2, 6, 10]) AS x0) bx,
         LATERAL (SELECT unnest([-1, 0, 1]) AS dy) dy,
         LATERAL (SELECT unnest([-1, 0, 1]) AS dx) dx
),
sads AS (
    SELECT doc_id, f, y0, x0, dy, dx,
           CAST(sum(abs(
               (doc_id + 13 * (y0 + py.py + sy1) + 7 * (x0 + px.px + sx1))
                   % 256
               - (doc_id + 13 * (y0 + py.py + dy + sy0)
                  + 7 * (x0 + px.px + dx + sx0)) % 256
           )) AS BIGINT) AS sad
    FROM grid,
         LATERAL (SELECT unnest(range(0, 4)) AS py) py,
         LATERAL (SELECT unnest(range(0, 4)) AS px) px
    GROUP BY doc_id, f, y0, x0, dy, dx
)
SELECT doc_id AS media_id,
       CAST(f AS INTEGER) AS frame_pair,
       CAST(y0 AS INTEGER) AS block_y,
       CAST(x0 AS INTEGER) AS block_x,
       CAST(dy AS INTEGER) AS mv_dy,
       CAST(dx AS INTEGER) AS mv_dx,
       sad
FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id, f, y0, x0
                                 ORDER BY sad, dy, dx) AS rn
    FROM sads
) WHERE rn = 1
"""


@query("multimodal_motion_vectors", _MV_ORACLE)
def multimodal_motion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block motion estimation through the REAL Y4M codec — the video
    codec / motion-analysis primitive (every MPEG encoder's inner
    loop): 4×4 blocks of each frame exhaustively search a ±1
    displacement window in the previous frame and keep the
    argmin-SAD vector (operators/multimodal.py:block_motion_vectors;
    exact integer |Δluma| sums, deterministic (sad, dy, dx)
    tie-break). The fixture plants RIGID scene translation with a
    known per-pair delta, so the correct estimator recovers exactly
    that vector with SAD = 0 on every interior block — pinned in
    pytest — while the oracle recomputes all 9 candidate SADs per
    block from the closed form and takes the same argmin. Seventh
    multimodal operator (decode stats, headers, DQT, aHash, WHT,
    VAD, scene cuts, resize → plus motion). Arrow-batched
    mapInPandas, zero shuffle; at real resolutions the block loop is
    the numpy kernel per batch, embarrassingly parallel across
    clips."""
    from ..operators.multimodal import (
        block_motion_vectors,
        synthesize_motion_media,
    )

    return block_motion_vectors(
        synthesize_motion_media(load_table(spark, sf_dir, "documents"))
    )


# --- baseline JPEG entropy decode --------------------------------------------
#
# The fixture plants closed-form QUANTIZED coefficients and
# Huffman-encodes them into genuine SOF0 scans, so the oracle can
# re-derive the exact dequantized coefficient multiset with SQL — a
# wrong Huffman walk, missed byte-unstuffing, broken DC prediction
# (incl. restart reset), bad EXTEND sign, or dequant slip breaks the
# hash. posw_sum weights coefficients by their NATURAL index through
# an independently-derived zigzag permutation (diagonal walk below,
# not the codec's spec-table constant), so the two implementations
# cross-check each other.


def _zigzag_to_natural() -> list:
    """zigzag index -> natural (row*8+col) index, derived by the
    diagonal walk (odd diagonals run down-left, even up-right) rather
    than copied from the codec's Annex-F table."""
    nat = []
    for s in range(15):
        if s % 2:
            rows = range(max(0, s - 7), min(s, 7) + 1)
        else:
            rows = range(min(s, 7), max(0, s - 7) - 1, -1)
        nat.extend(r * 8 + (s - r) for r in rows)
    return nat


_NAT_LIST = "[" + ", ".join(str(v) for v in _zigzag_to_natural()) + "]"

_JPEG_COEF_ORACLE = f"""
WITH d AS (
    SELECT doc_id, doc_id % 3 + 1 AS wb, doc_id % 2 + 1 AS hb
    FROM documents
),
blk AS (
    SELECT doc_id, wb, hb, unnest(range(0, wb * hb)) AS b FROM d
),
dc AS (
    SELECT doc_id, wb, hb, b, 0 AS p,
           (doc_id + 11 * b) % 61 - 30 AS v
    FROM blk
),
ac AS (
    SELECT doc_id, wb, hb, b,
           (5 * i.i + 3 * b) % 63 + 1 AS p,
           CASE WHEN (doc_id + 13 * b + 29 * i.i) % 20 - 10 >= 0
                THEN (doc_id + 13 * b + 29 * i.i) % 20 - 9
                ELSE (doc_id + 13 * b + 29 * i.i) % 20 - 10 END AS v
    FROM blk,
         LATERAL (SELECT unnest(range(1, (doc_id + b) % 6 + 3)) AS i) i
),
dq AS (
    SELECT doc_id, wb, hb, p, v * ((doc_id * 7 + p) % 31 + 1) AS dv
    FROM (SELECT * FROM dc UNION ALL SELECT * FROM ac)
)
SELECT doc_id AS media_id,
       CAST(wb * 8 AS INTEGER) AS width,
       CAST(hb * 8 AS INTEGER) AS height,
       CAST(wb * hb AS BIGINT) AS n_blocks,
       CAST(count(*) FILTER (dv != 0) AS BIGINT) AS n_nonzero,
       CAST(sum(dv) AS BIGINT) AS coef_sum,
       CAST(min(dv) FILTER (dv != 0) AS INTEGER) AS coef_min,
       CAST(max(dv) FILTER (dv != 0) AS INTEGER) AS coef_max,
       CAST(sum(CASE WHEN p = 0 THEN dv ELSE 0 END) AS BIGINT) AS dc_sum,
       CAST(sum(dv * list_extract({_NAT_LIST}, CAST(p AS INTEGER) + 1))
            AS BIGINT) AS posw_sum
FROM dq
GROUP BY doc_id, wb, hb
"""


@query("multimodal_jpeg_entropy_decode", _JPEG_COEF_ORACLE)
def multimodal_jpeg_entropy_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG ENTROPY decode (coefficient domain): genuine
    SOF0 scans (standard Annex-K Huffman tables, byte stuffing,
    DRI/RSTn restarts) are decoded — Huffman, DC prediction, EOB/ZRL,
    EXTEND, dequant, dezigzag — inside an Arrow-batched mapInPandas
    stage, and the exact integer stats over the nonzero dequantized
    coefficients are hash-checked against the closed-form plant."""
    from ..operators.multimodal import (
        jpeg_coef_stats,
        synthesize_jpeg_scan_media,
    )

    media = synthesize_jpeg_scan_media(load_table(spark, sf_dir, "documents"))
    return jpeg_coef_stats(media)


# Pixel-exact JPEG: DC-only blocks make the IDCT output flat per
# block (value = clamp(dc*q0/8 + 128)), and q0 is a multiple of 8 so
# the division is integral — the oracle recomputes every pixel of the
# CROPPED image (dims are non-multiples of 8) from per-block overlap
# counts.
_JPEG_PIXEL_ORACLE = """
WITH d AS (
    SELECT doc_id, doc_id % 3 + 1 AS wb, doc_id % 2 + 1 AS hb,
           doc_id % 16 + 1 AS s
    FROM documents
),
dd AS (
    SELECT doc_id, wb, hb, s,
           wb * 8 - doc_id % 5 AS w,
           hb * 8 - doc_id % 3 AS h
    FROM d
),
blk AS (
    SELECT doc_id, w, h, s, wb,
           unnest(range(0, wb * hb)) AS b
    FROM dd
),
px AS (
    SELECT doc_id, w, h,
           LEAST(255, GREATEST(0,
               ((doc_id + 11 * b) % 61 - 30) * s + 128)) AS val,
           LEAST(8, w - 8 * (b % wb)) AS nc,
           LEAST(8, h - 8 * (b // wb)) AS nr
    FROM blk
)
SELECT doc_id AS media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(w * h AS BIGINT) AS n_pixels,
       CAST(sum(val * nc * nr) AS BIGINT) AS pixel_sum,
       CAST(min(val) AS INTEGER) AS pixel_min,
       CAST(max(val) AS INTEGER) AS pixel_max
FROM px
GROUP BY doc_id, w, h
"""


@query("multimodal_jpeg_decode_pixels", _JPEG_PIXEL_ORACLE)
def multimodal_jpeg_decode_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode to PIXELS: entropy decode + dequant +
    dezigzag + 2-D IDCT + level shift + clamp + edge-block crop; the
    DC-only fixture keeps every decoded pixel closed-form (flat
    blocks; q0 a multiple of 8 kills rounding ties) so the stats are
    exact-integer hash-checked, crop included."""
    from ..operators.multimodal import (
        jpeg_pixel_stats,
        synthesize_jpeg_flat_media,
    )

    media = synthesize_jpeg_flat_media(load_table(spark, sf_dir, "documents"))
    return jpeg_pixel_stats(media)


# Interleaved color: one stats row per (media, component). The
# per-component quant tables, per-component DC prediction chains, and
# the interleaved block ordering are all load-bearing — swap any of
# them and the per-component sums diverge.
_JPEG_COLOR_ORACLE = f"""
WITH d AS (
    SELECT doc_id, doc_id % 2 + 1 AS mx, (doc_id // 2) % 2 + 1 AS my
    FROM documents
),
c AS (
    SELECT doc_id, mx, my, unnest([0, 1, 2]) AS ci FROM d
),
cb AS (
    SELECT doc_id, mx, my, ci,
           CASE WHEN ci = 0 THEN 4 * mx * my ELSE mx * my END AS nb
    FROM c
),
blk AS (
    SELECT doc_id, mx, my, ci, nb, unnest(range(0, nb)) AS b FROM cb
),
dc AS (
    SELECT doc_id, mx, my, ci, nb, b, 0 AS p,
           (doc_id + 11 * b + 7 * ci) % 61 - 30 AS v
    FROM blk
),
ac AS (
    SELECT doc_id, mx, my, ci, nb, b,
           (5 * i.i + 3 * b + 2 * ci) % 63 + 1 AS p,
           CASE WHEN (doc_id + 13 * b + 29 * i.i + 5 * ci) % 20 - 10 >= 0
                THEN (doc_id + 13 * b + 29 * i.i + 5 * ci) % 20 - 9
                ELSE (doc_id + 13 * b + 29 * i.i + 5 * ci) % 20 - 10
           END AS v
    FROM blk,
         LATERAL (
             SELECT unnest(range(1, (doc_id + b + ci) % 6 + 3)) AS i
         ) i
),
dq AS (
    SELECT doc_id, mx, my, ci, nb, p,
           v * (CASE WHEN ci = 0 THEN (doc_id * 7 + p) % 31 + 1
                     ELSE (doc_id * 5 + p) % 29 + 1 END) AS dv
    FROM (SELECT * FROM dc UNION ALL SELECT * FROM ac)
)
SELECT doc_id AS media_id,
       CAST(16 * mx - doc_id % 7 AS INTEGER) AS width,
       CAST(16 * my - doc_id % 5 AS INTEGER) AS height,
       CAST(ci AS INTEGER) AS component,
       CAST(nb AS BIGINT) AS n_blocks,
       CAST(count(*) FILTER (dv != 0) AS BIGINT) AS n_nonzero,
       CAST(sum(dv) AS BIGINT) AS coef_sum,
       CAST(min(dv) FILTER (dv != 0) AS INTEGER) AS coef_min,
       CAST(max(dv) FILTER (dv != 0) AS INTEGER) AS coef_max,
       CAST(sum(CASE WHEN p = 0 THEN dv ELSE 0 END) AS BIGINT) AS dc_sum,
       CAST(sum(dv * list_extract({_NAT_LIST}, CAST(p AS INTEGER) + 1))
            AS BIGINT) AS posw_sum
FROM dq
GROUP BY doc_id, mx, my, ci, nb
"""


@query("multimodal_jpeg_color_decode", _JPEG_COLOR_ORACLE)
def multimodal_jpeg_color_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL interleaved-COLOR baseline-JPEG entropy decode: genuine
    4:2:0 YCbCr SOF0 scans (standard luminance AND chrominance
    Annex-K tables, per-component quant tables, DRI/RSTn restarts
    resetting all three DC predictions) decoded through the
    interleaved MCU walk inside an Arrow-batched mapInPandas stage;
    per-(media, component) exact integer coefficient stats are
    hash-checked against the closed-form plant."""
    from ..operators.multimodal import (
        jpeg_color_coef_stats,
        synthesize_jpeg_color_media,
    )

    media = synthesize_jpeg_color_media(load_table(spark, sf_dir, "documents"))
    return jpeg_color_coef_stats(media)


@query("multimodal_jpeg_progressive_decode", _JPEG_COEF_ORACLE)
def multimodal_jpeg_progressive_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL PROGRESSIVE (SOF2) JPEG decode: the same closed-form
    plants as the baseline entropy fixture, re-encoded as genuine
    multi-scan progressive streams (DC first + refinement, spectral-
    selection AC bands with successive approximation and EOBRUN/
    correction-bit refinement scans) and decoded through the
    SOF-dispatching decoder — the coefficient domain is lossless, so
    this registers the IDENTICAL oracle as the baseline query and
    must produce the identical hash."""
    from ..operators.multimodal import (
        jpeg_coef_stats,
        synthesize_jpeg_progressive_media,
    )

    media = synthesize_jpeg_progressive_media(
        load_table(spark, sf_dir, "documents")
    )
    return jpeg_coef_stats(media)


# Color progressive: REAL-grid block counts are ceil-division
# functions of the cropped dims (the interleaved DC scans' dummy
# blocks never reach the output), so the oracle re-derives the whole
# per-component multiset exactly — a decoder that misplaces dummy
# blocks, mixes component predictions across the interleaved walk, or
# mis-slots an AC band cannot hash-match.
_JPEG_COLOR_PROG_ORACLE = f"""
WITH d AS (
    SELECT doc_id,
           16 * (doc_id % 2 + 1) - doc_id % 12 AS w,
           16 * ((doc_id // 2) % 2 + 1) - doc_id % 10 AS h
    FROM documents
),
c AS (
    SELECT doc_id, w, h, unnest([0, 1, 2]) AS ci FROM d
),
cb AS (
    SELECT doc_id, w, h, ci,
           CASE WHEN ci = 0
                THEN ((w + 7) // 8) * ((h + 7) // 8)
                ELSE (((w + 1) // 2 + 7) // 8) * (((h + 1) // 2 + 7) // 8)
           END AS nb
    FROM c
),
blk AS (
    SELECT doc_id, w, h, ci, nb, unnest(range(0, nb)) AS b FROM cb
),
dc AS (
    SELECT doc_id, w, h, ci, nb, b, 0 AS p,
           (doc_id + 11 * b + 7 * ci) % 61 - 30 AS v
    FROM blk
),
ac AS (
    SELECT doc_id, w, h, ci, nb, b,
           (5 * i.i + 3 * b + 2 * ci) % 63 + 1 AS p,
           CASE WHEN (doc_id + 13 * b + 29 * i.i + 5 * ci) % 20 - 10 >= 0
                THEN (doc_id + 13 * b + 29 * i.i + 5 * ci) % 20 - 9
                ELSE (doc_id + 13 * b + 29 * i.i + 5 * ci) % 20 - 10
           END AS v
    FROM blk,
         LATERAL (
             SELECT unnest(range(1, (doc_id + b + ci) % 6 + 3)) AS i
         ) i
),
dq AS (
    SELECT doc_id, w, h, ci, nb, p,
           v * (CASE WHEN ci = 0 THEN (doc_id * 7 + p) % 31 + 1
                     ELSE (doc_id * 5 + p) % 29 + 1 END) AS dv
    FROM (SELECT * FROM dc UNION ALL SELECT * FROM ac)
)
SELECT doc_id AS media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(ci AS INTEGER) AS component,
       CAST(nb AS BIGINT) AS n_blocks,
       CAST(count(*) FILTER (dv != 0) AS BIGINT) AS n_nonzero,
       CAST(sum(dv) AS BIGINT) AS coef_sum,
       CAST(min(dv) FILTER (dv != 0) AS INTEGER) AS coef_min,
       CAST(max(dv) FILTER (dv != 0) AS INTEGER) AS coef_max,
       CAST(sum(CASE WHEN p = 0 THEN dv ELSE 0 END) AS BIGINT) AS dc_sum,
       CAST(sum(dv * list_extract({_NAT_LIST}, CAST(p AS INTEGER) + 1))
            AS BIGINT) AS posw_sum
FROM dq
GROUP BY doc_id, w, h, ci, nb
"""


@query("multimodal_jpeg_color_progressive", _JPEG_COLOR_PROG_ORACLE)
def multimodal_jpeg_color_progressive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL COLOR PROGRESSIVE (SOF2 4:2:0 YCbCr) JPEG decode:
    interleaved DC first/refinement scans over the MCU-padded grids
    (dummy edge blocks on the wire, stripped from the output) +
    per-component spectral-band AC scans with successive
    approximation, EOBRUN and restart markers — decoded through the
    SOF-dispatching decoder in an Arrow-batched mapInPandas stage;
    per-(media, component) exact coefficient stats hash-checked
    against the closed-form plant."""
    from ..operators.multimodal import (
        jpeg_color_coef_stats,
        synthesize_jpeg_color_progressive_media,
    )

    media = synthesize_jpeg_color_progressive_media(
        load_table(spark, sf_dir, "documents")
    )
    return jpeg_color_coef_stats(media)


# 4-component (Adobe YCCK/CMYK) baseline: 1x1 sampling on all four
# components, so nb = wb * hb for every component and the interleaved
# MCU is 4 blocks wide. Distinct per-component quant tables and
# coefficient streams make any component/table mixup in the 4-way
# walk hash-visible.
_JPEG_CMYK_ORACLE = f"""
WITH d AS (
    SELECT doc_id, doc_id % 3 + 1 AS wb, doc_id % 2 + 1 AS hb
    FROM documents
),
c AS (
    SELECT doc_id, wb, hb, unnest([0, 1, 2, 3]) AS ci FROM d
),
blk AS (
    SELECT doc_id, wb, hb, ci, wb * hb AS nb,
           unnest(range(0, wb * hb)) AS b
    FROM c
),
dc AS (
    SELECT doc_id, wb, hb, ci, nb, b, 0 AS p,
           (doc_id + 11 * b + 7 * ci) % 61 - 30 AS v
    FROM blk
),
ac AS (
    SELECT doc_id, wb, hb, ci, nb, b,
           (5 * i.i + 3 * b + 2 * ci) % 63 + 1 AS p,
           CASE WHEN (doc_id + 13 * b + 29 * i.i + 5 * ci) % 20 - 10 >= 0
                THEN (doc_id + 13 * b + 29 * i.i + 5 * ci) % 20 - 9
                ELSE (doc_id + 13 * b + 29 * i.i + 5 * ci) % 20 - 10
           END AS v
    FROM blk,
         LATERAL (
             SELECT unnest(range(1, (doc_id + b + ci) % 6 + 3)) AS i
         ) i
),
dq AS (
    SELECT doc_id, wb, hb, ci, nb, p,
           v * (CASE WHEN ci = 0 THEN (doc_id * 7 + p) % 31 + 1
                     ELSE (doc_id * 5 + 7 * ci + p) % 29 + 1 END) AS dv
    FROM (SELECT * FROM dc UNION ALL SELECT * FROM ac)
)
SELECT doc_id AS media_id,
       CAST(wb * 8 - doc_id % 5 AS INTEGER) AS width,
       CAST(hb * 8 - doc_id % 3 AS INTEGER) AS height,
       CAST(ci AS INTEGER) AS component,
       CAST(nb AS BIGINT) AS n_blocks,
       CAST(count(*) FILTER (dv != 0) AS BIGINT) AS n_nonzero,
       CAST(sum(dv) AS BIGINT) AS coef_sum,
       CAST(min(dv) FILTER (dv != 0) AS INTEGER) AS coef_min,
       CAST(max(dv) FILTER (dv != 0) AS INTEGER) AS coef_max,
       CAST(sum(CASE WHEN p = 0 THEN dv ELSE 0 END) AS BIGINT) AS dc_sum,
       CAST(sum(dv * list_extract({_NAT_LIST}, CAST(p AS INTEGER) + 1))
            AS BIGINT) AS posw_sum
FROM dq
GROUP BY doc_id, wb, hb, ci, nb
"""


@query("multimodal_jpeg_cmyk_decode", _JPEG_CMYK_ORACLE)
def multimodal_jpeg_cmyk_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL 4-component (Adobe CMYK/YCCK) baseline-JPEG entropy
    decode: genuine APP14-signaled SOF0 files with a 4-way
    interleaved scan, per-component quant tables and DC prediction
    chains, DRI/RSTn restarts resetting all four predictions —
    decoded in an Arrow-batched mapInPandas stage; per-(media,
    component) exact integer coefficient stats are hash-checked
    against the closed-form plant. Closes the last JPEG frame-layout
    gap: 1-, 3- and 4-component frames all decode to completion."""
    from ..operators.multimodal import (
        jpeg_color_coef_stats,
        synthesize_jpeg_cmyk_media,
    )

    media = synthesize_jpeg_cmyk_media(load_table(spark, sf_dir, "documents"))
    return jpeg_color_coef_stats(media)


# Pixel-exact YCCK->CMYK: DC-only Y/K planes (q0 multiples of 8 keep
# the flat values integral) and all-zero chroma make the Adobe
# inverse transform closed-form — at zero chroma R = G = B = Y
# exactly, so C = M = Y-channel = 255 - y_val and K passes through.
_JPEG_YCCK_PIXEL_ORACLE = """
WITH d AS (
    SELECT doc_id, doc_id % 3 + 1 AS wb, doc_id % 2 + 1 AS hb,
           doc_id % 16 + 1 AS sy, (doc_id + 5) % 16 + 1 AS sk
    FROM documents
),
dd AS (
    SELECT doc_id, wb, hb, sy, sk,
           wb * 8 - doc_id % 5 AS w,
           hb * 8 - doc_id % 3 AS h
    FROM d
),
blk AS (
    SELECT doc_id, w, h, wb, sy, sk,
           unnest(range(0, wb * hb)) AS b
    FROM dd
),
px AS (
    SELECT doc_id, w, h,
           LEAST(255, GREATEST(0,
               ((doc_id + 11 * b) % 61 - 30) * sy + 128)) AS yv,
           LEAST(255, GREATEST(0,
               ((doc_id + 13 * b + 7) % 61 - 30) * sk + 128)) AS kv,
           LEAST(8, w - 8 * (b % wb)) AS nc,
           LEAST(8, h - 8 * (b // wb)) AS nr
    FROM blk
),
ch AS (
    SELECT doc_id, w, h, c.ch AS channel,
           CASE WHEN c.ch <= 2 THEN 255 - yv ELSE kv END AS val,
           nc, nr
    FROM px, LATERAL (SELECT unnest([0, 1, 2, 3]) AS ch) c
)
SELECT doc_id AS media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(channel AS INTEGER) AS channel,
       CAST(w * h AS BIGINT) AS n_pixels,
       CAST(sum(val * nc * nr) AS BIGINT) AS pixel_sum,
       CAST(min(val) AS INTEGER) AS pixel_min,
       CAST(max(val) AS INTEGER) AS pixel_max
FROM ch
GROUP BY doc_id, w, h, channel
"""


@query("multimodal_jpeg_ycck_pixels", _JPEG_YCCK_PIXEL_ORACLE)
def multimodal_jpeg_ycck_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Adobe YCCK JPEG decode to CMYK PIXELS: the full pipeline
    (4-way interleaved entropy decode, dequant, IDCT, level shift,
    clamp, crop, APP14 transform-2 YCCK->CMYK inverse) per payload;
    the DC-only zero-chroma fixture keeps every decoded CMYK pixel
    closed-form, so per-(media, channel) stats are exact-integer
    hash-checked — the color transform itself is on the oracle
    path, crop included."""
    from ..operators.multimodal import (
        jpeg_channel_pixel_stats,
        synthesize_jpeg_ycck_flat_media,
    )

    media = synthesize_jpeg_ycck_flat_media(
        load_table(spark, sf_dir, "documents")
    )
    return jpeg_channel_pixel_stats(media)


# GIF: the palette and pixel-index plants are closed-form functions of
# (doc_id, x, y), so the oracle re-derives every decoded RGB value
# without ever touching the wire format — LZW, interlacing and color
# table selection all sit between the plant and the hash.
_GIF_PIXEL_ORACLE = """
WITH d AS (
    SELECT doc_id, doc_id % 19 + 4 AS w, doc_id % 13 + 3 AS h,
           doc_id % 200 + 2 AS nc
    FROM documents
),
px AS (
    SELECT doc_id, w, h, nc,
           (doc_id + 3 * x.x + 5 * y.y + x.x * y.y) % nc AS idx
    FROM d,
         LATERAL (SELECT unnest(range(0, w)) AS x) x,
         LATERAL (SELECT unnest(range(0, h)) AS y) y
),
ch AS (
    SELECT doc_id, w, h, c.ch AS channel,
           CASE c.ch
               WHEN 0 THEN (doc_id * 3 + 7 * idx) % 256
               WHEN 1 THEN (doc_id * 5 + 11 * idx) % 256
               ELSE (doc_id * 7 + 13 * idx) % 256
           END AS val
    FROM px, LATERAL (SELECT unnest([0, 1, 2]) AS ch) c
)
SELECT doc_id AS media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(channel AS INTEGER) AS channel,
       CAST(w * h AS BIGINT) AS n_pixels,
       CAST(sum(val) AS BIGINT) AS pixel_sum,
       CAST(min(val) AS INTEGER) AS pixel_min,
       CAST(max(val) AS INTEGER) AS pixel_max
FROM ch
GROUP BY doc_id, w, h, channel
"""


@query("multimodal_gif_decode", _GIF_PIXEL_ORACLE)
def multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode to RGB pixels: genuine GIF87a/89a files (real
    LZW with variable code widths, mid-stream clear codes, KwKwK
    strings; 4-pass interlacing; local-vs-global color table
    selection with a decoy global table; 89a comment / NETSCAPE
    extension skip paths) decoded by the from-scratch codec in an
    Arrow-batched mapInPandas stage; per-(media, channel) exact
    integer pixel stats hash-checked against the closed-form plant.
    The LZW width-flip schedule is additionally pinned against
    foreign-encoder GIFs in tests/test_gifcodec.py."""
    from ..operators.multimodal import gif_pixel_stats, synthesize_gif_media

    media = synthesize_gif_media(load_table(spark, sf_dir, "documents"))
    return gif_pixel_stats(media)


_GIF_FRAMES_ORACLE = """
WITH d AS (
    SELECT doc_id, doc_id % 19 + 4 AS w, doc_id % 13 + 3 AS h,
           doc_id % 200 + 2 AS nc
    FROM documents
),
fr AS (
    SELECT doc_id, w, h, nc, f.f AS frame
    FROM d, LATERAL (SELECT unnest(range(0, doc_id % 4 + 2)) AS f) f
),
px AS (
    SELECT doc_id, w, h, nc, frame,
           (doc_id + 17 * frame + 3 * x.x + 5 * y.y) % nc AS idx
    FROM fr,
         LATERAL (SELECT unnest(range(0, w)) AS x) x,
         LATERAL (SELECT unnest(range(0, h)) AS y) y
),
ch AS (
    SELECT doc_id, w, h, frame, c.ch AS channel,
           CASE c.ch
               WHEN 0 THEN (doc_id * 3 + 7 * idx) % 256
               WHEN 1 THEN (doc_id * 5 + 11 * idx) % 256
               ELSE (doc_id * 7 + 13 * idx) % 256
           END AS val
    FROM px, LATERAL (SELECT unnest([0, 1, 2]) AS ch) c
)
SELECT doc_id AS media_id,
       CAST(frame AS INTEGER) AS frame,
       CAST(channel AS INTEGER) AS channel,
       CAST(4 * frame + 1 AS INTEGER) AS delay_cs,
       CAST(frame % 4 AS INTEGER) AS disposal,
       CAST(w * h AS BIGINT) AS n_pixels,
       CAST(sum(val) AS BIGINT) AS pixel_sum,
       CAST(min(val) AS INTEGER) AS pixel_min,
       CAST(max(val) AS INTEGER) AS pixel_max
FROM ch
GROUP BY doc_id, w, h, frame, channel
"""


@query("multimodal_gif_animation_frames", _GIF_FRAMES_ORACLE)
def multimodal_gif_animation_frames(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Animated-GIF frame extraction: 2..5 full-canvas frames per
    media, each behind its own graphic-control extension (delay,
    disposal) and per-frame interlace choice; the decode carries the
    control metadata through to one stats row per (media, frame,
    channel). This is the GIF arm of the video-frame-sampling family
    (multimodal_frame_sample covers Y4M)."""
    from ..operators.multimodal import (
        gif_frame_stats,
        synthesize_gif_animation_media,
    )

    media = synthesize_gif_animation_media(
        load_table(spark, sf_dir, "documents")
    )
    return gif_frame_stats(media)


# G.711: both companders are stateless per-sample functions, so the
# ENTIRE decode (not just stats over a lossless plant) is replayed in
# SQL — the oracle expands every planted byte through the mu-law /
# A-law expansion formulas with integer shifts and xor.
_G711_ORACLE = """
WITH d AS (
    SELECT doc_id, doc_id % 400 + 40 AS n FROM documents
),
s AS (
    SELECT doc_id, n, i.i AS i, (doc_id * 7 + 31 * i.i) % 256 AS u
    FROM d, LATERAL (SELECT unnest(range(0, n)) AS i) i
),
dec AS (
    SELECT doc_id, n, i,
        CASE WHEN doc_id % 2 = 0 THEN
            CASE WHEN (255 - u) >= 128
                 THEN 132 - (((255 - u) % 16) * 8 + 132)
                      * (1 << (((255 - u) // 16) % 8))
                 ELSE (((255 - u) % 16) * 8 + 132)
                      * (1 << (((255 - u) // 16) % 8)) - 132
            END
        ELSE
            (CASE WHEN xor(u, 85) >= 128 THEN 1 ELSE -1 END) *
            (CASE WHEN ((xor(u, 85) // 16) % 8) = 0
                  THEN (xor(u, 85) % 16) * 16 + 8
                  WHEN ((xor(u, 85) // 16) % 8) = 1
                  THEN (xor(u, 85) % 16) * 16 + 264
                  ELSE ((xor(u, 85) % 16) * 16 + 264)
                       * (1 << (((xor(u, 85) // 16) % 8) - 1))
             END)
        END AS v
    FROM s
)
SELECT doc_id AS media_id,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 7 ELSE 6 END AS INTEGER)
           AS audio_format,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(n AS BIGINT) AS n_samples,
       CAST(sum(v) AS BIGINT) AS linear_sum,
       CAST(min(v) AS INTEGER) AS linear_min,
       CAST(max(v) AS INTEGER) AS linear_max,
       CAST(sum(abs(v)) AS BIGINT) AS abs_sum,
       CAST(sum(v * (i % 17)) AS BIGINT) AS posw_sum
FROM dec
GROUP BY doc_id, n
"""


@query("multimodal_audio_g711_decode", _G711_ORACLE)
def multimodal_audio_g711_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL G.711 telephony-audio decode: 8-bit mu-law / A-law WAV
    files (format codes 7/6, fact chunk present) expanded to 16-bit
    linear PCM in an Arrow-batched mapInPandas stage. The companders
    are bit-exact against CPython's audioop across the full domain
    (tests/test_avcodec_g711.py) and the oracle replays the expansion
    formulas in pure SQL — every decoded sample is on the hash path."""
    from ..operators.multimodal import (
        g711_audio_stats,
        synthesize_g711_media,
    )

    media = synthesize_g711_media(load_table(spark, sf_dir, "documents"))
    return g711_audio_stats(media)


# FLAC: the codec is lossless, so the oracle re-derives every decoded
# sample from the closed-form plant — the entire compressed path
# (Rice words, fixed predictors, decorrelation modes, CRCs, MD5) sits
# between the plant and the hash.
_FLAC_ORACLE = """
WITH d AS (
    SELECT doc_id, doc_id % 777 + 64 AS n,
           CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS nch,
           CASE WHEN doc_id % 11 = 0 THEN 4 ELSE 1 END AS scale
    FROM documents
),
ch AS (
    SELECT doc_id, n, nch, scale, c.c AS channel
    FROM d, LATERAL (SELECT unnest(range(0, nch)) AS c) c
),
s AS (
    SELECT doc_id, n, nch, channel, i.i AS i,
        CASE WHEN doc_id % 13 = 0 THEN
                 CASE WHEN channel = 0 THEN doc_id % 201 - 100
                      ELSE doc_id % 157 - 78 END
             WHEN channel = 0 THEN
                 ((doc_id * 13 + 71 * i.i + (i.i * i.i * 7) % 97) % 2001
                  - 1000) * scale
             ELSE
                 ((doc_id * 17 + 53 * i.i + (i.i * i.i * 11) % 89) % 2001
                  - 1000) * scale
        END AS v
    FROM ch, LATERAL (SELECT unnest(range(0, n)) AS i) i
)
SELECT doc_id AS media_id,
       CAST(channel AS INTEGER) AS channel,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(nch AS INTEGER) AS n_channels,
       CAST(n AS BIGINT) AS n_samples,
       CAST(sum(v) AS BIGINT) AS sample_sum,
       CAST(min(v) AS INTEGER) AS sample_min,
       CAST(max(v) AS INTEGER) AS sample_max,
       CAST(sum(abs(v)) AS BIGINT) AS abs_sum,
       CAST(sum(v * (i % 31)) AS BIGINT) AS posw_sum
FROM s
GROUP BY doc_id, channel, nch, n
"""


@query("multimodal_flac_decode", _FLAC_ORACLE)
def multimodal_flac_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL COMPRESSED-AUDIO decode: genuine FLAC files (Rice-coded
    residuals with escape partitions, fixed predictors 0-4, VERBATIM
    and CONSTANT subframes, wasted bits, all four stereo
    decorrelation modes, CRC-8/CRC-16, STREAMINFO MD5) decoded by the
    from-scratch fixed-predictor-subset codec in an Arrow-batched
    mapInPandas stage; the decoder self-verifies both CRCs and the
    MD5 of its own output, and per-(media, channel) exact integer
    stats hash-check every decoded sample against the closed-form
    plant. The Rice/unary wire format is additionally pinned by
    hand-derived bitstreams in tests/test_flaccodec.py."""
    from ..operators.multimodal import (
        flac_sample_stats,
        synthesize_flac_media,
    )

    media = synthesize_flac_media(load_table(spark, sf_dir, "documents"))
    return flac_sample_stats(media)


# TIFF: byte order, IFD storage classes, strip math and PackBits all
# sit between the closed-form plant and the hash.
_TIFF_ORACLE = """
WITH d AS (
    SELECT doc_id, doc_id % 21 + 4 AS w, doc_id % 15 + 3 AS h,
           doc_id % 5 + 1 AS rps
    FROM documents
),
px AS (
    SELECT doc_id, w, h, rps,
           CASE WHEN doc_id % 3 = 0
                THEN (doc_id + y.y + (x.x // 6) * 11) % 256
                ELSE (doc_id * 5 + 3 * x.x + 7 * y.y
                      + (x.x * y.y) % 13) % 256
           END AS v
    FROM d,
         LATERAL (SELECT unnest(range(0, w)) AS x) x,
         LATERAL (SELECT unnest(range(0, h)) AS y) y
)
SELECT doc_id AS media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 32773 ELSE 1 END AS INTEGER)
           AS compression,
       CAST((h + rps - 1) // rps AS INTEGER) AS n_strips,
       CAST(w * h AS BIGINT) AS n_pixels,
       CAST(sum(v) AS BIGINT) AS pixel_sum,
       CAST(min(v) AS INTEGER) AS pixel_min,
       CAST(max(v) AS INTEGER) AS pixel_max
FROM px
GROUP BY doc_id, w, h, rps
"""


@query("multimodal_tiff_decode", _TIFF_ORACLE)
def multimodal_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL TIFF decode: genuine little- and big-endian files with
    multi-strip layouts (out-of-line StripOffsets/StripByteCounts
    arrays when they outgrow the 4-byte inline slot) and PackBits RLE
    on every third doc, decoded by the from-scratch codec in an
    Arrow-batched mapInPandas stage; per-media exact integer pixel
    stats hash-checked against the closed-form plant. PackBits is
    additionally pinned by the specification's worked example in
    tests/test_tiffcodec.py."""
    from ..operators.multimodal import (
        synthesize_tiff_media,
        tiff_pixel_stats,
    )

    media = synthesize_tiff_media(load_table(spark, sf_dir, "documents"))
    return tiff_pixel_stats(media)


# IMA ADPCM: the decode is STATEFUL (each nibble updates a
# (predictor, step-index) machine), so no per-byte formula exists —
# the oracle replays the entire state machine with a recursive CTE,
# including the block-boundary samples where the decoder re-emits the
# header predictor without consuming a nibble (emitted index i is a
# header iff i % 65 == 0 at block_align 36; nibble index j trails i
# by the number of headers seen).
_IMA_STEP_SQL = "[" + ",".join(
    "7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,"
    "73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,"
    "408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,"
    "1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,"
    "7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,"
    "22385,24623,27086,29794,32767".split(",")
) + "]"

_ADPCM_ORACLE = f"""
WITH RECURSIVE d AS (
    SELECT doc_id, doc_id % 600 + 50 AS n,
           doc_id % 2001 - 1000 AS pred0, doc_id % 89 AS idx0
    FROM documents
),
st AS (
    SELECT doc_id, n, 0 AS i, 0 AS j, CAST(pred0 AS INTEGER) AS pred,
           CAST(idx0 AS INTEGER) AS idx, CAST(pred0 AS INTEGER) AS sample
    FROM d
    UNION ALL
    SELECT doc_id, n, i + 1,
           CASE WHEN (i + 1) % 65 = 0 THEN j ELSE j + 1 END,
           new_pred, new_idx,
           CASE WHEN (i + 1) % 65 = 0 THEN pred ELSE new_pred END
    FROM (
        SELECT doc_id, n, i, j, pred, idx,
            CASE WHEN (i + 1) % 65 = 0 THEN pred ELSE
                GREATEST(-32768, LEAST(32767,
                    pred + CASE WHEN nib >= 8 THEN -diff ELSE diff END))
            END AS new_pred,
            CASE WHEN (i + 1) % 65 = 0 THEN idx ELSE
                GREATEST(0, LEAST(88, idx + list_extract(
                    [-1, -1, -1, -1, 2, 4, 6, 8], (nib % 8) + 1)))
            END AS new_idx
        FROM (
            SELECT *, (step >> 3)
                   + CASE WHEN nib % 2 = 1 THEN step >> 2 ELSE 0 END
                   + CASE WHEN (nib // 2) % 2 = 1 THEN step >> 1 ELSE 0 END
                   + CASE WHEN (nib // 4) % 2 = 1 THEN step ELSE 0 END
                   AS diff
            FROM (
                SELECT *,
                       (doc_id * 3 + 5 * j + (j * j) % 11) % 16 AS nib,
                       list_extract({_IMA_STEP_SQL}, idx + 1) AS step
                FROM st
            )
        )
    )
    WHERE i < n - 1
)
SELECT doc_id AS media_id,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(sample) AS BIGINT) AS sample_sum,
       CAST(min(sample) AS INTEGER) AS sample_min,
       CAST(max(sample) AS INTEGER) AS sample_max,
       CAST(sum(sample * (i % 29)) AS BIGINT) AS posw_sum
FROM st
GROUP BY doc_id
"""


@query("multimodal_audio_adpcm_decode", _ADPCM_ORACLE)
def multimodal_audio_adpcm_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STATEFUL audio codec decode: mono IMA-ADPCM WAV (format 0x11)
    with real 36-byte blocks — each header restarts the (predictor,
    step-index) machine and its predictor is the block's first
    emitted sample — decoded in an Arrow-batched mapInPandas stage.
    The oracle is a recursive-CTE replay of the complete state
    machine (step table, conditional diff accumulation, clamps,
    block-boundary header samples), so every one of the ~350 decoded
    samples per media is on the hash path; the wire layout is pinned
    by the 400-doc replay equality in tests/test_avcodec_g711.py."""
    from ..operators.multimodal import (
        adpcm_sample_stats,
        synthesize_adpcm_media,
    )

    media = synthesize_adpcm_media(load_table(spark, sf_dir, "documents"))
    return adpcm_sample_stats(media)


# Archives: CRC-verified extraction sits between the closed-form
# member plant and the hash; odd members are constant runs, so real
# deflate entries ride the ZIP wire next to stored ones.
_ARCHIVE_ORACLE = """
WITH d AS (
    SELECT doc_id, doc_id % 4 + 1 AS k FROM documents
),
m AS (
    SELECT doc_id, k, mm.m AS member,
           (doc_id + mm.m * 37) % 300 + 10 AS n
    FROM d, LATERAL (SELECT unnest(range(0, k)) AS m) mm
),
b AS (
    SELECT doc_id, member, n,
           CASE WHEN member % 2 = 1
                THEN n * ((doc_id + member) % 256)
                ELSE (
                    SELECT sum((doc_id * 7 + member * 13 + i.i) % 256)
                    FROM (SELECT unnest(range(0, n)) AS i) i
                )
           END AS bsum
    FROM m
)
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 2 = 0 THEN 'zip' ELSE 'tar' END AS kind,
       CAST(member AS INTEGER) AS member,
       'part-' || member || '.bin' AS name,
       CAST(n AS BIGINT) AS n_bytes,
       CAST(bsum AS BIGINT) AS byte_sum
FROM b
"""


@query("archive_extract_audit", _ARCHIVE_ORACLE)
def archive_extract_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-delivery ingestion: genuine ZIP archives (central
    directory walk, stored + raw-deflate members, CRC-32 verified)
    and ustar TAR archives (octal fields, checksum-validated headers)
    extracted by the from-scratch readers in an Arrow-batched
    mapInPandas stage; per-(media, member) exact stats hash-checked
    against the closed-form plant. The readers are additionally
    differential-tested BOTH directions against stdlib
    zipfile/tarfile as foreign implementations
    (tests/test_archivecodec.py)."""
    from ..operators.multimodal import (
        archive_member_stats,
        synthesize_archive_media,
    )

    media = synthesize_archive_media(load_table(spark, sf_dir, "documents"))
    return archive_member_stats(media)


# WARC: record framing, gzip-member splitting and the nested HTTP
# parse sit between the closed-form body plant and the hash.
_WARC_ORACLE = """
WITH d AS (
    SELECT doc_id, doc_id % 3 + 1 AS k FROM documents
),
m AS (
    SELECT doc_id, mm.m AS record,
           (doc_id + 41 * mm.m) % 500 + 20 AS n
    FROM d, LATERAL (SELECT unnest(range(0, k)) AS m) mm
),
b AS (
    SELECT doc_id, record, n,
           (SELECT sum(97 + (doc_id * 3 + record * 7 + i.i) % 26)
            FROM (SELECT unnest(range(0, n)) AS i) i) AS csum
    FROM m
)
SELECT doc_id AS media_id,
       CAST(record AS INTEGER) AS record,
       'http://example.com/' || doc_id || '/' || record AS target_uri,
       CAST(200 AS INTEGER) AS status,
       doc_id % 2 = 0 AS gzipped,
       CAST(n AS BIGINT) AS n_bytes,
       CAST(csum AS BIGINT) AS char_sum
FROM b
"""


@query("warc_extract_text", _WARC_ORACLE)
def warc_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-corpus ingestion front door: genuine WARC files (warcinfo
    + request/response records, full HTTP/1.1 messages,
    Content-Length framing, the Common Crawl per-record-gzip layout
    on even docs) parsed by the from-scratch reader in an
    Arrow-batched mapInPandas stage; request/warcinfo records are
    filtered on type, responses HTTP-parsed, and per-(media, record)
    exact stats hash-checked against the closed-form plant."""
    from ..operators.multimodal import (
        synthesize_warc_media,
        warc_response_stats,
    )

    media = synthesize_warc_media(load_table(spark, sf_dir, "documents"))
    return warc_response_stats(media)


# DC-only thumbnails: floor((dc*q0)/8) + 128 clamped — the DC-only
# IDCT in closed form; the positional pin fixes the block walk order.
_JPEG_THUMB_ORACLE = """
WITH d AS (
    SELECT doc_id, doc_id % 3 + 1 AS wb, doc_id % 2 + 1 AS hb,
           (doc_id * 7) % 31 + 1 AS q0
    FROM documents
),
blk AS (
    SELECT doc_id, wb, hb, q0, b.b AS b
    FROM d, LATERAL (SELECT unnest(range(0, wb * hb)) AS b) b
),
px AS (
    SELECT doc_id, wb, hb, b,
           LEAST(255, GREATEST(0,
               CAST(floor(CAST(((doc_id + 11 * b) % 61 - 30) * q0
                               AS DOUBLE) / 8) AS INTEGER) + 128)) AS v
    FROM blk
)
SELECT doc_id AS media_id,
       CAST(wb AS INTEGER) AS thumb_w,
       CAST(hb AS INTEGER) AS thumb_h,
       CAST(wb * hb AS BIGINT) AS n_pixels,
       CAST(sum(v) AS BIGINT) AS pixel_sum,
       CAST(min(v) AS INTEGER) AS pixel_min,
       CAST(max(v) AS INTEGER) AS pixel_max,
       CAST(sum(v * (b % 13)) AS BIGINT) AS posw_sum
FROM px
GROUP BY doc_id, wb, hb
"""


@query("multimodal_jpeg_thumbnail_dc", _JPEG_THUMB_ORACLE)
def multimodal_jpeg_thumbnail_dc(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PROGRESSIVE-JPEG thumbnail fast path: 1/8-scale images decoded
    from ONLY the DC scans — the decoder stops at the first AC scan,
    so most of each file's entropy data is never parsed (the reason
    image pipelines store progressive JPEGs: previews cost a fraction
    of the bytes AND the compute). DC values are bit-exact vs the
    full decode (asserted in tests), and the closed-form oracle pins
    every thumbnail pixel including the block-order positional sum."""
    from ..operators.multimodal import (
        jpeg_dc_thumbnail_stats,
        synthesize_jpeg_progressive_media,
    )

    media = synthesize_jpeg_progressive_media(
        load_table(spark, sf_dir, "documents")
    )
    return jpeg_dc_thumbnail_stats(media)


# Compressed text: decompression is lossless, so md5(text) pins every
# decompressed byte; compressed sizes are library-version-dependent
# and deliberately stay out of the oracle.
_COMPRESSED_TEXT_ORACLE = """
SELECT doc_id AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'gzip' WHEN 1 THEN 'bz2'
            ELSE 'xz' END AS codec,
       CAST(n_chars AS BIGINT) AS n_chars,
       md5(text) AS text_md5
FROM documents
"""


@query("compressed_text_ingest", _COMPRESSED_TEXT_ORACLE)
def compressed_text_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-corpus ingestion across the three codecs text
    corpora actually ship in — gzip (Common Crawl), bz2 (Wikipedia
    dumps), xz/LZMA (mirrors) — with the format detected by MAGIC
    BYTES, never the label (a mislabeled payload raises). The decode
    emits md5 of the decompressed bytes, which must equal the
    oracle's md5 over the source text column — every byte of every
    decompressed document is on the hash path."""
    from ..operators.multimodal import (
        compressed_text_stats,
        synthesize_compressed_text_media,
    )

    media = synthesize_compressed_text_media(
        load_table(spark, sf_dir, "documents")
    )
    return compressed_text_stats(media)

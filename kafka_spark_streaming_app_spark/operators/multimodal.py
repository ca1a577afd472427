"""Multimodal columns: images/audio/video as opaque binary + typed
metadata, processed by per-row Python functions in Arrow-batched
``mapInPandas`` stages.

The pattern for a 100 TB multimodal corpus:

- the payload is an opaque ``binary`` column; Spark never interprets
  it — only Python stages do, in Arrow batches (one Python round trip
  per ~10k rows, not per row);
- metadata travels in a typed struct column so planning-relevant
  predicates (media_type, width, duration) stay JVM-side and prune
  before any Python/decode cost;
- partitioning: payload rows are large — repartition by byte budget
  (``spark.sql.files.maxPartitionBytes``), never by row count.

Every render, parse and decode stage here is a pure per-row function
plus one :func:`map_rows` call: the function takes one input row's
columns and yields zero or more output rows, and ``map_rows`` owns the
batch loop, so one-to-one and row-expanding stages share one path and
each stage is exactly one ``MapInPandas`` node. Decode stages stream
batch iterators, so a partition never has to hold decoded media in
memory at once.

Fixture renders (``synthesize_*``) run over doc_id proxy rows spread
first with ``skew.spread_if_narrow``: a small single-file table
arrives as ONE input split, and the chained render->decode stages
fuse into that one task, so without the exchange the whole per-row
codec CPU runs serially. The exchange moves ~8 bytes/row (the id
only — the payload is created after it), hash partitioning on doc_id
is deterministic, and the explicit partition count is exempt from AQE
coalescing, which sizes partitions by bytes and cannot see per-row
encode/decode cost. A scan already as wide as the cluster is left
alone.

Codec coverage: every modality has REAL pure-stdlib codecs for
multiple containers:

- image: PNG, the full JPEG family (baseline/progressive, gray/
  color/CMYK-YCCK, restarts) in ``operators/imagecodec.py``;
  GIF87a/89a with real LZW and animations
  (``operators/gifcodec.py``); baseline TIFF with PackBits
  (``operators/tiffcodec.py``);
- audio: RIFF/WAV 16-bit PCM (cross-checked against stdlib ``wave``)
  plus G.711 mu-law/A-law (bit-exact vs ``audioop``) and blocked IMA
  ADPCM in ``operators/avcodec.py``, and COMPRESSED audio via the
  FLAC fixed-predictor subset (``operators/flaccodec.py`` — Rice
  coding, stereo decorrelation, CRCs, MD5 self-check);
- video: YUV4MPEG2 (.y4m) raw-video encoder/decoder
  (``operators/avcodec.py``) and animated-GIF frame extraction;
- delivery containers: ZIP/TAR archives
  (``operators/archivecodec.py``, differential vs stdlib both
  directions) and WARC web archives with per-record gzip members
  (``operators/warccodec.py``).

``synthesize_image_media`` / ``synthesize_audio_media`` /
``synthesize_video_media`` plant genuine container bytes with
closed-form content, and the ``multimodal_image_decode`` /
``multimodal_audio_decode`` / ``multimodal_video_decode`` queries are
oracle-checked end-to-end through the real codecs.  Perceptual
codecs (MP3/AAC/H.264) still need ffmpeg, absent here:
``decode_payload`` raises ``NotImplementedError`` for those unless
``fake=True``, in which case a deterministic byte-derived fake (seeded
by the payload itself) stands in. Everything around that remaining
stub — schemas, UDF signatures, Arrow batch shapes, row expansion — is
real and tested.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .skew import spread_if_narrow


def map_rows(
    df: DataFrame, fn: Callable[..., Iterable], schema: T.StructType
) -> DataFrame:
    """Run ``fn(*row)`` over every row of ``df``, columns in ``df``'s
    order, in one Arrow-batched ``mapInPandas`` stage. ``fn`` yields
    zero or more output rows, each a dict keyed by ``schema``'s field
    names or a tuple in its field order; each Arrow batch becomes one
    pandas DataFrame with exactly ``schema``'s columns."""
    columns = schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                out
                for row in zip(*(col for _, col in pdf.items()))
                for out in fn(*row)
            ]
            yield pd.DataFrame(rows, columns=columns)

    return df.mapInPandas(run, schema=schema)


def _doc_ids(documents: DataFrame) -> DataFrame:
    """doc_id proxy rows for a fixture render, spread first (see the
    module docstring)."""
    return spread_if_narrow(documents.select("doc_id"), "doc_id")


def _codec_media(
    documents: DataFrame, codec: str, encode: Callable[[int], bytes]
) -> DataFrame:
    """Fixture render stage: doc ``d`` becomes the media row
    (d, codec, encode(d))."""

    def render(doc_id):
        d = int(doc_id)
        yield d, codec, encode(d)

    return map_rows(_doc_ids(documents), render, IMAGE_MEDIA_SCHEMA)


def _int_stats(a) -> tuple[int, int, int, int]:
    """(count, int64 sum, min, max) of an integer array."""
    return int(a.size), int(a.sum(dtype=np.int64)), int(a.min()), int(a.max())


def _band_row(media_id, bits, width: int = 16) -> tuple:
    """(media_id, b0, b1, b2, b3): set bit k of ``bits`` lands in band
    k // width at bit k % width."""
    bands = [0, 0, 0, 0]
    for k in np.flatnonzero(bits):
        bands[k // width] |= 1 << (int(k) % width)
    return (media_id, *bands)


MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("format", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("media_type", T.StringType(), True),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", MEDIA_META_SCHEMA, True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("media_type", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("byte_mean", T.DoubleType(), True),
        T.StructField("byte_std", T.DoubleType(), True),
        T.StructField("histogram", T.ArrayType(T.LongType()), True),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("frame_idx", T.IntegerType(), True),
        T.StructField("frame_payload", T.BinaryType(), True),
    ]
)


def synthesize_media(documents: DataFrame) -> DataFrame:
    """Deterministic media table from ``documents``: payload = utf-8
    text bytes (a stand-in blob), media_type cycles image/audio/video,
    metadata derived from doc stats. Gives multimodal plumbing a real,
    reproducible fixture without codec libs."""
    mt = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    return documents.select(
        F.col("doc_id").alias("media_id"),
        mt.alias("media_type"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            F.lit("raw").alias("format"),
            F.when(F.col("doc_id") % 3 == 0, (F.col("n_chars") % 640 + 16).cast("int"))
            .otherwise(F.lit(None).cast("int"))
            .alias("width"),
            F.when(F.col("doc_id") % 3 == 0, (F.col("n_chars") % 480 + 16).cast("int"))
            .otherwise(F.lit(None).cast("int"))
            .alias("height"),
            F.when(F.col("doc_id") % 3 == 1, F.lit(16000)).otherwise(
                F.lit(None).cast("int")
            ).alias("sample_rate"),
            F.when(F.col("doc_id") % 3 == 2, (F.col("n_chars") % 32 + 2).cast("int"))
            .otherwise(F.lit(None).cast("int"))
            .alias("n_frames"),
        ).alias("meta"),
    )


def decode_payload(payload: bytes, media_type: str, fake: bool = False):
    """Decode a media payload to a numpy array.

    ``fake=False`` (the real path) decodes PNG and baseline-JPEG
    images via the pure-stdlib codecs in ``operators/imagecodec.py``
    → (H, W) uint8. Compressed audio/video still need ffmpeg,
    absent here, and raise ``NotImplementedError``.

    ``fake=True`` returns a deterministic numpy array derived from the
    payload bytes (md5-seeded), preserving shape contracts:
    image → (H, W) uint8; audio → (N,) int16; video → (F, H, W) uint8.
    """
    if not fake:
        from .avcodec import _RIFF_MAGIC, _Y4M_MAGIC, decode_wav, decode_y4m
        from .imagecodec import (
            _JPEG_MAGIC,
            _PNG_MAGIC,
            decode_jpeg,
            decode_png,
        )

        buf = payload or b""
        if media_type == "image" and buf.startswith(_PNG_MAGIC):
            return decode_png(buf)
        if media_type == "image" and buf.startswith(_JPEG_MAGIC):
            return decode_jpeg(buf)["pixels"]
        if media_type == "audio" and buf.startswith(_RIFF_MAGIC):
            return decode_wav(buf)[0]
        if media_type == "video" and buf.startswith(_Y4M_MAGIC):
            return decode_y4m(buf)[0]
        raise NotImplementedError(
            "compressed media decoding requires codec libraries (ffmpeg) "
            "that are not installed (real paths: PNG + baseline-JPEG "
            "images, PCM WAV audio, Y4M video); pass fake=True for the "
            "deterministic test fake"
        )
    seed = int.from_bytes(hashlib.md5(payload or b"").digest()[:4], "big")
    rng = np.random.default_rng(seed)
    if media_type == "image":
        return rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
    if media_type == "audio":
        return rng.integers(-(2**15), 2**15, size=(256,), dtype=np.int16)
    return rng.integers(0, 256, size=(4, 8, 8), dtype=np.uint8)


IMAGE_MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("codec", T.StringType(), True),  # png|jpeg
        T.StructField("payload", T.BinaryType(), True),
    ]
)

IMAGE_HEADER_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("format", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("bit_depth", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
    ]
)


def synthesize_image_media(documents: DataFrame) -> DataFrame:
    """REAL image fixture: even doc_ids become genuine 8-bit grayscale
    PNGs (encoded by ``imagecodec.encode_png`` — zlib IDAT, CRC'd
    chunks) with closed-form dimensions and pixel values

        W = doc_id % 24 + 8,  H = doc_id % 16 + 8,
        pixel(y, x) = (doc_id + 31*y + x) % 256

    so a SQL oracle can recompute every decoded byte; odd doc_ids get
    header-only JPEG containers (real SOI/APP0/SOF0 markers, dims
    W = doc_id % 640 + 16, H = doc_id % 480 + 16,
    channels = doc_id % 3 + 1).  Runs as an Arrow-batched mapInPandas
    stage — the shape a real "render/transcode" fixture stage takes."""
    from .imagecodec import encode_png, make_jpeg_header_bytes

    def render(doc_id):
        d = int(doc_id)
        if d % 2 == 0:
            yy, xx = np.mgrid[0 : d % 16 + 8, 0 : d % 24 + 8]
            pixels = ((d + 31 * yy + xx) % 256).astype(np.uint8)
            yield d, "png", encode_png(pixels)
        else:
            header = make_jpeg_header_bytes(d % 640 + 16, d % 480 + 16, d % 3 + 1)
            yield d, "jpeg", header

    return map_rows(_doc_ids(documents), render, IMAGE_MEDIA_SCHEMA)


def image_header_metadata(media: DataFrame) -> DataFrame:
    """Parse real container headers (PNG IHDR / JPEG SOF marker scan)
    from the binary payload — the metadata-extraction stage that runs
    BEFORE any decode in a media pipeline (O(header) per row, no
    decompression)."""
    from .imagecodec import parse_image_header

    def parse(media_id, payload):
        yield {**parse_image_header(bytes(payload)), "media_id": media_id}

    return map_rows(
        media.select("media_id", "payload"), parse, IMAGE_HEADER_SCHEMA
    )


JPEG_QUANT_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("n_tables", T.IntegerType(), True),
        T.StructField("quant_sum", T.LongType(), True),
        T.StructField("quant_min", T.IntegerType(), True),
        T.StructField("quant_max", T.IntegerType(), True),
    ]
)


def synthesize_jpeg_quant_media(documents: DataFrame) -> DataFrame:
    """JPEG fixture WITH real DQT quantization segments: every doc_id
    becomes a header-only JPEG carrying n = doc_id % 3 + 1 tables of
    64 deterministic 8-bit entries ``(doc_id + 17*t + j) % 255 + 1``
    (seeded by doc_id), dims W = doc_id % 640 + 16,
    H = doc_id % 480 + 16, channels = doc_id % 3 + 1."""
    from .imagecodec import make_jpeg_header_bytes

    def encode(d):
        return make_jpeg_header_bytes(
            d % 640 + 16,
            d % 480 + 16,
            d % 3 + 1,
            quant_tables=d % 3 + 1,
            quant_seed=d,
        )

    return _codec_media(documents, "jpeg", encode)


def jpeg_quant_metadata(media: DataFrame) -> DataFrame:
    """Parse DQT quantization tables + SOF dims from real JPEG bytes
    (operators/imagecodec.py:parse_jpeg_quant) — the compression-
    quality fingerprint stage of a media-curation pipeline; still
    O(header) per row, no entropy decode."""
    from .imagecodec import parse_jpeg_quant

    def parse(media_id, payload):
        yield {**parse_jpeg_quant(bytes(payload)), "media_id": media_id}

    return map_rows(
        media.select("media_id", "payload"), parse, JPEG_QUANT_SCHEMA
    )


DECODED_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_pixels", T.LongType(), True),
        T.StructField("pixel_sum", T.LongType(), True),
        T.StructField("pixel_min", T.IntegerType(), True),
        T.StructField("pixel_max", T.IntegerType(), True),
    ]
)


def decode_image_stats(media: DataFrame) -> DataFrame:
    """REAL decode stage (``fake=False``): inflate + unfilter each PNG
    via the pure-stdlib decoder and emit exact integer pixel stats.
    Every value is a deterministic function of the decoded bytes, so a
    closed-form SQL oracle over the fixture's pixel formula catches any
    encoder OR decoder defect bit-exactly."""

    def stats(media_id, payload):
        img = decode_payload(bytes(payload), "image", fake=False)
        yield (media_id, img.shape[1], img.shape[0], *_int_stats(img))

    pngs = media.filter(F.col("codec") == "png").select("media_id", "payload")
    return map_rows(pngs, stats, DECODED_STATS_SCHEMA)


AUDIO_MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("payload", T.BinaryType(), True),
    ]
)

AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("amp_sum", T.LongType(), True),
        T.StructField("amp_min", T.IntegerType(), True),
        T.StructField("amp_max", T.IntegerType(), True),
        T.StructField("energy", T.LongType(), True),
    ]
)


def synthesize_audio_media(documents: DataFrame) -> DataFrame:
    """REAL audio fixture: every doc becomes a genuine mono 16-bit PCM
    WAV (RIFF/fmt/data chunks via ``avcodec.encode_wav``) with
    closed-form content

        n = doc_id % 480 + 32 samples,
        rate = 8000 * (doc_id % 3 + 1),
        sample(i) = (doc_id * 7919 + i * 131) % 65536 - 32768

    so a SQL oracle can recompute every decoded sample."""
    from .avcodec import encode_wav

    def render(doc_id):
        d = int(doc_id)
        i = np.arange(d % 480 + 32, dtype=np.int64)
        samples = ((d * 7919 + i * 131) % 65536 - 32768).astype(np.int16)
        yield d, encode_wav(samples, 8000 * (d % 3 + 1))

    return map_rows(_doc_ids(documents), render, AUDIO_MEDIA_SCHEMA)


def decode_audio_stats(media: DataFrame) -> DataFrame:
    """REAL audio decode stage: parse the RIFF container and the PCM
    samples per row inside mapInPandas; every output is an exact
    integer (sums/extrema/energy over int16 samples), so a closed-form
    SQL oracle over the fixture's sample formula catches any encoder
    OR decoder defect bit-exactly."""

    from .avcodec import decode_wav

    def stats(media_id, payload):
        # one chunk walk: decode_wav returns samples AND header
        samples, hdr = decode_wav(bytes(payload))
        s64 = samples.astype("int64")
        n = int(samples.size)  # interleaved samples
        # duration counts FRAMES (sample sets), not interleaved
        # samples — a stereo file is not twice as long
        frames = n // max(hdr["channels"], 1)
        yield (
            media_id,
            hdr["sample_rate"],
            hdr["channels"],
            n,
            frames * 1000 // hdr["sample_rate"],
            int(s64.sum()),
            int(samples.min()) if n else 0,
            int(samples.max()) if n else 0,
            int((s64 * s64).sum()),
        )

    return map_rows(
        media.select("media_id", "payload"), stats, AUDIO_STATS_SCHEMA
    )


VIDEO_FRAME_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("frame_idx", T.IntegerType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("luma_sum", T.LongType(), True),
        T.StructField("luma_min", T.IntegerType(), True),
        T.StructField("luma_max", T.IntegerType(), True),
    ]
)


def synthesize_video_media(documents: DataFrame) -> DataFrame:
    """REAL video fixture: every doc becomes a genuine YUV4MPEG2 stream
    (``avcodec.encode_y4m``, Cmono luma planes) with closed-form frames

        W = doc_id % 16 + 8,  H = doc_id % 8 + 8,
        F = doc_id % 6 + 2,
        luma(f, y, x) = (doc_id + 7*f + 3*y + x) % 256."""
    from .avcodec import encode_y4m

    def render(doc_id):
        d = int(doc_id)
        ff, yy, xx = np.mgrid[0 : d % 6 + 2, 0 : d % 8 + 8, 0 : d % 16 + 8]
        frames = ((d + 7 * ff + 3 * yy + xx) % 256).astype(np.uint8)
        yield d, encode_y4m(frames)

    return map_rows(_doc_ids(documents), render, AUDIO_MEDIA_SCHEMA)


def decode_video_frame_stats(media: DataFrame, every_n: int = 2) -> DataFrame:
    """REAL video decode + frame sampling: parse the Y4M stream, keep
    every ``every_n``-th frame, emit exact integer luma stats per kept
    frame — the row-expanding decode shape with a real container."""

    def stats(media_id, payload):
        frames = decode_payload(bytes(payload), "video", fake=False)
        h, w = frames.shape[1], frames.shape[2]
        for idx in range(0, frames.shape[0], every_n):
            _, total, lo, hi = _int_stats(frames[idx].astype("int64"))
            yield media_id, idx, w, h, total, lo, hi

    return map_rows(
        media.select("media_id", "payload"), stats, VIDEO_FRAME_STATS_SCHEMA
    )


def _byte_features(payload, num_bins: int) -> tuple:
    """(n_bytes, byte_mean, byte_std, histogram) of one payload — the
    per-row body shared by :func:`extract_features` and
    :func:`extract_features_arrow`."""
    arr = np.frombuffer(payload or b"", dtype=np.uint8)
    # arr * num_bins // 256 lands in [0, num_bins) for ANY num_bins
    # (floor-dividing by 256//num_bins overflows into an extra bin
    # when num_bins doesn't divide 256)
    hist = (
        np.bincount(arr.astype(np.int64) * num_bins // 256, minlength=num_bins)
        if arr.size
        else np.zeros(num_bins, dtype=np.int64)
    )
    # mean/std from EXACT integer power sums (values ≤ 255, sums stay
    # far below 2^53): every downstream double op (divide, multiply,
    # subtract, sqrt) is then a single IEEE rounding an oracle engine
    # reproduces bit-for-bit
    n = int(arr.size)
    s = int(arr.sum(dtype=np.int64))
    ss = int((arr.astype(np.int64) ** 2).sum())
    mean = s / n if n else 0.0
    var = max(0.0, ss / n - (s / n) * (s / n)) if n else 0.0
    return n, mean, math.sqrt(var), hist.astype("int64").tolist()


def extract_features(media: DataFrame, num_bins: int = 16) -> DataFrame:
    """Byte-level feature extraction via ``mapInPandas``: batch
    iterator in, batch iterator out — the canonical shape for any
    decode-and-featurize stage (swap the body for a real decoder +
    model when codecs are available)."""

    def featurize(media_id, media_type, payload):
        yield (media_id, media_type, *_byte_features(payload, num_bins))

    return map_rows(
        media.select("media_id", "media_type", "payload"),
        featurize,
        FEATURE_SCHEMA,
    )


def extract_features_arrow(media: DataFrame, num_bins: int = 16) -> DataFrame:
    """``mapInArrow`` twin of :func:`extract_features`: the lower-level
    Arrow face — RecordBatch in, RecordBatch out, no pandas
    conversion. Same per-row function, so results are bit-identical
    to the pandas path (equivalence pinned by a test and by sharing
    the oracle). Use this face when batches are large and the pandas
    materialization cost matters."""
    names = FEATURE_SCHEMA.fieldNames()

    def featurize(batches):
        import pyarrow as pa

        schema = pa.schema(
            [
                ("media_id", pa.int64()),
                ("media_type", pa.string()),
                ("n_bytes", pa.int64()),
                ("byte_mean", pa.float64()),
                ("byte_std", pa.float64()),
                ("histogram", pa.list_(pa.int64())),
            ]
        )
        for batch in batches:
            rows = [
                (mid, mtype, *_byte_features(payload, num_bins))
                for mid, mtype, payload in zip(
                    *(col.to_pylist() for col in batch.columns)
                )
            ]
            yield pa.RecordBatch.from_pydict(
                {name: [r[k] for r in rows] for k, name in enumerate(names)},
                schema=schema,
            )

    return media.select("media_id", "media_type", "payload").mapInArrow(
        featurize, schema=FEATURE_SCHEMA
    )


def sample_frames(media: DataFrame, every_n: int = 2) -> DataFrame:
    """Frame sampling for video rows — demonstrates the row-EXPANDING
    mapInPandas shape (one input row → n_frames/every_n output rows).
    Frame payloads are deterministic slices of the (fake-decoded)
    payload; a real implementation swaps the slicing for ffmpeg."""

    def expand(media_id, payload, n_frames):
        if n_frames is None or pd.isna(n_frames):
            return
        buf = payload or b""
        step = max(len(buf) // max(int(n_frames), 1), 1)
        for idx in range(0, int(n_frames), every_n):
            yield media_id, idx, buf[idx * step : (idx + 1) * step]

    vids = media.filter(F.col("media_type") == "video").select(
        "media_id", "payload", F.col("meta.n_frames").alias("n_frames")
    )
    return map_rows(vids, expand, FRAME_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("pixels", T.BinaryType(), True),
    ]
)


def resize_images(
    media: DataFrame, width: int = 8, height: int = 8
) -> DataFrame:
    """Resize stage for image rows — the mapInPandas shape a real
    PIL/opencv resize plugs into. Without codecs, the body fake-decodes
    (deterministic, payload-seeded) and nearest-neighbor-resamples the
    16x16 fake grid to (height, width); the output contract (one row
    per image, row-major uint8 bytes + final dims) is what matters.
    """

    def resize(media_id, payload):
        img = decode_payload(payload, "image", fake=True)
        ys = np.arange(height) * img.shape[0] // height
        xs = np.arange(width) * img.shape[1] // width
        yield media_id, width, height, img[np.ix_(ys, xs)].tobytes()

    imgs = media.filter(F.col("media_type") == "image").select(
        "media_id", "payload"
    )
    return map_rows(imgs, resize, RESIZED_SCHEMA)


AHASH_BANDS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("b0", T.IntegerType(), True),
        T.StructField("b1", T.IntegerType(), True),
        T.StructField("b2", T.IntegerType(), True),
        T.StructField("b3", T.IntegerType(), True),
    ]
)


def synthesize_ahash_media(documents: DataFrame) -> DataFrame:
    """Paired near-duplicate PNG fixture for perceptual-hash dedup:
    doc_ids 2m and 2m+1 render the SAME closed-form image

        pair = doc_id // 2,
        W = pair % 24 + 8,  H = pair % 16 + 8,
        pixel(y, x) = (pair + 31*y + x) % 256

    except the odd member brightens every pixel with (y+x) % 17 == 0
    by +1 (clamped at 255) — the 'same photo, light retouch' case a
    perceptual hash must still match. Real encode_png bytes, so the
    downstream hash stage exercises the real decoder."""
    from .imagecodec import encode_png

    def encode(d):
        pair = d // 2
        yy, xx = np.mgrid[0 : pair % 16 + 8, 0 : pair % 24 + 8]
        pixels = ((pair + 31 * yy + xx) % 256).astype(np.int64)
        if d % 2 == 1:
            pixels = np.minimum(pixels + ((yy + xx) % 17 == 0), 255)
        return encode_png(pixels.astype(np.uint8))

    return _codec_media(documents, "png", encode)


def ahash_bands(media: DataFrame) -> DataFrame:
    """64-bit average-hash (aHash) per image, REAL decode path:
    inflate + unfilter the PNG, partition into an 8x8 block grid
    (pixel (y, x) -> block (y*8//H, x*8//W)), and set bit i*8+j iff
    block (i, j)'s mean exceeds the global mean — compared by exact
    integer cross-multiplication block_sum * N > total_sum * n_block,
    so any engine reproduces the bits bit-for-bit. The hash is
    returned as four 16-bit bands (b0..b3, bit index 16k+r -> band k
    bit r): with Hamming radius 3, the pigeonhole principle
    guarantees near-dup pairs agree exactly on >= 1 band, so a
    band-equality equi-join is a COMPLETE candidate generator — the
    same banding contract as SimHash/LSH, here over decoded pixel
    content rather than tokens. Brightness shifts barely move bits
    (both sides of the comparison shift together), which is the
    perceptual-invariance aHash is chosen for."""
    from .imagecodec import decode_png

    def hash_row(media_id, payload):
        px = decode_png(bytes(payload)).astype(np.int64)
        h, w = px.shape
        blk = ((np.arange(h) * 8) // h)[:, None] * 8 + (np.arange(w) * 8) // w
        sums = np.bincount(blk.ravel(), weights=px.ravel(), minlength=64)
        cnts = np.bincount(blk.ravel(), minlength=64)
        yield _band_row(media_id, (sums * (h * w)) > (int(px.sum()) * cnts))

    return map_rows(
        media.select("media_id", "payload"), hash_row, AHASH_BANDS_SCHEMA
    )


def synthesize_afp_media(documents: DataFrame) -> DataFrame:
    """Paired near-duplicate WAV fixture for audio-fingerprint dedup:
    doc_ids 2m and 2m+1 carry the SAME closed-form waveform

        pair = doc_id // 2,
        n = pair % 480 + 64 samples,
        sample(i) = (pair * 7919 + i * 131) % 65536 - 32768

    except the odd member nudges every 13th sample by +3 (clamped at
    32767) — the 're-encoded with tiny noise' case a robust audio
    fingerprint must still match. Real encode_wav bytes (RIFF/fmt/
    data), so the hash stage exercises the real PCM decoder."""
    from .avcodec import encode_wav

    def render(doc_id):
        d = int(doc_id)
        pair = d // 2
        i = np.arange(pair % 480 + 64, dtype=np.int64)
        v = (pair * 7919 + i * 131) % 65536 - 32768
        if d % 2 == 1:
            v = np.minimum(v + 3 * (i % 13 == 0), 32767)
        yield d, encode_wav(v.astype(np.int16), 16000)

    return map_rows(_doc_ids(documents), render, AUDIO_MEDIA_SCHEMA)


def audio_fingerprint_bands(media: DataFrame) -> DataFrame:
    """64-bit energy fingerprint per clip through the REAL WAV decoder:
    samples are partitioned into 64 contiguous frames (sample i ->
    frame i*64//n), and bit f is set iff frame f's energy Σv² exceeds
    the clip's mean frame energy — by exact integer cross-
    multiplication e_f * n > E_total * n_f, so any engine reproduces
    the bits. Returned as four 16-bit bands for the same
    pigeonhole-complete Hamming-3 band join as :func:`ahash_bands`;
    small additive noise barely moves frame energies relative to the
    mean, which is the robustness an energy fingerprint buys (a
    production system adds spectral bands on top — FFT-free energy
    framing is the exactly-checkable core of the shape)."""
    from .avcodec import decode_wav

    def fp(media_id, payload):
        v = decode_wav(bytes(payload))[0].astype(np.int64)
        n = v.size
        f = (np.arange(n) * 64) // n
        ef = np.bincount(f, weights=v * v, minlength=64).astype(np.int64)
        nf = np.bincount(f, minlength=64)
        yield _band_row(media_id, (ef * n) > (int(ef.sum()) * nf))

    return map_rows(
        media.select("media_id", "payload"), fp, AHASH_BANDS_SCHEMA
    )


def hamming_band_pairs(
    bands: DataFrame,
    id_col: str = "media_id",
    radius: int = 3,
    n_bands: int = 4,
    max_band_bucket: int | None = None,
) -> DataFrame:
    """Distinct (id_a, id_b, hamming) pairs within Hamming ``radius``
    over an ``n_bands`` x <=16-bit banded fingerprint (columns
    b0..bN): band-equality candidate generation with the exact
    popcount verify on candidates only — never all-pairs. With
    radius < n_bands the pigeonhole principle makes the candidate set
    COMPLETE (a pair within radius must agree exactly on >= 1 band).

    The joins run over DISTINCT FINGERPRINT VALUES, not corpus rows:
    media collapse to their fingerprint first, the per-band equi-join
    + Hamming verify pairs up value tuples (a join whose bucket sizes
    are bounded by HASH-SPACE diversity — for a 20-bit spectral hash,
    at most 2^15 values share a 5-bit band — regardless of corpus
    size), and member ids expand back through the value-pair table at
    the end, so that stage's cost is proportional to the TRUE pair
    output, not to corpus^2 (an 8x corpus probe on the row-level plan
    measured 21x — every extra image landed in the same few 5-bit
    band buckets). Identical-fingerprint pairs (hamming 0) come from
    the per-value member self-join — quadratic only in genuine
    duplicate-group sizes, which is the size of the answer itself.

    ``max_band_bucket`` is the hot-band cap the LSH family already
    carries (operators/dedup.py:lsh_candidate_pairs): band values with
    more than ``max_band_bucket`` MEMBERS (corpus rows, not distinct
    values) are boilerplate by definition and are excluded from THAT
    band's candidate generation; a capped-out pair can still surface
    through its other bands — pairs identical on ONLY hot bands are
    the recall price, exactly as in LSH (uncapped keeps the
    completeness guarantee — the driver-facing queries run uncapped
    on the quasi-random fixtures and the cap is regression-pinned by
    the planted-skew test)."""
    band_cols = [f"b{k}" for k in range(n_bands)]
    # the full band tuple as one comparable, joinable value key
    # (struct equality/ordering — a 4x16-bit integer fold would
    # overflow int64)
    vk = F.struct(*[F.col(bc).cast("int").alias(bc) for bc in band_cols])
    members = bands.select(
        F.col(id_col).alias("_mid"), *band_cols
    ).withColumn("_vk", vk).localCheckpoint(eager=False)
    # one row per distinct fingerprint value, with its member count
    # (the count drives the hot-band cap and the dup-group pairs)
    vals = (
        members.groupBy("_vk", *band_cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .localCheckpoint(eager=False)
    )

    if max_band_bucket is not None:
        # corpus member count per band value, per band (one tiny
        # aggregation per band — one row per distinct band value)
        band_small = [
            vals.groupBy(band_cols[k])
            .agg(F.sum("_n").alias("_bsz"))
            .filter(F.col("_bsz") <= max_band_bucket)
            .select(band_cols[k])
            for k in range(n_bands)
        ]
    cands = None
    for k in range(n_bands):
        side = vals
        if max_band_bucket is not None:
            side = vals.join(band_small[k], [band_cols[k]], "left_semi")
        a, b = side.alias("a"), side.alias("b")
        c = a.join(
            b,
            (F.col(f"a.{band_cols[k]}") == F.col(f"b.{band_cols[k]}"))
            & (F.col("a._vk") < F.col("b._vk")),
        ).select(
            F.col("a._vk").alias("vk_a"),
            F.col("b._vk").alias("vk_b"),
            *[F.col(f"a.{bc}").alias(f"a{bc}") for bc in band_cols],
            *[F.col(f"b.{bc}").alias(f"b{bc}") for bc in band_cols],
        )
        cands = c if cands is None else cands.unionAll(c)
    hamming = sum(
        F.bit_count(
            F.col(f"a{bc}").cast("long").bitwiseXOR(F.col(f"b{bc}").cast("long"))
        )
        for bc in band_cols
    )
    vpairs = (
        cands.distinct()
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= radius)
        .select("vk_a", "vk_b", "hamming")
    )
    ma = members.select(
        F.col("_vk").alias("vk_a"), F.col("_mid").alias("_ida")
    )
    mb = members.select(
        F.col("_vk").alias("vk_b"), F.col("_mid").alias("_idb")
    )
    cross = (
        vpairs.join(ma, "vk_a")
        .join(mb, "vk_b")
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            "hamming",
        )
    )
    # hamming-0 pairs: members sharing one fingerprint value. Under
    # the cap, a value's pairs surface iff >= 1 of its bands is small
    # (mirrors the row-level plan: identical fingerprints meet in any
    # uncapped band they share).
    dup_vals = vals.filter(F.col("_n") > 1).select("_vk", *band_cols)
    if max_band_bucket is not None:
        any_small = None
        for k in range(n_bands):
            flagged = dup_vals.join(
                band_small[k], [band_cols[k]], "left_semi"
            )
            any_small = (
                flagged
                if any_small is None
                else any_small.unionByName(flagged)
            )
        dup_vals = any_small.distinct()
    da = members.join(
        dup_vals.select("_vk"), "_vk"
    ).select("_vk", "_mid")
    same = (
        da.alias("x")
        .join(
            da.alias("y"),
            (F.col("x._vk") == F.col("y._vk"))
            & (F.col("x._mid") < F.col("y._mid")),
        )
        .select(
            F.col("x._mid").alias("id_a"),
            F.col("y._mid").alias("id_b"),
            F.lit(0).alias("hamming"),
        )
    )
    return cross.unionByName(same)


def synthesize_vfp_media(documents: DataFrame) -> DataFrame:
    """Paired near-duplicate Y4M fixture for video-fingerprint dedup:
    doc_ids 2m and 2m+1 carry the SAME closed-form 8x8 mono clip

        pair = doc_id // 2,
        n_frames = pair % 24 + 40,
        luma(f, y, x) = (pair * 31 + f * 7 + y * 3 + x) % 254

    except the odd member brightens every 11th frame by +1 — the
    're-encoded with a flash frame' case a temporal fingerprint must
    still match (modulus 254 keeps the +1 below the uint8 clamp, so
    the closed form needs no LEAST). Real encode_y4m bytes, so the
    hash stage exercises the real Cmono decoder."""
    from .avcodec import encode_y4m

    def render(doc_id):
        d = int(doc_id)
        pair = d // 2
        f = np.arange(pair % 24 + 40)[:, None, None]
        y = np.arange(8)[None, :, None]
        x = np.arange(8)[None, None, :]
        luma = (pair * 31 + f * 7 + y * 3 + x) % 254
        if d % 2 == 1:
            luma = luma + (f % 11 == 0).astype(np.int64)
        yield d, encode_y4m(luma.astype(np.uint8))

    return map_rows(_doc_ids(documents), render, AUDIO_MEDIA_SCHEMA)


def video_fingerprint_bands(media: DataFrame) -> DataFrame:
    """64-bit temporal-luminance fingerprint per clip through the
    REAL Y4M decoder: frames are partitioned into 64 contiguous
    temporal buckets (frame f -> bucket f*64//n), and bit b is set
    iff bucket b's total luminance exceeds the clip's mean bucket
    luminance — exact integer cross-multiplication lum_b * n_buckets'
    ... same comparison discipline as :func:`ahash_bands` /
    :func:`audio_fingerprint_bands` (lum_b * n > total * nf), so any
    engine reproduces the bits. Returned as four 16-bit bands for the
    pigeonhole-complete Hamming-3 band join — the dedup family's
    fifth modality (text, embeddings, image, audio, video)."""
    from .avcodec import decode_y4m

    def fp(media_id, payload):
        frames, _ = decode_y4m(bytes(payload))
        n = frames.shape[0]
        fsum = frames.reshape(n, -1).sum(axis=1).astype(np.int64)
        b = (np.arange(n) * 64) // n
        # Accumulate bucket luminance in int64: bincount with float
        # weights sums in float64, which would round past 2^53 on
        # real-resolution clips and break the exact integer threshold
        # contract the oracle relies on.
        lb = np.zeros(64, dtype=np.int64)
        np.add.at(lb, b, fsum)
        nb = np.bincount(b, minlength=64)
        yield _band_row(media_id, (lb * n) > (int(lb.sum()) * nb))

    return map_rows(
        media.select("media_id", "payload"), fp, AHASH_BANDS_SCHEMA
    )


SCENE_CUT_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("cut_frame", T.LongType(), True),
        T.StructField("diff_sum", T.LongType(), True),
        T.StructField("n_pixels", T.LongType(), True),
    ]
)


def synthesize_scene_video_media(documents: DataFrame) -> DataFrame:
    """Scene-structured video fixture: genuine Y4M streams whose luma
    is piecewise-constant per SCENE with a small per-frame flicker —
    closed-form, so an oracle can recompute every pixel:

        W = doc_id % 16 + 8,  H = doc_id % 8 + 8,
        F = doc_id % 10 + 12,  seg = doc_id % 4 + 3,
        luma(f, y, x) = (doc_id*17 + (f // seg)*53 + (f % 2)*2
                         + 3*y + x) % 240

    Within a scene consecutive frames differ by the ±2 flicker (plus
    rare mod-wrap pixels); across a scene boundary the +53 base jump
    moves nearly every pixel."""
    from .avcodec import encode_y4m

    def render(doc_id):
        d = int(doc_id)
        seg = d % 4 + 3
        ff, yy, xx = np.mgrid[0 : d % 10 + 12, 0 : d % 8 + 8, 0 : d % 16 + 8]
        luma = (d * 17 + (ff // seg) * 53 + (ff % 2) * 2 + 3 * yy + xx) % 240
        yield d, encode_y4m(luma.astype(np.uint8))

    return map_rows(_doc_ids(documents), render, AUDIO_MEDIA_SCHEMA)


def scene_cut_frames(media: DataFrame, mean_diff_x100: int = 2000) -> DataFrame:
    """Scene-change (shot-boundary) detection through the REAL Y4M
    decoder: a cut is declared at frame f+1 when the mean absolute
    luma difference against frame f exceeds ``mean_diff_x100``/100 —
    evaluated as the exact integer cross-multiplication
    ``100·Σ|Δluma| > thresh·n_pixels`` (no float thresholds, any
    engine reproduces the cut set bit-for-bit). This is the clip
    segmentation primitive a video training-data pipeline runs before
    per-scene sampling/dedup; per clip the work is one decode plus one
    vectorized frame-pair scan, Arrow-batched via ``mapInPandas`` with
    no shuffle at all — embarrassingly parallel at any corpus size.
    ``media`` is (media_id, payload), as the Y4M fixtures emit it."""
    from .avcodec import decode_y4m

    thresh = int(mean_diff_x100)

    def cuts(media_id, payload):
        frames, _ = decode_y4m(bytes(payload))
        fr = frames.astype(np.int64)
        npix = fr.shape[1] * fr.shape[2]
        diffs = np.abs(fr[1:] - fr[:-1]).reshape(fr.shape[0] - 1, -1).sum(axis=1)
        for i in np.nonzero(100 * diffs > thresh * npix)[0]:
            yield media_id, int(i) + 1, int(diffs[i]), npix

    return map_rows(media, cuts, SCENE_CUT_SCHEMA)


# Low-sequency Walsh-Hadamard coefficient set for the spectral hash:
# the 20 (u, v) frequency pairs with 1 <= u+v <= 5, enumerated in
# (u+v, u) order. Shared by the operator and the SQL oracle so both
# engines walk the identical coefficient order (bit k of the hash is
# coefficient WHT_COEFFS[k]).
WHT_COEFFS: list[tuple[int, int]] = [
    (u, s - u) for s in range(1, 6) for u in range(s + 1)
]

_WHT_SCALE = 1 << 20  # block-mean fixed point: m = (sum << 20) // count


def wht_spectral_bands(media: DataFrame) -> DataFrame:
    """20-bit spectral perceptual hash per image through the REAL PNG
    decoder — the pHash construction with the DCT replaced by the
    integer Walsh-Hadamard transform so the whole pipeline stays in
    EXACT int64 arithmetic (pHash's float DCT cannot be bit-pinned
    across engines; WHT signs can, and low-sequency WHT coefficients
    capture the same coarse spatial structure the DCT's low
    frequencies do).

    Stages: decode -> 8x8 block grid (the aHash grid) -> fixed-point
    block means m = (block_sum << 20) // count (exact integer floor) ->
    c(u,v) = Σ_{i,j} m[i,j]·(−1)^{popcount(i&u)+popcount(j&v)} for the
    20 low-sequency (u,v) in :data:`WHT_COEFFS` -> bit k = [c_k > 0].
    Sign bits of AC coefficients are brightness-invariant (a constant
    offset only moves the (0,0) DC term, which is excluded), the
    invariance pHash is chosen for. Bits pack into four 5-bit bands
    (b0..b3) for the same pigeonhole-complete radius-3
    :func:`hamming_band_pairs` join as aHash — same cap note for
    degenerate corpora."""
    from .imagecodec import decode_png

    def signs(u):
        return np.array(
            [(-1) ** bin(i & u).count("1") for i in range(8)], dtype=np.int64
        )

    sign_tables = [np.outer(signs(u), signs(v)) for u, v in WHT_COEFFS]

    def fp(media_id, payload):
        px = decode_png(bytes(payload)).astype(np.int64)
        h, w = px.shape
        blk = ((np.arange(h) * 8) // h)[:, None] * 8 + (np.arange(w) * 8) // w
        sums = np.zeros(64, dtype=np.int64)
        np.add.at(sums, blk.ravel(), px.ravel())
        cnts = np.bincount(blk.ravel(), minlength=64)
        mm = ((sums * _WHT_SCALE) // cnts).reshape(8, 8)  # exact int64 floor
        bits = [int((mm * st).sum()) > 0 for st in sign_tables]
        yield _band_row(media_id, bits, width=5)

    return map_rows(
        media.select("media_id", "payload"), fp, AHASH_BANDS_SCHEMA
    )


VAD_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("frame_idx", T.IntegerType(), True),
        T.StructField("n_samples", T.IntegerType(), True),
        T.StructField("energy", T.LongType(), True),
    ]
)

VAD_FRAME_SAMPLES = 32


def synthesize_vad_media(documents: DataFrame) -> DataFrame:
    """Speech/silence WAV fixture for voice-activity detection: each
    clip alternates planted VOICED and quiet frames by the closed form

        n = doc_id % 480 + 96 samples @ 16 kHz, frame = 32 samples,
        frame f voiced iff (doc_id + f) % 3 == 0,
        voiced sample:  v(i) = (doc_id*37 + i*7) % 2048 - 1024
        quiet sample:   v(i) = (doc_id + i) % 8 - 4

    (~1/3 of frames carry ~30 dB more energy than the noise floor).
    Real encode_wav bytes, so the VAD stage exercises the real RIFF/
    PCM decoder."""
    from .avcodec import encode_wav

    def render(doc_id):
        d = int(doc_id)
        i = np.arange(d % 480 + 96, dtype=np.int64)
        voiced = (d + i // VAD_FRAME_SAMPLES) % 3 == 0
        v = np.where(voiced, (d * 37 + i * 7) % 2048 - 1024, (d + i) % 8 - 4)
        yield d, encode_wav(v.astype(np.int16), 16000)

    return map_rows(_doc_ids(documents), render, AUDIO_MEDIA_SCHEMA)


def vad_frames(media: DataFrame) -> DataFrame:
    """Fixed-size 32-sample frame energies per clip through the REAL
    WAV decoder: frame f covers samples [32f, 32f+32) (the last frame
    may be partial — kept, with its true n_samples, so the
    cross-multiplied threshold downstream stays exact), energy is the
    exact int64 Σv² accumulated via np.add.at (never float bincount
    weights). This is the decode half of VAD; the voiced/segment logic
    is a downstream DataFrame dataflow, keeping Python at the codec
    boundary only."""
    from .avcodec import decode_wav

    def frames(media_id, payload):
        v = decode_wav(bytes(payload))[0].astype(np.int64)
        f = np.arange(v.size) // VAD_FRAME_SAMPLES
        nf = int(f[-1]) + 1 if v.size else 0
        e = np.zeros(nf, dtype=np.int64)
        np.add.at(e, f, v * v)
        cnt = np.bincount(f, minlength=nf)
        for k in range(nf):
            yield media_id, k, int(cnt[k]), int(e[k])

    return map_rows(
        media.select("media_id", "payload"), frames, VAD_FRAME_SCHEMA
    )


RESIZE_PIXELS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("src_w", T.IntegerType(), True),
        T.StructField("src_h", T.IntegerType(), True),
        T.StructField("pixels_csv", T.StringType(), True),
        T.StructField("pixel_sum", T.LongType(), True),
        T.StructField("pixel_min", T.IntegerType(), True),
        T.StructField("pixel_max", T.IntegerType(), True),
    ]
)


def resize_png_pixels(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize through the REAL PNG decoder to a fixed
    (out_w × out_h) thumbnail — the normalize-before-featurize step
    every image training pipeline runs (CLIP-style preprocessing, with
    the interpolation kernel swapped for the exactly-checkable
    nearest-neighbor map src(y·H/out_h, x·W/out_w), integer floor
    indices). The ENTIRE resized pixel grid is serialized
    (comma-joined) so the oracle pins every output pixel, not a
    summary; exact int64 sum/min/max ride along for cheap downstream
    filters. Arrow-batched mapInPandas, zero shuffle."""
    from .imagecodec import decode_png

    def resize(media_id, payload):
        px = decode_png(bytes(payload)).astype(np.int64)
        h, w = px.shape
        yi = (np.arange(out_h) * h) // out_h
        xi = (np.arange(out_w) * w) // out_w
        out = px[yi[:, None], xi[None, :]]
        csv = ",".join(str(int(v)) for v in out.ravel())
        yield (media_id, w, h, csv, *_int_stats(out)[1:])

    return map_rows(
        media.select("media_id", "payload"), resize, RESIZE_PIXELS_SCHEMA
    )


MOTION_VECTOR_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("frame_pair", T.IntegerType(), True),
        T.StructField("block_y", T.IntegerType(), True),
        T.StructField("block_x", T.IntegerType(), True),
        T.StructField("mv_dy", T.IntegerType(), True),
        T.StructField("mv_dx", T.IntegerType(), True),
        T.StructField("sad", T.LongType(), True),
    ]
)


def synthesize_motion_media(documents: DataFrame) -> DataFrame:
    """Rigid-motion Y4M fixture for motion estimation: every clip is a
    16×12 mono video of doc_id % 4 + 3 frames, frame f showing the
    SAME infinite lattice pattern

        b(y, x) = (doc_id + 13·y + 7·x) % 256

    sampled at offset (sy, sx) with sy(f) = (doc_id + f) % 2 and
    sx(f) = (doc_id·3 + 2·f) % 2 — so between consecutive frames the
    whole scene translates by a KNOWN delta in {−1, 0, 1}², and a
    correct block matcher must recover exactly that vector with
    SAD = 0. Real encode_y4m bytes, so the estimator exercises the
    real container."""
    from .avcodec import encode_y4m

    yy, xx = np.mgrid[0:12, 0:16]

    def render(doc_id):
        d = int(doc_id)
        frames = [
            ((d + 13 * (yy + (d + f) % 2) + 7 * (xx + (d * 3 + 2 * f) % 2)) % 256)
            .astype(np.uint8)
            for f in range(d % 4 + 3)
        ]
        yield d, encode_y4m(frames)

    return map_rows(_doc_ids(documents), render, AUDIO_MEDIA_SCHEMA)


def block_motion_vectors(media: DataFrame) -> DataFrame:
    """Exhaustive-search block motion estimation through the REAL Y4M
    decoder — the core primitive of every video codec and of
    motion-based video dedup/scene analysis: for each consecutive
    frame pair, each 4×4 block of the LATER frame (anchored at the
    interior grid (y0, x0) ∈ {2, 6} × {2, 6, 10} so every ±1
    candidate stays in-bounds) searches the 9 displacements
    (dy, dx) ∈ {−1, 0, 1}² in the EARLIER frame and keeps the
    argmin-SAD vector, ties broken by (sad, dy, dx). All arithmetic
    is exact integer |Δluma| sums, so the chosen vectors and SADs are
    engine-exact. Arrow-batched mapInPandas, zero shuffle."""
    from .avcodec import decode_y4m

    # vectorized kernel: per frame pair, ALL blocks' SADs for all 9
    # candidates in 9 whole-frame array ops (|cur−shifted prev| → 4x4
    # box sums via a (by,4,bx,4) reshape of the strided block grid),
    # then one argmin over the candidate axis with the (sad, dy, dx)
    # tie order encoded in the candidate ordering — the per-block
    # Python loop benched 4.3 s at sf0.1, this shape removes all
    # interpreter work from the hot path
    cands = [(dy, dx) for dy in (-1, 0, 1) for dx in (-1, 0, 1)]

    def mv(media_id, payload):
        planes, _hdr = decode_y4m(bytes(payload))
        frames = [f.astype(np.int64) for f in planes]
        h, w = frames[0].shape
        ys = list(range(2, h - 4 - 1, 4))
        xs = list(range(2, w - 4 - 1, 4))
        ny, nx = len(ys), len(xs)
        y_lo, y_hi = ys[0], ys[-1] + 4
        x_lo, x_hi = xs[0], xs[-1] + 4
        for f in range(len(frames) - 1):
            prev, cur = frames[f], frames[f + 1]
            blk = cur[y_lo:y_hi, x_lo:x_hi]
            sads = np.empty((len(cands), ny, nx), dtype=np.int64)
            for ci, (dy, dx) in enumerate(cands):
                ref = prev[y_lo + dy : y_hi + dy, x_lo + dx : x_hi + dx]
                diff = np.abs(blk - ref)
                sads[ci] = diff.reshape(ny, 4, nx, 4).sum(axis=(1, 3))
            # argmin over candidates; np.argmin takes the FIRST minimum,
            # and cands is already in (dy, dx) tie order
            win = np.argmin(sads, axis=0)
            for bi, y0 in enumerate(ys):
                for bj, x0 in enumerate(xs):
                    ci = int(win[bi, bj])
                    sad = int(sads[ci, bi, bj])
                    yield (media_id, f, y0, x0, *cands[ci], sad)

    return map_rows(
        media.select("media_id", "payload"), mv, MOTION_VECTOR_SCHEMA
    )


# --------------------------------------------------------------------------
# Baseline JPEG: entropy-coded fixtures + decode stats
# --------------------------------------------------------------------------

JPEG_COEF_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_blocks", T.LongType(), True),
        T.StructField("n_nonzero", T.LongType(), True),
        T.StructField("coef_sum", T.LongType(), True),
        T.StructField("coef_min", T.IntegerType(), True),
        T.StructField("coef_max", T.IntegerType(), True),
        T.StructField("dc_sum", T.LongType(), True),
        T.StructField("posw_sum", T.LongType(), True),
    ]
)


def _planted_block(d: int, b: int, ci: int = 0) -> list[int]:
    """Closed-form quantized block ``b`` of component ``ci`` for doc
    ``d``, in zigzag order, shared by every entropy-coded JPEG fixture.
    AC positions use stride 5 mod 63 (injective for i <= 7) so
    positions never collide; AC values skip 0."""
    blk = [0] * 64
    blk[0] = (d + 11 * b + 7 * ci) % 61 - 30
    nac = (d + b + ci) % 6 + 2
    for i in range(1, nac + 1):
        p = (5 * i + 3 * b + 2 * ci) % 63 + 1
        raw = (d + 13 * b + 29 * i + 5 * ci) % 20 - 10
        blk[p] = raw + 1 if raw >= 0 else raw
    return blk


def _luma_qtable(d: int) -> list[int]:
    return [(d * 7 + j) % 31 + 1 for j in range(64)]


def _chroma_qtable(d: int, shift: int = 0) -> list[int]:
    return [(d * 5 + shift + j) % 29 + 1 for j in range(64)]


def _jpeg_scan_fixture(d: int):
    """Closed-form planted scan for doc ``d``: (blocks-in-zigzag,
    width, height, qtable, restart_interval). Every value is a pure
    function of (d, block, position) so a SQL oracle re-derives the
    exact dequantized coefficient multiset. Restart interval cycles
    0/1/2 so the DRI + RSTn + DC-prediction-reset paths are exercised
    across the corpus."""
    wb, hb = d % 3 + 1, d % 2 + 1
    blocks = [_planted_block(d, b) for b in range(wb * hb)]
    return blocks, wb * 8, hb * 8, _luma_qtable(d), d % 3


def synthesize_jpeg_scan_media(documents: DataFrame) -> DataFrame:
    """REAL baseline-JPEG fixture WITH entropy-coded scan data: every
    doc becomes a genuine grayscale SOF0 JPEG (DQT/DHT/SOS + Huffman
    scan, per ``imagecodec.encode_jpeg_baseline``) whose quantized
    coefficients are the closed-form ``_jpeg_scan_fixture`` plants."""
    from .imagecodec import encode_jpeg_baseline

    def encode(d):
        blocks, w, h, qtable, ri = _jpeg_scan_fixture(d)
        return encode_jpeg_baseline(blocks, w, h, qtable, restart_interval=ri)

    return _codec_media(documents, "jpeg", encode)


def _coef_stats(blocks) -> tuple:
    """(n_blocks, n_nonzero, coef_sum, coef_min, coef_max, dc_sum,
    posw_sum) over the NONZERO dequantized coefficients; ``posw_sum``
    weights each by its natural (row*8+col) index, so a transposed or
    mis-permuted zigzag cannot hash-match."""
    nz = [(idx, v) for blk in blocks for idx, v in enumerate(blk) if v != 0]
    return (
        len(blocks),
        len(nz),
        sum(v for _, v in nz),
        min(v for _, v in nz),
        max(v for _, v in nz),
        sum(blk[0] for blk in blocks),
        sum(idx * v for idx, v in nz),
    )


def jpeg_coef_stats(media: DataFrame) -> DataFrame:
    """REAL JPEG entropy decode (coefficient domain) through the
    SOF-marker dispatcher, so baseline and PROGRESSIVE files share
    one stage: Huffman + DC prediction + EOB/ZRL (or every SOS scan's
    DC first/refinement and AC first/refinement contribution with
    EOBRUN) + restart sync + dequant + dezigzag per payload; emits
    exact integer stats over the NONZERO dequantized coefficients."""
    from .imagecodec import decode_jpeg

    def stats(media_id, payload):
        out = decode_jpeg(bytes(payload), want_pixels=False)
        yield (media_id, out["width"], out["height"], *_coef_stats(out["blocks"]))

    return map_rows(
        media.select("media_id", "payload"), stats, JPEG_COEF_SCHEMA
    )


def synthesize_jpeg_flat_media(documents: DataFrame) -> DataFrame:
    """DC-only baseline-JPEG fixture for PIXEL-exact decode: each
    block carries only a DC coefficient, so the IDCT output is flat
    per block with value clamp(dc * q0/8 + 128) — exactly
    SQL-recomputable because q0 is planted as a multiple of 8 (the
    /8 stays integral; no float rounding ties can occur). Dimensions
    are non-multiples of 8 (w = wb*8 - d%5, h = hb*8 - d%3) so the
    decoder's edge-block crop is on the oracle path too."""
    from .imagecodec import encode_jpeg_baseline

    def encode(d):
        wb, hb = d % 3 + 1, d % 2 + 1
        qtable = [8 * (d % 16 + 1)] + [(d + j) % 255 + 1 for j in range(1, 64)]
        blocks = [
            [(d + 11 * b) % 61 - 30] + [0] * 63 for b in range(wb * hb)
        ]
        return encode_jpeg_baseline(
            blocks, wb * 8 - d % 5, hb * 8 - d % 3, qtable, restart_interval=d % 4
        )

    return _codec_media(documents, "jpeg", encode)


def jpeg_pixel_stats(media: DataFrame) -> DataFrame:
    """REAL JPEG decode to PIXELS: the full pipeline (entropy decode,
    dequant, dezigzag, 2-D IDCT, +128 level shift, clamp, edge crop)
    per payload; emits exact integer pixel stats."""
    from .imagecodec import decode_jpeg_baseline

    def stats(media_id, payload):
        out = decode_jpeg_baseline(bytes(payload), want_pixels=True)
        yield (media_id, out["width"], out["height"], *_int_stats(out["pixels"]))

    return map_rows(
        media.select("media_id", "payload"), stats, DECODED_STATS_SCHEMA
    )


JPEG_COLOR_COEF_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("component", T.IntegerType(), True),
        T.StructField("n_blocks", T.LongType(), True),
        T.StructField("n_nonzero", T.LongType(), True),
        T.StructField("coef_sum", T.LongType(), True),
        T.StructField("coef_min", T.IntegerType(), True),
        T.StructField("coef_max", T.IntegerType(), True),
        T.StructField("dc_sum", T.LongType(), True),
        T.StructField("posw_sum", T.LongType(), True),
    ]
)


def _jpeg_color_fixture(d: int):
    """Closed-form interleaved 4:2:0 plant for doc ``d``: returns
    (comp_blocks, samplings, width, height, qtables, restart). Block
    index b is SCAN order (MCU raster, Vi x Hi within MCU) — the
    oracle never needs spatial layout, only per-component counts.
    Dims are non-multiples of 16 so the MCU ceil is exercised."""
    mx, my = d % 2 + 1, (d // 2) % 2 + 1
    w, h = 16 * mx - d % 7, 16 * my - d % 5
    comp_blocks = [
        [_planted_block(d, b, ci) for b in range(nb)]
        for ci, nb in ((0, 4 * mx * my), (1, mx * my), (2, mx * my))
    ]
    qts = [_luma_qtable(d), _chroma_qtable(d), _chroma_qtable(d)]
    return comp_blocks, [(2, 2), (1, 1), (1, 1)], w, h, qts, d % 3


def synthesize_jpeg_color_media(documents: DataFrame) -> DataFrame:
    """REAL interleaved-color baseline-JPEG fixture: every doc becomes
    a genuine 3-component 4:2:0 YCbCr SOF0 JPEG (standard luminance +
    chrominance Huffman tables, interleaved MCU scan, per-component
    quant tables, DRI/RSTn) whose quantized coefficients are the
    closed-form ``_jpeg_color_fixture`` plants."""
    from .imagecodec import encode_jpeg_baseline_color

    def encode(d):
        cb, samp, w, h, qts, ri = _jpeg_color_fixture(d)
        return encode_jpeg_baseline_color(cb, samp, w, h, qts, restart_interval=ri)

    return _codec_media(documents, "jpeg", encode)


def jpeg_color_coef_stats(media: DataFrame) -> DataFrame:
    """REAL interleaved-color JPEG entropy decode through the SOF
    dispatcher: the full 4:2:0 MCU walk (per-component Huffman/quant
    selection, per-component DC prediction with restart reset) for
    baseline files, the interleaved-DC / per-component-AC scan
    accumulation with dummy blocks stripped for progressive ones; one
    stats row per (media, component) over the nonzero dequantized
    coefficients. A decoder that mixes components' predictions,
    tables, or block ordering cannot hash-match."""
    from .imagecodec import decode_jpeg

    def stats(media_id, payload):
        out = decode_jpeg(bytes(payload), want_pixels=False)
        for ci, comp in enumerate(out["components"]):
            yield (
                media_id, out["width"], out["height"], ci,
                *_coef_stats(comp["blocks"]),
            )

    return map_rows(
        media.select("media_id", "payload"), stats, JPEG_COLOR_COEF_SCHEMA
    )


def synthesize_jpeg_progressive_media(documents: DataFrame) -> DataFrame:
    """PROGRESSIVE (SOF2) JPEG fixture: the same closed-form
    coefficient plants as ``synthesize_jpeg_scan_media`` — including
    its per-doc restart interval (RSTn markers reset DC prediction
    AND the pending EOB run within every scan) — encoded through the
    multi-scan progressive coder: DC first + refinement, two spectral
    AC bands each with a successive-approximation first pass and a
    correction-bit refinement pass, EOBRUN coding throughout. The
    coefficient domain is lossless, so the SAME SQL oracle pins both
    codecs."""
    from .imagecodec import encode_jpeg_progressive

    def encode(d):
        blocks, w, h, qtable, ri = _jpeg_scan_fixture(d)
        return encode_jpeg_progressive(blocks, w, h, qtable, restart_interval=ri)

    return _codec_media(documents, "jpeg", encode)


def _jpeg_color_prog_fixture(d: int):
    """Closed-form COLOR PROGRESSIVE plant for doc ``d``: per
    component, REAL-grid raster blocks (ceil(comp_dims/8) — the grid
    AC scans walk; interleaved DC scans pad edge MCUs with dummy
    blocks on the wire). Crops up to 11/9 make ~1/4 of docs carry
    dummy luma rows/columns, so the skip geometry is exercised across
    the corpus. Block counts are pure ceil-division functions of
    (w, h), so the SQL oracle re-derives them."""
    mx, my = d % 2 + 1, (d // 2) % 2 + 1
    w, h = 16 * mx - d % 12, 16 * my - d % 10
    nb_y = ((w + 7) // 8) * ((h + 7) // 8)
    cw, ch = (w + 1) // 2, (h + 1) // 2
    nb_c = ((cw + 7) // 8) * ((ch + 7) // 8)
    comp_blocks = [
        [_planted_block(d, b, ci) for b in range(nb)]
        for ci, nb in ((0, nb_y), (1, nb_c), (2, nb_c))
    ]
    qts = [_luma_qtable(d), _chroma_qtable(d), _chroma_qtable(d)]
    return comp_blocks, [(2, 2), (1, 1), (1, 1)], w, h, qts, d % 3


def synthesize_jpeg_color_progressive_media(documents: DataFrame) -> DataFrame:
    """COLOR PROGRESSIVE (SOF2 4:2:0) JPEG fixture: interleaved DC
    first/refinement scans + per-component spectral-band AC scans
    with successive approximation, EOBRUN and restart markers; edge
    crops plant dummy-block geometries."""
    from .imagecodec import encode_jpeg_progressive_color

    def encode(d):
        cb, samp, w, h, qts, ri = _jpeg_color_prog_fixture(d)
        return encode_jpeg_progressive_color(
            cb, samp, w, h, qts, restart_interval=ri
        )

    return _codec_media(documents, "jpeg", encode)


def _jpeg_cmyk_fixture(d: int):
    """Closed-form 4-component (Adobe YCCK) baseline plant for doc
    ``d``: 1x1 sampling on all four components (the common layout for
    CMYK scans — no subsampling), so every component carries the same
    wb x hb block grid and the interleaved MCU is 4 blocks. Distinct
    per-component quant tables and coefficient streams catch any
    component/table mixup in the 4-way interleaved walk."""
    wb, hb = d % 3 + 1, d % 2 + 1
    w, h = wb * 8 - d % 5, hb * 8 - d % 3
    qts = [_luma_qtable(d)] + [_chroma_qtable(d, 7 * ci) for ci in range(1, 4)]
    comp_blocks = [
        [_planted_block(d, b, ci) for b in range(wb * hb)] for ci in range(4)
    ]
    return comp_blocks, w, h, qts, d % 3


def synthesize_jpeg_cmyk_media(documents: DataFrame) -> DataFrame:
    """REAL 4-component baseline-JPEG fixture: every doc becomes a
    genuine Adobe-style CMYK/YCCK SOF0 JPEG (APP14 transform 2, no
    JFIF APP0 — T.871 defines only 1/3-component JFIF frames, so real
    CMYK files signal through Adobe TN #5116), 4-way interleaved scan
    with per-component quant tables and DRI/RSTn restarts."""
    from .imagecodec import encode_jpeg_baseline_color

    def encode(d):
        cb, w, h, qts, ri = _jpeg_cmyk_fixture(d)
        return encode_jpeg_baseline_color(
            cb, [(1, 1)] * 4, w, h, qts, restart_interval=ri, adobe_transform=2
        )

    return _codec_media(documents, "jpeg", encode)


JPEG_CHANNEL_PIXEL_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channel", T.IntegerType(), True),
        T.StructField("n_pixels", T.LongType(), True),
        T.StructField("pixel_sum", T.LongType(), True),
        T.StructField("pixel_min", T.IntegerType(), True),
        T.StructField("pixel_max", T.IntegerType(), True),
    ]
)


def synthesize_jpeg_ycck_flat_media(documents: DataFrame) -> DataFrame:
    """DC-only 4-component YCCK fixture for PIXEL-exact CMYK decode:
    Y and K carry DC-only blocks with q0 a multiple of 8 (flat integer
    planes, no rounding ties), the two chroma components are all-zero
    (value 128 after level shift), so the YCCK->CMYK inverse is
    closed-form: R = G = B = Y exactly at zero chroma, hence
    C = M = Y-channel = 255 - y_val and K passes through. Dims are
    non-multiples of 8 so the crop stays on the oracle path."""
    from .imagecodec import encode_jpeg_baseline_color

    def encode(d):
        wb, hb = d % 3 + 1, d % 2 + 1
        qy = [8 * (d % 16 + 1)] + [(d + j) % 255 + 1 for j in range(1, 64)]
        qk = [8 * ((d + 5) % 16 + 1)] + [
            (d + 3 * j) % 255 + 1 for j in range(1, 64)
        ]
        qc = [16] * 64

        def block(ci, b):
            blk = [0] * 64
            if ci == 0:
                blk[0] = (d + 11 * b) % 61 - 30
            elif ci == 3:
                blk[0] = (d + 13 * b + 7) % 61 - 30
            return blk

        comp_blocks = [
            [block(ci, b) for b in range(wb * hb)] for ci in range(4)
        ]
        return encode_jpeg_baseline_color(
            comp_blocks,
            [(1, 1)] * 4,
            wb * 8 - d % 5,
            hb * 8 - d % 3,
            [qy, qc, qc, qk],
            restart_interval=d % 4,
            adobe_transform=2,
        )

    return _codec_media(documents, "jpeg", encode)


def jpeg_channel_pixel_stats(media: DataFrame) -> DataFrame:
    """REAL JPEG decode to CMYK PIXELS: full pipeline (4-way
    interleaved entropy decode, dequant, IDCT, level shift, clamp,
    crop, APP14-driven YCCK->CMYK inverse transform); one exact
    integer stats row per (media, channel)."""
    from .imagecodec import decode_jpeg_baseline

    def stats(media_id, payload):
        out = decode_jpeg_baseline(bytes(payload), want_pixels=True)
        img = out["pixels"]
        for ch in range(img.shape[-1]):
            yield (
                media_id, out["width"], out["height"], ch,
                *_int_stats(img[..., ch]),
            )

    return map_rows(
        media.select("media_id", "payload"), stats, JPEG_CHANNEL_PIXEL_SCHEMA
    )


# --------------------------------------------------------------------------
# GIF (LZW) media
# --------------------------------------------------------------------------


def _gif_fixture(d: int):
    """Closed-form indexed-color plant for doc ``d``: dims, palette
    and the pixel-index function mirrored exactly by the DuckDB
    oracle. Palette sizes 2..201 cross every LZW minimum code size
    (2..8 bits)."""
    w, h = d % 19 + 4, d % 13 + 3
    nc = d % 200 + 2
    palette = [
        ((d * 3 + 7 * j) % 256, (d * 5 + 11 * j) % 256, (d * 7 + 13 * j) % 256)
        for j in range(nc)
    ]
    idx = [
        (d + 3 * x + 5 * y + x * y) % nc
        for y in range(h)
        for x in range(w)
    ]
    return w, h, palette, idx


def synthesize_gif_media(documents: DataFrame) -> DataFrame:
    """REAL GIF fixture: every doc becomes a genuine GIF87a/89a file
    (real LZW with variable code widths and mid-stream clear codes,
    4-pass interlacing on even docs, a local color table with a decoy
    global table on d%5==0 docs, comment/NETSCAPE extension blocks on
    the 89a docs) encoded by the from-scratch coder in
    ``operators/gifcodec.py``."""
    from .gifcodec import encode_gif

    def encode(d):
        w, h, palette, idx = _gif_fixture(d)
        return encode_gif(
            idx,
            w,
            h,
            palette,
            interlace=d % 2 == 0,
            local_palette=d % 5 == 0,
            global_palette=[(1, 2, 3), (4, 5, 6)],
            clear_every=(d % 4) * 16,
            comment=b"gif-plant" if d % 3 == 0 else None,
            loop=d % 7 == 0,
            version87=(d % 11 == 0 and d % 3 != 0 and d % 7 != 0),
        )

    return _codec_media(documents, "gif", encode)


def _gif_rgb(frame):
    """(n_pixels, 3) int64 RGB of one decoded GIF frame."""
    pal = np.asarray(frame["palette"], dtype=np.int64)
    return pal[np.asarray(frame["indices"], dtype=np.int64)]


def gif_pixel_stats(media: DataFrame) -> DataFrame:
    """REAL GIF decode to RGB pixels: LZW decompression (variable
    widths, clear resets, KwKwK), de-interlacing, and color-table
    selection (local beats global) per payload; one exact integer
    stats row per (media, channel)."""
    from .gifcodec import decode_gif

    def stats(media_id, payload):
        g = decode_gif(bytes(payload))
        rgb = _gif_rgb(g["frames"][0])
        for ch in range(3):
            yield (media_id, g["width"], g["height"], ch, *_int_stats(rgb[:, ch]))

    return map_rows(
        media.select("media_id", "payload"), stats, JPEG_CHANNEL_PIXEL_SCHEMA
    )


GIF_FRAME_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("frame", T.IntegerType(), True),
        T.StructField("channel", T.IntegerType(), True),
        T.StructField("delay_cs", T.IntegerType(), True),
        T.StructField("disposal", T.IntegerType(), True),
        T.StructField("n_pixels", T.LongType(), True),
        T.StructField("pixel_sum", T.LongType(), True),
        T.StructField("pixel_min", T.IntegerType(), True),
        T.StructField("pixel_max", T.IntegerType(), True),
    ]
)


def synthesize_gif_animation_media(documents: DataFrame) -> DataFrame:
    """Animated-GIF fixture: 2..5 full-canvas frames per doc, each
    with its own graphic-control block (delay, disposal method) and
    per-frame interlace choice, all through the real LZW coder."""
    from .gifcodec import encode_gif_animation

    def encode(d):
        w, h, palette, _ = _gif_fixture(d)
        nc = len(palette)
        frames = [
            {
                "indices": [
                    (d + 17 * f + 3 * x + 5 * y) % nc
                    for y in range(h)
                    for x in range(w)
                ],
                "interlace": (d + f) % 2 == 0,
                "delay_cs": 4 * f + 1,
                "disposal": f % 4,
            }
            for f in range(d % 4 + 2)
        ]
        return encode_gif_animation(frames, w, h, palette, loop=True)

    return _codec_media(documents, "gif", encode)


def gif_frame_stats(media: DataFrame) -> DataFrame:
    """Animated-GIF decode: every frame independently LZW-decoded and
    de-interlaced, graphic-control metadata (delay, disposal) carried
    through; one stats row per (media, frame, channel)."""
    from .gifcodec import decode_gif

    def stats(media_id, payload):
        for fi, fr in enumerate(decode_gif(bytes(payload))["frames"]):
            rgb = _gif_rgb(fr)
            for ch in range(3):
                yield (
                    media_id, fi, ch, fr["delay_cs"], fr["disposal"],
                    *_int_stats(rgb[:, ch]),
                )

    return map_rows(
        media.select("media_id", "payload"), stats, GIF_FRAME_STATS_SCHEMA
    )


# --------------------------------------------------------------------------
# G.711 companded audio media
# --------------------------------------------------------------------------

G711_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("audio_format", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("linear_sum", T.LongType(), True),
        T.StructField("linear_min", T.IntegerType(), True),
        T.StructField("linear_max", T.IntegerType(), True),
        T.StructField("abs_sum", T.LongType(), True),
        T.StructField("posw_sum", T.LongType(), True),
    ]
)


def synthesize_g711_media(documents: DataFrame) -> DataFrame:
    """G.711 WAV fixture: every doc becomes a real 8-bit mu-law
    (even doc_id, format code 7) or A-law (odd, code 6) WAV with a
    ``fact`` chunk; the companded byte stream is the closed-form
    plant (doc_id*7 + 31*i) % 256 — stride 31 is odd, so every doc
    with >= 256 samples covers all 256 code points of its law."""
    from .avcodec import encode_wav_g711

    def encode(d):
        payload = bytes((d * 7 + 31 * i) % 256 for i in range(d % 400 + 40))
        return encode_wav_g711(payload, 8000, 1, "ulaw" if d % 2 == 0 else "alaw")

    return _codec_media(documents, "wav", encode)


def _signal_stats(v, posw_mod: int) -> tuple:
    """(n, sum, min, max, abs_sum, posw_sum) of an int64 sample array;
    ``posw_sum`` weights sample i by i % posw_mod to pin sample order."""
    i = np.arange(v.size, dtype=np.int64)
    return (
        *_int_stats(v),
        int(np.abs(v).sum()),
        int((v * (i % posw_mod)).sum()),
    )


def g711_audio_stats(media: DataFrame) -> DataFrame:
    """G.711 decode: the RIFF walk picks the format code off the fmt
    chunk and expands every byte through the matching compander; one
    exact integer stats row per media (positional weighted sum pins
    sample order, abs-sum pins sign handling)."""
    from .avcodec import decode_wav

    def stats(media_id, payload):
        samples, hdr = decode_wav(bytes(payload))
        yield (
            media_id, hdr["audio_format"], hdr["sample_rate"],
            *_signal_stats(samples.astype(np.int64), 17),
        )

    return map_rows(
        media.select("media_id", "payload"), stats, G711_STATS_SCHEMA
    )


# --------------------------------------------------------------------------
# FLAC (compressed audio) media
# --------------------------------------------------------------------------

FLAC_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("channel", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("sample_sum", T.LongType(), True),
        T.StructField("sample_min", T.IntegerType(), True),
        T.StructField("sample_max", T.IntegerType(), True),
        T.StructField("abs_sum", T.LongType(), True),
        T.StructField("posw_sum", T.LongType(), True),
    ]
)


def _flac_fixture(d: int):
    """Closed-form PCM plant mirrored exactly by the DuckDB oracle:
    1-2 channels, constant docs (d%13), wasted-bits docs (d%11 —
    samples share two trailing zero bits), quadratic-residue noise
    otherwise."""
    n = d % 777 + 64
    nch = 2 if d % 3 == 0 else 1
    scale = 4 if d % 11 == 0 else 1
    chans = []
    for c in range(nch):
        if d % 13 == 0:
            v = (d % 201 - 100) if c == 0 else (d % 157 - 78)
            chans.append([v] * n)
        elif c == 0:
            chans.append(
                [
                    ((d * 13 + 71 * i + (i * i * 7) % 97) % 2001 - 1000)
                    * scale
                    for i in range(n)
                ]
            )
        else:
            chans.append(
                [
                    ((d * 17 + 53 * i + (i * i * 11) % 89) % 2001 - 1000)
                    * scale
                    for i in range(n)
                ]
            )
    return chans


def synthesize_flac_media(documents: DataFrame) -> DataFrame:
    """REAL FLAC fixture: every doc becomes a genuine FLAC file —
    Rice-coded fixed-predictor subframes of every order plus VERBATIM
    and auto-detected CONSTANT, escape partitions on d%7 docs, wasted
    bits on d%11 docs, and the stereo docs rotate through all four
    channel-decorrelation modes; CRC-8/CRC-16 and the STREAMINFO MD5
    are live on every file. Each doc fans out into a full Rice encode
    + decode, so the doc_id spread (see the module docstring) is what
    keeps the codec stages from collapsing onto one task."""
    from .flaccodec import encode_flac

    modes = ("independent", "left_side", "right_side", "mid_side")

    def encode(d):
        chans = _flac_fixture(d)
        return encode_flac(
            chans,
            channel_mode=modes[d % 4] if len(chans) == 2 else "independent",
            subframe_plan=lambda f, c: (
                None if (f + c + d) % 6 == 0 else (f + c + d) % 6 - 1
            ),
            escape_first=(d % 7 == 0),
        )

    return _codec_media(documents, "flac", encode)


def flac_sample_stats(media: DataFrame) -> DataFrame:
    """REAL FLAC decode: full bitstream walk (frame sync, CRC-8
    header check, subframe dispatch, Rice/escape residual decode,
    fixed-predictor reconstruction, wasted-bit restore, channel
    de-decorrelation, CRC-16 and STREAMINFO-MD5 verification — any
    mismatch raises rather than mis-decoding); one exact integer
    stats row per (media, channel)."""
    from .flaccodec import decode_flac

    def stats(media_id, payload):
        out = decode_flac(bytes(payload))
        for ch, samples in enumerate(out["samples"]):
            yield (
                media_id, ch, out["sample_rate"], out["channels"],
                *_signal_stats(np.asarray(samples, dtype=np.int64), 31),
            )

    return map_rows(
        media.select("media_id", "payload"), stats, FLAC_STATS_SCHEMA
    )


# --------------------------------------------------------------------------
# TIFF media
# --------------------------------------------------------------------------

TIFF_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("compression", T.IntegerType(), True),
        T.StructField("n_strips", T.IntegerType(), True),
        T.StructField("n_pixels", T.LongType(), True),
        T.StructField("pixel_sum", T.LongType(), True),
        T.StructField("pixel_min", T.IntegerType(), True),
        T.StructField("pixel_max", T.IntegerType(), True),
    ]
)


def _tiff_fixture(d: int):
    """Closed-form grayscale plant mirrored by the DuckDB oracle:
    PackBits docs (d%3==0) get run-friendly rows, the rest
    high-entropy pixels; strip heights 1..5 cross the multi-strip /
    single-strip and inline/out-of-line IFD storage paths."""
    w, h = d % 21 + 4, d % 15 + 3
    rps = d % 5 + 1
    if d % 3 == 0:
        px = [
            (d + y + (x // 6) * 11) % 256
            for y in range(h)
            for x in range(w)
        ]
    else:
        px = [
            (d * 5 + 3 * x + 7 * y + (x * y) % 13) % 256
            for y in range(h)
            for x in range(w)
        ]
    return w, h, rps, px


def synthesize_tiff_media(documents: DataFrame) -> DataFrame:
    """REAL TIFF fixture: genuine II/MM files (byte order by doc
    parity), multi-strip layouts with out-of-line StripOffsets /
    StripByteCounts arrays, PackBits RLE on every third doc."""
    from .tiffcodec import encode_tiff

    def encode(d):
        w, h, rps, px = _tiff_fixture(d)
        return encode_tiff(
            px,
            w,
            h,
            big_endian=d % 2 == 0,
            packbits=d % 3 == 0,
            rows_per_strip=rps,
        )

    return _codec_media(documents, "tiff", encode)


def tiff_pixel_stats(media: DataFrame) -> DataFrame:
    """REAL TIFF decode: endian-aware IFD walk, inline-vs-offset tag
    values, strip reassembly, PackBits expansion; one exact integer
    stats row per media."""
    from .tiffcodec import decode_tiff

    def stats(media_id, payload):
        out = decode_tiff(bytes(payload))
        yield (
            media_id, out["width"], out["height"], out["compression"],
            out["n_strips"],
            *_int_stats(np.asarray(out["pixels"], dtype=np.int64)),
        )

    return map_rows(
        media.select("media_id", "payload"), stats, TIFF_STATS_SCHEMA
    )


# --------------------------------------------------------------------------
# IMA ADPCM media
# --------------------------------------------------------------------------

ADPCM_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("sample_sum", T.LongType(), True),
        T.StructField("sample_min", T.IntegerType(), True),
        T.StructField("sample_max", T.IntegerType(), True),
        T.StructField("posw_sum", T.LongType(), True),
    ]
)


def synthesize_adpcm_media(documents: DataFrame) -> DataFrame:
    """IMA-ADPCM WAV fixture: a closed-form nibble stream per doc
    ((d*3 + 5j + j²%11) % 16) from a closed-form initial state, run
    through the real state machine so every 36-byte block carries a
    correct header; the DuckDB oracle replays the same machine with a
    recursive CTE."""
    from .avcodec import encode_wav_ima

    def encode(d):
        n = d % 600 + 50
        nibs = ((d * 3 + 5 * j + (j * j) % 11) % 16 for j in range(n))
        return encode_wav_ima(nibs, d % 2001 - 1000, d % 89, n, block_align=36)

    return _codec_media(documents, "wav", encode)


def adpcm_sample_stats(media: DataFrame) -> DataFrame:
    """IMA-ADPCM decode: per-block header restart, low-nibble-first
    expansion through the (predictor, step-index) machine, fact-chunk
    sample cap; one exact integer stats row per media."""
    from .avcodec import decode_wav_ima

    def stats(media_id, payload):
        samples, hdr = decode_wav_ima(bytes(payload))
        v = np.asarray(samples, dtype=np.int64)
        n, total, lo, hi, _, posw = _signal_stats(v, 29)
        yield media_id, hdr["sample_rate"], n, total, lo, hi, posw

    return map_rows(
        media.select("media_id", "payload"), stats, ADPCM_STATS_SCHEMA
    )


# --------------------------------------------------------------------------
# Archive (ZIP/TAR) media
# --------------------------------------------------------------------------

ARCHIVE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("kind", T.StringType(), True),
        T.StructField("member", T.IntegerType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("byte_sum", T.LongType(), True),
    ]
)


def _archive_member(d: int, m: int) -> bytes:
    """Closed-form member payload mirrored by the DuckDB oracle; odd
    members are constant runs so real deflate entries appear on the
    ZIP wire alongside stored ones."""
    n = (d + m * 37) % 300 + 10
    if m % 2:
        return bytes([(d + m) % 256]) * n
    return bytes((d * 7 + m * 13 + i) % 256 for i in range(n))


def synthesize_archive_media(documents: DataFrame) -> DataFrame:
    """Corpus-delivery fixture: even docs become real ZIP archives
    (central directory, CRC-32, stored + deflate members), odd docs
    ustar TAR archives (octal fields, header checksums), 1-4 members
    each, written by the from-scratch coders in
    operators/archivecodec.py."""
    from .archivecodec import write_tar, write_zip

    def render(doc_id):
        d = int(doc_id)
        members = [
            (f"part-{m}.bin", _archive_member(d, m)) for m in range(d % 4 + 1)
        ]
        if d % 2 == 0:
            yield d, "zip", write_zip(members)
        else:
            yield d, "tar", write_tar(members)

    return map_rows(_doc_ids(documents), render, IMAGE_MEDIA_SCHEMA)


def archive_member_stats(media: DataFrame) -> DataFrame:
    """Archive extraction: ZIP via the central directory with CRC-32
    verification, TAR via checksum-validated ustar blocks; one exact
    integer stats row per (media, member)."""
    from .archivecodec import read_tar, read_zip

    def stats(media_id, kind, payload):
        read = read_zip if kind == "zip" else read_tar
        for m, (name, raw) in enumerate(read(bytes(payload))):
            yield media_id, kind, m, name, len(raw), sum(raw)

    return map_rows(
        media.select("media_id", "codec", "payload"), stats, ARCHIVE_STATS_SCHEMA
    )


# --------------------------------------------------------------------------
# WARC (web-archive) media
# --------------------------------------------------------------------------

WARC_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("record", T.IntegerType(), True),
        T.StructField("target_uri", T.StringType(), True),
        T.StructField("status", T.IntegerType(), True),
        T.StructField("gzipped", T.BooleanType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("char_sum", T.LongType(), True),
    ]
)


def _warc_body(d: int, m: int) -> bytes:
    n = (d + 41 * m) % 500 + 20
    return bytes(97 + (d * 3 + m * 7 + i) % 26 for i in range(n))


def synthesize_warc_media(documents: DataFrame) -> DataFrame:
    """Web-crawl fixture: every doc becomes a real WARC file — a
    warcinfo record, then request/response pairs with full HTTP/1.1
    messages — in the Common Crawl one-gzip-member-per-record layout
    on even docs and plain concatenation on odd ones."""
    from .warccodec import http_response, write_warc

    def encode(d):
        recs = [
            (
                "warcinfo",
                {"WARC-Record-ID": f"<urn:uuid:{d}-info>"},
                b"software: spark-graft-fixture\r\n",
            )
        ]
        for m in range(d % 3 + 1):
            uri = f"http://example.com/{d}/{m}"
            recs.append(
                (
                    "request",
                    {"WARC-Target-URI": uri,
                     "WARC-Record-ID": f"<urn:uuid:{d}-{m}-q>"},
                    b"GET / HTTP/1.1\r\nHost: example.com\r\n\r\n",
                )
            )
            recs.append(
                (
                    "response",
                    {"WARC-Target-URI": uri,
                     "WARC-Record-ID": f"<urn:uuid:{d}-{m}-r>"},
                    http_response(
                        200,
                        "OK",
                        {"Content-Type": "text/plain"},
                        _warc_body(d, m),
                    ),
                )
            )
        return write_warc(recs, gzip_per_record=d % 2 == 0)

    return _codec_media(documents, "warc", encode)


def warc_response_stats(media: DataFrame) -> DataFrame:
    """WARC extraction: gzip-member splitting (even docs), record
    framing, response filtering, nested HTTP parse; one exact row per
    (media, response record) — the web-corpus ingestion front door."""
    from .warccodec import parse_http_response, read_warc

    def stats(media_id, payload):
        raw = bytes(payload)
        gz = raw[:2] == b"\x1f\x8b"
        responses = [r for r in read_warc(raw) if r["type"] == "response"]
        for m, rec in enumerate(responses):
            h = parse_http_response(rec["block"])
            uri = rec["headers"]["WARC-Target-URI"]
            yield media_id, m, uri, h["status"], gz, len(h["body"]), sum(h["body"])

    return map_rows(
        media.select("media_id", "payload"), stats, WARC_STATS_SCHEMA
    )


JPEG_THUMB_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("thumb_w", T.IntegerType(), True),
        T.StructField("thumb_h", T.IntegerType(), True),
        T.StructField("n_pixels", T.LongType(), True),
        T.StructField("pixel_sum", T.LongType(), True),
        T.StructField("pixel_min", T.IntegerType(), True),
        T.StructField("pixel_max", T.IntegerType(), True),
        T.StructField("posw_sum", T.LongType(), True),
    ]
)


def jpeg_dc_thumbnail_stats(media: DataFrame) -> DataFrame:
    """1/8-scale thumbnails from PROGRESSIVE JPEGs by decoding ONLY
    the DC scans (every DC scan precedes the first AC scan, so the
    decoder stops before any AC entropy data is parsed — the
    production thumbnail fast path that reads a fraction of each
    file). Thumb pixel per block = clamp(floor(dequant_dc / 8) + 128)
    — exactly the DC-only IDCT; one exact stats row per media with a
    block-order positional pin."""
    from .imagecodec import decode_jpeg_progressive

    def stats(media_id, payload):
        out = decode_jpeg_progressive(
            bytes(payload), want_pixels=False, dc_only=True
        )
        dc = np.asarray(
            [blk[0] for blk in out["components"][0]["blocks"]], dtype=np.int64
        )
        px = np.clip(dc // 8 + 128, 0, 255)
        n, total, lo, hi, _, posw = _signal_stats(px, 13)
        thumb_w, thumb_h = (out["width"] + 7) // 8, (out["height"] + 7) // 8
        yield media_id, thumb_w, thumb_h, n, total, lo, hi, posw

    return map_rows(
        media.select("media_id", "payload"), stats, JPEG_THUMB_SCHEMA
    )


# --------------------------------------------------------------------------
# Compressed-text media (gzip / bz2 / xz)
# --------------------------------------------------------------------------

COMPRESSED_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("codec", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
        T.StructField("text_md5", T.StringType(), True),
    ]
)


def synthesize_compressed_text_media(documents: DataFrame) -> DataFrame:
    """Corpus-mirror fixture: each doc's real text compressed with
    the stdlib codecs corpora actually ship in — gzip (Common Crawl),
    bz2 (Wikipedia dumps), xz/LZMA (many mirrors) — cycling by
    doc_id. Unlike the doc_id-proxy renders, this stage consumes the
    TEXT column, which is why the spread must stay conditional: at
    scale a many-split scan already spreads the corpus."""
    import bz2
    import gzip
    import lzma

    coders = (
        ("gzip", lambda b: gzip.compress(b, 9, mtime=0)),
        ("bz2", bz2.compress),
        ("xz", lzma.compress),
    )

    def render(doc_id, text):
        d = int(doc_id)
        name, compress = coders[d % 3]
        yield d, name, compress(str(text).encode("utf-8"))

    src = spread_if_narrow(documents.select("doc_id", "text"), "doc_id")
    return map_rows(src, render, IMAGE_MEDIA_SCHEMA)


def compressed_text_stats(media: DataFrame) -> DataFrame:
    """Decompress by MAGIC-BYTE sniffing (never trusting the label:
    1f8b gzip, BZh bz2, FD 37 7A 58 5A xz — a mislabeled payload
    raises), then exact text stats; decompression is lossless, so the
    oracle derives the same stats from the source text column."""
    import bz2
    import gzip
    import lzma

    def stats(media_id, label, payload):
        raw = bytes(payload)
        if raw[:2] == b"\x1f\x8b":
            sniffed, text = "gzip", gzip.decompress(raw)
        elif raw[:3] == b"BZh":
            sniffed, text = "bz2", bz2.decompress(raw)
        elif raw[:6] == b"\xfd7zXZ\x00":
            sniffed, text = "xz", lzma.decompress(raw)
        else:
            raise ValueError(
                f"media {media_id}: unknown compression magic {raw[:6]!r}"
            )
        if sniffed != label:
            raise ValueError(
                f"media {media_id}: payload magic {sniffed} != label {label}"
            )
        # md5 of the decompressed bytes == oracle-side md5(text): every
        # decompressed byte is on the hash path (compressed sizes are
        # library-version-dependent and stay out of the oracle)
        n_chars = len(text.decode("utf-8"))
        yield media_id, sniffed, n_chars, hashlib.md5(text).hexdigest()

    return map_rows(
        media.select("media_id", "codec", "payload"),
        stats,
        COMPRESSED_TEXT_SCHEMA,
    )

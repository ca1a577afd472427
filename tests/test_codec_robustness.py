"""Adversarial-input behavior for every from-scratch decoder added in
the round-9 continuation: random bytes, truncations of valid files,
and bit flips must raise a clean ValueError/NotImplementedError (or
return a structurally valid result for flips the format's checksums
genuinely cannot see) — never hang, loop, or throw an unrelated
exception type."""

import random

import pytest

from kafka_spark_streaming_app_spark.operators.archivecodec import (
    read_tar,
    read_zip,
    write_tar,
    write_zip,
)
from kafka_spark_streaming_app_spark.operators.avcodec import decode_wav_ima
from kafka_spark_streaming_app_spark.operators.avrocodec import (
    read_container,
    write_container,
)
from kafka_spark_streaming_app_spark.operators.flaccodec import (
    decode_flac,
    encode_flac,
)
from kafka_spark_streaming_app_spark.operators.gifcodec import (
    decode_gif,
    encode_gif,
)
from kafka_spark_streaming_app_spark.operators.parquetmeta import (
    read_parquet_footer,
)
from kafka_spark_streaming_app_spark.operators.tiffcodec import (
    decode_tiff,
    encode_tiff,
)
from kafka_spark_streaming_app_spark.operators.warccodec import read_warc

_OK = (ValueError, NotImplementedError, IndexError, KeyError, EOFError)


def _random_blobs(seed, n=120):
    rng = random.Random(seed)
    for _ in range(n):
        yield bytes(rng.randrange(256) for _ in range(rng.randint(0, 400)))


@pytest.mark.parametrize(
    "decoder",
    [decode_gif, decode_flac, decode_tiff, read_zip, read_tar,
     read_container, read_warc, read_parquet_footer, decode_wav_ima],
)
def test_random_bytes_never_crash_decoders(decoder):
    for blob in _random_blobs(hash(decoder.__name__) & 0xFFFF):
        try:
            decoder(blob)
        except _OK:
            pass
        except Exception as exc:  # zlib/struct errors wrap OS-level types
            assert type(exc).__module__ in ("zlib", "struct", "builtins"), (
                decoder.__name__, type(exc), exc,
            )


def _valid_samples():
    gif = encode_gif(
        [i % 4 for i in range(48)], 8, 6,
        [(9, 9, 9), (1, 2, 3), (4, 5, 6), (7, 8, 9)],
    )
    flac = encode_flac([[100 * i % 997 - 400 for i in range(300)]])
    tif = encode_tiff([i % 256 for i in range(64)], 8, 8, packbits=True)
    zipf = write_zip([("a.txt", bytes(range(200)))])
    tar = write_tar([("a.txt", bytes(range(200)))])
    avro = write_container(
        [{"k": i} for i in range(50)],
        {"type": "record", "name": "R",
         "fields": [{"name": "k", "type": "long"}]},
        bytes(range(16)),
        codec="deflate",
    )
    return [
        ("gif", gif, decode_gif), ("flac", flac, decode_flac),
        ("tiff", tif, decode_tiff), ("zip", zipf, read_zip),
        ("tar", tar, read_tar), ("avro", avro, read_container),
    ]


def test_truncations_never_crash_decoders():
    for name, data, decoder in _valid_samples():
        for cut in range(0, len(data), max(1, len(data) // 40)):
            try:
                decoder(data[:cut])
            except _OK:
                pass
            except Exception as exc:
                assert type(exc).__module__ in (
                    "zlib", "struct", "builtins"
                ), (name, cut, type(exc))


def test_bit_flips_detected_or_decoded_consistently():
    """Formats with integrity checks (FLAC CRC/MD5, ZIP CRC, TAR
    checksum, Avro sync) must DETECT payload flips; formats without
    (GIF, TIFF) must still fail cleanly or produce a structurally
    valid decode."""
    rng = random.Random(99)
    for name, data, decoder in _valid_samples():
        for _ in range(25):
            b = bytearray(data)
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            try:
                out = decoder(bytes(b))
                if name == "gif":
                    assert isinstance(out, dict) and "frames" in out
                elif name == "tiff":
                    assert isinstance(out, dict) and "pixels" in out
            except _OK:
                pass
            except Exception as exc:
                assert type(exc).__module__ in (
                    "zlib", "struct", "builtins"
                ), (name, type(exc))


# --- round-11 codecs: property tests -----------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@given(
    st.lists(
        st.integers(min_value=0, max_value=(1 << 40) - 1),
        max_size=300,
    )
)
@settings(max_examples=200, deadline=None)
def test_dv_roundtrip_any_position_set(positions):
    """RoaringBitmapArray roundtrips any 64-bit position set (array
    containers, multi-key, cross-high-word) exactly as a sorted
    distinct list."""
    from kafka_spark_streaming_app_spark.operators.dvcodec import (
        dv_deserialize,
        dv_serialize,
    )

    assert dv_deserialize(dv_serialize(positions)) == sorted(
        set(positions)
    )


@given(
    st.integers(min_value=0, max_value=65535),
    st.integers(min_value=1, max_value=9000),
)
@settings(max_examples=30, deadline=None)
def test_roaring_dense_container_flip(start, n):
    """Around the 4096-cardinality array->bitmap container boundary
    the portable serialization stays exact."""
    from kafka_spark_streaming_app_spark.operators.dvcodec import (
        roaring32_deserialize,
        roaring32_serialize,
    )

    vals = [(start + i) & 0xFFFF for i in range(n)]
    enc = roaring32_serialize(vals)
    dec, end = roaring32_deserialize(enc)
    assert dec == sorted(set(vals)) and end == len(enc)


@given(st.binary(min_size=0, max_size=64).filter(lambda b: len(b) % 4 == 0))
@settings(max_examples=200, deadline=None)
def test_z85_roundtrip(data):
    from kafka_spark_streaming_app_spark.operators.dvcodec import (
        z85_decode,
        z85_encode,
    )

    assert z85_decode(z85_encode(data)) == data


@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.binary(max_size=40)),
            st.one_of(st.none(), st.binary(max_size=80)),
        ),
        max_size=60,
    ),
    st.sampled_from(["none", "gzip"]),
    st.integers(min_value=0, max_value=1 << 40),
)
@settings(max_examples=150, deadline=None)
def test_record_batch_v2_roundtrip(messages, compression, base):
    """RecordBatch v2 roundtrips arbitrary key/value byte pairs
    (null keys, null values, empty batches) under both codecs with
    dense offsets from any base."""
    from kafka_spark_streaming_app_spark.sources.kafkarecords import (
        decode_record_batches,
        encode_record_batch,
    )

    enc = encode_record_batch(
        messages, base_offset=base, compression=compression
    )
    dec = decode_record_batches(enc)
    assert dec == [
        (base + i, k, v) for i, (k, v) in enumerate(messages)
    ]


def _gray_jpeg(restart_interval=0):
    from kafka_spark_streaming_app_spark.operators.imagecodec import (
        encode_jpeg_baseline,
    )

    blocks = []
    for b in range(6):
        blk = [0] * 64
        blk[0] = 7 * b - 20
        blk[1 + b] = b + 1
        blocks.append(blk)
    return encode_jpeg_baseline(
        blocks, 24, 16, list(range(1, 65)), restart_interval=restart_interval
    )


def test_restart_marker_without_dri_raises():
    """An RSTn spliced into a DRI-0 scan is malformed; the decoder must
    refuse it instead of decoding straight across the marker."""
    from kafka_spark_streaming_app_spark.operators.imagecodec import (
        decode_jpeg_baseline,
    )

    data = _gray_jpeg()
    assert b"\xff\xdd" not in data
    decode_jpeg_baseline(data, want_pixels=False)  # the clean file decodes
    sos = data.index(b"\xff\xda")
    scan = sos + 2 + int.from_bytes(data[sos + 2 : sos + 4], "big")
    cut = next(
        i for i in range(scan + 1, len(data) - 2)
        if data[i - 1] != 0xFF and data[i] != 0xFF
    )
    with pytest.raises(ValueError, match="restart marker"):
        decode_jpeg_baseline(data[:cut] + b"\xff\xd0" + data[cut:])


def test_huffman_lut_caches_stay_bounded():
    """Each file below carries a distinct DC table (one extra, unused
    16-bit code), so a per-file-table corpus larger than the cap must
    still leave both LUT caches at or below it, and decode correctly."""
    from kafka_spark_streaming_app_spark.operators import imagecodec

    data = _gray_jpeg()
    want = imagecodec.decode_jpeg_baseline(data, want_pixels=False)["blocks"]
    dht = data.index(b"\xff\xc4")  # the DC table comes first
    seglen = int.from_bytes(data[dht + 2 : dht + 4], "big")
    body = bytearray(data[dht + 4 : dht + 2 + seglen])
    body[16] += 1  # BITS[16]: one more 16-bit code, after every used one
    for k in range(imagecodec._HUFF_CACHE_MAX + 20):
        seg = bytes(body) + bytes([k])
        jpeg = (
            data[:dht] + b"\xff\xc4" + (len(seg) + 2).to_bytes(2, "big")
            + seg + data[dht + 2 + seglen :]
        )
        got = imagecodec.decode_jpeg_baseline(jpeg, want_pixels=False)
        assert got["blocks"] == want
        assert len(imagecodec._HUFF_SEG_CACHE) <= imagecodec._HUFF_CACHE_MAX
        assert len(imagecodec._HUFF_LUT_CACHE) <= imagecodec._HUFF_CACHE_MAX

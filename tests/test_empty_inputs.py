"""Empty-input behavior: every new operator must return an empty
result with the right schema, not throw (ANSI mode makes this easy to
regress — sequence(), element_at(), argmin windows)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T


def _empty_docs(spark):
    return spark.createDataFrame(
        [], T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ])
    )


def test_chunk_pii_split_on_empty_corpus(spark):
    from kafka_spark_streaming_app_spark.operators.llmprep import (
        chunk_documents,
        dataset_split,
        pii_scrub,
    )

    docs = _empty_docs(spark)
    assert chunk_documents(docs).count() == 0
    assert pii_scrub(docs).count() == 0
    assert docs.select(dataset_split(docs).alias("s")).count() == 0


def test_minhash_lsh_verify_on_empty_corpus(spark):
    from kafka_spark_streaming_app_spark.operators.dedup import (
        jaccard_verify_candidates,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = _empty_docs(spark)
    sigs = minhash_signatures(docs, num_hashes=12, shingle_n=3)
    assert sigs.count() == 0
    cands = lsh_candidate_pairs(sigs, num_hashes=12, band_size=2)
    assert cands.count() == 0
    assert jaccard_verify_candidates(docs, cands).count() == 0


def test_connected_components_on_empty_pairs(spark):
    from kafka_spark_streaming_app_spark.operators.graph import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [], T.StructType([
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
        ])
    )
    assert connected_components(pairs).count() == 0


def test_running_total_on_empty_input(spark):
    from kafka_spark_streaming_app_spark.operators.skew import (
        hist_running_totals,
    )

    df = spark.createDataFrame(
        [], T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("v", T.LongType()),
        ])
    )
    assert hist_running_totals(df, ["id"], {"rt": "v"}, large=True).count() == 0


def test_single_token_doc_chunks_and_shingles(spark):
    """One-token and whitespace-only docs: no shingles (below n), one
    chunk (the whole doc)."""
    from kafka_spark_streaming_app_spark.operators.dedup import (
        minhash_signatures,
    )
    from kafka_spark_streaming_app_spark.operators.llmprep import (
        chunk_documents,
    )

    docs = spark.createDataFrame(
        [(1, "word"), (2, "   ")], ["doc_id", "text"]
    )
    assert minhash_signatures(docs, shingle_n=3).count() == 0
    chunks = chunk_documents(docs, chunk_tokens=8, overlap=2).collect()
    assert {(r.doc_id, r.chunk_idx) for r in chunks} == {(1, 0), (2, 0)}


def test_corpus_prep_operators_on_empty_corpus(spark):
    from kafka_spark_streaming_app_spark.operators.corpus import line_dedup
    from kafka_spark_streaming_app_spark.operators.llmprep import (
        global_shuffle,
        per_key_cap,
    )
    from kafka_spark_streaming_app_spark.operators.text import quality_score

    docs = _empty_docs(spark)
    assert line_dedup(docs).count() == 0
    assert quality_score(docs).count() == 0
    assert global_shuffle(docs).count() == 0
    with_src = docs.withColumn("source", F.lit("s"))
    assert per_key_cap(with_src, key_col="source").count() == 0


def test_pagerank_on_empty_edges(spark):
    from kafka_spark_streaming_app_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [], T.StructType([
            T.StructField("src", T.LongType()),
            T.StructField("dst", T.LongType()),
        ])
    )
    assert pagerank(edges).count() == 0


def test_sq8_on_single_vector_corpus(spark):
    """Degenerate quantization: one corpus vector means every dim is
    constant (step from that vector's own max |u_i|) — codes must not
    divide by zero and the join (corpus != query) yields nothing."""
    from kafka_spark_streaming_app_spark.operators.similarity import (
        ann_topk_sq8,
    )

    one = spark.createDataFrame(
        [(0, [1.0] * 4 + [0.0] * 60)], ["vec_id", "embedding"]
    )
    assert ann_topk_sq8(one, one, k=3, rerank=5).count() == 0


def test_null_text_documents_are_retained_not_dropped(spark):
    """NULL text must behave exactly like empty text: the document
    keeps an output row in every operator (a null-propagating
    tokenizer would silently DROP the doc from explode-based
    operators — data loss), and chunking must not fabricate token
    counts (regression: greatest/least null-skipping once produced a
    phantom 64-token chunk for a NULL doc)."""
    from kafka_spark_streaming_app_spark.operators.corpus import line_dedup
    from kafka_spark_streaming_app_spark.operators.llmprep import (
        chunk_documents,
    )
    from kafka_spark_streaming_app_spark.operators.text import quality_score

    df = spark.createDataFrame(
        [(1, "real text here"), (2, None)], ["doc_id", "text"]
    )
    ld = {r["doc_id"]: r for r in line_dedup(df, max_docs=5).collect()}
    assert set(ld) == {1, 2}
    assert ld[2]["n_lines"] == 1 and ld[2]["cleaned_text"] == ""

    ch = [r for r in chunk_documents(df).collect() if r["doc_id"] == 2]
    assert len(ch) == 1
    assert ch[0]["chunk_text"] == "" and ch[0]["n_chunk_tokens"] == 1

    qs = {r["doc_id"]: r for r in quality_score(df).collect()}
    assert qs[2]["keep"] is False and qs[2]["n_tokens"] == 1


def test_label_propagation_on_empty_edges(spark):
    from kafka_spark_streaming_app_spark.operators.graph import (
        label_propagation,
    )

    edges = spark.createDataFrame(
        [], T.StructType([
            T.StructField("u", T.LongType()),
            T.StructField("v", T.LongType()),
        ])
    )
    assert label_propagation(edges).count() == 0


def test_content_chunks_on_empty_and_short_docs(spark):
    """Empty corpus → empty; a doc shorter than the 3-gram window has
    no boundaries and must come back as ONE chunk covering it all."""
    from kafka_spark_streaming_app_spark.operators.text import content_chunks

    assert content_chunks(_empty_docs(spark)).count() == 0
    short = spark.createDataFrame([(1, "two words")], "doc_id long, text string")
    rows = content_chunks(short).collect()
    assert len(rows) == 1 and rows[0]["n_words"] == 2


def test_prefix_filter_on_empty_and_singleton(spark):
    """Empty shingle table → no candidates; one document → no pairs."""
    from kafka_spark_streaming_app_spark.operators.dedup import (
        hashed_shingle_sets,
        prefix_filter_candidates,
    )

    empty = hashed_shingle_sets(_empty_docs(spark))
    assert prefix_filter_candidates(empty).count() == 0
    one = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id long, text string"
    )
    assert prefix_filter_candidates(hashed_shingle_sets(one)).count() == 0


def test_ewma_and_holt_on_degenerate_series(spark):
    """A 1-element series must fold to that element (EWMA) and a
    2-element series must give Holt level=x1, trend=x2−x1 with no
    nulls or errors from the slice/element_at machinery."""
    from pyspark.sql import functions as F

    one = spark.createDataFrame([([5.0],)], "xs array<double>")
    got = one.select(
        F.aggregate(
            F.slice(F.col("xs"), 2, F.size(F.col("xs")) - 1),
            F.element_at(F.col("xs"), 1),
            lambda acc, x: (acc + x) * F.lit(0.5),
        ).alias("e")
    ).collect()[0]["e"]
    assert got == 5.0

    two = spark.createDataFrame([([4.0, 10.0],)], "xs array<double>")
    init = F.struct(
        F.element_at(F.col("xs"), 1).alias("l"),
        (F.element_at(F.col("xs"), 2) - F.element_at(F.col("xs"), 1)).alias(
            "b"
        ),
    )
    st = F.aggregate(
        F.slice(F.col("xs"), 3, F.size(F.col("xs")) - 2),
        init,
        lambda a, x: F.struct(
            ((x + a["l"] + a["b"]) / 2).alias("l"),
            (((x + a["l"] + a["b"]) / 2 - a["l"] + a["b"]) / 2).alias("b"),
        ),
    )
    row = two.select(st.alias("st")).collect()[0]["st"]
    assert row["l"] == 4.0 and row["b"] == 6.0


def test_cdc_merge_on_empty_change_feed(spark):
    """No changes → every snapshot row comes back 'kept' untouched."""
    from kafka_spark_streaming_app_spark.queries.cdc import _apply_latest

    base = spark.createDataFrame(
        [(1, 10.0, "SEG"), (2, 20.0, "SEG")],
        "c_custkey long, c_acctbal double, c_mktsegment string",
    )
    latest = spark.createDataFrame(
        [], T.StructType([
            T.StructField("c_custkey", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("new_bal", T.DoubleType()),
        ])
    )
    rows = _apply_latest(base, latest).collect()
    assert len(rows) == 2
    assert all(r["change_type"] == "kept" for r in rows)
    assert {r["c_acctbal"] for r in rows} == {10.0, 20.0}


def test_perceptual_hash_stages_on_empty_corpus(spark):
    from kafka_spark_streaming_app_spark.operators.multimodal import (
        ahash_bands,
        audio_fingerprint_bands,
        synthesize_afp_media,
        synthesize_ahash_media,
    )

    docs = _empty_docs(spark)
    img = synthesize_ahash_media(docs)
    assert img.count() == 0
    assert ahash_bands(img).count() == 0
    wav = synthesize_afp_media(docs)
    assert wav.count() == 0
    assert audio_fingerprint_bands(wav).count() == 0


def test_semantic_dedup_corpus_sized_k_on_tiny_corpus(spark):
    """k = max(2, ceil(n/budget)) must stay valid when n < budget and
    when n == 2 (the floor): no empty-centroid crash, every vector
    keeps or drops deterministically."""
    import pyspark.sql.types as T

    from kafka_spark_streaming_app_spark.operators.dedup import (
        semantic_dedup,
    )

    rows = [(i, [float(i)] * 4) for i in range(3)]
    emb = spark.createDataFrame(
        rows,
        T.StructType([
            T.StructField("vec_id", T.LongType()),
            T.StructField(
                "embedding", T.ArrayType(T.FloatType())
            ),
        ]),
    )
    out = semantic_dedup(emb, dim=4, iters=1, cluster_budget=1000)
    assert out.count() == 3
    assert out.filter("keep").count() >= 1


def test_round5_operators_on_degenerate_inputs(spark):
    """Round-5 additions on empty / singleton inputs: no crash, sane
    results — a sampler on an empty corpus returns 0 rows, a peel on
    an empty edge set returns an empty core, band helpers accept an
    empty fingerprint table."""
    from pyspark.sql import functions as F

    from kafka_spark_streaming_app_spark.operators.multimodal import (
        hamming_band_pairs,
        synthesize_vfp_media,
        video_fingerprint_bands,
    )

    empty_bands = spark.createDataFrame(
        [], "media_id bigint, b0 bigint, b1 bigint, b2 bigint, b3 bigint"
    )
    assert hamming_band_pairs(empty_bands, radius=3).count() == 0
    assert (
        hamming_band_pairs(empty_bands, radius=3, max_band_bucket=4).count()
        == 0
    )
    # singleton: no self-pairs
    one = spark.createDataFrame(
        [(1, 2, 3, 4, 5)],
        "media_id bigint, b0 bigint, b1 bigint, b2 bigint, b3 bigint",
    )
    assert hamming_band_pairs(one, radius=3).count() == 0

    empty_docs = spark.createDataFrame([], "doc_id bigint")
    vid = synthesize_vfp_media(empty_docs)
    assert vid.count() == 0
    assert video_fingerprint_bands(vid).count() == 0


def test_codec_synth_stages_on_empty_corpus(spark):
    """Every round-9-continuation media synthesis/stats pair must
    yield an empty result with the right schema on an empty corpus
    (the mapInPandas iterators see zero batches or empty frames)."""
    from kafka_spark_streaming_app_spark.operators.multimodal import (
        adpcm_sample_stats,
        archive_member_stats,
        flac_sample_stats,
        g711_audio_stats,
        gif_frame_stats,
        gif_pixel_stats,
        synthesize_adpcm_media,
        synthesize_archive_media,
        synthesize_flac_media,
        synthesize_g711_media,
        synthesize_gif_animation_media,
        synthesize_gif_media,
        synthesize_tiff_media,
        synthesize_warc_media,
        tiff_pixel_stats,
        warc_response_stats,
    )

    docs = _empty_docs(spark)
    pairs = [
        (synthesize_gif_media, gif_pixel_stats),
        (synthesize_gif_animation_media, gif_frame_stats),
        (synthesize_g711_media, g711_audio_stats),
        (synthesize_adpcm_media, adpcm_sample_stats),
        (synthesize_flac_media, flac_sample_stats),
        (synthesize_tiff_media, tiff_pixel_stats),
        (synthesize_archive_media, archive_member_stats),
        (synthesize_warc_media, warc_response_stats),
    ]
    for synth, stats in pairs:
        out = stats(synth(docs))
        assert out.count() == 0, synth.__name__
        assert len(out.schema) >= 5


def test_map_rows_on_empty_and_row_expanding_inputs(spark):
    """map_rows, the per-row stage every codec runs through: an empty
    input gives zero rows with the schema's columns, and a
    row-expanding fn yielding 0, 1 or 3 rows per input (as tuples in
    field order or as dicts keyed by field name) gives exactly those
    rows."""
    from kafka_spark_streaming_app_spark.operators.multimodal import (
        map_rows,
    )

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("k", T.IntegerType()),
        T.StructField("tag", T.StringType()),
    ])

    def expand(id_, n, tag):
        for k in range(n):
            yield id_, k, tag

    def as_dict(id_, n, tag):
        yield {"tag": tag * n, "k": n, "id": id_}

    empty = spark.createDataFrame([], "id bigint, n int, tag string")
    out = map_rows(empty, expand, schema)
    assert out.columns == ["id", "k", "tag"]
    assert out.count() == 0

    src = spark.createDataFrame(
        [(1, 0, "a"), (2, 1, "b"), (3, 3, "c")], "id bigint, n int, tag string"
    )
    rows = sorted(tuple(r) for r in map_rows(src, expand, schema).collect())
    assert rows == [(2, 0, "b"), (3, 0, "c"), (3, 1, "c"), (3, 2, "c")]
    rows = sorted(tuple(r) for r in map_rows(src, as_dict, schema).collect())
    assert rows == [(1, 0, ""), (2, 1, "b"), (3, 3, "ccc")]


def test_jaro_winkler_col_on_empty_frame(spark):
    from kafka_spark_streaming_app_spark.operators.text import (
        jaro_winkler_col,
    )

    df = spark.createDataFrame(
        [], T.StructType([
            T.StructField("a", T.StringType()),
            T.StructField("b", T.StringType()),
        ])
    )
    assert df.select(jaro_winkler_col(F.col("a"), F.col("b"))).count() == 0

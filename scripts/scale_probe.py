"""Scale probe: wall-clock scaling of headline queries when the input
grows Nx (default 8x), holding cores fixed.

Builds a synthetic Nx dataset by materializing each sf0.1 table as a
DIRECTORY of N file copies (hardlinks — zero extra disk) so Spark
plans N times the splits over identical data, then times each probe
query at 1x and Nx (min-of-2). A scale-safe plan shows time ratio ~N
(linear work, fixed cores) or better; a super-linear ratio exposes a
quadratic/skew term that would kill the operator at 100 TB.

Interpretation caveats:
- duplicated documents change DEDUP semantics (every doc gains N-1
  exact twins), so probe queries are chosen from the linear families
  (scan/agg/window/join/retrieval) where duplication just multiplies
  rows;
- local[32] has fixed parallelism — perfect scaling is ratio == N;
  ratios below N mean the 1x run was underutilizing cores.

Usage: python scripts/scale_probe.py [N]
Prints one JSON line: {"scale": N, "queries": {name: {"t1": s,
"tN": s, "ratio": r}}}
"""

import json
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

# Probes must be DUPLICATION-LINEAR: file duplication replicates JOIN
# KEYS, so a fact-fact equi-join (e.g. lineitem ⋈ orders) fans out
# N² per original pair — an artifact of the synthetic Nx build, not a
# property of the plan (real Nx data has distinct keys). Scan / window
# / aggregation / aggregated-key-join queries scale honestly here.
PROBES = (
    "windowed_agg_sliding",
    "q1_pricing_summary",
    "text_bm25_topk",
    "winnow_fingerprints",
    "zorder_layout",
    "source_token_kl",
    # round-3 fourth-session additions (all duplication-linear:
    # scan-agg sufficient statistics, percentile passes, per-key
    # series folds — no fact-fact key-replicating joins)
    "ols_regression",
    "mad_outliers",
    "correlation_matrix",
    "ewma_daily_revenue",
    "rfm_segmentation",
    # statistics/forecasting close (duplication-linear: scan-agg,
    # histogram-first scans, calendar-bounded series; bootstrap
    # weights are pure key functions so duplicates just scale counts)
    "bootstrap_ci_mean",
    "ks_test_two_sample",
    "seasonal_decompose_daily",
    "gradient_boost_stumps",
    # streaming family (round-5): the wire replay fixture writes a
    # FIXED file count (one per core), so at Nx input the micro-batch
    # COUNT stays constant and each batch carries Nx the data — the
    # probe measures per-trigger scaling (does a batch with 8x rows
    # cost <= 8x?), the production question for a stream whose volume
    # grows at fixed trigger cadence. Duplication-linear: windowed
    # counts, (day,bin) sketch counts, and latest-wins merges over
    # exact-duplicate (key,seq) change rows all just scale.
    "streaming_windowed_append",
    "streaming_cdc_upsert",
    "streaming_quantile_rollup",
    "streaming_matview_join",
    "streaming_hll_rollup",
    # round-6 (duplication-linear: histogram/scan-agg statistics, gram
    # window counts, and PQ whose argmin/group keys dedup by id — no
    # fact-fact key-replicating joins; hits_part_authority is EXCLUDED
    # for the same reason the other graph queries are: its orders ⋈
    # lineitem edge build replicates join keys N² under file copying)
    "kruskal_wallis_test",
    "logistic_irls",
    "trigram_perplexity",
    "similarity_ann_pq",
    "isotonic_calibration",
    # round-6 fourth wave (duplication-linear: scan-project FIM, rank
    # windows over collapsing keys, BPE's vocab-sized dataflow, the
    # broadcast MaxSim fan-out, per-media frame windows, and the
    # fixed-trigger reservoir replay; ngram_novelty and the spectral
    # band join are EXCLUDED — duplicated doc_ids collapse their
    # distinct() or blow up their band join N², both artifacts of the
    # file-copy fixture, not the plan)
    "fim_transform",
    "gini_concentration",
    "tokenizer_fertility",
    "colbert_maxsim_topk",
    "colbert_maxsim_ivf",
    "multimodal_audio_vad",
    "streaming_reservoir_sample",
    # round-6 fifth/sixth waves (duplication-linear: gram-keyed counts
    # and scan-agg statistics whose keys collapse under file copying;
    # fellegi/skipgram/PR-sweep are EXCLUDED — duplicated ids multiply
    # their pair joins N², the dedup-family fixture artifact)
    "bleu_rouge_eval",
    "kneser_ney_perplexity",
    "bh_fdr_daily_shifts",
    "empirical_bayes_shrinkage",
    # round-7 wave (duplication-linear: per-source distinct-shingle
    # sets collapse duplicates exactly as real dup data would while
    # the explode/scan grows Nx; gmm is a pure scan-agg; the KMV
    # stream replays Nx rows through the same fixed trigger count
    # into a bounded sketch; pagerank_personalized is EXCLUDED like
    # the rest of the graph family — its lineitem self-join edge
    # build replicates join keys N^2 under file copying)
    "source_overlap_kmv",
    "gmm_em_1d",
    "streaming_kmv_sketch_rollup",
    # wordpiece: word freqs scale Nx while distinct words stay
    # constant — exactly what real duplication does; everything past
    # the (word, freq) collapse is vocabulary-sized
    "wordpiece_greedy_tokenize",
    # second round-7-continuation wave (duplication-linear: huber and
    # power are pure scan-agg sufficient statistics; fairness is a
    # scan + cells agg; textrank's distinct co-occurrence pairs
    # collapse under duplication exactly as real dup text would)
    "huber_irls_regression",
    "ab_power_mde",
    "group_fairness_metrics",
    "textrank_keywords",
    # final wave: hill is a top-k scan; the dedup ledger replays Nx
    # rows through the fixed trigger count into key-cardinality state
    # (duplicate content collapses exactly as real dup data); markov
    # journeys are one window pass + a fixed-size chain iteration
    # (time-only probe — duplicated events lengthen paths but the
    # chain stays channels-sized)
    "hill_tail_index",
    "streaming_dedup_ledger",
    "markov_removal_attribution",
    # round-8: AMS is one conditional-sum scan; ALS scans Nx events
    # into a fixed (user, item) key space then iterates edge-sized
    # joins; the streaming funnel replays Nx rows into per-user
    # min-merge state (user space constant under duplication)
    "ams_f2_sketch",
    "als_rank1_implicit",
    "streaming_funnel_rollup",
    # DR eval is one scan + a 5-cell broadcast; IVM replays the Nx
    # feed through retraction deltas into key-cardinality state; the
    # format round-trips re-materialize and re-read Nx fixture bytes
    "doubly_robust_eval",
    "streaming_ivm_agg",
    "orc_roundtrip_agg",
    "csv_ingest_audit",
    # star CC iterates keyed-min/join rounds over the near-dup edge
    # set (jitter-free: the pair graph collapses under duplication, so
    # probe via the jittered fixture); lateness profile is one keyed
    # window pass
    "out_of_order_profile",
    # binary hamming is a packed-scan + broadcast-query funnel; skew
    # audit is two keyed aggs over one scan; kmeans|| is per-round
    # broadcast-assignment scans (duplicated vectors multiply masses
    # and weights linearly, center set stays sample-sized)
    "similarity_binary_hamming",
    "shuffle_skew_audit",
    "kmeans_parallel_init",
    # product-analytics trio: user-keyed window pass; user-keyed agg +
    # integer-seconds percentiles; coverage explode bounded by x7
    "event_path_mining",
    "funnel_time_to_convert",
    "rolling_distinct_users",
    # spatial: duplicated customers collide at identical coordinates
    # (cell-pair N^2 fixture artifact) -> EXCLUDED like the dedup
    # family; sweep line: corpus scan + calendar-bounded day window
    "max_concurrent_intervals",
    # erasure: broadcast semi-flag + one conditional-agg scan; decay:
    # one scan + item-keyed agg (items-sized rank)
    "user_erasure_audit",
    "time_decay_popularity",
    # same sketch dataflow as source_overlap_kmv (already probed);
    # the exact-diff anchor joins on the distinct hash key, bounded
    # per hash by source count
    "kmv_set_difference",
    # round-9: the JPEG entropy decodes are per-payload mapInPandas
    # stages (row-linear by construction — fixture encode + Huffman
    # decode both per doc); the blocklist scan is one automaton pass
    # per doc; the Luhn audit is a scan projection + per-source agg.
    # EXCLUDED: streaming_scd2_build (duplicated (key, seq) change
    # rows break version-chain semantics under file duplication, the
    # dedup-family artifact) and streaming_view_purchase_full_join
    # (fact-fact join keys fan out N^2 under duplication, same as the
    # inner-join twin).
    "multimodal_jpeg_entropy_decode",
    "multimodal_jpeg_decode_pixels",
    "multimodal_jpeg_color_decode",
    "multimodal_jpeg_progressive_decode",
    "blocklist_multipattern_scan",
    "pii_luhn_audit",
    # round-9 rollup/digest shapes: one scan + partial/final aggs;
    # bitmap/HLL distinct counts are duplication-invariant but the
    # scan work is row-linear (what the probe measures); the digest
    # and soundex are scan projections + small-group aggs
    "bitmap_distinct_rollup",
    "table_integrity_digest",
    "hll_datasketches_rollup",
    "phonetic_blocking_soundex",
    "multimodal_jpeg_color_progressive",
    # streaming bitmap rollup: Nx rows replay through the fixed
    # trigger count into types x buckets state (distinct counts are
    # duplication-invariant; the probe measures the scan);
    # compaction: Nx rows fragment + rewrite + digest, all row-linear
    "streaming_bitmap_rollup",
    "compaction_roundtrip_digest",
    # round-9 continuation: the GIF/G.711/FLAC decodes are per-payload
    # mapInPandas stages (fixture encode + full decode both per doc,
    # row-linear by construction); the periodicity scan collapses to
    # the calendar-bounded daily series then does a 29-period fold;
    # viterbi's (word, freq) collapse leaves a vocabulary-sized DP
    # (freqs scale Nx, distinct words constant — exactly real
    # duplication). EXCLUDED: jaro_winkler_linkage — duplicated
    # p_partkeys multiply its blocked pairs N^2 under file copying,
    # the dedup/linkage-family fixture artifact (same exclusion as
    # fellegi_sunter_linkage).
    "multimodal_gif_decode",
    "multimodal_gif_animation_frames",
    "multimodal_audio_g711_decode",
    "multimodal_flac_decode",
    "periodicity_scan_anova",
    "viterbi_segmentation",
    # ingestion-format wave: TIFF/ADPCM/archive/WARC are per-payload
    # mapInPandas codecs (row-linear by construction); Avro serializes
    # and re-reads every partition's rows; t-closeness collapses to
    # cells x bands after two grouping passes. EXCLUDED:
    # parquet_footer_audit — the hardlink fixture turns each
    # <table>.parquet FILE into a directory of N copies, breaking the
    # query's single-file path contract (its cost is O(footer bytes)
    # by construction, there is nothing row-linear to probe).
    "multimodal_tiff_decode",
    "multimodal_audio_adpcm_decode",
    "archive_extract_audit",
    "warc_extract_text",
    "avro_roundtrip_agg",
    "t_closeness_audit",
    # lakehouse wave: fixture build + snapshot replay are both
    # row-linear (data files scale Nx, the log/metadata tree stays
    # commit-sized); the streaming sink replays Nx rows through the
    # fixed trigger count into per-batch commits
    "delta_log_replay_read",
    "iceberg_metadata_read",
    "streaming_delta_sink",
    # DC-only thumbnails parse a bounded prefix of each payload
    # (row-linear); HMM sessions: user-keyed DP, 3-vector state,
    # duplicated events lengthen sequences linearly (time-only probe)
    "multimodal_jpeg_thumbnail_dc",
    "hmm_viterbi_sessions",
    # compressed ingest is per-payload codec work; influence is one
    # scan-agg + broadcast + per-row projection + top-k
    "compressed_text_ingest",
    "ols_influence_diagnostics",
    # TWAP: one user-keyed window + grouped agg, row-linear
    "time_weighted_average",
    # interval union: one ordered frontier pass per user, row-linear
    "interval_union_coverage",
    # power iteration: per round one vec-keyed and one dim-keyed agg
    # over the exploded matrix (row-linear); v rides broadcasts
    "power_iteration_top_eigvec",
    # round-10 lakehouse wave: the sinks replay Nx orders through the
    # fixed trigger count into per-batch distributed writes; the
    # pruned reads' FILE LISTS are log/manifest-metadata-sized while
    # their scans are row-linear in the pruned partition; maintenance
    # is metadata work + unlinks. (The kafka wire queries are
    # EXCLUDED: their payload stream is a fixed-size synthetic
    # generator independent of sf_dir — nothing scales.)
    "streaming_iceberg_sink",
    "delta_partition_pruned_read",
    "iceberg_partition_pruned_read",
    "delta_maintenance_roundtrip",
    # round-11: multi-column/transform partitioning (fanout write is
    # one job; pruning is metadata-sized; scans row-linear in the
    # pruned cell)
    "streaming_delta_sink_multipart",
    "delta_compound_pruned_read",
    "streaming_iceberg_sink_transforms",
    "iceberg_transform_pruned_read",
    "iceberg_bucket_pruned_point_read",
    # round-11 continuation: stats skipping, schema evolution,
    # incremental scans, merge-on-read (all metadata-pruned or
    # row-linear; MoR adds a broadcast anti-join on the delete set)
    "delta_stats_skipping_read",
    "iceberg_stats_skipping_read",
    "delta_schema_evolution_read",
    "iceberg_schema_evolution_read",
    "delta_incremental_append_read",
    "iceberg_incremental_append_read",
    "iceberg_position_delete_read",
    "delta_deletion_vector_read",
    # (kafka_wire_orders_v2 is excluded like the other wire queries:
    # its payload generator is sf-independent, nothing scales)
    # change feeds + lakehouse streaming source (insert/delete rows
    # scale with the corpus; per-trigger planning is metadata-sized)
    "delta_change_feed_read",
    "iceberg_changelog_read",
    "streaming_delta_source_roundtrip",
    "streaming_iceberg_source_roundtrip",
    # round-12: file-backed deletion vectors (delete set scales with
    # the corpus; the .bin read is O(bitmap) driver metadata, the
    # anti-join stays broadcast) and equality deletes (the delete
    # file is a handful of VALUES — constant-size broadcast — while
    # the data side scans row-linear with sequence-scoped splits)
    "delta_deletion_vector_file_read",
    "iceberg_equality_delete_read",
    # v2 sidecar checkpoint: replay is O(KB) manifest+sidecar
    # metadata; the read is corpus-linear like any snapshot scan
    "delta_v2_checkpoint_read",
)


def build_scaled_dir(src_sf: str, n: int) -> str:
    out = tempfile.mkdtemp(prefix=f"scale{n}x_")
    for t in TABLES:
        src = os.path.join(src_sf, f"{t}.parquet")
        dst_dir = os.path.join(out, f"{t}.parquet")
        os.makedirs(dst_dir)
        # a table may be a single file OR a Spark-written directory of
        # part files — link every data file N times either way
        files = (
            [
                os.path.join(src, f)
                for f in os.listdir(src)
                if f.endswith(".parquet")
            ]
            if os.path.isdir(src)
            else [src]
        )
        for i in range(n):
            for j, fpath in enumerate(files):
                dst = os.path.join(dst_dir, f"copy{i}_{j}.parquet")
                try:
                    os.link(fpath, dst)
                except OSError:
                    shutil.copy(fpath, dst)
    return out


def build_jittered_embeddings(src_sf: str, n: int) -> str:
    """An Nx embeddings corpus of NEAR-duplicates: copy i gets
    vec_id + i*n_vec (ids stay dense from 0, preserving the
    first-k-ids k-means init convention) and +i*1e-3 on dimension
    (i mod 64) — distinct vectors, realistic near-dup structure."""
    import duckdb

    out = tempfile.mkdtemp(prefix=f"jitter{n}x_")
    src = os.path.join(src_sf, "embeddings.parquet")
    con = duckdb.connect()
    n_vec = con.sql(f"SELECT count(*) FROM '{src}'").fetchone()[0]
    selects = " UNION ALL ".join(
        f"SELECT vec_id + {i * n_vec} AS vec_id, "
        f"CAST(list_transform(embedding, (x, j) -> "
        f"CASE WHEN j = {(i % 64) + 1} THEN x + {i}*0.001 ELSE x END) "
        f"AS FLOAT[]) AS embedding, label FROM '{src}'"
        for i in range(n)
    )
    con.sql(
        f"COPY ({selects}) TO "
        f"'{os.path.join(out, 'embeddings.parquet')}' (FORMAT PARQUET)"
    )
    con.close()
    return out


def build_jittered_documents(src_sf: str, n: int) -> str:
    """An Nx documents corpus with DISTINCT doc_ids (copy i shifts by
    i*n_docs; n_docs is even at every SF, so the 2m/2m+1 planted-pair
    convention of the perceptual-hash fixtures survives the shift) and
    a per-copy suffix token on the text — an Nx corpus of realistic
    near-duplicates — next to the 1x hardlink fixture's other tables.
    Needed by the queries the hardlink fixture corrupts: duplicated
    doc_ids collapse ngram_novelty's distinct (doc, shingle) pairs and
    hand multimodal_spectral_hash_dedup N-1 bit-identical hashes per
    image (an N^2 band join that no real corpus exhibits)."""
    import duckdb

    out = build_scaled_dir(src_sf, 1)
    dst = os.path.join(out, "documents.parquet")
    shutil.rmtree(dst)
    src = os.path.join(src_sf, "documents.parquet")
    con = duckdb.connect()
    n_docs = con.sql(f"SELECT count(*) FROM '{src}'").fetchone()[0]
    selects = " UNION ALL ".join(
        f"SELECT doc_id + {i * n_docs} AS doc_id, "
        f"text || ' copytag{i}' AS text, lang, source, "
        f"n_chars + {len(' copytagX') + len(str(i)) - 1} AS n_chars "
        f"FROM '{src}'"
        for i in range(n)
    )
    con.sql(f"COPY ({selects}) TO '{dst}' (FORMAT PARQUET)")
    con.close()
    return out


# Probes that need the jittered-documents fixture instead of hardlink
# duplication (see build_jittered_documents docstring).
JITTER_DOC_PROBES = (
    "ngram_novelty",
    "multimodal_spectral_hash_dedup",
    # fixture strings derive from doc_id: hardlink duplication would
    # replicate identical strings (pair-join N^2 artifact); jittered
    # ids produce N distinct corpora of planted pairs
    "dedup_fastss_ed1",
    "dedup_clusters_star",
)

# Probes that need the jittered-embeddings fixture: exact hardlink
# duplication would hand every vector N-1 exact twins and distort
# dedup/ranking semantics, so copy i shifts vec_id by i*n_vec and
# perturbs one dimension — an N x larger corpus with only near-dup
# structure. For semantic_dedup, k = ceil(n/budget) grows N x with it,
# holding expected cluster size constant — the probe measures the
# linear-total-pair-cost claim of the k ∝ n sizing rule directly. For
# similarity_mmr_rerank the pool stays queries x 12, so the probe
# isolates the corpus-scan stage.
JITTER_EMB_PROBES = (
    "semantic_dedup",
    "similarity_mmr_rerank",
    "embedding_hard_negatives",
    "rocchio_prf_rerank",
    "ab_interleaving_eval",
    "semantic_contamination",
)


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    only = None
    for a in sys.argv[1:]:
        if a.startswith("--only="):
            only = set(a.split("=", 1)[1].split(","))
    n = int(args[0]) if args else 8
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import bench_session, time_query

    spark = bench_session(src)
    # (probes, Nx fixture builder, fixture label); each fixture is
    # built only when one of its probes is selected
    fixtures = (
        (JITTER_DOC_PROBES, build_jittered_documents, "jittered-documents"),
        (PROBES, build_scaled_dir, None),
        (JITTER_EMB_PROBES, build_jittered_embeddings, "jittered-embeddings"),
    )
    built = []
    try:
        results = {}
        for probes, build, label in fixtures:
            names = [p for p in probes if only is None or p in only]
            if not names:
                continue
            scaled = build(src, n)
            built.append(scaled)
            for name in names:
                times = {
                    key: min(time_query(spark, name, sf_dir, runs=2))
                    for key, sf_dir in (("t1", src), ("tN", scaled))
                }
                times["ratio"] = round(times["tN"] / times["t1"], 2)
                if label:
                    times["fixture"] = label
                results[name] = times
                print(f"\n# {name}: {times}", file=sys.stderr, flush=True)
        print(json.dumps({"scale": n, "queries": results}))
    finally:
        for d in built:
            shutil.rmtree(d, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

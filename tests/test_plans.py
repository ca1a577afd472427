"""Physical-plan audits: the 100 TB posture, asserted.

These tests pin the plan properties that matter at scale — if a
refactor silently turns a broadcast join into a shuffle join or stops
a filter from reaching the parquet scan, they fail even though results
stay correct.
"""

from __future__ import annotations

import contextlib
import io

from kafka_spark_streaming_app_spark import registry

registry.load_all()


def plan_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_q1_filter_pushdown_and_column_pruning(spark, sf_smoke):
    plan = plan_str(registry.QUERIES["q1_pricing_summary"](spark, sf_smoke))
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split(
        "PushedFilters"
    )[1].split("]")[0], "shipdate filter did not reach the parquet scan"
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_partkey" not in read_schema and "l_orderkey" not in read_schema, (
        f"scan reads columns the query never uses: {read_schema}"
    )


def test_q1_is_partial_final_aggregation(spark, sf_smoke):
    plan = plan_str(registry.QUERIES["q1_pricing_summary"](spark, sf_smoke))
    assert plan.count("HashAggregate") >= 2, "missing partial (map-side) aggregation"


def test_q3_broadcasts_dimensions_and_takes_ordered(spark, sf_smoke):
    plan = plan_str(registry.QUERIES["q3_shipping_priority"](spark, sf_smoke))
    assert "BroadcastHashJoin" in plan, "dimension join is not broadcast"
    assert "TakeOrderedAndProject" in plan, (
        "top-10 materializes a global sort instead of TakeOrderedAndProject"
    )


def test_q3_fact_side_shuffles_only_customer_broadcast(spark, sf_smoke):
    """The scale contract for q3: customer (selective dim filter) is
    the ONLY hinted broadcast; lineitem ⋈ orders must shuffle — the
    orders date filter keeps most rows, so broadcasting that side OOMs
    at 100 TB. autoBroadcastJoinThreshold is disabled so the test sees
    hints, not sf0.001 size estimates."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try:
        plan = plan_str(registry.QUERIES["q3_shipping_priority"](spark, sf_smoke))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    tree = plan.split("\n\n")[0]
    assert tree.count("BroadcastHashJoin") == 1, (
        "exactly one hinted broadcast (customer) expected:\n" + tree
    )
    assert "SortMergeJoin" in tree or "ShuffledHashJoin" in tree, (
        "lineitem ⋈ orders is not a shuffle join:\n" + tree
    )


def test_q10_q18_no_customer_broadcast_hint(spark, sf_smoke):
    """customer is the largest TPC-H dimension — the plan must not
    force-broadcast it (AQE may still choose to at small sf; with the
    threshold disabled, only hints survive, and the only hinted
    broadcast left is q10's nation)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try:
        q10 = plan_str(registry.QUERIES["q10_returned_items"](spark, sf_smoke))
        q18 = plan_str(
            registry.QUERIES["q18_large_volume_orders"](spark, sf_smoke)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    q10_tree = q10.split("\n\n")[0]
    q18_tree = q18.split("\n\n")[0]
    assert q10_tree.count("BroadcastHashJoin") == 1, (
        "q10 should hint-broadcast nation only:\n" + q10_tree
    )
    assert q18_tree.count("BroadcastHashJoin") == 0, (
        "q18 should have no broadcast hints:\n" + q18_tree
    )


def test_curation_fuzzy_stage_uses_lsh_bands(spark, sf_smoke):
    """The fuzzy-dedup candidate generator must be the banded LSH
    bucket join (band_sig equi-join), never the all-pairs shingle
    self-join — asserted on the unbarriered operator plan (the
    materialization barrier hides it in the composed curate plan)."""
    from kafka_spark_streaming_app_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from kafka_spark_streaming_app_spark.sources.batch import load_table

    docs = load_table(spark, sf_smoke, "documents")
    sigs = minhash_signatures(docs, num_hashes=12, shingle_n=3)
    plan = plan_str(
        lsh_candidate_pairs(
            sigs, num_hashes=12, band_size=2, materialize=False
        )
    )
    assert "band_sig" in plan, (
        "no LSH band join in the candidate plan — fuzzy stage regressed "
        "to all-pairs"
    )


def test_lsh_queries_have_materialization_barriers(spark, sf_smoke):
    """Shared intermediates (band table, candidate set, candidate
    shingles, quality stats) must sit behind lazy localCheckpoint
    barriers: without them every reference re-expands the whole
    upstream pipeline (measured 22 corpus scans in the LSH plan, 82 in
    the curation plan)."""
    for name in ("dedup_minhash_lsh", "curate_documents"):
        plan = plan_str(registry.QUERIES[name](spark, sf_smoke))
        assert "ExistingRDD" in plan, f"{name}: no barrier in plan"
        assert plan.count("documents.parquet") == 0, (
            f"{name}: corpus subtree duplicated outside the barrier"
        )


def test_tfidf_has_no_eager_count_and_no_vocab_broadcast(spark, sf_smoke):
    """n_docs must be an in-plan 1-row aggregate (no literal baked in
    by a driver-side count) and the document-frequency table must not
    be hint-broadcast (it holds nearly the whole vocabulary)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try:
        plan = plan_str(registry.QUERIES["tfidf_tokens"](spark, sf_smoke))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" not in tree, (
        "vocabulary (df) table is hint-broadcast:\n" + tree
    )
    assert "n_docs" in plan, "n_docs is not computed in-plan"


def test_star_join_is_fully_broadcast(spark, sf_smoke):
    plan = plan_str(registry.QUERIES["star_join_dims"](spark, sf_smoke))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_fraud_alert_filter_sits_on_scan_and_prunes_columns(spark, sf_smoke):
    """A cross-column OR can't push into the parquet reader, but it must
    (a) evaluate codegen'd directly above the scan with no shuffle and
    (b) not stop column pruning (props/ts are never read)."""
    plan = plan_str(registry.QUERIES["fraud_alerts"](spark, sf_smoke))
    assert "Exchange" not in plan, "stateless filter/classify acquired a shuffle"
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "props" not in read_schema, f"unused column read: {read_schema}"
    assert "Condition : (((value" in plan, "fraud predicate not in scan-stage filter"


def test_text_stats_has_no_shuffle(spark, sf_smoke):
    plan = plan_str(registry.QUERIES["text_stats"](spark, sf_smoke))
    assert "Exchange" not in plan, "pure scan-projection query acquired a shuffle"


def test_windowed_agg_exact_distinct_shape(spark, sf_smoke):
    """Oracle twin: count(DISTINCT) forces the two-phase distinct-agg
    plan — 2 shuffles is the correct (and unavoidable) shape."""
    plan = plan_str(registry.QUERIES["windowed_agg_sliding"](spark, sf_smoke))
    assert plan.count("HashAggregate") >= 2
    assert plan.count("- Exchange") == 2


def test_windowed_agg_production_single_shuffle(spark, sf_smoke):
    """Production operator: the DataSketches distinct count keeps the
    agg partial+final with exactly ONE shuffle — the property that
    matters at 100 TB (state and network ∝ groups, not distinct users)
    — and no HLL++ (``HyperLogLogPlusPlus``, which kept the aggregate
    out of whole-stage codegen) is left in the plan. Asserted on the
    operator directly: the registry's `windowed_agg_approx` QUERY also
    computes the exact distinct for its tolerance oracle, which
    legitimately adds the exact-distinct Expand/second Exchange."""
    import re

    from kafka_spark_streaming_app_spark.operators.windowed import (
        windowed_aggregation,
    )
    from kafka_spark_streaming_app_spark.sources.batch import load_table

    events = load_table(spark, sf_smoke, "events")
    prod = windowed_aggregation(
        events,
        window_duration="1 minute",
        slide_duration="30 seconds",
        exact_distinct=False,
        stabilize_sums=False,
    )
    # top-down operator names, aggregates tagged final/partial by their
    # functions (a partial aggregate computes partial_* buffers)
    shape = []
    for line in plan_str(prod, "simple").splitlines():
        node = re.match(r"[\s+:-]*(\w+)", line)
        if node and node.group(1).endswith("Aggregate"):
            shape.append("partial" if "functions=[partial_" in line else "final")
        elif node and node.group(1) == "Exchange":
            shape.append("Exchange")
    assert shape == ["final", "Exchange", "partial"], (
        f"approx windowed agg must be partial -> one Exchange -> final: {shape}"
    )
    executed = prod._jdf.queryExecution().executedPlan().toJSON()
    assert "HyperLogLogPlusPlus" not in executed
    # and the tolerance query still carries its verification column
    tol = plan_str(registry.QUERIES["windowed_agg_approx"](spark, sf_smoke))
    assert "hll_within_tolerance" in tol


def test_minhash_signatures_aggregate_before_shuffle(spark, sf_smoke):
    """The exploded shingle relation must be partially aggregated
    map-side — the property that keeps LSH shuffle ∝ docs, not
    shingles."""
    from kafka_spark_streaming_app_spark.operators.dedup import minhash_signatures
    from kafka_spark_streaming_app_spark.sources.batch import load_table

    sigs = minhash_signatures(load_table(spark, sf_smoke, "documents"))
    plan = plan_str(sigs)
    # inspect the TREE section only (the details section would always
    # contain 'HashAggregate' and make the assertion vacuous). Two
    # valid shapes guarantee the property (exploded shingles never
    # cross a shuffle):
    # - at-scale shape: map-side partial HashAggregate BELOW the
    #   aggregation Exchange (one signature row per doc per partition
    #   crosses);
    # - local r13 shape: the narrow-scan spread exchange (keyed on
    #   doc_id) is REUSED by the aggregation, so the explode
    #   (Generate) sits entirely ABOVE the only Exchange and only
    #   (doc_id, tokens) rows ever cross.
    tree = plan.split("\n\n")[0]
    assert "Exchange" in tree
    below_exchange = tree.split("Exchange", 1)[1]
    assert (
        "HashAggregate" in below_exchange
        or "Generate" not in below_exchange
    ), (
        "exploded shingle rows cross the shuffle unaggregated:\n" + tree
    )


def test_similarity_brute_force_broadcasts_queries(spark, sf_smoke):
    plan = plan_str(registry.QUERIES["similarity_topk_brute"](spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, (
        "query batch is not broadcast — corpus would shuffle"
    )


def test_sessionize_single_shuffle(spark, sf_smoke):
    """Session merging happens inside one keyed aggregation — exactly
    one Exchange, no windowed-sort extra pass."""
    plan = plan_str(registry.QUERIES["sessionize_users"](spark, sf_smoke))
    assert plan.count("- Exchange") == 1, "sessionization should shuffle once"


def test_pivot_is_single_aggregation(spark, sf_smoke):
    """pivot with an explicit value list must plan as ONE partial+final
    agg pair (conditional aggregates), not one pass per pivot value and
    no value-discovery job."""
    plan = plan_str(registry.QUERIES["pivot_status_revenue"](spark, sf_smoke))
    assert plan.count("- Exchange") == 1
    assert plan.count("- HashAggregate") == 2


def test_q7_broadcasts_only_nation_fact_join_shuffles(spark, sf_smoke):
    """q7's scale contract: the two hinted broadcasts are nation
    filtered to the pair (25 rows at every SF); lineitem ⋈ orders must
    stay a shuffle join."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try:
        plan = plan_str(
            registry.QUERIES["q7_nation_volume_shipping"](spark, sf_smoke)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    tree = plan.split("\n\n")[0]
    assert tree.count("BroadcastHashJoin") == 2, (
        "exactly two hinted broadcasts (nation→supplier, nation→customer) "
        "expected:\n" + tree
    )
    assert "SortMergeJoin" in tree or "ShuffledHashJoin" in tree, (
        "lineitem ⋈ orders is not a shuffle join:\n" + tree
    )


def test_scalar_aggregate_queries_scan_lineitem_once(spark, sf_smoke):
    """q11/q15/q17/q20 compare a relation against an aggregate of
    itself. The window-over-aggregate form guarantees ONE lineitem
    scan structurally; the cross-join-a-1-row-agg form re-scans the
    fact table per branch (exchange reuse does NOT reliably fire for
    it — measured on the executed plan)."""
    for name in (
        "q11_important_suppliers",
        "q15_top_supplier",
        "q17_small_quantity_revenue",
        "q20_dominant_suppliers",
    ):
        plan = plan_str(registry.QUERIES[name](spark, sf_smoke))
        assert plan.count("lineitem.parquet") == 1, (
            f"{name}: lineitem scanned more than once"
        )


def test_q21_single_pass_no_exists_rescan(spark, sf_smoke):
    """The EXISTS/NOT-EXISTS rewrite must keep exactly one lineitem
    scan (the whole point of the aggregation form — the subquery form
    scans lineitem three times)."""
    plan = plan_str(registry.QUERIES["q21_waiting_suppliers"](spark, sf_smoke))
    assert plan.count("lineitem.parquet") == 1, (
        "q21 re-scans lineitem — EXISTS-style plan crept back in"
    )


def test_q16_not_in_plans_as_anti_join(spark, sf_smoke):
    plan = plan_str(registry.QUERIES["q16_supplier_part_counts"](spark, sf_smoke))
    assert "LeftAnti" in plan, "NOT IN exclusion did not plan as an anti-join"


def test_chunking_and_pii_are_scan_projections(spark, sf_smoke):
    """Chunking (bounded row-local explode) and PII scrubbing are pure
    scan pipelines — any Exchange is a regression."""
    for name in ("chunk_documents", "pii_scrub"):
        plan = plan_str(registry.QUERIES[name](spark, sf_smoke))
        assert "Exchange" not in plan, f"{name} acquired a shuffle"


def test_token_budget_has_no_global_single_partition_sort(spark, sf_smoke):
    """The running total must be the two-level prefix sum: the only
    SinglePartition exchange allowed is the per-partition-totals
    offset window (one row per partition), never a global sort of the
    data rows."""
    plan = plan_str(registry.QUERIES["token_budget_selection"](spark, sf_smoke))
    tree = plan.split("\n\n")[0]
    # the ranged data rows sit behind the localCheckpoint barrier
    # (ExistingRDD); the only SinglePartition exchange in the visible
    # plan is the per-partition-totals offset window
    assert "ExistingRDD" in tree, "prefix sum lost its range barrier:\n" + tree
    assert tree.lower().count("exchange singlepartition") <= 1, (
        "data rows are being globally single-partitioned:\n" + tree
    )
    # the data-row window must be partitioned by _pid, not global
    assert "partitionBy" not in tree or "_pid" in tree


def test_repetition_metrics_single_scan_no_join(spark, sf_smoke):
    """The Gopher repetition stats must stay one corpus scan with the
    doc-level token stats riding the groupBy keys — a join back to the
    corpus (or a re-expanded second scan) is the anti-pattern."""
    from kafka_spark_streaming_app_spark.operators.corpus import (
        repetition_metrics,
    )
    from kafka_spark_streaming_app_spark.sources.batch import load_table

    docs = load_table(spark, sf_smoke, "documents")
    tree = plan_str(repetition_metrics(docs)).split("\n\n")[0]
    assert tree.count("Scan parquet") == 1, (
        "corpus scanned more than once:\n" + tree
    )
    assert "Join" not in tree, "unexpected join back to the corpus:\n" + tree


def test_corpus_gram_joins_are_equi_joins(spark, sf_smoke):
    """Boilerplate scoring and contamination scans must meet their
    corpus-wide gram sets in hash-keyed equi-joins — never a nested
    loop / cartesian comparison (asserted on the unbarriered
    boilerplate plan; the contamination query has no barrier)."""
    from pyspark.sql import functions as F

    from kafka_spark_streaming_app_spark.operators.corpus import (
        boilerplate_ngrams,
        contamination_check,
    )
    from kafka_spark_streaming_app_spark.sources.batch import load_table

    docs = load_table(spark, sf_smoke, "documents")
    for tree in (
        plan_str(boilerplate_ngrams(docs, materialize=False)).split("\n\n")[0],
        plan_str(
            contamination_check(docs, is_benchmark=F.col("doc_id") % 20 == 0)
        ).split("\n\n")[0],
    ):
        assert "CartesianProduct" not in tree
        assert "BroadcastNestedLoopJoin" not in tree
        assert ("HashJoin" in tree) or ("SortMergeJoin" in tree), (
            "gram-set join missing or degenerate:\n" + tree
        )


def test_quality_classifier_is_scan_projection(spark, sf_smoke):
    """The linear quality filter must fuse into one codegen scan —
    any Exchange means the feature extraction broke out of the
    projection."""
    plan = plan_str(registry.QUERIES["quality_classifier"](spark, sf_smoke))
    tree = plan.split("\n\n")[0]
    assert "Exchange" not in tree, "quality filter shuffles:\n" + tree
    assert "Join" not in tree


def test_global_shuffle_no_single_partition_data_sort(spark, sf_smoke):
    """Shard assignment must use the two-level prefix sum — the only
    SinglePartition exchange allowed is the tiny per-partition-offsets
    window, never the data rows."""
    plan = plan_str(registry.QUERIES["global_shuffle_shards"](spark, sf_smoke))
    tree = plan.split("\n\n")[0]
    assert "ExistingRDD" in tree, "prefix sum lost its range barrier:\n" + tree
    assert tree.lower().count("exchange singlepartition") <= 1, (
        "data rows are globally single-partitioned:\n" + tree
    )


def test_line_dedup_joins_on_hash_no_cartesian(spark, sf_smoke):
    """Line dedup must meet the hot-line set in a hash equi-join on
    the 64-bit line hash — never an all-pairs comparison."""
    plan = plan_str(registry.QUERIES["line_dedup_clean"](spark, sf_smoke))
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in tree and "NestedLoop" not in tree, (
        "line dedup degenerated to an all-pairs plan:\n" + tree
    )


def test_sq8_candidate_join_broadcasts_queries(spark, sf_smoke):
    """The SQ8 scoring join must broadcast the (small) query batch —
    the corpus side streams; a shuffle join of the corpus against 5
    query rows would be the anti-pattern."""
    plan = plan_str(registry.QUERIES["similarity_sq8_rerank"](spark, sf_smoke))
    tree = plan.split("\n\n")[0]
    assert "SortMergeJoin" not in tree, (
        "SQ8 scoring shuffles the corpus against the query batch:\n" + tree
    )


def test_runtime_bloom_filter_prunes_fact_join(spark, sf_correctness):
    """Spark's runtime bloom-filter join pruning (SPARK-32268) is the
    semi-join lever when neither side broadcasts: the selective build
    side publishes a bloom filter that the fact scan applies BEFORE
    the shuffle, so non-joining fact rows never cross the network.

    It is on by default in the engine session but gates on the
    application-side scan looking >= 10 GB
    (``applicationSideScanSizeThreshold``) — correct at 100 TB, never
    triggered by local fixtures — so this test lowers the gate to
    prove the plan shape the production scale hits."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        big = spark.read.parquet(f"{sf_correctness}/lineitem.parquet")
        small = spark.read.parquet(f"{sf_correctness}/orders.parquet").filter(
            "o_orderpriority = '1-URGENT'"
        )
        j = (
            big.join(small, big.l_orderkey == small.o_orderkey)
            .groupBy("l_returnflag")
            .count()
        )
        optimized = j._jdf.queryExecution().optimizedPlan().toString()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "might_contain" in optimized and "bloom_filter_agg" in optimized, (
        "runtime bloom filter did not inject:\n" + optimized
    )


def test_parquet_aggregate_pushdown_metadata_only_scan(spark, sf_correctness):
    """MIN/MAX/COUNT over an unfiltered parquet scan can be answered
    from row-group footer statistics alone (SPARK-34952, DSv2 scans):
    the plan carries PushedAggregation and the scan never materializes
    data pages. At 100 TB this turns full-table sanity aggregates into
    a metadata read. Needs the v2 parquet reader — confs are
    test-local because the engine default (v1 + nanosAsLong loader
    path) is what the oracle contract is proven on."""
    confs = {
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.sql.sources.useV1SourceList": "",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        df = spark.read.parquet(f"{sf_correctness}/lineitem.parquet")
        agg = df.selectExpr(
            "min(l_quantity) AS mn", "max(l_quantity) AS mx", "count(*) AS n"
        )
        plan = agg._jdf.queryExecution().executedPlan().toString()
        row = agg.collect()[0]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "min(l_quantity)" in plan and "BatchScan" in plan, (
        "aggregate did not push into the scan:\n" + plan
    )
    assert row["n"] == 60000 and row["mn"] == 1.0 and row["mx"] == 50.0


def test_bigram_fluency_single_gram_shuffle_no_self_join(spark, sf_smoke):
    """Per-gram counts must attach via a window over the gram key, not
    an aggregate-then-self-join (which shuffles the gram relation
    twice)."""
    plan = plan_str(registry.QUERIES["bigram_fluency_score"](spark, sf_smoke))
    assert "Window" in plan, "gram counts no longer use the window shape"
    assert "SortMergeJoin" not in plan, (
        "gram relation is self-joined — the shape the window replaced"
    )


def test_semantic_dedup_pairs_only_within_clusters(spark, sf_smoke):
    """The near-dup pair join must be an equi-join on cid (blocked),
    never a cartesian/broadcast-nested-loop over the corpus."""
    plan = plan_str(registry.QUERIES["semantic_dedup"](spark, sf_smoke))
    assert "CartesianProduct" not in plan
    # the only nested-loop allowed is the 1-row centroid/total
    # broadcasts inside k-means; the pair join itself is hash/SMJ on cid
    assert "cid" in plan


def test_multimodal_decode_is_single_python_stage(spark, sf_smoke):
    """Real PNG decode: the render + decode mapInPandas stages stay
    FUSED (no exchange between them — the payload never shuffles),
    with exactly ONE exchange BELOW the first Python node: the r13
    doc_id proxy spread that distributes the per-row codec CPU
    across the cluster before any payload exists (a small
    single-file scan is one input split, which used to run the whole
    render+decode chain in one task)."""
    plan = plan_str(
        registry.QUERIES["multimodal_image_decode"](spark, sf_smoke)
    )
    tree = plan.split("\n\n")[0]
    assert tree.count("MapInPandas") == 2, (
        "expected exactly the render + decode Arrow stages"
    )
    n_exchange = plan.count("+- Exchange") + plan.count(":- Exchange")
    assert n_exchange == 1, (
        f"expected exactly the doc_id spread exchange, got {n_exchange}"
    )
    # the exchange must sit BELOW both Python stages: nothing between
    # or above them may shuffle (payload rows never cross the wire)
    first_map = tree.index("MapInPandas")
    assert "Exchange" in tree[first_map:], (
        "the doc_id spread exchange should feed the render stage"
    )
    assert "Exchange" not in tree[:first_map], (
        "no shuffle may sit between/above the render+decode stages"
    )


def test_scd2_total_is_broadcast_not_global_window(spark, sf_smoke):
    plan = plan_str(registry.QUERIES["scd2_dimension_join"](spark, sf_smoke))
    assert "Window" not in plan, (
        "global total regressed to a single-partition window"
    )


def test_winnow_windows_share_one_shuffle(spark, sf_smoke):
    """Both window functions (min-pack, count) must ride ONE doc-keyed
    Exchange+Sort, and the trailing distinct must reuse that
    partitioning rather than adding a second shuffle."""
    plan = plan_str(registry.QUERIES["winnow_fingerprints"](spark, sf_smoke))
    assert plan.count("Window") >= 1
    n_exchange = plan.count("+- Exchange") + plan.count(":- Exchange")
    assert n_exchange == 1, (
        f"winnowing should shuffle exactly once (doc key); got {n_exchange}"
    )


def test_zorder_morton_is_single_aggregation_scan(spark, sf_smoke):
    """The Morton interleave must fuse into the scan projection — one
    Exchange for the bucket aggregation, nothing else."""
    plan = plan_str(registry.QUERIES["zorder_layout"](spark, sf_smoke))
    n_exchange = plan.count("+- Exchange") + plan.count(":- Exchange")
    assert n_exchange == 1, f"zorder expects one shuffle, got {n_exchange}"
    assert "Join" not in plan


def test_bm25_broadcasts_small_sides_topk_grouplimit(spark, sf_smoke):
    """Query terms / df / 1-row stats broadcast onto the postings
    table; the per-query top-5 must plan as WindowGroupLimit (rank
    pushdown), not a full window materialization."""
    plan = plan_str(registry.QUERIES["text_bm25_topk"](spark, sf_smoke))
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_grouped_wavg_is_arrow_aggregate(spark, sf_smoke):
    """The GROUPED_AGG pandas_udf must plan as the Arrow aggregate
    operator (not grouped-map over collected groups)."""
    plan = plan_str(registry.QUERIES["grouped_wavg_pandas"](spark, sf_smoke))
    assert "ArrowAggregatePython" in plan or "AggregateInPandas" in plan
    n_exchange = plan.count("+- Exchange") + plan.count(":- Exchange")
    assert n_exchange == 1, f"UDAF expects one shuffle, got {n_exchange}"


def test_triangle_edges_checkpointed_once(spark, sf_smoke):
    """The edge list feeds four consumers; the localCheckpoint barrier
    must stop the order-keyed self-join from re-expanding per branch —
    the scan of lineitem appears in the plan at most once (the barrier
    turns the other references into ExistingRDD scans)."""
    plan = plan_str(registry.QUERIES["triangle_count"](spark, sf_smoke))
    assert plan.count("Scan parquet") <= 1, (
        "edge-list subtree re-expanded: lineitem scanned more than once"
    )


def test_range_join_bucketed_has_no_nested_loop(spark, sf_smoke):
    """The keyless interval correlation must plan as a bucket EQUI
    join (hash/broadcast-hash), never the nested-loop product a naive
    range predicate produces."""
    plan = plan_str(registry.QUERIES["range_join_bucketed"](spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan


def test_partition_prune_scan_has_partition_filters(spark, sf_smoke):
    """The driver-facing layout query must read through the
    partitioned directory with a PartitionFilters entry on the
    partition column — directory pruning, not a data filter."""
    plan = plan_str(registry.QUERIES["partition_prune_scan"](spark, sf_smoke))
    assert "PartitionFilters: [" in plan
    assert "event_type" in plan.split("PartitionFilters")[1].split("]")[0]


def test_bucketed_join_segments_joins_without_exchange(spark, sf_smoke):
    """Co-bucketed orders⋈customer must sort-merge with no Exchange
    below the join; the only shuffles allowed in the whole plan are
    the post-join aggregation's."""
    df = registry.QUERIES["bucketed_join_segments"](spark, sf_smoke)
    plan = plan_str(df)
    assert "SortMergeJoin" in plan, plan
    # in the printed tree parents come first: the join's INPUT subtree
    # is everything between the join node and the node-detail section
    subtree = plan.split("SortMergeJoin", 1)[1].split("\n\n")[0]
    assert "Exchange" not in subtree, (
        "bucketed join still shuffles its inputs:\n" + plan
    )
    assert plan.count("Bucketed: true") == 2, plan


def test_ahash_dedup_band_joins_are_hash_not_cartesian(spark, sf_smoke):
    """The perceptual-hash candidate generator must be four band
    equi-joins (hash/SMJ), never a cartesian over the image corpus;
    the exact Hamming verify runs post-join on candidates only."""
    plan = plan_str(registry.QUERIES["multimodal_ahash_dedup"](spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("mapInPandas") <= 2 * 4 + 2, (
        "decode/hash stage fanned out unexpectedly"
    )


def test_quantile_rollup_is_sketch_sized_after_first_agg(spark, sf_smoke):
    """First aggregation reads only (o_orderdate, o_totalprice); the
    week merge and quantile pick run on the bin sketch."""
    plan = plan_str(registry.QUERIES["quantile_mergeable_rollup"](spark, sf_smoke))
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "o_custkey" not in read_schema and "o_comment" not in read_schema
    assert plan.count("HashAggregate") >= 2, "missing partial aggregation"


def test_psi_drift_broadcasts_reference_and_bins(spark, sf_smoke):
    """The reference histogram and the bin dimension are broadcast —
    the fact table shuffles once into (yr, bin) counts and everything
    downstream is dimension-sized."""
    plan = plan_str(registry.QUERIES["psi_value_drift"](spark, sf_smoke))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "o_comment" not in read_schema


def test_reservoir_sample_is_take_ordered_not_global_sort(spark, sf_smoke):
    """Exact-k sampling must compile to TakeOrderedAndProject
    (per-partition top-k heaps, k-row driver merge) — a global Sort
    would shuffle the whole corpus to sample 100 rows."""
    plan = plan_str(registry.QUERIES["reservoir_sample_exact"](spark, sf_smoke))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_stratified_sample_uses_window_group_limit(spark, sf_smoke):
    """The per-stratum rank<=n_alloc filter must run as
    WindowGroupLimit (partial top-k per partition before the stratum
    window) and the stratum-count-sized allocation table must
    broadcast — never a full-stratum sort feeding a shuffle join."""
    plan = plan_str(
        registry.QUERIES["stratified_sample_neyman"](spark, sf_smoke)
    )
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_roc_auc_has_no_per_row_rank(spark, sf_smoke):
    """AUC must come from the score HISTOGRAM: exactly one ordered
    Window in the plan, fed by the single-partition exchange of the
    group-by-score aggregate (distinct-score cardinality) — never a
    row-level rank over the corpus (no row_number anywhere)."""
    plan = plan_str(registry.QUERIES["roc_auc_quality"](spark, sf_smoke))
    assert plan.count("(") and plan.count("Window") >= 1
    assert "row_number" not in plan
    assert "SinglePartition" in plan  # ordered window over the histogram


def test_item_item_topk_uses_window_group_limit(spark, sf_smoke):
    plan = plan_str(registry.QUERIES["item_item_cosine"](spark, sf_smoke))
    assert "WindowGroupLimit" in plan


def test_cusum_totals_are_broadcast(spark, sf_smoke):
    """The day-level totals and the argmax row must attach by
    broadcast — a shuffle join against a 1-row table would be wrong
    at any scale."""
    plan = plan_str(registry.QUERIES["cusum_changepoint"](spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_join_strategy_hints_are_honored(spark, sf_smoke):
    """The engine's join-strategy surface: MERGE, SHUFFLE_HASH and
    BROADCAST hints on the same orders x customer join must each
    produce their named physical operator (a hint Catalyst ignores
    is a silent perf cliff at scale)."""
    from pyspark.sql import functions as F

    from kafka_spark_streaming_app_spark.sources.batch import load_table

    orders = load_table(spark, sf_smoke, "orders")
    cust = load_table(spark, sf_smoke, "customer")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try:
        for hint, op in (
            ("merge", "SortMergeJoin"),
            ("shuffle_hash", "ShuffledHashJoin"),
            ("broadcast", "BroadcastHashJoin"),
        ):
            plan = plan_str(
                orders.join(
                    cust.hint(hint),
                    orders.o_custkey == cust.c_custkey,
                )
            )
            assert op in plan, f"{hint} hint did not produce {op}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_streaming_cms_state_is_sketch_sized(spark, sf_smoke):
    """The CMS probe joins must broadcast sketch-row slices (<= 1024
    rows each) — a shuffle join against the 4096-counter sketch would
    be absurd at any scale."""
    plan = plan_str(
        registry.QUERIES["streaming_cms_heavy_hitters"](spark, sf_smoke)
    )
    assert plan.count("BroadcastHashJoin") >= 4  # one per sketch row
    assert "SortMergeJoin" not in plan


def test_weighted_es_sample_is_take_ordered_not_global_sort(spark, sf_smoke):
    """Weighted exact-k sampling shares the reservoir's distributed
    shape: TakeOrderedAndProject, never a whole-corpus range sort."""
    plan = plan_str(registry.QUERIES["weighted_sample_es"](spark, sf_smoke))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_pq_codebook_and_lut_joins_are_broadcast(spark, sf_smoke):
    """PQ's corpus-sized relations (subvectors, codes) must only ever
    join BROADCAST tables (m x 16 codebook rows, m x 16 x n_queries
    LUT rows) — a shuffle join against either would serialize the
    encode/ADC stages at scale."""
    plan = plan_str(registry.QUERIES["similarity_ann_pq"](spark, sf_smoke))
    assert plan.count("BroadcastHashJoin") >= 4  # train x2, encode, ADC
    assert "CartesianProduct" not in plan


def test_hits_final_plan_is_barriered(spark, sf_smoke):
    """HITS is iterative: the returned plan must hang off checkpoint
    barriers (Scan ExistingRDD), not re-expand three half-steps of
    joins into one tree — the same lineage discipline as pagerank /
    k-means. (The per-half-step broadcast of the one-row max is
    asserted behaviorally by the operator tests; barriers hide it
    from this final plan by design.)"""
    plan = plan_str(registry.QUERIES["hits_part_authority"](spark, sf_smoke))
    assert "Scan ExistingRDD" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_logistic_and_cox_aggregate_with_partial_merge(spark, sf_smoke):
    """GLM training must be scan + partial/final hash aggregation —
    any Exchange carrying raw rows to a single reducer before the
    partial agg would make training driver-bound. HashAggregate pairs
    around each Exchange prove map-side combine."""
    for q in ("logistic_irls", "cox_proportional_hazards"):
        plan = plan_str(registry.QUERIES[q](spark, sf_smoke))
        assert "HashAggregate" in plan
        assert "CartesianProduct" not in plan


def test_trigram_counts_shuffle_hashes_not_strings(spark, sf_smoke):
    """The five gram-count windows must partition on xxhash64 keys;
    raw gram STRINGS never appear as exchange keys (they'd triple the
    shuffle bytes)."""
    plan = plan_str(registry.QUERIES["trigram_perplexity"](spark, sf_smoke))
    # the hash columns are computed before the barrier, so the count
    # windows' exchanges key on the int64 k-columns
    for key in ("k123", "k12", "k23", "k2", "k3"):
        assert f"hashpartitioning({key}" in plan, key
    assert "CartesianProduct" not in plan


def test_hard_negatives_broadcast_anchors_no_cartesian(spark, sf_smoke):
    """embedding_hard_negatives must broadcast the anchor batch (the
    corpus never shuffles for the join) and never cross-join."""
    plan = plan_str(
        registry.QUERIES["embedding_hard_negatives"](spark, sf_smoke)
    )
    assert (
        "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    )
    assert "CartesianProduct" not in plan


def test_exact_jaccard_anchors_shuffle_hashes_not_strings(spark, sf_smoke):
    """The exact-Jaccard ground-truth anchors join on xxhash64
    shingle identities — concat_ws shingle STRINGS must never appear
    anywhere in the plan (the round-7 8-byte-key rework).
    dedup_containment's shingle stage sits behind its lazy checkpoint
    barrier (Scan ExistingRDD), so the xxhash64 projection is only
    visible in the uncheckpointed jaccard plan."""
    plan = plan_str(registry.QUERIES["dedup_ngram_jaccard"](spark, sf_smoke))
    assert "xxhash64" in plan
    assert "concat_ws" not in plan
    cplan = plan_str(registry.QUERIES["dedup_containment"](spark, sf_smoke))
    assert "concat_ws" not in cplan
    assert "CartesianProduct" not in cplan


def test_fastss_joins_variants_no_cartesian(spark, sf_smoke):
    """dedup_fastss_ed1's candidate stage must be an equi-join on the
    variant key (SortMergeJoin/ShuffledHashJoin on v) — never a
    cartesian/broadcast-nested-loop pair enumeration."""
    plan = plan_str(registry.QUERIES["dedup_fastss_ed1"](spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan  # verify runs post-join, in-plan


def test_ams_is_single_scan_partial_final_agg(spark, sf_smoke):
    """ams_f2_sketch's sketch arm must be one scan with partial+final
    aggregation (60 int64 cells combine map-side) and exactly one md5
    per row — no per-hash expansion, no explode."""
    plan = plan_str(registry.QUERIES["ams_f2_sketch"](spark, sf_smoke))
    assert plan.count("HashAggregate") >= 2
    assert "Generate" not in plan  # no explode anywhere
    # one hash projection: md5 appears in the scan-side project only
    proj = [ln for ln in plan.splitlines() if "md5" in ln]
    assert proj, "h60 hash projection missing"


def test_als_iteration_is_barriered(spark, sf_smoke):
    """als_rank1_implicit's final plan must read the previous factor
    state through lazy-checkpoint barriers (Scan ExistingRDD), not
    re-expand the whole iteration lineage."""
    plan = plan_str(registry.QUERIES["als_rank1_implicit"](spark, sf_smoke))
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_orc_scan_prunes_status_partition(spark, sf_smoke):
    """orc_roundtrip_agg's ORC scan must resolve the o_orderstatus
    filter as a PARTITION filter (directory pruning at listing time),
    not a post-scan filter over all partitions."""
    plan = plan_str(registry.QUERIES["orc_roundtrip_agg"](spark, sf_smoke))
    assert "Scan orc" in plan
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters")[1].split("]")[0]
    assert "o_orderstatus" in seg


def test_q22_scalar_average_is_explicit_broadcast(spark, sf_smoke):
    """q22's 1-row global-average crossJoin must carry the explicit
    broadcast hint (BroadcastNestedLoopJoin) like its 25 siblings —
    plan-deterministic without relying on AQE to notice the 1-row
    side. autoBroadcastJoinThreshold is disabled so the test sees the
    hint, not a size estimate."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try:
        plan = plan_str(
            registry.QUERIES["q22_idle_rich_customers"](spark, sf_smoke)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_bitmap_rollup_single_fact_scan(spark, sf_smoke):
    """bitmap_distinct_rollup must materialize the (segment, bucket,
    bitmap) table once behind a barrier — the per-segment and the
    OR-merged ALL branches read ExistingRDD, not two fact scans."""
    plan = plan_str(registry.QUERIES["bitmap_distinct_rollup"](spark, sf_smoke))
    assert "ExistingRDD" in plan
    assert plan.count("Scan parquet") == 0


def test_integrity_digest_is_scan_plus_partial_agg(spark, sf_smoke):
    """Each table's digest must be one scan with partial+final
    aggregation (hash work combines map-side); no joins, no windows."""
    plan = plan_str(registry.QUERIES["table_integrity_digest"](spark, sf_smoke))
    for t in ("orders", "customer", "lineitem"):
        assert plan.count(f"{t}.parquet") == 1, f"{t} scanned more than once"
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("HashAggregate") >= 6  # partial+final per table


def test_jaro_winkler_blocking_is_equi_join_not_cartesian(spark, sf_smoke):
    """jaro_winkler_linkage's candidate generation must be a hash
    equi-join on the blocking key — a cartesian product here would be
    the all-pairs anti-pattern the blocking exists to avoid; the UDF
    must sit above the join (ArrowEvalPython), not inside the
    condition (BatchEvalPython row filter)."""
    plan = plan_str(registry.QUERIES["jaro_winkler_linkage"](spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_flac_synth_spreads_rows_before_python_stage(spark, sf_smoke):
    """multimodal_flac_decode must hash-repartition the doc ids with
    an explicit partition count before the Python codec stages so AQE
    cannot collapse the per-row Rice work onto one task."""
    plan = plan_str(registry.QUERIES["multimodal_flac_decode"](spark, sf_smoke))
    assert "REPARTITION_BY_NUM" in plan
    # formatted explain lists each node in the tree AND the details
    assert plan.count("MapInPandas") == 4  # synth + stats, no extras


def test_periodicity_scan_is_daily_rollup_then_broadcast_folds(spark, sf_smoke):
    """periodicity_scan_anova: one orders scan collapsing to the daily
    series; the 29-period fold explodes off a BROADCAST of the period
    range (never a shuffle join); the global sums ride a broadcast
    1-row aggregate."""
    plan = plan_str(
        registry.QUERIES["periodicity_scan_anova"](spark, sf_smoke)
    )
    # (the orders scan appears under several branches at explain time
    # because the daily-series checkpoint is lazy — materialization
    # collapses them to one at run time, like the other *_checkpoint
    # plans; what must hold statically is the join strategy)
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_t_closeness_grid_broadcasts_band_table(spark, sf_smoke):
    """t_closeness_audit: the cells x bands grid must come from a
    broadcast of the (bands-sized) global table, and the identified
    table is scanned a bounded number of times (cells, cell-band and
    global rollups), never joined to itself at row grain."""
    plan = plan_str(registry.QUERIES["t_closeness_audit"](spark, sf_smoke))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_merge_on_read_is_broadcast_anti_join(spark, sf_smoke):
    """Both MoR readers (Iceberg position deletes, Delta deletion
    vectors) must drop deleted rows with a BROADCAST LeftAnti join on
    the hidden row index — the delete side stays broadcast-sized
    while the data side keeps its scan parallelism; a shuffled or
    cartesian shape would gate the 100 TB scan on the deletes."""
    for name in (
        "iceberg_position_delete_read", "delta_deletion_vector_read",
    ):
        plan = plan_str(registry.QUERIES[name](spark, sf_smoke))
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, name
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_stats_skipping_prunes_the_file_list(spark, sf_smoke):
    """The skipping reads must hand Spark ONLY the overlapping files:
    inputFiles (the planned scan set) is a strict subset of the
    table's live files on the range-clustered layout."""
    from kafka_spark_streaming_app_spark.queries.formats import (
        _clustered_orders_delta,
        _clustered_orders_iceberg,
    )
    from kafka_spark_streaming_app_spark.sources.deltalog import (
        read_delta_snapshot,
        snapshot_files,
    )
    from kafka_spark_streaming_app_spark.sources.iceberglog import (
        read_iceberg_snapshot,
        snapshot_data_files,
    )

    flt = {"o_orderkey": (1000, 5000)}
    d = _clustered_orders_delta(spark, sf_smoke)
    n_all = len(snapshot_files(d)["files"])
    pruned = read_delta_snapshot(spark, d, data_filter=flt)
    assert 0 < len(pruned.inputFiles()) < n_all
    t = _clustered_orders_iceberg(spark, sf_smoke)
    n_all_i = len(snapshot_data_files(t)["files"])
    pruned_i = read_iceberg_snapshot(spark, t, data_filter=flt)
    assert 0 < len(pruned_i.inputFiles()) < n_all_i

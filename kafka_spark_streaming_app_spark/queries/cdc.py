"""Change-data-capture application: MERGE a keyed change feed into a
snapshot with latest-wins semantics — the lakehouse ``MERGE INTO``
shape (upsert + delete) expressed as pure DataFrame ops so it runs on
plain parquet.

The change feed is derived deterministically from ``orders`` (every
3rd order updates its customer's balance, every 19th order key is a
delete, every 23rd lands on an unknown key to exercise inserts), so
both engines see the identical feed and the oracle can replay the
merge in SQL; all four merge paths are populated at sf0.01.

Scale posture: one window over the change feed keyed by the merge key
(picks the latest change per key — a keyed shuffle, never global), one
full-outer join against the snapshot on the same key. At 100 TB both
stages share the merge-key partitioning, and the snapshot side is the
natural bucketing candidate (see ``bucketed_join_segments``) so the
recurring nightly merge joins shuffle-free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources.batch import load_table
from .feeds import materialize_feed, scratch_dir
from .streaming import _run_available_now

_CDC_ORACLE = """
WITH changes AS (
    SELECT
        o_custkey + CASE WHEN o_orderkey % 23 = 0 THEN 1000000 ELSE 0 END
            AS c_custkey,
        o_orderkey AS seq,
        CASE WHEN o_orderkey % 19 = 0 THEN 'D' ELSE 'U' END AS op,
        o_totalprice AS new_bal
    FROM orders
    WHERE o_orderkey % 3 = 0
),
latest AS (
    SELECT c_custkey, op, new_bal FROM (
        SELECT *, row_number() OVER (PARTITION BY c_custkey
                                     ORDER BY seq DESC) AS rn
        FROM changes
    ) WHERE rn = 1
)
SELECT
    COALESCE(b.c_custkey, l.c_custkey) AS c_custkey,
    CASE WHEN l.op = 'U' THEN l.new_bal ELSE b.c_acctbal END AS c_acctbal,
    b.c_mktsegment,
    CASE
        WHEN l.c_custkey IS NULL THEN 'kept'
        WHEN b.c_custkey IS NULL THEN 'inserted'
        ELSE 'updated'
    END AS change_type
FROM customer b
FULL OUTER JOIN latest l ON b.c_custkey = l.c_custkey
WHERE COALESCE(l.op, 'U') <> 'D'
ORDER BY c_custkey
"""


def _latest_changes(changes: DataFrame) -> DataFrame:
    """Latest change per merge key (max seq wins). Associative under
    re-application: latest(latest(A) ∪ B) == latest(A ∪ B), which is
    what makes the streaming foreachBatch twin batch-boundary-proof."""
    w = Window.partitionBy("c_custkey").orderBy(F.desc("seq"))
    return (
        changes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_custkey", "seq", "op", "new_bal")
    )


def _apply_latest(base: DataFrame, latest: DataFrame) -> DataFrame:
    """Full-outer MERGE of the latest keyed changes into the snapshot:
    update / delete / insert / keep with an audit column."""
    b = base.alias("b")
    l = latest.alias("l")
    merged = b.join(
        l, F.col("b.c_custkey") == F.col("l.c_custkey"), "full_outer"
    )
    return (
        merged.filter(F.coalesce(F.col("l.op"), F.lit("U")) != "D")
        .select(
            F.coalesce(F.col("b.c_custkey"), F.col("l.c_custkey")).alias(
                "c_custkey"
            ),
            F.when(F.col("l.op") == "U", F.col("l.new_bal"))
            .otherwise(F.col("b.c_acctbal"))
            .alias("c_acctbal"),
            F.col("b.c_mktsegment").alias("c_mktsegment"),
            F.when(F.col("l.c_custkey").isNull(), F.lit("kept"))
            .when(F.col("b.c_custkey").isNull(), F.lit("inserted"))
            .otherwise(F.lit("updated"))
            .alias("change_type"),
        )
        .orderBy("c_custkey")
    )


def _change_feed(orders: DataFrame) -> DataFrame:
    """Deterministic keyed change feed derived from orders — every 3rd
    order updates its customer's balance, every 19th order key is a
    delete, every 23rd lands on an unknown key (insert path)."""
    return orders.filter(F.col("o_orderkey") % 3 == 0).select(
        (
            F.col("o_custkey")
            + F.when(F.col("o_orderkey") % 23 == 0, F.lit(1000000)).otherwise(
                F.lit(0)
            )
        ).alias("c_custkey"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 19 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("o_totalprice").alias("new_bal"),
    )


@query("cdc_upsert_latest", _CDC_ORACLE)
def cdc_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a keyed change feed to the customer snapshot, latest
    change per key winning: updates overwrite the balance, deletes
    drop the row, changes for unknown keys insert, untouched rows are
    kept. One merge-key window + one full-outer join — MERGE INTO
    without a table format. ``change_type`` makes the merge audit-able
    (and the oracle hash checks all four paths: kept / updated /
    inserted / delete-dropped)."""
    orders = load_table(spark, sf_dir, "orders")
    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    latest = _latest_changes(_change_feed(orders)).drop("seq")
    return _apply_latest(base, latest)


# --- streaming twin: foreachBatch snapshot maintenance ----------------------

def _change_feed_files(spark: SparkSession, sf_dir: str) -> str:
    """Change feed as JSON-lines files (8 files → several
    micro-batches under maxFilesPerTrigger), via the shared memoized
    feeder."""
    return materialize_feed(
        spark, sf_dir, "cdc",
        lambda s, d: _change_feed(load_table(s, d, "orders")),
    )


_CDC_STATE_BUCKETS = 16  # 256+ at production key cardinality


def _with_cdc_bucket(df: DataFrame) -> DataFrame:
    """Stable hash bucket of the merge key — the state table's
    partition column, so a micro-batch reads and rewrites only the
    buckets its keys land in (partition pruning on read, dynamic
    partition overwrite on write)."""
    return df.withColumn(
        "bucket",
        F.pmod(F.xxhash64("c_custkey"), F.lit(_CDC_STATE_BUCKETS)),
    )


def _merge_cdc_state(
    existing: DataFrame | None, part: DataFrame
) -> DataFrame:
    """latest(existing ∪ batch) restricted to the batch's buckets.
    latest() is associative AND idempotent under re-application, so
    the merged state is batch-boundary-proof and even a replayed
    commit (the marker-vs-commit crash window) cannot corrupt it."""
    base = part.drop("bucket")
    if existing is not None:
        base = existing.drop("bucket").unionByName(base)
    return _with_cdc_bucket(_latest_changes(base))


@query("streaming_cdc_upsert", _CDC_ORACLE)
def streaming_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC merge through the REAL streaming engine: the change
    feed replays as a file stream (2 files per micro-batch), and
    foreachBatch maintains a persistent latest-change-per-key state
    table — each batch's latest changes union-merge with the stored
    state and re-argmax by seq. Because latest() is associative
    (latest(latest(A) ∪ B) = latest(A ∪ B)), the final state is
    independent of batch boundaries, and applying it to the snapshot
    must hash-match the BATCH oracle exactly — streaming/batch MERGE
    duality proven in the driver gate itself.

    The state table is hash-bucket-partitioned on the merge key and
    maintained through ``merge_into_partitioned_state``: each
    micro-batch reads only the bucket partitions its keys touch and
    rewrites only those partitions (dynamic partition overwrite), so
    per-batch I/O is proportional to the BATCH's key set, not the
    key-cardinality-sized full state — the difference between a
    trigger that costs O(batch) and one that re-snapshots a 100 TB
    key space. Replayed batch ids (foreachBatch is at-least-once)
    skip via the applied-batch marker."""
    src = _change_feed_files(spark, sf_dir)
    state_dir = os.path.join(scratch_dir("cdc_state_"), "latest")
    schema = "c_custkey bigint, seq bigint, op string, new_bal double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2")
        .json(src)
    )

    from ..streaming.state import (
        merge_into_partitioned_state,
        read_state,
    )

    def merge_state(batch_df: DataFrame, batch_id: int) -> None:
        part = _with_cdc_bucket(_latest_changes(batch_df))
        merge_into_partitioned_state(
            state_dir, batch_id, part, _merge_cdc_state, "bucket",
            # local replay sizing (key-cardinality state, 16 buckets);
            # a production key space sizes both by state volume
            shuffle_partitions=8, write_partitions=1,
        )

    _run_available_now(stream, merge_state, "streaming_cdc_upsert")

    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    latest = read_state(spark, state_dir).drop("seq", "bucket")
    return _apply_latest(base, latest)


# --- SCD2 version build from the change feed --------------------------------

_SCD2_BUILD_ORACLE = """
WITH changes AS (
    SELECT
        o_custkey + CASE WHEN o_orderkey % 23 = 0 THEN 1000000 ELSE 0 END
            AS c_custkey,
        o_orderkey AS seq,
        CASE WHEN o_orderkey % 19 = 0 THEN 'D' ELSE 'U' END AS op,
        o_totalprice AS new_bal
    FROM orders
    WHERE o_orderkey % 3 = 0
)
SELECT
    c_custkey,
    seq AS effective_from,
    lead(seq) OVER w - 1 AS effective_to,
    (lead(seq) OVER w IS NULL) AS is_current,
    op,
    new_bal,
    row_number() OVER w AS version_n
FROM changes
WINDOW w AS (PARTITION BY c_custkey ORDER BY seq)
ORDER BY c_custkey, version_n
"""


@query("scd2_build_versions", _SCD2_BUILD_ORACLE)
def scd2_build_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUILD the slowly-changing-dimension history that
    `scd2_dimension_join` consumes: every change becomes a version row
    with [effective_from, effective_to] derived from the NEXT change's
    sequence (lead over the merge key) and an is_current flag on the
    open-ended tail. One key-partitioned window — the same shuffle the
    latest-wins merge uses, producing the full history instead of just
    the tip."""
    changes = _change_feed(load_table(spark, sf_dir, "orders"))
    w = Window.partitionBy("c_custkey").orderBy("seq")
    nxt = F.lead("seq").over(w)
    return changes.select(
        "c_custkey",
        F.col("seq").alias("effective_from"),
        (nxt - 1).alias("effective_to"),
        nxt.isNull().alias("is_current"),
        "op",
        "new_bal",
        F.row_number().over(w).alias("version_n"),
    ).orderBy("c_custkey", "version_n")


# --- streaming incremental materialized view (fact ⋈ dim) -------------------

_MATVIEW_ORACLE = """
WITH feed AS (
    SELECT o_orderkey, 1 AS rev, o_custkey, o_totalprice FROM orders
    UNION ALL
    -- 10% price correction in exact integer cents (cents*11 // 10),
    -- so both engines produce the identical double
    SELECT o_orderkey, 2 AS rev, o_custkey,
           CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) * 11 // 10
                AS DOUBLE) / 100 AS o_totalprice
    FROM orders WHERE o_orderkey % 5 = 0
),
latest AS (
    SELECT o_orderkey, rev, o_custkey, o_totalprice FROM (
        SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                     ORDER BY rev DESC) AS rn
        FROM feed
    ) WHERE rn = 1
)
SELECT l.o_orderkey,
       CAST(l.rev AS BIGINT) AS rev,
       l.o_totalprice,
       c.c_mktsegment,
       c.c_nationkey
FROM latest l JOIN customer c ON l.o_custkey = c.c_custkey
ORDER BY l.o_orderkey
"""

_MV_BUCKETS = 16


def _matview_revision_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order revision feed: every order arrives once at rev 1; every
    5th order later re-arrives at rev 2 with a 10% price correction."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    return orders.withColumn("rev", F.lit(1)).unionByName(
        orders.filter(F.col("o_orderkey") % 5 == 0).select(
            "o_orderkey",
            "o_custkey",
            (
                F.expr(
                    "CAST(round(o_totalprice * 100, 0) AS BIGINT)"
                    " * 11 div 10"
                ).cast("double")
                / 100
            ).alias("o_totalprice"),
        ).withColumn("rev", F.lit(2))
    )


def _matview_feed_files(spark: SparkSession, sf_dir: str) -> str:
    return materialize_feed(spark, sf_dir, "mv", _matview_revision_feed)


@query("streaming_matview_join", _MATVIEW_ORACLE)
def streaming_matview_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized view of ``orders ⋈ customer``
    maintained THROUGH the streaming engine: order revisions replay
    as a file stream, each foreachBatch enriches ONLY the batch's
    rows against the customer dimension (batch-sized probe of a
    broadcast-able dim — never a re-join of the full fact table) and
    merges them latest-revision-wins into a bucket-partitioned view
    (``merge_into_partitioned_state``: partition pruning on read,
    dynamic partition overwrite on write, batch-id replay markers).
    The final view must hash-match the from-scratch batch join —
    incremental view maintenance == recompute, proven in the driver
    gate. This is the third production shape on the shared state
    helper (CDC = argmax state, quantile = additive state, here the
    state IS a join view), and the one a 100 TB serving layer runs:
    per-trigger cost ∝ batch rows, view stays query-ready on disk."""
    from ..streaming.state import (
        merge_into_partitioned_state,
        read_state,
    )

    src = _matview_feed_files(spark, sf_dir)
    state_dir = os.path.join(scratch_dir("mv_state_"), "view")

    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    schema = (
        "o_orderkey bigint, o_custkey bigint, o_totalprice double, rev int"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2")
        .json(src)
    )

    def _merge_view(existing: DataFrame | None, part: DataFrame) -> DataFrame:
        base = part if existing is None else existing.unionByName(part)
        w = Window.partitionBy("o_orderkey").orderBy(F.desc("rev"))
        return (
            base.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    def merge_state(batch_df: DataFrame, batch_id: int) -> None:
        # enrich ONLY this batch's rows against the dimension, then
        # merge at the view grain
        enriched = (
            batch_df.join(F.broadcast(dim),
                          batch_df.o_custkey == dim.c_custkey)
            .select(
                "o_orderkey",
                "rev",
                "o_totalprice",
                "c_mktsegment",
                "c_nationkey",
            )
            .withColumn(
                "bucket",
                F.pmod(F.xxhash64("o_orderkey"), F.lit(_MV_BUCKETS)),
            )
        )
        merge_into_partitioned_state(
            state_dir, batch_id, enriched, _merge_view, "bucket",
            shuffle_partitions=8, write_partitions=1,
        )

    _run_available_now(stream, merge_state, "streaming_matview_join")

    return (
        read_state(spark, state_dir)
        .select(
            "o_orderkey",
            F.col("rev").cast("bigint").alias("rev"),
            "o_totalprice",
            "c_mktsegment",
            "c_nationkey",
        )
        .orderBy("o_orderkey")
    )


# --- retraction-aware incremental view maintenance ---------------------------
#
# The aggregate-view counterpart of streaming_cdc_upsert: instead of
# maintaining the keyed snapshot and aggregating at read time, the
# per-segment (count, sum) VIEW is maintained directly by RETRACTION
# deltas — when a key transitions, the old contribution is subtracted
# and the new one added, the Differential-Dataflow / Flink-retract
# discipline that keeps a continuously-served aggregate O(groups)
# instead of O(keys) to refresh. Two state tables: the keyed latest
# state (bucket-partitioned, supplies the OLD value each retraction
# needs) and the additive aggregate state (compact, segment-sized).
#
# Replay ordering contract: deltas are computed from the PRE-merge key
# state, so the aggregate state MUST commit before the key state —
# a crash between the two replays the batch, recomputes the identical
# deltas from the still-unmerged key state, skips the aggregate merge
# via its marker, and completes the key merge. The reverse order
# would recompute deltas from the post-merge key state and corrupt
# the aggregate on exactly-once replay.

_IVM_ORACLE = """
WITH changes AS (
    SELECT
        o_custkey + CASE WHEN o_orderkey % 23 = 0 THEN 1000000 ELSE 0 END
            AS c_custkey,
        o_orderkey AS seq,
        CASE WHEN o_orderkey % 19 = 0 THEN 'D' ELSE 'U' END AS op,
        o_totalprice AS new_bal
    FROM orders
    WHERE o_orderkey % 3 = 0
),
latest AS (
    SELECT c_custkey, op, new_bal FROM (
        SELECT *, row_number() OVER (PARTITION BY c_custkey
                                     ORDER BY seq DESC) AS rn
        FROM changes
    ) WHERE rn = 1
),
live AS (
    SELECT c_custkey,
           CAST(round(new_bal * 100, 0) AS BIGINT) AS cents
    FROM latest WHERE op = 'U'
),
seg AS (
    SELECT coalesce(c.c_mktsegment, 'NEW') AS segment, live.cents
    FROM live LEFT JOIN customer c ON c.c_custkey = live.c_custkey
)
SELECT segment,
       CAST(count(*) AS BIGINT) AS n_live,
       round(CAST(sum(cents) AS DOUBLE) / 100.0, 2) AS sum_bal
FROM seg
GROUP BY segment
ORDER BY segment
"""

_IVM_BUCKETS = 16


@query("streaming_ivm_agg", _IVM_ORACLE)
def streaming_ivm_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained aggregate view over the CDC feed with
    RETRACTIONS: per market segment, the live-key count and balance
    sum of the latest-wins merged feed, updated per micro-batch by
    (-old, +new) deltas instead of re-aggregating the key space.
    Every delta is computed against the pre-merge keyed state (which
    stores each key's segment and cents exactly once), stale
    out-of-order changes (batch seq <= stored seq) are no-ops, and
    the additive aggregate rides exact integer cents — so the served
    view hash-matches the batch latest-wins aggregate, proving the
    retraction algebra end-to-end through the real engine.

    100 TB posture: per trigger, the keyed state is READ pruned to the
    batch's hash buckets and merged via
    ``merge_into_partitioned_state`` (O(batch keys) I/O); the
    aggregate state is segment-sized compact state (one-job swap); the
    static dimension joins the BATCH's delta keys only, broadcast."""
    from ..streaming.state import (
        merge_into_compact_state,
        merge_into_partitioned_state,
        read_state,
    )

    src = _change_feed_files(spark, sf_dir)
    key_state = os.path.join(scratch_dir("ivm_keys_"), "state")
    agg_state = os.path.join(scratch_dir("ivm_agg_"), "state")

    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    schema = "c_custkey bigint, seq bigint, op string, new_bal double"
    # 8 feed files / 4 per trigger = 2 micro-batches: still multi-batch
    # (cross-batch retractions + the replay-ordering contract stay
    # exercised — the two-state crash-window pytest pins them
    # independently), but half the fixed per-trigger state-machinery
    # cost of the old 4-trigger run. Batch-boundary independence of
    # the merge means the served view (and its oracle hash) is
    # unchanged.
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "4")
        .json(src)
    )

    def _bucketed(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "bucket",
            F.pmod(F.xxhash64("c_custkey"), F.lit(_IVM_BUCKETS)),
        )

    def _merge_keys(existing: DataFrame | None, part: DataFrame) -> DataFrame:
        base_k = part.drop("bucket")
        if existing is not None:
            base_k = existing.drop("bucket").unionByName(base_k)
        w = Window.partitionBy("c_custkey").orderBy(F.desc("seq"))
        merged = (
            base_k.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        return _bucketed(merged)

    def _merge_agg(existing: DataFrame | None, part: DataFrame) -> DataFrame:
        if existing is None:
            return part
        return (
            existing.unionByName(part)
            .groupBy("segment")
            .agg(
                F.sum("dn").alias("dn"),
                F.sum("dcents").alias("dcents"),
            )
        )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        lb = _latest_changes(batch_df).withColumn(
            "cents", F.round(F.col("new_bal") * 100, 0).cast("bigint")
        )
        lb = (
            lb.join(F.broadcast(base), "c_custkey", "left")
            .select(
                "c_custkey",
                "seq",
                "op",
                "cents",
                F.coalesce("c_mktsegment", F.lit("NEW")).alias("segment"),
            )
            .localCheckpoint(eager=False)
        )
        buckets = [
            r[0] for r in _bucketed(lb).select("bucket").distinct().collect()
        ]
        cur = None
        if os.path.isdir(key_state) and any(
            not e.startswith(("_", ".")) for e in os.listdir(key_state)
        ):
            cur = (
                read_state(spark, key_state)
                .filter(F.col("bucket").isin(buckets))
                .select(
                    F.col("c_custkey").alias("s_key"),
                    F.col("seq").alias("s_seq"),
                    F.col("op").alias("s_op"),
                    F.col("cents").alias("s_cents"),
                    F.col("segment").alias("s_segment"),
                )
            )
        if cur is not None:
            j = lb.join(
                cur, F.col("c_custkey") == F.col("s_key"), "left"
            ).filter(
                F.col("s_seq").isNull() | (F.col("seq") > F.col("s_seq"))
            )
        else:
            j = (
                lb.withColumn("s_seq", F.lit(None).cast("bigint"))
                .withColumn("s_op", F.lit(None).cast("string"))
                .withColumn("s_cents", F.lit(None).cast("bigint"))
                .withColumn("s_segment", F.lit(None).cast("string"))
            )
        j = j.localCheckpoint(eager=False)
        retract = j.filter(F.col("s_op") == "U").select(
            F.col("s_segment").alias("segment"),
            F.lit(-1).cast("bigint").alias("dn"),
            (-F.col("s_cents")).alias("dcents"),
        )
        add = j.filter(F.col("op") == "U").select(
            F.col("segment"),
            F.lit(1).cast("bigint").alias("dn"),
            F.col("cents").alias("dcents"),
        )
        deltas = (
            retract.unionByName(add)
            .groupBy("segment")
            .agg(F.sum("dn").alias("dn"), F.sum("dcents").alias("dcents"))
        )
        # aggregate FIRST, keyed state second (see module note): a
        # replay after a crash between the two recomputes identical
        # deltas from the still-unmerged key state.
        merge_into_compact_state(
            agg_state, batch_id, deltas, _merge_agg, shuffle_partitions=4
        )
        part = _bucketed(
            j.select("c_custkey", "seq", "op", "cents", "segment")
        )
        merge_into_partitioned_state(
            key_state, batch_id, part, _merge_keys, "bucket",
            shuffle_partitions=8, write_partitions=1,
        )

    _run_available_now(stream, merge_batch, "streaming_ivm_agg")

    view = read_state(spark, agg_state)
    return (
        view.filter(F.col("dn") > 0)
        .select(
            "segment",
            F.col("dn").cast("bigint").alias("n_live"),
            F.round(F.col("dcents").cast("double") / 100.0, 2).alias(
                "sum_bal"
            ),
        )
        .orderBy("segment")
    )


# --- streaming SCD2 dimension maintenance ------------------------------------
#
# The eleventh persistent state shape: a VERSION-TABLE state. Where
# streaming_cdc_upsert keeps only each key's tip, this state stores
# the full SCD2 history — one row per (key, change) with materialized
# [effective_from, effective_to], is_current, and version_n — and
# each micro-batch re-derives the version chain for TOUCHED KEYS ONLY
# (bucket-pruned read; a key's whole history co-lives in its hash
# bucket, so the per-key lead/row_number window is complete inside
# the touched partitions). The serving read is a plain state scan: no
# window at query time — the continuously-maintained dimension a
# warehouse MERGE job rebuilds nightly, kept current per trigger.
#
# Replay safety: the merge REPLACES touched buckets with a value
# that is a pure function of the key's change set (union + dedup-free
# re-derive is idempotent), so the marker-vs-commit crash window
# cannot corrupt versions. Batch-boundary independence: the final
# state depends only on the union of all changes per key, so the
# served table hash-matches the BATCH window build — the same oracle
# string as scd2_build_versions, proven through the real engine.


@query("streaming_scd2_build", _SCD2_BUILD_ORACLE)
def streaming_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history maintained through the REAL streaming engine: the
    change feed replays as a file stream (2 micro-batches), and
    foreachBatch keeps a bucket-partitioned VERSION-TABLE state —
    touched keys' version chains (effective_from/effective_to/
    is_current/version_n) are re-derived per trigger from stored ∪
    batch changes; untouched buckets are never read or rewritten.
    Serving is a pure state scan that must hash-match the batch
    window build (`scd2_build_versions`) exactly."""
    from ..streaming.state import (
        merge_into_partitioned_state,
        read_state,
    )

    src = _change_feed_files(spark, sf_dir)
    state_dir = os.path.join(scratch_dir("scd2_state_"), "state")

    schema = "c_custkey bigint, seq bigint, op string, new_bal double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "4")
        .json(src)
    )

    _RAW = ["c_custkey", "seq", "op", "new_bal"]

    def _versioned(changes: DataFrame) -> DataFrame:
        w = Window.partitionBy("c_custkey").orderBy("seq")
        nxt = F.lead("seq").over(w)
        return changes.select(
            *_RAW,
            (nxt - 1).alias("effective_to"),
            nxt.isNull().alias("is_current"),
            F.row_number().over(w).alias("version_n"),
        )

    def _merge(existing: DataFrame | None, part: DataFrame) -> DataFrame:
        base = part.drop("bucket").select(*_RAW)
        if existing is not None:
            # strip derived columns: the version chain is re-derived
            # from the union, never incremented blindly (out-of-order
            # arrivals re-slot into the chain)
            base = existing.select(*_RAW).unionByName(base)
        return _with_cdc_bucket(_versioned(base))

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        part = _with_cdc_bucket(batch_df.select(*_RAW))
        merge_into_partitioned_state(
            state_dir, batch_id, part, _merge, "bucket",
            shuffle_partitions=8, write_partitions=1,
        )

    _run_available_now(stream, merge_batch, "streaming_scd2_build")

    return (
        read_state(spark, state_dir)
        .select(
            "c_custkey",
            F.col("seq").alias("effective_from"),
            "effective_to",
            "is_current",
            "op",
            "new_bal",
            F.col("version_n").cast("bigint").alias("version_n"),
        )
        .orderBy("c_custkey", "version_n")
    )

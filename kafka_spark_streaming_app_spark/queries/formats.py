"""Source/sink format breadth beyond parquet: ORC round-trip with
partition pruning, CSV ingestion with PERMISSIVE corrupt-record audit.

Both fixtures are derived deterministically from the parquet tables
(once per session, temp dirs), so the DuckDB oracle replicates the
round-trip's OBSERVABLE result from the registered views — the format
codecs themselves are what the Spark side exercises.

Float-to-string is never portable across engines, so every value that
crosses a text format travels as integer cents.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources.batch import load_table
from .feeds import materialize_feed, memo_dir, scratch_dir
from .streaming import _run_available_now, _run_to_table


# --- ORC round-trip with partition pruning -----------------------------------

_ORC_ORACLE = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS DOUBLE) / 100.0, 2) AS revenue
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("orc_roundtrip_agg", _ORC_ORACLE)
def orc_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC as a first-class batch format: orders written once per
    session as ORC partitioned by ``o_orderstatus`` (prices as exact
    integer cents — text/binary round-trips never carry raw doubles),
    read back through ``spark.read.orc`` with a partition filter, and
    aggregated. The oracle recomputes the same aggregate from the
    parquet view, so the hash proves the ORC writer+reader round-trip
    is lossless AND the status filter prunes to the right partition.

    100 TB posture: the partition filter resolves at file listing
    (only the ``o_orderstatus=F`` directory is read — asserted in
    tests/test_plans.py), ORC carries the same predicate-pushdown /
    column-pruning contract as parquet, and the aggregate is one
    partial+final pass over the pruned split set."""

    def build(d: str) -> None:
        (
            load_table(spark, sf_dir, "orders")
            .select(
                "o_orderkey",
                "o_orderstatus",
                "o_orderpriority",
                F.round(F.col("o_totalprice") * 100, 0)
                .cast("bigint")
                .alias("cents"),
            )
            .write.mode("overwrite")
            .partitionBy("o_orderstatus")
            .orc(d)
        )

    d = memo_dir(spark, sf_dir, "orc", build)
    return (
        spark.read.orc(d)
        .filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("cents").cast("double") / 100.0, 2).alias(
                "revenue"
            ),
        )
        .orderBy("o_orderpriority")
    )


# --- CSV ingestion with corrupt-record audit ---------------------------------

_CSV_ORACLE = """
WITH t AS (
    SELECT event_id, user_id, event_type,
           CASE WHEN value IS NOT NULL
                THEN CAST(round(value * 100, 0) AS BIGINT) END AS cents
    FROM events
),
flagged AS (
    SELECT *,
           (event_id % 97 = 0 AND cents IS NOT NULL) AS is_corrupt
    FROM t
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(coalesce(sum(CASE WHEN is_corrupt THEN 1 END), 0) AS BIGINT)
           AS n_corrupt,
       CAST(coalesce(sum(CASE WHEN NOT is_corrupt AND user_id IS NULL
                               THEN 1 END), 0) AS BIGINT) AS n_null_user,
       CAST(sum(CASE WHEN NOT is_corrupt THEN cents END) AS BIGINT)
           AS sum_good_cents
FROM flagged
"""


@query("csv_ingest_audit", _CSV_ORACLE)
def csv_ingest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingestion through the real Spark CSV reader in PERMISSIVE
    mode with a corrupt-record audit — the landing-zone pattern every
    pipeline needs before it trusts a text feed. The fixture renders
    events as CSV lines (values as integer cents; every 97th event's
    cents field is corrupted to a non-numeric token), the reader
    parses with an explicit schema + ``_corrupt_record``, and the
    audit counts rows / corrupt rows / null-key rows and sums the
    cleanly-parsed cents. The oracle reproduces the same audit from
    the parquet view, pinning the reader's PERMISSIVE semantics
    (malformed field → row lands in _corrupt_record, typed columns
    null) against an engine that never saw the CSV.

    100 TB posture: schema-explicit single-pass parse (no
    inferSchema scan), corrupt rows quarantined per-row instead of
    failing the job, and the audit is one partial+final aggregate."""

    def build(d: str) -> None:
        lines = load_table(spark, sf_dir, "events").select(
            F.concat_ws(
                ",",
                F.col("event_id").cast("string"),
                F.coalesce(F.col("user_id").cast("string"), F.lit("")),
                F.col("event_type"),
                F.when(
                    F.col("value").isNotNull(),
                    F.when(
                        F.col("event_id") % 97 == 0,
                        F.concat(
                            F.lit("x"),
                            F.round(F.col("value") * 100, 0)
                            .cast("bigint")
                            .cast("string"),
                        ),
                    ).otherwise(
                        F.round(F.col("value") * 100, 0)
                        .cast("bigint")
                        .cast("string")
                    ),
                ).otherwise(F.lit("")),
            ).alias("value")
        )
        lines.write.mode("overwrite").text(d)

    d = memo_dir(spark, sf_dir, "csv", build)
    parsed = (
        spark.read.schema(
            "event_id bigint, user_id bigint, event_type string, "
            "cents bigint, _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(d)
    )
    is_corrupt = F.col("_corrupt_record").isNotNull()
    return parsed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.coalesce(F.sum(F.when(is_corrupt, 1)), F.lit(0))
        .cast("bigint")
        .alias("n_corrupt"),
        F.coalesce(
            F.sum(F.when(~is_corrupt & F.col("user_id").isNull(), 1)),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_null_user"),
        F.sum(F.when(~is_corrupt, F.col("cents")))
        .cast("bigint")
        .alias("sum_good_cents"),
    )


# --- Avro object-container round-trip ---------------------------------------
# The Kafka ecosystem's record format, carried natively by the
# from-scratch codec in operators/avrocodec.py (the spark-avro jar is
# absent here — same gating note as the lakehouse connectors). The
# round-trip is fully distributed: each input partition serializes to
# one real container (deflate on odd-leading partitions), a second
# Python stage decodes against the schema EMBEDDED in each container,
# and the aggregate must hash-match the parquet-derived oracle —
# proving encode-decode losslessness, block framing, sync markers and
# codec handling end to end.
_AVRO_ORACLE = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS DOUBLE) / 100.0, 2) AS revenue
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

_AVRO_SCHEMA = {
    "type": "record",
    "name": "Order",
    "fields": [
        {"name": "k", "type": "long"},
        {"name": "status", "type": "string"},
        {"name": "prio", "type": "string"},
        {"name": "cents", "type": "long"},
    ],
}


@query("avro_roundtrip_agg", _AVRO_ORACLE)
def avro_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro as a first-class wire format: orders serialize per
    partition into REAL Avro object-container files (zigzag-varint
    longs, length-prefixed strings, file-metadata map with the JSON
    schema, 16-byte sync markers, raw-deflate blocks on half the
    containers), then a generic reader decodes against each
    container's EMBEDDED schema and the F-status aggregate must match
    the parquet oracle. Both codec stages are Arrow-batched
    mapInPandas over an explicit hash repartition, so serialization
    work scales with partitions; container sizes follow the Arrow
    batch size, the production knob for Kafka-sized payload chunks."""
    import hashlib as _hashlib

    import pandas as pd

    from ..operators.avrocodec import read_container, write_container

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias(
            "cents"
        ),
    )

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            recs = pdf.to_dict("records")
            first = int(pdf["k"].iloc[0])
            sync = _hashlib.md5(str(first).encode()).digest()
            codec = "deflate" if first % 2 else "null"
            yield pd.DataFrame(
                {
                    "container": [
                        write_container(
                            recs,
                            _AVRO_SCHEMA,
                            sync,
                            codec=codec,
                            records_per_block=500,
                        )
                    ],
                    "n_records": [len(recs)],
                }
            )

    containers = (
        orders.repartition(
            orders.sparkSession.sparkContext.defaultParallelism, "k"
        )
        .mapInPandas(encode, schema="container binary, n_records long")
    )

    def decode(batches):
        for pdf in batches:
            for blob, n in zip(pdf["container"], pdf["n_records"]):
                out = read_container(bytes(blob))
                if len(out["records"]) != int(n):
                    raise ValueError("container record count drifted")
                yield pd.DataFrame(out["records"])

    decoded = containers.mapInPandas(
        decode, schema="k long, status string, prio string, cents long"
    )
    return (
        decoded.filter(F.col("status") == "F")
        .groupBy(F.col("prio").alias("o_orderpriority"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("cents").cast("double") / 100.0, 2).alias(
                "revenue"
            ),
        )
        .orderBy("o_orderpriority")
    )


# --- parquet footer audit ----------------------------------------------------
# Metadata-only planning: the from-scratch Thrift-compact footer
# reader (operators/parquetmeta.py, differential-tested chunk-by-chunk
# against DuckDB's native parquet_metadata() in tests) walks each
# table's footer WITHOUT touching data pages and reports per-leaf
# value counts. The oracle derives the same counts from the table
# CONTENT, so a hash match proves the parse recovered every row
# group's per-chunk num_values and leaf names correctly. The flat
# tables are audited (embeddings' list column nests its leaf under
# list.element — the reader handles it, but the name mapping belongs
# to the physical layout, not the logical view the oracle sees).
_FOOTER_TABLES = (
    ("orders", ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                "o_orderdate", "o_orderpriority")),
    ("lineitem", ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                  "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                  "l_returnflag", "l_linestatus", "l_shipdate")),
    ("customer", ("c_custkey", "c_name", "c_nationkey", "c_acctbal",
                  "c_mktsegment")),
    ("documents", ("doc_id", "text", "lang", "source", "n_chars")),
    ("events", ("event_id", "ts", "user_id", "event_type", "value",
                "props")),
)

_FOOTER_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{t}' AS table_name, u.column_name,
       (SELECT CAST(count(*) AS BIGINT) FROM {t}) AS n_values
FROM (SELECT unnest([{", ".join("'" + c + "'" for c in cols)}])
      AS column_name) u"""
    for t, cols in _FOOTER_TABLES
) + "\nORDER BY table_name, column_name"


@query("parquet_footer_audit", _FOOTER_ORACLE)
def parquet_footer_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planner-side metadata audit: each task seeks to its parquet
    file's tail, parses the Thrift-compact footer from scratch, and
    emits per-leaf value counts summed over row groups — data pages
    are never read (the row-group pruning / scan-estimation access
    pattern at 100 TB). The audit also cross-checks footer-internal
    consistency (every leaf's total must equal the file's num_rows)
    and raises rather than emitting a row that merely looks right."""
    import pandas as pd

    from ..operators.parquetmeta import read_parquet_footer_from_path

    paths = spark.createDataFrame(
        [(t, os.path.join(sf_dir, f"{t}.parquet"))
         for t, _ in _FOOTER_TABLES],
        "table_name string, path string",
    ).repartition(len(_FOOTER_TABLES))

    def audit(batches):
        for pdf in batches:
            rows = []
            for t, path in zip(pdf["table_name"], pdf["path"]):
                meta = read_parquet_footer_from_path(path)
                totals: dict = {}
                for rg in meta["row_groups"]:
                    for c in rg["columns"]:
                        totals[c["path"]] = (
                            totals.get(c["path"], 0) + c["num_values"]
                        )
                for col, n in totals.items():
                    if n != meta["num_rows"]:
                        raise ValueError(
                            f"{t}.{col}: footer num_values {n} != "
                            f"num_rows {meta['num_rows']}"
                        )
                    rows.append(
                        {"table_name": t, "column_name": col, "n_values": n}
                    )
            yield pd.DataFrame(
                rows, columns=["table_name", "column_name", "n_values"]
            )

    return (
        paths.mapInPandas(
            audit, schema="table_name string, column_name string, "
                          "n_values long"
        )
        .orderBy("table_name", "column_name")
    )


# --- Delta transaction-log replay read ---------------------------------------
# The delta-spark jar is absent, but a Delta TABLE is just parquet
# files plus the JSON/checkpoint transaction log — and the LOG, not
# the directory listing, defines the table (tombstoned files stay on
# disk until vacuum). sources/deltalog.py implements the snapshot
# contract from the public protocol spec; the fixture builds a real
# multi-version table whose history includes a COMPACTION
# (add + remove of the same rows) and a parquet checkpoint, so a
# reader that listed *.parquet naively would double-count the F rows
# and hash-mismatch.
_DELTA_ORACLE = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS DOUBLE) / 100.0, 2) AS revenue
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@query("delta_log_replay_read", _DELTA_ORACLE)
def delta_log_replay_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta Lake WITHOUT the connector jar: the snapshot is built by
    replaying the real transaction log (versioned JSON commits, a
    compaction whose remove tombstones a still-on-disk file, a
    parquet checkpoint named by _last_checkpoint) and only the live
    file set reaches spark.read.parquet — Catalyst then plans the
    scan like any parquet relation (pushdown/pruning intact). The
    aggregate must hash-match the source table, which fails if replay
    double-counts the compacted file, misses the checkpoint handoff,
    or drops a version. Time travel (version pin) and
    checkpoint-after-log-truncation are pinned in
    tests/test_deltalog.py."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..sources.deltalog import (
        DeltaCommitter,
        read_delta_snapshot,
        tombstone,
        write_checkpoint,
    )

    def build(d: str) -> None:
        pdf = pd.read_parquet(os.path.join(sf_dir, "orders.parquet"))[
            ["o_orderkey", "o_orderstatus", "o_orderpriority",
             "o_totalprice"]
        ]
        pdf["cents"] = (
            (pdf["o_totalprice"] * 100).round(0).astype("int64")
        )
        pdf = pdf.drop(columns=["o_totalprice"])
        recs = {
            s: g.to_dict("records")
            for s, g in pdf.groupby("o_orderstatus")
        }
        statuses = sorted(recs)
        committer = DeltaCommitter(d, _ORDERS_FIELDS)

        def commit(name, rows, removed=()):
            pq.write_table(pa.Table.from_pylist(rows), os.path.join(d, name))
            committer.commit(
                None, committer.add_entries(spark, [name]),
                [tombstone(p) for p in removed],
            )

        first, rest = statuses[0], statuses[1:]
        commit("part-f0.parquet", recs[first])
        # compaction: rewrite the same rows, tombstone the original —
        # part-f0.parquet stays on disk
        commit("part-f1.parquet", recs[first], removed=["part-f0.parquet"])
        write_checkpoint(d)
        for i, s in enumerate(rest):
            commit(f"part-x{i}.parquet", recs[s])

    d = memo_dir(spark, sf_dir, "delta", build)
    df = read_delta_snapshot(spark, d)
    return (
        df.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("cents").cast("double") / 100.0, 2).alias(
                "revenue"
            ),
        )
        .orderBy("o_orderstatus")
    )


# --- Iceberg metadata-tree read ---------------------------------------------
# The Iceberg twin of delta_log_replay_read: hint -> metadata JSON ->
# snapshot -> Avro manifest list -> Avro manifests -> live parquet
# files, with the Avro layer carried by the engine's own
# object-container codec. The fixture's second snapshot REWRITES the
# first file (DELETED entry + replacement), so a reader that unions
# every manifest entry regardless of status double-counts and fails
# the hash.
_ICEBERG_ORACLE = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS DOUBLE) / 100.0, 2) AS revenue
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("iceberg_metadata_read", _ICEBERG_ORACLE)
def iceberg_metadata_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg WITHOUT the runtime jar: the live data-file set comes
    from resolving the real metadata tree — version-hint.text,
    versioned metadata JSON, an Avro MANIFEST LIST per snapshot and
    Avro MANIFESTS whose entries carry EXISTING/ADDED/DELETED status
    (all Avro read/written by operators/avrocodec.py) — and only live
    files reach spark.read.parquet. Snapshot pinning (time travel)
    and the rewrite semantics are pinned in tests/test_iceberglog.py."""
    import pandas as pd

    from ..sources.iceberglog import (
        IcebergFixtureWriter,
        STATUS_ADDED,
        STATUS_DELETED,
        read_iceberg_snapshot,
    )

    def build(d: str) -> None:
        pdf = pd.read_parquet(os.path.join(sf_dir, "orders.parquet"))[
            ["o_orderkey", "o_orderpriority", "o_totalprice"]
        ]
        pdf["cents"] = (
            (pdf["o_totalprice"] * 100).round(0).astype("int64")
        )
        pdf = pdf.drop(columns=["o_totalprice"])
        recs = {
            p: g.to_dict("records")
            for p, g in pdf.groupby("o_orderpriority")
        }
        prios = sorted(recs)
        w = IcebergFixtureWriter(
            d,
            [("o_orderkey", "long"), ("o_orderpriority", "string"),
             ("cents", "long")],
        )
        f0 = w.write_data_file("d0.parquet", recs[prios[0]])
        w.commit_snapshot([(STATUS_ADDED, f0)])
        # rewrite snapshot: d0 deleted, d0r + the remaining priorities
        f0r = w.write_data_file("d0r.parquet", recs[prios[0]])
        rest = [
            w.write_data_file(f"d{i + 1}.parquet", recs[p])
            for i, p in enumerate(prios[1:])
        ]
        w.commit_snapshot(
            [(STATUS_DELETED, f0), (STATUS_ADDED, f0r)]
            + [(STATUS_ADDED, df) for df in rest]
        )

    d = memo_dir(spark, sf_dir, "iceberg", build)
    df = read_iceberg_snapshot(spark, d)
    return (
        df.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("cents").cast("double") / 100.0, 2).alias(
                "revenue"
            ),
        )
        .orderBy("o_orderpriority")
    )


# --- streaming Delta sink ----------------------------------------------------
# Structured Streaming -> Delta without the jar: foreachBatch commits
# every micro-batch as a REAL transaction (data files + one JSON commit
# through sources/deltalog.DeltaCommitter),
# odd batches additionally compact their predecessor (add + remove in
# one commit), and at-least-once replays are deduplicated by the txn
# action exactly as the real Delta sink does (appId + batch version
# checked before committing). The final table is read back through
# the log replay, so the oracle hash proves batch framing, txn
# idempotency, tombstone semantics and replay all at once.
_DELTA_STREAM_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
FROM orders
GROUP BY o_orderstatus, o_orderpriority
ORDER BY o_orderstatus, o_orderpriority
"""

_ORDERS_FIELDS = (
    ("o_orderkey", "long"),
    ("o_orderstatus", "string"),
    ("o_orderpriority", "string"),
    ("cents", "long"),
)


def _compact(spark: SparkSession, paths: list, out_dir: str) -> None:
    """Rewrite ``paths`` as one file under ``out_dir``. Compaction is a
    distributed read->coalesce->write too: the driver only renames log
    state, never holds rows."""
    (
        spark.read.parquet(*paths)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(out_dir)
    )


def _delta_stream_commit(
    table_dir: str, batch_df: DataFrame, batch_id: int,
    checkpoint_interval: int = 10, partition_by: tuple = (),
    fields: tuple = _ORDERS_FIELDS,
) -> int | None:
    """One streaming micro-batch -> one (or, for odd batches, one
    compacting) Delta commit through ``DeltaCommitter``, idempotent
    under foreachBatch replay via the txn action. Returns the new
    version, or None for a replay.

    The micro-batch DATA never touches the driver: a distributed
    ``batch_df.write.parquet`` job lands the files, and the driver
    then lists what the job produced and writes only the O(KB)
    commit JSON (one ``add`` per part file) — the real Delta sink's
    division of labor, so a tens-of-GB batch on a 1000-executor
    cluster commits without driver materialization."""
    from ..sources.deltalog import DeltaCommitter, tombstone
    from ..sources.lakehouse import part_files

    committer = DeltaCommitter(
        table_dir, fields, partition_by, checkpoint_interval
    )
    if committer.committed_batch_id() >= batch_id:  # txn replay check
        return None
    spark = batch_df.sparkSession
    batch_rel = f"batch-{batch_id:05d}"
    # distributed data write; overwrite makes a crashed half-written
    # attempt of this same batch cleanly replaced on replay (files
    # outside the log are invisible to readers regardless)
    writer = batch_df.write.mode("overwrite")
    if partition_by:
        # real Delta layout: hive partition dirs at the TABLE ROOT
        # (readers basePath the table dir; a per-batch subdir would
        # read as conflicting partition roots). The job stages into a
        # _staging dir (underscore: invisible to Spark listings),
        # then the driver RENAMES each part file into its partition
        # dir — O(files) metadata ops, never data; an object-store
        # writer lands executor output on the final paths directly.
        staging = os.path.join(table_dir, f"_staging-{batch_rel}")
        writer.partitionBy(*partition_by).parquet(staging)
        rels = []
        for root, _, fs in os.walk(staging):
            for f in sorted(fs):
                if not f.endswith(".parquet"):
                    continue
                part_dir = os.path.relpath(root, staging)
                os.makedirs(
                    os.path.join(table_dir, part_dir), exist_ok=True
                )
                final = os.path.join(part_dir, f"b{batch_id:05d}-{f}")
                os.replace(
                    os.path.join(root, f),
                    os.path.join(table_dir, final),
                )
                rels.append(final)
        import shutil as _shutil

        _shutil.rmtree(staging, ignore_errors=True)
    else:
        writer.parquet(os.path.join(table_dir, batch_rel))
        rels = part_files(table_dir, batch_rel)
    added = committer.add_entries(spark, rels)
    removed = []
    # compaction stays in the unpartitioned sink (per-partition-dir
    # compaction is the identical shape, one directory deeper)
    if batch_id % 2 == 1 and not partition_by:
        prev_rel = f"batch-{batch_id - 1:05d}"
        if os.path.isdir(os.path.join(table_dir, prev_rel)):
            prev_files = part_files(table_dir, prev_rel)
            rewritten = f"{prev_rel}-compacted"
            _compact(
                spark,
                [os.path.join(table_dir, p) for p in prev_files],
                os.path.join(table_dir, rewritten),
            )
            removed = [tombstone(p, data_change=False) for p in prev_files]
            added += committer.add_entries(
                spark, part_files(table_dir, rewritten), data_change=False
            )
    return committer.commit(batch_id, added, removed)


_ORDERS_FEED_SCHEMA = (
    "o_orderkey bigint, o_orderstatus string, "
    "o_orderpriority string, cents bigint"
)


def _orders_json_feed(spark: SparkSession, sf_dir: str) -> str:
    """Shared orders JSON feed for the lakehouse sinks — one
    materialization per (session, sf_dir), every sink replays the
    same files."""
    return materialize_feed(
        spark, sf_dir, "orders",
        lambda s, d: load_table(s, d, "orders").select(
            "o_orderkey",
            "o_orderstatus",
            "o_orderpriority",
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("bigint")
            .alias("cents"),
        ),
    )


def _orders_feed_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(_ORDERS_FEED_SCHEMA)
        .option("maxFilesPerTrigger", "2")
        .json(_orders_json_feed(spark, sf_dir))
    )


@query("streaming_delta_sink", _DELTA_STREAM_ORACLE)
def streaming_delta_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-into-lakehouse: the orders feed replays as a file
    stream (2 files per trigger), foreachBatch commits each
    micro-batch as a real Delta transaction — txn action for
    at-least-once dedup, odd batches compacting their predecessor
    (remove + rewritten add, tombstone left on disk) — and the final
    aggregate reads the table back through the transaction-log
    replay. The micro-batch data path is fully executor-side
    (distributed parquet write, per-file add actions); the driver
    writes only the O(KB) commit JSON after an O(log) replay scan —
    the log, not the directory, defines what the readback sees."""
    table_dir = _run_delta_sink_stream(spark, sf_dir, scratch_dir("delta_sink_"))

    from ..sources.deltalog import read_delta_snapshot

    return _orders_sink_agg(read_delta_snapshot(spark, table_dir))


def _run_delta_sink_stream(
    spark: SparkSession, sf_dir: str, table_dir: str,
    partition_by: tuple = (),
) -> str:
    """Drive the orders feed through the foreachBatch Delta sink
    (availableNow) into ``table_dir``; returns the table dir."""
    stream = _orders_feed_stream(spark, sf_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # interval 2 (vs Delta's default 10) so the sf0.01 oracle run
        # actually transits the checkpoint handoff: the readback
        # starts from a sink-written checkpoint plus tail commits
        _delta_stream_commit(
            table_dir, batch_df, batch_id, checkpoint_interval=2,
            partition_by=partition_by,
        )

    _run_available_now(stream, sink, "delta sink")
    return table_dir


def _orders_sink_agg(df: DataFrame) -> DataFrame:
    return (
        df.groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
        .orderBy("o_orderstatus", "o_orderpriority")
    )


def _partitioned_orders_table(spark: SparkSession, sf_dir: str) -> str:
    """The PARTITIONED Delta sink's table, built once per session —
    shared by the read-only partitioned queries (the maintenance
    queries build their own tables because they mutate them)."""
    return memo_dir(
        spark, sf_dir, "delta_part_table",
        lambda d: _run_delta_sink_stream(
            spark, sf_dir, d, partition_by=("o_orderstatus",)
        ),
    )


@query("streaming_delta_sink_partitioned", _DELTA_STREAM_ORACLE)
def streaming_delta_sink_partitioned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The Delta sink on a HIVE-PARTITIONED table: micro-batches land
    with ``partitionBy(o_orderstatus)``, every add action carries its
    partitionValues (parsed from the hive path), metaData declares
    partitionColumns, and checkpoints ride the partitionValues map.
    Readback recovers the partition column from directory names via
    basePath — data files do not store it — so the oracle hash proves
    the full partitioned-write contract end to end."""
    from ..sources.deltalog import read_delta_snapshot

    table_dir = _partitioned_orders_table(spark, sf_dir)
    return _orders_sink_agg(read_delta_snapshot(spark, table_dir))


_DELTA_PRUNED_ORACLE = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("delta_partition_pruned_read", _DELTA_PRUNED_ORACLE)
def delta_partition_pruned_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LOG-LEVEL partition pruning: the o_orderstatus='F' filter is
    applied to the transaction log's partitionValues BEFORE Spark
    ever lists a path — the file list itself shrinks to the F
    partition (asserted in tests via inputFiles), which is the
    pruning that matters at 100 TB where even listing every
    partition's files is too expensive. The oracle recomputes the
    same aggregate with a WHERE clause, so the hash also proves the
    pruned set is exactly complete — one extra or missing file
    breaks it."""
    from ..sources.deltalog import read_delta_snapshot

    table_dir = _partitioned_orders_table(spark, sf_dir)
    df = read_delta_snapshot(
        spark, table_dir, partition_filter={"o_orderstatus": "F"}
    )
    return (
        df.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
        .orderBy("o_orderpriority")
    )


@query("delta_maintenance_roundtrip", _DELTA_STREAM_ORACLE)
def delta_maintenance_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full lakehouse MAINTENANCE cycle hash-proven lossless:
    stream-sink the orders feed, then checkpoint -> cleanup_log
    (drop every commit the checkpoint covers) -> VACUUM (physically
    delete the compaction tombstones) -> read the snapshot back
    through the replay. The oracle hash matches only if checkpoint
    write-out, log retention, and vacuum's live-set computation are
    all exactly right — deleting one live file or keeping one
    tombstone in the live set breaks it.

    Scale posture: checkpoint is O(live files) metadata, cleanup is
    O(commits), vacuum is one directory walk against a hash set —
    all driver-side METADATA work; no data moves at any size."""
    from ..sources.deltalog import (
        cleanup_log,
        read_delta_snapshot,
        vacuum,
        write_checkpoint,
    )

    table_dir = _run_delta_sink_stream(spark, sf_dir, scratch_dir("delta_sink_"))
    write_checkpoint(table_dir)
    cleanup_log(table_dir)
    vacuum(table_dir, keep_versions=1)
    return _orders_sink_agg(read_delta_snapshot(spark, table_dir))


# --- streaming Iceberg sink ---------------------------------------------------
# The Delta sink's twin on the Iceberg metadata tree: foreachBatch
# commits each micro-batch as a real snapshot (manifest + manifest
# list + vN.metadata.json + version-hint bump) via the engine's own
# Avro encoder, reusing sources/iceberglog.py's structures in
# reverse. Odd batches compact their predecessor: the superseded
# manifest is dropped from the list, the removed parquet stays on
# disk as DELETED-entry tombstones — naive directory listing
# double-counts by construction; only the metadata tree is truth.

_ICEBERG_SINK_FIELDS = list(_ORDERS_FIELDS)  # same names and types


def _iceberg_partition_col(df: DataFrame, sf: dict):
    """Spark column computing a spec field's partition value —
    identity and truncate stay in Catalyst expressions (JVM-side,
    codegen); bucket is a vectorized pandas batch over the public
    Murmur3 for BOTH long and string sources (the string path hashes
    the whole batch as masked uint32 sweeps; only the cheap utf-8
    encode remains per-element)."""
    source, transform = sf["source"], sf["transform"]
    col = F.col(source)
    if transform == "identity":
        return col
    dtype = dict(df.dtypes)[source]
    if transform.startswith("truncate["):
        w = int(transform[9:-1])
        if dtype == "string":
            return F.substring(col, 1, w)
        return (col - F.pmod(col, F.lit(w))).cast("long")
    if transform.startswith("bucket["):
        n = int(transform[7:-1])
        from pyspark.sql.functions import pandas_udf

        if dtype in ("bigint", "int", "smallint", "tinyint"):
            @pandas_udf("int")
            def _bucket_long(s):
                import pandas as pd

                from ..sources.iceberglog import bucket_long_array

                mask = s.isna().to_numpy()
                vals = s.fillna(0).astype("int64").to_numpy()
                out = pd.Series(
                    bucket_long_array(vals, n), dtype="Int32"
                )
                out[mask] = pd.NA
                return out

            return _bucket_long(col.cast("long"))
        if dtype == "string":
            @pandas_udf("int")
            def _bucket_str(s):
                import pandas as pd

                from ..sources.iceberglog import bucket_str_array

                mask = s.isna().to_numpy()
                enc = [
                    b"" if v is None else v.encode("utf-8")
                    for v in s
                ]
                out = pd.Series(
                    bucket_str_array(enc, n), dtype="Int32"
                )
                out[mask] = pd.NA
                return out

            return _bucket_str(col)
    raise NotImplementedError(
        f"partition transform {transform!r} on {dtype} is outside "
        "the sink subset (identity/truncate/bucket on long+string)"
    )


def _iceberg_stream_commit(
    committer, table_dir: str, batch_df: DataFrame, batch_id: int,
    partition_by: tuple = (),
) -> None:
    """One micro-batch -> one Iceberg snapshot, idempotent under
    foreachBatch replay via the batch id in the snapshot summary.
    Micro-batch DATA is a distributed parquet write; the driver
    reads only parquet FOOTERS (record counts for the manifest) and
    writes the O(KB) metadata — the Delta sink's division of labor.

    Partitioned commits are a SINGLE fanout write job: Iceberg data
    files KEEP their partition columns, so the job partitions by
    DERIVED ``__part_*`` columns (identity copy, or the transform —
    truncate in pure Catalyst expressions, bucket via a vectorized
    Murmur3 pandas batch) which ``partitionBy`` consumes into the
    directory layout while the original columns stay in the files.
    The driver then maps each part file's path segments back to its
    partition struct for the manifest entries — O(files) metadata, no
    per-partition-value jobs (the round-10 shape ran one Spark job
    per value: a job-count scale-killer at 1000-value columns)."""
    from ..sources.lakehouse import part_files, partition_values_from_path

    if committer.committed_batch_id() >= batch_id:
        return
    data_dir = os.path.join(table_dir, "data")

    def _parts(rel: str) -> list:
        return [os.path.join(data_dir, p) for p in part_files(data_dir, rel)]

    batch_rel = f"batch-{batch_id:05d}"
    if partition_by:
        staged = batch_df
        part_cols = []
        for sf in committer.spec_fields:
            c = f"__part_{sf['name']}"
            staged = staged.withColumn(
                c, _iceberg_partition_col(batch_df, sf)
            )
            part_cols.append(c)
        (
            staged.write.mode("overwrite")
            .partitionBy(*part_cols)
            .parquet(os.path.join(data_dir, batch_rel))
        )
        added = [
            committer.data_file_entry(
                os.path.join(data_dir, rel),
                partition={
                    k[len("__part_"):]: v
                    for k, v in partition_values_from_path(
                        rel, part_cols
                    ).items()
                },
            )
            for rel in part_files(data_dir, batch_rel)
        ]
        committer.commit(batch_id, added)
        return
    batch_df.write.mode("overwrite").parquet(
        os.path.join(data_dir, batch_rel)
    )
    added = [committer.data_file_entry(p) for p in _parts(batch_rel)]
    removed = []
    drop = ()
    if batch_id % 2 == 1:
        prev_rel = f"batch-{batch_id - 1:05d}"
        if os.path.isdir(os.path.join(data_dir, prev_rel)):
            prev_files = _parts(prev_rel)
            compact_rel = f"{prev_rel}-compacted"
            _compact(
                batch_df.sparkSession, prev_files,
                os.path.join(data_dir, compact_rel),
            )
            added += [
                committer.data_file_entry(p) for p in _parts(compact_rel)
            ]
            removed = [committer.data_file_entry(p) for p in prev_files]
            drop = (
                os.path.join(
                    table_dir, "metadata",
                    f"manifest-b{batch_id - 1:05d}.avro",
                ),
            )
    committer.commit(batch_id, added, removed, drop)


@query("streaming_iceberg_sink", _DELTA_STREAM_ORACLE)
def streaming_iceberg_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming into an Iceberg table without the runtime jar: the
    shared orders feed replays 2 files per trigger, every micro-batch
    commits a real snapshot (Avro manifest + manifest list + metadata
    JSON, summary-keyed idempotence), odd batches compact their
    predecessor leaving tombstone decoys, and the final aggregate
    reads the table back through the metadata-tree replay
    (sources/iceberglog.py) — so the oracle hash proves snapshot
    framing, manifest carry-forward, DELETED-entry semantics, and
    replay idempotence at once."""
    from ..sources.iceberglog import read_iceberg_snapshot

    table_dir = _run_iceberg_sink_stream(
        spark, sf_dir, scratch_dir("iceberg_sink_")
    )
    return _orders_sink_agg(read_iceberg_snapshot(spark, table_dir))


def _run_iceberg_sink_stream(
    spark: SparkSession, sf_dir: str, table_dir: str,
    partition_by: tuple = (),
) -> str:
    """Drive the orders feed through the foreachBatch Iceberg sink
    (availableNow) into ``table_dir``; returns the table dir."""
    from ..sources.iceberglog import IcebergCommitter

    committer = IcebergCommitter(
        table_dir, _ICEBERG_SINK_FIELDS, partition_by
    )
    stream = _orders_feed_stream(spark, sf_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _iceberg_stream_commit(
            committer, table_dir, batch_df, batch_id, partition_by
        )

    _run_available_now(stream, sink, "iceberg sink")
    return table_dir


def _partitioned_orders_iceberg(spark: SparkSession, sf_dir: str) -> str:
    return memo_dir(
        spark, sf_dir, "iceberg_part_table",
        lambda d: _run_iceberg_sink_stream(
            spark, sf_dir, d, partition_by=("o_orderstatus",)
        ),
    )


@query("streaming_iceberg_sink_partitioned", _DELTA_STREAM_ORACLE)
def streaming_iceberg_sink_partitioned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The Iceberg sink on an identity-partitioned table: every
    manifest entry carries its partition struct, the metadata
    declares the identity spec, and — unlike hive layout — the data
    files keep their partition columns, so readback is the pruned (or
    full) file list under the one table schema."""
    from ..sources.iceberglog import read_iceberg_snapshot

    table_dir = _partitioned_orders_iceberg(spark, sf_dir)
    return _orders_sink_agg(read_iceberg_snapshot(spark, table_dir))


@query("iceberg_partition_pruned_read", _DELTA_PRUNED_ORACLE)
def iceberg_partition_pruned_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MANIFEST-LEVEL partition pruning: the o_orderstatus='F' filter
    is evaluated against each manifest entry's partition struct, so
    the file list shrinks before Spark lists a path — Iceberg's
    defining scan-planning property. The oracle recomputes the same
    aggregate with a WHERE clause; one extra or missing file breaks
    the hash."""
    from ..sources.iceberglog import read_iceberg_snapshot

    table_dir = _partitioned_orders_iceberg(spark, sf_dir)
    df = read_iceberg_snapshot(
        spark, table_dir, partition_filter={"o_orderstatus": "F"}
    )
    return (
        df.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
        .orderBy("o_orderpriority")
    )


@query("iceberg_maintenance_roundtrip", _DELTA_STREAM_ORACLE)
def iceberg_maintenance_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """expire_snapshots hash-proven lossless: stream-sink the orders
    feed (snapshots with carried-forward manifests + compaction
    tombstones), expire everything but the newest snapshot (deleting
    the manifest lists, superseded manifests, and every data file
    not live in the retained snapshot), then read back through the
    metadata replay. Deleting one live file — or treating a
    carried-forward manifest as expired-only — breaks the hash.

    Scale posture: reachability walks manifests (metadata-sized);
    data files are only ever unlinked, never read."""
    from ..sources.iceberglog import (
        expire_snapshots,
        read_iceberg_snapshot,
    )

    table_dir = _run_iceberg_sink_stream(
        spark, sf_dir, scratch_dir("iceberg_sink_")
    )
    expire_snapshots(table_dir, keep=1)
    return _orders_sink_agg(read_iceberg_snapshot(spark, table_dir))


# --- production-shape partitioning: multi-column + transforms -----------------

_TRANSFORM_SPEC = (
    "o_orderstatus",                      # identity
    ("o_orderpriority", "truncate[1]"),   # Catalyst substring
    ("o_orderkey", "bucket[4]"),          # vectorized Murmur3
)


def _multipart_orders_delta(spark: SparkSession, sf_dir: str) -> str:
    return memo_dir(
        spark, sf_dir, "delta_multipart_table",
        lambda d: _run_delta_sink_stream(
            spark, sf_dir, d,
            partition_by=("o_orderstatus", "o_orderpriority"),
        ),
    )


def _transform_orders_iceberg(spark: SparkSession, sf_dir: str) -> str:
    return memo_dir(
        spark, sf_dir, "iceberg_transform_table",
        lambda d: _run_iceberg_sink_stream(
            spark, sf_dir, d, partition_by=_TRANSFORM_SPEC
        ),
    )


@query("streaming_delta_sink_multipart", _DELTA_STREAM_ORACLE)
def streaming_delta_sink_multipart(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The Delta sink on a MULTI-COLUMN hive-partitioned table
    (status × priority — two nested directory levels): every add
    action carries both partitionValues parsed from its path, and
    readback recovers both columns via basePath in metaData schema
    order. Partition count here is |status|×|priority| = 15 — the
    shape that, at a 1000×1000-value table, only works because the
    commit is ONE fanout write and pruning happens in the log."""
    from ..sources.deltalog import read_delta_snapshot

    table_dir = _multipart_orders_delta(spark, sf_dir)
    return _orders_sink_agg(read_delta_snapshot(spark, table_dir))


def _v2_checkpoint_orders_delta(spark: SparkSession, sf_dir: str) -> str:
    """An unpartitioned Delta table checkpointed in the V2 LAYOUT
    (UUID-named manifest + two _sidecars/ file-action parquets) with
    the pre-checkpoint commits retention-cleaned — the replay must
    start from the manifest, splice both sidecars, and still apply a
    post-checkpoint append."""
    from ..sources.deltalog import cleanup_log, write_checkpoint

    def build(d: str) -> None:
        base = _clustered_orders_batch(spark, sf_dir)
        _delta_stream_commit(
            d, base.filter(F.col("o_orderkey") % 2 == 0), 0
        )
        _delta_stream_commit(
            d, base.filter(F.col("o_orderkey") % 2 == 1), 2
        )
        write_checkpoint(d, parts=2, v2=True)
        cleanup_log(d)

    return memo_dir(spark, sf_dir, "delta_v2cp_table", build)


@query("delta_v2_checkpoint_read", _DELTA_STREAM_ORACLE)
def delta_v2_checkpoint_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delta V2 (sidecar) checkpoints — the layout modern writers
    emit for very large tables: the reader discovers the UUID-named
    ``NNNN.checkpoint.<id>.parquet`` manifest by listing, splices the
    ``sidecar`` actions' file-action parquets from
    ``_delta_log/_sidecars/`` into the replay, and reconstructs the
    snapshot after log retention removed every JSON commit. The
    oracle hash proves no row is lost or doubled across the
    manifest/sidecar split."""
    from ..sources.deltalog import read_delta_snapshot

    table_dir = _v2_checkpoint_orders_delta(spark, sf_dir)
    return _orders_sink_agg(read_delta_snapshot(spark, table_dir))


_DELTA_COMPOUND_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
FROM orders
WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'
"""


@query("delta_compound_pruned_read", _DELTA_COMPOUND_ORACLE)
def delta_compound_pruned_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COMPOUND log-level pruning on the multi-column table: the
    {status='F', priority='1-URGENT'} filter intersects both
    partitionValues in the transaction log, shrinking the file list
    to one (status, priority) cell before Spark lists anything — at
    100 TB a compound partition predicate must multiply its
    selectivities in METADATA, not scan one level and filter the
    other. The oracle recomputes the cell with a WHERE clause."""
    from ..sources.deltalog import read_delta_snapshot

    table_dir = _multipart_orders_delta(spark, sf_dir)
    df = read_delta_snapshot(
        spark, table_dir,
        partition_filter={
            "o_orderstatus": "F", "o_orderpriority": "1-URGENT",
        },
    )
    return df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("cents"),
    )


@query("streaming_iceberg_sink_transforms", _DELTA_STREAM_ORACLE)
def streaming_iceberg_sink_transforms(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The Iceberg sink on a THREE-FIELD transform spec — identity ×
    truncate[1] × bucket[4] (Iceberg spec partition transforms; the
    bucket hash is the spec's Murmur3, pinned to its published test
    vectors in tests) — committed as ONE fanout write per micro-batch
    with derived ``__part_*`` columns. The full-table readback hash
    proves the fanout, the transformed partition structs, and the
    manifest carry-forward lose nothing."""
    from ..sources.iceberglog import read_iceberg_snapshot

    table_dir = _transform_orders_iceberg(spark, sf_dir)
    return _orders_sink_agg(read_iceberg_snapshot(spark, table_dir))


_ICEBERG_TRANSFORM_PRUNED_ORACLE = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
FROM orders
WHERE o_orderpriority = '3-MEDIUM' AND o_orderstatus = 'F'
GROUP BY o_orderstatus
"""


@query("iceberg_transform_pruned_read", _ICEBERG_TRANSFORM_PRUNED_ORACLE)
def iceberg_transform_pruned_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Transform-aware scan planning, the real engines' two-step:
    the {priority='3-MEDIUM', status='F'} predicate is TRANSFORMED
    (truncate[1] -> '3'; identity -> 'F') and compared against each
    manifest entry's partition struct — the file list shrinks at the
    manifest level — then the exact predicate re-applies as a
    RESIDUAL filter on the surviving rows (truncate partitions are a
    superset of the equality predicate by construction). The oracle
    recomputes with the exact WHERE, so a pruning false-NEGATIVE
    (lost file) breaks the hash, and the residual step catches the
    false positives pruning legitimately leaves."""
    from ..sources.iceberglog import read_iceberg_snapshot

    table_dir = _transform_orders_iceberg(spark, sf_dir)
    df = read_iceberg_snapshot(
        spark, table_dir,
        partition_filter={
            "o_orderpriority": "3-MEDIUM", "o_orderstatus": "F",
        },
    ).filter(
        (F.col("o_orderpriority") == "3-MEDIUM")
        & (F.col("o_orderstatus") == "F")
    )
    return (
        df.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
    )


_ICEBERG_POINT_ORACLE = """
SELECT o_orderkey, o_orderstatus, o_orderpriority,
       CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
FROM orders
WHERE o_orderkey = 1
"""


@query("iceberg_bucket_pruned_point_read", _ICEBERG_POINT_ORACLE)
def iceberg_bucket_pruned_point_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Point lookup through bucket pruning: the o_orderkey=1
    predicate buckets (spec Murmur3) to one of 4 cells, the manifest
    scan keeps only that bucket's files, and the equality predicate
    re-applies as the residual — the O(1/N)-scan point-read pattern
    bucketed tables exist for. A hash mismatch means either the
    writer bucketed the row into the wrong cell or the reader pruned
    the right cell away."""
    from ..sources.iceberglog import read_iceberg_snapshot

    table_dir = _transform_orders_iceberg(spark, sf_dir)
    return read_iceberg_snapshot(
        spark, table_dir, partition_filter={"o_orderkey": 1}
    ).filter(F.col("o_orderkey") == 1).select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "cents"
    )


# --- stats-based data skipping (file-level min/max pruning) --------------------

_SKIP_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
FROM orders
WHERE o_orderkey BETWEEN 1000 AND 5000
"""


def _clustered_orders_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders range-clustered on o_orderkey into 8 files — the layout
    that makes per-file min/max stats selective (a hash layout's
    every file spans the whole key range and nothing can skip; this
    is WHY table layout is a first-class lever at 100 TB)."""
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_orderpriority",
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("bigint")
            .alias("cents"),
        )
        .repartitionByRange(8, "o_orderkey")
    )


def _skipping_agg(df: DataFrame) -> DataFrame:
    return df.filter(
        (F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") <= 5000)
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("cents"),
    )


def _clustered_orders_delta(spark: SparkSession, sf_dir: str) -> str:
    def build(d: str) -> None:
        _delta_stream_commit(
            d, _clustered_orders_batch(spark, sf_dir), 0
        )

    return memo_dir(spark, sf_dir, "delta_clustered_table", build)


def _clustered_orders_iceberg(spark: SparkSession, sf_dir: str) -> str:
    from ..sources.iceberglog import IcebergCommitter

    def build(d: str) -> None:
        committer = IcebergCommitter(d, _ICEBERG_SINK_FIELDS)
        _iceberg_stream_commit(
            committer, d, _clustered_orders_batch(spark, sf_dir), 0
        )

    return memo_dir(spark, sf_dir, "iceberg_clustered_table", build)


@query("delta_stats_skipping_read", _SKIP_ORACLE)
def delta_stats_skipping_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DATA SKIPPING from the transaction log's per-file stats: every
    add action carries minValues/maxValues (Delta spec, read from the
    parquet footer at commit time), so the o_orderkey BETWEEN range
    predicate prunes the FILE LIST from the log itself — on this
    range-clustered layout most files drop before any footer or page
    is read, the pruning pass that sits between partition pruning and
    parquet row-group skipping at 100 TB. The exact predicate then
    re-applies as the residual (stats are a superset guarantee), and
    the oracle recomputes with the same WHERE — a lost file breaks
    the hash."""
    from ..sources.deltalog import read_delta_snapshot

    table_dir = _clustered_orders_delta(spark, sf_dir)
    return _skipping_agg(
        read_delta_snapshot(
            spark, table_dir,
            data_filter={"o_orderkey": (1000, 5000)},
        )
    )


@query("iceberg_stats_skipping_read", _SKIP_ORACLE)
def iceberg_stats_skipping_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg's twin of the Delta skipping read: manifest entries
    carry lower_bounds/upper_bounds (field-id-keyed, single-value
    binary serialization, stored as Avro key/value-record arrays per
    the spec) and the scan transforms the range predicate into a
    bounds-overlap test at the MANIFEST level. Same clustered layout,
    same residual re-application, same oracle."""
    from ..sources.iceberglog import read_iceberg_snapshot

    table_dir = _clustered_orders_iceberg(spark, sf_dir)
    return _skipping_agg(
        read_iceberg_snapshot(
            spark, table_dir,
            data_filter={"o_orderkey": (1000, 5000)},
        )
    )


# --- schema evolution (metadata-only add-column) -------------------------------

_EVOLVE_FIELDS_V1 = (
    ("o_orderkey", "long"),
    ("o_orderstatus", "string"),
    ("cents", "long"),
)
_EVOLVE_FIELDS_V2 = _EVOLVE_FIELDS_V1 + (("o_orderpriority", "string"),)

_EVOLVE_ORACLE = """
WITH t AS (
    SELECT o_orderkey, o_orderstatus,
           CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
           CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS pri
    FROM orders
)
SELECT coalesce(pri, '(pre-evolution)') AS o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS cents
FROM t
GROUP BY coalesce(pri, '(pre-evolution)')
ORDER BY o_orderpriority
"""


def _evolve_batches(spark: SparkSession, sf_dir: str):
    """(v1_batch, v2_batch): even orderkeys under the ORIGINAL
    3-column schema, odd orderkeys under the evolved 4-column one."""
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("bigint")
        .alias("cents"),
        "o_orderpriority",
    )
    v1 = base.filter(F.col("o_orderkey") % 2 == 0).drop(
        "o_orderpriority"
    )
    v2 = base.filter(F.col("o_orderkey") % 2 == 1)
    return v1.coalesce(4), v2.coalesce(4)


def _evolved_agg(df: DataFrame) -> DataFrame:
    return (
        df.groupBy(
            F.coalesce(
                F.col("o_orderpriority"), F.lit("(pre-evolution)")
            ).alias("o_orderpriority")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
        .orderBy("o_orderpriority")
    )


def _evolved_orders_delta(spark: SparkSession, sf_dir: str) -> str:
    def build(d: str) -> None:
        v1, v2 = _evolve_batches(spark, sf_dir)
        # the committer declares a new metaData when the fields change
        _delta_stream_commit(d, v1, 0, fields=_EVOLVE_FIELDS_V1)
        _delta_stream_commit(d, v2, 2, fields=_EVOLVE_FIELDS_V2)  # even

    return memo_dir(spark, sf_dir, "delta_evolved_table", build)


def _evolved_orders_iceberg(spark: SparkSession, sf_dir: str) -> str:
    from ..sources.iceberglog import IcebergCommitter

    def build(d: str) -> None:
        committer = IcebergCommitter(d, list(_EVOLVE_FIELDS_V1))
        v1, v2 = _evolve_batches(spark, sf_dir)
        _iceberg_stream_commit(committer, d, v1, 0)
        committer.evolve_schema([("o_orderpriority", "string")])
        _iceberg_stream_commit(committer, d, v2, 2)  # even: no compact

    return memo_dir(spark, sf_dir, "iceberg_evolved_table", build)


@query("delta_schema_evolution_read", _EVOLVE_ORACLE)
def delta_schema_evolution_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ADD-COLUMN schema evolution as a pure metadata operation: the
    table's first commit declares 3 columns, a later commit's
    metaData action declares 4 (Delta replay takes the latest), and
    NO data file is rewritten — pre-evolution files read with null
    for the new column under the evolved schema. The oracle splits
    the same rows by which schema era wrote them, so the hash proves
    the evolved read is value-exact on both eras at once."""
    from ..sources.deltalog import read_delta_snapshot

    table_dir = _evolved_orders_delta(spark, sf_dir)
    return _evolved_agg(read_delta_snapshot(spark, table_dir))


@query("iceberg_schema_evolution_read", _EVOLVE_ORACLE)
def iceberg_schema_evolution_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg's twin: ``schemas`` keeps the full history, the commit
    after ``evolve_schema`` bumps ``current-schema-id``, and the new
    column gets a FRESH field id (never reused — the invariant that
    keeps bounds and partition source-ids stable across evolution).
    Readers resolve current-schema-id and fill pre-evolution files
    with null. Same oracle as the Delta twin."""
    from ..sources.iceberglog import read_iceberg_snapshot

    table_dir = _evolved_orders_iceberg(spark, sf_dir)
    return _evolved_agg(read_iceberg_snapshot(spark, table_dir))


# --- incremental append scans (lakehouse-as-a-source) --------------------------

_INCREMENTAL_ORACLE = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
FROM orders
WHERE o_orderkey % 2 = 1
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def _incremental_agg(df: DataFrame) -> DataFrame:
    return (
        df.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
        .orderBy("o_orderpriority")
    )


@query("delta_incremental_append_read", _INCREMENTAL_ORACLE)
def delta_incremental_append_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lakehouse-as-a-source: the incremental APPEND scan reads
    exactly the files committed in ``(from_version, to]`` from the
    transaction log — the primitive behind Delta streaming sources
    and incremental training-data ingestion (process only what
    arrived since the last watermark; never rescan 100 TB). On the
    two-era evolution table, commits after version 0 are exactly the
    odd orderkeys, which is what the oracle recomputes. Removes in
    the range gate loudly (append-scan, not CDF)."""
    from ..sources.deltalog import read_delta_incremental

    table_dir = _evolved_orders_delta(spark, sf_dir)
    return _incremental_agg(
        read_delta_incremental(spark, table_dir, from_version=0)
    )


@query("iceberg_incremental_append_read", _INCREMENTAL_ORACLE)
def iceberg_incremental_append_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg's incremental append scan: manifests are selected by
    ``added_snapshot_id`` from the TO snapshot's manifest list — an
    O(manifests) metadata walk, no table diff — and non-append
    snapshots in the range gate loudly. Same two-era fixture and
    oracle as the Delta twin."""
    import json as _json

    from ..sources.iceberglog import (
        _metadata_path,
        read_iceberg_incremental,
    )

    table_dir = _evolved_orders_iceberg(spark, sf_dir)
    meta = _json.loads(open(_metadata_path(table_dir)).read())
    first = meta["snapshots"][0]["snapshot-id"]
    return _incremental_agg(
        read_iceberg_incremental(spark, table_dir, from_snapshot=first)
    )


# --- Iceberg format v2: position deletes (merge-on-read) -----------------------

_MOR_ORACLE = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
FROM orders
WHERE o_orderkey % 3 <> 0
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def _iceberg_position_delete(
    spark: SparkSession, committer, d: str, predicate, batch_id: int
) -> None:
    """Delete the rows of the table at ``d`` matching ``predicate`` by
    POSITION: a distributed write lands their (file_path, pos) pairs,
    sorted per spec, as a format-v2 delete parquet, and one delete
    commit wraps its footer. Data parquet is untouched."""
    from ..sources.iceberglog import read_iceberg_snapshot
    from ..sources.lakehouse import with_row_position

    dels_dir = os.path.join(d, "data", "deletes-00001")
    (
        with_row_position(read_iceberg_snapshot(spark, d).filter(predicate))
        .select("file_path", "pos")
        .repartition(1)
        .sortWithinPartitions("file_path", "pos")
        .write.mode("overwrite")
        .parquet(dels_dir)
    )
    entries = [
        committer.delete_file_entry(os.path.join(dels_dir, f))
        for f in sorted(os.listdir(dels_dir))
        if f.endswith(".parquet")
    ]
    committer.commit(batch_id, entries, operation="delete")


def _mor_orders_iceberg(spark: SparkSession, sf_dir: str) -> str:
    """Orders committed once, then every o_orderkey % 3 == 0 row
    deleted by POSITION (format v2 delete files) — data parquet
    untouched. The delete file itself is a distributed Spark write:
    (file_path, row_index) pairs selected via the hidden _metadata
    columns, sorted (file_path, pos) per spec."""
    from ..sources.iceberglog import IcebergCommitter

    def build(d: str) -> None:
        committer = IcebergCommitter(d, _ICEBERG_SINK_FIELDS)
        _iceberg_stream_commit(
            committer, d, _clustered_orders_batch(spark, sf_dir), 0
        )
        _iceberg_position_delete(
            spark, committer, d, F.col("o_orderkey") % 3 == 0, 2
        )

    return memo_dir(spark, sf_dir, "iceberg_mor_table", build)


_EQ_ORACLE = """
WITH live AS (
    SELECT o_orderstatus,
           CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
    FROM orders
    WHERE o_orderkey % 10 <> 0 AND o_orderstatus <> 'F'
    UNION ALL
    SELECT o_orderstatus,
           CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
    FROM orders WHERE o_orderkey % 10 = 0
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS cents
FROM live
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def _eq_orders_iceberg(spark: SparkSession, sf_dir: str) -> str:
    """Snapshot 0 (seq 0): orders with o_orderkey % 10 != 0.
    Snapshot 1 (seq 1): an EQUALITY-DELETE file on
    o_orderstatus = 'F'. Snapshot 2 (seq 2): the % 10 == 0 rows —
    appended AFTER the delete, so their F rows must SURVIVE (the
    spec's strictly-lower-sequence scoping, reproducible in SQL)."""
    from ..sources.iceberglog import IcebergCommitter

    def build(d: str) -> None:
        committer = IcebergCommitter(d, _ICEBERG_SINK_FIELDS)
        base = _clustered_orders_batch(spark, sf_dir)
        _iceberg_stream_commit(
            committer, d, base.filter(F.col("o_orderkey") % 10 != 0), 0
        )
        e = committer.equality_delete_entry(
            "eq-00001.parquet",
            [{"o_orderstatus": "F"}],
            ["o_orderstatus"],
        )
        committer.commit(2, [e], operation="delete")
        _iceberg_stream_commit(
            committer, d, base.filter(F.col("o_orderkey") % 10 == 0), 4
        )

    return memo_dir(spark, sf_dir, "iceberg_eq_table", build)


@query("iceberg_equality_delete_read", _EQ_ORACLE)
def iceberg_equality_delete_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Format v2 EQUALITY deletes — the other merge-on-read flavor:
    the delete file carries VALUES for its equality_ids columns
    (content=2 manifest entry) and removes matching rows only from
    data files with a strictly LOWER sequence number. The fixture
    appends more 'F' rows AFTER the delete; the oracle hash breaks
    if scoping resurrects a deleted row or kills a later one."""
    from ..sources.iceberglog import read_iceberg_snapshot

    table_dir = _eq_orders_iceberg(spark, sf_dir)
    return (
        read_iceberg_snapshot(spark, table_dir)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
        .orderBy("o_orderstatus")
    )


@query("iceberg_position_delete_read", _MOR_ORACLE)
def iceberg_position_delete_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Format v2 MERGE-ON-READ: a delete commit lands only a
    position-delete parquet ((file_path, pos), content=1 manifest
    entry, summary operation=delete) and NO data file is rewritten.
    The reader anti-joins the broadcast delete set against the hidden
    (_metadata.file_path, _metadata.row_index) pair at scan time —
    the deletes stay KB-sized and broadcast while the 100 TB data
    side streams through. The oracle recomputes the surviving rows
    with the equivalent predicate; one ghost or lost row breaks the
    hash."""
    from ..sources.iceberglog import read_iceberg_snapshot

    table_dir = _mor_orders_iceberg(spark, sf_dir)
    return (
        read_iceberg_snapshot(spark, table_dir)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
        .orderBy("o_orderstatus")
    )


# --- Delta deletion vectors (merge-on-read) -------------------------------------

_DV_ORACLE = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
FROM orders
WHERE o_orderkey % 3 <> 0
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def _dv_delete(
    spark: SparkSession, d: str, predicate, inline_threshold: int = 512
) -> None:
    """Delete the rows of the table at ``d`` matching ``predicate``
    with deletion vectors: their (file, position) pairs are collected
    — O(deleted rows), the DV payloads, which are log-resident
    metadata by definition — grouped per data file, and committed as
    one DELETE. No data parquet is rewritten."""
    from ..sources.deltalog import delete_rows_by_position, read_delta_snapshot
    from ..sources.lakehouse import with_row_position

    by_rel: dict = {}
    for r in (
        with_row_position(read_delta_snapshot(spark, d).filter(predicate))
        .select("file_path", "pos")
        .collect()
    ):
        by_rel.setdefault(os.path.relpath(r.file_path, d), []).append(r.pos)
    delete_rows_by_position(d, by_rel, inline_threshold=inline_threshold)


def _dv_orders_delta(spark: SparkSession, sf_dir: str) -> str:
    """Orders committed once, then every o_orderkey % 3 == 0 row
    deleted via INLINE DELETION VECTORS (z85 + RoaringBitmapArray) —
    remove + re-add of the same path in one commit, no data parquet
    rewritten."""
    from ..sources.deltalog import (
        delete_rows_by_position,
        read_delta_snapshot,
    )

    def build(d: str) -> None:
        _delta_stream_commit(
            d, _clustered_orders_batch(spark, sf_dir), 0
        )
        # this fixture pins the INLINE shape; the file-backed twin is
        # _dv_file_orders_delta below
        _dv_delete(
            spark, d, F.col("o_orderkey") % 3 == 0,
            inline_threshold=1 << 30,
        )

    return memo_dir(spark, sf_dir, "delta_dv_table", build)


@query("delta_deletion_vector_read", _DV_ORACLE)
def delta_deletion_vector_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delta MERGE-ON-READ via inline deletion vectors: the delete
    commit re-adds each touched file with a z85-encoded
    RoaringBitmapArray of deleted row positions (operators/dvcodec.py
    — Z85 pinned to the ZeroMQ RFC vector, roaring to the portable
    format spec) and rewrites NO data parquet. The reader anti-joins
    the decoded positions against the hidden parquet row index.
    Iceberg's position-delete twin is iceberg_position_delete_read —
    same semantics, the two formats' different encodings."""
    from ..sources.deltalog import read_delta_snapshot

    table_dir = _dv_orders_delta(spark, sf_dir)
    return (
        read_delta_snapshot(spark, table_dir)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
        .orderBy("o_orderpriority")
    )


_DV_FILE_ORACLE = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
FROM orders
WHERE o_orderkey % 2 <> 0
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def _dv_file_orders_delta(spark: SparkSession, sf_dir: str) -> str:
    """Orders committed once, then every EVEN o_orderkey deleted —
    a delete set too large to inline, so the commit lands FILE-BACKED
    deletion vectors (storageType ``u``: spec-shaped
    ``deletion_vector_<uuid>.bin`` with version byte, BE size and
    CRC-32; ``inline_threshold=0`` forces the file path even at small
    SF so the shape under test is scale-invariant)."""
    from ..sources.deltalog import (
        delete_rows_by_position,
        read_delta_snapshot,
    )

    def build(d: str) -> None:
        _delta_stream_commit(
            d, _clustered_orders_batch(spark, sf_dir), 0
        )
        _dv_delete(
            spark, d, F.col("o_orderkey") % 2 == 0, inline_threshold=0
        )

    return memo_dir(spark, sf_dir, "delta_dv_file_table", build)


@query("delta_deletion_vector_file_read", _DV_FILE_ORACLE)
def delta_deletion_vector_file_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delta MERGE-ON-READ via FILE-BACKED deletion vectors — the
    shape externally-written tables with large delete sets use
    (storageType ``u``; Delta PROTOCOL.md DV file format: version
    byte + [BE size][RoaringBitmapArray][CRC-32], descriptor offset
    pointing at the size field). The reader resolves the z85 UUID to
    ``deletion_vector_<uuid>.bin``, validates size + checksum, and
    anti-joins positions against the hidden parquet row index exactly
    like the inline path."""
    from ..sources.deltalog import read_delta_snapshot

    table_dir = _dv_file_orders_delta(spark, sf_dir)
    return (
        read_delta_snapshot(spark, table_dir)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
        .orderBy("o_orderpriority")
    )


# --- Delta change data feed (derived from the log) ------------------------------

_CDF_ORACLE = """
WITH changes AS (
    SELECT o_orderkey,
           CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
           'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
    FROM orders WHERE o_orderkey % 2 = 1
    UNION ALL
    SELECT o_orderkey,
           CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
           'delete', CAST(2 AS BIGINT)
    FROM orders WHERE o_orderkey % 3 = 0
)
SELECT _change_type, _commit_version,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS cents
FROM changes
GROUP BY _change_type, _commit_version
ORDER BY _change_type, _commit_version
"""


def _cdf_orders_delta(spark: SparkSession, sf_dir: str) -> str:
    """Commit 0: even orderkeys; commit 1: odd orderkeys; commit 2:
    DV-delete of every o_orderkey % 3 == 0 row (touches both files).
    The (0, latest] change feed is then commit 1's inserts plus
    commit 2's deletes — SQL-reproducible."""
    from ..sources.deltalog import (
        delete_rows_by_position,
        read_delta_snapshot,
    )

    def build(d: str) -> None:
        base = _clustered_orders_batch(spark, sf_dir)
        _delta_stream_commit(
            d, base.filter(F.col("o_orderkey") % 2 == 0), 0
        )
        _delta_stream_commit(
            d, base.filter(F.col("o_orderkey") % 2 == 1), 2
        )  # even batch id: no compaction — pure append commit
        _dv_delete(spark, d, F.col("o_orderkey") % 3 == 0)

    return memo_dir(spark, sf_dir, "delta_cdf_table", build)


@query("delta_change_feed_read", _CDF_ORACLE)
def delta_change_feed_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED derived from the transaction log: the
    (0, latest] feed yields commit 1's appended rows as
    _change_type='insert' and commit 2's deletion-vector positions as
    _change_type='delete' — deleted rows recovered from the untouched
    data files with a broadcast LEFT SEMI join on the hidden row
    index (the merge-on-read anti-join's mirror). Downstream
    incremental consumers (CDC replication, TTL audits, training-set
    diffs) read changes without ever rescanning the table; rewrites
    and explicit cdc actions gate loudly."""
    from ..sources.deltalog import table_changes

    table_dir = _cdf_orders_delta(spark, sf_dir)
    return (
        table_changes(spark, table_dir, from_version=0)
        .groupBy("_change_type", "_commit_version")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
        .orderBy("_change_type", "_commit_version")
    )


# --- Iceberg changelog scan ------------------------------------------------------

_ICEBERG_CDF_ORACLE = """
WITH changes AS (
    SELECT o_orderkey,
           CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
           'insert' AS _change_type, CAST(1001 AS BIGINT) AS _snapshot_id
    FROM orders WHERE o_orderkey % 2 = 1
    UNION ALL
    SELECT o_orderkey,
           CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
           'delete', CAST(1002 AS BIGINT)
    FROM orders WHERE o_orderkey % 3 = 0
)
SELECT _change_type, _snapshot_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS cents
FROM changes
GROUP BY _change_type, _snapshot_id
ORDER BY _change_type, _snapshot_id
"""


def _cdf_orders_iceberg(spark: SparkSession, sf_dir: str) -> str:
    """Snapshot 1000: even orderkeys; 1001: odd orderkeys; 1002:
    position-delete of every o_orderkey % 3 == 0 row."""
    from ..sources.iceberglog import (
        IcebergCommitter,
        read_iceberg_snapshot,
    )

    def build(d: str) -> None:
        committer = IcebergCommitter(d, _ICEBERG_SINK_FIELDS)
        base = _clustered_orders_batch(spark, sf_dir)
        _iceberg_stream_commit(
            committer, d, base.filter(F.col("o_orderkey") % 2 == 0), 0
        )
        _iceberg_stream_commit(
            committer, d, base.filter(F.col("o_orderkey") % 2 == 1), 2
        )
        _iceberg_position_delete(
            spark, committer, d, F.col("o_orderkey") % 3 == 0, 4
        )

    return memo_dir(spark, sf_dir, "iceberg_cdf_table", build)


@query("iceberg_changelog_read", _ICEBERG_CDF_ORACLE)
def iceberg_changelog_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg CHANGELOG scan, the Delta change feed's twin: appended
    snapshots surface their ADDED files as inserts, delete snapshots
    surface their new position-delete pairs as deletes (recovered
    from untouched data files via the row-index semi-join), each row
    tagged with its _snapshot_id — incremental consumers follow the
    table without rescans, across BOTH lakehouse formats with the
    same semantics. Rewrite snapshots gate loudly."""
    import json as _json

    from ..sources.iceberglog import (
        _metadata_path,
        iceberg_changelog,
    )

    table_dir = _cdf_orders_iceberg(spark, sf_dir)
    meta = _json.loads(open(_metadata_path(table_dir)).read())
    first = meta["snapshots"][0]["snapshot-id"]
    return (
        iceberg_changelog(spark, table_dir, from_snapshot=first)
        .groupBy("_change_type", "_snapshot_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
        .orderBy("_change_type", "_snapshot_id")
    )


# --- streaming FROM the lakehouse (delta as a source) ---------------------------


def _staged_order_waves(
    spark: SparkSession, sf_dir: str, dest_root: str, n_waves: int = 4
) -> dict:
    """Stage every commit wave's parquet files in ONE distributed job.

    The r11 shape ran, PER WAVE, a full orders scan + a range-sample
    pass + a shuffle + a write (``repartitionByRange`` inside
    ``_clustered_orders_batch`` re-sampled for every wave's filter) —
    4x the passes over the input for data that is all known up front.
    One range shuffle on ``(__w, o_orderkey)`` + one ``partitionBy``
    write produces the identical per-wave row sets with the same
    o_orderkey clustering (range partitions are contiguous in the
    composite key, so each wave still lands as ~``8`` key-ordered
    files); wave visibility is controlled by the COMMIT metadata, not
    file placement, so staging everything up front cannot leak rows
    into an earlier trigger (files outside the log/manifest are
    invisible to readers). Returns ``{wave: [rel paths]}`` with files
    placed under ``dest_root/batch-<2w:05d>/``.
    """
    import shutil as _shutil

    staging = os.path.join(dest_root, "_wave_staging")
    (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_orderpriority",
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("bigint")
            .alias("cents"),
        )
        .withColumn("__w", F.abs(F.hash("o_orderkey")) % n_waves)
        .repartitionByRange(8 * n_waves, "__w", "o_orderkey")
        .write.partitionBy("__w")
        .parquet(staging)
    )
    rels: dict[int, list] = {}
    for w in range(n_waves):
        src = os.path.join(staging, f"__w={w}")
        rel_dir = f"batch-{2 * w:05d}"
        os.makedirs(os.path.join(dest_root, rel_dir), exist_ok=True)
        out = []
        if not os.path.isdir(src):
            # degenerate input: no order hashed into this wave, so the
            # partitioned write created no dir — commit an empty wave
            # (matches the r11 per-wave filter+write behavior)
            rels[w] = out
            continue
        for f in sorted(os.listdir(src)):
            if f.endswith(".parquet"):
                rel = os.path.join(rel_dir, f)
                os.replace(
                    os.path.join(src, f), os.path.join(dest_root, rel)
                )
                out.append(rel)
        rels[w] = out
    _shutil.rmtree(staging, ignore_errors=True)
    return rels


@query("streaming_delta_source_roundtrip", _DELTA_STREAM_ORACLE)
def streaming_delta_source_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAM FROM the lakehouse: a writer lands orders as real Delta
    append commits in waves WHILE a Structured Streaming query
    consumes the table through the ``deltastream`` source — offsets
    are table versions, each trigger plans exactly the files the new
    commits added (incremental append scan), and every task reads its
    own parquet file executor-side. Finite deterministic input means
    the complete-mode aggregate must equal the batch oracle, hashing
    the version-offset planning, the incremental file resolution and
    the streaming engine together. The write side (streaming INTO
    delta) is streaming_delta_sink — this closes the loop."""
    from ..sources.deltalog import DeltaCommitter
    from ..sources.deltastream_ds import register_deltastream

    table_dir = scratch_dir("delta_source_")
    # Perf shape (r12): the four waves' data files are staged by ONE
    # distributed job and their stats collected by ONE job
    # (_staged_order_waves); each between-trigger "commit" is then a
    # driver-side O(KB) log write — identical per-wave row sets and
    # commit sequence, 4x fewer passes over the input.
    committer = DeltaCommitter(table_dir, _ORDERS_FIELDS)
    rels_by_wave = _staged_order_waves(spark, sf_dir, table_dir)
    adds = {
        a["path"]: a
        for a in committer.add_entries(
            spark, [r for rs in rels_by_wave.values() for r in rs]
        )
    }

    def _commit_wave(w: int) -> None:
        # even batch ids: appends (parity with the r11 ids)
        committer.commit(2 * w, [adds[r] for r in rels_by_wave[w]])

    # commit wave 0 first: the source needs the table's schema
    _commit_wave(0)
    register_deltastream(spark)
    raw = (
        spark.readStream.format("deltastream")
        .option("path", table_dir)
        .option("startingVersion", "0")
        .load()
    )
    agg = (
        raw.groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
    )
    # state width: the aggregate's group count is domain-bounded
    # (status x priority); each later wave is a driver-side metadata
    # append drained into its own micro-batch
    return _run_to_table(
        spark, agg, "complete", shuffle_partitions=8,
        steps=[functools.partial(_commit_wave, w) for w in range(1, 4)],
    ).orderBy("o_orderstatus", "o_orderpriority")


@query("streaming_iceberg_source_roundtrip", _DELTA_STREAM_ORACLE)
def streaming_iceberg_source_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAM FROM Iceberg — the deltastream roundtrip's twin: a
    committer lands append snapshots in waves WHILE the query
    consumes the table through the ``icebergstream`` source (snapshot
    ordinals as offsets, per-trigger incremental planning by
    added_snapshot_id, one task per added file). The complete-mode
    aggregate must equal the batch oracle — both lakehouse formats
    now stream in AND out of the engine with the same semantics."""
    from ..sources.iceberglog import IcebergCommitter
    from ..sources.icebergstream_ds import register_icebergstream

    table_dir = scratch_dir("iceberg_source_")
    committer = IcebergCommitter(table_dir, _ICEBERG_SINK_FIELDS)
    # Perf shape (r12): one distributed job stages all four waves'
    # data files (see _staged_order_waves); each between-trigger
    # commit is then driver-side manifest/metadata writes over
    # pre-staged files — identical per-wave row sets and snapshot
    # sequence, 4x fewer passes over the input.
    rels_by_wave = _staged_order_waves(
        spark, sf_dir, os.path.join(table_dir, "data")
    )

    def _commit_wave(w: int) -> None:
        batch_id = 2 * w  # even batch ids: pure appends
        if committer.committed_batch_id() >= batch_id:
            return
        entries = [
            committer.data_file_entry(
                os.path.join(table_dir, "data", rel)
            )
            for rel in rels_by_wave[w]
        ]
        committer.commit(batch_id, entries)

    _commit_wave(0)
    register_icebergstream(spark)
    raw = (
        spark.readStream.format("icebergstream")
        .option("path", table_dir)
        .option("startingOrdinal", "0")
        .load()
    )
    agg = raw.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("cents"),
    )
    # state width sized by state volume (domain-bounded group count);
    # each later wave is a driver-side metadata commit drained into its
    # own micro-batch
    return _run_to_table(
        spark, agg, "complete", shuffle_partitions=8,
        steps=[functools.partial(_commit_wave, w) for w in range(1, 4)],
    ).orderBy("o_orderstatus", "o_orderpriority")

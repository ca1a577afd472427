"""From-scratch Delta Lake TRANSACTION-LOG reader and writer:
snapshot construction and commits without the delta-spark jar.

A Delta table is parquet data files plus ``_delta_log/`` — versioned
JSON commits of actions (protocol / metaData / add / remove /
commitInfo) with an optional parquet CHECKPOINT referenced by
``_last_checkpoint``. A reader builds a snapshot by replaying
actions in version order: the live file set is adds minus later
removes, and tombstoned files REMAIN ON DISK until vacuum — so
listing ``*.parquet`` naively double-counts rewritten data; only the
log defines the table. This module implements exactly that contract
(the protocol is public: Delta Transaction Log Protocol spec):

  * ``snapshot_files``: replay ``NNNNNNNNNNNNNNNNNNNN.json`` commits
    (and, when present and not bypassed, start from the parquet
    checkpoint named by ``_last_checkpoint``) up to an optional
    pinned version — time travel;
  * ``read_delta_snapshot``: the live files handed to
    ``spark.read.parquet`` with the schema from ``metaData`` —
    Catalyst plans the scan exactly as it would any parquet relation;
  * ``DeltaCommitter``: the one writer of the log, the read path's
    twin and ``iceberglog.IcebergCommitter``'s Delta counterpart.
    It numbers versions, keeps the ``txn`` ledger, declares protocol
    and metaData, writes the write-side checkpoints, and publishes
    each commit whole or not at all (temp file + put-if-absent
    link). Every Delta sink, fixture and DELETE in the engine commits
    through it.

Partitioned tables are first-class: metaData.partitionColumns +
per-add partitionValues replay into LOG-LEVEL partition pruning
(``partition_filter`` shrinks the file list before Spark lists a
path), and hive-layout reads recover partition columns via
``basePath``. Deletion vectors are first-class merge-on-read in both
storage shapes — INLINE (storageType ``i``: z85/roaring payload in
the log) and FILE-BACKED (``u``/``p``: spec-shaped ``.bin`` with
size + CRC-32 checks) — decoded via ``operators/dvcodec.py`` into a
broadcast anti-join on the hidden parquet row index. Column mapping
(``delta.columnMapping.mode=name``) is supported for unpartitioned
tables: physical names from the schema field metadata drive the scan
and rename back to logical; id mode and mapped+partitioned/filtered
shapes gate loudly (`sources/lakehouse.py` keeps the jar-backed
path)."""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from .lakehouse import (
    parquet_column_stats,
    partition_values_from_path,
    with_row_position,
)


def _commit_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, "_delta_log", f"{version:020d}.json")


def _is_commit(name: str) -> bool:
    """A ``NNNNNNNNNNNNNNNNNNNN.json`` commit file name (temp files and
    checkpoints never match)."""
    return name.endswith(".json") and name[:20].isdigit()


def snapshot_files(
    table_dir: str, version: int | None = None,
    partition_filter: dict | None = None,
    data_filter: dict | None = None,
) -> dict:
    """Replay the log; returns ``{"version", "files": [paths],
    "schema_string", "from_checkpoint": bool, "partition_columns",
    "partition_values": {path: {col: val}},
    "txns": {appId: last_version}, "protocol": {...}}``.

    ``txns`` is the setTransaction ledger (latest version per appId)
    the streaming sink's idempotence check reads — it survives log
    retention because checkpoints carry txn actions (Delta
    checkpoint spec), so the replay picks it up from either source.

    ``partition_filter`` ({col: value}) prunes the live set AT THE
    LOG LEVEL from each add action's partitionValues — the real Delta
    reader's first pruning pass: at 100 TB a filter on the partition
    column must shrink the FILE LIST, not just the row scan.

    ``data_filter`` ({col: (lo, hi)}) is the second pass — DATA
    SKIPPING from each add action's per-file stats (minValues/
    maxValues): a file is kept only if its [min, max] overlaps
    [lo, hi]; files without stats are kept (stats can only prune,
    never lose rows). Callers re-apply the exact predicate as a
    residual."""
    log_dir = os.path.join(table_dir, "_delta_log")
    if not os.path.isdir(log_dir):
        raise ValueError(f"{table_dir}: no _delta_log — not a Delta table")
    versions = sorted(
        int(f[:20]) for f in os.listdir(log_dir) if _is_commit(f)
    )
    # a checkpointed version is as addressable as a JSON commit:
    # standard retention may clean EVERY commit <= the checkpoint,
    # leaving a valid table with zero commit files
    cp_version = None
    cp_parts = 1
    cp_meta = os.path.join(log_dir, "_last_checkpoint")
    if os.path.exists(cp_meta):
        cp = json.loads(open(cp_meta).read())
        cp_version = int(cp["version"])
        cp_parts = int(cp.get("parts") or 1)
    addressable = sorted(
        set(versions) | ({cp_version} if cp_version is not None else set())
    )
    if not addressable:
        raise ValueError("empty _delta_log")
    target = addressable[-1] if version is None else version
    if target not in addressable:
        raise ValueError(
            f"version {target} not in log (have {addressable})"
        )

    adds: dict[str, dict] = {}
    schema_string = None
    partition_columns: list = []
    configuration: dict = {}
    txns: dict[str, int] = {}
    protocol: dict | None = None
    start_after = -1
    from_checkpoint = False
    if cp_version is not None:
        if cp_version <= target:
            import pyarrow.parquet as pq

            # single-part: NNNN.checkpoint.parquet; multi-part (spec):
            # NNNN.checkpoint.<part>.<of>.parquet for part in 1..of —
            # every part must exist (a partial checkpoint is invalid)
            if cp_parts == 1:
                cp_files = [
                    os.path.join(
                        log_dir, f"{cp_version:020d}.checkpoint.parquet"
                    )
                ]
            else:
                cp_files = [
                    os.path.join(
                        log_dir,
                        f"{cp_version:020d}.checkpoint."
                        f"{p:010d}.{cp_parts:010d}.parquet",
                    )
                    for p in range(1, cp_parts + 1)
                ]
            missing_parts = [f for f in cp_files if not os.path.exists(f)]
            if missing_parts and cp_parts == 1:
                # V2 checkpoint: UUID-named manifest
                # NNNN.checkpoint.<unique-id>.parquet found by
                # listing (spec); its ``sidecar`` actions name files
                # under _delta_log/_sidecars/ carrying the add/remove
                # actions
                import glob as _glob

                v2 = [
                    f
                    for f in _glob.glob(
                        os.path.join(
                            log_dir,
                            f"{cp_version:020d}.checkpoint.*.parquet",
                        )
                    )
                    # classic = 3 dot-segments, multipart = 5, v2 = 4
                    if len(os.path.basename(f).split(".")) == 4
                ]
                if len(v2) == 1:
                    cp_files = v2
                    missing_parts = []
            if missing_parts:
                raise NotImplementedError(
                    "_last_checkpoint names checkpoint files this "
                    "replay subset cannot find "
                    f"({[os.path.basename(f) for f in missing_parts]})"
                    " — use the jar-backed path in "
                    "sources/lakehouse.py"
                )
            rows_iter = [
                row
                for f in cp_files
                for row in pq.read_table(f).to_pylist()
            ]
            # V2 manifests reference sidecar files; splice their
            # add/remove rows into the replay (checkpointMetadata
            # rows carry no file state)
            for row in list(rows_iter):
                sc = row.get("sidecar")
                if sc and sc.get("path"):
                    sc_path = os.path.join(
                        log_dir, "_sidecars", sc["path"]
                    )
                    if not os.path.exists(sc_path):
                        raise NotImplementedError(
                            f"sidecar {sc['path']!r} named by the V2 "
                            "checkpoint is missing — use the "
                            "jar-backed path"
                        )
                    rows_iter.extend(
                        pq.read_table(sc_path).to_pylist()
                    )
            for row in rows_iter:
                if row.get("add") and row["add"].get("path"):
                    a = dict(row["add"])
                    # real checkpoints store partitionValues as a
                    # parquet MAP, which pyarrow yields as a list of
                    # (key, value) tuples — normalize to a dict so
                    # partition_filter works on external checkpoints
                    pv = a.get("partitionValues") or {}
                    a["partitionValues"] = (
                        pv if isinstance(pv, dict) else dict(pv)
                    )
                    adds[a["path"]] = a
                md = row.get("metaData")
                if md and md.get("schemaString"):
                    schema_string = md["schemaString"]
                    partition_columns = list(
                        md.get("partitionColumns") or []
                    )
                    cfg = md.get("configuration") or {}
                    if not isinstance(cfg, dict):
                        cfg = dict(cfg)  # parquet MAP -> tuples
                    configuration = {
                        k: v for k, v in cfg.items() if v is not None
                    }
                if row.get("remove") and row["remove"].get("path"):
                    adds.pop(row["remove"]["path"], None)
                tx = row.get("txn")
                if tx and tx.get("appId"):
                    txns[tx["appId"]] = max(
                        int(tx["version"]),
                        txns.get(tx["appId"], -(1 << 62)),
                    )
                if row.get("protocol") and row["protocol"].get(
                    "minReaderVersion"
                ) is not None:
                    # legacy protocols have no feature lists; drop
                    # the checkpoint struct's null placeholders
                    protocol = {
                        k: v
                        for k, v in row["protocol"].items()
                        if v is not None
                    }
            start_after = cp_version
            from_checkpoint = True

    # contiguity gate: replay needs EVERY commit in (start_after,
    # target]. Time travel to a version older than the checkpoint on
    # a table whose pre-checkpoint commits were cleaned by log
    # retention would otherwise silently replay a partial log.
    need = set(range(start_after + 1, target + 1))
    missing = sorted(need - set(versions))
    if missing:
        raise NotImplementedError(
            f"commit versions {missing} are absent from _delta_log "
            "(cleaned by log retention?) — a snapshot at version "
            f"{target} cannot be replayed; time-travel past the "
            "retained window needs the jar-backed path in "
            "sources/lakehouse.py"
        )
    for v in versions:
        if v <= start_after or v > target:
            continue
        with open(_commit_path(table_dir, v)) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                if "metaData" in action:
                    md = action["metaData"]
                    schema_string = md["schemaString"]
                    partition_columns = list(
                        md.get("partitionColumns") or []
                    )
                    configuration = dict(
                        md.get("configuration") or {}
                    )
                elif "add" in action:
                    adds[action["add"]["path"]] = action["add"]
                elif "remove" in action:
                    adds.pop(action["remove"]["path"], None)
                elif "txn" in action:
                    tx = action["txn"]
                    txns[tx["appId"]] = max(
                        int(tx["version"]),
                        txns.get(tx["appId"], -(1 << 62)),
                    )
                elif "protocol" in action:
                    protocol = action["protocol"]
                # commitInfo carries no replay state
    if schema_string is None:
        raise ValueError("log replay found no metaData action")
    if partition_filter:
        unknown = set(partition_filter) - set(partition_columns)
        if unknown:
            raise ValueError(
                f"partition filter on non-partition columns {sorted(unknown)}"
                f" (partitions: {partition_columns})"
            )
        adds = {
            p: a
            for p, a in adds.items()
            if all(
                (a.get("partitionValues") or {}).get(c) == v
                for c, v in partition_filter.items()
            )
        }
    if data_filter:
        adds = {
            p: a
            for p, a in adds.items()
            if not _stats_exclude(a.get("stats"), data_filter)
        }
    return {
        "version": target,
        "files": sorted(adds),
        "schema_string": schema_string,
        "from_checkpoint": from_checkpoint,
        "partition_columns": partition_columns,
        "partition_values": {
            p: dict(a.get("partitionValues") or {}) for p, a in adds.items()
        },
        "stats": {
            p: a["stats"] for p, a in adds.items() if a.get("stats")
        },
        "deletion_vectors": {
            p: a["deletionVector"]
            for p, a in adds.items()
            if a.get("deletionVector")
        },
        "adds": adds,
        "txns": txns,
        "protocol": protocol,
        "configuration": configuration,
    }


def _stats_exclude(stats, data_filter: dict) -> bool:
    """True when the add action's stats PROVE no row can match the
    [lo, hi] interval for every filtered column; a file with missing
    or unparseable stats is never excluded."""
    if not stats:
        return False
    try:
        parsed = json.loads(stats) if isinstance(stats, str) else stats
    except ValueError:
        return False
    mins = parsed.get("minValues") or {}
    maxs = parsed.get("maxValues") or {}
    for col, (lo, hi) in data_filter.items():
        if col not in mins or col not in maxs:
            continue
        if (hi is not None and mins[col] > hi) or (
            lo is not None and maxs[col] < lo
        ):
            return True
    return False


def _physical_names(schema_string: str) -> dict:
    """{logical_name: physical_name} from the schema field metadata
    (``delta.columnMapping.physicalName``) — identity where absent."""
    out = {}
    for f in json.loads(schema_string)["fields"]:
        meta = f.get("metadata") or {}
        out[f["name"]] = meta.get(
            "delta.columnMapping.physicalName", f["name"]
        )
    return out


def _schema_from_delta(schema_string: str):
    from pyspark.sql import types as T

    _MAP = {
        "long": T.LongType(), "integer": T.IntegerType(),
        "double": T.DoubleType(), "string": T.StringType(),
        "boolean": T.BooleanType(), "date": T.DateType(),
        "timestamp": T.TimestampType(),
    }
    fields = []
    for f in json.loads(schema_string)["fields"]:
        if not isinstance(f["type"], str) or f["type"] not in _MAP:
            raise NotImplementedError(
                f"delta type {f['type']!r} outside the replay subset"
            )
        fields.append(T.StructField(f["name"], _MAP[f["type"]], True))
    return T.StructType(fields)


def read_delta_snapshot(
    spark: SparkSession, table_dir: str, version: int | None = None,
    partition_filter: dict | None = None,
    data_filter: dict | None = None,
) -> DataFrame:
    """The log-defined snapshot as a DataFrame: live files only,
    schema from metaData — tombstoned files on disk are ignored.

    Partitioned tables read hive-layout files against ``basePath``:
    partition columns come from the directory names (data files do
    not store them), and ``partition_filter`` prunes the FILE LIST
    from the log's partitionValues before Spark ever lists a path."""
    snap = snapshot_files(table_dir, version, partition_filter, data_filter)
    paths = [os.path.join(table_dir, p) for p in snap["files"]]
    schema = _schema_from_delta(snap["schema_string"])
    pcols = snap["partition_columns"]
    mode = (snap.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    if mode not in ("none", "name"):
        raise NotImplementedError(
            f"delta.columnMapping.mode={mode!r}: only none|name here "
            "(id mode matches on parquet field ids — jar-backed path)"
        )
    if mode == "name":
        # data files carry PHYSICAL names (schema field metadata
        # delta.columnMapping.physicalName); read physically, rename
        # back to the logical schema. Without this, a mapped table
        # would silently read as all-null columns.
        if pcols or partition_filter or data_filter:
            raise NotImplementedError(
                "column mapping with partitions or log-level filters "
                "is outside the subset (physical-name partitionValues"
                "/stats keys) — use the jar-backed path"
            )
        phys_names = _physical_names(snap["schema_string"])
        from pyspark.sql import types as T

        phys_schema = T.StructType(
            [
                T.StructField(
                    phys_names[f.name], f.dataType, True
                )
                for f in schema.fields
            ]
        )
        if not paths:
            return spark.createDataFrame([], schema)
        df = spark.read.schema(phys_schema).parquet(*paths)
        for f in schema.fields:
            df = df.withColumnRenamed(phys_names[f.name], f.name)
        return _apply_deletion_vectors(
            spark, df, table_dir, snap, [f.name for f in schema.fields]
        )
    if not paths:  # zero live files is a valid snapshot either way
        return spark.createDataFrame([], schema)
    if not pcols:
        df = spark.read.schema(schema).parquet(*paths)
        return _apply_deletion_vectors(
            spark, df, table_dir, snap, [f.name for f in schema.fields]
        )
    from pyspark.sql import types as T

    # hive-layout data files store only non-partition columns; read
    # with partition fields last, then restore the metaData
    # schemaString order (real Delta preserves the logical order)
    physical = T.StructType(
        [f for f in schema.fields if f.name not in set(pcols)]
        + [schema[c] for c in pcols]
    )
    df = (
        spark.read.schema(physical)
        .option("basePath", table_dir)
        .parquet(*paths)
    )
    return _apply_deletion_vectors(
        spark, df, table_dir, snap, [f.name for f in schema.fields]
    )


def _apply_deletion_vectors(
    spark: SparkSession, df: DataFrame, table_dir: str, snap: dict,
    out_cols: list,
) -> DataFrame:
    """MERGE-ON-READ: decode each add action's inline deletion vector
    (z85 + RoaringBitmapArray, executor-side UDF over O(files)
    metadata rows) and drop the marked row positions with a broadcast
    LEFT ANTI join on the hidden parquet (_metadata.file_path,
    _metadata.row_index) — data files are never rewritten, and the
    delete side stays KB-sized while the data side streams."""
    dvs = snap.get("deletion_vectors") or {}
    if not dvs:
        return df.select(out_cols)
    from pyspark.sql import functions as F

    from ..operators.dvcodec import dv_positions

    # Inline DVs are LOG-RESIDENT: the z85 payload already sits in
    # the driver's replay of the commit JSON, so decoding here adds
    # only the integer positions — same O(cardinality) the log read
    # already paid. File-backed vectors ("u"/"p", the shape for
    # delete sets too large to inline) are an O(KB-per-file) metadata
    # read with the spec's size + CRC-32 checks.
    pairs = []
    for p, dv in sorted(dvs.items()):
        full = os.path.abspath(os.path.join(table_dir, p))
        pairs.extend(
            (full, int(pos))
            for pos in dv_positions(dv, table_dir)
        )
    dels = spark.createDataFrame(
        pairs, "file_path string, pos bigint"
    )
    tagged = with_row_position(df, "__mor_file", "__mor_pos")
    return tagged.join(
        F.broadcast(dels),
        (tagged["__mor_file"] == dels["file_path"])
        & (tagged["__mor_pos"] == dels["pos"]),
        "left_anti",
    ).select(out_cols)


def tombstone(path: str, data_change: bool = True) -> dict:
    """The ``remove`` action body for ``path``; dataChange=false marks
    a compaction, which changes no rows."""
    return {"path": path, "deletionTimestamp": 0, "dataChange": data_change}


class DeltaCommitter:
    """Stateless-from-disk committer, the write path mirroring
    ``snapshot_files`` and the Delta twin of
    ``iceberglog.IcebergCommitter``: every commit replays the log, so
    foreachBatch replays and crash-restarts see the authoritative
    table state. It owns every decision about the log format:

    * version numbering: max ADDRESSABLE version + 1, so a version a
      checkpoint covers still counts after ``cleanup_log`` removed its
      JSON commit (``len(commits)`` would land the commit invisibly
      below the checkpoint);
    * the ``txn`` ledger, read from checkpoint + commits, which makes
      a replayed batch a no-op;
    * protocol + metaData on the first commit, and metaData again when
      ``schema_fields`` differ from the table's (add-column evolution
      is exactly a new metaData action; older files read the new
      column as null);
    * the write-side checkpoint every ``checkpoint_interval`` commits
      (None: never — a DELETE leaves checkpointing to the sink that
      owns the table's interval);
    * publishing the commit file (``_publish``).

    A table is fresh only when its log holds no commit and no
    checkpoint, an explicit existence check. Every other replay error
    (a torn commit, a missing metaData) propagates: reading it as
    "fresh" would write version 0 over the table."""

    app_id = "spark-graft-delta-sink"

    def __init__(
        self, table_dir: str, schema_fields=None, partition_by=(),
        checkpoint_interval: int | None = 10,
    ):
        # schema_fields: [(name, delta_type)] covering ALL columns (the
        # spec keeps partition columns in schemaString too); None when
        # the committer only writes to an existing table
        self.table_dir = table_dir
        self.log_dir = os.path.join(table_dir, "_delta_log")
        os.makedirs(self.log_dir, exist_ok=True)
        self.partition_by = tuple(partition_by)
        self.checkpoint_interval = (
            None if checkpoint_interval is None
            else max(checkpoint_interval, 1)
        )
        self.schema_string = None if schema_fields is None else json.dumps(
            {
                "type": "struct",
                "fields": [
                    {"name": n, "type": t, "nullable": True, "metadata": {}}
                    for n, t in schema_fields
                ],
            }
        )

    def _snapshot(self) -> dict | None:
        """The current snapshot, or None for a fresh table."""
        if not any(
            _is_commit(f) or f == "_last_checkpoint"
            for f in os.listdir(self.log_dir)
        ):
            return None
        return snapshot_files(self.table_dir)

    def committed_batch_id(self) -> int:
        """Highest sink batch id in the txn ledger, or -1."""
        snap = self._snapshot()
        return -1 if snap is None else snap["txns"].get(self.app_id, -1)

    def add_entries(
        self, spark: SparkSession, rels, data_change: bool = True
    ) -> list:
        """``add`` action bodies for a BATCH of part files (paths
        relative to the table), with per-file stats collected in ONE
        distributed job: each task opens only its own files' footers
        (O(KB) each) and the driver receives just the stats rows, so a
        fanout commit of thousands of files never serializes their
        footer opens on the driver (real Delta collects stats inside
        the write job the same way). Stats (Delta spec: a JSON string
        of numRecords/minValues/maxValues) make the log itself the
        data-skipping index."""
        rels = sorted(rels)
        if not rels:
            return []
        abs_root = os.path.abspath(self.table_dir)

        def _footer_stats(it):
            import pyarrow.parquet as pq

            for rel in it:
                path = os.path.join(abs_root, rel)
                md = pq.ParquetFile(path).metadata
                out = parquet_column_stats(md)
                stats = {
                    "numRecords": md.num_rows,
                    "minValues": {c: lo for c, (lo, _) in out.items()},
                    "maxValues": {c: hi for c, (_, hi) in out.items()},
                }
                yield rel, json.dumps(stats), os.path.getsize(path)

        sc = spark.sparkContext
        # amortize per-task (Python worker) overhead over a few footers
        # each — a footer open is O(ms), so one file per task is pure
        # scheduling; parallelism still scales to the cluster for big
        # fanout commits (thousands of files -> defaultParallelism tasks)
        slices = max(1, min((len(rels) + 3) // 4, sc.defaultParallelism))
        collected = {
            rel: (stats, size)
            for rel, stats, size in sc.parallelize(rels, slices)
            .mapPartitions(_footer_stats)
            .collect()
        }
        return [
            {
                "path": rel,
                "partitionValues": partition_values_from_path(
                    rel, self.partition_by
                ),
                "size": collected[rel][1],
                "modificationTime": 0,
                "dataChange": data_change,
                "stats": collected[rel][0],
            }
            for rel in rels
        ]

    def commit(
        self, batch_id: int | None, added, removed=(),
        overwrite: bool = False, protocol: dict | None = None,
        operation: str | None = None,
    ) -> int | None:
        """One transaction: ``removed`` (``tombstone`` bodies), then
        ``added`` (``add_entries`` bodies). Returns the new version, or
        None when the ledger already holds ``batch_id`` (a foreachBatch
        replay); ``batch_id=None`` commits outside the ledger (a
        DELETE). ``overwrite`` also removes every file live in the
        snapshot the version is numbered from — the full-refresh shape
        (superseded files stay on disk as decoys until vacuum).
        ``protocol`` upgrades the table's protocol in this commit;
        ``operation`` closes it with a commitInfo naming the operation."""
        snap = self._snapshot()
        if batch_id is not None and snap is not None:
            if batch_id <= snap["txns"].get(self.app_id, -1):
                return None
        if snap is None and not protocol:
            protocol = {"minReaderVersion": 1, "minWriterVersion": 2}
        actions = [{"protocol": protocol}] if protocol else []
        if snap is None or self.schema_string not in (
            None, snap["schema_string"]
        ):
            actions.append(
                {
                    "metaData": {
                        "id": "stream-table",
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": self.schema_string,
                        "partitionColumns": list(self.partition_by),
                        "configuration": {},
                        "createdTime": 0,
                    }
                }
            )
        if batch_id is not None:
            actions.append(
                {"txn": {"appId": self.app_id, "version": batch_id}}
            )
        if overwrite and snap is not None:
            actions += [{"remove": tombstone(p)} for p in snap["files"]]
        actions += [{"remove": r} for r in removed]
        actions += [{"add": a} for a in added]
        if operation:
            actions.append({"commitInfo": {"operation": operation}})
        version = 0 if snap is None else snap["version"] + 1
        self._publish(version, actions)
        # write-side checkpoint parity (real Delta defaults to every 10
        # commits): readers then replay O(commits-since-checkpoint)
        interval = self.checkpoint_interval
        if interval is not None and (version + 1) % interval == 0:
            write_checkpoint(self.table_dir)
        return version

    def _publish(self, version: int, actions: list) -> None:
        """Write the commit whole under a temp name the log listing
        never matches, then hard-link it to the version name. The link
        fails if that version exists — the put-if-absent a Delta log
        store must provide — so a commit lands whole or not at all and
        never over another. A crash before the link leaves only an
        invisible temp file, and the batch's replay commits afresh.
        The temp file is created with the umask's default mode, like
        every other log file, since the link shares its inode."""
        import uuid

        tmp = os.path.join(
            self.log_dir, f".{version:020d}.{uuid.uuid4().hex}.json.tmp"
        )
        fd = os.open(tmp, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o666)
        with os.fdopen(fd, "w") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")
        try:
            os.link(tmp, _commit_path(self.table_dir, version))
        finally:
            os.unlink(tmp)


def write_checkpoint(
    table_dir: str, parts: int = 1, v2: bool = False
) -> int:
    """Materialize the table's CURRENT snapshot as a spec-shaped
    parquet checkpoint (`NNNN.checkpoint.parquet` + `_last_checkpoint`)
    so readers replay O(commits-since-checkpoint) instead of the full
    log — the write-side half of the checkpoint contract this module's
    reader already honors. Returns the checkpointed version.
    ``v2=True`` writes the V2 layout instead: a UUID-named manifest
    whose ``sidecar`` actions reference ``parts`` file-action parquet
    files under ``_delta_log/_sidecars/``.

    Per the Delta checkpoint spec the snapshot's protocol action and
    the full setTransaction (txn) ledger ride the checkpoint too —
    without them, log retention (``cleanup_log``) would destroy the
    streaming sink's foreachBatch idempotence state. partitionValues
    is written as a parquet MAP (the spec's physical type), which is
    exactly the shape the reader normalizes from."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    snap = snapshot_files(table_dir)
    pcols = snap["partition_columns"]

    arrow_schema = pa.schema(
        [
            (
                "txn",
                pa.struct(
                    [("appId", pa.string()), ("version", pa.int64())]
                ),
            ),
            (
                "add",
                pa.struct(
                    [
                        ("path", pa.string()),
                        (
                            "partitionValues",
                            pa.map_(pa.string(), pa.string()),
                        ),
                        ("size", pa.int64()),
                        ("modificationTime", pa.int64()),
                        ("dataChange", pa.bool_()),
                        ("stats", pa.string()),
                        (
                            "deletionVector",
                            pa.struct(
                                [
                                    ("storageType", pa.string()),
                                    ("pathOrInlineDv", pa.string()),
                                    # file-backed vectors: position
                                    # of the DV's size field in the
                                    # .bin (absent for inline)
                                    ("offset", pa.int32()),
                                    ("sizeInBytes", pa.int64()),
                                    ("cardinality", pa.int64()),
                                ]
                            ),
                        ),
                    ]
                ),
            ),
            (
                "remove",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("deletionTimestamp", pa.int64()),
                        ("dataChange", pa.bool_()),
                    ]
                ),
            ),
            (
                "metaData",
                pa.struct(
                    [
                        ("id", pa.string()),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                        (
                            "configuration",
                            pa.map_(pa.string(), pa.string()),
                        ),
                    ]
                ),
            ),
            (
                "protocol",
                pa.struct(
                    [
                        ("minReaderVersion", pa.int32()),
                        ("minWriterVersion", pa.int32()),
                        # table-features protocols (e.g. the
                        # deletionVectors upgrade) carry feature
                        # lists; absent on legacy protocols
                        ("readerFeatures", pa.list_(pa.string())),
                        ("writerFeatures", pa.list_(pa.string())),
                    ]
                ),
            ),
        ]
    )
    rows = [
        {
            "protocol": snap["protocol"]
            or {"minReaderVersion": 1, "minWriterVersion": 2}
        },
        {
            "metaData": {
                "id": "checkpointed-table",
                "schemaString": snap["schema_string"],
                "partitionColumns": pcols,
                "configuration": snap.get("configuration") or {},
            }
        },
    ]
    for app_id, v in sorted(snap["txns"].items()):
        rows.append({"txn": {"appId": app_id, "version": int(v)}})
    for p in snap["files"]:
        rows.append(
            {
                "add": {
                    "path": p,
                    "partitionValues": snap["partition_values"][p],
                    "size": 0,
                    "modificationTime": 0,
                    "dataChange": True,
                    # per-file stats and deletion vectors ride the
                    # checkpoint (spec) so data skipping and
                    # merge-on-read survive log retention
                    "stats": snap["stats"].get(p),
                    "deletionVector": snap["deletion_vectors"].get(p),
                }
            }
        )
    version = snap["version"]
    log_dir = os.path.join(table_dir, "_delta_log")
    if v2:
        # V2 checkpoint (spec): a UUID-named MANIFEST carrying
        # protocol/metaData/txn + checkpointMetadata, with the file
        # actions split into SIDECAR parquet files under _sidecars/
        # (``parts`` sidecars) — the layout that lets very large
        # tables write checkpoint file actions in parallel and lets
        # readers fetch them independently
        import uuid as _uuid

        v2_schema = pa.schema(
            list(arrow_schema)
            + [
                (
                    "checkpointMetadata",
                    pa.struct([("version", pa.int64())]),
                ),
                (
                    "sidecar",
                    pa.struct(
                        [
                            ("path", pa.string()),
                            ("sizeInBytes", pa.int64()),
                            ("modificationTime", pa.int64()),
                        ]
                    ),
                ),
            ]
        )
        sidecar_dir = os.path.join(log_dir, "_sidecars")
        os.makedirs(sidecar_dir, exist_ok=True)
        file_rows = [r for r in rows if "add" in r or "remove" in r]
        head_rows = [
            r for r in rows if "add" not in r and "remove" not in r
        ]
        n_side = max(1, parts)
        per = -(-max(len(file_rows), 1) // n_side)
        manifest_rows = list(head_rows)
        manifest_rows.append(
            {"checkpointMetadata": {"version": version}}
        )
        for i in range(n_side):
            chunk = file_rows[i * per : (i + 1) * per]
            if not chunk and i > 0:
                break
            name = f"{_uuid.uuid4()}.parquet"
            sc_path = os.path.join(sidecar_dir, name)
            pq.write_table(
                pa.Table.from_pylist(chunk, schema=arrow_schema),
                sc_path,
            )
            manifest_rows.append(
                {
                    "sidecar": {
                        "path": name,
                        "sizeInBytes": os.path.getsize(sc_path),
                        "modificationTime": 0,
                    }
                }
            )
        pq.write_table(
            pa.Table.from_pylist(manifest_rows, schema=v2_schema),
            os.path.join(
                log_dir,
                f"{version:020d}.checkpoint.{_uuid.uuid4()}.parquet",
            ),
        )
        meta = {"version": version, "size": len(rows)}
    elif parts <= 1:
        pq.write_table(
            pa.Table.from_pylist(rows, schema=arrow_schema),
            os.path.join(
                log_dir, f"{version:020d}.checkpoint.parquet"
            ),
        )
        meta = {"version": version, "size": len(rows)}
    else:
        # multi-part (spec): NNNN.checkpoint.<part>.<of>.parquet —
        # actions split contiguously; a reader must load EVERY part
        # (at scale each part writes in parallel and stays
        # memory-bounded on both sides)
        per = -(-len(rows) // parts)
        for p in range(1, parts + 1):
            chunk = rows[(p - 1) * per : p * per]
            pq.write_table(
                pa.Table.from_pylist(chunk, schema=arrow_schema),
                os.path.join(
                    log_dir,
                    f"{version:020d}.checkpoint."
                    f"{p:010d}.{parts:010d}.parquet",
                ),
            )
        meta = {"version": version, "size": len(rows), "parts": parts}
    # atomic pointer flip: streaming readers may be replaying the log
    # while a checkpoint lands; truncate-then-write would expose an
    # empty _last_checkpoint mid-rewrite
    tmp = os.path.join(log_dir, "_last_checkpoint.tmp")
    with open(tmp, "w") as fh:
        fh.write(json.dumps(meta))
    os.replace(tmp, os.path.join(log_dir, "_last_checkpoint"))
    return version


def vacuum(table_dir: str, keep_versions: int = 1) -> dict:
    """Delete data files unreferenced by the retained snapshots —
    the VACUUM maintenance operation that finally removes compaction
    tombstones from disk. ``keep_versions`` retains the newest N
    addressable versions (version-based stand-in for Delta's
    time-based retention; the semantics are identical: vacuumed
    versions stop being time-travelable).

    Returns ``{"deleted": [paths], "retained_versions": [...]}``.
    Only parquet files under the table root (outside ``_delta_log``)
    are candidates — exactly Delta's contract that any unreferenced
    file under the table dir is vacuum-able."""
    log_dir = os.path.join(table_dir, "_delta_log")
    if not os.path.isdir(log_dir):
        raise ValueError(f"{table_dir}: no _delta_log — not a Delta table")
    latest = snapshot_files(table_dir)["version"]
    retained = []
    live: set[str] = set()
    for v in range(max(latest - keep_versions + 1, 0), latest + 1):
        try:
            snap = snapshot_files(table_dir, v)
        except (ValueError, NotImplementedError):
            continue  # version not addressable (already cleaned)
        retained.append(v)
        live.update(snap["files"])
    if not retained:
        raise ValueError("vacuum found no addressable snapshot to retain")
    deleted = []
    for root, dirs, files in os.walk(table_dir):
        if os.path.basename(root) == "_delta_log":
            dirs[:] = []
            continue
        for f in files:
            if not f.endswith(".parquet"):
                continue
            rel = os.path.relpath(os.path.join(root, f), table_dir)
            if rel not in live:
                os.remove(os.path.join(root, f))
                deleted.append(rel)
    return {"deleted": sorted(deleted), "retained_versions": retained}


def cleanup_log(table_dir: str) -> list:
    """Remove JSON commits at or before the checkpoint — Delta's log
    retention. Safe by construction here: ``snapshot_files`` starts
    from the checkpoint, and the contiguity gate turns any
    over-eager cleanup into a loud error instead of a silent partial
    replay. Returns the removed commit file names."""
    log_dir = os.path.join(table_dir, "_delta_log")
    cp_meta = os.path.join(log_dir, "_last_checkpoint")
    if not os.path.exists(cp_meta):
        return []
    cp_version = int(json.loads(open(cp_meta).read())["version"])
    removed = []
    for f in sorted(os.listdir(log_dir)):
        if _is_commit(f) and int(f[:20]) <= cp_version:
            os.remove(os.path.join(log_dir, f))
            removed.append(f)
    return removed


def incremental_add_files(
    table_dir: str, from_version: int, to_version: int | None = None,
    skip_change_commits: bool = False,
) -> dict:
    """Incremental APPEND scan: the data files added by commits in
    ``(from_version, to_version]`` — the primitive behind streaming a
    Delta table as a source / incremental training-data ingestion
    (process only what arrived since the last watermark, never rescan
    the table). Returns ``{"files", "from", "to", "schema_string"}``.

    Subset contract: the scanned commits must be pure appends; a
    dataChange remove in the range (update/delete/compaction-as-
    change) gates loudly — change-data-feed semantics need the
    jar-backed path. dataChange=false removes (pure compaction) also
    gate, because their rewritten adds would double-count rows
    already seen at ``from_version``. dataChange=false ADDS (e.g. a
    stats-recompute re-add from another writer, which has no paired
    remove) are SKIPPED, mirroring the real Delta source's dataChange
    filter — counting them would double-count rows already seen.

    ``skip_change_commits`` is the real source's ``skipChangeCommits``
    option: a commit containing ANY remove is ignored wholesale
    (none of its adds stream) instead of failing the scan — the
    documented semantics for streaming past update/delete/compaction
    transactions."""
    snap_to = snapshot_files(table_dir)  # also validates the table
    to = snap_to["version"] if to_version is None else to_version
    if from_version > to:
        raise ValueError(f"from {from_version} > to {to}")
    log_dir = os.path.join(table_dir, "_delta_log")
    files = []
    for v in range(from_version + 1, to + 1):
        path = _commit_path(table_dir, v)
        if not os.path.exists(path):
            raise NotImplementedError(
                f"commit {v} absent (log retention?) — an incremental "
                "scan across cleaned commits needs the jar-backed path"
            )
        commit_adds: list = []
        skip_commit = False
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                if "remove" in action:
                    if skip_change_commits:
                        skip_commit = True
                        continue
                    raise NotImplementedError(
                        f"commit {v} removes "
                        f"{action['remove']['path']!r} — the range is "
                        "not append-only; set skipChangeCommits to "
                        "stream past it, or use the jar-backed path "
                        "for CDF semantics"
                    )
                if "add" in action:
                    if action["add"].get("dataChange") is False:
                        # metadata-only re-add (stats recompute from
                        # another writer): no new rows — the real
                        # Delta source drops these too
                        continue
                    commit_adds.append(action["add"]["path"])
        if not skip_commit:
            files.extend(commit_adds)
    return {
        "files": sorted(set(files)),
        "from": from_version,
        "to": to,
        "schema_string": snap_to["schema_string"],
    }


def read_delta_incremental(
    spark: SparkSession, table_dir: str, from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """The incremental append scan as a DataFrame (unpartitioned
    subset): exactly the rows committed in ``(from, to]``."""
    inc = incremental_add_files(table_dir, from_version, to_version)
    schema = _schema_from_delta(inc["schema_string"])
    if not inc["files"]:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(
        *[os.path.join(table_dir, p) for p in inc["files"]]
    )


# the protocol a deletion-vector commit requires (Delta PROTOCOL.md
# "Deletion Vectors"): table features, i.e. reader 3 / writer 7 with
# deletionVectors in BOTH feature lists. Per the table-features
# upgrade rule, listing features REPLACES the version-implied set, so
# the legacy (1,2) writer features ride along explicitly.
DV_PROTOCOL = {
    "minReaderVersion": 3,
    "minWriterVersion": 7,
    "readerFeatures": ["deletionVectors"],
    "writerFeatures": ["appendOnly", "invariants", "deletionVectors"],
}


def _protocol_supports_dv(protocol) -> bool:
    if not protocol:
        return False
    return (
        int(protocol.get("minReaderVersion") or 0) >= 3
        and int(protocol.get("minWriterVersion") or 0) >= 7
        and "deletionVectors" in (protocol.get("readerFeatures") or ())
        and "deletionVectors" in (protocol.get("writerFeatures") or ())
    )


def delete_rows_by_position(
    table_dir: str, positions_by_path: dict,
    inline_threshold: int = 512,
) -> int:
    """DELETE WITHOUT REWRITE: one commit that, for each
    ``{rel_path: [row_positions]}``, removes the live add and re-adds
    the SAME file with a deletion vector (merged with any existing
    vector) — exactly Delta's DV delete shape (remove + add of one
    path in one transaction). Data files are untouched; the commit is
    O(KB) metadata. Returns the new version.

    Vectors whose serialized bitmap exceeds ``inline_threshold``
    bytes land FILE-BACKED (storageType ``u``: a spec-shaped
    ``deletion_vector_<uuid>.bin`` with version byte, big-endian
    size, and CRC-32), keeping the log itself small for large delete
    sets — the same inline/file split real Delta writers make.

    A table whose protocol predates deletion vectors is upgraded in
    the SAME commit (spec: a v1 reader would ignore the
    deletionVector field and resurrect deleted rows, so the commit
    that introduces one must also raise the protocol to reader 3 /
    writer 7 with the deletionVectors table feature)."""
    from ..operators.dvcodec import (
        dv_file_write,
        dv_inline,
        dv_positions,
        dv_serialize,
    )

    snap = snapshot_files(table_dir)
    live = snap["adds"]
    removed, added = [], []
    for rel, positions in sorted(positions_by_path.items()):
        if rel not in live:
            raise ValueError(
                f"{rel!r} is not a live file in version {snap['version']}"
            )
        old = dict(live[rel])
        merged = set(int(p) for p in positions)
        if old.get("deletionVector"):
            merged |= set(
                dv_positions(old["deletionVector"], table_dir)
            )
        ordered = sorted(merged)
        if len(dv_serialize(ordered)) <= inline_threshold:
            old["deletionVector"] = dv_inline(ordered)
        else:
            old["deletionVector"] = dv_file_write(table_dir, ordered)
        old["dataChange"] = True
        removed.append(tombstone(rel))
        added.append(old)
    return DeltaCommitter(table_dir, checkpoint_interval=None).commit(
        None, added, removed,
        protocol=(
            None if _protocol_supports_dv(snap["protocol"])
            else dict(DV_PROTOCOL)
        ),
        operation="DELETE",
    )


def table_changes(
    spark: SparkSession, table_dir: str, from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """CHANGE DATA FEED subset, derived purely from the log: for each
    commit in ``(from_version, to_version]``,

    * a pure APPEND commit emits its files' rows as
      ``_change_type='insert'``;
    * a DELETION-VECTOR commit (remove + re-add of the same path with
      a grown DV — the shape ``delete_rows_by_position`` writes)
      emits exactly the NEWLY-deleted positions as
      ``_change_type='delete'`` (old positions already fed the feed);
    * anything else — true rewrites, explicit cdc actions, file
      removals without a DV re-add — gates loudly toward the
      jar-backed path.

    Rows surface under the LATEST schema in the range (CDF contract)
    plus ``_change_type`` and ``_commit_version``. Deleted rows are
    recovered from the still-on-disk data files via a broadcast
    LEFT SEMI join on the hidden row index — the mirror of the
    merge-on-read anti-join, so the feed never needs row copies."""
    from pyspark.sql import functions as F

    from ..operators.dvcodec import dv_positions

    snap_to = snapshot_files(table_dir, to_version)
    to = snap_to["version"]
    if from_version > to:
        raise ValueError(f"from {from_version} > to {to}")
    schema = _schema_from_delta(snap_to["schema_string"])
    out_cols = [f.name for f in schema.fields]
    parts = []
    prev_adds = snapshot_files(table_dir, from_version)["adds"]
    for v in range(from_version + 1, to + 1):
        path = _commit_path(table_dir, v)
        if not os.path.exists(path):
            raise NotImplementedError(
                f"commit {v} absent (log retention?) — a change feed "
                "across cleaned commits needs the jar-backed path"
            )
        adds, removes = {}, set()
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                if "cdc" in action:
                    raise NotImplementedError(
                        "explicit cdc actions are outside the derived "
                        "subset — use the jar-backed path"
                    )
                if "add" in action:
                    adds[action["add"]["path"]] = action["add"]
                elif "remove" in action:
                    removes.add(action["remove"]["path"])
        dv_updates = {
            p: a for p, a in adds.items()
            if p in removes and p in prev_adds
        }
        plain_removes = removes - set(dv_updates)
        if plain_removes:
            raise NotImplementedError(
                f"commit {v} removes {sorted(plain_removes)} without "
                "a DV re-add — rewrite/overwrite change feeds need "
                "the jar-backed path"
            )
        new_adds = {p: a for p, a in adds.items() if p not in removes}
        if new_adds:
            files = [
                os.path.join(table_dir, p) for p in sorted(new_adds)
            ]
            parts.append(
                spark.read.schema(schema)
                .parquet(*files)
                .withColumn("_change_type", F.lit("insert"))
                .withColumn("_commit_version", F.lit(v).cast("long"))
            )
        del_pairs = []
        for p, a in sorted(dv_updates.items()):
            old_dv = prev_adds[p].get("deletionVector")
            old_pos = (
                set(dv_positions(old_dv, table_dir))
                if old_dv
                else set()
            )
            new_dv = a.get("deletionVector")
            if not new_dv:
                raise NotImplementedError(
                    f"commit {v} re-adds {p!r} without a deletion "
                    "vector — rewrite change feeds need the "
                    "jar-backed path"
                )
            newly = sorted(
                set(dv_positions(new_dv, table_dir)) - old_pos
            )
            full = os.path.abspath(os.path.join(table_dir, p))
            del_pairs.extend((full, int(x)) for x in newly)
        if del_pairs:
            dels = spark.createDataFrame(
                del_pairs, "file_path string, pos bigint"
            )
            base = spark.read.schema(schema).parquet(
                *sorted({p for p, _ in del_pairs})
            )
            tagged = with_row_position(base, "__cdf_file", "__cdf_pos")
            parts.append(
                tagged.join(
                    F.broadcast(dels),
                    (tagged["__cdf_file"] == dels["file_path"])
                    & (tagged["__cdf_pos"] == dels["pos"]),
                    "left_semi",
                )
                .select(out_cols)
                .withColumn("_change_type", F.lit("delete"))
                .withColumn("_commit_version", F.lit(v).cast("long"))
            )
        # roll the live-add state forward for the next commit
        for p in removes:
            prev_adds.pop(p, None)
        prev_adds.update(adds)
    if not parts:
        from pyspark.sql import types as T

        empty = T.StructType(
            schema.fields
            + [
                T.StructField("_change_type", T.StringType(), True),
                T.StructField("_commit_version", T.LongType(), True),
            ]
        )
        return spark.createDataFrame([], empty)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out

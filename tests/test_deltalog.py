"""Delta log-replay tests: snapshot semantics (compaction
tombstones, naive-listing double count), time travel, checkpoint
handoff including pre-checkpoint log truncation (the case where a
reader that ignores _last_checkpoint cannot recover), and guards."""

import glob
import json
import os

import pytest

from kafka_spark_streaming_app_spark.sources.deltalog import (
    DeltaCommitter,
    read_delta_snapshot,
    snapshot_files,
    tombstone,
    write_checkpoint,
)

_FIELDS = [("k", "long"), ("v", "string")]


def _rows(lo, hi, tag):
    return [{"k": i, "v": f"{tag}{i}"} for i in range(lo, hi)]


def _commit(spark, d, add_files=(), remove_paths=()):
    """One commit through DeltaCommitter: ``add_files`` ([(name,
    rows)]) land as pyarrow-written parquet, ``remove_paths`` as
    tombstones. Returns the version."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for name, rows in add_files:
        pq.write_table(pa.Table.from_pylist(rows), os.path.join(d, name))
    c = DeltaCommitter(str(d), _FIELDS)
    return c.commit(
        None,
        c.add_entries(spark, [name for name, _ in add_files]),
        [tombstone(p) for p in remove_paths],
    )


def _make_table(spark, d):
    _commit(spark, d, [("a0.parquet", _rows(0, 10, "a"))])
    _commit(
        spark, d,
        add_files=[("a1.parquet", _rows(0, 10, "a"))],
        remove_paths=["a0.parquet"],
    )  # compaction: a0 tombstoned but still on disk
    write_checkpoint(str(d))
    _commit(spark, d, [("b.parquet", _rows(10, 25, "b"))])


def test_snapshot_excludes_tombstoned_file(tmp_path, spark):
    _make_table(spark, tmp_path)
    snap = snapshot_files(str(tmp_path))
    assert snap["version"] == 2
    assert snap["files"] == ["a1.parquet", "b.parquet"]
    # the tombstone is still on disk: naive listing would double-count
    on_disk = {os.path.basename(p)
               for p in glob.glob(str(tmp_path / "*.parquet"))}
    assert "a0.parquet" in on_disk
    df = read_delta_snapshot(spark, str(tmp_path))
    assert df.count() == 25
    assert df.filter("k < 10").count() == 10  # not 20


def test_time_travel_pins_versions(tmp_path, spark):
    _make_table(spark, tmp_path)
    assert snapshot_files(str(tmp_path), 0)["files"] == ["a0.parquet"]
    assert snapshot_files(str(tmp_path), 1)["files"] == ["a1.parquet"]
    assert read_delta_snapshot(spark, str(tmp_path), 1).count() == 10
    with pytest.raises(ValueError, match="not in log"):
        snapshot_files(str(tmp_path), 9)


def test_checkpoint_survives_log_truncation(tmp_path, spark):
    """Delta permits deleting commits at or before the checkpoint;
    the snapshot must then START from the checkpoint state."""
    _make_table(spark, tmp_path)
    os.remove(tmp_path / "_delta_log" / f"{0:020d}.json")
    os.remove(tmp_path / "_delta_log" / f"{1:020d}.json")
    snap = snapshot_files(str(tmp_path))
    assert snap["from_checkpoint"]
    assert snap["files"] == ["a1.parquet", "b.parquet"]
    assert read_delta_snapshot(spark, str(tmp_path)).count() == 25


def test_guards(tmp_path, spark):
    with pytest.raises(ValueError, match="not a Delta table"):
        snapshot_files(str(tmp_path / "nope"))
    _commit(spark, tmp_path, [("a.parquet", _rows(0, 3, "a"))])
    # a partition filter must name actual partition columns
    with pytest.raises(ValueError, match="non-partition columns"):
        snapshot_files(str(tmp_path), partition_filter={"day": "x"})


def test_missing_commit_versions_gate_loudly(tmp_path, spark):
    """A log with a hole (retention cleaned a commit the target
    version needs) must refuse to replay, not silently skip it."""
    _commit(spark, tmp_path, [("a.parquet", _rows(0, 5, "a"))])
    _commit(spark, tmp_path, [("b.parquet", _rows(5, 10, "b"))])
    _commit(spark, tmp_path, [("c.parquet", _rows(10, 15, "c"))])
    os.remove(tmp_path / "_delta_log" / f"{1:020d}.json")
    with pytest.raises(NotImplementedError, match=r"\[1\] are absent"):
        snapshot_files(str(tmp_path))


def test_checkpoint_shape_gates(tmp_path, spark):
    """A dangling _last_checkpoint (single- or multi-part, files
    absent) gates with the explicit jar-backed-path message, never a
    raw FileNotFoundError."""
    _commit(spark, tmp_path, [("a.parquet", _rows(0, 5, "a"))])
    cp_meta = tmp_path / "_delta_log" / "_last_checkpoint"
    cp_meta.write_text(json.dumps({"version": 0, "size": 1, "parts": 2}))
    with pytest.raises(NotImplementedError, match="cannot find"):
        snapshot_files(str(tmp_path))
    cp_meta.write_text(json.dumps({"version": 0, "size": 1}))
    with pytest.raises(NotImplementedError, match="cannot find"):
        snapshot_files(str(tmp_path))


def test_multipart_checkpoint_roundtrip(tmp_path, spark):
    """write_checkpoint(parts=3) emits the spec's
    NNNN.checkpoint.<part>.<of>.parquet layout; the reader unions
    every part (and gates if one is missing); replay after
    cleanup_log matches the single-part behavior exactly."""
    from kafka_spark_streaming_app_spark.queries.formats import (
        _delta_stream_commit,
    )
    from kafka_spark_streaming_app_spark.sources.deltalog import (
        cleanup_log,
        write_checkpoint,
    )

    for b, keys in enumerate(([1, 2], [3, 4], [5, 6])):
        _delta_stream_commit(str(tmp_path), _batch_df(spark, keys), 2 * b)
    before = sorted(
        r.o_orderkey
        for r in read_delta_snapshot(spark, str(tmp_path)).collect()
    )
    v = write_checkpoint(str(tmp_path), parts=3)
    names = sorted(os.listdir(tmp_path / "_delta_log"))
    part_files = [n for n in names if ".checkpoint." in n]
    assert part_files == [
        f"{v:020d}.checkpoint.{p:010d}.{3:010d}.parquet"
        for p in (1, 2, 3)
    ]
    assert cleanup_log(str(tmp_path))
    snap = snapshot_files(str(tmp_path))
    assert snap["from_checkpoint"] and snap["txns"]  # ledger intact
    after = sorted(
        r.o_orderkey
        for r in read_delta_snapshot(spark, str(tmp_path)).collect()
    )
    assert after == before == [1, 2, 3, 4, 5, 6]
    # a missing part is a loud, specific error
    os.remove(tmp_path / "_delta_log" / part_files[1])
    with pytest.raises(NotImplementedError, match="cannot find"):
        snapshot_files(str(tmp_path))


def _batch_df(spark, keys):
    return spark.createDataFrame(
        [(k, "F" if k % 2 else "O", "1-URGENT", k * 100) for k in keys],
        "o_orderkey long, o_orderstatus string, "
        "o_orderpriority string, cents long",
    ).coalesce(1)


def test_streaming_commit_is_idempotent_under_replay(tmp_path, spark):
    """foreachBatch is at-least-once: replaying a batch id must not
    produce a second commit (the txn-action check, exactly the real
    Delta sink's dedup)."""
    from kafka_spark_streaming_app_spark.queries.formats import (
        _delta_stream_commit,
    )

    df0 = _batch_df(spark, [1, 2])
    _delta_stream_commit(str(tmp_path), df0, 0)
    _delta_stream_commit(str(tmp_path), df0, 0)  # replay
    log = sorted(os.listdir(tmp_path / "_delta_log"))
    assert log == [f"{0:020d}.json"]
    df1 = _batch_df(spark, [3, 4])
    _delta_stream_commit(str(tmp_path), df1, 1)
    _delta_stream_commit(str(tmp_path), df1, 1)  # replay of the compactor
    snap = snapshot_files(str(tmp_path))
    live = snap["files"]
    assert all(f.startswith(("batch-00000-compacted/",
                             "batch-00001/")) for f in live)
    df = read_delta_snapshot(spark, str(tmp_path))
    assert sorted(r.o_orderkey for r in df.collect()) == [1, 2, 3, 4]
    # the compacted originals are tombstoned but still on disk
    assert any(
        f.endswith(".parquet")
        for f in os.listdir(tmp_path / "batch-00000")
    )
    assert len(sorted(os.listdir(tmp_path / "_delta_log"))) == 2


def test_streaming_commit_data_path_is_executor_side(tmp_path, spark):
    """The micro-batch DATA must never be materialized on the driver
    (no toPandas/collect/pyarrow conversion of the batch rows): the
    commit's data files come from a distributed write job, the driver
    handles only the log. Guards the 100 TB posture — a tens-of-GB
    batch must not OOM the driver."""
    from unittest import mock

    from pyspark.sql import DataFrame as _DF

    from kafka_spark_streaming_app_spark.queries.formats import (
        _delta_stream_commit,
    )

    df = _batch_df(spark, [1, 2, 3])
    forbidden = {}
    for name in ("toPandas", "collect", "toLocalIterator"):
        forbidden[name] = mock.patch.object(
            _DF, name,
            side_effect=AssertionError(
                f"driver materialization via DataFrame.{name} on the "
                "delta sink data path"
            ),
        )
    with forbidden["toPandas"], forbidden["collect"], \
            forbidden["toLocalIterator"]:
        _delta_stream_commit(str(tmp_path), df, 0)
        _delta_stream_commit(str(tmp_path), _batch_df(spark, [4]), 1)
    df2 = read_delta_snapshot(spark, str(tmp_path))
    assert df2.count() == 4


def test_overwrite_commit_full_refresh_checkpoint_and_retention(
    tmp_path, spark
):
    """The OVERWRITE transaction shape (streaming matview refresh):
    each commit replaces the live set; replays dedup via txn; the
    write-side checkpoint makes pre-checkpoint log retention safe
    (and the contiguity gate still fires for holes AFTER it)."""
    from kafka_spark_streaming_app_spark.queries.minikafka import (
        _delta_refresh,
    )

    committer = DeltaCommitter(
        str(tmp_path), _FIELDS, checkpoint_interval=2
    )

    def refresh(rows, batch_id):
        df = spark.createDataFrame(rows, "k long, v string").coalesce(1)
        _delta_refresh(committer, df, batch_id)

    refresh([(1, "a"), (2, "b")], 0)
    refresh([(3, "c")], 1)
    refresh([(3, "c")], 1)  # foreachBatch replay: must be a no-op
    log = [f for f in os.listdir(tmp_path / "_delta_log")
           if f.endswith(".json")]
    assert len(log) == 2
    snap = snapshot_files(str(tmp_path))
    assert all(f.startswith("refresh-00001/") for f in snap["files"])
    df = read_delta_snapshot(spark, str(tmp_path))
    assert [(r.k, r.v) for r in df.collect()] == [(3, "c")]
    # superseded refresh-00000 parquet remains on disk as a decoy
    assert any(
        f.endswith(".parquet")
        for f in os.listdir(tmp_path / "refresh-00000")
    )
    # checkpoint_interval=2 -> a checkpoint landed at version 1,
    # and the reader starts from it even while commits remain
    assert (tmp_path / "_delta_log" / "_last_checkpoint").exists()
    assert snap["from_checkpoint"] is True
    # standard retention: commits at/before the checkpoint may be
    # cleaned; the snapshot must then START from the checkpoint
    os.remove(tmp_path / "_delta_log" / f"{0:020d}.json")
    os.remove(tmp_path / "_delta_log" / f"{1:020d}.json")
    snap2 = snapshot_files(str(tmp_path))
    assert snap2["from_checkpoint"] is True
    assert snap2["files"] == snap["files"]


def test_vacuum_and_log_cleanup(tmp_path, spark):
    """VACUUM removes tombstone decoys (files unreferenced by the
    retained snapshots) and cleanup_log drops commits covered by the
    checkpoint; the current snapshot reads back identically after
    both, and time travel to vacuumed/cleaned versions gates."""
    from kafka_spark_streaming_app_spark.queries.formats import (
        _delta_stream_commit,
    )
    from kafka_spark_streaming_app_spark.sources.deltalog import (
        cleanup_log,
        vacuum,
        write_checkpoint,
    )

    _delta_stream_commit(str(tmp_path), _batch_df(spark, [1, 2]), 0)
    _delta_stream_commit(str(tmp_path), _batch_df(spark, [3, 4]), 1)
    _delta_stream_commit(str(tmp_path), _batch_df(spark, [5]), 2)
    before = sorted(
        r.o_orderkey for r in
        read_delta_snapshot(spark, str(tmp_path)).collect()
    )
    res = vacuum(str(tmp_path), keep_versions=1)
    # batch 1 compacted batch 0: the originals were decoys until now
    assert any("batch-00000/" in p for p in res["deleted"])
    after = sorted(
        r.o_orderkey for r in
        read_delta_snapshot(spark, str(tmp_path)).collect()
    )
    assert after == before == [1, 2, 3, 4, 5]
    # vacuumed old versions still replay (log intact) but reference
    # deleted files — that is exactly why retention pairs vacuum with
    # checkpoint + cleanup_log:
    write_checkpoint(str(tmp_path))
    removed = cleanup_log(str(tmp_path))
    assert removed == [f"{v:020d}.json" for v in (0, 1, 2)]
    snap = snapshot_files(str(tmp_path))
    assert snap["from_checkpoint"] and snap["version"] == 2
    assert sorted(
        r.o_orderkey for r in
        read_delta_snapshot(spark, str(tmp_path)).collect()
    ) == before
    with pytest.raises(ValueError, match="not in log"):
        snapshot_files(str(tmp_path), 1)


def test_partitioned_sink_prunes_at_log_level(tmp_path, spark):
    """Partitioned commits: hive dirs at the table root, add actions
    carry partitionValues, and a partition_filter shrinks the FILE
    LIST (inputFiles) before Spark lists anything — log-level
    pruning, the listing-cost lever at 100 TB."""
    from kafka_spark_streaming_app_spark.queries.formats import (
        _delta_stream_commit,
    )

    for b, keys in enumerate(([1, 2, 3], [4, 5])):
        _delta_stream_commit(
            str(tmp_path), _batch_df(spark, keys), b,
            partition_by=("o_orderstatus",),
        )
        _delta_stream_commit(  # replay must be a no-op
            str(tmp_path), _batch_df(spark, keys), b,
            partition_by=("o_orderstatus",),
        )
    snap = snapshot_files(str(tmp_path))
    assert snap["partition_columns"] == ["o_orderstatus"]
    assert all(
        p.startswith(("o_orderstatus=F/", "o_orderstatus=O/"))
        for p in snap["files"]
    )
    full = read_delta_snapshot(spark, str(tmp_path))
    assert sorted(r.o_orderkey for r in full.collect()) == [1, 2, 3, 4, 5]
    pruned = read_delta_snapshot(
        spark, str(tmp_path), partition_filter={"o_orderstatus": "F"}
    )
    # odd keys are F — and the file list itself is pruned
    assert sorted(r.o_orderkey for r in pruned.collect()) == [1, 3, 5]
    assert all("o_orderstatus=F" in f for f in pruned.inputFiles())
    fsnap = snapshot_files(
        str(tmp_path), partition_filter={"o_orderstatus": "F"}
    )
    assert 0 < len(fsnap["files"]) < len(snap["files"])
    # a checkpoint carries the partitionValues map and prunes too
    from kafka_spark_streaming_app_spark.sources.deltalog import (
        cleanup_log,
        write_checkpoint,
    )

    write_checkpoint(str(tmp_path))
    cleanup_log(str(tmp_path))
    snap2 = snapshot_files(
        str(tmp_path), partition_filter={"o_orderstatus": "F"}
    )
    assert snap2["from_checkpoint"]
    assert snap2["files"] == fsnap["files"]
    pruned2 = read_delta_snapshot(
        spark, str(tmp_path), partition_filter={"o_orderstatus": "F"}
    )
    assert sorted(r.o_orderkey for r in pruned2.collect()) == [1, 3, 5]


def test_resume_after_log_retention_assigns_fresh_versions(
    tmp_path, spark
):
    """The medium-severity round-10 advice item: after checkpoint +
    cleanup_log a RESUMED sink must (a) dedup already-checkpointed
    batches from the txn ledger the checkpoint now carries, and
    (b) assign the next version ABOVE the checkpoint (len(commits)
    would restart at 0, landing commits invisibly below the
    checkpoint — silent data loss)."""
    from kafka_spark_streaming_app_spark.queries.formats import (
        _delta_stream_commit,
    )
    from kafka_spark_streaming_app_spark.sources.deltalog import (
        cleanup_log,
    )

    _delta_stream_commit(str(tmp_path), _batch_df(spark, [1, 2]), 0)
    _delta_stream_commit(str(tmp_path), _batch_df(spark, [3, 4]), 1)
    write_checkpoint(str(tmp_path))
    removed = cleanup_log(str(tmp_path))
    assert removed  # every JSON commit is below the checkpoint now
    # checkpoint carries the txn ledger: replays of both batches no-op
    assert DeltaCommitter(str(tmp_path)).committed_batch_id() == 1
    c = DeltaCommitter(str(tmp_path))
    assert c.commit(0, []) is None
    assert c.commit(1, []) is None
    # and a genuinely new batch lands ABOVE the checkpoint
    assert _delta_stream_commit(
        str(tmp_path), _batch_df(spark, [5, 6]), 2
    ) == 2
    snap = snapshot_files(str(tmp_path))
    assert snap["version"] == 2 and snap["from_checkpoint"]
    assert snap["txns"] == {"spark-graft-delta-sink": 2}
    got = sorted(
        r.o_orderkey for r in
        read_delta_snapshot(spark, str(tmp_path)).collect()
    )
    assert got == [1, 2, 3, 4, 5, 6]


def test_checkpoint_carries_protocol_and_txn_actions(tmp_path, spark):
    """Delta checkpoint spec: protocol and setTransaction actions
    ride the checkpoint, and partitionValues is a parquet MAP (which
    pyarrow yields as (key, value) tuples — the reader normalizes)."""
    import pyarrow.parquet as pq

    from kafka_spark_streaming_app_spark.queries.formats import (
        _delta_stream_commit,
    )
    from kafka_spark_streaming_app_spark.sources.deltalog import (
        write_checkpoint,
    )

    _delta_stream_commit(
        str(tmp_path), _batch_df(spark, [1, 2]), 0,
        partition_by=("o_orderstatus",),
    )
    v = write_checkpoint(str(tmp_path))
    cp = pq.read_table(
        str(tmp_path / "_delta_log" / f"{v:020d}.checkpoint.parquet")
    )
    names = set(cp.schema.names)
    assert {"txn", "add", "remove", "metaData", "protocol"} <= names
    # MAP physical type, per spec (not a struct)
    import pyarrow as pa

    pv_type = cp.schema.field("add").type.field("partitionValues").type
    assert pa.types.is_map(pv_type)
    rows = cp.to_pylist()
    assert any(
        r["txn"] and r["txn"]["appId"] == "spark-graft-delta-sink"
        and r["txn"]["version"] == 0
        for r in rows
    )
    assert any(
        r["protocol"] and r["protocol"]["minReaderVersion"] == 1
        for r in rows
    )
    # the map-shaped partitionValues replays into pruning (ADVICE:
    # externally-written checkpoints store a MAP, not a struct)
    snap = snapshot_files(
        str(tmp_path), partition_filter={"o_orderstatus": "F"}
    )
    assert snap["files"] and all(
        "o_orderstatus=F" in f for f in snap["files"]
    )


def test_empty_unpartitioned_snapshot_reads_as_empty_df(
    tmp_path, spark
):
    """ADVICE: an unpartitioned snapshot with zero live files (e.g.
    overwrite of an empty aggregate) must return an empty DataFrame,
    not raise from spark.read.parquet() with no paths."""
    _commit(spark, tmp_path, [("a.parquet", _rows(0, 3, "a"))])
    _commit(spark, tmp_path, remove_paths=["a.parquet"])
    df = read_delta_snapshot(spark, str(tmp_path))
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["k", "v"]


def test_partitioned_read_preserves_schema_order(tmp_path, spark):
    """ADVICE: real Delta returns columns in metaData schemaString
    order even when partition columns sit in the middle — positional
    consumers must see the declared order, not partitions-last."""
    from kafka_spark_streaming_app_spark.queries.formats import (
        _delta_stream_commit,
    )

    _delta_stream_commit(
        str(tmp_path), _batch_df(spark, [1, 2]), 0,
        partition_by=("o_orderstatus",),
    )
    df = read_delta_snapshot(spark, str(tmp_path))
    # declared order in _delta_stream_commit's metaData:
    assert df.columns == [
        "o_orderkey", "o_orderstatus", "o_orderpriority", "cents"
    ]


def test_stats_based_data_skipping(tmp_path, spark):
    """add actions carry per-file minValues/maxValues (Delta spec);
    a range data_filter prunes the FILE LIST from the log, survives
    checkpoint + log retention, and files without stats are never
    excluded (stats may only prune, never lose rows)."""
    import json as _json

    from kafka_spark_streaming_app_spark.queries.formats import (
        _delta_stream_commit,
    )
    from kafka_spark_streaming_app_spark.sources.deltalog import (
        cleanup_log,
        write_checkpoint,
    )

    def bdf(lo, hi):
        return spark.createDataFrame(
            [(k, "O", "1-URGENT", k * 100) for k in range(lo, hi)],
            "o_orderkey long, o_orderstatus string, "
            "o_orderpriority string, cents long",
        ).coalesce(1)

    for b, (lo, hi) in enumerate([(0, 100), (100, 200), (200, 300)]):
        _delta_stream_commit(str(tmp_path), bdf(lo, hi), b)
    # every add action carries spec-shaped stats JSON
    with open(tmp_path / "_delta_log" / f"{0:020d}.json") as fh:
        adds = [
            _json.loads(line)["add"]
            for line in fh
            if '"add"' in line
        ]
    st = _json.loads(adds[0]["stats"])
    assert st["numRecords"] == 100
    assert st["minValues"]["o_orderkey"] == 0
    assert st["maxValues"]["o_orderkey"] == 99
    full = snapshot_files(str(tmp_path))
    pruned = snapshot_files(
        str(tmp_path), data_filter={"o_orderkey": (120, 150)}
    )
    assert 0 < len(pruned["files"]) < len(full["files"])
    df = read_delta_snapshot(
        spark, str(tmp_path), data_filter={"o_orderkey": (120, 150)}
    ).filter("o_orderkey BETWEEN 120 AND 150")
    assert df.count() == 31
    # stats survive checkpoint + retention
    write_checkpoint(str(tmp_path))
    assert cleanup_log(str(tmp_path))
    snap_cp = snapshot_files(
        str(tmp_path), data_filter={"o_orderkey": (120, 150)}
    )
    assert snap_cp["from_checkpoint"]
    assert snap_cp["files"] == pruned["files"]
    # a stats-less add (foreign writer) is never excluded
    v = snapshot_files(str(tmp_path))["version"] + 1
    import os as _os

    foreign = dict(adds[0])
    foreign.pop("stats")
    foreign["path"] = "batch-00000/foreign-copy.parquet"
    import shutil as _shutil

    src = tmp_path / adds[0]["path"]
    _shutil.copy(src, tmp_path / foreign["path"])
    with open(tmp_path / "_delta_log" / f"{v:020d}.json", "w") as fh:
        fh.write(_json.dumps({"add": foreign}) + "\n")
    snap2 = snapshot_files(
        str(tmp_path), data_filter={"o_orderkey": (120, 150)}
    )
    assert foreign["path"] in snap2["files"]  # kept: cannot prove miss


def test_schema_evolution_is_a_metadata_action(tmp_path, spark):
    """A later commit's metaData action evolves the schema; replay
    takes the latest, old files read as null for the new column, and
    a checkpoint written AFTER evolution carries the evolved schema
    through log retention."""
    from kafka_spark_streaming_app_spark.queries.formats import (
        _EVOLVE_FIELDS_V1,
        _EVOLVE_FIELDS_V2,
        _delta_stream_commit,
    )
    from kafka_spark_streaming_app_spark.sources.deltalog import (
        cleanup_log,
        write_checkpoint,
    )

    v1 = spark.createDataFrame(
        [(2, "O", 200), (4, "O", 400)],
        "o_orderkey long, o_orderstatus string, cents long",
    ).coalesce(1)
    v2 = spark.createDataFrame(
        [(1, "F", "1-URGENT", 100)],
        "o_orderkey long, o_orderstatus string, "
        "o_orderpriority string, cents long",
    ).select("o_orderkey", "o_orderstatus", "cents", "o_orderpriority"
             ).coalesce(1)
    _delta_stream_commit(str(tmp_path), v1, 0, fields=_EVOLVE_FIELDS_V1)
    _delta_stream_commit(str(tmp_path), v2, 2, fields=_EVOLVE_FIELDS_V2)
    df = read_delta_snapshot(spark, str(tmp_path))
    assert df.columns == [
        "o_orderkey", "o_orderstatus", "cents", "o_orderpriority",
    ]
    rows = {r.o_orderkey: r.o_orderpriority for r in df.collect()}
    assert rows == {1: "1-URGENT", 2: None, 4: None}
    # time travel to the pre-evolution version sees the OLD schema
    old = read_delta_snapshot(spark, str(tmp_path), version=0)
    assert old.columns == ["o_orderkey", "o_orderstatus", "cents"]
    # evolved schema survives checkpoint + retention
    write_checkpoint(str(tmp_path))
    assert cleanup_log(str(tmp_path))
    again = read_delta_snapshot(spark, str(tmp_path))
    assert again.columns == df.columns and again.count() == 3


def test_incremental_append_scan_and_gates(tmp_path, spark):
    """(from, to] append scan returns exactly the later commits'
    rows; an empty range is an empty DataFrame; a remove in the range
    (compaction/CDF territory) gates loudly."""
    from kafka_spark_streaming_app_spark.queries.formats import (
        _delta_stream_commit,
    )
    from kafka_spark_streaming_app_spark.sources.deltalog import (
        incremental_add_files,
        read_delta_incremental,
    )

    _delta_stream_commit(str(tmp_path), _batch_df(spark, [1, 2]), 0)
    _delta_stream_commit(str(tmp_path), _batch_df(spark, [3]), 2)
    _delta_stream_commit(str(tmp_path), _batch_df(spark, [4, 5]), 4)
    inc = read_delta_incremental(spark, str(tmp_path), from_version=0)
    assert sorted(r.o_orderkey for r in inc.collect()) == [3, 4, 5]
    window = read_delta_incremental(
        spark, str(tmp_path), from_version=0, to_version=1
    )
    assert sorted(r.o_orderkey for r in window.collect()) == [3]
    empty = read_delta_incremental(
        spark, str(tmp_path), from_version=2, to_version=2
    )
    assert empty.count() == 0
    # odd batch id 5 compacts batch 4 -> remove lands in the log
    _delta_stream_commit(str(tmp_path), _batch_df(spark, [6]), 5)
    with pytest.raises(NotImplementedError, match="removes"):
        incremental_add_files(str(tmp_path), 0)
    # a range BEFORE the compaction still works
    ok = incremental_add_files(str(tmp_path), 0, 2)
    assert len(ok["files"]) == 2


def test_deletion_vectors_merge_on_read(tmp_path, spark):
    """Inline DVs: delete-by-position rewrites no data parquet, the
    remove+re-add shape replays correctly, repeat deletes MERGE into
    the existing vector, DVs survive checkpoint + retention, and
    file-backed vectors gate loudly."""
    from kafka_spark_streaming_app_spark.operators.dvcodec import (
        dv_positions,
    )
    from kafka_spark_streaming_app_spark.queries.formats import (
        _delta_stream_commit,
    )
    from kafka_spark_streaming_app_spark.sources.deltalog import (
        cleanup_log,
        delete_rows_by_position,
        write_checkpoint,
    )

    _delta_stream_commit(
        str(tmp_path), _batch_df(spark, list(range(10))), 0
    )
    (rel,) = snapshot_files(str(tmp_path))["files"]
    before = open(tmp_path / rel, "rb").read()
    delete_rows_by_position(str(tmp_path), {rel: [1, 3, 5]})
    assert open(tmp_path / rel, "rb").read() == before  # untouched
    snap = snapshot_files(str(tmp_path))
    assert snap["files"] == [rel]  # same file, now DV'd
    dv = snap["deletion_vectors"][rel]
    assert dv["storageType"] == "i" and dv["cardinality"] == 3
    assert dv_positions(dv) == [1, 3, 5]
    got = sorted(
        r.o_orderkey
        for r in read_delta_snapshot(spark, str(tmp_path)).collect()
    )
    assert got == [0, 2, 4, 6, 7, 8, 9]
    # second delete merges with the existing vector
    delete_rows_by_position(str(tmp_path), {rel: [0]})
    snap2 = snapshot_files(str(tmp_path))
    assert dv_positions(snap2["deletion_vectors"][rel]) == [0, 1, 3, 5]
    # survives checkpoint + log retention
    write_checkpoint(str(tmp_path))
    assert cleanup_log(str(tmp_path))
    got2 = sorted(
        r.o_orderkey
        for r in read_delta_snapshot(spark, str(tmp_path)).collect()
    )
    assert got2 == [2, 4, 6, 7, 8, 9]
    # time travel to the pre-delete version sees everything
    assert read_delta_snapshot(spark, str(tmp_path), 2).count() == 6
    with pytest.raises(ValueError, match="not a live file"):
        delete_rows_by_position(str(tmp_path), {"ghost.parquet": [0]})
    # an unknown storageType still gates loudly at read time
    import json as _json

    v = snapshot_files(str(tmp_path))["version"] + 1
    a = dict(snapshot_files(str(tmp_path))["adds"][rel])
    a["deletionVector"] = {
        "storageType": "x", "pathOrInlineDv": "ab", "sizeInBytes": 1,
        "cardinality": 1,
    }
    with open(
        tmp_path / "_delta_log" / f"{v:020d}.json", "w"
    ) as fh:
        fh.write(_json.dumps({"add": a}) + "\n")
    with pytest.raises(NotImplementedError, match="storageType"):
        read_delta_snapshot(spark, str(tmp_path)).collect()


def test_change_feed_inserts_deletes_and_gates(tmp_path, spark):
    """table_changes: appends surface as inserts, DV commits surface
    exactly the NEWLY-deleted positions as deletes (earlier deletions
    are not repeated), windowed ranges work, and rewrite shapes gate
    loudly."""
    from kafka_spark_streaming_app_spark.queries.formats import (
        _delta_stream_commit,
    )
    from kafka_spark_streaming_app_spark.sources.deltalog import (
        delete_rows_by_position,
        table_changes,
    )

    _delta_stream_commit(str(tmp_path), _batch_df(spark, [1, 2]), 0)
    _delta_stream_commit(str(tmp_path), _batch_df(spark, [3, 4]), 2)
    (rel0, rel1) = snapshot_files(str(tmp_path))["files"]
    delete_rows_by_position(str(tmp_path), {rel0: [0]})   # v2: key 1
    delete_rows_by_position(str(tmp_path), {rel0: [1]})   # v3: key 2
    feed = table_changes(spark, str(tmp_path), from_version=0)
    got = sorted(
        (r._commit_version, r._change_type, r.o_orderkey)
        for r in feed.collect()
    )
    assert got == [
        (1, "insert", 3), (1, "insert", 4),
        (2, "delete", 1),           # only the NEW deletion at v2
        (3, "delete", 2),           # and only the new one at v3
    ]
    # windowed range: just the second delete
    tail = table_changes(spark, str(tmp_path), 2, 3)
    assert [(r._change_type, r.o_orderkey) for r in tail.collect()] == [
        ("delete", 2)
    ]
    assert table_changes(spark, str(tmp_path), 3, 3).count() == 0
    # a compaction (remove without DV re-add) gates: batch 5 compacts
    # batch 4's files into a rewrite commit
    _delta_stream_commit(str(tmp_path), _batch_df(spark, [5]), 4)
    _delta_stream_commit(str(tmp_path), _batch_df(spark, [6]), 5)
    with pytest.raises(NotImplementedError, match="jar-backed"):
        table_changes(spark, str(tmp_path), 0).collect()
    # but a range before it still reads
    assert table_changes(spark, str(tmp_path), 0, 3).count() == 4


def test_dv_commit_upgrades_protocol(tmp_path, spark):
    """The commit that introduces a deletion vector must raise the
    protocol to reader 3 / writer 7 with the deletionVectors table
    feature (spec: a v1 reader would ignore the deletionVector field
    and resurrect deleted rows), and the upgraded protocol must ride
    write_checkpoint. A table already upgraded gets no second
    protocol action."""
    from kafka_spark_streaming_app_spark.queries.formats import (
        _delta_stream_commit,
    )
    from kafka_spark_streaming_app_spark.sources.deltalog import (
        cleanup_log,
        delete_rows_by_position,
        write_checkpoint,
    )

    _delta_stream_commit(
        str(tmp_path), _batch_df(spark, list(range(6))), 0
    )
    assert snapshot_files(str(tmp_path))["protocol"] == {
        "minReaderVersion": 1, "minWriterVersion": 2,
    }
    (rel,) = snapshot_files(str(tmp_path))["files"]
    v = delete_rows_by_position(str(tmp_path), {rel: [1]})
    proto = snapshot_files(str(tmp_path))["protocol"]
    assert proto["minReaderVersion"] == 3
    assert proto["minWriterVersion"] == 7
    assert "deletionVectors" in proto["readerFeatures"]
    assert "deletionVectors" in proto["writerFeatures"]
    # the upgrade rides the SAME commit as the first DV
    actions = [
        json.loads(line)
        for line in open(
            tmp_path / "_delta_log" / f"{v:020d}.json"
        )
    ]
    assert any("protocol" in a for a in actions)
    assert any(
        a.get("add", {}).get("deletionVector") for a in actions
    )
    # an already-upgraded table writes no second protocol action
    v2 = delete_rows_by_position(str(tmp_path), {rel: [2]})
    actions2 = [
        json.loads(line)
        for line in open(
            tmp_path / "_delta_log" / f"{v2:020d}.json"
        )
    ]
    assert not any("protocol" in a for a in actions2)
    # checkpoint carries the feature lists through log retention
    write_checkpoint(str(tmp_path))
    cleanup_log(str(tmp_path))
    proto_cp = snapshot_files(str(tmp_path))["protocol"]
    assert proto_cp["minReaderVersion"] == 3
    assert "deletionVectors" in proto_cp["readerFeatures"]
    assert "deletionVectors" in proto_cp["writerFeatures"]
    got = sorted(
        r.o_orderkey
        for r in read_delta_snapshot(spark, str(tmp_path)).collect()
    )
    assert got == [0, 3, 4, 5]


def test_incremental_scan_skips_datachange_false_adds(
    tmp_path, spark
):
    """A dataChange=false re-add (stats-recompute commit from another
    writer: no paired remove) contributes NO rows to the incremental
    scan — the real Delta source's dataChange filter."""
    from kafka_spark_streaming_app_spark.queries.formats import (
        _delta_stream_commit,
    )
    from kafka_spark_streaming_app_spark.sources.deltalog import (
        incremental_add_files,
        read_delta_incremental,
    )

    _delta_stream_commit(str(tmp_path), _batch_df(spark, [1, 2]), 0)
    base = snapshot_files(str(tmp_path))
    (rel,) = base["files"]
    # foreign stats-recompute commit: re-add the same path with
    # dataChange=false and no remove
    a = dict(base["adds"][rel])
    a["dataChange"] = False
    v = base["version"] + 1
    with open(tmp_path / "_delta_log" / f"{v:020d}.json", "w") as fh:
        fh.write(json.dumps({"add": a}) + "\n")
    _delta_stream_commit(str(tmp_path), _batch_df(spark, [3]), 2)
    inc = incremental_add_files(str(tmp_path), 0)
    assert rel not in inc["files"] and len(inc["files"]) == 1
    got = read_delta_incremental(spark, str(tmp_path), 0)
    assert sorted(r.o_orderkey for r in got.collect()) == [3]


def test_null_partition_value_roundtrip(tmp_path, spark):
    """A null partition value lands as __HIVE_DEFAULT_PARTITION__ in
    the directory name; the add action must store a REAL null (not
    the literal string) and a None partition_filter must prune to
    exactly the null-keyed files."""
    from kafka_spark_streaming_app_spark.queries.formats import (
        _delta_stream_commit,
    )

    df = spark.createDataFrame(
        [(1, "F", "p", 100), (2, None, "p", 200), (3, None, "p", 300)],
        "o_orderkey long, o_orderstatus string, "
        "o_orderpriority string, cents long",
    ).coalesce(1)
    _delta_stream_commit(
        str(tmp_path), df, 0, partition_by=("o_orderstatus",)
    )
    snap = snapshot_files(str(tmp_path))
    pvs = [snap["partition_values"][p] for p in snap["files"]]
    assert {pv["o_orderstatus"] for pv in pvs} == {"F", None}
    assert not any(
        pv["o_orderstatus"] == "__HIVE_DEFAULT_PARTITION__"
        for pv in pvs
    )
    null_snap = snapshot_files(
        str(tmp_path), partition_filter={"o_orderstatus": None}
    )
    assert 0 < len(null_snap["files"]) < len(snap["files"])
    got = read_delta_snapshot(
        spark, str(tmp_path), partition_filter={"o_orderstatus": None}
    )
    assert sorted(r.o_orderkey for r in got.collect()) == [2, 3]


def test_commit_stats_are_collected_distributed(tmp_path, spark):
    """Per-file commit stats must come from ONE distributed job over
    the batch's paths, not a serial driver loop: during the commit
    the DRIVER process opens zero parquet footers (executor workers
    are separate processes, so a driver-side ParquetFile patch sees
    only driver opens). Stats content must be unchanged: numRecords/
    minValues/maxValues per file, and skipping still prunes."""
    from unittest import mock

    import pyarrow.parquet as _pq

    from kafka_spark_streaming_app_spark.queries.formats import (
        _delta_stream_commit,
    )

    df = _batch_df(spark, [1, 2, 3, 4]).repartition(4)
    real = _pq.ParquetFile
    driver_opens = []

    def _counting(*a, **k):
        driver_opens.append(a[0] if a else k)
        return real(*a, **k)

    with mock.patch.object(_pq, "ParquetFile", side_effect=_counting):
        _delta_stream_commit(str(tmp_path), df, 0)
    assert driver_opens == []  # O(1): zero driver-side footer opens
    snap = snapshot_files(str(tmp_path))
    assert len(snap["files"]) >= 2
    stats = [json.loads(snap["stats"][rel]) for rel in snap["files"]]
    assert sum(st["numRecords"] for st in stats) == 4
    for st in stats:
        if st["numRecords"]:
            assert "o_orderkey" in st["minValues"]
            assert "o_orderkey" in st["maxValues"]
    # skipping still prunes on the distributed-collected stats
    pruned = snapshot_files(
        str(tmp_path), data_filter={"o_orderkey": (1, 1)}
    )
    assert 0 < len(pruned["files"]) < len(snap["files"])


def test_file_backed_deletion_vectors(tmp_path, spark):
    """storageType "u": a delete set above the inline threshold lands
    in a spec-shaped deletion_vector_<uuid>.bin (version byte +
    [BE size][RoaringBitmapArray][CRC-32 BE]); the descriptor's z85
    UUID resolves the file, size/CRC mismatches gate loudly, merges
    re-read the file, vacuum spares .bin files, and the vector
    survives checkpoint + log retention."""
    import struct
    import zlib

    from kafka_spark_streaming_app_spark.operators.dvcodec import (
        dv_file_path,
        dv_positions,
    )
    from kafka_spark_streaming_app_spark.queries.formats import (
        _delta_stream_commit,
    )
    from kafka_spark_streaming_app_spark.sources.deltalog import (
        cleanup_log,
        delete_rows_by_position,
        vacuum,
        write_checkpoint,
    )

    _delta_stream_commit(
        str(tmp_path), _batch_df(spark, list(range(12))), 0
    )
    (rel,) = snapshot_files(str(tmp_path))["files"]
    delete_rows_by_position(
        str(tmp_path), {rel: [0, 2, 4]}, inline_threshold=0
    )
    dv = snapshot_files(str(tmp_path))["deletion_vectors"][rel]
    assert dv["storageType"] == "u"
    path = dv_file_path(dv, str(tmp_path))
    assert os.path.basename(path).startswith("deletion_vector_")
    blob = open(path, "rb").read()
    assert blob[0] == 1  # format version byte
    (size,) = struct.unpack_from(">i", blob, dv["offset"])
    assert size == dv["sizeInBytes"]
    data = blob[dv["offset"] + 4 : dv["offset"] + 4 + size]
    (crc,) = struct.unpack_from(">I", blob, dv["offset"] + 4 + size)
    assert zlib.crc32(data) & 0xFFFFFFFF == crc
    assert dv_positions(dv, str(tmp_path)) == [0, 2, 4]
    got = sorted(
        r.o_orderkey
        for r in read_delta_snapshot(spark, str(tmp_path)).collect()
    )
    assert got == [1, 3, 5, 6, 7, 8, 9, 10, 11]
    # a second delete MERGES by re-reading the file-backed vector
    delete_rows_by_position(
        str(tmp_path), {rel: [1]}, inline_threshold=0
    )
    dv2 = snapshot_files(str(tmp_path))["deletion_vectors"][rel]
    assert dv_positions(dv2, str(tmp_path)) == [0, 1, 2, 4]
    # corruption gates loudly
    good = open(dv_file_path(dv2, str(tmp_path)), "rb").read()
    bad = bytearray(good)
    bad[-5] ^= 0xFF  # flip a payload byte, keep sizes intact
    open(dv_file_path(dv2, str(tmp_path)), "wb").write(bytes(bad))
    with pytest.raises(ValueError, match="CRC-32|mismatch"):
        dv_positions(dv2, str(tmp_path))
    open(dv_file_path(dv2, str(tmp_path)), "wb").write(good)
    # checkpoint + retention + vacuum keep the vector alive
    delete_rows_by_position(
        str(tmp_path), {rel: [3]}, inline_threshold=0
    )
    write_checkpoint(str(tmp_path))
    cleanup_log(str(tmp_path))
    vacuum(str(tmp_path))
    got2 = sorted(
        r.o_orderkey
        for r in read_delta_snapshot(spark, str(tmp_path)).collect()
    )
    assert got2 == [5, 6, 7, 8, 9, 10, 11]


def test_column_mapping_name_mode_read(tmp_path, spark):
    """delta.columnMapping.mode=name (how externally-written Delta
    tables increasingly ship): data parquet carries PHYSICAL column
    names (col-<uuid>); the reader must resolve them through the
    schema field metadata and surface LOGICAL names — without mapping
    support the table would silently read as all-null columns. id
    mode and mapped+partitioned shapes gate loudly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    log_dir = tmp_path / "_delta_log"
    os.makedirs(log_dir)
    pq.write_table(
        pa.table(
            {
                "col-aaa111": pa.array([1, 2, 3], pa.int64()),
                "col-bbb222": pa.array(["x", "y", "z"], pa.string()),
            }
        ),
        tmp_path / "part-0.parquet",
    )
    schema_string = json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "k", "type": "long", "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 1,
                        "delta.columnMapping.physicalName": "col-aaa111",
                    },
                },
                {
                    "name": "v", "type": "string", "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 2,
                        "delta.columnMapping.physicalName": "col-bbb222",
                    },
                },
            ],
        }
    )

    def _meta(mode):
        return {
            "metaData": {
                "id": "mapped-table",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_string,
                "partitionColumns": [],
                "configuration": {
                    "delta.columnMapping.mode": mode,
                    "delta.columnMapping.maxColumnId": "2",
                },
                "createdTime": 0,
            }
        }

    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        _meta("name"),
        {"add": {"path": "part-0.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ]
    with open(log_dir / f"{0:020d}.json", "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    snap = snapshot_files(str(tmp_path))
    assert (
        snap["configuration"]["delta.columnMapping.mode"] == "name"
    )
    df = read_delta_snapshot(spark, str(tmp_path))
    assert df.columns == ["k", "v"]
    assert sorted((r.k, r.v) for r in df.collect()) == [
        (1, "x"), (2, "y"), (3, "z"),
    ]
    # the mode survives a checkpoint (configuration rides metaData)
    from kafka_spark_streaming_app_spark.sources.deltalog import (
        cleanup_log,
        write_checkpoint,
    )

    write_checkpoint(str(tmp_path))
    cleanup_log(str(tmp_path))
    df2 = read_delta_snapshot(spark, str(tmp_path))
    assert sorted((r.k, r.v) for r in df2.collect()) == [
        (1, "x"), (2, "y"), (3, "z"),
    ]
    # filters on mapped tables gate loudly (physical-name keys)
    with pytest.raises(NotImplementedError, match="column mapping"):
        read_delta_snapshot(
            spark, str(tmp_path), data_filter={"k": (1, 2)}
        )
    # id mode gates loudly
    with open(log_dir / f"{1:020d}.json", "w") as fh:
        fh.write(json.dumps(_meta("id")) + "\n")
    with pytest.raises(NotImplementedError, match="columnMapping"):
        read_delta_snapshot(spark, str(tmp_path))


def test_v2_sidecar_checkpoint_roundtrip(tmp_path, spark):
    """V2 checkpoints: a UUID-named NNNN.checkpoint.<id>.parquet
    manifest with checkpointMetadata + sidecar actions referencing
    _delta_log/_sidecars/ parquet files that carry the adds. The
    reader discovers the manifest by listing (4 dot-segments),
    splices the sidecar rows into the replay, survives log
    retention, and gates loudly on a missing sidecar."""
    import glob as _glob

    from kafka_spark_streaming_app_spark.queries.formats import (
        _delta_stream_commit,
    )
    from kafka_spark_streaming_app_spark.sources.deltalog import (
        cleanup_log,
        write_checkpoint,
    )

    for b, keys in enumerate(([1, 2], [3, 4], [5, 6])):
        _delta_stream_commit(str(tmp_path), _batch_df(spark, keys), 2 * b)
    before = sorted(
        r.o_orderkey
        for r in read_delta_snapshot(spark, str(tmp_path)).collect()
    )
    v = write_checkpoint(str(tmp_path), parts=2, v2=True)
    log_dir = tmp_path / "_delta_log"
    manifests = [
        f for f in os.listdir(log_dir)
        if f.startswith(f"{v:020d}.checkpoint.")
    ]
    assert len(manifests) == 1
    assert len(manifests[0].split(".")) == 4  # UUID-named, not classic
    sidecars = os.listdir(log_dir / "_sidecars")
    assert len(sidecars) == 2  # parts=2 file-action sidecars
    assert cleanup_log(str(tmp_path))
    snap = snapshot_files(str(tmp_path))
    assert snap["from_checkpoint"] and snap["txns"]  # ledger intact
    after = sorted(
        r.o_orderkey
        for r in read_delta_snapshot(spark, str(tmp_path)).collect()
    )
    assert after == before == [1, 2, 3, 4, 5, 6]
    # appends on top of the v2 checkpoint replay correctly
    _delta_stream_commit(str(tmp_path), _batch_df(spark, [7]), 6)
    assert read_delta_snapshot(spark, str(tmp_path)).count() == 7
    # a missing sidecar is a loud, specific error
    os.remove(log_dir / "_sidecars" / sidecars[0])
    with pytest.raises(NotImplementedError, match="sidecar"):
        snapshot_files(str(tmp_path))


def test_torn_commit_fails_the_writer_and_keeps_every_commit(
    tmp_path, spark
):
    """A commit N>0 whose last line was cut off is not a fresh table:
    the next commit raises and every existing commit file stays
    byte-identical. Reading the replay error as "fresh" would number
    the next commit 0 and write it over the table's protocol,
    metaData and first adds."""
    from kafka_spark_streaming_app_spark.queries.formats import (
        _delta_stream_commit,
    )

    _delta_stream_commit(str(tmp_path), _batch_df(spark, [1, 2]), 0)
    _delta_stream_commit(str(tmp_path), _batch_df(spark, [3, 4]), 2)
    log = tmp_path / "_delta_log"
    torn = log / f"{1:020d}.json"
    body = torn.read_bytes()
    last = body.rstrip(b"\n").rfind(b"\n") + 1
    torn.write_bytes(body[: last + 10])  # the last line, cut off
    before = {f: (log / f).read_bytes() for f in os.listdir(log)}
    with pytest.raises(ValueError):
        _delta_stream_commit(str(tmp_path), _batch_df(spark, [5]), 4)
    assert {f: (log / f).read_bytes() for f in os.listdir(log)} == before


def test_crash_before_publish_replays_exactly_once(
    tmp_path, spark, monkeypatch
):
    """A writer that dies while writing commit N leaves only an
    unpublished temp file, which the log listing never matches: the
    table stays at N-1, and the batch's replay commits it exactly
    once. Publishing never replaces an existing version."""
    from kafka_spark_streaming_app_spark.queries.formats import (
        _delta_stream_commit,
    )
    from kafka_spark_streaming_app_spark.sources import deltalog

    class Crash(Exception):
        pass

    real_dumps = json.dumps

    def dies_at_first_add(obj, *a, **k):
        if isinstance(obj, dict) and "add" in obj:
            raise Crash
        return real_dumps(obj, *a, **k)

    log = tmp_path / "_delta_log"
    _delta_stream_commit(str(tmp_path), _batch_df(spark, [1, 2]), 0)
    with monkeypatch.context() as m:
        m.setattr(deltalog.json, "dumps", dies_at_first_add)
        with pytest.raises(Crash):
            _delta_stream_commit(str(tmp_path), _batch_df(spark, [3, 4]), 2)
    assert not (log / f"{1:020d}.json").exists()
    (tmp,) = [f for f in os.listdir(log) if f.endswith(".tmp")]
    assert (log / tmp).read_text()  # written, not published
    assert snapshot_files(str(tmp_path))["version"] == 0
    assert DeltaCommitter(str(tmp_path)).committed_batch_id() == 0
    assert _delta_stream_commit(
        str(tmp_path), _batch_df(spark, [3, 4]), 2
    ) == 1
    assert _delta_stream_commit(
        str(tmp_path), _batch_df(spark, [3, 4]), 2
    ) is None
    assert sorted(f for f in os.listdir(log) if f.endswith(".json")) == [
        f"{v:020d}.json" for v in (0, 1)
    ]
    got = sorted(
        r.o_orderkey
        for r in read_delta_snapshot(spark, str(tmp_path)).collect()
    )
    assert got == [1, 2, 3, 4]
    # put-if-absent: a second writer of version 0 fails, leaving it whole
    v0 = (log / f"{0:020d}.json").read_bytes()
    with pytest.raises(FileExistsError):
        DeltaCommitter(str(tmp_path))._publish(0, [{"commitInfo": {}}])
    assert (log / f"{0:020d}.json").read_bytes() == v0
    assert [f for f in os.listdir(log) if f.endswith(".tmp")] == [tmp]


def test_delete_writes_no_checkpoint_and_names_its_operation(
    tmp_path, spark
):
    """A DELETE that lands on version 9 leaves checkpointing to the
    sink that owns the table's interval: no write-side checkpoint, and
    the commit closes with commitInfo {operation: DELETE}."""
    from kafka_spark_streaming_app_spark.sources.deltalog import (
        delete_rows_by_position,
    )

    _commit(spark, tmp_path, [("a.parquet", _rows(0, 5, "a"))])
    c = DeltaCommitter(str(tmp_path))
    for v in range(1, 9):
        assert c.commit(None, []) == v
    assert delete_rows_by_position(str(tmp_path), {"a.parquet": [0]}) == 9
    log = tmp_path / "_delta_log"
    assert not (log / "_last_checkpoint").exists()
    assert not [f for f in os.listdir(log) if ".checkpoint." in f]
    lines = (log / f"{9:020d}.json").read_text().splitlines()
    assert json.loads(lines[-1]) == {"commitInfo": {"operation": "DELETE"}}
    assert read_delta_snapshot(spark, str(tmp_path)).count() == 4


def test_commit_files_take_the_umask_default_mode(tmp_path):
    """Commit files are readable by whoever may read the table: the
    temp file a commit is published from, and so the linked commit
    file, gets the umask's default mode, not an owner-only one."""
    umask = os.umask(0o022)
    try:
        DeltaCommitter(str(tmp_path), _FIELDS).commit(None, [])
        mode = os.stat(tmp_path / "_delta_log" / f"{0:020d}.json").st_mode
    finally:
        os.umask(umask)
    assert mode & 0o777 == 0o644

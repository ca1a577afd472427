"""Bucket-partitioned, idempotent foreachBatch state maintenance.

The naive foreachBatch continuous-aggregate pattern (read the whole
state table, union the batch, re-aggregate, overwrite the whole
directory) has per-micro-batch I/O proportional to TOTAL state size.
For sketch-sized state (a few thousand (day, bin) rows) that is fine;
for key-cardinality-sized state (a CDC latest-change-per-key table
over a 100 TB key space) it makes every micro-batch cost a full
snapshot rewrite.

This module provides two entry points matched to the two state-size
regimes: :func:`merge_into_partitioned_state` (bucket-partitioned,
per-batch I/O ∝ touched keys — for key-cardinality state) and
:func:`merge_into_compact_state` (whole-state swap in one Spark job —
for sketch-sized state, where the total is bounded at any data scale
and per-partition writers would dominate the per-trigger cost).
The partitioned path fixes both problems flagged in review:

* **Per-batch I/O ∝ touched keys, not total keys.** The state table
  is written ``partitionBy(bucket_col)`` (a stable hash bucket of the
  merge key, or a natural partition such as the event day). Each
  batch (1) derives the distinct buckets it touches — a driver-side
  collect of at most ``n_buckets`` partition VALUES, metadata not
  data, (2) reads the existing state with a literal ``isin`` filter
  so parquet partition pruning skips every untouched bucket, and
  (3) writes with dynamic partition overwrite
  (``partitionOverwriteMode=dynamic``) so only the touched partition
  directories are replaced. Untouched bucket files are never read,
  never rewritten.

* **At-least-once replays don't double-apply.** foreachBatch may
  re-invoke a batch after a failure. Each successful merge records a
  ``batch-<id>`` done-marker under ``<state_root>/_applied``; a
  replayed batch id returns without touching state.

* **Per-trigger fixed cost is two Spark jobs, not three.** At small
  batch sizes the wall-time of this design is pure per-trigger fixed
  cost, so every job counts. The clean path runs exactly (1) the
  touched-bucket collect, which doubles as the lazy-checkpoint
  materialization of the batch contribution, and (2) ONE job that
  reads the pruned existing state, merges, and writes the new touched
  partitions to a hidden per-batch STAGING sibling of the state dir.
  Promotion of staged partitions into the live state is driver-side
  ``os.rename`` per bucket (retire-old → move-new → clean) — renames
  are metadata ops, atomic per directory on a local filesystem, and
  replace both the eager pre-write checkpoint barrier (staging never
  overlaps the read path, so Spark's self-overwrite hazard never
  arises) and the dynamic-partition-overwrite commit protocol of the
  previous design.

* **Partial commits are reconciled per partition, not assumed away.**
  The per-bucket rename commit is NOT atomic across partition
  directories: a crash mid-promotion can leave SOME touched partitions
  already containing the batch while others don't, and a markerless
  retry of an additive merge would double-add to the committed ones.
  Three mechanisms close this window exactly:

  - every state row carries an internal ``_applied_batch`` column
    stamped with the batch id that last rewrote its partition — the
    stamp commits atomically WITH the data, per partition (it rides
    the bucket's single rename);
  - a ``batch-<id>.intent`` marker is written after staging succeeds
    and immediately before the renames, and promoted to the
    done-marker after them — staging itself never touches live state,
    so a crash during the Spark write needs no reconciliation at all;
  - a bucket is retired as a hidden ``.retired-batch-<id>-…`` sibling
    before its staged replacement is moved in, so the narrow window
    between the two renames cannot lose the pre-batch state: a retry
    restores any retired bucket whose replacement never landed.

  A retry that finds the intent marker but no done-marker first
  restores orphaned retired buckets, then reads the touched
  partitions and EXCLUDES every bucket whose ``_applied_batch``
  already equals this batch id (those partitions hold the batch —
  rewriting them would double-apply an additive merge), merging only
  into the buckets the crashed attempt never committed. The clean
  path (no intent marker) pays no extra job for this. Readers use
  :func:`read_state`, which drops the internal column.

* **Non-local state roots fail fast.** Existence checks and markers
  use driver-local ``os`` calls (foreachBatch runs on the driver).
  Given an ``hdfs://``/``s3a://`` URI those calls would not error —
  they would silently report "no state", making ``merge_fn`` replace
  accumulated state with the batch contribution alone (data loss for
  additive merges) and replay markers would never fire. We therefore
  reject any URI-schemed path up front; routing markers through the
  Hadoop FileSystem client (``spark._jvm.org.apache.hadoop.fs``) is
  the documented extension point for object-store deployments, and a
  transactional table format (Delta/Iceberg ``txnAppId``/
  ``txnVersion``) replaces this module wholesale where available.

* **Missing state is detected, not inferred from an exception.** The
  first batch sees "no state yet" via an explicit existence check
  rather than a bare ``except Exception`` that would also swallow a
  genuine read failure (corrupt footer, permission error) and
  silently discard all accumulated state.
"""

from __future__ import annotations

import os
from typing import Callable, Optional
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import session

__all__ = [
    "merge_into_partitioned_state",
    "merge_into_compact_state",
    "applied_marker_dir",
    "read_state",
    "APPLIED_BATCH_COL",
]

# Internal provenance column: the batch id that last rewrote the row's
# partition. Stamped on write, stripped by read_state() before state is
# handed back to query logic.
APPLIED_BATCH_COL = "_applied_batch"


def applied_marker_dir(state_root: str) -> str:
    return os.path.join(state_root, "_applied")


def _require_local(path: str, what: str) -> None:
    """Fail fast on URI-schemed paths: the marker/existence logic uses
    driver-local os calls, which silently see "nothing there" for
    hdfs://, s3a://, file:// etc. — turning a remote state root into
    data loss instead of an error."""
    scheme = urlsplit(path).scheme
    if scheme:
        raise ValueError(
            f"merge_into_partitioned_state: {what} {path!r} has URI "
            f"scheme {scheme!r}, but state existence checks and replay "
            "markers use driver-local filesystem calls; a remote root "
            "would silently read as empty (losing accumulated state) "
            "and markers would never fire. Use a driver-local path, or "
            "route the marker/existence checks through the Hadoop "
            "FileSystem client / a transactional table format for "
            "object-store state."
        )


def _staging_dir(state_dir: str, batch_id: int) -> str:
    """Hidden per-batch staging sibling of the state dir. A sibling
    (same parent directory) guarantees ``os.rename`` into the state
    dir stays on one filesystem; the leading dot keeps Spark's file
    listing and :func:`_state_exists` from ever seeing it."""
    parent, name = os.path.split(state_dir.rstrip("/"))
    return os.path.join(parent, f".{name}.staging-batch-{batch_id}")


def _retired_name(batch_id: int, part_dir: str) -> str:
    return f".retired-batch-{batch_id}-{part_dir}"


def _restore_retired(state_dir: str, batch_id: int) -> None:
    """Repair the state dir after a crash mid-promotion of THIS batch.

    For every ``.retired-batch-<id>-<bucket>`` left by a crashed
    attempt: if the live bucket dir exists, the staged replacement
    landed (the retired copy is obsolete — delete it); if the live dir
    is missing, the crash hit between retire and move — rename the
    retired copy back so the pre-batch state is intact and the bucket
    re-merges normally (its stamp is not this batch id).
    """
    import shutil

    if not os.path.isdir(state_dir):
        return
    prefix = _retired_name(batch_id, "")
    for entry in os.listdir(state_dir):
        if not entry.startswith(prefix):
            continue
        live = os.path.join(state_dir, entry[len(prefix):])
        retired = os.path.join(state_dir, entry)
        if os.path.isdir(live):
            shutil.rmtree(retired)
        else:
            os.rename(retired, live)


def _promote_staged(
    state_dir: str, staging: str, batch_id: int
) -> None:
    """Move every staged partition directory into the live state dir:
    retire the old bucket (atomic rename to a hidden name), move the
    staged bucket in (atomic rename), then drop the retired copies.
    Each bucket's data+stamp commits in its single move rename."""
    import shutil

    os.makedirs(state_dir, exist_ok=True)
    staged = [
        e
        for e in os.listdir(staging)
        if "=" in e and not e.startswith(("_", "."))
    ]
    retired: list[str] = []
    for part_dir in staged:
        live = os.path.join(state_dir, part_dir)
        if os.path.isdir(live):
            dst = os.path.join(state_dir, _retired_name(batch_id, part_dir))
            if os.path.isdir(dst):  # leftover from a crashed attempt
                shutil.rmtree(dst)
            os.rename(live, dst)
            retired.append(dst)
        os.rename(os.path.join(staging, part_dir), live)
    for dst in retired:
        shutil.rmtree(dst)
    shutil.rmtree(staging, ignore_errors=True)


def _gc_committed_leftovers(
    state_dir: str, batch_id: int, intent: str
) -> None:
    """Garbage-collect debris a crash can leave AFTER this batch's
    done-marker was written: the stale ``.intent`` file, the hidden
    staging sibling, and retired copies (whole-state or per-bucket).
    Safe precisely because the caller saw the done-marker — promotion
    completed, so every one of these is obsolete by definition. Runs
    on the replay short-circuit, which would otherwise preserve the
    litter forever (each leftover is one crashed trigger's worth, but
    a long-lived pipeline accumulates them)."""
    import shutil

    if os.path.exists(intent):
        os.remove(intent)
    staging = _staging_dir(state_dir, batch_id)
    if os.path.isdir(staging):
        shutil.rmtree(staging, ignore_errors=True)
    retired = _compact_retired_dir(state_dir, batch_id)
    if os.path.isdir(retired):
        shutil.rmtree(retired, ignore_errors=True)
    if os.path.isdir(state_dir):
        prefix = _retired_name(batch_id, "")
        for entry in os.listdir(state_dir):
            if entry.startswith(prefix):
                shutil.rmtree(
                    os.path.join(state_dir, entry), ignore_errors=True
                )


def _state_exists(state_dir: str) -> bool:
    """True when a previous batch has committed state. Checks for the
    partition directories themselves (dynamic partition overwrite
    commits per-partition), not just the root dir which tempfile may
    have pre-created."""
    if not os.path.isdir(state_dir):
        return False
    return any(
        e for e in os.listdir(state_dir) if not e.startswith(("_", "."))
    )


def read_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Read the persistent state table, stripping the internal
    provenance column. All query-level readers of state maintained by
    :func:`merge_into_partitioned_state` should use this instead of a
    raw ``spark.read.parquet``."""
    df = spark.read.parquet(state_dir)
    if APPLIED_BATCH_COL in df.columns:
        df = df.drop(APPLIED_BATCH_COL)
    return df


def merge_into_partitioned_state(
    state_dir: str,
    batch_id: int,
    part: DataFrame,
    merge_fn: Callable[[Optional[DataFrame], DataFrame], DataFrame],
    bucket_col: str,
    applied_dir: str | None = None,
    shuffle_partitions: int | None = None,
    write_partitions: int | None = None,
) -> bool:
    """Merge one micro-batch's pre-aggregated contribution ``part``
    into the persistent state at ``state_dir``.

    ``part`` must already carry ``bucket_col`` (the partition column)
    and be pre-aggregated so that ``merge_fn(existing, part)`` yields
    the new state restricted to the touched buckets. ``merge_fn``
    receives ``None`` for ``existing`` on the first batch; when it
    receives a DataFrame, the internal provenance column has already
    been stripped.

    ``merge_fn`` contract: a touched bucket can be REPLACED or grown,
    never emptied. Promotion moves exactly the partition directories
    the merged output produced, so a touched bucket whose merged
    result has zero rows writes no staged partition and its previous
    live rows survive unchanged. Every in-repo state shape satisfies
    this by construction (latest-wins, additive, bounded-sample — all
    row-preserving); a shape that needs deletion must encode it as
    tombstone rows, not as row removal.

    ``shuffle_partitions`` temporarily overrides the session shuffle
    width for this batch's jobs (the contribution's pre-aggregation
    plans lazily, so it is resolved here). State merges shuffle
    state-sized data, not input-sized data: sketch/rollup state is a
    few thousand rows, and a 32-wide (or cluster-default-wide) shuffle
    pays per-partition scheduling for almost entirely empty tasks
    every trigger. Size it like any production shuffle — by the
    state's volume, not the stream's.

    ``write_partitions`` controls the staged write layout: ``None``
    (default) hash-repartitions by ``bucket_col`` — one writer task
    and one output file per touched bucket, the layout a
    key-cardinality-sized state (CDC over a wide key space) needs at
    scale; a small int coalesces to that many writer tasks (narrow, no
    extra shuffle) — right for sketch-sized state where one task can
    write every touched bucket's file faster than a shuffle round.

    Returns True when the batch was applied, False when it was skipped
    as an already-applied replay.
    """
    _require_local(state_dir, "state_dir")
    marker_root = applied_dir or applied_marker_dir(
        os.path.dirname(state_dir)
    )
    _require_local(marker_root, "applied marker dir")
    marker = os.path.join(marker_root, f"batch-{batch_id}")
    intent = marker + ".intent"
    if os.path.exists(marker):
        _gc_committed_leftovers(state_dir, batch_id, intent)
        return False

    spark = part.sparkSession
    # The batch contribution is referenced twice (touched-bucket list
    # + merge input); barrier it so the upstream micro-batch plan runs
    # once. The checkpoint is LAZY and the touched-bucket collect is
    # its materializing job — one job instead of checkpoint+collect
    # (per-trigger fixed costs are the whole price of this design at
    # small batch sizes, so every job counts).
    with session.shuffle_partitions(spark, shuffle_partitions):
        return _merge_impl(
            spark, state_dir, batch_id, part, merge_fn, bucket_col,
            marker, intent, marker_root, write_partitions,
        )


def _merge_impl(
    spark: SparkSession,
    state_dir: str,
    batch_id: int,
    part: DataFrame,
    merge_fn: Callable[[Optional[DataFrame], DataFrame], DataFrame],
    bucket_col: str,
    marker: str,
    intent: str,
    marker_root: str,
    write_partitions: int | None,
) -> bool:
    part = part.localCheckpoint(eager=False)
    touched = [
        r[0] for r in part.select(bucket_col).distinct().collect()
    ]  # ≤ n_buckets partition VALUES — pruning metadata, not data
    os.makedirs(marker_root, exist_ok=True)
    if not touched:
        open(marker, "w").close()
        return True

    if os.path.exists(intent):
        # A previous attempt at THIS batch crashed during promotion:
        # restore any bucket it retired but never replaced BEFORE the
        # state read below lists files.
        _restore_retired(state_dir, batch_id)

    if _state_exists(state_dir):
        existing = spark.read.parquet(state_dir).filter(
            F.col(bucket_col).isin(touched)
        )
    else:
        existing = None

    if (
        existing is not None
        and os.path.exists(intent)
        and APPLIED_BATCH_COL in existing.columns
    ):
        # A previous attempt at THIS batch declared intent but never
        # reached the done-marker: its per-bucket rename promotion may
        # have committed a subset of the touched partitions. Partitions
        # whose rows are stamped with this batch id already contain the
        # batch — exclude them so the retry cannot double-apply an
        # additive merge; merge only into the rest.
        committed = {
            r[0]
            for r in existing.filter(
                F.col(APPLIED_BATCH_COL) == batch_id
            )
            .select(bucket_col)
            .distinct()
            .collect()
        }
        if committed:
            touched = [b for b in touched if b not in committed]
            if not touched:
                open(marker, "w").close()
                os.remove(intent)
                return True
            part = part.filter(F.col(bucket_col).isin(touched))
            existing = existing.filter(F.col(bucket_col).isin(touched))

    if existing is not None and APPLIED_BATCH_COL in existing.columns:
        existing = existing.drop(APPLIED_BATCH_COL)
    merged = merge_fn(existing, part).withColumn(
        APPLIED_BATCH_COL, F.lit(batch_id)
    )
    # ONE job: read pruned state + batch contribution, merge, write
    # the new touched partitions to the hidden staging sibling. The
    # staging path never overlaps the read path, so no barrier is
    # needed before it. The state is compact by construction: one file
    # per bucket (default bucket-hash repartition) or per writer task
    # (small coalesce for sketch-sized state).
    if write_partitions is None:
        merged = merged.repartition(bucket_col)
    else:
        merged = merged.coalesce(write_partitions)
    staging = _staging_dir(state_dir, batch_id)
    (
        merged.write.mode("overwrite")
        .partitionBy(bucket_col)
        .parquet(staging)
    )
    # Declare intent BEFORE the non-atomic multi-bucket promotion so a
    # crashed attempt is distinguishable from a never-started one.
    open(intent, "w").close()
    _promote_staged(state_dir, staging, batch_id)
    open(marker, "w").close()
    os.remove(intent)
    return True


# Name of the batch-id sidecar file written into a compact-mode staged
# state dir (rides the atomic swap into the live dir). Underscore
# prefix = invisible to Spark's parquet listing and _state_exists.
_BATCH_SIDECAR = "_applied_batch"


def _compact_swap_landed(
    spark: SparkSession, state_dir: str, batch_id: int
) -> bool:
    """True when a crashed attempt's whole-state dir swap for THIS
    batch completed. Primary signal: the ``_applied_batch`` sidecar
    the staged write placed inside the dir — robust even when
    ``merge_fn`` legitimately produced ZERO rows (no row stamps to
    find). Fallback for state dirs written before the sidecar existed:
    the per-row ``_applied_batch`` column stamp."""
    if not os.path.isdir(state_dir):
        return False
    sidecar = os.path.join(state_dir, _BATCH_SIDECAR)
    if os.path.exists(sidecar):
        with open(sidecar) as f:
            return f.read().strip() == str(batch_id)
    if not _state_exists(state_dir):
        return False
    live = spark.read.parquet(state_dir)
    return (
        APPLIED_BATCH_COL in live.columns
        and live.filter(F.col(APPLIED_BATCH_COL) == batch_id)
        .limit(1)
        .count()
        > 0
    )


def _restore_compact(state_dir: str, batch_id: int) -> None:
    """Repair after a crash mid-swap of THIS batch (compact mode): if
    the whole-state dir was retired but its staged replacement never
    moved in, put the pre-batch state back."""
    import shutil

    retired = _compact_retired_dir(state_dir, batch_id)
    if not os.path.isdir(retired):
        return
    if os.path.isdir(state_dir):
        shutil.rmtree(retired)  # swap completed; retired copy obsolete
    else:
        os.rename(retired, state_dir)


def _compact_retired_dir(state_dir: str, batch_id: int) -> str:
    parent, name = os.path.split(state_dir.rstrip("/"))
    return os.path.join(parent, f".{name}.retired-batch-{batch_id}")


def merge_into_compact_state(
    state_dir: str,
    batch_id: int,
    part: DataFrame,
    merge_fn: Callable[[Optional[DataFrame], DataFrame], DataFrame],
    applied_dir: str | None = None,
    shuffle_partitions: int | None = None,
) -> bool:
    """Whole-state merge for SKETCH-SIZED state: the counterpart of
    :func:`merge_into_partitioned_state` for state whose TOTAL size is
    bounded regardless of data scale (CMS/HLL rows, per-day histogram
    bins, bounded reservoirs — a few thousand rows at 100 TB exactly
    as at 100 MB, because bounding state is what a sketch is for).

    For such state, bucket-partitioned pruning optimizes the wrong
    thing: per-batch I/O proportional to touched buckets is already
    proportional to TOTAL state, while the partitioned layout pays a
    parquet writer + per-directory commit for every touched partition
    value on every trigger — the dominant per-trigger fixed cost at
    small batch sizes. This function instead rewrites the whole
    (tiny) state as ONE flat parquet dir per trigger, in exactly ONE
    Spark job: read existing state + batch contribution → ``merge_fn``
    → write to a hidden staging sibling. No touched-bucket collect, no
    lazy-checkpoint barrier (the contribution is referenced once), no
    per-partition writers.

    Commit is an atomic dir swap (retire live → move staging in →
    drop retired), so partial-commit reconciliation collapses to
    all-or-nothing: a retry that finds the intent marker restores an
    orphaned retired dir if the swap never completed, or detects the
    ``_applied_batch`` stamp (the whole state carries this batch's id
    if and only if the swap landed) and skips. Replays are skipped via
    the same ``batch-<id>`` done-markers.

    Use :func:`merge_into_partitioned_state` instead when state size
    tracks key cardinality (CDC latest-per-key, per-user first-seen):
    there, rewriting the whole state per trigger is the round-5
    O(total keys) defect this module exists to avoid.
    """
    _require_local(state_dir, "state_dir")
    marker_root = applied_dir or applied_marker_dir(
        os.path.dirname(state_dir)
    )
    _require_local(marker_root, "applied marker dir")
    marker = os.path.join(marker_root, f"batch-{batch_id}")
    intent = marker + ".intent"
    if os.path.exists(marker):
        _gc_committed_leftovers(state_dir, batch_id, intent)
        return False

    spark = part.sparkSession
    with session.shuffle_partitions(spark, shuffle_partitions):
        return _compact_impl(
            spark, state_dir, batch_id, part, merge_fn,
            marker, intent, marker_root,
        )


def _compact_impl(
    spark: SparkSession,
    state_dir: str,
    batch_id: int,
    part: DataFrame,
    merge_fn: Callable[[Optional[DataFrame], DataFrame], DataFrame],
    marker: str,
    intent: str,
    marker_root: str,
) -> bool:
    import shutil

    os.makedirs(marker_root, exist_ok=True)
    if os.path.exists(intent):
        _restore_compact(state_dir, batch_id)
        if _compact_swap_landed(spark, state_dir, batch_id):
            # the crashed attempt's swap landed (all-or-nothing)
            open(marker, "w").close()
            os.remove(intent)
            return True

    if _state_exists(state_dir):
        existing = spark.read.parquet(state_dir)
        if APPLIED_BATCH_COL in existing.columns:
            existing = existing.drop(APPLIED_BATCH_COL)
    else:
        existing = None

    merged = merge_fn(existing, part).withColumn(
        APPLIED_BATCH_COL, F.lit(batch_id)
    )
    staging = _staging_dir(state_dir, batch_id)
    # ONE job: whole-state merge, flat single-file write — the state
    # is sketch-sized by contract, so one writer task is the fast AND
    # the scale-correct layout.
    merged.coalesce(1).write.mode("overwrite").parquet(staging)
    # Batch-id sidecar INSIDE the staged dir: it rides the swap rename
    # into the live state dir, so crash recovery can detect a landed
    # swap without depending on row count — a merge_fn that
    # legitimately yields ZERO rows leaves no row stamps, and without
    # the sidecar a crash between swap and done-marker would make the
    # retry re-apply the batch (double-apply for additive merges).
    # The leading underscore keeps Spark's parquet reader (and
    # _state_exists) from ever seeing it, the _SUCCESS convention.
    with open(os.path.join(staging, _BATCH_SIDECAR), "w") as f:
        f.write(str(batch_id))
    open(intent, "w").close()
    retired = _compact_retired_dir(state_dir, batch_id)
    if os.path.isdir(retired):  # leftover from a crashed attempt
        shutil.rmtree(retired)
    if os.path.isdir(state_dir):
        os.rename(state_dir, retired)
    os.rename(staging, state_dir)
    if os.path.isdir(retired):
        shutil.rmtree(retired)
    open(marker, "w").close()
    os.remove(intent)
    return True

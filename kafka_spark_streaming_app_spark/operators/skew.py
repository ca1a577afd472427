"""Skew-mitigation utilities.

AQE's skew-join handles moderate runtime skew, but a join key with a
pathological hot value (one user with 10% of a 100 TB fact table)
wants explicit salting: replicate the small side R times, scatter the
big side's hot keys across R sub-keys, join on (key, salt), then the
downstream agg re-merges. The result is identical to the plain join;
only the shuffle distribution changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``big ⋈ small`` on ``key`` with the big side salted
    across ``salt_buckets`` sub-partitions.

    The salt must be a PURE function of row content: anything
    nondeterministic (rand(), spark_partition_id(),
    monotonically_increasing_id()) in a shuffle key breaks exactly-once
    under task retries — a re-executed map task would route rows to
    different reducers than the attempt whose output other reducers
    already fetched. Hashing every column spreads a hot key's rows
    across salts (identical duplicate rows co-locate, which is
    acceptable). The small side is exploded ``salt_buckets``× so every
    (key, salt) pair exists.
    """
    row_hash = F.xxhash64(*[F.col(c) for c in big.columns])
    salt = (row_hash % salt_buckets + salt_buckets) % salt_buckets
    big_salted = big.withColumn("_salt", salt.cast("int"))
    small_salted = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    out = big_salted.join(small_salted, [key, "_salt"], how)
    return out.drop("_salt")


# --- size-conditional cumulative scans over value histograms -----------------
# spearman/mann_whitney/ks build per-distinct-value histograms and
# then need running totals ordered by the value. A histogram's
# cardinality is DATA-sized (price/value cents), so a plain
# Window.orderBy cumulative is an Exchange SinglePartition scale-killer
# at cluster scale — but at laptop scale the same single-task sort is
# measurably CHEAPER than the distributed prefix sum's extra jobs
# (measured in round 12; the conversion was a local net loss). The
# shape is therefore chosen from the INPUT's size — driver-side file
# metadata, no Spark job — with the threshold parameterised for
# production tuning.


def input_is_large(sf_dir: str, table: str) -> bool:
    """True when the table's on-disk size crosses the prefix-sum
    threshold (default 1 GiB, override SPARK_GRAFT_PREFIX_SUM_BYTES).
    Unstattable paths (object stores) count as large: at that scale
    the distributed shape is the only safe one.

    The threshold compares compressed parquet bytes, not rows or the
    histogram's distinct values, which set the single-task window's
    cost. Tune it to the tables' rows per compressed byte: a
    well-compressed table holds many more rows than its size suggests."""
    import glob as _glob
    import os as _os

    threshold = int(
        _os.environ.get("SPARK_GRAFT_PREFIX_SUM_BYTES", str(1 << 30))
    )
    path = f"{sf_dir.rstrip('/')}/{table}.parquet"
    try:
        if _os.path.isdir(path):
            size = sum(
                _os.path.getsize(p)
                for p in _glob.glob(
                    _os.path.join(path, "**", "*"), recursive=True
                )
                if _os.path.isfile(p)
            )
        else:
            size = _os.path.getsize(path)
    except OSError:
        return True
    return size >= threshold


def hist_running_totals(
    hist: DataFrame,
    order_col: str,
    value_cols: dict[str, str],
    *,
    include_current: bool = True,
    large: bool,
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Running totals of ``value_cols`` (out_name -> in_name) over
    ``order_col`` (+ ``order_tiebreak`` columns when ``order_col``
    alone is not unique — the combination must be a TOTAL order).
    ``large=False``: one global ordered window (single task — fine for
    small inputs). ``large=True``: the two-level distributed prefix
    sum (range shuffle + per-partition cumsum + broadcast partition
    offsets — no single-task stage over data-sized rows). Counts
    accumulate in BIGINT (exact at any corpus size), so both shapes
    produce identical integers."""
    order = [F.col(order_col)] + [
        F.col(c) for c in (order_tiebreak or [])
    ]
    end = Window.currentRow if include_current else -1
    if not large:
        w = Window.orderBy(*order).rowsBetween(
            Window.unboundedPreceding, end
        )
        out = hist
        for out_name, in_name in value_cols.items():
            out = out.withColumn(
                out_name,
                F.coalesce(F.sum(in_name).over(w), F.lit(0)).cast("bigint"),
            )
        return out
    ranged = (
        hist.repartitionByRange(*order)
        .withColumn("_pid", F.spark_partition_id())
        # lazy barrier: feeds the local cumsum AND the partition
        # totals; without it the (sampled) range shuffle runs per
        # branch with possibly different boundaries
        .localCheckpoint(eager=False)
    )
    local_w = (
        Window.partitionBy("_pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, end)
    )
    off_w = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    totals = ranged.groupBy("_pid").agg(
        *[
            F.sum(in_name).alias(f"_pt_{out_name}")
            for out_name, in_name in value_cols.items()
        ]
    )
    offsets = totals.select(
        "_pid",
        *[
            F.coalesce(F.sum(f"_pt_{out_name}").over(off_w), F.lit(0))
            .cast("bigint")
            .alias(f"_off_{out_name}")
            for out_name in value_cols
        ],
    )
    out = ranged
    for out_name, in_name in value_cols.items():
        out = out.withColumn(
            f"_loc_{out_name}",
            F.coalesce(F.sum(in_name).over(local_w), F.lit(0)).cast(
                "bigint"
            ),
        )
    out = out.join(F.broadcast(offsets), "_pid")
    for out_name in value_cols:
        out = out.withColumn(
            out_name,
            (F.col(f"_off_{out_name}") + F.col(f"_loc_{out_name}")).cast(
                "bigint"
            ),
        )
    return out.drop(
        "_pid",
        *[f"_loc_{o}" for o in value_cols],
        *[f"_off_{o}" for o in value_cols],
    )


def spread_if_narrow(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition ``df`` to the cluster's defaultParallelism by
    ``key_cols`` ONLY when it currently has fewer partitions — the
    local small-single-file case where a scan arrives as one input
    split and a compute-dense per-row stage (tokenize/shingle/codec)
    would otherwise run single-task. At scale a many-split scan
    already exceeds the cluster width and this is a no-op, so the
    corpus is never re-shuffled just to satisfy a laptop-sized
    fixture. (``rdd.getNumPartitions`` plans the query; it runs no
    job.)"""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par, *key_cols)
    return df

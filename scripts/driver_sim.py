"""Simulate the spark-graft driver: virgin SparkSession (none of the
engine's confs), import __spark_entry__ from the repo root, smoke
entry(), then run every queries()[name] vs oracle_sql()[name] at
sf0.01 with an order-insensitive value hash. A query fails if it
raises, mismatches its oracle, or leaves a streaming query running.

Usage: python scripts/driver_sim.py [--smoke] [--only q1,q2,...]
"""

import hashlib
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb
from pyspark.sql import SparkSession

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def value_hash(pdf):
    pdf = pdf[sorted(pdf.columns)]
    pdf = pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
    return hashlib.md5(
        pdf.to_csv(index=False, float_format="%.10g").encode()
    ).hexdigest()


def _dtype_kind(dtype) -> str:
    """Collapse a pandas dtype to the kind the driver's hasher is
    sensitive to.  The CSV hash above prints int64 38 and float64 38.0
    identically (%.10g), but the real driver hashes dtype-qualified
    values — DuckDB HUGEINT (sum over INTEGER) arrives as float64 or
    object while Spark's BIGINT arrives as int64, and that alone flips
    the driver hash (seen on q12 in round 2).  Compare kinds, not exact
    dtypes, so datetime64[ns] vs datetime64[us] stays green."""
    s = str(dtype)
    if s.startswith(("int", "uint", "Int", "UInt")):
        return "int"
    if s.startswith(("float", "Float")):
        return "float"
    if s.startswith("datetime"):
        return "datetime"
    if s.startswith("bool"):
        return "bool"
    return "object"


def dtype_mismatches(sdf, odf):
    out = []
    for c in sorted(sdf.columns):
        if c not in odf.columns:
            continue
        sk, ok = _dtype_kind(sdf[c].dtype), _dtype_kind(odf[c].dtype)
        if sk != ok and not (
            # all-NULL / nullable-int columns surface as float or object
            # on either side; only int-vs-float/object drift with real
            # values is the driver-hash hazard
            sdf[c].isna().all() or odf[c].isna().all()
        ):
            out.append(f"{c}: spark={sdf[c].dtype} oracle={odf[c].dtype}")
    return out


def main() -> int:
    smoke_only = "--smoke" in sys.argv
    only = None
    if "--only" in sys.argv:
        only = set(sys.argv[sys.argv.index("--only") + 1].split(","))
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    if only is None:
        df = e.entry(spark)
        rows = df.collect()
        print(f"entry(): {len(rows)} rows, schema={[f.name for f in df.schema.fields]}")
        assert len(rows) > 0, "entry() returned no rows"
    if smoke_only:
        spark.stop()
        return 0

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    if only is not None:
        missing = only - set(qs)
        assert not missing, f"--only names not registered: {missing}"
        qs = {n: f for n, f in qs.items() if n in only}
    print(f"{len(qs)} queries, {len(oracles)} oracles")
    failures = []
    for name, fn in qs.items():
        try:
            sdf = fn(spark, sf).toPandas()
        except Exception as exc:
            sdf = None
            print(f"{name}: SPARK ERROR {exc}")
        # a stream a query leaves running would load every later query
        leaked = spark.streams.active
        for q in leaked:
            print(f"{name}: LEAKED STREAM id={q.id} name={q.name}")
            q.stop()
        if sdf is None or leaked:
            failures.append(name)
            continue
        if name in oracles:
            odf = con.execute(oracles[name]).fetchdf()
            match = (
                len(sdf) == len(odf)
                and sorted(sdf.columns) == sorted(odf.columns)
                and value_hash(sdf) == value_hash(odf)
            )
            drift = dtype_mismatches(sdf, odf) if match else []
            print(
                f"{name}: spark_rows={len(sdf)} oracle_rows={len(odf)} "
                f"HASH_MATCH={match}"
                + (f" DTYPE_DRIFT={drift}" if drift else "")
            )
            if not match or drift:
                failures.append(name)
        else:
            print(f"{name}: rows-only, rows={len(sdf)}")
    spark.stop()
    if failures:
        print(f"FAILED: {failures}")
        return 1
    print("ALL MATCH")
    return 0


if __name__ == "__main__":
    sys.exit(main())

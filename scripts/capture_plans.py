"""Capture .explain('formatted') output for named registry queries.

Usage: python scripts/capture_plans.py OUTDIR SUFFIX q1 q2 ...

Writes OUTDIR/<query>_<SUFFIX>.txt. For streaming/stateful queries
whose result is produced by driving a stream (memory-sink queries),
the BATCH DataFrame they return after the run is explained;
fixture/commit jobs the query runs on the way are part of the run,
not the returned plan.
"""

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    outdir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)

    from kafka_spark_streaming_app_spark import registry
    from kafka_spark_streaming_app_spark.session import get_spark

    registry.load_all()
    spark = get_spark(app_name="capture_plans")
    spark.sparkContext.setLogLevel("ERROR")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    stale = []
    for name in names:
        df = registry.QUERIES[name](spark, sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        # Guard against capturing in the wrong tree (the r12
        # theil_sen incident): an "after" capture byte-identical to
        # the committed before-file is almost certainly stale — the
        # change the after-file is meant to document should move SOME
        # byte of the plan. Refuse the write and fail the run.
        if suffix != "before":
            before = os.path.join(outdir, f"{name}_before.txt")
            if os.path.exists(before):
                with open(before) as f:
                    if f.read() == buf.getvalue():
                        stale.append(name)
                        print(
                            f"REFUSED {path}: byte-identical to "
                            f"{before} — captured in the wrong tree?"
                        )
                        continue
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")
    spark.stop()
    if stale:
        print(f"stale captures refused: {', '.join(stale)}")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())

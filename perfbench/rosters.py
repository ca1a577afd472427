"""``batch_queries``: rounds of registry queries.

A round calls every roster query once and materialises its DataFrame
to the noop sink. Each query is timed from the call into its registry
function (``build``) to the end of the noop write (``exec``), because
some queries do most of their work inside the call (``kcore_membership``
runs its peeling rounds and barriers there).

The warm-up is a check round, which collects each query's result and
compares it with the query's registry DuckDB SQL, evaluated by DuckDB
alone over the same parquet files, followed by one untimed round. A
query that differs, or raises, counts as failed for every one of its
runs, so the failed share of a run is the same however many rounds fit
in it.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

from .oracle import compare_frames, run_duckdb
from .tables import write_tables

# JVM-bound k-core peeling (driver-side rounds with localCheckpoint
# barriers) next to Python-worker-bound work (a progressive-JPEG codec in
# mapInPandas, a grouped applyInPandas)
ROSTER = (
    "kcore_membership",
    "multimodal_jpeg_color_progressive",
    "grouped_wavg_pandas",
)
DEFAULT_SF = 0.01


class BatchQueries:
    name = "batch_queries"
    min_rounds = 3

    def __init__(self, spark, work_dir: str, seed: int, tracer, sf: float = DEFAULT_SF):
        from kafka_spark_streaming_app_spark import registry

        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.sf = sf
        self.data_dir = os.path.join(work_dir, "tables")
        self.roster = ROSTER
        self.queries = {q: registry.QUERIES[q] for q in self.roster}
        self.oracles = {q: registry.ORACLES[q] for q in self.roster}
        self.bad: dict[str, str] = {}
        self.attempted = 0
        self.failed = 0
        # every operation not counted in ``failed`` passed its check
        self.correct = True

    def setup(self) -> None:
        with self.tracer.span("setup.tables"):
            write_tables(self.data_dir, self.seed, self.sf)

    def warmup(self) -> None:
        """The check round, then one untimed round: the first noop write
        of each query still pays for compiling its plan."""
        self._check_round()
        self.run_round()

    def _check_round(self) -> None:
        """Every query's collected result against DuckDB."""
        with ThreadPoolExecutor(max_workers=1) as pool:
            for q in self.roster:
                want = pool.submit(run_duckdb, self.oracles[q], self.data_dir)
                with self.tracer.op(q):
                    try:
                        got = self.queries[q](self.spark, self.data_dir).toPandas()
                    except Exception as exc:  # a failing query is a counted failure
                        got, problem = None, f"raised {type(exc).__name__}: {exc}"
                try:
                    want_df = want.result()
                except Exception as exc:
                    want_df, problem = None, f"oracle raised {type(exc).__name__}: {exc}"
                if got is not None and want_df is not None:
                    problem = compare_frames(got, want_df)
                if problem:
                    self.bad[q] = problem.splitlines()[0][:300]
        self.attempted += len(self.roster)
        self.failed += len(self.bad)

    def prepare_round(self) -> None:
        pass

    def run_round(self) -> dict[str, float]:
        times: dict[str, float] = {}
        for q in self.roster:
            self.attempted += 1
            with self.tracer.op(q) as op:
                t0 = time.perf_counter()
                try:
                    df = self.queries[q](self.spark, self.data_dir)
                    t1 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                except Exception as exc:
                    self.failed += 1
                    self.bad.setdefault(q, f"raised {type(exc).__name__}: {exc}"[:300])
                    continue
                t2 = time.perf_counter()
                op.mark(build_s=t1 - t0, exec_s=t2 - t1)
            times[q] = t2 - t0
            if q in self.bad:
                self.failed += 1
        return times

    def finish(self) -> dict:
        return {"failed_queries": dict(self.bad)}

    def close(self) -> None:
        pass

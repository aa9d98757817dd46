"""A batch mix of registered queries with no streaming layers: JVM
shuffle/join/aggregate plans, the shared-frame (``functions.caching``)
consumers, the Python/Arrow boundary and the queries carried over for
performance work.  Each query runs once per pass, slot-cold, into the
``noop`` sink.  Six queries keep a cold pass plus two timed passes
near 45 s on 4 cores.

The inputs are a copy of the fixed sf0.01 fixture tables kept under
``data/``, so this workload does not depend on ``--seed``.  Every
query's row count is pinned below and checked on every pass: an
observed metric counts the rows during the timed write, and the count
is compared after it.
"""

from __future__ import annotations

import os
import statistics
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from go_pulsar_elasticsearch_spark import load_all
from go_pulsar_elasticsearch_spark.functions.caching import release_all_slots
from go_pulsar_elasticsearch_spark.registry import QUERIES

from probes import Tracer, percentile

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "data", "sf0.01")

# query -> result rows on DATA_DIR, as the query's DuckDB oracle counts
# them on the same tables
EXPECTED_ROWS = {
    # JVM shuffle, join and aggregate plans
    "tpch_q5": 5,
    # the Python/Arrow boundary the delivery path also crosses
    "decode_avro": 10000,
    # shared-frame (functions.caching) consumers: a multi-join one and a
    # single-pass one, the two sides of the checkpoint-slot trade
    "minhash_verify_jaccard": 25,
    "graph_clustering_coeff": 47,
    # carried over for performance work
    "near_dedup_simhash": 55420,
    "idempotent_upsert_by_key": 750,
}

_PHASES = ("analysis", "optimization", "planning")


def _plan_ms(df) -> float:
    """Analysis + optimization + physical planning of the query's plan,
    read from Spark's own phase tracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for name in _PHASES:
        ph = phases.get(name)
        if ph.isDefined():
            total += ph.get().durationMs()
    return total


class MixWorkload:
    def __init__(self):
        load_all()
        self.failed = 0
        self.attempted = 0

    def run_pass(self, spark, tracer: Tracer) -> dict:
        """One slot-cold pass; returns per-query build/exec/plan times."""
        out = {}
        for name in EXPECTED_ROWS:
            release_all_slots()
            obs = Observation(f"rows_{name}")
            t0 = time.perf_counter()
            df = QUERIES[name](spark, DATA_DIR)
            t1 = time.perf_counter()
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                "noop").mode("overwrite").save()
            t2 = time.perf_counter()
            rows = obs.get["n"]
            self.attempted += 1
            if rows != EXPECTED_ROWS[name]:
                self.failed += 1
            rec = {"build_s": t1 - t0, "exec_s": t2 - t1, "wall_s": t2 - t0,
                   "rows": rows}
            if tracer.enabled:
                rec["plan_ms"] = _plan_ms(df)
                tracer.span(f"q.{name}", t0, t2, parent="pass")
                tracer.span("build", t0, t1, parent=f"q.{name}")
                tracer.span("exec", t1, t2, parent=f"q.{name}")
            out[name] = rec
        return out

    def warmup(self, spark, work: str) -> None:
        self.run_pass(spark, Tracer(False))

    def close(self) -> None:
        pass

    def measure(self, spark, work: str, seconds: float,
                tracer: Tracer) -> tuple[dict, list[dict]]:
        passes = []
        t_end = time.perf_counter() + seconds
        while not passes or time.perf_counter() < t_end:
            passes.append(self.run_pass(spark, tracer))
        walls = [sum(r["wall_s"] for r in p.values()) for p in passes]
        rows = sum(r["rows"] for r in passes[0].values())
        per_query = [r["wall_s"] for p in passes for r in p.values()]
        # each query's median over the passes, so that one slow pass of
        # one query does not set the tail
        query_medians = [statistics.median(p[name]["wall_s"] for p in passes)
                         for name in passes[0]]
        metrics = {
            "latency_p50_s": statistics.median(per_query),
            # with fewer than 100 queries this is the slowest query
            "latency_p99_s": percentile(query_medians, 0.99),
            "throughput_rows_per_s": rows / statistics.median(walls),
            "mix_wall_s": statistics.median(walls),
        }
        return metrics, passes

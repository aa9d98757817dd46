"""Benchmark of the engine's Pulsar -> Avro -> Elasticsearch delivery path
and of a batch operator mix, with a layer split measured from outside.

Run from the repository root:

    python3 perfbench/run.py --workload delivery_paced --seed 1 \\
        --seconds 12 --trace 0

Workloads (Spark runs local[<cpus of this process>]):

- ``delivery_paced``: open-loop feed at a fixed rate into the delivery
  stream; small batches, so the fixed per-trigger cost sets latency.
- ``operator_mix``: registered batch queries into the noop sink, with no
  streaming layers; the no-change side for delivery work.

Every run starts a session and makes one untimed warm-up pass (both
charged to ``setup_s``), then measures for ``--seconds``.  End-to-end
metrics, for delivery_paced / operator_mix:

- ``latency_p50_s``, ``latency_p99_s``: message due -> ack over the
  latency window / query start -> result written (p99 is the slowest
  query's median over the passes);
- ``throughput_rows_per_s``: messages / ``mix_wall_s``, or result rows
  per second of a pass;
- ``mix_wall_s``: first message due -> last ack or DLQ routing, or the
  sum of the query wall times of a pass (median over passes);
- ``peak_rss_mb``: peak summed resident memory of the driver JVM and
  its Python workers, sampled from /proc.  The driver heap is fixed at
  ``DRIVER_HEAP`` (initial = maximum): with the package's default 8g
  maximum, G1 grows the heap in steps whose timing follows host speed,
  and operator_mix's peak of the same code spreads by a quarter from run
  to run.  operator_mix fills the fixed heap in every run, so its figure
  moves with the JVM's off-heap memory and the Python workers, and heap
  pressure shows as GC and wall time.

With ``--trace 1`` a run measures an untraced, a traced and another
untraced pass, with a Spark event log on, and prints the per-layer
metrics of the traced pass instead.  The last line of standard output
is one JSON object with the keys ``correct``, ``attempted``, ``failed``
and ``metrics``.  Everything a run writes goes under ``.perfbench_work/``
in the repository root; a traced run keeps its spans there as
``trace-*.json``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the package is imported first, so a checkout without it fails here,
# fast and without a result line
sys.path.insert(0, ROOT)

import go_pulsar_elasticsearch_spark.session as session  # noqa: E402
from pyspark import SparkContext  # noqa: E402

from probes import (  # noqa: E402
    RssSampler,
    Tracer,
    percentile,
    read_event_log,
)

WORKLOADS = ("delivery_paced", "operator_mix")
# driver heap, initial and maximum, for every run (see peak_rss_mb above)
DRIVER_HEAP = "1g"
GEN_LATE_LIMIT_MS = 50.0
# a run that hangs is stopped, cleaned up and fails well inside 180 s
RUN_LIMIT_S = 150

# layers a workload never enters report 0 for their metrics
UNTOUCHED = {
    "operator_mix": ("stream.", "es.", "broker.", "avro.", "gen.", "latency."),
    "delivery_paced": ("mix.", "q."),
}


def _emit(declared: list[dict], values: dict, workload: str) -> dict:
    """Every metric BENCHMARK.json declares, with its unit."""
    out = {}
    for m in declared:
        name = m["name"]
        if name not in values and not name.startswith(UNTOUCHED[workload]):
            raise KeyError(f"metric {name} was not measured")
        out[name] = {"value": values.get(name, 0), "unit": m["unit"]}
    return out


def _env(work: str, trace: bool) -> None:
    """Point every writer at the work dir, and let executor-side Python
    workers import the package from this checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # session.get_spark sizes the driver's maximum heap from this
    os.environ["GPE_DRIVER_MEM"] = DRIVER_HEAP
    args = [
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_HEAP}",
    ]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        shlex.quote(a) for a in args + ["pyspark-shell"])


def _stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)


def _stream_layers(phases) -> dict:
    prog = [p for ph in phases for p in ph.progress]
    dur = [p.durationMs for p in prog]

    def p50(key: str) -> float:
        return statistics.median(d.get(key, 0) for d in dur) if dur else 0.0

    trigger = sum(d.get("triggerExecution", 0) for d in dur)
    add = sum(d.get("addBatch", 0) for d in dur)
    return {
        "stream.batches": len(prog),
        "stream.rows_per_batch_p50": statistics.median(
            p.numInputRows for p in prog) if prog else 0,
        "stream.latest_offset_ms_p50": p50("latestOffset"),
        "stream.query_planning_ms_p50": p50("queryPlanning"),
        "stream.wal_commit_ms_p50": p50("walCommit"),
        "stream.commit_offsets_ms_p50": p50("commitOffsets"),
        "stream.trigger_ms_p50": p50("triggerExecution"),
        "stream.add_batch_ms_p50": p50("addBatch"),
        "stream.add_batch_share": add / trigger if trigger else 0.0,
        # the share of the latency window that the engine's own trigger
        # reports cover
        "stream.trigger_share": sum(ph.trigger_busy_s for ph in phases) / sum(
            ph.span_s for ph in phases),
    }


def _delivery_layers(phases) -> dict:
    b = {k: sum(ph.broker[k] for ph in phases) for k in phases[0].broker}
    es = {k: sum(ph.es[k] for ph in phases) for k in phases[0].es}
    late = [x for ph in phases for x in ph.gen_late_ms]
    return {
        **_stream_layers(phases),
        "es.bulk_requests": es["bulk_requests"],
        "es.docs_per_request": es["docs"] / max(1, es["bulk_requests"]),
        "es.item_failures": es["item_failures"],
        "es.busy_s": es["busy_s"],
        "broker.receive_calls": b["receive_calls"],
        "broker.delivered_msgs": b["delivered"],
        "broker.redelivered_msgs": b["redelivered"],
        "broker.first_delivery_ratio": (
            (b["delivered"] - b["redelivered"]) / max(1, b["delivered"])),
        "broker.acks": b["acks"],
        "broker.nacks": b["nacks"],
        "broker.dlq_routed": b["dlq_routed"],
        "broker.busy_s": b["busy_s"],
        "gen.published": sum(ph.attempted for ph in phases),
        "gen.late_p99_ms": percentile(late, 0.99) if late else 0.0,
        "latency.samples": sum(len(ph.latencies) for ph in phases),
    }


def _mix_layers(passes) -> dict:
    recs = [r for p in passes for r in p.values()]
    n = len(passes)
    out = {
        "mix.build_s": sum(r["build_s"] for r in recs) / n,
        "mix.plan_ms": sum(r["plan_ms"] for r in recs) / n,
        "mix.exec_s": sum(r["exec_s"] for r in recs) / n,
    }
    for name in passes[0]:
        out[f"q.{name}.wall_s"] = statistics.median(
            p[name]["wall_s"] for p in passes)
    return out


def _avro_decode_us(payloads: list[bytes]) -> float:
    """In-process ``avro_codec.decode`` cost per record over the run's
    payloads (poison ones included: they fail as the engine's do)."""
    import io

    from go_pulsar_elasticsearch_spark.ingest.avro import (
        INGESTION_AVRO_SCHEMA,
        avro_codec,
    )

    schema = avro_codec.parse_schema(INGESTION_AVRO_SCHEMA)
    t0 = time.perf_counter()
    for p in payloads:
        try:
            avro_codec.decode(schema, io.BytesIO(p))
        except (ValueError, EOFError, KeyError):
            pass
    return (time.perf_counter() - t0) / max(1, len(payloads)) * 1e6


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    work = os.path.join(
        ROOT, ".perfbench_work",
        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(work)
    _env(work, trace)

    def _timeout(signum, frame):
        raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(RUN_LIMIT_S)
    sampler = RssSampler()
    sampler.start()
    spark = wl = None
    try:
        t0 = time.perf_counter()
        spark = session.get_spark(
            f"perfbench-{args.workload}", cpus=len(os.sched_getaffinity(0)))
        spark.sparkContext.setLogLevel("ERROR")
        # keep every micro-batch's progress report of a run
        spark.conf.set(
            "spark.sql.streaming.numRecentProgressUpdates", "100000")
        start_s = time.perf_counter() - t0

        if args.workload == "operator_mix":
            from mix import MixWorkload

            wl = MixWorkload()
        else:
            from delivery import DeliveryWorkload

            wl = DeliveryWorkload(args.seed)
        t1 = time.perf_counter()
        wl.warmup(spark, work)
        warmup_s = time.perf_counter() - t1
        # keep this process's collector off the set-up objects while the
        # mocks serve the engine
        gc.freeze()

        metrics, detail = wl.measure(spark, work, args.seconds, Tracer(False))
        results = [detail]
        if trace:
            # untraced, traced, untraced: the overhead ratio compares the
            # traced pass with the mean of its neighbours, so the drift
            # of a still-warming process cancels
            tracer = Tracer(True)
            w0 = time.time() * 1e3
            tmetrics, tdetail = wl.measure(spark, work, args.seconds, tracer)
            w1 = time.time() * 1e3
            after, adetail = wl.measure(
                spark, work, args.seconds, Tracer(False))
            results += [tdetail, adetail]
    finally:
        try:
            if wl is not None:
                wl.close()
        finally:
            if spark is not None:
                _stop_spark(spark)
            peak_mb = sampler.stop()
            signal.alarm(0)

    attempted, failed = wl.attempted, wl.failed
    late_ok = True
    if args.workload != "operator_mix":
        late = [x for r in results for ph in r for x in ph.gen_late_ms]
        late_ok = not late or percentile(late, 0.99) <= GEN_LATE_LIMIT_MS
        if not late_ok:
            print(f"generator fell behind: p99 lateness above "
                  f"{GEN_LATE_LIMIT_MS} ms", file=sys.stderr)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    if not trace:
        values = {"setup_s": start_s + warmup_s, **metrics,
                  "peak_rss_mb": peak_mb}
        out_metrics = _emit(declared["end_to_end"], values, args.workload)
    else:
        if args.workload == "operator_mix":
            layers = _mix_layers(tdetail)
            key = "mix_wall_s"
        else:
            layers = _delivery_layers(tdetail)
            layers["stream.start_s"] = wl.rig.start_s
            layers["avro.decode_us_per_rec"] = _avro_decode_us(
                [p for ph in tdetail for p in ph.payloads])
            key = "latency_p50_s"
        layers.update({f"spark.{k}": v for k, v in read_event_log(
            os.path.join(work, "eventlog"), w0, w1).items()})
        layers["session.start_s"] = start_s
        layers["session.warmup_s"] = warmup_s
        layers["failed_ratio"] = failed / attempted
        layers["trace.overhead_ratio"] = tmetrics[key] / (
            (metrics[key] + after[key]) / 2)
        tracer.write(
            os.path.join(ROOT, ".perfbench_work",
                         f"trace-{args.workload}-s{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, **layers})
        out_metrics = _emit(declared["per_layer"], layers, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0 and late_ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": out_metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""The reference's delivery path under load: seeded Avro ``IngestionData``
messages are published to the broker double, consumed by the engine's
``start_delivery_stream`` (Pulsar source -> Avro decode -> ``_bulk`` sink
-> ack/nack), and every message's final disposition is checked against
what the generator knows it should be.

One stream runs from set-up to the end of a run.  Set-up starts it and
drains a batch without faults through it.  The timed pass is an open
loop: one thread publishes at a fixed rate on a due-time schedule that
does not slow down when the engine does, and latency runs from a
message's due time to its ack.  The pass ends when every message is
acked or routed to the DLQ, redelivery waves included.  Query start-up
is measured apart (``stream.start_s``).
"""

from __future__ import annotations

import os
import random
import statistics
import threading
import time
from dataclasses import dataclass
from datetime import datetime

from go_pulsar_elasticsearch_spark.ingest.avro import (
    INGESTION_AVRO_SCHEMA,
    avro_codec,
)
from go_pulsar_elasticsearch_spark.sources.es_mock_cluster import make_server
from go_pulsar_elasticsearch_spark.sources.pulsar_mock_broker import (
    make_broker_server,
)
from go_pulsar_elasticsearch_spark.sources.pulsar_stream import (
    start_delivery_stream,
)

from probes import (
    EsProbe,
    ProbedBroker,
    Tracer,
    percentile,
    probe_es_server,
)

TOPIC = "public/default/data.topic"
SUBSCRIPTION = "data_subscription"
DLQ_TOPIC = "public/default/data.dlq"
MAX_DELIVERIES = 10      # reference RETRIES, .env:11 / pulsar.go:97-100
BATCH_SIZE = 1000        # reference MAX_BATCH_SIZE, .env:16
PACED_RATE = 400.0       # msg/s: ~40% of a full-batch drain on 4 cores
PACED_LEAD_IN_S = 0.5    # feed before the latency window opens
WARMUP_MESSAGES = 500
DRAIN_TIMEOUT_S = 120.0

REUSE_SHARE = 0.10       # messages that reuse an earlier uuid (es.go:186)
NULL_TAGS_SHARE = 1 / 3  # Avro null-union tags branch
POISON_SHARE = 0.005     # malformed Avro -> DLQ after MaxDeliveries
REJECT_SHARE = 0.02      # uuids the ES double rejects per item

_TYPES = ("DATASET", "MODEL", "REPORT", "NOTEBOOK")
_SCHEMA = avro_codec.parse_schema(INGESTION_AVRO_SCHEMA)


@dataclass
class Batch:
    """Seeded messages of one phase and the dispositions they must end in."""

    payloads: list[bytes]
    uuids: list[str | None]       # None for poison
    identifiers: list[str]
    fail_ids: set[str]


def generate(seed: int, phase: str, n: int, faults: bool = True) -> Batch:
    """``n`` seeded messages; without ``faults`` there are no poison or
    rejected ones, so the drain needs no redelivery waves."""
    rng = random.Random(f"{seed}:{phase}")
    payloads, uuids, idents, distinct = [], [], [], []
    for i in range(n):
        ident = f"{phase}-m{i}"
        poison = rng.random() < POISON_SHARE and faults
        if poison:
            uuid = f"{phase}-p{i}-{seed}"
        elif distinct and rng.random() < REUSE_SHARE:
            uuid = rng.choice(distinct)
        else:
            uuid = f"{phase}-u{len(distinct)}-{seed}"
            distinct.append(uuid)
        tags = None
        if rng.random() >= NULL_TAGS_SHARE:
            tags = [
                {"type": rng.choice(("owner", "domain", "tier")),
                 "value": f"v{rng.randrange(1000)}"}
                for _ in range(rng.randint(1, 3))
            ]
        rec = {
            "identifier": ident,
            "name": f"name-{rng.randrange(10**6)}",
            "uuid": uuid,
            "type": rng.choice(_TYPES),
            "ingestion_time": 1_700_000_000_000 + i,
            "tags": None if poison else tags,
        }
        payload = avro_codec.encode(_SCHEMA, rec)
        if poison:
            # the record ends in the tags union index (0 = null); branch 3
            # does not exist, so every Avro decoder must reject it
            payload = payload[:-1] + b"\x06"
        payloads.append(payload)
        uuids.append(None if poison else uuid)
        idents.append(ident)
    k = max(1, round(REJECT_SHARE * len(distinct))) if faults else 0
    return Batch(payloads, uuids, idents, set(rng.sample(distinct, k)))


@dataclass
class PhaseResult:
    attempted: int
    failed: int
    latencies: list[float]        # due -> ack, acked messages in the window
    t_begin: float                # first message due
    t_last: float                 # last disposition
    span_s: float                 # the drain, or the latency window
    progress: list                # micro-batches with rows in the span
    trigger_busy_s: float         # the part of the span they cover
    broker: dict                  # broker counters over the phase
    es: dict                      # _bulk counters over the phase
    gen_late_ms: list[float]
    payloads: list[bytes]


def _progress_epoch(p) -> float:
    stamp = p.timestamp.replace("Z", "+00:00")
    return datetime.fromisoformat(stamp).timestamp()


def _check_alive(q, deadline: float, what: str) -> None:
    if q.exception() is not None:
        raise RuntimeError(f"{what}: delivery stream failed: {q.exception()}")
    if time.perf_counter() > deadline:
        raise RuntimeError(f"{what}: delivery stream timed out")


def check(batch: Batch, mids: list[int], name: str, broker: ProbedBroker,
          es_state) -> int:
    """Messages of phase ``name`` whose final disposition is wrong or
    missing.

    A message whose uuid is accepted must be acked, and its uuid indexed
    with the last published message of that uuid (doc-id keyed
    last-write-wins); poison and rejected messages must be in the DLQ
    exactly once, with ``DELIVERY_COUNT`` equal to ``MaxDeliveries``."""
    last: dict[str, str] = {}
    for uuid, ident in zip(batch.uuids, batch.identifiers):
        if uuid is not None and uuid not in batch.fail_ids:
            last[uuid] = ident
    with es_state.lock:
        indexed = {
            i: doc.get("identifier") for i, doc in es_state.docs.items()
            if i.startswith(f"{name}-")
        }
    ours = set(mids)
    dlq: dict[int, list[str]] = {}
    for m in broker.topic_messages(DLQ_TOPIC):
        origin = int(m.properties["ORIGIN_MESSAGE_ID"])
        if m.properties.get("REAL_TOPIC") == TOPIC and origin in ours:
            dlq.setdefault(origin, []).append(m.properties["DELIVERY_COUNT"])
    failed = 0
    for mid, uuid in zip(mids, batch.uuids):
        if uuid is None or uuid in batch.fail_ids:
            ok = (dlq.get(mid) == [str(MAX_DELIVERIES)]
                  and mid not in broker.acked_at)
        else:
            ok = (mid in broker.acked_at and mid not in dlq
                  and indexed.get(uuid) == last[uuid])
        failed += not ok
    # documents that must not exist count as well, and the broker's own
    # view of what is still pending must agree
    failed += sum(1 for i in indexed if i not in last)
    return max(failed, broker.pending(TOPIC, SUBSCRIPTION))


class DeliveryRig:
    """The broker and ES doubles, their wire servers, and one delivery
    stream that runs from set-up to the end of the run."""

    def __init__(self, spark, work: str, tracer: Tracer):
        self.broker = ProbedBroker(
            tracer,
            nack_redelivery_delay_s=1.0,
            max_deliveries=MAX_DELIVERIES,
            dlq_topic=DLQ_TOPIC,
        )
        self.es_srv, self.es_state, es_url = make_server()
        self.es_probe = EsProbe(tracer, self.es_state.fail_ids)
        probe_es_server(self.es_srv, self.es_probe)
        self.b_srv, b_url = make_broker_server(self.broker)
        self.q = None
        try:
            t_call = time.perf_counter()
            self.q = start_delivery_stream(
                spark, b_url, TOPIC, SUBSCRIPTION, es_url,
                checkpoint_dir=os.path.join(work, "stream", "ckpt"),
                spool_dir=os.path.join(work, "stream", "spool"),
                state_dir=os.path.join(work, "stream", "state"),
                batch_size=BATCH_SIZE,
            )
            deadline = time.perf_counter() + DRAIN_TIMEOUT_S
            while not self.broker.counters()["receive_calls"]:
                _check_alive(self.q, deadline, "start")
                time.sleep(0.005)
        except BaseException:
            self.close()
            raise
        # start_delivery_stream until the source's first poll
        self.start_s = self.broker.first_receive_at - t_call

    def set_tracer(self, tracer: Tracer) -> None:
        self.broker.tracer = tracer
        self.es_probe.tracer = tracer

    def close(self) -> None:
        try:
            if self.q is not None:
                self.q.stop()
                self.q.awaitTermination(30)
        finally:
            for srv in (self.b_srv, self.es_srv):
                srv.shutdown()
                srv.server_close()

    def _es_counters(self) -> dict:
        p = self.es_probe
        with p.lock:
            return {"bulk_requests": p.bulk_requests, "docs": p.docs,
                    "item_failures": p.item_failures, "busy_s": p.busy_s}

    def run_phase(self, batch: Batch, name: str, rate: float | None = None,
                  window_s: float = 0.0) -> PhaseResult:
        """Publish ``batch`` (at once, or at ``rate`` msg/s), wait until
        every message is disposed, and check the dispositions."""
        broker, tracer = self.broker, self.broker.tracer
        b0, e0 = broker.counters(), self._es_counters()
        with self.es_state.lock:
            self.es_state.fail_ids.update(batch.fail_ids)
        late_ms: list[float] = []
        t0 = time.perf_counter()
        if rate is None:
            mids = [broker.publish_due(TOPIC, p, t0) for p in batch.payloads]
            lo, hi = t0, float("inf")
        else:
            mids = []
            lo = t0 + PACED_LEAD_IN_S
            hi = lo + window_s
            errors: list[BaseException] = []

            def feed() -> None:
                try:
                    for i, payload in enumerate(batch.payloads):
                        due = t0 + i / rate
                        delay = due - time.perf_counter()
                        if delay > 0:
                            time.sleep(delay)
                        mids.append(broker.publish_due(TOPIC, payload, due))
                        late_ms.append((time.perf_counter() - due) * 1e3)
                except BaseException as exc:  # re-raised below
                    errors.append(exc)

            gen = threading.Thread(target=feed, name="generator")
            gen.start()
            gen.join(timeout=DRAIN_TIMEOUT_S + len(batch.payloads) / rate)
            if gen.is_alive():
                raise RuntimeError(f"{name}: generator did not finish")
            if errors:
                raise errors[0]
        deadline = time.perf_counter() + DRAIN_TIMEOUT_S
        while not broker.drained():
            _check_alive(self.q, deadline, name)
            time.sleep(0.005)
        t_last = broker.last_disposed_at
        tracer.span("phase", t0, t_last, phase=name)
        if rate is None:
            hi = t_last

        # progress timestamps are epoch seconds; spans are perf_counter
        to_perf = time.perf_counter() - time.time()
        progress = []
        busy = 0.0
        for p in self.q.recentProgress:
            start = _progress_epoch(p) + to_perf
            end = start + p.durationMs.get("triggerExecution", 0) / 1e3
            # a trigger may start before the span opens: keep every batch
            # that overlaps it
            if p.numInputRows > 0 and start < hi and end > lo:
                progress.append(p)
                busy += min(end, hi) - max(start, lo)
                tracer.span(
                    "stream.batch", start, end, parent=name,
                    batch_id=p.batchId, rows=p.numInputRows,
                    duration_ms=dict(p.durationMs))
        b1, e1 = broker.counters(), self._es_counters()
        return PhaseResult(
            attempted=len(batch.payloads),
            failed=check(batch, mids, name, broker, self.es_state),
            latencies=[
                broker.acked_at[m] - broker.due[m] for m in mids
                if m in broker.acked_at and lo <= broker.due[m] < hi
            ],
            t_begin=t0,
            t_last=t_last,
            span_s=hi - lo,
            progress=progress,
            trigger_busy_s=busy,
            broker={k: b1[k] - b0[k] for k in b1},
            es={k: e1[k] - e0[k] for k in e1},
            gen_late_ms=late_ms,
            payloads=batch.payloads,
        )


class DeliveryWorkload:
    def __init__(self, seed: int):
        self.seed = seed
        self.n_phase = 0
        self.rig: DeliveryRig | None = None
        self.attempted = 0
        self.failed = 0

    def _run(self, batch: Batch, name: str, **kw) -> PhaseResult:
        res = self.rig.run_phase(batch, name, **kw)
        self.attempted += res.attempted
        self.failed += res.failed
        return res

    def warmup(self, spark, work: str) -> None:
        """Start the stream and drain a batch without faults through it."""
        self.rig = DeliveryRig(spark, work, Tracer(False))
        self._run(generate(self.seed, "warmup", WARMUP_MESSAGES, faults=False),
                  "warmup")

    def close(self) -> None:
        if self.rig is not None:
            self.rig.close()

    def measure(self, spark, work: str, seconds: float,
                tracer: Tracer) -> tuple[dict, list[PhaseResult]]:
        """One timed pass: a ``seconds`` latency window at the paced rate.
        Returns the end-to-end metrics and the phase the per-layer metrics
        are read from."""
        self.rig.set_tracer(tracer)
        self.n_phase += 1
        name = f"p{self.n_phase}"
        n = int(PACED_RATE * (PACED_LEAD_IN_S + seconds))
        p = self._run(generate(self.seed, name, n), name,
                      rate=PACED_RATE, window_s=seconds)
        # first message due until every message is disposed
        wall = p.t_last - p.t_begin
        metrics = {
            "latency_p50_s": statistics.median(p.latencies),
            "latency_p99_s": percentile(p.latencies, 0.99),
            # the offered load over the feed and the drain of its retries
            "throughput_rows_per_s": p.attempted / wall,
            "mix_wall_s": wall,
        }
        return metrics, [p]

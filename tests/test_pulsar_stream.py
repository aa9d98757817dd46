"""The delivery loop as a LIVE StreamingQuery (round-5 VERDICT #1):
readStream.format("pulsar_broker_sim") -> decode ->
foreachBatch(write_epoch: executor `_bulk`, ack/nack at the driver-side
commit) under a checkpoint.  Certifies (a) the engine-composed drain equals the
hand-rolled loop's certified dispositions, (b) a mid-drain kill +
restart from the same checkpoint converges to the same table, and (c)
the per-micro-batch manifests and abort markers account for every ack
and nack — the reference's channel wiring (main.go:250-282) run by the
engine's own offset log."""

from __future__ import annotations

import json
import time

import pytest
from pyspark.errors import StreamingQueryException

from go_pulsar_elasticsearch_spark.ingest.avro import (
    INGESTION_AVRO_SCHEMA,
    avro_codec,
)
from go_pulsar_elasticsearch_spark.sources.es_mock_cluster import make_server
from go_pulsar_elasticsearch_spark.sources.pulsar_mock_broker import (
    MockPulsarBroker,
    make_broker_server,
)
from go_pulsar_elasticsearch_spark.sources.pulsar_stream import (
    run_delivery_stream,
    start_delivery_stream,
)

_TOPIC = "public/default/data.topic"
_SUB = "data_subscription"
_DLQ = "public/default/data.dlq"
_MAX_DELIVERIES = 3
_N = 200


def _payload(i: int) -> bytes:
    schema = avro_codec.parse_schema(INGESTION_AVRO_SCHEMA)
    return avro_codec.encode(
        schema,
        {
            "identifier": str(i),
            "name": f"n{i}",
            "uuid": str(i),
            "type": "DATASET",
            "ingestion_time": i,
            "tags": None,
        },
    )


@pytest.fixture()
def fixture(tmp_path):
    """Broker seeded with _N real Avro messages; the mock cluster
    persistently rejects every uuid % 7 == 0."""
    broker = MockPulsarBroker(
        nack_redelivery_delay_s=10.0,
        max_deliveries=_MAX_DELIVERIES,
        dlq_topic=_DLQ,
    )
    for i in range(_N):
        broker.publish(_TOPIC, _payload(i))
    srv, es_state, url = make_server()
    es_state.fail_ids = {str(i) for i in range(_N) if i % 7 == 0}
    yield broker, es_state, url, tmp_path
    srv.shutdown()


def _assert_dispositions(broker, es_state):
    fail = {str(i) for i in range(_N) if i % 7 == 0}
    # every rejected uuid exited via the DLQ with exactly MaxDeliveries
    dlq = broker.topic_messages(_DLQ)
    assert {m.properties["REAL_TOPIC"] for m in dlq} == {_TOPIC}
    assert sorted(
        int(m.properties["DELIVERY_COUNT"]) for m in dlq
    ) == [_MAX_DELIVERIES] * len(fail)
    # everything else landed in the index, nothing rejected leaked in
    assert set(es_state.docs) == {str(i) for i in range(_N)} - fail
    assert broker.pending(_TOPIC, _SUB) == 0


def _record_acks(broker) -> dict[str, list[int]]:
    """Record the msg ids the sink acks and nacks over the wire."""
    seen: dict[str, list[int]] = {"ack": [], "nack": []}
    for kind, ids in seen.items():
        def record(topic, sub, mid, _inner=getattr(broker, kind), _ids=ids):
            _ids.append(mid)
            _inner(topic, sub, mid)

        setattr(broker, kind, record)
    return seen


def test_streaming_drain_matches_closed_form(spark, fixture):
    broker, es_state, url, tmp = fixture
    metrics = run_delivery_stream(
        spark,
        broker,
        _TOPIC,
        _SUB,
        url,
        batch_size=60,
        checkpoint_dir=str(tmp / "ckpt"),
        spool_dir=str(tmp / "spool"),
    )
    assert metrics["pending"] == 0
    assert metrics["dlq_routed"] == len(es_state.fail_ids)
    _assert_dispositions(broker, es_state)


def test_mid_drain_restart_from_checkpoint_converges(spark, fixture):
    """Kill the query after the first micro-batches have reconciled,
    restart from the SAME checkpoint + spool, and the final disposition
    table must equal the straight-through run's — replayed batches
    re-ack idempotently (doc-id keyed sink, es.go:186) and in-flight
    messages are re-served from the spool, never double-received."""
    broker, es_state, url, tmp = fixture
    ckpt, spool = str(tmp / "ckpt"), str(tmp / "spool")
    srv, broker_url = make_broker_server(broker)
    try:
        q = start_delivery_stream(
            spark, broker_url, _TOPIC, _SUB, url, ckpt, spool,
            batch_size=60,
        )
        # let at least one micro-batch land, then kill mid-drain
        deadline = time.monotonic() + 60
        while len(es_state.docs) == 0 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert es_state.docs, "no batch landed before the kill"
        q.stop()
        q.awaitTermination(30)
    finally:
        srv.shutdown()
    assert broker.pending(_TOPIC, _SUB) > 0, "drained before the kill"

    metrics = run_delivery_stream(
        spark,
        broker,
        _TOPIC,
        _SUB,
        url,
        batch_size=60,
        checkpoint_dir=ckpt,
        spool_dir=spool,
    )
    assert metrics["pending"] == 0
    assert metrics["dlq_routed"] == len(es_state.fail_ids)
    _assert_dispositions(broker, es_state)


def test_stream_equals_hand_rolled_loop(spark, fixture, tmp_path):
    """Same seed, two drivers: the StreamingQuery composition and the
    hand-rolled while-loop must produce identical (uuid, disposition,
    deliveries) tables."""
    from go_pulsar_elasticsearch_spark.operators.pulsar_loop import (
        run_delivery_loop,
    )

    broker, es_state, url, tmp = fixture
    run_delivery_stream(
        spark,
        broker,
        _TOPIC,
        _SUB,
        url,
        batch_size=60,
        checkpoint_dir=str(tmp / "ckpt"),
        spool_dir=str(tmp / "spool"),
    )
    stream_docs = dict(es_state.docs)
    stream_dlq = sorted(
        (m.properties["ORIGIN_MESSAGE_ID"], m.properties["DELIVERY_COUNT"])
        for m in broker.topic_messages(_DLQ)
    )

    broker2 = MockPulsarBroker(
        nack_redelivery_delay_s=10.0,
        max_deliveries=_MAX_DELIVERIES,
        dlq_topic=_DLQ,
    )
    for i in range(_N):
        broker2.publish(_TOPIC, _payload(i))
    srv2, es2, url2 = make_server()
    try:
        es2.fail_ids = set(es_state.fail_ids)
        run_delivery_loop(spark, broker2, _TOPIC, _SUB, url2, batch_size=60)
        assert dict(es2.docs) == stream_docs
        loop_dlq = sorted(
            (
                m.properties["ORIGIN_MESSAGE_ID"],
                m.properties["DELIVERY_COUNT"],
            )
            for m in broker2.topic_messages(_DLQ)
        )
        # msg ids are broker-local; compare delivery-count multiset + size
        assert [d for _, d in loop_dlq] == [d for _, d in stream_dlq]
    finally:
        srv2.shutdown()


def test_stranded_in_flight_messages_are_redelivered(spark, fixture):
    """The one kill window the spool can't cover: messages received
    (delivery count bumped) but killed BEFORE their batch was spooled.
    The restart must free exactly those — and only those — so the
    drain completes and DLQ delivery counts stay exact."""
    broker, es_state, url, tmp = fixture
    ckpt, spool = str(tmp / "ckpt"), str(tmp / "spool")
    # simulate the crash: a receive that never reached the spool
    stranded = broker.receive(_TOPIC, _SUB, 50)
    assert len(stranded) == 50
    assert broker.waiting(_TOPIC, _SUB) == _N - 50
    metrics = run_delivery_stream(
        spark,
        broker,
        _TOPIC,
        _SUB,
        url,
        batch_size=60,
        checkpoint_dir=ckpt,
        spool_dir=spool,
    )
    assert metrics["pending"] == 0
    _assert_dispositions(broker, es_state)


def test_targeted_redeliver_frees_only_named_ids():
    from go_pulsar_elasticsearch_spark.sources.pulsar_mock_broker import (
        MockPulsarBroker,
    )

    b = MockPulsarBroker()
    for i in range(4):
        b.publish("t", bytes([i]))
    msgs = b.receive("t", "s", 4)
    ids = [m.msg_id for m in msgs]
    assert b.redeliver("t", "s", ids[:2]) == 2
    assert sorted(m.msg_id for m in b.receive("t", "s", 10)) == ids[:2]
    # the other two stay in flight (their batch will be replayed)
    assert sorted(b.in_flight_ids("t", "s")) == sorted(ids)


def test_spool_is_truncated_as_batches_commit(spark, fixture):
    """The spool is bounded: committed batches (never replayable) are
    garbage-collected, only a small replay window survives the drain."""
    import glob
    import os

    broker, es_state, url, tmp = fixture
    spool = str(tmp / "spool")
    run_delivery_stream(
        spark,
        broker,
        _TOPIC,
        _SUB,
        url,
        batch_size=20,  # many batches -> truncation must have fired
        checkpoint_dir=str(tmp / "ckpt"),
        spool_dir=spool,
    )
    left = glob.glob(os.path.join(spool, "batch-*.json"))
    # 200 msgs / 20 per batch + redelivery waves >> the kept window
    assert 0 < len(left) <= 4, sorted(os.path.basename(p) for p in left)
    _assert_dispositions(broker, es_state)


def test_stream_manifests_balance_the_broker(spark, fixture):
    """Every micro-batch with input rows leaves its own commit manifest,
    the manifests' counts are exactly the acks and nacks the broker
    received, and the sink is Spark's foreachBatch sink — the delivery
    path never goes through the Python DataSource writer."""
    broker, es_state, url, tmp = fixture
    seen = _record_acks(broker)
    state = tmp / "state"
    srv, broker_url = make_broker_server(broker)
    try:
        q = start_delivery_stream(
            spark, broker_url, _TOPIC, _SUB, url, str(tmp / "ckpt"),
            str(tmp / "spool"), batch_size=60, state_dir=str(state),
        )
        try:
            deadline = time.monotonic() + 120
            while broker.pending(_TOPIC, _SUB) > 0:
                assert time.monotonic() < deadline, "stream did not drain"
                q.processAllAvailable()
                time.sleep(0.02)
            sink = q.lastProgress["sink"]["description"]
        finally:
            q.stop()
            q.awaitTermination(30)
        progress = q.recentProgress
    finally:
        srv.shutdown()
    _assert_dispositions(broker, es_state)
    assert sink.startswith("ForeachBatchSink"), sink

    with_rows = [p.batchId for p in progress if p.numInputRows > 0]
    assert with_rows
    manifests = {
        int(f.stem): json.loads(f.read_text())
        for f in (state / "_commits").glob("*.json")
    }
    assert set(with_rows) <= set(manifests)
    assert all(m["batch_id"] == k for k, m in manifests.items())
    assert sum(m["n_ok"] for m in manifests.values()) == len(seen["ack"])
    assert sum(m["n_failed"] for m in manifests.values()) == len(
        seen["nack"]
    )
    assert not (state / "_aborts").exists()


def test_failed_epoch_aborts_then_replays(spark, fixture):
    """A micro-batch whose `_bulk` fails outright (500 to every request)
    fails the stream, leaves ``_aborts/<batchId>.json`` and no manifest,
    and acks or nacks nothing.  A restart from the same checkpoint
    against the healthy cluster replays the batch from the spool and
    drains to the certified dispositions."""
    broker, es_state, url, tmp = fixture
    seen = _record_acks(broker)
    ckpt, spool, state = str(tmp / "ckpt"), str(tmp / "spool"), tmp / "state"
    es_state.reject_queue = [500] * 1000
    srv, broker_url = make_broker_server(broker)
    try:
        q = start_delivery_stream(
            spark, broker_url, _TOPIC, _SUB, url, ckpt, spool,
            batch_size=60, state_dir=str(state),
        )
        with pytest.raises(StreamingQueryException):
            q.awaitTermination(120)
    finally:
        srv.shutdown()
    assert [f.name for f in (state / "_aborts").iterdir()] == ["0.json"]
    assert not (state / "_commits").exists()
    assert seen == {"ack": [], "nack": []}
    assert es_state.docs == {}

    es_state.reject_queue = []
    metrics = run_delivery_stream(
        spark,
        broker,
        _TOPIC,
        _SUB,
        url,
        batch_size=60,
        checkpoint_dir=ckpt,
        spool_dir=spool,
    )
    assert metrics["pending"] == 0
    _assert_dispositions(broker, es_state)

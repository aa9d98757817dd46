"""Certify the ES bulk delivery semantics against an in-process mock
`_bulk` endpoint (VERDICT r3 #1).

Reference behaviors under test:
- partial-failure batches route EXACTLY the failed items to the DLQ
  branch (the *intended* R9 semantics, main.go:173-202 — not the
  reference's never-reset `found` bug at main.go:184);
- 429/5xx trigger the doubling backoff of es.go:139-144;
- `dynamic: strict` violations are rejected before any bytes reach the
  wire (mapping.json:11);
- repeat index creation tolerates resource_already_exists_exception and
  the alias flip lands (es.go:78-116);
- re-delivered docs collapse last-write-wins under their doc id
  (es.go:186).
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest

from go_pulsar_elasticsearch_spark.sources.es_bulk import (
    BulkClientOptions,
    BulkTransportError,
    bulk_index_rows,
    bulk_post,
    docs_to_ndjson,
    ensure_dated_index,
    write_batch_via_bulk,
)
from go_pulsar_elasticsearch_spark.sources.es_sink import (
    INDEX_MAPPING_SPARK,
    StrictMappingViolation,
)

from tests.es_mock import make_server


@pytest.fixture()
def mock_es():
    srv, state, url = make_server()
    yield state, url
    srv.shutdown()


def _batch(spark, n=6, uuid_prefix="u"):
    ts = dt.datetime(2021, 6, 1, 12, 0, 0)
    rows = [
        (
            "doc",
            f"id-{i}",
            f"name-{i}",
            ts + dt.timedelta(seconds=i),
            ts + dt.timedelta(seconds=i, milliseconds=500),
            f"{uuid_prefix}-{i}",
            [{"type": "k", "value": f"v{i}"}] if i % 2 == 0 else None,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, INDEX_MAPPING_SPARK)


def test_partial_failure_routes_exact_items_to_dlq(spark, mock_es, tmp_path):
    state, url = mock_es
    state.fail_ids = {"u-1", "u-4"}
    dlq = str(tmp_path / "dlq")
    out = write_batch_via_bulk(_batch(spark), 7, url, dlq)
    assert out == {"indexed": 4, "dlq": 2}
    # exactly the failed items in the DLQ, with payload + reason preserved
    dlq_rows = spark.read.parquet(os.path.join(dlq, "epoch=7")).collect()
    assert sorted(r.uuid for r in dlq_rows) == ["u-1", "u-4"]
    for r in dlq_rows:
        assert r.status == 400
        assert "mapper_parsing_exception" in r.error
        doc = json.loads(r.doc)
        assert doc["uuid"] == r.uuid and doc["name"].startswith("name-")
    # and exactly the others acked/indexed server-side
    assert sorted(state.docs) == ["u-0", "u-2", "u-3", "u-5"]
    # nested tags + ISO timestamps survived serialization
    assert state.docs["u-2"]["tags"] == [{"type": "k", "value": "v2"}]
    assert state.docs["u-2"]["ingestion_time"].startswith("2021-06-01T12:00:02")


def test_429_then_5xx_trigger_doubling_backoff(mock_es):
    state, url = mock_es
    state.reject_queue = [429, 503]
    sleeps: list[float] = []
    opts = BulkClientOptions(retries=5, base_delay_s=0.01)
    body = docs_to_ndjson([{"uuid": "a", "name": "x"}], "idx")
    resp = bulk_post(url, body, opts, sleep=sleeps.append)
    assert resp["errors"] is False and len(resp["items"]) == 1
    assert sleeps == [0.01, 0.02]  # es.go:140-144: delay doubles per attempt
    assert state.docs["a"]["name"] == "x"


def test_non_retryable_status_raises_immediately(mock_es):
    state, url = mock_es
    state.reject_queue = [400]
    sleeps: list[float] = []
    with pytest.raises(BulkTransportError) as exc:
        bulk_post(url, b"{}\n", BulkClientOptions(retries=5, base_delay_s=0.01),
                  sleep=sleeps.append)
    assert exc.value.status == 400 and sleeps == []


def test_retry_budget_exhaustion_raises_transport_error(mock_es):
    state, url = mock_es
    state.reject_queue = [429] * 10
    sleeps: list[float] = []
    with pytest.raises(BulkTransportError) as exc:
        bulk_post(url, b"{}\n", BulkClientOptions(retries=3, base_delay_s=0.01),
                  sleep=sleeps.append)
    assert exc.value.status == 429
    assert sleeps == [0.01, 0.02]  # 3 attempts -> 2 backoff sleeps


def test_strict_mapping_rejected_before_wire(spark, mock_es, tmp_path):
    from pyspark.sql import functions as F

    state, url = mock_es
    bad = _batch(spark).withColumn("rogue_field", F.lit(1))
    with pytest.raises(StrictMappingViolation, match="rogue_field"):
        write_batch_via_bulk(bad, 0, url, str(tmp_path / "dlq"))
    assert state.bulk_requests == []  # nothing ever reached the endpoint


def test_chunking_by_entries(spark, mock_es):
    state, url = mock_es
    opts = BulkClientOptions(batch_entries=2)
    res = bulk_index_rows(_batch(spark, n=5).coalesce(1), url, opts).collect()
    assert len(res) == 5 and all(r.status == 201 for r in res)
    # 5 docs in one partition at 2/request -> 3 bulk requests
    assert sorted(r["n_items"] for r in state.bulk_requests) == [1, 2, 2]


def test_redelivery_collapses_last_write_wins(spark, mock_es, tmp_path):
    state, url = mock_es
    dlq = str(tmp_path / "dlq")
    write_batch_via_bulk(_batch(spark), 0, url, dlq)
    # replay the same ids with changed names: doc-id keyed index updates
    replay = _batch(spark)
    from pyspark.sql import functions as F

    replay = replay.withColumn("name", F.concat(F.col("name"), F.lit("-v2")))
    out = write_batch_via_bulk(replay, 1, url, dlq)
    assert out["dlq"] == 0
    assert len(state.docs) == 6
    assert state.docs["u-3"]["name"] == "name-3-v2"


def test_ensure_dated_index_idempotent_and_alias(mock_es):
    state, url = mock_es
    mapping = {"dynamic": "strict", "properties": {"uuid": {"type": "keyword"}}}
    name1 = ensure_dated_index(url, "index_data", "2021-06-01", mapping)
    name2 = ensure_dated_index(url, "index_data", "2021-06-01", mapping)
    assert name1 == name2 == "index_data_2021-06-01"
    assert state.indices[name1]["mappings"]["dynamic"] == "strict"
    assert state.indices[name1]["settings"]["number_of_shards"] == 4
    assert state.aliases["index_data"] == name1


def test_streaming_foreachbatch_end_to_end(spark, mock_es, tmp_path):
    """The full R1-R9 path against the wire: file stream -> JSON decode
    (poison rows -> parse-DLQ) -> derive -> strict mapping -> bulk ->
    per-item failures -> item-DLQ; good docs land in the mock index."""
    from pyspark.sql import functions as F

    from go_pulsar_elasticsearch_spark.ingest.pipeline import (
        derive_ingest_cols,
        dlq_split,
    )
    from go_pulsar_elasticsearch_spark.sources.es_bulk import write_batch_via_bulk
    from go_pulsar_elasticsearch_spark.streaming.stream import (
        StreamMetrics,
        decode_json_payload,
        file_stream,
    )

    state, url = mock_es
    state.fail_ids = {"uuid-2"}
    src = str(tmp_path / "src")
    good = [
        json.dumps({
            "identifier": f"id-{i}", "name": f"n-{i}", "uuid": f"uuid-{i}",
            "type": "t", "ingestion_time": 1622548800000 + i * 1000,
            "tags": [{"type": "a", "value": str(i)}],
        }) for i in range(5)
    ]
    payload = good + ["{not json", '{"name": "no uuid"}']
    spark.createDataFrame([(v,) for v in payload], "value string") \
        .coalesce(1).write.mode("overwrite").parquet(src)

    metrics = StreamMetrics()
    parse_dlq = str(tmp_path / "parse_dlq")
    item_dlq = str(tmp_path / "item_dlq")

    def write_batch(bdf, epoch):
        bdf.persist()
        try:
            main_df, poison = dlq_split(bdf, F.col("parsed").isNotNull())
            n_poison = poison.count()
            if n_poison:
                (poison.select("raw_value").write.mode("overwrite")
                 .parquet(os.path.join(parse_dlq, f"epoch={epoch}")))
            derived = derive_ingest_cols(
                main_df.drop("parsed", "raw_value"), ms_col="ingestion_time"
            ).drop("ingest_date")
            write_batch_via_bulk(derived, epoch, url, item_dlq, metrics=metrics)
            metrics.dlq += n_poison
            metrics.errors += n_poison
        finally:
            bdf.unpersist()

    raw = file_stream(spark, src, schema="value string", max_files=8)
    q = (decode_json_payload(raw).writeStream.foreachBatch(write_batch)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    # 4 good docs indexed; uuid-2 in the item DLQ; 2 poison in parse DLQ
    assert sorted(state.docs) == ["uuid-0", "uuid-1", "uuid-3", "uuid-4"]
    assert state.docs["uuid-4"]["ingestion_time"].startswith("2021-06-01T")
    item_rows = spark.read.parquet(item_dlq).collect()
    assert [r.uuid for r in item_rows] == ["uuid-2"]
    poison_rows = spark.read.parquet(parse_dlq).collect()
    assert len(poison_rows) == 2
    assert metrics.indexed == 4 and metrics.index_errors == 1 and metrics.dlq == 3


def test_run_ingest_pipeline_with_bulk_sink(spark, mock_es, tmp_path):
    """run_ingest_pipeline(bulk_endpoint=...) swaps the parquet sink for
    the wire-protocol bulk path: docs land in the mock index keyed by
    uuid (in-batch duplicates collapse before the wire), per-item
    failures land in <dlq>/items, and the counters reconcile."""
    from pyspark.sql import functions as F

    from go_pulsar_elasticsearch_spark.streaming.stream import (
        StreamMetrics,
        decode_json_payload,
        file_stream,
        run_ingest_pipeline,
    )

    state, url = mock_es
    state.fail_ids = {"uuid-3"}
    src = str(tmp_path / "src")
    rows = []
    for i in range(6):
        rows.append(json.dumps({
            "identifier": f"id-{i}", "name": f"n-{i}",
            # uuid-0 appears twice (i=0 and i=5): upsert keeps the later
            # ingestion_time before anything reaches the wire
            "uuid": f"uuid-{i % 5}", "type": "t",
            "ingestion_time": 1622548800000 + i * 1000,
        }))
    spark.createDataFrame([(v,) for v in rows], "value string") \
        .coalesce(1).write.mode("overwrite").parquet(src)

    metrics = StreamMetrics()
    raw = file_stream(spark, src, schema="value string", max_files=8)
    q = run_ingest_pipeline(
        spark,
        decode_json_payload(raw),
        sink_dir=str(tmp_path / "sink"),
        dlq_dir=str(tmp_path / "dlq"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        metrics=metrics,
        bulk_endpoint=url,
    )
    q.awaitTermination()

    assert sorted(state.docs) == ["uuid-0", "uuid-1", "uuid-2", "uuid-4"]
    assert state.docs["uuid-0"]["name"] == "n-5"  # last write won pre-wire
    item_rows = spark.read.parquet(str(tmp_path / "dlq" / "items")).collect()
    assert [r.uuid for r in item_rows] == ["uuid-3"]
    # 6 received -> 5 deduped sends (uuid-0 collapsed in-batch) -> 1
    # per-item failure: indexed counts SUCCESSFUL DEDUPED deliveries, the
    # same base as index_errors, so indexed + index_errors == sends and
    # in-batch duplicates can never overcount (round-4 ADVICE).
    assert metrics.received == 6
    assert metrics.indexed == 4 and metrics.index_errors == 1
    assert metrics.indexed == len(state.docs)


def test_reference_mapping_transcription(mock_es):
    """INDEX_MAPPING_ES mirrors schema/es/mapping.json exactly: strict
    dynamic, keyword ids, text+.keyword duals, date columns, nested
    tags (tags.type is text, not keyword); ensure_dated_index ships it
    with the interpolated settings (mapping.json:3-5)."""
    from go_pulsar_elasticsearch_spark.sources.es_bulk import (
        INDEX_MAPPING_ES,
        ensure_dated_index,
    )

    state, url = mock_es
    name = ensure_dated_index(url, "index_data", "2021-06-02",
                              INDEX_MAPPING_ES)
    body = state.indices[name]
    m = body["mappings"]
    assert m["dynamic"] == "strict" and m["_source"] == {"enabled": True}
    props = m["properties"]
    assert set(props) == {"type", "identifier", "name", "ingestion_time",
                          "persist_time", "uuid", "tags"}
    assert props["uuid"] == {"type": "keyword"}
    assert props["name"]["fields"]["keyword"]["type"] == "keyword"
    assert props["ingestion_time"] == {"type": "date"}
    assert props["tags"]["type"] == "nested"
    assert props["tags"]["properties"]["type"] == {"type": "text"}
    assert props["tags"]["properties"]["value"]["fields"]["keyword"] == {
        "type": "keyword"}
    assert body["settings"] == {"number_of_shards": 4,
                                "number_of_replicas": 0,
                                "refresh_interval": "10s"}
    # the strict-mapping Spark gate and the wire mapping declare the
    # same field set — schema parity between the two enforcement layers
    from go_pulsar_elasticsearch_spark.sources.es_sink import INDEX_MAPPING_SPARK

    assert set(props) == {f.name for f in INDEX_MAPPING_SPARK.fields}

"""The ES bulk sink through Spark's Python DataSource STREAM WRITER API:
docs arrive in the mock cluster, per-item failures spool to the DLQ,
commit manifests appear per epoch, and 429s retry."""

from __future__ import annotations

import glob
import json

import pytest


from go_pulsar_elasticsearch_spark.sources.es_writer_sim import EsBulkDataSource
from tests.es_mock import make_server


@pytest.fixture()
def mock_es():
    srv, state, url = make_server()
    yield state, url
    srv.shutdown()


def _stream_docs(spark, tmp_path, rows):
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, "uuid string, name string, val long").coalesce(
        1
    ).write.mode("append").parquet(src)
    return (
        spark.readStream.schema("uuid string, name string, val long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def _run(spark, tmp_path, stream, url, state_dir, dlq_dir):
    spark.dataSource.register(EsBulkDataSource)
    q = (
        stream.writeStream.format("es_bulk_sim")
        .option("endpoint", url)
        .option("index", "index_data")
        .option("id_field", "uuid")
        .option("state_dir", state_dir)
        .option("dlq_dir", dlq_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)


def test_stream_writer_delivers_and_commits(spark, tmp_path, mock_es):
    state, url = mock_es
    rows = [(f"u{i}", f"n{i}", i) for i in range(20)]
    stream = _stream_docs(spark, tmp_path, rows)
    state_dir, dlq = str(tmp_path / "state"), str(tmp_path / "dlq")
    _run(spark, tmp_path, stream, url, state_dir, dlq)
    assert set(state.docs) == {f"u{i}" for i in range(20)}
    commits = glob.glob(f"{state_dir}/_commits/*.json")
    assert commits, "no commit manifest written"
    total = sum(json.load(open(c))["n_ok"] for c in commits)
    assert total == 20
    assert not glob.glob(f"{dlq}/*.ndjson")


def test_stream_writer_routes_only_failed_items_to_dlq(spark, tmp_path, mock_es):
    state, url = mock_es
    state.fail_ids = {"u3", "u7"}
    rows = [(f"u{i}", f"n{i}", i) for i in range(10)]
    stream = _stream_docs(spark, tmp_path, rows)
    state_dir, dlq = str(tmp_path / "state"), str(tmp_path / "dlq")
    _run(spark, tmp_path, stream, url, state_dir, dlq)
    # good items indexed; exactly the failed ids spooled with payloads
    assert set(state.docs) == {f"u{i}" for i in range(10)} - {"u3", "u7"}
    spooled = []
    for f in glob.glob(f"{dlq}/*.ndjson"):
        spooled += [json.loads(line) for line in open(f)]
    assert {d["uuid"] for d in spooled} == {"u3", "u7"}
    assert all(d["doc"]["uuid"] == d["uuid"] for d in spooled)
    total_failed = sum(
        json.load(open(c))["n_failed"]
        for c in glob.glob(f"{state_dir}/_commits/*.json")
    )
    assert total_failed == 2


def test_stream_writer_retries_429_then_succeeds(spark, tmp_path, mock_es):
    state, url = mock_es
    state.reject_queue = [429]  # first bulk request bounced, retry lands
    rows = [(f"u{i}", f"n{i}", i) for i in range(5)]
    stream = _stream_docs(spark, tmp_path, rows)
    state_dir, dlq = str(tmp_path / "state"), str(tmp_path / "dlq")
    _run(spark, tmp_path, stream, url, state_dir, dlq)
    assert set(state.docs) == {f"u{i}" for i in range(5)}
    assert not glob.glob(f"{dlq}/*.ndjson")


def test_stream_writer_multiple_epochs(spark, tmp_path, mock_es):
    state, url = mock_es
    src = str(tmp_path / "src")
    for part in range(3):  # three files -> three micro-batches
        rows = [(f"e{part}-{i}", "n", i) for i in range(4)]
        spark.createDataFrame(
            rows, "uuid string, name string, val long"
        ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("uuid string, name string, val long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    state_dir, dlq = str(tmp_path / "state"), str(tmp_path / "dlq")
    _run(spark, tmp_path, stream, url, state_dir, dlq)
    assert len(state.docs) == 12
    commits = glob.glob(f"{state_dir}/_commits/*.json")
    assert len(commits) == 3  # one manifest per epoch


def test_batch_writer_delivers_same_path(spark, tmp_path, mock_es):
    state, url = mock_es
    state.fail_ids = {"b2"}
    df = spark.createDataFrame(
        [(f"b{i}", f"n{i}", i) for i in range(6)],
        "uuid string, name string, val long",
    )
    state_dir, dlq = str(tmp_path / "state"), str(tmp_path / "dlq")
    spark.dataSource.register(EsBulkDataSource)
    (
        df.write.format("es_bulk_sim")
        .option("endpoint", url)
        .option("index", "index_data")
        .option("id_field", "uuid")
        .option("state_dir", state_dir)
        .option("dlq_dir", dlq)
        .mode("append")
        .save()
    )
    assert set(state.docs) == {f"b{i}" for i in range(6)} - {"b2"}
    spooled = []
    for f in glob.glob(f"{dlq}/*.ndjson"):
        spooled += [json.loads(line) for line in open(f)]
    assert {d["uuid"] for d in spooled} == {"b2"}
    manifest = json.load(open(f"{state_dir}/_commits/0.json"))
    assert manifest["n_ok"] == 5 and manifest["n_failed"] == 1


def test_batch_writer_never_posts_null_uuid(spark, tmp_path, mock_es):
    """A NULL uuid is a failed item, never an `_id: null` write: real ES
    would reject it or mint an auto id, and either breaks the id-keyed
    overwrite replay depends on (es.go:186).  The row goes to the DLQ
    spool with its payload; the rest of the batch indexes."""
    state, url = mock_es
    df = spark.createDataFrame(
        [("a0", "n0", 0), (None, "orphan", 1), ("a2", "n2", 2)],
        "uuid string, name string, val long",
    ).coalesce(1)
    state_dir, dlq = str(tmp_path / "state"), str(tmp_path / "dlq")
    spark.dataSource.register(EsBulkDataSource)
    (
        df.write.format("es_bulk_sim")
        .option("endpoint", url)
        .option("state_dir", state_dir)
        .option("dlq_dir", dlq)
        .mode("append")
        .save()
    )
    assert None not in state.docs
    assert set(state.docs) == {"a0", "a2"}
    spooled = [
        json.loads(line)
        for f in glob.glob(f"{dlq}/*.ndjson")
        for line in open(f)
    ]
    assert [(e["uuid"], e["doc"]["name"]) for e in spooled] == [
        (None, "orphan")
    ]
    manifest = json.load(open(f"{state_dir}/_commits/0.json"))
    assert manifest["n_ok"] == 2 and manifest["n_failed"] == 1


def test_replay_dlq_reindexes_after_fix(spark, tmp_path, mock_es):
    """The full DLQ lifecycle: items fail -> spool -> operator fixes the
    cause -> replay lands them; a still-broken item re-spools."""
    from go_pulsar_elasticsearch_spark.sources.es_writer_sim import replay_dlq

    state, url = mock_es
    state.fail_ids = {"u1", "u4"}
    rows = [(f"u{i}", f"n{i}", i) for i in range(6)]
    stream = _stream_docs(spark, tmp_path, rows)
    state_dir, dlq = str(tmp_path / "state"), str(tmp_path / "dlq")
    _run(spark, tmp_path, stream, url, state_dir, dlq)
    assert "u1" not in state.docs and "u4" not in state.docs

    state.fail_ids = {"u4"}  # u1's mapping problem fixed; u4 still broken
    report = replay_dlq(spark, dlq, url)
    assert report == {"replayed": 2, "ok": 1, "still_failing": 1}
    assert "u1" in state.docs and "u4" not in state.docs

    state.fail_ids = set()  # everything fixed
    report = replay_dlq(spark, dlq, url)
    assert report == {"replayed": 1, "ok": 1, "still_failing": 0}
    assert "u4" in state.docs
    # spool fully drained; a third replay is a no-op
    assert replay_dlq(spark, dlq, url) == {
        "replayed": 0, "ok": 0, "still_failing": 0,
    }


def test_unrecoverable_failure_writes_abort_marker(spark, tmp_path, mock_es):
    """A 400 whole-request rejection never self-heals (bulk_post raises
    immediately): the epoch must FAIL — and leave an _aborts marker, not
    a commit manifest."""
    state, url = mock_es
    state.reject_queue = [400] * 20  # every attempt rejected outright
    rows = [(f"u{i}", f"n{i}", i) for i in range(4)]
    stream = _stream_docs(spark, tmp_path, rows)
    state_dir, dlq = str(tmp_path / "state"), str(tmp_path / "dlq")
    spark.dataSource.register(EsBulkDataSource)
    q = (
        stream.writeStream.format("es_bulk_sim")
        .option("endpoint", url)
        .option("index", "index_data")
        .option("id_field", "uuid")
        .option("state_dir", state_dir)
        .option("dlq_dir", dlq)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise q.exception()
    assert glob.glob(f"{state_dir}/_aborts/*.json"), "abort marker missing"
    assert not glob.glob(f"{state_dir}/_commits/*.json")
    assert state.docs == {}


def test_midnight_rollover_moves_alias_and_splits_indices(
    spark, tmp_path, mock_es
):
    """A stream crossing a virtual midnight: day-1 docs land in
    <alias>_<day1>, day-2 docs in <alias>_<day2>, the alias follows the
    newest day, and LATE day-1 data arriving after the flip lands in
    day 1's index without yanking the alias backward (es.go:78-116 as
    continuous behavior, round-6 VERDICT #5)."""
    state, url = mock_es
    src = str(tmp_path / "src")
    schema = "uuid string, name string, ingest_date string"
    batches = (
        [(f"a{i}", "n", "2021-06-01") for i in range(3)],       # day 1
        [(f"b{i}", "n", "2021-06-02") for i in range(3)],       # midnight
        [("late0", "n", "2021-06-01")],                          # late data
    )
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    spark.dataSource.register(EsBulkDataSource)
    q = (
        stream.writeStream.format("es_bulk_sim")
        .option("endpoint", url)
        .option("id_field", "uuid")
        .option("state_dir", str(tmp_path / "state"))
        .option("rollover_alias", "index_data")
        .option("rollover_date_field", "ingest_date")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    # docs split across BOTH dated indices
    assert {state.doc_index[f"a{i}"] for i in range(3)} == {
        "index_data_2021-06-01"
    }
    assert {state.doc_index[f"b{i}"] for i in range(3)} == {
        "index_data_2021-06-02"
    }
    # the alias moved to the newest day and the late write didn't
    # yank it back
    assert state.doc_index["late0"] == "index_data_2021-06-01"
    assert state.aliases["index_data"] == "index_data_2021-06-02"
    # the routing field never reached the strict-mapped documents
    assert "ingest_date" not in state.docs["a0"]


def test_rollover_null_date_goes_to_dlq_not_alias(spark, tmp_path, mock_es):
    """A NULL/garbled routing date must never mint an index — lexically
    'None' sorts past every real day and would hijack the alias forward
    permanently.  The row routes to the DLQ spool instead."""
    state, url = mock_es
    src = str(tmp_path / "src")
    schema = "uuid string, name string, ingest_date string"
    spark.createDataFrame(
        [("good0", "n", "2021-06-01"), ("bad0", "n", None)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    spark.dataSource.register(EsBulkDataSource)
    dlq = str(tmp_path / "dlq")
    q = (
        stream.writeStream.format("es_bulk_sim")
        .option("endpoint", url)
        .option("id_field", "uuid")
        .option("state_dir", str(tmp_path / "state"))
        .option("dlq_dir", dlq)
        .option("rollover_alias", "index_data")
        .option("rollover_date_field", "ingest_date")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert state.doc_index["good0"] == "index_data_2021-06-01"
    assert state.aliases["index_data"] == "index_data_2021-06-01"
    assert "bad0" not in state.docs
    entries = [
        json.loads(ln)
        for f in glob.glob(f"{dlq}/*.ndjson")
        for ln in open(f)
    ]
    assert any(e["uuid"] == "bad0" for e in entries)

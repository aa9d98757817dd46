"""Outside-in probes: everything here wraps a public entry point of the
package or reads a report Spark writes itself, so refactors inside the
package cannot break the measurement.

- ``ProbedBroker`` subclasses ``MockPulsarBroker`` to stamp due and ack
  times, keep disposition counters (drain detection without the
  broker's O(published) ``pending()`` scan) and count and time
  receive/ack/nack.
- ``probe_es_server`` swaps the ES mock server's request handler class
  for a subclass that counts and times ``_bulk``.
- ``RssSampler`` sums the resident memory of this process's descendants
  (the driver JVM and its Python workers) from ``/proc``.
- ``read_event_log`` folds a Spark event log into task totals.
- ``Tracer`` keeps spans in memory and writes them out at exit.
"""

from __future__ import annotations

import io
import json
import math
import os
import threading
import time

from go_pulsar_elasticsearch_spark.sources.pulsar_mock_broker import (
    MockPulsarBroker,
)


def percentile(values, q: float) -> float:
    """Nearest-rank percentile of ``values``."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


class Tracer:
    """Spans (name, start, end, parent and attributes) kept in memory
    and written out once, at the end of a run.

    A disabled tracer records nothing, so untraced runs pay only the
    ``enabled`` check at each layer boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    def span(self, name: str, start: float, end: float,
             parent: str | None = None, **attrs) -> None:
        if not self.enabled:
            return
        rec = {"name": name, "start": start, "end": end, "parent": parent}
        rec.update(attrs)
        with self._lock:
            self.spans.append(rec)

    def write(self, path: str, summary: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"summary": summary, "spans": self.spans}, fh)


class ProbedBroker(MockPulsarBroker):
    """The broker double with publish/ack stamps and call counters.

    Disposition bookkeeping mirrors the broker's contract: the first ack
    of a message disposes it, and a nack of a message already delivered
    ``max_deliveries`` times routes it to the DLQ (re-acks and re-nacks
    of disposed messages are no-ops there and here)."""

    def __init__(self, tracer: Tracer, **kw):
        super().__init__(**kw)
        self.tracer = tracer
        self._plock = threading.Lock()
        self.due: dict[int, float] = {}
        self.acked_at: dict[int, float] = {}
        self.dlq_at: dict[int, float] = {}
        self.published = 0
        self.disposed = 0
        self.last_disposed_at = 0.0
        self.first_receive_at = 0.0
        self._seen: set[int] = set()
        self.receive_calls = 0
        self.delivered = 0
        self.redelivered = 0
        self.acks = 0
        self.nacks = 0
        self.busy_s = 0.0

    def publish_due(self, topic: str, payload: bytes, due: float) -> int:
        mid = self.publish(topic, payload)
        with self._plock:
            self.due[mid] = due
            self.published += 1
        return mid

    def drained(self) -> bool:
        """Every published message is acked or routed to the DLQ."""
        with self._plock:
            return self.disposed >= self.published

    def receive(self, topic, subscription, max_messages=100):
        t0 = time.perf_counter()
        out = super().receive(topic, subscription, max_messages)
        t1 = time.perf_counter()
        with self._plock:
            if not self.receive_calls:
                self.first_receive_at = t0
            self.busy_s += t1 - t0
            self.receive_calls += 1
            self.delivered += len(out)
            for m in out:
                if m.msg_id in self._seen:
                    self.redelivered += 1
                else:
                    self._seen.add(m.msg_id)
        self.tracer.span("broker.receive", t0, t1, n=len(out))
        return out

    def ack(self, topic, subscription, msg_id):
        t0 = time.perf_counter()
        super().ack(topic, subscription, msg_id)
        t1 = time.perf_counter()
        with self._plock:
            self.busy_s += t1 - t0
            self.acks += 1
            if msg_id not in self.acked_at and msg_id not in self.dlq_at:
                self.acked_at[msg_id] = t1
                self.disposed += 1
                self.last_disposed_at = t1

    def nack(self, topic, subscription, msg_id):
        t0 = time.perf_counter()
        count = self.delivery_count(topic, subscription, msg_id)
        super().nack(topic, subscription, msg_id)
        t1 = time.perf_counter()
        with self._plock:
            self.busy_s += t1 - t0
            self.nacks += 1
            if (count >= self.max_deliveries and msg_id not in self.dlq_at
                    and msg_id not in self.acked_at):
                self.dlq_at[msg_id] = t1
                self.disposed += 1
                self.last_disposed_at = t1

    def counters(self) -> dict:
        with self._plock:
            return {
                "receive_calls": self.receive_calls,
                "delivered": self.delivered,
                "redelivered": self.redelivered,
                "acks": self.acks,
                "nacks": self.nacks,
                "dlq_routed": len(self.dlq_at),
                "busy_s": self.busy_s,
            }


class EsProbe:
    """Counters filled by the wrapped ``_bulk`` handler."""

    def __init__(self, tracer: Tracer, fail_ids: set[str]):
        self.tracer = tracer
        self.fail_ids = fail_ids
        self.lock = threading.Lock()
        self.bulk_requests = 0
        self.docs = 0
        self.item_failures = 0
        self.busy_s = 0.0


def probe_es_server(srv, probe: EsProbe) -> None:
    """Wrap the ES mock's request handler to count and time ``_bulk``.

    The body is read once here and handed to the original handler as a
    fresh stream, so the wrapper can count documents and rejected ids
    after the handler has answered, outside the timed span."""
    base = srv.RequestHandlerClass

    class ProbedHandler(base):
        def do_POST(self):
            if not self.path.rstrip("/").endswith("/_bulk"):
                return super().do_POST()
            t0 = time.perf_counter()
            size = int(self.headers.get("Content-Length", "0"))
            body = self.rfile.read(size)
            self.rfile = io.BytesIO(body)
            super().do_POST()
            t1 = time.perf_counter()
            ids = [
                next(iter(json.loads(line).values())).get("_id")
                for line in body.decode("utf-8").split("\n")[0::2]
                if line.strip()
            ]
            with probe.lock:
                probe.bulk_requests += 1
                probe.docs += len(ids)
                probe.item_failures += sum(i in probe.fail_ids for i in ids)
                probe.busy_s += t1 - t0
            probe.tracer.span("es.bulk", t0, t1, docs=len(ids))

    srv.RequestHandlerClass = ProbedHandler


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of the summed resident memory of every descendant process
    (the Spark driver JVM and its Python workers), sampled every
    ``interval`` seconds on a daemon thread."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        kb = sum(_rss_kb(p) for p in _descendants(os.getpid()))
        self.peak_kb = max(self.peak_kb, kb)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        return self.peak_kb / 1024.0


# SQL metrics (ms) of Python-evaluating plan nodes; a worker's start-up
# is both its launch and its initialization.  Several Python runners
# overlap in one task, so their sums can exceed the task's wall time.
_PY_START = (
    "time to start Python workers",
    "time to initialize Python workers",
)
_PY_RUN = "time to run Python workers"


def read_event_log(log_dir: str, start_ms: float, end_ms: float) -> dict:
    """Task totals from the Spark event log for jobs submitted inside
    [start_ms, end_ms] (epoch ms).  Python worker start and run time come
    from the SQL metrics of Python-evaluating plan nodes, which Spark
    ships as task accumulator updates."""
    out = {
        "jobs": 0, "tasks": 0, "executor_run_s": 0.0,
        "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
        "spill_bytes": 0, "python_start_s": 0.0, "python_run_s": 0.0,
    }
    events = []
    for dirpath, _dirs, files in os.walk(log_dir):
        for name in files:
            if name.startswith((".", "appstatus")):
                continue
            with open(os.path.join(dirpath, name)) as fh:
                events.extend(json.loads(ln) for ln in fh if ln.strip())
    jobs: set[int] = set()
    stages: set[int] = set()
    for ev in events:
        if (ev.get("Event") == "SparkListenerJobStart"
                and start_ms <= ev["Submission Time"] <= end_ms):
            jobs.add(ev["Job ID"])
            stages.update(ev.get("Stage IDs", ()))
    for ev in events:
        if (ev.get("Event") != "SparkListenerTaskEnd"
                or ev["Stage ID"] not in stages):
            continue
        m = ev.get("Task Metrics") or {}
        out["tasks"] += 1
        out["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        out["shuffle_write_bytes"] += m.get(
            "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        out["spill_bytes"] += (
            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0))
        for acc in ev["Task Info"].get("Accumulables", ()):
            if acc.get("Name") in _PY_START:
                out["python_start_s"] += float(acc["Update"]) / 1e3
            elif acc.get("Name") == _PY_RUN:
                out["python_run_s"] += float(acc["Update"]) / 1e3
    out["jobs"] = len(jobs)
    return out

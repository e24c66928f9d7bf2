"""Span recorder for traced runs, installed from outside the package.

``install`` wraps the public entry points the workloads call (``Engine``,
``TxTable``, ``sources.ndjson``) at run time and registers a
``StreamingQueryListener``; nothing in the package is edited. Spans are kept
in memory and written out once, at the end of the run. Untraced runs never
call ``install``, so they pay nothing.

A span records name, start, end, parent and run id. Work runs on one logical
client: a ``foreachBatch`` callback executes on a py4j thread while the
client thread blocks inside the trigger span, so one stack shared by all
threads gives each span its causal parent.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
import uuid

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self.progress: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def add(self, name: str, value: float) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + value

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that records a span named
        ``name``."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span minus the part of its interval
        its children cover (children of one parent never overlap here)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            d = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + max(0.0, d)
        return out

    def total(self, name: str) -> float:
        """Wall seconds of all spans named ``name``, children included."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(dict(s, run=self.run_id)) + "\n")
            for p in self.progress:
                f.write(json.dumps({"progress": p, "run": self.run_id}) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.t, self.name, self.attrs = tracer, name, attrs

    def __enter__(self):
        t = self.t
        with t._lock:
            self.id = len(t.spans)
            self.rec = {
                "id": self.id, "name": self.name,
                "parent": t._stack[-1] if t._stack else None,
                "start": time.perf_counter(), "end": None, **self.attrs,
            }
            t.spans.append(self.rec)
            t._stack.append(self.id)
        return self.rec

    def __exit__(self, *exc):
        t = self.t
        with t._lock:
            self.rec["end"] = time.perf_counter()
            t._stack.remove(self.id)
        return False


class ProgressListener(StreamingQueryListener):
    """Collects each micro-batch's ``durationMs`` and input row count."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.terminated = 0

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.tracer.progress.append(
            {"run": str(p.runId), "batch": p.batchId, "rows": p.numInputRows,
             "ms": dict(p.durationMs)}
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated += 1


def install(tracer: Tracer, spark) -> ProgressListener:
    """Wrap the public entry points and register the progress listener."""
    from mb_crdb_cdc_dlgen2_synapse_spark import engine as engine_mod
    from mb_crdb_cdc_dlgen2_synapse_spark import txlog
    from mb_crdb_cdc_dlgen2_synapse_spark.sources import ndjson

    Engine, TxTable = engine_mod.Engine, txlog.TxTable
    for attr in ("merge_into", "append"):
        tracer.wrap(TxTable, attr, f"txlog.{attr}")
        _count_bytes_written(tracer, TxTable, attr)
    tracer.wrap(TxTable, "read", "txlog.read")
    tracer.wrap(TxTable, "read_changes", "txlog.read_changes")
    tracer.wrap(Engine, "maintain", "txlog.maintain")
    tracer.wrap(Engine, "sql_tx", "engine.sql_tx_resolve")
    tracer.wrap(Engine, "sql", "engine.sql_resolve")
    tracer.wrap(Engine, "hybrid_search", "engine.hybrid_search_plan")
    tracer.wrap(ndjson, "read_raw_lines", "sources.raw_scan")
    listener = ProgressListener(tracer)
    spark.streams.addListener(listener)
    return listener


def _count_bytes_written(tracer: Tracer, owner, attr: str) -> None:
    """Add the bytes each commit of a write adds to ``txlog.bytes_written``:
    the data and deletion-vector files its log entry (``_txlog/<version>.json``)
    lists, and the entry itself. The lookups run in ``perfbench.probe`` spans,
    so their time counts in no layer's self time."""
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def counted(self, *args, **kwargs):
        with tracer.span("perfbench.probe"):
            before = self.version()
        out = fn(self, *args, **kwargs)
        with tracer.span("perfbench.probe"):
            tracer.add("txlog.bytes_written", sum(
                _commit_bytes(self.path, v) for v in range(before + 1, self.version() + 1)))
        return out

    setattr(owner, attr, counted)


def _commit_bytes(root: str, version: int) -> int:
    entry = os.path.join(root, "_txlog", f"{version:020d}.json")
    with open(entry) as f:
        commit = json.load(f)
    files = commit.get("added", []) + commit.get("dv_added", [])
    return os.path.getsize(entry) + sum(os.path.getsize(os.path.join(root, f)) for f in files)


def wait_for_listener(listener: ProgressListener, n_terminated: int, timeout: float = 10.0):
    """Listener events arrive asynchronously; wait until every query the run
    started has reported its termination."""
    deadline = time.monotonic() + timeout
    while listener.terminated < n_terminated and time.monotonic() < deadline:
        time.sleep(0.05)

"""Traced runs: spans around the engine's layers, timed from outside.

A ``Tracer`` wraps the public functions of each layer while it is
enabled and records one span per call:

    pass > query > build > tables | materialize | stream > batch | ml
                 > catalyst
                 > exec

Every span sets the Spark job group to its own id, so each job in the
event log belongs to exactly one span. Streaming jobs run on the
stream's thread under the group of the stream's run id instead; they
and the micro-batch spans reported by the ``StreamingQueryListener``
belong to the drain span whose interval holds their first batch.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PKG = "big_data_traffict_prediction_spark"
GROUP_PREFIX = "pb:"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    qid: int | None = None  # id of the query span this one belongs to
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans for one SparkSession; wrappers pass through while
    ``enabled`` is false."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.progress: list[dict] = []  # one per micro-batch, from the listener
        self.stream_owner: dict[str, int] = {}  # stream run id -> drain span id
        self.enabled = False
        self._stack: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()

    # -- spans ------------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.time(), attrs=attrs,
                 parent=parent.id if parent else None,
                 qid=parent.qid if parent else None)
        if name == "query":
            s.qid = s.id
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(f"{GROUP_PREFIX}{s.id}", name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"{GROUP_PREFIX}{parent.id}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _wrap(self, name: str, fn, reentrant: bool = True):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not reentrant and self._stack and self._stack[-1].name == name:
                return fn(*args, **kwargs)
            with self.span(name, fn=fn.__name__):
                return fn(*args, **kwargs)

        return wrapper

    # -- installing the wrappers -------------------------------------------

    def install(self) -> None:
        """Wrap every layer's entry points (see module docstring)."""
        from pyspark.ml import Pipeline
        from pyspark.ml.tuning import CrossValidator
        from pyspark.sql.streaming import StreamingQueryListener

        from big_data_traffict_prediction_spark import tables
        from big_data_traffict_prediction_spark.streaming import windows

        self._patch_functions("tables", tables, ("load_table", "traffic_history"))
        self._patch_functions("stream", windows, ("run_to_memory", "run_rollup_partials"))
        for owner in (Pipeline, CrossValidator):
            self._patch(owner, "fit", self._wrap("ml", owner.fit, reentrant=False))
        frame_cls = type(self.spark.range(0))  # the session's concrete DataFrame
        for meth in ("localCheckpoint", "checkpoint"):
            self._patch(frame_cls, meth, self._wrap("materialize", getattr(frame_cls, meth)))

        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                tracer._on_progress(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = Listener()
        self.spark.streams.addListener(self._listener)

    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr] if attr in owner.__dict__ else None))
        setattr(owner, attr, new)

    def _patch_functions(self, layer: str, home, names: tuple[str, ...]) -> None:
        """Wrap ``home.<name>`` and every engine module that imported it
        by name, so calls through either binding are seen."""
        for name in names:
            orig = getattr(home, name)
            wrapped = self._wrap(layer, orig)
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith(PKG) and getattr(mod, name, None) is orig:
                    self._patch(mod, name, wrapped)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._undo.clear()
        self.spark.streams.removeListener(self._listener)

    def _on_progress(self, p) -> None:
        ops = p.stateOperators
        rec = {
            "run_id": str(p.runId),
            "batch": p.batchId,
            "start": _iso_seconds(p.timestamp),
            "ms": dict(p.durationMs),
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_bytes": sum(o.memoryUsedBytes for o in ops),
            "state_partitions": sum(o.numShufflePartitions for o in ops),
            "state_commit_ms": sum(o.commitTimeMs for o in ops),
        }
        with self._lock:
            self.progress.append(rec)

    def wait_for_listener(self, quiet: float = 1.0, limit: float = 15.0) -> None:
        """Return once no progress event has arrived for ``quiet`` seconds."""
        deadline = time.time() + limit
        seen = -1
        while time.time() < deadline:
            with self._lock:
                n = len(self.progress)
            if n == seen:
                return
            seen = n
            time.sleep(quiet)


def _iso_seconds(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


# -- after the run: event log + spans -> per-layer metrics -------------------


def read_event_log(log_dir: str) -> tuple[dict[int, dict], dict[int, dict]]:
    """Jobs and completed stages from Spark's (uncompressed) event log."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
                       + glob.glob(os.path.join(log_dir, "local-*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "group": ev.get("Properties", {}).get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000.0,
                        "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
                    }
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    acc = {a["Name"]: a.get("Value") for a in info.get("Accumulables", [])}
                    stages[info["Stage ID"]] = {"tasks": info["Number of Tasks"], "acc": acc}
    return jobs, stages


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the durations of its direct children."""
    out = {s.id: s.dur for s in spans}
    for s in spans:
        if s.parent is not None:
            out[s.parent] -= s.dur
    return out


def batch_spans(tracer: Tracer) -> None:
    """Turn listener progress into ``batch`` spans under their drain span
    (clamped into it: the JVM clock reports whole milliseconds)."""
    drains = [s for s in tracer.spans if s.name == "stream"]
    first_batch: dict[str, float] = {}
    for rec in tracer.progress:
        first_batch[rec["run_id"]] = min(first_batch.get(rec["run_id"], rec["start"]), rec["start"])
    owner: dict[str, Span] = {}
    for run_id, t in first_batch.items():
        near = [d for d in drains if d.start - 0.5 <= t <= d.end + 0.5]
        if near:
            owner[run_id] = min(near, key=lambda d: abs(t - d.start))
    for rec in sorted(tracer.progress, key=lambda r: r["start"]):
        d = owner.get(rec["run_id"])
        if d is None:
            continue
        start = min(max(rec["start"], d.start), d.end)
        end = min(start + rec["ms"].get("triggerExecution", 0) / 1000.0, d.end)
        tracer.spans.append(Span(len(tracer.spans), "batch", start, end, d.id, d.qid,
                                 {"run_id": rec["run_id"], **rec}))
    tracer.stream_owner = {rid: d.id for rid, d in owner.items()}


def layer_metrics(tracer: Tracer, jobs: dict, stages: dict, pass_span: Span,
                  cores: int, py_cpu_s: float) -> dict[str, float]:
    """Per-layer metrics of one traced pass."""
    spans = tracer.spans
    by_id = {s.id: s for s in spans}
    in_pass = {s.id for s in spans if _ancestor(s, pass_span.id, by_id)}
    self_t = self_times(spans)
    stream_owner = tracer.stream_owner

    def layer_spans(name):
        return [by_id[i] for i in in_pass if by_id[i].name == name]

    def outermost(name):
        return [s for s in layer_spans(name) if not _has_ancestor_named(s, name, by_id)]

    # each job -> the span that fired it; a job outside every group (a
    # foreachBatch sink's callback thread) -> the drain running then
    drains = layer_spans("stream")
    job_span: dict[int, Span] = {}
    for jid, j in jobs.items():
        g = j["group"] or ""
        sid = int(g[len(GROUP_PREFIX):]) if g.startswith(GROUP_PREFIX) else stream_owner.get(g)
        if sid is None and not g:
            sid = next((d.id for d in drains if d.start <= j["start"] <= d.end), None)
        if sid is not None and sid in in_pass:
            job_span[jid] = by_id[sid]

    def jobs_under(name):
        return [j for j, s in job_span.items() if _has_ancestor_named(s, name, by_id, inclusive=True)]

    def stage_sum(job_ids, key):
        return sum(_num(stages[st]["acc"].get(key)) for j in job_ids
                   for st in jobs[j]["stages"] if st in stages)

    exec_jobs = jobs_under("exec")
    exec_s = sum(s.dur for s in layer_spans("exec"))
    run_s = stage_sum(exec_jobs, "internal.metrics.executorRunTime") / 1000.0
    all_jobs = list(job_span)
    batches = [s for s in spans if s.name == "batch" and s.parent in in_pass]
    last_batch: dict[str, dict] = {}
    for b in batches:
        last_batch[b.attrs["run_id"]] = b.attrs
    return {
        "tables.calls": sum(1 for s in layer_spans("tables") if s.attrs.get("fn") == "load_table"),
        "tables.s": sum(s.dur for s in outermost("tables")),
        "tables.jobs": len(jobs_under("tables")),
        "build.self_s": sum(self_t[s.id] for s in layer_spans("build")),
        "build.jobs": len(jobs_under("build")),
        "catalyst.analysis_s": sum(s.attrs.get("analysis", 0) for s in layer_spans("catalyst")) / 1000.0,
        "catalyst.optimization_s": sum(s.attrs.get("optimization", 0) for s in layer_spans("catalyst")) / 1000.0,
        "catalyst.planning_s": sum(s.attrs.get("planning", 0) for s in layer_spans("catalyst")) / 1000.0,
        "exec.s": exec_s,
        "exec.jobs": len(exec_jobs),
        "exec.stages": sum(1 for j in exec_jobs for st in jobs[j]["stages"] if st in stages),
        "exec.tasks": sum(stages[st]["tasks"] for j in exec_jobs for st in jobs[j]["stages"] if st in stages),
        "exec.slot_busy_frac": run_s / (exec_s * cores) if exec_s > 0 else 0.0,
        "exec.executor_cpu_s": stage_sum(exec_jobs, "internal.metrics.executorCpuTime") / 1e9,
        "exec.executor_run_s": run_s,
        "exec.gc_s": stage_sum(exec_jobs, "internal.metrics.jvmGCTime") / 1000.0,
        "exec.shuffle_read_bytes": stage_sum(exec_jobs, "internal.metrics.shuffle.read.remoteBytesRead")
        + stage_sum(exec_jobs, "internal.metrics.shuffle.read.localBytesRead"),
        "exec.shuffle_write_bytes": stage_sum(exec_jobs, "internal.metrics.shuffle.write.bytesWritten"),
        "exec.spill_bytes": stage_sum(exec_jobs, "internal.metrics.memoryBytesSpilled")
        + stage_sum(exec_jobs, "internal.metrics.diskBytesSpilled"),
        "materialize.jobs": len(jobs_under("materialize")),
        "materialize.s": sum(s.dur for s in outermost("materialize")),
        "py.worker_cpu_s": py_cpu_s,
        "py.bytes_sent": stage_sum(all_jobs, "data sent to Python workers"),
        "py.bytes_received": stage_sum(all_jobs, "data returned from Python workers"),
        "stream.batches": len(batches),
        "stream.trigger_s": sum(b.attrs["ms"].get("triggerExecution", 0) for b in batches) / 1000.0,
        "stream.add_batch_s": sum(b.attrs["ms"].get("addBatch", 0) for b in batches) / 1000.0,
        "stream.planning_s": sum(b.attrs["ms"].get("queryPlanning", 0) for b in batches) / 1000.0,
        "stream.wal_commit_s": sum(b.attrs["ms"].get("walCommit", 0) + b.attrs["ms"].get("commitOffsets", 0)
                                   for b in batches) / 1000.0,
        "stream.state_commit_s": sum(b.attrs["state_commit_ms"] for b in batches) / 1000.0,
        "stream.state_rows": sum(a["state_rows"] for a in last_batch.values()),
        "stream.state_bytes": sum(a["state_bytes"] for a in last_batch.values()),
        "stream.state_partitions": sum(a["state_partitions"] for a in last_batch.values()),
        "ml.fit_s": sum(s.dur for s in layer_spans("ml")),
        "ml.jobs": len(jobs_under("ml")),
    }


def _chain(s: Span | None, by_id: dict[int, Span]):
    """``s`` and its ancestors, innermost first."""
    while s is not None:
        yield s
        s = by_id.get(s.parent) if s.parent is not None else None


def _ancestor(s: Span, target: int, by_id: dict[int, Span]) -> bool:
    return any(a.id == target for a in _chain(s, by_id))


def _has_ancestor_named(s: Span, name: str, by_id: dict[int, Span], inclusive: bool = False) -> bool:
    start = s if inclusive else by_id.get(s.parent) if s.parent is not None else None
    return any(a.name == name for a in _chain(start, by_id))

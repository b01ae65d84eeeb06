"""Spans, Spark event-log attribution and streaming progress for the
traced run.

The untraced run uses ``NullTracer``: every hook is a no-op, so the
end-to-end numbers carry no tracing cost. The traced run uses ``Tracer``,
which keeps spans in memory (name, parent, op id, wall-clock start/end)
and joins them at exit with the Spark event log: every job is attributed
to the innermost span whose time window holds its submission time. That
is sound because one closed-loop client runs one operation at a time, and
it also catches streaming micro-batch jobs, which run on the stream's own
thread and inherit no job group.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

#: Slack when matching an event-log timestamp (JVM clock, ms) to a span
#: window (Python clock): both read the same wall clock, but each side
#: truncates to its own resolution.
_SLACK_MS = 2.0


def median(values):
    return statistics.median(values) if values else 0.0


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name, phase=None):
        yield

    def note_df(self, df):
        pass

    def after_op(self):
        pass


class Tracer:
    """In-memory spans; ``phase`` tags a span as ``build`` (construction
    before the action), ``drain`` (the action) or ``call`` (an operation
    that runs its own jobs, such as an index append)."""

    enabled = True

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._pending_dfs: list = []
        self.phases: list[dict] = []

    @contextmanager
    def span(self, name, phase=None):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "phase": phase,
            "op": self._op,
            "start_ms": time.time() * 1000.0,
        }
        if rec["parent"] is None and name == "op":
            rec["op"] = self._op = rec["id"]
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end_ms"] = time.time() * 1000.0
            self._stack.pop()
            if rec["parent"] is None:
                self._op = None

    def note_df(self, df):
        """Remember a drained DataFrame; its Catalyst phases are read
        after the operation's span closes (see ``after_op``)."""
        self._pending_dfs.append(df)

    def after_op(self):
        """Read Catalyst phase times of the DataFrames the last operation
        drained. After a noop write the DataFrame's own QueryExecution has
        only run analysis, so optimization and planning are forced here,
        outside the operation's timer, inside a span of their own so that
        any job they fire stays attributed."""
        dfs, self._pending_dfs = self._pending_dfs, []
        with self.span("catalyst.force"):
            for df in dfs:
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                phases = qe.tracker().phases()
                row = {}
                for name in ("analysis", "optimization", "planning"):
                    summary = phases.get(name)
                    row[name] = float(summary.get().durationMs()) if summary.isDefined() else 0.0
                self.phases.append(row)

    def dump(self, path):
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "catalyst": self.phases}, f)


def make_progress_listener(sink: list):
    """A StreamingQueryListener that appends one dict per micro-batch
    progress report to ``sink`` (input rows, state rows, rows dropped by
    the watermark) — the monitoring surface Structured Streaming exposes."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ops = p.stateOperators or []
            sink.append(
                {
                    "input_rows": int(p.numInputRows),
                    "state_rows": sum(int(s.numRowsTotal) for s in ops),
                    "dropped_rows": sum(int(s.numRowsDroppedByWatermark) for s in ops),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Progress()


def read_event_log(log_dir: str) -> dict:
    """Jobs, stage->job map and per-stage task totals from the one
    uncompressed event log in ``log_dir``."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_tot: dict[int, dict] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"submit_ms": float(ev["Submission Time"]), "stages": ev["Stage IDs"]}
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = jid
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                stage_tot.setdefault(sid, _zero_task_totals())["stages"] = 1
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                t = stage_tot.setdefault(ev["Stage ID"], _zero_task_totals())
                t["tasks"] += 1
                t["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                t["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                t["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                t["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
    return {"jobs": jobs, "stage_job": stage_job, "stage_tot": stage_tot}


def _zero_task_totals() -> dict:
    return {
        "stages": 0, "tasks": 0, "task_run_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0,
        "spill_bytes": 0, "input_bytes": 0, "output_bytes": 0, "shuffle_write_bytes": 0,
    }


def attribute_jobs(spans: list[dict], jobs: dict[int, dict]) -> tuple[dict[int, int], list[int]]:
    """Map each job to the innermost span holding its submission time.
    Returns (job id -> span id, unattributed job ids)."""
    owner: dict[int, int] = {}
    missing: list[int] = []
    for jid, job in jobs.items():
        t = job["submit_ms"]
        best = None
        for s in spans:
            if s["start_ms"] - _SLACK_MS <= t <= s.get("end_ms", float("inf")) + _SLACK_MS:
                if best is None or s["start_ms"] >= best["start_ms"]:
                    best = s
        if best is None:
            missing.append(jid)
        else:
            owner[jid] = best["id"]
    return owner, missing


def layer_report(tracer: Tracer, log: dict, progress: list[dict]) -> dict:
    """Per-layer numbers of one traced run.

    For every child span name ``<stem>`` inside operations: ``<stem>_s``
    is the median per call of its SELF time (its duration minus the part
    its child spans cover) and ``<stem>_jobs`` the mean number of Spark
    jobs per call, its descendants' included. Op-wide figures (``op.*``,
    ``exec.*``) are per operation, from the event log; Catalyst figures
    are means over drained DataFrames; streaming figures are totals of
    the progress reports divided by the number of operations that ran a
    stream."""
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}
    owner, missing = attribute_jobs(spans, log["jobs"])

    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)

    def dur(s):
        return (s["end_ms"] - s["start_ms"]) / 1000.0

    def within(span_id, jid):
        sid = owner.get(jid)
        while sid is not None:
            if sid == span_id:
                return True
            sid = by_id[sid]["parent"]
        return False

    ops = [s for s in spans if s["name"] == "op"]
    n_ops = max(1, len(ops))
    jobs_in = {s["id"]: [j for j in log["jobs"] if within(s["id"], j)] for s in spans if s["op"] is not None}

    out: dict[str, float] = {}
    stems: dict[str, dict[str, list[float]]] = {}
    for s in spans:
        if s["op"] is None or s["name"] == "op":
            continue
        self_s = dur(s) - sum(dur(c) for c in children.get(s["id"], []))
        st = stems.setdefault(s["name"], {"self": [], "jobs": []})
        st["self"].append(self_s)
        st["jobs"].append(len(jobs_in[s["id"]]))
    for stem, st in stems.items():
        out[f"{stem}_s"] = median(st["self"])
        out[f"{stem}_jobs"] = sum(st["jobs"]) / len(st["jobs"])

    build_s, build_jobs, drain_s = [], [], []
    for op in ops:
        kids = [s for s in spans if s["op"] == op["id"] and s["parent"] == op["id"]]
        b = [k for k in kids if k["phase"] == "build"]
        d = [k for k in kids if k["phase"] == "drain"]
        if b:
            build_s.append(sum(dur(k) for k in b))
            build_jobs.append(sum(len(jobs_in[k["id"]]) for k in b))
        if d:
            drain_s.append(sum(dur(k) for k in d))
    out["op.build_s"] = median(build_s)
    out["op.jobs_before_action"] = sum(build_jobs) / max(1, len(build_jobs))
    out["exec.drain_s"] = median(drain_s)

    tot = _zero_task_totals()
    op_jobs = {j for op in ops for j in jobs_in[op["id"]]}
    for sid, t in log["stage_tot"].items():
        if log["stage_job"].get(sid) in op_jobs:
            for k in tot:
                tot[k] += t[k]
    out["exec.jobs"] = len(op_jobs) / n_ops
    for k, v in tot.items():
        out[f"exec.{k}"] = v / n_ops

    for phase in ("analysis", "optimization", "planning"):
        # a mean: the tracker reports whole milliseconds, and a median of
        # those often reads the same on every run
        out[f"catalyst.{phase}_ms"] = statistics.fmean([p[phase] for p in tracer.phases] or [0.0])

    if progress:
        # per operation that ran a stream
        n_stream = max(1, len({s["op"] for s in spans if s["name"] == "streaming.run"}))
        inp = sum(p["input_rows"] for p in progress)
        out["streaming.batches"] = len(progress) / n_stream
        out["streaming.input_rows"] = inp / n_stream
        out["streaming.state_rows"] = sum(p["state_rows"] for p in progress) / n_stream
        out["streaming.dropped_by_watermark_ratio"] = (
            sum(p["dropped_rows"] for p in progress) / inp if inp else 0.0
        )
    out["trace.jobs_total"] = len(log["jobs"])
    out["trace.unattributed_jobs"] = len(missing)
    return out

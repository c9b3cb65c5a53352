"""Outside-in tracing for the kgloom benchmark.

Spans are opened by the benchmark around calls into kgloom's public
functions; nothing inside ``kgloom/`` is changed.  Calls that kgloom makes
internally (``compile_rml`` calling ``parse_turtle``, ``process_file``
calling ``to_json_string``, the pipeline calling ``SnapshotStore.write``)
are reached by swapping the module or class attribute for a wrapper for
the length of the traced pass (:func:`instrument`).

Each span sets its own Spark job group.  The Spark event log of the traced
session then attributes jobs, tasks, shuffle, spill and GC to spans
(:func:`parse_event_log`, :func:`spark_figures`).  Catalyst optimisation
time is not in the event log; a ``QueryExecutionListener`` registered
through the py4j callback server reports it per action
(:class:`OptimizeListener`).  None of this starts a Spark job.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import threading
import time
from collections import defaultdict


class NullTracer:
    """The untraced pass: spans cost one attribute lookup and a no-op."""

    def span(self, name: str, layer: str):
        return contextlib.nullcontext()


class Tracer:
    """In-memory spans; ``spans`` is written out when the run ends."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # perf_counter for durations, anchored once to the epoch so span
        # times line up with event-log timestamps
        self._epoch0 = time.time() - time.perf_counter()

    def group(self, span_id: int) -> str:
        return f"{self.run_id}-s{span_id}"

    def now(self) -> float:
        return self._epoch0 + time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "layer": layer, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": self.now(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(self.group(sid), name)
        try:
            yield rec
        finally:
            rec["end"] = self.now()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self.group(self._stack[-1]),
                                    self.spans[self._stack[-1]]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)


# -- instrumentation of kgloom-internal calls ------------------------------

def _patch_targets():
    """(owner, attribute, span name, layer, label) for every public call
    that kgloom makes internally and the benchmark must see."""
    import kgloom.engine as engine
    import kgloom.shexml as shexml
    import kgloom.sparql as sparql
    import kgloom.streaming.neardedup as neardedup
    import kgloom.streaming.validation as validation
    import kgloom.transcripts.pipeline as tpipe
    from kgloom.exec.binder import SparkBinder
    from kgloom.plan import PlanGraph
    from kgloom.tables import SnapshotStore

    def table(args, kwargs):
        return ":" + str(args[1] if len(args) > 1 else kwargs.get("table"))

    return [
        (engine, "parse_turtle", "rml.parse", "rml", None),
        (engine, "extract_document", "rml.extract", "rml", None),
        (engine, "translate_to_plan", "rml.translate", "rml", None),
        (shexml, "parse_shexml", "shexml.parse", "shexml", None),
        (shexml, "shexml_to_plan", "shexml.translate", "shexml", None),
        (PlanGraph, "to_json_string", "plan.serialize", "plan", None),
        (PlanGraph, "to_dot", "plan.serialize", "plan", None),
        (SparkBinder, "execute", "exec.bind", "exec", None),
        (engine, "write_sinks", "exec.sink", "exec", None),
        (tpipe, "write_sinks", "exec.sink", "exec", None),
        (engine, "nquads", "exec.sink", "exec", None),
        (sparql, "parse_sparql", "sparql.parse", "sparql", None),
        (SnapshotStore, "write", "tables.write", "tables", table),
        (SnapshotStore, "link_external", "tables.link_external", "tables",
         table),
        (SnapshotStore, "latest", "tables.latest", "tables", table),
        (SnapshotStore, "read", "tables.read", "tables", table),
        (validation, "validate_batch", "streaming.shacl_fold", "streaming",
         None),
        (neardedup, "dedup_batch", "streaming.neardedup_fold", "streaming",
         None),
    ]


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Swap each target for a span-opening wrapper; restore on exit."""
    saved = []
    for owner, attr, name, layer, label in _patch_targets():
        fn = owner.__dict__[attr]

        def make(fn=fn, name=name, layer=layer, label=label):
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                full = name + (label(args, kwargs) if label else "")
                with tracer.span(full, layer):
                    return fn(*args, **kwargs)
            return wrapper

        saved.append((owner, attr, fn))
        setattr(owner, attr, make())
    try:
        yield
    finally:
        for owner, attr, fn in reversed(saved):
            setattr(owner, attr, fn)


# -- Catalyst optimisation time --------------------------------------------

class OptimizeListener:
    """py4j implementation of ``QueryExecutionListener``: records, per
    finished action, the time the callback arrived and the tracker's
    optimisation plus planning phase durations (ms).  Callbacks arrive on
    the listener bus, so they are matched to operations afterwards by
    time."""

    def __init__(self):
        self.events: list[tuple[float, float]] = []
        self._lock = threading.Lock()

    def onSuccess(self, func_name, qe, duration_ns):
        self._record(qe)

    def onFailure(self, func_name, qe, exception):
        self._record(qe)

    def _record(self, qe):
        phases = qe.tracker().phases()
        ms = 0.0
        for phase in ("optimization", "planning"):
            p = phases.get(phase)
            if p.isDefined():
                ms += p.get().durationMs()
        with self._lock:
            self.events.append((time.time(), ms))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def register_optimize_listener(spark) -> OptimizeListener:
    from pyspark.java_gateway import ensure_callback_server_started
    ensure_callback_server_started(spark.sparkContext._gateway)
    listener = OptimizeListener()
    spark._jsparkSession.listenerManager().register(listener)
    return listener


# -- Spark event log --------------------------------------------------------

def parse_event_log(path: str) -> dict:
    """Jobs and stages from an uncompressed, non-rolling event log.

    Returns ``{"jobs": {id: {group, start, end, stages}}, "stages": {id:
    {tasks, run_ms: [..], shuffle_write, shuffle_read, spill, gc_ms}}}``;
    times are epoch milliseconds, task figures come from TaskEnd events."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(lambda: {
        "tasks": 0, "run_ms": [], "shuffle_write": 0, "shuffle_read": 0,
        "spill": 0, "gc_ms": 0})
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "group": (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id"),
                    "start": ev["Submission Time"], "end": None,
                    "stages": list(ev["Stage IDs"])}
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                st = stages[ev["Stage ID"]]
                st["tasks"] += 1
                if not m:
                    continue
                st["run_ms"].append(m["Executor Run Time"])
                st["gc_ms"] += m["JVM GC Time"]
                st["spill"] += (m["Memory Bytes Spilled"]
                                + m["Disk Bytes Spilled"])
                sr = m.get("Shuffle Read Metrics") or {}
                st["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                       + sr.get("Local Bytes Read", 0))
                sw = m.get("Shuffle Write Metrics") or {}
                st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
    return {"jobs": jobs, "stages": dict(stages)}


def spark_figures(log: dict, groups: set) -> dict:
    """Totals over the jobs whose group is in ``groups``.  A stage that
    several jobs share (skipped re-use) is counted once."""
    jobs = [j for j in log["jobs"].values() if j["group"] in groups]
    stage_ids = {s for j in jobs for s in j["stages"]}
    stages = [log["stages"][s] for s in stage_ids if s in log["stages"]]
    skew = 1.0
    for st in stages:
        if len(st["run_ms"]) >= 4:
            med = statistics.median(st["run_ms"])
            if med > 0:
                skew = max(skew, max(st["run_ms"]) / med)
    return {
        "jobs": len(jobs),
        "tasks": sum(st["tasks"] for st in stages),
        "exec_s": sum((j["end"] - j["start"]) / 1000.0
                      for j in jobs if j["end"] is not None),
        "task_run_s": sum(sum(st["run_ms"]) for st in stages) / 1000.0,
        "shuffle_write_bytes": sum(st["shuffle_write"] for st in stages),
        "shuffle_read_bytes": sum(st["shuffle_read"] for st in stages),
        "spill_bytes": sum(st["spill"] for st in stages),
        "gc_ms": sum(st["gc_ms"] for st in stages),
        "task_skew": skew,
    }


# -- span arithmetic --------------------------------------------------------

def self_times(spans: list[dict]) -> list[float]:
    """Seconds of each span not covered by its children.  Spans come from
    one sequential client, so children never overlap each other."""
    own = [s["end"] - s["start"] for s in spans]
    for s in spans:
        if s["parent"] is not None:
            own[s["parent"]] -= s["end"] - s["start"]
    return own


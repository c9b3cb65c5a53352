"""The traced run: per-layer figures for one workload.

One run makes three passes over the same operations: untraced, traced
(spans + Spark job groups + the optimisation listener), untraced again.
The first untraced pass gives the Spark job count the traced pass must
equal; the traced pass is compared with the mean wall time of the two
untraced passes, which cancels the steady speed-up of consecutive passes
as the JVM warms; the traced pass gives the layers.  Every per-layer
figure is a mean per timed operation of the workload (a document, a fresh
pipeline run, a batch fold, a mapping run) unless its name says otherwise.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys

from tracing import (NullTracer, Tracer, instrument, parse_event_log,
                     register_optimize_listener, self_times, spark_figures)

#: per_layer metric name → unit; the order BENCHMARK.json lists them in
PER_LAYER = {
    "rml.parse_ms": "ms", "rml.extract_ms": "ms", "rml.translate_ms": "ms",
    "shexml.parse_ms": "ms", "shexml.translate_ms": "ms",
    "sparql.parse_ms": "ms", "sparql.exec_ms": "ms",
    "plan.serialize_ms": "ms",
    "exec.bind_ms": "ms", "exec.bind_jobs": "count", "exec.sink_ms": "ms",
    "spark.optimize_ms": "ms", "spark.jobs": "count", "spark.tasks": "count",
    "spark.exec_s": "s", "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.gc_ms": "ms", "spark.task_skew": "ratio",
    "spark.utilization": "ratio",
    "transcripts.ingest_s": "s", "transcripts.mentions_s": "s",
    "transcripts.er_s": "s", "transcripts.er_jobs": "count",
    "transcripts.triples_s": "s",
    "tables.write_s": "s", "tables.bytes_written": "bytes",
    "tables.write_amp": "ratio", "tables.files_written": "count",
    "tables.resume_ms": "ms",
    "streaming.shacl_fold_s": "s", "streaming.neardedup_fold_s": "s",
    "streaming.state_bytes_per_batch": "bytes",
    "streaming.state_bytes_growth": "ratio", "streaming.state_dirs": "count",
    "ops.shacl_report_s": "s",
    "client.self_ms": "ms",
    "trace.overhead_ratio": "ratio", "trace.reconcile_ratio": "ratio",
    "trace.extra_jobs": "count",
}

#: how late a QueryExecutionListener callback may arrive after its op
CALLBACK_SLACK_S = 0.2

#: spans whose self time is reported as ``<span name>_ms``
SELF_TIME_MS = {"rml.parse", "rml.extract", "rml.translate", "shexml.parse",
                "shexml.translate", "sparql.parse", "sparql.exec",
                "plan.serialize", "exec.bind", "exec.sink"}

#: pipeline stage → the snapshot writes (and links) that materialise it
STAGES = {
    "transcripts.ingest_s": ("tables.link_external:transcripts",
                             "tables.write:transcripts"),
    "transcripts.mentions_s": ("tables.write:mentions",),
    "transcripts.er_s": ("tables.write:entities",),
    "transcripts.triples_s": ("tables.write:triples",),
}


class _OpGroup(NullTracer):
    """Untraced pass: one job group over every op (not over the oracle
    checks), so its job count compares with the traced pass's spans."""

    def __init__(self, sc, group: str):
        self.sc, self.group = sc, group

    @contextlib.contextmanager
    def span(self, name, layer):
        self.sc.setJobGroup(self.group, "untraced pass")
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)


def traced_run(spark, wl, args, run_ops, units: int, trace_dir: str,
               cores: int):
    """All passes; returns the recorded ops and what :func:`finish` needs
    after Spark stops."""
    sc = spark.sparkContext
    run_id = f"{args.workload}-{args.seed}"
    untraced_group = run_id + "-untraced"

    rec_u = run_ops(wl.ops(spark, NullTracer(), "u"),
                    _OpGroup(sc, untraced_group), units=units)

    listener = register_optimize_listener(spark)
    tracer = Tracer(sc, run_id)
    wl.extras.clear()
    with instrument(tracer):
        rec_t = run_ops(wl.ops(spark, tracer, "t"), tracer,
                        n_ops=len(rec_u))
    extras = dict(wl.extras)
    # passes speed up as the JVM warms; the traced pass sits between two
    # untraced ones, and their mean cancels that drift
    rec_u2 = run_ops(wl.ops(spark, NullTracer(), "v"), NullTracer(),
                     n_ops=len(rec_u))

    walls = [sum(r["seconds"] for r in rec) for rec in (rec_u, rec_t, rec_u2)]
    print("perfbench: pass walls untraced/traced/untraced "
          + " ".join(f"{w:.2f}s" for w in walls), file=sys.stderr)
    tracker = sc.statusTracker()
    jobs_u = len(tracker.getJobIdsForGroup(untraced_group))
    jobs_t = sum(len(tracker.getJobIdsForGroup(tracer.group(s["id"])))
                 for s in tracer.spans)
    os.makedirs(trace_dir, exist_ok=True)
    with open(os.path.join(trace_dir, f"{run_id}.spans.json"), "w") as f:
        json.dump({"run": run_id, "spans": tracer.spans}, f)
    state = {
        "spans": tracer.spans, "groups_of": tracer.group,
        "optimize": list(listener.events), "app_id": sc.applicationId,
        "wall_u": (walls[0] + walls[2]) / 2, "wall_t": walls[1],
        "primary": sum(1 for r in rec_t if r["timed"]),
        "extra_jobs": jobs_t - jobs_u, "cores": cores,
        "extras": extras,
    }
    return rec_u + rec_t + rec_u2, state, jobs_t == jobs_u


def _subtree_groups(spans, groups_of, roots) -> set:
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])
    out, todo = set(), [r["id"] for r in roots]
    while todo:
        sid = todo.pop()
        out.add(groups_of(sid))
        todo.extend(children.get(sid, ()))
    return out


def finish(state: dict, event_dir: str) -> dict:
    """Per-layer metrics from the spans and the (now closed) event log."""
    spans, n = state["spans"], max(state["primary"], 1)
    own = self_times(spans)
    values = dict.fromkeys(PER_LAYER, 0.0)

    client = 0.0
    for s, t in zip(spans, own):
        if s["name"] in SELF_TIME_MS:
            values[s["name"] + "_ms"] += t * 1e3 / n
        elif s["layer"] == "tables":
            values["tables.write_s"] += t / n
        elif s["layer"] == "client":
            client += t
    values["client.self_ms"] = client * 1e3 / n

    def named(name):
        return [s for s in spans if s["name"] == name]

    for metric, names in STAGES.items():
        values[metric] = sum(s["end"] - s["start"] for s in spans
                             if s["name"] in names) / n
    for metric, name in (("streaming.shacl_fold_s", "streaming.shacl_fold"),
                         ("streaming.neardedup_fold_s",
                          "streaming.neardedup_fold"),
                         ("ops.shacl_report_s", "ops.shacl_report")):
        hits = named(name)
        if hits:
            values[metric] = (sum(s["end"] - s["start"] for s in hits)
                              / len(hits))

    log = parse_event_log(os.path.join(event_dir, state["app_id"]))
    groups_of = state["groups_of"]
    every = {groups_of(s["id"]) for s in spans}
    fig = spark_figures(log, every)
    for key in ("jobs", "tasks", "exec_s", "shuffle_write_bytes",
                "shuffle_read_bytes", "spill_bytes", "gc_ms"):
        values["spark." + key] = fig[key] / n
    values["spark.task_skew"] = fig["task_skew"]
    values["spark.utilization"] = fig["task_run_s"] / (
        state["wall_t"] * state["cores"])
    values["exec.bind_jobs"] = spark_figures(
        log, _subtree_groups(spans, groups_of, named("exec.bind")))["jobs"] / n
    values["transcripts.er_jobs"] = spark_figures(
        log, _subtree_groups(spans, groups_of,
                             named("tables.write:entities")))["jobs"] / n

    # listener callbacks arrive on the listener bus shortly after their
    # action ends; the oracle checks between operations are excluded
    ops = [s for s in spans if s["parent"] is None]
    values["spark.optimize_ms"] = sum(
        ms for t, ms in state["optimize"]
        if any(o["start"] <= t <= o["end"] + CALLBACK_SLACK_S for o in ops)
    ) / n

    resumes = named("op:pipeline_resume")
    if resumes:
        values["tables.resume_ms"] = 1e3 * sum(
            s["end"] - s["start"] for s in resumes) / len(resumes)
    for key, value in state["extras"].items():
        values[key] = value
    values["trace.overhead_ratio"] = state["wall_t"] / state["wall_u"] - 1.0
    values["trace.reconcile_ratio"] = sum(own) / state["wall_u"]
    values["trace.extra_jobs"] = float(state["extra_jobs"])
    return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in values.items()}


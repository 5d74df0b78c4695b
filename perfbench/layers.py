"""Per-layer metrics of a traced run.

Each traced warm pass gives one value per metric; the run reports the
median over its traced passes. Self times are shares of the traced pass
wall. Spark task metrics come from the event log, charged to the job group
(``<layer>:<span id>``) of the innermost span open when the job started.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import PLAN_KINDS, Recorder, descendants, layer_self_times, parse_event_log
from workloads import CORPUS_QUERIES, LAKE_QUERIES

LAYERS = (
    "pass", "query", "caching.release", "queries.build", "sources.catalog.load",
    "spark.plan", "spark.exec",
    "pipelines.pipeline_1", "pipelines.pipeline_2", "workload.source.read",
    "plans.incremental.run", "plans.incremental.detect", "sources.lake.read",
    "sources.lake.overwrite", "sources.lake.cleanup", "plans.ledger", "plans.reconcile",
    "plans.mart_incremental.refresh", "pipelines.mart.write_staging",
    "pipelines.mart.publish",
)
# Which end-to-end metric each layer metric should move, and on which workload.
LAYER_TO_END_TO_END = {
    "session.start_s": "setup_s (all)",
    "process.cold_pass_s": "cold_cpu_s (all)",
    "workload.gen_s": "setup_s only (all)",
    "sources.catalog.load": "op_geomean_s on lake_queries; little on corpus_operators",
    "queries.build / queries.eager_jobs": "pass_s on corpus_operators; little on lake_queries",
    "spark.plan / spark.exec / spark.*": "pass_s and cpu_s on both query workloads",
    "caching.release": "none expected",
    "plans.incremental.detect / partitions_changed": "pass_s on cdc_cycle",
    "sources.lake.*": "pass_s on cdc_cycle; sources.lake.bytes_per_row",
    "plans.ledger": "pass_s on cdc_cycle (fixed per-cycle cost)",
    "plans.reconcile / plans.mart_incremental.refresh / pipelines.mart.*": "pass_s on cdc_cycle",
}


def per_layer_units() -> dict[str, str]:
    m = {"session.start_s": "s", "workload.gen_s": "s", "process.peak_rss_mb": "MB",
         "process.cold_pass_s": "s",
         "trace.pass_s": "s",
         "trace.untraced_pass_s": "s", "trace.overhead_pct": "%", "trace.self_sum_pct": "%"}
    m.update({f"{layer}.self_pct": "%" for layer in LAYERS})
    m.update({
        "sources.catalog.load.calls": "count", "queries.eager_jobs": "count",
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.task_cpu_s": "s", "spark.task_run_s": "s",
        "spark.shuffle_read_bytes": "B", "spark.shuffle_write_bytes": "B",
        "spark.spill_bytes": "B",
        "plans.ledger.calls": "count", "plans.incremental.partitions_changed": "count",
        "sources.lake.files": "count", "sources.lake.bytes": "B",
        "sources.lake.rows_rewritten_per_changed_row": "ratio",
        "sources.lake.bytes_per_row": "B/row",
    })
    m.update({f"plan.{k}": "count" for k in PLAN_KINDS})
    m.update({f"{q}.wall_pct": "%" for q in LAKE_QUERIES + CORPUS_QUERIES})
    return m


def pass_layer_values(spans, pass_span, events, counts: dict) -> dict[str, float]:
    """Every per-layer value of one traced pass, except the run-level ones."""
    metrics, jobs, stages = events
    sub = descendants(spans, pass_span.id)
    wall = pass_span.wall
    own = layer_self_times(spans, pass_span.id)
    v = {f"{layer}.self_pct": 100 * own.get(layer, 0.0) / wall for layer in LAYERS}
    v["trace.self_sum"] = sum(own.values())

    groups = [Recorder.group_of(s) for s in sub]
    task = defaultdict(float)
    for g in groups:
        for k, x in metrics.get(g, {}).items():
            task[k] += x
    v["spark.jobs"] = sum(jobs.get(g, 0) for g in groups)
    v["spark.stages"] = sum(stages.get(g, 0) for g in groups)
    v["spark.tasks"] = task["tasks"]
    v["spark.task_cpu_s"] = task["cpu_s"]
    v["spark.task_run_s"] = task["run_s"]
    v["spark.shuffle_read_bytes"] = task["shuffle_read_bytes"]
    v["spark.shuffle_write_bytes"] = task["shuffle_write_bytes"]
    v["spark.spill_bytes"] = task["spill_bytes"]

    # eager actions (counts, collects, checkpoints) inside a query function;
    # the jobs of the table loads it calls are charged to sources.catalog.load
    v["queries.eager_jobs"] = sum(
        jobs.get(Recorder.group_of(s), 0) for s in sub if s.name == "queries.build")
    v["sources.catalog.load.calls"] = sum(s.name == "sources.catalog.load" for s in sub)
    by_id = {s.id: s for s in sub}
    v["plans.ledger.calls"] = sum(
        s.name == "plans.ledger" and by_id[s.parent].name != "plans.ledger" for s in sub)
    for s in sub:
        if s.name == "query":
            v[f"{s.attrs['op']}.wall_pct"] = 100 * s.wall / wall

    written = sum(metrics.get(Recorder.group_of(s), {}).get("output_records", 0)
                  for s in sub if s.name == "sources.lake.overwrite")
    v["plans.incremental.partitions_changed"] = counts.get("partitions_changed", 0)
    v["sources.lake.files"] = counts.get("lake_files", 0)
    v["sources.lake.bytes"] = counts.get("lake_bytes", 0)
    changed = counts.get("changed_rows", 0)
    v["sources.lake.rows_rewritten_per_changed_row"] = written / changed if changed else 0.0
    return v


def per_layer_metrics(wl, passes, tagged, event_lines, session_s, gen_s):
    """(metrics, trace document) of a traced run from its measured warm passes."""
    events = parse_event_log(event_lines)
    traced = [(span, counts) for rec, span, _cpu, counts in passes if rec is tagged]
    untraced = [span.wall for rec, span, _cpu, _c in passes if rec is not tagged]
    per_pass = [pass_layer_values(tagged.spans, span, events, counts) for span, counts in traced]

    names = set().union(*per_pass)
    med = {n: statistics.median(p.get(n, 0.0) for p in per_pass) for n in names}
    traced_wall = statistics.median(span.wall for span, _c in traced)
    untraced_wall = statistics.median(untraced)
    m = {
        "session.start_s": session_s,
        "workload.gen_s": gen_s,
        "trace.pass_s": traced_wall,
        "trace.untraced_pass_s": untraced_wall,
        "trace.overhead_pct": 100 * (traced_wall - untraced_wall) / untraced_wall,
        "trace.self_sum_pct": 100 * med.pop("trace.self_sum") / untraced_wall,
    }
    m.update(med)
    for q in LAKE_QUERIES + CORPUS_QUERIES:
        m.setdefault(f"{q}.wall_pct", 0.0)
    nodes = getattr(wl, "plan_nodes", {})
    for k in PLAN_KINDS:
        m[f"plan.{k}"] = sum(c[k] for c in nodes.values())
    m["sources.lake.bytes_per_row"] = (
        wl.lake_bytes_per_row() if hasattr(wl, "lake_bytes_per_row") else 0.0)

    doc = {
        "spans": [s.__dict__ for s in tagged.spans],
        "untraced_pass_walls": untraced,
        "per_pass": per_pass,
        "plan_nodes": nodes,
        "job_groups": {g: {"jobs": n, **events[0].get(g, {})} for g, n in events[1].items()},
        "layer_to_end_to_end": LAYER_TO_END_TO_END,
    }
    return m, doc

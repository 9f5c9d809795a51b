"""The traced run: per-layer metrics for one workload.

Order: three plan builds with a Py4J counter on ``materialize_rules``;
one traced repetition (spans + job-group-scoped Spark metrics) and one
untraced repetition right after it, for the tracing overhead; then the
pipeline-prefix runs that cost the executor-side layers. Metrics of a
layer that does not run on the workload read 0.
"""

from __future__ import annotations

import os
import time

import probe
import spans

PER_LAYER = {
    "mapping.parse_s": "s", "mapping.rules": "count",
    "plans.partitioner.assign_s": "s", "plans.partitioner.groups": "count",
    "plans.compiler.build_s": "s", "plans.compiler.py4j_calls": "count",
    "plans.compiler.prepare_s": "s", "plans.compiler.render_s": "s",
    "plans.compiler.distinct_s": "s", "plans.compiler.prepared_rows": "count",
    "plans.compiler.rendered_rows": "count",
    "plans.compiler.distinct_rows": "count",
    "plans.compiler.distinct_keep_ratio": "ratio",
    "operators.joins.join_s": "s", "operators.joins.rows_out": "count",
    "sources.registry.load_s": "s", "sources.registry.cached_mb": "MB",
    "operators.dedup.cluster_s": "s", "operators.dedup.candidate_pairs": "count",
    "operators.dedup.pages_dropped": "count", "operators.dedup.pair_yield": "ratio",
    "pipeline.pages.extract_s": "s", "pipeline.pages.mention_s": "s",
    "pipeline.pages.link_s": "s", "pipeline.pages.render_s": "s",
    "pipeline.pages.mentions": "count", "pipeline.pages.linked": "count",
    "pipeline.pages.link_yield": "ratio",
    "pipeline.checkpoint.commit_s": "s", "pipeline.checkpoint.buckets": "count",
    "pipeline.checkpoint.bytes": "B",
    "sinks.ntriples.write_s": "s", "sinks.ntriples.files": "count",
    "sinks.ntriples.bytes": "B",
    "spark.plan_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.task_run_s": "s", "spark.task_cpu_s": "s",
    "spark.gc_s": "s", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    "spark.serial_stage_s": "s", "spark.idle_core_s": "s",
    "trace.unattributed_s": "s", "trace.overhead_s": "s",
}


def _py4j_calls(wl, spark) -> int:
    """Py4J commands of one ``materialize_rules`` plan build, from the
    last two of three builds (the first fills Py4J's lookup caches); -1
    when they disagree, as the count is only reported if it repeats."""
    from morph_kgc_spark import engine
    from morph_kgc_spark.pipeline import pages
    from morph_kgc_spark.plans import compiler

    counts = []
    for _ in range(3):
        with spans.count_py4j(spark, [(engine, "materialize_rules"),
                                      (compiler, "materialize_rules"),
                                      (pages, "materialize_rules")]) as c:
            wl.build(spark)
        wl.cleanup(spark)
        counts.append(c.count)
    return counts[1] if counts[1] == counts[2] else -1


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def traced(wl, spark, run_s: float, cores: int, context: dict, work: str) -> dict:
    """``run_s`` is the median untraced repetition of the measured loop."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    m["plans.compiler.py4j_calls"] = _py4j_calls(wl, spark)

    tracer = spans.Tracer(spark, f"{wl.name}-{wl.seed}")
    spans.install(tracer)
    tracer.wrap([wl], "sink", "benchmark.sink")
    try:
        with tracer.span("benchmark.rep") as root:
            res = wl.rep(spark)
        m["sources.registry.cached_mb"] = probe.cached_mb(spark)
    finally:
        tracer.restore()
        wl.cleanup(spark)
    wall = root["end"] - root["start"]
    jobs = probe.job_metrics(spark, tracer.groups())
    # an untraced repetition right after, at the same JIT warmth
    t0 = time.perf_counter()
    wl.rep(spark)
    untraced = time.perf_counter() - t0
    wl.cleanup(spark)

    named = {s["name"]: s for s in tracer.spans}
    m["mapping.parse_s"] = tracer.total("mapping.parse_any_mapping")
    m["mapping.rules"] = named.get("mapping.parse_any_mapping", {}).get("rules", 0)
    m["plans.partitioner.assign_s"] = tracer.total(
        "plans.partitioner.assign_mapping_partitions")
    m["plans.partitioner.groups"] = sum(
        s.get("groups", 0) for s in tracer.spans
        if s["name"] == "plans.partitioner.assign_mapping_partitions")
    m["plans.compiler.build_s"] = tracer.total("plans.compiler.materialize_rules")
    m["sources.registry.load_s"] = tracer.total("sources.registry.load", True)
    m["pipeline.checkpoint.commit_s"] = tracer.total(
        "pipeline.checkpoint.write_checkpointed")
    m["sinks.ntriples.write_s"] = tracer.total("sinks.ntriples.write_ntriples")
    if "pipeline.checkpoint.write_checkpointed" in named:
        m["pipeline.checkpoint.buckets"] = res["buckets"]
        m["pipeline.checkpoint.bytes"] = res["bytes"]
    if "sinks.ntriples.write_ntriples" in named:
        m["sinks.ntriples.files"] = res["files"]
        m["sinks.ntriples.bytes"] = res["bytes"]

    for k in probe.STAGE_KEYS:
        m[f"spark.{k}"] = jobs[k]
    m["spark.jobs"] = jobs["jobs"]
    m["spark.plan_s"] = wall - probe.busy_s(jobs["intervals"])
    m["spark.idle_core_s"] = wall * cores - jobs["task_run_s"]
    m["trace.unattributed_s"] = tracer.self_time(root)
    m["trace.overhead_s"] = wall - untraced

    prefixes = spans.prefix_costs(spark, wl)
    by = {p["layer"]: p for p in prefixes}

    def marginal(layer):
        return by[layer]["marginal_s"] if layer in by else 0.0

    def rows(layer, pred=lambda label: True):
        return sum(v for k, v in by[layer]["rows"].items() if pred(k)) \
            if layer in by else 0

    m["sources.registry.load_s"] += marginal("sources.registry")
    m["plans.compiler.prepare_s"] = marginal("plans.compiler.prepare")
    m["operators.joins.join_s"] = marginal("operators.joins")
    m["plans.compiler.render_s"] = (marginal("plans.compiler.render")
                                    + marginal("pipeline.pages.render"))
    m["plans.compiler.distinct_s"] = marginal("plans.compiler.distinct")
    m["plans.compiler.prepared_rows"] = rows("plans.compiler.prepare")
    m["plans.compiler.rendered_rows"] = rows("plans.compiler.render")
    m["plans.compiler.distinct_rows"] = rows("plans.compiler.distinct")
    m["plans.compiler.distinct_keep_ratio"] = _ratio(
        m["plans.compiler.distinct_rows"], m["plans.compiler.rendered_rows"])
    m["operators.joins.rows_out"] = rows("operators.joins",
                                         lambda label: label.startswith("j"))

    if "operators.dedup" in by:
        m["operators.dedup.cluster_s"] = marginal("operators.dedup")
        m["operators.dedup.candidate_pairs"] = probe.sql_node_rows(
            spark, by["operators.dedup"]["executions"],
            lambda name, desc: "Join" in name and "band" in desc)
        m["operators.dedup.pages_dropped"] = (
            wl.facts["pages"] - rows("operators.dedup"))
        m["operators.dedup.pair_yield"] = _ratio(
            wl.facts["true_pairs"], m["operators.dedup.candidate_pairs"])
        m["pipeline.pages.extract_s"] = marginal("pipeline.pages.extract")
        m["pipeline.pages.mention_s"] = marginal("pipeline.pages.mention")
        m["pipeline.pages.link_s"] = marginal("pipeline.pages.link")
        m["pipeline.pages.render_s"] = marginal("pipeline.pages.render")
        m["pipeline.pages.mentions"] = rows("pipeline.pages.mention")
        m["pipeline.pages.linked"] = rows("pipeline.pages.link")
        m["pipeline.pages.link_yield"] = _ratio(
            m["pipeline.pages.linked"], m["pipeline.pages.mentions"])

    path = os.path.join(work, f"trace-{wl.name}-seed{wl.seed}.json")
    tracer.dump(path, {"prefixes": prefixes, "traced_wall_s": wall,
                       "untraced_after_s": untraced, "measured_run_s": run_s})
    context["trace_file"] = path
    return {k: (float(v), PER_LAYER[k]) for k, v in m.items()}

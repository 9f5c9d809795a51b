"""Span tracer for the traced run, installed from outside the package.

``Tracer.wrap`` replaces a public function of a package module (at every
module that imported it by name) with a wrapper that records a span —
name, start, end, parent span, run id — and scopes the Spark jobs the
call launches under a job group named after the span. Spans stay in
memory and are written out when the run ends. The originals are put back
by ``restore``.

Spark fuses the layers of one rule into one stage, so executor-side
layers are costed separately by ``prefix_costs``: each prefix of the
pipeline is forced through the noop sink and consecutive prefixes are
subtracted.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from pyspark.sql import Observation
from pyspark.sql import functions as F

import probe


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "run": self.run_id, "group": f"{self.run_id}:{len(self.spans)}"}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setJobGroup(f"{self.run_id}:idle", "idle")

    def wrap(self, owners, attr: str, name: str, attrs=None) -> None:
        """Trace ``attr`` on each owner (module or class) that holds the
        same function object; ``attrs(result)`` adds fields to the span."""
        orig = getattr(owners[0], attr)
        tracer = self

        def traced(*a, **k):
            with tracer.span(name) as rec:
                out = orig(*a, **k)
                if attrs is not None:
                    rec.update(attrs(out))
                return out

        for owner in owners:
            self._patched.append((owner, attr, getattr(owner, attr)))
            setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()
        self.sc.setJobGroup("untraced", "untraced")

    def groups(self) -> list[str]:
        return [s["group"] for s in self.spans] + [f"{self.run_id}:idle"]

    def self_time(self, rec: dict) -> float:
        kids = sum(s["end"] - s["start"] for s in self.spans
                   if s["parent"] == rec["id"])
        return rec["end"] - rec["start"] - kids

    def total(self, name: str, self_only: bool = False) -> float:
        return sum(self.self_time(s) if self_only else s["end"] - s["start"]
                   for s in self.spans if s["name"] == name)

    def dump(self, path: str, extra: dict) -> None:
        origin = min((s["start"] for s in self.spans), default=0.0)
        spans = [{**s, "start": s["start"] - origin, "end": s["end"] - origin,
                  "self_s": self.self_time(s)} for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans, **extra}, f, indent=1)


def install(tracer: Tracer) -> None:
    """Wrap the public entry points of each package layer."""
    from morph_kgc_spark import engine, mapping
    from morph_kgc_spark.operators import dedup
    from morph_kgc_spark.pipeline import checkpoint, pages
    from morph_kgc_spark.plans import compiler, partitioner
    from morph_kgc_spark.sinks import ntriples
    from morph_kgc_spark.sources import registry

    def groups(rules):
        return {"groups": len({r.mapping_partition for r in rules}),
                "rules": len(rules)}

    w = tracer.wrap
    w([engine], "materialize", "engine.materialize")
    w([mapping], "parse_any_mapping", "mapping.parse_any_mapping",
      lambda rules: {"rules": len(rules)})
    w([engine, partitioner], "assign_mapping_partitions",
      "plans.partitioner.assign_mapping_partitions", groups)
    w([engine, compiler, pages], "materialize_rules",
      "plans.compiler.materialize_rules")
    w([compiler], "compile_rule", "plans.compiler.compile_rule")
    w([compiler], "prepare_source", "plans.compiler.prepare_source")
    w([compiler], "join_child_parent", "operators.joins.join_child_parent")
    w([engine, registry], "default_registry", "sources.registry.default_registry")
    w([registry.SourceRegistry], "__call__", "sources.registry.load")
    w([dedup], "simhash_dup_clusters", "operators.dedup.simhash_dup_clusters")
    w([pages], "pipeline_triples", "pipeline.pages.pipeline_triples")
    w([pages], "detect_mentions", "pipeline.pages.detect_mentions")
    w([pages], "link_entities", "pipeline.pages.link_entities")
    w([checkpoint], "write_checkpointed", "pipeline.checkpoint.write_checkpointed",
      lambda st: {"buckets": len(st.written_buckets), "rows": st.rows_written})
    w([ntriples], "write_ntriples", "sinks.ntriples.write_ntriples")


@contextmanager
def count_py4j(spark, owners_attr):
    """Count Py4J commands sent inside ``materialize_rules`` calls."""
    counter = probe.Py4jCounter(spark)
    patched = []
    for owner, attr in owners_attr:
        orig = getattr(owner, attr)

        def counted(*a, _orig=orig, **k):
            with counter:
                return _orig(*a, **k)

        patched.append((owner, attr, orig))
        setattr(owner, attr, counted)
    try:
        yield counter
    finally:
        for owner, attr, orig in patched:
            setattr(owner, attr, orig)


def _hashed(df):
    return df.select(F.xxhash64(*[F.col(f"`{c}`") for c in df.columns]).alias("h"))


def force_prefix(spark, frames: dict[str, object]) -> dict[str, int]:
    """Force all ``frames`` in one noop job; returns their row counts."""
    obs, union = {}, None
    for label, df in frames.items():
        obs[label] = Observation()
        h = _hashed(df.observe(obs[label], F.count(F.lit(1)).alias("n")))
        union = h if union is None else union.unionAll(h)
    union.write.format("noop").mode("overwrite").save()
    return {label: int(o.get["n"]) for label, o in obs.items()}


def prefix_costs(spark, workload, tries: int = 2) -> list[dict]:
    """Wall time (build + force, best of ``tries``) and row counts of each
    pipeline prefix, and each layer's marginal cost: its prefix minus the
    previous one."""
    out, prev = [], 0.0
    for layer, build in workload.prefixes(spark):
        walls = []
        for _ in range(tries):
            before = set(probe.sql_execution_ids(spark))
            t0 = time.perf_counter()
            rows = force_prefix(spark, build())
            walls.append(time.perf_counter() - t0)
            execs = sorted(set(probe.sql_execution_ids(spark)) - before)
            workload.cleanup(spark)
        wall = min(walls)
        out.append({"layer": layer, "prefix_s": wall, "marginal_s": wall - prev,
                    "rows": rows, "executions": execs})
        prev = wall
    return out

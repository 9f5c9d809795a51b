"""The three workloads: inputs, one repetition, and the output check.

A workload object is built once per invocation. ``prepare`` writes the
seeded inputs, the oracle digest and the check's self-test (untimed);
``rep`` is one timed repetition through the public API (``build`` the
lazy triples, then ``sink`` them); ``check`` compares a repetition's
output with the oracle (untimed); ``prefixes`` lists the pipeline
prefixes the traced run forces to cost the executor-side layers.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics

from pyspark.sql import Observation
from pyspark.sql import functions as F

import gen
import oracle

EX = "http://example.com/"
FOAF_NAME = "http://xmlns.com/foaf/0.1/name"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
WEB_MAX_HAMMING = 3
WEB_BUCKETS = 2


def force_digest(df) -> dict:
    """Run the whole plan through the noop sink, observing in the same
    job the ``oracle`` digest of its lines and their N-Triples size."""
    line = F.concat_ws(" ", "subject", "predicate", "object")
    h = F.conv(F.substring(F.md5(line), 1, 15), 16, 10).cast("decimal(38,0)")
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n"), F.sum(h).alias("h"),
               F.sum(F.octet_length(line) + 3).alias("bytes")) \
      .write.format("noop").mode("overwrite").save()
    got = obs.get
    return {"triples": int(got["n"]), "hash": int(got["h"] or 0),
            "bytes": int(got["bytes"] or 0)}


def _files_bytes(pattern: str) -> tuple[int, int]:
    files = [p for p in glob.glob(pattern) if os.path.isfile(p)]
    return len(files), sum(os.path.getsize(p) for p in files)


class Workload:
    name = ""

    def __init__(self, work: str, seed: int):
        self.root = os.path.join(work, f"{self.name}-seed{seed}")
        self.seed = seed
        self.out = os.path.join(work, f"{self.name}-out")

    def rep(self, spark) -> dict:
        return self.sink(spark, self.build(spark))

    def bytes_per_triple(self, results: list[dict]) -> float:
        return statistics.median(r["bytes"] / r["triples"] for r in results)

    def prepare(self) -> dict:
        """Generate inputs, then the oracle digest and the self-test,
        once per seed."""
        self.inputs = self.generate()
        path = os.path.join(self.root, "expected.json")
        if not os.path.exists(path):
            con = oracle.connect(self.inputs["paths"])
            try:
                lines, facts = self.oracle_lines(con)
                digest = oracle.digest(con, lines)
                selftest = oracle.selftest(con, lines, digest)
            finally:
                con.close()
            with open(path, "w") as f:
                json.dump({"digest": digest, "facts": facts,
                           "selftest": selftest}, f)
        with open(path) as f:
            exp = json.load(f)
        self.digest = tuple(exp["digest"])
        self.facts = exp["facts"]
        self.selftest = exp["selftest"]
        return self.inputs

    def check(self, res: dict) -> None:
        """Untimed, after each repetition: its output against the oracle."""
        got = res.get("digest")
        if got is None:
            con = oracle.connect({})
            try:
                got = oracle.digest(con, self.engine_lines_sql())
            finally:
                con.close()
        if tuple(got) != self.digest:
            raise AssertionError(
                f"output (count, hash) {tuple(got)} != oracle {self.digest}")

    def cleanup(self, spark) -> None:
        """Untimed, after each repetition: drop cached data so every
        repetition pays its own scans."""
        spark.catalog.clearCache()


# ---------------------------------------------------------------------------


def tpch_rules(paths: dict[str, str]):
    """The twelve flagship rules (same shapes as the entry module's
    ``flagship``), over the generated tables."""
    from morph_kgc_spark.model import (BLANK_NODE, CONSTANT, IRI, LITERAL,
                                       REFERENCE, TEMPLATE, XSD_DATETIME,
                                       XSD_DECIMAL, JoinCondition, Rule,
                                       Source, TermMap)

    def pq(t):
        return Source("parquet", paths[t])

    def type_rule(t, key):
        return Rule(source=pq(t),
                    subject=TermMap(TEMPLATE, EX + "customer/{" + key + "}", IRI),
                    predicate=TermMap(CONSTANT, RDF_TYPE, IRI),
                    object=TermMap(CONSTANT, EX + "Customer", IRI))

    return [
        Rule(source=pq("customer"),
             subject=TermMap(TEMPLATE, EX + "customer/{c_name}", IRI),
             predicate=TermMap(CONSTANT, FOAF_NAME, IRI),
             object=TermMap(REFERENCE, "c_name", LITERAL)),
        Rule(source=pq("supplier"),
             subject=TermMap(TEMPLATE, EX + "supplier/{s_suppkey}", IRI),
             predicate=TermMap(CONSTANT, RDF_TYPE, IRI),
             object=TermMap(CONSTANT, EX + "Supplier", IRI)),
        Rule(source=Source("df", "orders_typed"),
             subject=TermMap(TEMPLATE, EX + "order/{o_orderkey}", IRI),
             predicate=TermMap(CONSTANT, EX + "totalPrice", IRI),
             object=TermMap(REFERENCE, "o_price", LITERAL),
             datatype=TermMap(CONSTANT, XSD_DECIMAL, IRI)),
        Rule(source=Source("df", "orders_typed"),
             subject=TermMap(TEMPLATE, EX + "order/{o_orderkey}", IRI),
             predicate=TermMap(CONSTANT, EX + "orderDate", IRI),
             object=TermMap(REFERENCE, "o_orderdate", LITERAL),
             datatype=TermMap(CONSTANT, XSD_DATETIME, IRI)),
        Rule(source=pq("customer"),
             subject=TermMap(TEMPLATE, EX + "customer/{c_custkey}", IRI),
             predicate=TermMap(CONSTANT, EX + "nation", IRI),
             parent_source=pq("nation"),
             parent_subject=TermMap(TEMPLATE, EX + "nation/{n_name}", IRI),
             join_conditions=(JoinCondition("c_nationkey", "n_nationkey"),)),
        Rule(source=pq("documents"),
             subject=TermMap(TEMPLATE, EX + "doc/{doc_id}", IRI),
             predicate=TermMap(CONSTANT, EX + "text", IRI),
             object=TermMap(REFERENCE, "text", LITERAL),
             language=TermMap(REFERENCE, "lang")),
        Rule(source=pq("region"),
             subject=TermMap(TEMPLATE, "region{r_regionkey}", BLANK_NODE),
             predicate=TermMap(CONSTANT, FOAF_NAME, IRI),
             object=TermMap(REFERENCE, "r_name", LITERAL)),
        type_rule("orders", "o_custkey"),
        type_rule("customer", "c_custkey"),
        Rule(source=pq("part"),
             subject=TermMap(TEMPLATE, EX + "part/{p_partkey}", IRI),
             predicate=TermMap(CONSTANT, EX + "sameAs", IRI),
             parent_subject=TermMap(TEMPLATE, EX + "part/{p_partkey}", IRI)),
        Rule(source=pq("lineitem"),
             subject=TermMap(TEMPLATE,
                             EX + "lineitem/{l_orderkey}/{l_linenumber}", IRI),
             predicate=TermMap(CONSTANT, EX + "order", IRI),
             parent_source=pq("orders"),
             parent_subject=TermMap(TEMPLATE,
                                    EX + "order/{o_orderkey}/{o_orderstatus}", IRI),
             join_conditions=(JoinCondition("l_orderkey", "o_orderkey"),)),
        Rule(source=Source("df", "customer_dirty"),
             subject=TermMap(TEMPLATE, EX + "customer/{c_custkey}", IRI),
             predicate=TermMap(CONSTANT, EX + "dirty", IRI),
             object=TermMap(REFERENCE, "dirty", LITERAL)),
    ]


class KgTpch(Workload):
    """The 12-rule flagship over sf0.02 TPC-H-shaped parquet, noop sink."""

    name = "kg_tpch"

    def generate(self):
        return gen.gen_tpch(self.root, self.seed)

    def oracle_lines(self, con):
        return oracle.tpch_lines(), {}

    def registry(self, spark):
        from morph_kgc_spark.sources import registry as R

        p = self.inputs["paths"]
        reg = R.default_registry(persist_sources=True)
        orders = R.read_parquet_cached_schema(spark, p["orders"])
        reg.register("orders_typed", orders.withColumn(
            "o_price", F.col("o_totalprice").cast("decimal(12,2)"))
            .select("o_orderkey", "o_price", "o_orderdate"))
        cust = R.read_parquet_cached_schema(spark, p["customer"])
        reg.register("customer_dirty", cust.withColumn(
            "dirty", F.concat(F.col("c_mktsegment"),
                              F.lit('\\"q"\n\t\'\b\f\r')))
            .select("c_custkey", "dirty"))
        return reg

    def build(self, spark):
        from morph_kgc_spark import engine

        return engine.materialize(spark, tpch_rules(self.inputs["paths"]),
                                  registry=self.registry(spark))

    def sink(self, spark, triples) -> dict:
        res = force_digest(triples)
        res["digest"] = (res["triples"], res.pop("hash"))
        return res

    def prefixes(self, spark):
        from morph_kgc_spark.plans import partitioner

        rules = partitioner.assign_mapping_partitions(
            tpch_rules(self.inputs["paths"]))
        return rule_prefixes(spark, rules, lambda: self.registry(spark))


def rule_prefixes(spark, rules, registry):
    """registry sources → prepare_source → join_child_parent →
    compile_rule → materialize_rules over ``rules``, each as the frames to
    force; ``registry()`` makes a fresh source registry."""
    from morph_kgc_spark.operators import joins
    from morph_kgc_spark.plans import compiler as C

    def prepared(joined: bool):
        """Each rule's prepared source; for join rules (labelled ``j``)
        the child side, or with ``joined`` the join with the prepared
        parent, so the join layer's marginal covers the parent side."""
        reg, out = registry(), {}
        for i, r in enumerate(rules):
            child = C.prepare_source(reg(spark, r.source), r.references,
                                     dedup=bool(r.join_conditions))
            if not r.join_conditions:
                out[f"r{i}"] = child
            elif not joined:
                out[f"j{i}"] = child
            else:
                parent = C.prepare_source(reg(spark, r.parent_source),
                                          r.parent_references)
                out[f"j{i}"] = joins.join_child_parent(child, parent,
                                                       r.join_conditions)
        return out

    def rendered():
        reg = registry()
        return {f"r{i}": C.compile_rule(spark, r, reg, dedup_source=False)
                for i, r in enumerate(rules)}

    def sources():
        reg, srcs = registry(), {}
        for r in rules:
            for src in (r.source, r.parent_source):
                if src is not None:
                    srcs[src.cache_key()] = reg(spark, src)
        return {f"s{i}": df for i, df in enumerate(srcs.values())}

    return [
        ("sources.registry", sources),
        ("plans.compiler.prepare", lambda: prepared(False)),
        ("operators.joins", lambda: prepared(True)),
        ("plans.compiler.render", rendered),
        ("plans.compiler.distinct", lambda: {
            "out": C.materialize_rules(spark, rules, registry())}),
    ]


class KgMappingWide(Workload):
    """A seeded 18-rule RML document over sf0.01 tables, N-Triples sink."""

    name = "kg_mapping_wide"

    def generate(self):
        info = gen.gen_mapping_wide(self.root, self.seed)
        with open(info["mapping"]) as f:
            self.ttl = f.read()
        return info

    def oracle_lines(self, con):
        return oracle.mapping_wide_lines(self.inputs["oracle"]), {}

    def build(self, spark):
        from morph_kgc_spark import engine

        return engine.materialize(spark, self.ttl)

    def sink(self, spark, triples) -> dict:
        from morph_kgc_spark.sinks import ntriples

        ntriples.write_ntriples(triples, self.out)
        n = 0
        for p in glob.glob(os.path.join(self.out, "part-*")):
            with open(p, "rb") as f:
                n += f.read().count(b"\n")
        files, size = _files_bytes(os.path.join(self.out, "part-*"))
        return {"triples": n, "bytes": size, "files": files}

    def prefixes(self, spark):
        from morph_kgc_spark.mapping import parse_any_mapping
        from morph_kgc_spark.plans import partitioner
        from morph_kgc_spark.sources import registry

        rules = partitioner.assign_mapping_partitions(parse_any_mapping(self.ttl))
        return rule_prefixes(spark, rules, registry.default_registry)

    def engine_lines_sql(self):
        files = sorted(glob.glob(os.path.join(self.out, "part-*")))
        # lines end in " ." — strip it to compare "s p o"
        listed = ", ".join(f"'{p}'" for p in files)
        return ("SELECT left(line, length(line) - 2) AS line FROM read_csv("
                f"[{listed}], columns={{'line': 'VARCHAR'}}, header=false, "
                "delim=chr(1), quote=chr(2), escape=chr(2), auto_detect=false)")


class WebCrawl(Workload):
    """Dedup → extract → mention → link → render → checkpointed commit."""

    name = "web_crawl"

    def generate(self):
        return gen.gen_web_crawl(self.root, self.seed)

    def oracle_lines(self, con):
        return oracle.web_crawl_lines(con, self.inputs["planted"],
                                      WEB_MAX_HAMMING)

    def frames(self, spark):
        p = self.inputs["paths"]
        return spark.read.parquet(p["pages"]), spark.read.parquet(p["aliases"])

    def kept_urls(self, pages):
        """One page per near-duplicate cluster: its minimum url."""
        from morph_kgc_spark.operators import dedup

        clusters = dedup.simhash_dup_clusters(pages, "url", "text",
                                              max_hamming=WEB_MAX_HAMMING)
        return clusters.where(F.col("url") == F.col("cluster_id")).select("url")

    def survivors(self, spark, pages):
        return pages.join(self.kept_urls(pages), "url", "left_semi")

    def build(self, spark):
        from morph_kgc_spark.pipeline import pages as P

        pages, aliases = self.frames(spark)
        return P.pipeline_triples(spark, self.survivors(spark, pages), aliases)

    def sink(self, spark, triples) -> dict:
        from morph_kgc_spark.operators import cache
        from morph_kgc_spark.pipeline import checkpoint

        shutil.rmtree(self.out, ignore_errors=True)
        try:
            stats = checkpoint.write_checkpointed(triples, self.out,
                                                  n_buckets=WEB_BUCKETS)
        finally:
            cache.release(triples)
        return {"triples": stats.rows_written,
                "bytes": _files_bytes(os.path.join(self.out, "bucket=*", "*.parquet"))[1],
                "buckets": len(stats.written_buckets)}

    def prefixes(self, spark):
        """dedup → extract → mentions → link → triples."""
        from morph_kgc_spark.pipeline import pages as P

        def surv():
            pages, aliases = self.frames(spark)
            return self.survivors(spark, pages), aliases

        def extracted():
            s, aliases = surv()
            return s.select("url", P.extract_text_udf(F.col("html")).alias("text"),
                            "lang"), aliases

        def mentions():
            return P.detect_mentions(*extracted())

        return [
            ("operators.dedup", lambda: {
                "survivors": self.kept_urls(self.frames(spark)[0])}),
            ("pipeline.pages.extract", lambda: {"extracted": extracted()[0]}),
            ("pipeline.pages.mention", lambda: {"mentions": mentions()}),
            ("pipeline.pages.link", lambda: {"linked": P.link_entities(mentions())}),
            ("pipeline.pages.render", lambda: {"triples": self.build(spark)}),
        ]

    def engine_lines_sql(self):
        return ("SELECT subject || ' ' || predicate || ' ' || object AS line "
                f"FROM read_parquet('{self.out}/bucket=*/*.parquet')")


WORKLOADS = {w.name: w for w in (KgTpch, KgMappingWide, WebCrawl)}

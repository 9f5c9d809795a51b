"""Plan-quality regression guards: pruning, pushdown, join strategy.

These assert on the OPTIMIZED plan text so a future change that silently
breaks column pruning or scan-level null filtering fails loudly.
"""

import re

from pyspark.sql import functions as F

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


import pytest


@pytest.fixture(autouse=True)
def _fresh_cache(spark):
    # other tests persist shared sources; cached relations would replace
    # the FileScan nodes these plan assertions inspect
    spark.catalog.clearCache()
    yield


def test_scan_column_pruning(spark):
    # the name rule reads ONLY c_name from the customer parquet
    df = entrymod.q_kg_customer_triples(spark, SF)
    plan = _executed_plan(df)
    scan = [ln for ln in plan.splitlines() if "FileScan parquet" in ln][0]
    assert "c_name" in scan
    assert "c_acctbal" not in scan and "c_mktsegment" not in scan


def test_scan_level_null_filter(spark):
    # the IsNotNull pre-filter reaches the scan as a PUSHED filter
    df = entrymod.q_kg_join_customer_nation(spark, SF)
    plan = _executed_plan(df)
    assert "isnotnull" in plan.lower()
    assert "PushedFilters: [IsNotNull" in plan  # parquet row-group skipping


def test_small_parent_broadcast(spark):
    df = entrymod.q_kg_join_customer_nation(spark, SF)
    df.count()  # let AQE finalize
    plan = _executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_template_stays_in_codegen(spark):
    # the concat tree for templates must not appear under a python eval
    # (only the percent-encode UDF is python, fed by the when() branch)
    df = entrymod.q_kg_rdf_type(spark, SF)  # numeric key: no dirty rows
    plan = _executed_plan(df)
    assert "concat(<, http://example.com/supplier/" in plan


def test_pipeline_has_no_driver_collect_in_hot_path(spark):
    # mention detection must be a per-row filter + broadcast hash join,
    # never a nested-loop over the dictionary
    from morph_kgc_spark.pipeline.pages import alias_dictionary, detect_mentions, synthetic_pages

    pages = synthetic_pages(spark, 100).select("url", "text", "lang")
    m = detect_mentions(pages, alias_dictionary(spark, 32))
    plan = _executed_plan(m)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_no_python_worker_in_kg_plans(spark):
    """Round 2 moved percent-encoding JVM-side: NO python eval node may
    appear anywhere in a KG materialization plan."""
    for q in (entrymod.q_kg_customer_triples, entrymod.q_kg_rdf_star_ttl,
              entrymod.q_kg_yarrrml_doc):
        plan = _executed_plan(q(spark, SF))
        assert "ArrowEvalPython" not in plan, q.__name__
        assert "BatchEvalPython" not in plan, q.__name__


def test_url_encode_expression_present(spark):
    """Templates with string refs use the native url_encode chain."""
    plan = _executed_plan(entrymod.q_kg_customer_triples(spark, SF))
    assert "UrlCodec.encode" in plan or "url_encode" in plan


def test_yarrrml_join_broadcasts_small_parent(spark):
    df = entrymod.q_kg_yarrrml_doc(spark, SF)
    df.count()  # let AQE finalize
    plan = _executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_xml_scan_is_distributed(spark, tmp_path):
    """The XPath iterator path uses the native XML FileScan (rowTag),
    not a driver-side parse."""
    from morph_kgc_spark.sources.hierarchical import xml_source

    p = str(tmp_path / "r.xml")
    with open(p, "w") as f:
        f.write("<rs><r id='1'><v>a</v></r><r id='2'><v>b</v></r></rs>")
    df = xml_source(spark, p, iterator="/rs/r")
    plan = _executed_plan(df)
    assert "FileScan xml" in plan


def test_ngram_adaptive_plan_no_python(spark):
    """The hardened ngram plan stays JVM-side end to end.

    The public function returns an eagerly-materialized result (cache
    hygiene), so the plan is inspected through the internal composition
    it executes — both the exhaustive and the rare/hot-capped branches.
    """
    from pyspark.sql import functions as F

    from morph_kgc_spark.operators.dedup import _ngram_topk, shingles

    from morph_kgc_spark.operators.dedup import shingle_arrays

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sh = shingles(docs, "doc_id", "text", 3)
    sizes = shingle_arrays(docs, "doc_id", "text", 3).select(
        F.col("doc_id"), F.size("grams").alias("sz"))
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    for plan_df in (_ngram_topk(sh, sizes, None, "doc_id", 10, None),
                    _ngram_topk(sh, sizes, dfreq, "doc_id", 10, 1000)):
        plan = _executed_plan(plan_df)
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan


def test_per_row_gather_single_exchange(spark, tmp_path):
    """RML-CC gather over a JSON array source compiles to per-row array
    lambdas: the ONLY exchange is the source-row dedup (reference
    preprocess parity) — chain construction itself is shuffle-free,
    where an explode→groupBy implementation would add a second,
    corpus-sized shuffle per gather rule."""
    import json

    from morph_kgc_spark import materialize
    from morph_kgc_spark.mapping import parse_any_mapping

    p = tmp_path / "data.json"
    p.write_text(json.dumps(
        [{"id": "a", "vals": ["1", "2"]}, {"id": "b", "vals": ["3"]}]))
    ttl = f"""
@prefix rml: <http://w3id.org/rml/>.
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>.
@prefix ex: <http://example.com/>.
<#TM> a rml:TriplesMap;
  rml:logicalSource [ rml:source "{p}" ;
      rml:referenceFormulation rml:JSONPath ; rml:iterator "$.*" ] ;
  rml:predicateObjectMap [
    rml:predicate ex:with ;
    rml:objectMap [ rml:gather ( [ rml:reference "vals" ] ) ;
                    rml:gatherAs rdf:List ] ] ;
  rml:subjectMap [ rml:template "http://example.com/e/{{id}}" ] .
"""
    rules = parse_any_mapping(ttl)
    df = materialize(spark, rules, distinct=False)
    plan = _executed_plan(df)
    # every triple kind comes from ONE per-row struct array: one scan,
    # one dedup, no Union re-planning the source per branch
    assert len(re.findall(r"FileScan json", plan)) == 1, plan
    assert "Union" not in plan, plan
    assert df.count() == 8  # 2 head triples + 3 first + 3 rest


def test_flagship_single_triple_shuffle(spark):
    """Set semantics is ONE distinct over the union of every rule: the
    flagship's only hash exchange keyed on the output triple is that
    distinct, and the lineitem child side of the join is not deduped
    (the exchange would serialize the render into one coalesced
    partition)."""
    plan = _executed_plan(entrymod.flagship(spark, SF))
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    # a constant predicate may fold into the key as its literal
    triple = [k for k in keys if k.startswith("subject#")]
    assert len(triple) == 1, keys
    assert not [k for k in keys
                if re.match(r"l_orderkey#\d+, l_linenumber#\d+", k)], keys

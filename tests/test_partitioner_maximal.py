"""MAXIMAL mapping partitioning vs the conservative CC variant.

Reference: mapping_partitioner.py:36-141 (per-ordering greedy
refinement), :186-228 (24-ordering search).
"""

from pyspark.sql import functions as F  # noqa: F401

from morph_kgc_spark import model as M
from morph_kgc_spark.plans.compiler import materialize_rules
from morph_kgc_spark.plans.partitioner import (
    assign_mapping_partitions,
    assign_mapping_partitions_cc,
    assign_mapping_partitions_maximal,
)
from morph_kgc_spark.sources.registry import default_registry

EX = "http://example.com/"


def _mk(predicate_iri, **kw):
    defaults = dict(
        source=M.Source("parquet", "/root/testdata/sf0.001/customer.parquet"),
        subject=M.TermMap(M.TEMPLATE, EX + "c/{c_custkey}", M.IRI),
        predicate=M.TermMap(M.CONSTANT, predicate_iri, M.IRI),
        object=M.TermMap(M.REFERENCE, "c_name", M.LITERAL),
    )
    defaults.update(kw)
    return M.Rule(**defaults)


def _groups(rules):
    return {r.mapping_partition for r in rules}


def test_maximal_splits_prefix_compatible_constant_predicates():
    """Constant predicates 'name' and 'name2' are prefix-compatible, so
    CC merges them; MAXIMAL knows constants compare by equality
    (enforce_invariant_non_subset) and splits."""
    rules = [_mk(EX + "name"), _mk(EX + "name2")]
    assert len(_groups(assign_mapping_partitions_cc(rules))) == 1
    assert len(_groups(assign_mapping_partitions_maximal(rules))) == 2
    # default method is maximal
    assert len(_groups(assign_mapping_partitions(rules))) == 2


def test_maximal_splits_literals_by_language_datatype():
    """Same reference object, one @en one ^^integer: empty invariants
    merge under CC; MAXIMAL splits by literal type."""
    rules = [
        _mk(EX + "p", language=M.TermMap(M.CONSTANT, "en", M.LITERAL)),
        _mk(EX + "p", datatype=M.TermMap(M.CONSTANT, M.XSD_INTEGER, M.IRI)),
    ]
    assert len(_groups(assign_mapping_partitions_cc(rules))) == 1
    assert len(_groups(assign_mapping_partitions_maximal(rules))) == 2


def test_maximal_never_coarser_than_cc_on_mixed_fixture():
    rules = [
        _mk(EX + "name"),
        _mk(EX + "name2"),
        _mk(EX + "other",
            subject=M.TermMap(M.TEMPLATE, "b{c_custkey}", M.BLANK_NODE)),
        _mk(EX + "other",
            object=M.TermMap(M.TEMPLATE, EX + "n/{c_name}", M.IRI)),
    ]
    n_cc = len(_groups(assign_mapping_partitions_cc(rules)))
    n_max = len(_groups(assign_mapping_partitions_maximal(rules)))
    assert n_max >= n_cc


def test_partition_methods_agree_on_results(spark):
    """Partitioning is a pure plan optimization: identical triples out."""
    rules = [_mk(EX + "name"), _mk(EX + "name2"),
             _mk(EX + "p", language=M.TermMap(M.CONSTANT, "en", M.LITERAL))]
    reg = default_registry()
    a = {tuple(r) for r in materialize_rules(
        spark, assign_mapping_partitions_cc(rules), reg).collect()}
    b = {tuple(r) for r in materialize_rules(
        spark, assign_mapping_partitions_maximal(rules), reg).collect()}
    assert a == b and len(a) == 450  # 3 rules × 150 customers


def test_partition_labels_do_not_change_single_exchange(spark):
    """Set semantics is ONE distinct over the union of every rule's
    branch: labeled and unlabeled rules both compile to exactly one
    Exchange (projection rules skip the scan-level dedup)."""
    rules = [_mk(EX + "name"), _mk(EX + "name2")]
    reg = default_registry()

    labeled = materialize_rules(
        spark, assign_mapping_partitions_maximal(rules), reg)
    unlabeled = materialize_rules(spark, rules, reg)

    for df in (labeled, unlabeled):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan

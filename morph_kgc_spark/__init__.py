"""morph_kgc_spark — a PySpark-native knowledge-graph construction engine.

A from-scratch re-expression of the observable semantics of morph-kgc
(reference: /root/reference, a pandas-based RML/R2RML materializer) as a
distributed Spark DataFrame program:

- mapping plane: RML/R2RML mapping documents are compiled **on the driver**
  to a flat rule table (`morph_kgc_spark.model.Rule`), mirroring the
  reference's `rml_df` (reference: src/morph_kgc/mapping/mapping_constants.py:13-23);
- data plane: each rule becomes a *lazy* DataFrame expression pipeline
  (scan → project refs → null-drop → join a deduped parent → template
  expansion → termtype wrapping), compiled by
  `morph_kgc_spark.plans.compiler`;
- output: a DataFrame(subject, predicate, object[, graph]) of N-Triples
  lexical terms with set semantics: the union of every rule's branch
  and ONE distinct (reference: src/morph_kgc/__init__.py:49-57).

Everything in the hot path is either a native Column expression
(whole-stage-codegen) or an Arrow-batched pandas UDF — no per-row Python.
"""

from morph_kgc_spark.model import Rule, TermMap, JoinCondition
from morph_kgc_spark.plans.compiler import materialize_rules, compile_rule
from morph_kgc_spark.engine import materialize
from morph_kgc_spark.config import materialize_from_config

__version__ = "0.1.0"

__all__ = [
    "Rule",
    "TermMap",
    "JoinCondition",
    "materialize",
    "materialize_rules",
    "materialize_from_config",
    "compile_rule",
]

"""RML-CC collections & containers (rml:gather / rml:gatherAs).

The reference's only order-dependent, stateful operators
(src/morph_kgc/materializer.py:237-892 + helpers :1082-1611): group rows
by subject key, gather the referenced values, and emit an rdf:List
(first/rest/nil chain) or an rdf:Bag/Seq/Alt (rdf:_1, rdf:_2, …) per
group.

Spark re-expression: one ``groupBy(subject-key).agg(sort_array(
collect_list(struct(ord, val))))`` then per-element chain triples built
inside array lambdas and exploded — a single shuffle per gather rule.

Blank-node labels: the reference uses global sequential counters over
sorted input (materializer.py:366-388) — impossible to reproduce
distributed, and unnecessary: the test corpus asserts *graph
isomorphism* (test/rml-cc/*/test_*.py), so labels only need to be
distinct per (group, position). We use ``_:g<md5(groupkey)>_<pos>`` —
deterministic across runs/retries (checkpoint-resume safe).

Ordering: multi-reference gathers sort melted values (reference
materializer.py:251,351); single-reference gathers follow source row
order, which Spark does not guarantee — callers pass ``order_col`` (a
position column, e.g. from posexplode of the source array) or accept
value-sorted order.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from morph_kgc_spark import model as M
from morph_kgc_spark.functions.sqlexpr import sql_str
from morph_kgc_spark.plans.compiler import _ref_col, _term_sql

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_LIST = RDF + "List"
RDF_BAG = RDF + "Bag"
RDF_SEQ = RDF + "Seq"
RDF_ALT = RDF + "Alt"
RDF_FIRST = f"<{RDF}first>"
RDF_REST = f"<{RDF}rest>"
RDF_NIL = f"<{RDF}nil>"
RDF_TYPE = f"<{RDF}type>"


def _value_terms(termtype: Optional[str],
                 datatype: Optional[str] = None) -> Column:
    """The ``vals`` array with each gathered value in its N-Triples
    lexical form — one SQL lambda over the compiler's term renderer: IRI
    values render like a template reference (percent-encoded under the
    configured safe characters), anything else as a literal.

    ``termtype=None`` means the values already are full lexical terms
    (e.g. pre-built ``<iri>``s) that must not be percent-encoded again.
    """
    term = "v"
    if termtype == M.IRI:
        term = _term_sql(M.TermMap(M.TEMPLATE, "{v}", M.IRI))
    elif termtype is not None:
        term = _term_sql(M.TermMap(M.REFERENCE, "v", M.LITERAL), datatype=datatype)
        if datatype:
            term = f"concat({term}, {sql_str(f'^^<{datatype}>')})"
    return F.expr(f"transform(vals, v -> {term})")


def gather_triples(df: DataFrame,
                   subject_col: Column,
                   predicate_iri: str,
                   gather_refs: list[str],
                   gather_as: str,
                   value_termtype: str = M.LITERAL,
                   value_datatype: Optional[str] = None,
                   head_col: Optional[Column] = None,
                   order_col: Optional[Column] = None,
                   allow_empty: bool = False) -> DataFrame:
    """Emit gather triples: (subject, predicate, node) + chain/container.

    - ``subject_col``: N-Triples lexical subject per row (already wrapped);
    - ``head_col``: lexical head node for NAMED collections (None →
      unnamed: a fresh deterministic bnode per group);
    - ``gather_refs``: columns to gather; >1 → melt (union of values,
      dedup, value-sorted — reference materializer.py:243-255);
    - ``order_col``: optional explicit position for order-preserving
      single-reference gathers.
    """
    if len(gather_refs) > 1:
        melted = df.select(
            subject_col.alias("__subj"),
            (head_col if head_col is not None else F.lit(None)).alias("__head"),
            F.explode(F.array(*[_ref_col(r) for r in gather_refs])).alias("__val"),
        ).dropDuplicates().withColumn("__ord", F.col("__val"))
    else:
        melted = df.select(
            subject_col.alias("__subj"),
            (head_col if head_col is not None else F.lit(None)).alias("__head"),
            _ref_col(gather_refs[0]).alias("__val"),
            (order_col if order_col is not None else _ref_col(gather_refs[0])).alias("__ord"),
        )

    kept = melted.na.drop("any", subset=["__val"])
    groups = (
        kept.groupBy("__subj", "__head")
        .agg(F.array_sort(F.collect_list(F.struct(F.col("__ord"), F.col("__val")))).alias("pv"))
        .select("__subj", "__head",
                F.transform("pv", lambda s: s["__val"]).alias("vals"))
    )

    if allow_empty:
        empties = (melted.groupBy("__subj", "__head")
                   .agg(F.max(F.col("__val").isNotNull()).alias("any_val"))
                   .where(~F.col("any_val"))
                   .select("__subj", "__head",
                           F.array().cast("array<string>").alias("vals")))
        groups = groups.unionAll(empties)

    gkey = F.md5(F.col("__subj"))
    named = F.col("__head").isNotNull()
    n = F.size("vals")

    def bnode(i: Column | int) -> Column:
        return F.concat(F.lit("_:g"), gkey, F.lit("_"), F.lit(i) if isinstance(i, int) else i)

    terms = _value_terms(value_termtype, value_datatype)

    if gather_as == RDF_LIST:
        head_node = F.when(n == 0, F.lit(RDF_NIL)) \
                     .otherwise(F.when(named, F.col("__head")).otherwise(bnode(0)))
        g = groups.select("__subj", "__head", "vals", head_node.alias("node0"),
                          terms.alias("terms"))
        head_triples = g.select(
            F.col("__subj").alias("subject"),
            F.lit(f"<{predicate_iri}>").alias("predicate"),
            F.col("node0").alias("object"),
        )
        # per position i: (node_i, rdf:first, term_i), (node_i, rdf:rest, node_{i+1}|nil)
        gkey2 = F.md5(F.col("__subj"))
        chain = g.select(
            "__subj", "terms", "node0",
            F.posexplode_outer(F.col("terms")).alias("i", "term"),
        ).where(F.col("term").isNotNull())
        node_i = F.when(F.col("i") == 0, F.col("node0")) \
                  .otherwise(F.concat(F.lit("_:g"), gkey2, F.lit("_"), F.col("i")))
        node_next = F.when(F.col("i") == F.size("terms") - 1, F.lit(RDF_NIL)) \
                     .otherwise(F.concat(F.lit("_:g"), gkey2, F.lit("_"), F.col("i") + 1))
        firsts = chain.select(node_i.alias("subject"), F.lit(RDF_FIRST).alias("predicate"),
                              F.col("term").alias("object"))
        rests = chain.select(node_i.alias("subject"), F.lit(RDF_REST).alias("predicate"),
                             node_next.alias("object"))
        return head_triples.unionAll(firsts).unionAll(rests)

    if gather_as in (RDF_BAG, RDF_SEQ, RDF_ALT):
        head_node = F.when(named, F.col("__head")).otherwise(bnode(0))
        g = groups.select("__subj", head_node.alias("node"), terms.alias("terms"))
        head_triples = g.select(
            F.col("__subj").alias("subject"),
            F.lit(f"<{predicate_iri}>").alias("predicate"),
            F.col("node").alias("object"),
        )
        type_triples = g.select(
            F.col("node").alias("subject"),
            F.lit(RDF_TYPE).alias("predicate"),
            F.lit(f"<{gather_as}>").alias("object"),
        )
        members = (g.select("node", F.posexplode(F.col("terms")).alias("i", "term"))
                   .select(F.col("node").alias("subject"),
                           F.concat(F.lit(f"<{RDF}_"), F.col("i") + 1, F.lit(">")).alias("predicate"),
                           F.col("term").alias("object")))
        return head_triples.unionAll(type_triples).unionAll(members)

    raise ValueError(f"unknown gatherAs: {gather_as!r}")


def gather_triples_per_row(df: DataFrame,
                           vals_col: Column,
                           gather_as: str,
                           head_col: Optional[Column] = None,
                           subject_col: Optional[Column] = None,
                           predicate_iri: Optional[str] = None,
                           poms: tuple = (),
                           value_termtype: str = M.LITERAL,
                           value_datatype: Optional[str] = None,
                           allow_empty: bool = False) -> DataFrame:
    """Per-ROW gather: each source row owns one collection/container.

    This is the document semantics of the reference's RML-CC materializer
    (materializer.py:237-892): a JSON row whose gather reference is an
    array yields ONE collection per row, members in document order.
    ``vals_col`` is that array column (already null-filtered/ordered by
    the caller), so everything here is per-row array lambdas + one
    posexplode — NO shuffle beyond the caller's source dedup, and list
    order is source order (an explode→groupBy plan adds a corpus-sized
    exchange per rule and cannot guarantee order at all).

    - object position: pass ``subject_col`` + ``predicate_iri`` — emits
      (subject, predicate, head|nil) plus the chain/container triples;
    - subject position (reference materializer.py:454-892): pass
      ``poms`` = ((pred_lex_col, obj_lex_col), ...) — the collection
      node is the subject of each pom triple; no head triple.

    ``head_col`` None → unnamed: a deterministic fresh bnode per row
    (md5 of the full row content; rows are deduplicated upstream so the
    label is unique — and stable across task retries/resume, unlike
    monotonically_increasing_id).

    Empty gathers (all values null / empty array): in OBJECT position
    the row is dropped unless ``allow_empty`` — then rdf:List yields
    object rdf:nil and containers keep the head + rdf:type triple with
    no members (RMLTC-CC-0003-E* expected outputs). In SUBJECT position
    empty rows always drop, ``allow_empty`` or not — the reference's SM
    materializer filters ``len > 0`` before emitting anything
    (materializer.py:466 ``df[df[col].map(lambda x: len(x) > 0)]``).
    """
    def _q(name: str) -> Column:
        # backtick-quote: gather sources may carry dotted / XPath-ish
        # column names (pid.id.value, info/name)
        return F.col("`" + name.replace("`", "``") + "`")

    base = df.select(
        (subject_col if subject_col is not None else F.lit(None)).alias("__subj"),
        (head_col if head_col is not None else F.lit(None)).alias("__head"),
        F.filter(vals_col, lambda v: v.isNotNull()).alias("vals"),
        *[c.alias(f"__pom_{i}_{j}") for i, (p, o) in enumerate(poms)
          for j, c in enumerate((p, o))],
        F.md5(F.to_json(F.struct(*[_q(c) for c in df.columns]))).alias("__rk"),
    )
    n = F.size("vals")
    empty = F.coalesce(n, F.lit(0)) == 0
    keep_empty = allow_empty and subject_col is not None
    if not keep_empty:
        base = base.where(~empty)

    named = F.col("__head").isNotNull()
    head_node = F.when(named, F.col("__head")) \
                 .otherwise(F.concat(F.lit("_:g"), F.col("__rk")))
    terms = _value_terms(value_termtype, value_datatype)

    def t(s: Column, p: Column, o: Column) -> Column:
        return F.struct(s.alias("s"), p.alias("p"), o.alias("o"))

    def node_at(i: Column) -> Column:
        return F.when(i == 0, head_node) \
                .otherwise(F.concat(F.lit("_:g"), F.col("__rk"),
                                    F.lit("_"), i.cast("string")))

    # ALL of one row's triples as a single per-row struct array, exploded
    # once — one scan + one dedup feed every triple kind (a union of
    # per-kind branches would re-plan the source subtree per branch,
    # tripling the scan and the dedup exchange).
    empty_arr = F.array().cast("array<struct<s:string,p:string,o:string>>")
    groups: list[Column] = []

    if gather_as == RDF_LIST:
        if subject_col is not None:
            obj_head = F.when(empty, F.lit(RDF_NIL)).otherwise(head_node)
            groups.append(F.array(t(
                F.col("__subj"), F.lit(f"<{predicate_iri}>"), obj_head)))
        firsts = F.transform(
            terms, lambda v, i: t(node_at(i), F.lit(RDF_FIRST), v))
        rests = F.transform(
            terms, lambda v, i: t(
                node_at(i), F.lit(RDF_REST),
                F.when(i == n - 1, F.lit(RDF_NIL)).otherwise(node_at(i + 1))))
        groups += [firsts, rests]
    elif gather_as in (RDF_BAG, RDF_SEQ, RDF_ALT):
        if subject_col is not None:
            groups.append(F.array(t(
                F.col("__subj"), F.lit(f"<{predicate_iri}>"), head_node)))
        groups.append(F.array(t(
            head_node, F.lit(RDF_TYPE), F.lit(f"<{gather_as}>"))))
        groups.append(F.transform(
            terms, lambda v, i: t(
                head_node,
                F.concat(F.lit(f"<{RDF}_"), (i + 1).cast("string"), F.lit(">")),
                v)))
    else:
        raise ValueError(f"unknown gatherAs: {gather_as!r}")

    # a null POM value (missing key in this row) must DROP that pom
    # triple, not emit one with a NULL object that would serialize as a
    # corrupt N-Triples line — same null-row semantics as plain rules
    pom_triples = [
        F.when(F.col(f"__pom_{i}_0").isNotNull()
               & F.col(f"__pom_{i}_1").isNotNull(),
               F.array(t(head_node, F.col(f"__pom_{i}_0"),
                         F.col(f"__pom_{i}_1")))).otherwise(empty_arr)
        for i, _ in enumerate(poms)
    ]
    if gather_as == RDF_LIST and keep_empty:
        # empty list rows contribute ONLY the `subject pred rdf:nil` head
        groups = [groups[0]] + [
            F.when(~empty, g).otherwise(empty_arr) for g in groups[1:]]

    all_triples = F.concat(*groups, *pom_triples) if len(groups) + \
        len(pom_triples) > 1 else groups[0]
    return (base.select(F.explode(all_triples).alias("t"))
            .select(F.col("t.s").alias("subject"),
                    F.col("t.p").alias("predicate"),
                    F.col("t.o").alias("object")))

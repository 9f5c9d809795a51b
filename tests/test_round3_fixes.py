"""Round-3 ADVICE regressions: TM-id namespacing, safe controls_if eval,
whitespace-padded IRI references, dual-protocol UDF files."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from morph_kgc_spark import materialize, materialize_from_config
from morph_kgc_spark.mapping import parse_any_mapping as parse_mapping

EX = "http://example.com/"


def test_same_local_tm_name_in_two_files_is_fine(spark, tmp_path):
    """Two unrelated mapping files may both use <#TM>: ids resolve
    against each file's URI (reference parses per-file with rdflib under
    a file:// base), so the cross-section duplicate check must not fire."""
    csv = tmp_path / "d.csv"
    csv.write_text("ID\n1\n")
    bodies = []
    for name, pred in (("m1.ttl", "id"), ("m2.ttl", "key")):
        p = tmp_path / name
        p.write_text(f"""
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
<#TM> rml:logicalSource [ rml:source "{csv}" ] ;
  rr:subjectMap [ rr:template "{EX}s/{{ID}}" ] ;
  rr:predicateObjectMap [
    rr:predicate <{EX}{pred}> ; rr:objectMap [ rml:reference "ID" ] ] .
""")
        bodies.append(p)
    ini = f"[DS1]\nmappings={bodies[0]}\n[DS2]\nmappings={bodies[1]}\n"
    out = materialize_from_config(spark, ini)
    assert out.count() == 2


def test_tm_ids_namespaced_per_document(tmp_path):
    csv = tmp_path / "d.csv"
    csv.write_text("ID\n1\n")
    p = tmp_path / "m.ttl"
    p.write_text(f"""
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
<#TM> rml:logicalSource [ rml:source "{csv}" ] ;
  rr:subjectMap [ rr:template "{EX}s/{{ID}}" ] ;
  rr:predicateObjectMap [
    rr:predicate <{EX}id> ; rr:objectMap [ rml:reference "ID" ] ] .
""")
    rules = parse_mapping(str(p))
    assert rules[0].triples_map_id == f"file://{p}##TM"


def test_controls_if_eval_is_sandboxed(spark):
    """A crafted data cell must not execute python on executors — the
    dunder-walk eval escape evaluates to null (false branch), while
    plain comparisons still work (reference eval semantics)."""
    from morph_kgc_spark.functions.builtins import apply_function

    GREL = "http://users.ugent.be/~bjdmeest/function/grel.ttl#"
    df = spark.createDataFrame(
        [("1 > 2",), ("3 > 2",), ("().__class__.__mro__[-1].__subclasses__()",),
         ("__import__('os').system('true')",), ("1 + 1 == 2",)],
        ["cond"])
    col, _ = apply_function(GREL + "controls_if",
                            bool_expression=F.col("cond"),
                            value_true=F.lit("T"), value_false=F.lit("F"))
    got = [r.v for r in df.select(col.alias("v")).collect()]
    assert got == ["F", "T", "F", "F", "T"]


def test_safe_eval_rejects_all_call_shapes():
    from morph_kgc_spark.functions.builtins import _safe_eval_bool

    assert _safe_eval_bool("2 >= 2 > 1") is True
    assert _safe_eval_bool("not false") is True
    assert _safe_eval_bool("1 + 1 > 3") is False
    for evil in ("open('/etc/passwd')",
                 "().__class__.__mro__[-1].__subclasses__()",
                 "[x for x in (1,)]", "(lambda: 1)()", "'a'.join('b')",
                 "9**9**9**9 > 1"):  # Pow excluded: huge-int DoS
        with pytest.raises(Exception):
            _safe_eval_bool(evil)


def test_whitespace_padded_iri_reference_is_data_error(spark):
    """A reference-valued IRI with whitespace (padding OR internal) is a
    data error: the reference emits plain reference values verbatim —
    only FNML execution outputs are stripped (materializer.py:186) — so
    this engine never repairs padding; the invalid-IRI filter drops the
    row instead of emitting a whitespace-containing IRI term.
    (Round-4 advice reversed round 3's trim-and-emit behavior here.)
    An FNML execution's IRI output, by contrast, is trimmed and kept."""
    from morph_kgc_spark import model as M
    from morph_kgc_spark.sources.registry import default_registry

    rule = M.Rule(
        source=M.Source("df", "mem"),
        subject=M.TermMap(M.TEMPLATE, EX + "s/{ID}", M.IRI),
        predicate=M.TermMap(M.CONSTANT, EX + "link", M.IRI),
        object=M.TermMap(M.REFERENCE, "URL", M.IRI),
        base_iri=EX,
    )
    reg = default_registry()
    reg.register("mem", spark.createDataFrame(
        [("1", f"  {EX}ok  "), ("2", f"{EX}bad value"), ("3", f"{EX}plain")],
        ["ID", "URL"]))
    out = materialize(spark, [rule], registry=reg)
    objs = sorted(r.object for r in out.collect())
    # rows 1 (padded) and 2 (internal space) are data errors, dropped
    assert objs == [f"<{EX}plain>"]

    # the execution counterpart: a function's IRI output IS trimmed on
    # emission, so the padded row is kept; the internal space still drops
    from morph_kgc_spark.functions.builtins import GREL

    fn = M.TermMap(M.EXECUTION, GREL + "toLowerCase", M.IRI,
                   args=(("string", M.TermMap(M.REFERENCE, "URL")),))
    out = materialize(spark, [rule.but(object=fn)], registry=reg)
    objs = sorted(r.object for r in out.collect())
    assert objs == [f"<{EX}ok>", f"<{EX}plain>"]


def test_load_udfs_supports_bif_protocol(tmp_path):
    from morph_kgc_spark.functions.builtins import apply_function, load_udfs

    p = tmp_path / "udf.py"
    p.write_text(
        "@bif('http://example.com/fn/upper')\n"
        "def my_upper(string):\n"
        "    return F.upper(string)\n")
    load_udfs(str(p))
    col, explodes = apply_function("http://example.com/fn/upper",
                                   string=F.lit("ab"))
    assert not explodes


def test_partitioning_modes_equivalent(spark):
    """The MAXIMAL mapping partitioner prunes distincts but must never
    change the result set — the reference tests json/complex under three
    partitioning modes (test_complex_JSON.py); here: partitioned vs
    unpartitioned over the same mapping."""
    case = "/root/reference/test/rml-core/json/complex"
    with open(f"{case}/mapping.ttl") as f:
        text = f.read()
    from morph_kgc_spark.mapping import parse_any_mapping

    rules = parse_any_mapping(text, base_dir="/root/reference")
    a = materialize(spark, rules, partition_rules=True)
    b = materialize(spark, rules, partition_rules=False)
    rows_a = {(r.subject, r.predicate, r.object) for r in a.collect()}
    rows_b = {(r.subject, r.predicate, r.object) for r in b.collect()}
    assert rows_a == rows_b and len(rows_a) == 27


def test_bpe_token_count(spark):
    """BPE-ish pretokenizer: contractions split, letter/digit/symbol runs
    count once each (space-prefixed), matching the oracle's RE2 reading."""
    from morph_kgc_spark.operators.text import bpe_token_count

    df = spark.createDataFrame(
        [("1", "it's 2024, don't stop!"), ("2", "hello world"), ("3", "a1b2")],
        ["doc_id", "text"])
    rows = {r.doc_id: (r.n_bpe_tokens, r.n_ws_tokens)
            for r in bpe_token_count(df, "doc_id", "text").collect()}
    # it|'s| 2024|,| don|'t| stop|!  = 8 ; hello| world = 2 ; a|1|b|2 = 4
    assert rows == {"1": (8, 4), "2": (2, 2), "3": (4, 1)}


def test_gather_over_in_memory_python_source(spark):
    """rml:gather over an sd: in-memory JSON source keeps per-row arrays
    (document order), same as the file-backed JSON path."""
    ttl = """
@prefix rml: <http://w3id.org/rml/>.
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>.
@prefix ex: <http://example.com/>.
@prefix sd: <https://w3id.org/okn/o/sd#>.
<#TM> a rml:TriplesMap;
  rml:logicalSource [
      rml:source [ a sd:DatasetSpecification ; sd:name "mem" ] ;
      rml:referenceFormulation rml:JSONPath ; rml:iterator "$.*" ] ;
  rml:subjectMap [ rml:template "http://example.com/e/{id}" ;
      rml:gather ( [ rml:reference "vals" ] ) ; rml:gatherAs rdf:Seq ] .
"""
    import morph_kgc_spark as mks

    ini = "[DataSource]\nmappings=inline\n"
    data = [{"id": "a", "vals": ["z", "y"]}]
    from morph_kgc_spark.mapping import parse_any_mapping
    from morph_kgc_spark.sources.registry import default_registry

    reg = default_registry()
    reg.register_python(spark, "mem", data)
    rules = parse_any_mapping(ttl)
    out = {(r.subject, r.predicate, r.object)
           for r in mks.materialize(spark, rules, registry=reg).collect()}
    rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    assert out == {
        (f"<http://example.com/e/a>", f"<{rdf}type>", f"<{rdf}Seq>"),
        (f"<http://example.com/e/a>", f"<{rdf}_1>", '"z"'),
        (f"<http://example.com/e/a>", f"<{rdf}_2>", '"y"'),
    }


def test_ods_interior_repeated_blanks_keep_columns():
    """number-columns-repeated on an INTERIOR blank run must repeat in
    full — collapsing it shifts later values into the wrong columns."""
    import zipfile

    from morph_kgc_spark.sources.sheets import read_ods

    content = """<?xml version="1.0"?>
<office:document-content
 xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"
 xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0"
 xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">
 <office:body><office:spreadsheet><table:table table:name="S">
  <table:table-row>
   <table:table-cell office:value-type="string"><text:p>A</text:p></table:table-cell>
   <table:table-cell office:value-type="string"><text:p>B</text:p></table:table-cell>
   <table:table-cell office:value-type="string"><text:p>C</text:p></table:table-cell>
   <table:table-cell office:value-type="string"><text:p>D</text:p></table:table-cell>
  </table:table-row>
  <table:table-row>
   <table:table-cell office:value-type="string"><text:p>x</text:p></table:table-cell>
   <table:table-cell table:number-columns-repeated="2"/>
   <table:table-cell office:value-type="string"><text:p>y</text:p></table:table-cell>
   <table:table-cell table:number-columns-repeated="16380"/>
  </table:table-row>
 </table:table></office:spreadsheet></office:body>
</office:document-content>"""
    import tempfile

    fd, path = tempfile.mkstemp(suffix=".ods")
    import os as _os
    _os.close(fd)
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("content.xml", content)
    pdf = read_ods(path)
    _os.unlink(path)
    assert list(pdf.columns) == ["A", "B", "C", "D"]
    row = pdf.iloc[0]
    assert row["A"] == "x" and row["D"] == "y"
    assert row["B"] is None and row["C"] is None

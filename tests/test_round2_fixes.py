"""Round-2 regression tests: ADVICE fixes + JVM percent-encoding.

Covers: na_values / file_path / safe_percent_encoding config threading,
subject-graph ∪ POM-graph union, datatype→Literal termtype default,
simhash banding pigeonhole, restart-stable checkpoint lineage, and the
pure-JVM percent-encode chain's byte parity with urllib.parse.quote
(the test names keep the original ``percent_encode_col`` wording; the
chain is now the SQL renderer ``percent_encode_sql``).
"""

import os
from urllib.parse import quote

import pytest
from pyspark.sql import functions as F

from morph_kgc_spark import materialize, materialize_from_config
from morph_kgc_spark import model as M
from morph_kgc_spark.functions.sqlexpr import percent_encode_sql
from morph_kgc_spark.mapping.parser import parse_mapping
from morph_kgc_spark.sources.registry import default_registry

EX = "http://example.com/"
FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")

NASTY = [
    "", "abc", "a b", "a+b", "a*b", "a~b", "%7E", "%", "100%",
    "héllo wörld", "日本語", "emoji 😀", "a/b?c=d&e#f", "tab\tnl\n",
    "quote\"'", "plus+ +", "~~~", "***", "+++", "%25", "a_b-c.d~e",
    "ünïcödé~*+ %7E%2B", "\x01\x7f", "€", "\U0001F600*~ +x",
    "%2F", "a%20b",
]


def _encoded(df, safe=None):
    return df.select("v", F.expr(percent_encode_sql("v", safe)).alias("e"))


def test_percent_encode_col_matches_quote(spark):
    """The url_encode+fixup chain is byte-identical to quote(v, safe='')."""
    df = spark.createDataFrame([(s,) for s in NASTY], ["v"])
    for r in _encoded(df).collect():
        assert r.e == quote(r.v, safe=""), r.v


def test_percent_encode_col_safe_mode_matches_quote(spark):
    # "%/" and "% ": `%` is decoded last, so an encoded "%2F" stays "%2F";
    # "ü/": quote() ignores non-ASCII safe characters
    df = spark.createDataFrame([(s,) for s in NASTY], ["v"])
    for safe in ("/", "/:#", "+* ~%", "%/", "% ", "ü/"):
        for r in _encoded(df, safe).collect():
            assert r.e == quote(r.v, safe=safe), (safe, r.v)


def test_percent_encode_is_jvm_side(spark):
    """No python worker in the encode plan (hot-path requirement), also
    for a materialized mapping with non-ASCII safe characters."""
    df = spark.createDataFrame([(s,) for s in NASTY], ["v"])
    reg = default_registry()
    reg.register("nasty", df)
    rule = M.Rule(source=M.Source("df", "nasty"),
                  subject=M.TermMap(M.TEMPLATE, EX + "s/{v}", M.IRI),
                  predicate=M.TermMap(M.CONSTANT, EX + "p", M.IRI),
                  object=M.TermMap(M.CONSTANT, "o", M.LITERAL))
    out = materialize(spark, [rule], registry=reg, safe_percent_encoding="ü/")
    # "" is a default NULL lexical form: its row drops
    assert sorted(r.subject for r in out.collect()) == sorted(
        {f"<{EX}s/{quote(v, safe='ü/')}>" for v in NASTY if v})
    for plan in (_encoded(df), out):
        explained = plan._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in explained
        assert "BatchEvalPython" not in explained


# ---------------------------------------------------------------------------
# config threading
# ---------------------------------------------------------------------------


def test_na_values_threading(spark, tmp_path):
    """Rows whose referenced value is in na_values are dropped — including
    the reference default 'nan' (ADVICE: config.py:89)."""
    csv = tmp_path / "people.csv"
    csv.write_text("ID,Name\n1,Alice\n2,nan\n3,N/A\n4,\n")
    ttl = tmp_path / "m.ttl"
    ttl.write_text(f"""
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
<#TM> rml:logicalSource [ rml:source "{csv}" ] ;
  rr:subjectMap [ rr:template "{EX}p/{{ID}}" ] ;
  rr:predicateObjectMap [
    rr:predicate <{EX}name> ; rr:objectMap [ rml:reference "Name" ] ] .
""")
    # default na_values ('', 'nan'): rows 2 and 4 drop
    names = {r.object for r in materialize(spark, str(ttl)).collect()}
    assert names == {'"Alice"', '"N/A"'}

    # config-supplied na_values adds N/A
    ini = f"[CONFIGURATION]\nna_values=,nan,N/A\n[DS]\nmappings={ttl}\n"
    names = {r.object for r in materialize_from_config(spark, ini).collect()}
    assert names == {'"Alice"'}


def test_file_path_override(spark, tmp_path):
    """A section's file_path replaces the mapping's rml:source."""
    original = tmp_path / "orig.csv"
    original.write_text("ID,Name\n10,Old\n")
    other = tmp_path / "other.csv"
    other.write_text("ID,Name\n99,Zoe\n")
    ttl = tmp_path / "m.ttl"
    ttl.write_text(f"""
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
<#TM> rml:logicalSource [ rml:source "{original}" ] ;
  rr:subjectMap [ rr:template "{EX}p/{{ID}}" ] ;
  rr:predicateObjectMap [
    rr:predicate <{EX}name> ; rr:objectMap [ rml:reference "Name" ] ] .
""")
    ini = f"[DS]\nmappings={ttl}\nfile_path={other}\n"
    subjects = {r.subject for r in materialize_from_config(spark, ini).collect()}
    assert subjects == {f"<{EX}p/99>"}


def test_safe_percent_encoding_through_config(spark, tmp_path):
    csv = tmp_path / "d.csv"
    csv.write_text("ID,PATH\n1,a/b c\n")
    ttl = tmp_path / "m.ttl"
    ttl.write_text(f"""
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
<#TM> rml:logicalSource [ rml:source "{csv}" ] ;
  rr:subjectMap [ rr:template "{EX}f/{{PATH}}" ] ;
  rr:predicateObjectMap [
    rr:predicate <{EX}id> ; rr:objectMap [ rml:reference "ID" ] ] .
""")
    strict = materialize_from_config(
        spark, f"[DS]\nmappings={ttl}\n").collect()[0].subject
    assert strict == f"<{EX}f/a%2Fb%20c>"
    safe = materialize_from_config(
        spark, f"[CONFIGURATION]\nsafe_percent_encoding=/\n[DS]\nmappings={ttl}\n"
    ).collect()[0].subject
    assert safe == f"<{EX}f/a/b%20c>"


# ---------------------------------------------------------------------------
# parser semantics
# ---------------------------------------------------------------------------


def test_subject_graph_unions_with_pom_graph(spark, tmp_path):
    """Subject-map graphs are ADDED to each POM's graphs
    (reference mapping_parser.py:179-199), not overridden by them."""
    csv = tmp_path / "g.csv"
    csv.write_text("ID\n1\n")
    ttl = f"""
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
<#TM> rml:logicalSource [ rml:source "{csv}" ] ;
  rr:subjectMap [ rr:template "{EX}s/{{ID}}" ; rr:graph <{EX}gS> ] ;
  rr:predicateObjectMap [
    rr:predicate <{EX}p> ;
    rr:objectMap [ rml:reference "ID" ] ;
    rr:graphMap [ rr:constant <{EX}gP> ] ] .
"""
    rules = parse_mapping(ttl)
    graphs = {r.graph.value for r in rules if r.graph is not None}
    assert graphs == {EX + "gS", EX + "gP"}
    df = materialize(spark, rules)
    assert {r.graph for r in df.collect()} == {f"<{EX}gS>", f"<{EX}gP>"}


def test_datatype_forces_literal_termtype():
    """rr:template + rr:datatype without explicit termType → Literal
    (reference _complete_termtypes, mapping_parser.py:249-260)."""
    ttl = f"""
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
<#TM> rml:logicalSource [ rml:source "x.csv" ] ;
  rr:subjectMap [ rr:template "{EX}s/{{ID}}" ] ;
  rr:predicateObjectMap [
    rr:predicate <{EX}v> ;
    rr:objectMap [ rr:template "{{A}}-{{B}}" ; rr:datatype xsd:string ] ] ;
  rr:predicateObjectMap [
    rr:predicate <{EX}w> ;
    rr:objectMap [ rr:template "{{A}}" ; rr:language "en" ] ] .
"""
    rules = parse_mapping(ttl)
    by_pred = {r.predicate.value: r for r in rules}
    assert by_pred[EX + "v"].object.termtype == M.LITERAL
    assert by_pred[EX + "w"].object.termtype == M.LITERAL


def test_explicit_termtype_beats_datatype_default():
    ttl = f"""
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
<#TM> rml:logicalSource [ rml:source "x.csv" ] ;
  rr:subjectMap [ rr:template "{EX}s/{{ID}}" ] ;
  rr:predicateObjectMap [
    rr:predicate <{EX}v> ;
    rr:objectMap [ rr:template "{EX}o/{{A}}" ; rr:termType rr:IRI ] ] .
"""
    (rule,) = parse_mapping(ttl)
    assert rule.object.termtype == M.IRI


# ---------------------------------------------------------------------------
# simhash pigeonhole + checkpoint lineage
# ---------------------------------------------------------------------------


def test_simhash_pairs_rejects_undersized_banding(spark, sf_dir):
    from morph_kgc_spark.operators.dedup import simhash_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(docs, "doc_id", "text", max_hamming=6, n_bands=4)


def test_simhash_pairs_complete_vs_exact(spark, sf_dir):
    """Banded candidates find EVERY pair with hamming ≤ max_hamming
    (compare against brute-force all-pairs on a small sample)."""
    from morph_kgc_spark.operators.dedup import simhash, simhash_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .where(F.col("doc_id") < 120)
    banded = {(r.id_a, r.id_b, r.hamming)
              for r in simhash_pairs(docs, "doc_id", "text",
                                     max_hamming=6).collect()}
    sig = simhash(docs, "doc_id", "text")
    a = sig.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("ha"))
    b = sig.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("hb"))
    exact = {(r.id_a, r.id_b, r.hamming)
             for r in a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b",
                     F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"))
             .where(F.col("hamming") <= 6).collect()}
    assert banded == exact and exact  # non-empty and complete


def test_lineage_fingerprint_survives_rebuild(spark, sf_dir):
    """Two independent constructions of the same plan (fresh exprIds)
    fingerprint identically — resume across driver restarts works."""
    from morph_kgc_spark.pipeline.checkpoint import _lineage_fingerprint

    def build():
        return (spark.read.parquet(f"{sf_dir}/documents.parquet")
                .select("doc_id", F.upper(F.col("text")).alias("t"))
                .where(F.col("doc_id") > 3))

    f1, f2 = _lineage_fingerprint(build(), "x"), _lineage_fingerprint(build(), "x")
    assert f1 == f2
    assert _lineage_fingerprint(build(), "other") != f1


# ---------------------------------------------------------------------------
# delimited identifiers, validation, printable-characters sink filter
# ---------------------------------------------------------------------------


def test_delimited_identifiers_stripped(spark, tmp_path):
    """SQL-delimited identifiers in templates/references/join conditions
    resolve to the bare column (reference mapping_parser.py:408-424,
    633-680)."""
    csv = tmp_path / "d.csv"
    csv.write_text("ID,Full Name\n7,Ada\n")
    ttl = f"""
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
<#TM> rml:logicalSource [ rml:source "{csv}" ] ;
  rr:subjectMap [ rr:template "{EX}p/{{\\"ID\\"}}" ] ;
  rr:predicateObjectMap [
    rr:predicate <{EX}name> ;
    rr:objectMap [ rml:reference '"Full Name"' ] ] .
"""
    rules = parse_mapping(ttl)
    (rule,) = rules
    assert rule.subject.value == EX + "p/{ID}"
    assert rule.object.value == "Full Name"
    out = materialize(spark, rules).collect()
    assert {(r.subject, r.object) for r in out} == {(f"<{EX}p/7>", '"Ada"')}


def test_invalid_predicate_termtype_rejected():
    ttl = f"""
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
<#TM> rml:logicalSource [ rml:source "x.csv" ] ;
  rr:subjectMap [ rr:template "{EX}s/{{ID}}" ] ;
  rr:predicateObjectMap [
    rr:predicateMap [ rr:template "{EX}p/{{K}}" ; rr:termType rr:Literal ] ;
    rr:objectMap [ rml:reference "V" ] ] .
"""
    with pytest.raises(ValueError, match="predicate"):
        parse_mapping(ttl)


def test_config_rejects_triples_map_in_two_sources(spark, tmp_path):
    csv = tmp_path / "d.csv"
    csv.write_text("ID\n1\n")
    ttl = tmp_path / "m.ttl"
    ttl.write_text(f"""
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
<#TM> rml:logicalSource [ rml:source "{csv}" ] ;
  rr:subjectMap [ rr:template "{EX}p/{{ID}}" ] ;
  rr:predicateObjectMap [
    rr:predicate <{EX}id> ; rr:objectMap [ rml:reference "ID" ] ] .
""")
    ini = f"[DS1]\nmappings={ttl}\n[DS2]\nmappings={ttl}\n"
    with pytest.raises(ValueError, match="cannot be repeated"):
        materialize_from_config(spark, ini)


def test_remove_non_printable_col_matches_python(spark):
    from morph_kgc_spark.functions.encoding import (
        remove_non_printable_col,
        remove_non_printable_py,
    )

    samples = ["plain", "tab\there", "nl\nthere", "bell\x07", "nbsp x",
               "zero​width", "para sep", "ok space", "ü€日"]
    df = spark.createDataFrame([(s,) for s in samples], ["v"])
    rows = df.select("v", remove_non_printable_col(F.col("v")).alias("c")).collect()
    for r in rows:
        assert r.c == remove_non_printable_py(r.v), repr(r.v)


def test_only_printable_in_config_write(spark, tmp_path):
    csv = tmp_path / "d.csv"
    csv.write_text('ID,Name\n1,a\x07b\n')
    ttl = tmp_path / "m.ttl"
    ttl.write_text(f"""
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
<#TM> rml:logicalSource [ rml:source "{csv}" ] ;
  rr:subjectMap [ rr:template "{EX}p/{{ID}}" ] ;
  rr:predicateObjectMap [
    rr:predicate <{EX}name> ; rr:objectMap [ rml:reference "Name" ] ] .
""")
    out_dir = str(tmp_path / "out.nt")
    ini = (f"[CONFIGURATION]\nonly_write_printable_characters=yes\n"
           f"output_file={out_dir}\n[DS]\nmappings={ttl}\n")
    materialize_from_config(spark, ini, write=True)
    lines = [r.value for r in spark.read.text(out_dir).collect()]
    assert lines == [f'<{EX}p/1> <{EX}name> "ab" .']

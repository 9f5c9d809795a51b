"""SQL-expression-string renderers for the term encodings.

Why strings: every ``F.*`` / Column-method invocation is one py4j
round-trip (~0.2 ms); a term map compiles to dozens of them, and a
flagship mapping (12 rules) paid ~1.3 s of driver time just BUILDING
Column trees (round-4 cProfile; BENCH.md fixed-cost note). Rendering
each term as ONE SQL string and parsing it with a single ``F.expr``
collapses that to one round-trip per term. These renderers are the
only term encoders the compiler uses; ``tests/test_sqlexpr_parity.py``
pins them against the pure-Python references in
:mod:`morph_kgc_spark.functions.encoding` with Hypothesis over
adversarial strings.
"""

from __future__ import annotations

from morph_kgc_spark.functions.encoding import _NT_ESCAPES

_UNRESERVED = ("ABCDEFGHIJKLMNOPQRSTUVWXYZ"
               "abcdefghijklmnopqrstuvwxyz0123456789_.-~")


def sql_ident(name: str) -> str:
    """Backtick-quoted identifier (XPath-ish names: ``.``, ``a/b``, ``@id``)."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(value: str) -> str:
    """Spark SQL single-quoted string literal, escape-safe.

    Control characters go out as ``\\uXXXX``: Spark's unescapeSQLString
    drops the backslash of unrecognized escapes (``'\\f'`` → ``'f'``),
    so only the explicit unicode form round-trips every byte.
    """
    out = []
    for ch in value:
        o = ord(ch)
        if ch == "\\":
            out.append("\\\\")
        elif ch == "'":
            out.append("\\'")
        elif o < 0x20 or o == 0x7F:
            out.append("\\u%04X" % o)
        else:
            out.append(ch)
    return "'" + "".join(out) + "'"


def ntriples_escape_sql(expr: str) -> str:
    """N-Triples escaping as a native replace chain (reference
    materializer.py:144 order)."""
    for search, repl in _NT_ESCAPES:
        expr = f"replace({expr}, {sql_str(search)}, {sql_str(repl)})"
    return expr


def percent_encode_replacements(safe: str | None) -> list[tuple[str, str]]:
    """The ``replace`` chain that turns ``url_encode`` output into
    ``urllib.parse.quote(value, safe=safe)``.

    ``java.net.URLEncoder`` (behind ``url_encode``) differs from
    ``quote(v, safe='')`` in three ways, each fixed by a post-replace that
    cannot collide with encoder output: space → ``+`` (any original ``+``
    became ``%2B``); ``*`` left bare (no ``%XX`` contains ``*``); ``~`` →
    ``%7E`` (an original ``%7E`` became ``%257E``). Both encoders emit
    uppercase hex over UTF-8, so the chain is byte-identical to the
    reference's falcon ``encode_value`` (materializer.py:132).

    ``safe`` (safe_percent_encoding, reference config.py:228) decodes the
    user's extra safe characters. Like ``quote`` (``safe.encode('ascii',
    'ignore')``) it ignores non-ASCII ones, and ``%25`` → ``%`` goes last:
    decoded earlier, an encoded ``%2F`` would become ``%2F`` and then
    ``/`` under a later ``/`` step.
    """
    out = [("+", "%20"), ("*", "%2A"), ("%7E", "~")]
    chars = [ch for ch in dict.fromkeys(safe or "")
             if ch.isascii() and ch not in _UNRESERVED]
    chars.sort(key=lambda ch: ch == "%")
    return out + [("%%%02X" % ord(ch), ch) for ch in chars]


def percent_encode_sql(expr: str, safe: str | None = None) -> str:
    """IRI percent-encoding as ``url_encode`` plus the fix-up chain of
    :func:`percent_encode_replacements` — pure JVM, codegen-friendly."""
    out = f"url_encode({expr})"
    for search, repl in percent_encode_replacements(safe):
        out = f"replace({out}, {sql_str(search)}, {sql_str(repl)})"
    return out


def natural_mapping_sql(expr: str, datatype: str | None) -> str:
    """Natural Mapping of SQL values (R2RML §10.2; materializer.py:133-144).

    booleans lower-cased; xsd:dateTime ``' '``→``'T'``; xsd:integer
    truncated of any ``.0`` tail via double→long round-trip.
    """
    from morph_kgc_spark import model as M

    if datatype == M.XSD_BOOLEAN:
        return f"lower({expr})"
    if datatype == M.XSD_DATETIME:
        return f"replace({expr}, ' ', 'T')"
    if datatype == M.XSD_INTEGER:
        return f"CAST(CAST(CAST({expr} AS DOUBLE) AS BIGINT) AS STRING)"
    return expr

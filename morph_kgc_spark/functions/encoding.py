"""Byte-exact term encoding: IRI percent-encoding + N-Triples escaping.

Replicates the reference's two string transforms (reference:
src/morph_kgc/materializer.py:127-144):

1. IRI template references are percent-encoded with ``falcon.uri.encode_value``
   — semantically ``urllib.parse.quote(value, safe='')``: every byte of the
   UTF-8 encoding is escaped except RFC-3986 *unreserved*
   (ALPHA / DIGIT / ``-._~``).

2. Literal lexical forms get N-Triples escaping in the reference's exact
   replacement order: ``\\  \\n  \\t  \\b  \\f  \\r  "  '``.

The Spark side of both is rendered as SQL strings by
:mod:`morph_kgc_spark.functions.sqlexpr` (a native ``url_encode`` /
``replace`` chain that stays inside whole-stage codegen). This module
holds the pure-Python references (``percent_encode_py`` /
``ntriples_escape_py``) for byte-equality tests and driver-side constant
folding, plus the ``safe_percent_encoding`` context.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from urllib.parse import quote

from pyspark.sql import Column
from pyspark.sql import functions as F


def percent_encode_py(value: str) -> str:
    """Percent-encode everything but RFC-3986 unreserved chars.

    Byte-compatible with falcon.uri.encode_value (used by the reference at
    materializer.py:132): UTF-8 encode, escape all reserved/other bytes.
    urllib.parse.quote never quotes ALPHA/DIGIT/``_.-~``; with ``safe=''``
    nothing else survives, which is exactly falcon's unreserved set.
    """
    return quote(value, safe="")


# N-Triples escapes in the reference's exact order (materializer.py:144)
_NT_ESCAPES = [
    ("\\", "\\\\"),
    ("\n", "\\n"),
    ("\t", "\\t"),
    ("\b", "\\b"),
    ("\f", "\\f"),
    ("\r", "\\r"),
    ('"', '\\"'),
    ("'", "\\'"),
]


def ntriples_escape_py(value: str) -> str:
    """N-Triples escape in the reference's exact order (materializer.py:144)."""
    for search, repl in _NT_ESCAPES:
        value = value.replace(search, repl)
    return value


# contextvar threading for the safe_percent_encoding config key: the
# compiler renders terms driver-side, so materialize() wraps plan
# construction in `safe_encoding_context` and every IRI-template render
# sees the configured safe characters without 8 layers of kwargs.
_SAFE_CHARS: ContextVar[str | None] = ContextVar("safe_percent_chars", default=None)


@contextmanager
def safe_encoding_context(safe: str | None):
    token = _SAFE_CHARS.set(safe)
    try:
        yield
    finally:
        _SAFE_CHARS.reset(token)


def remove_non_printable_py(value: str) -> str:
    """only_write_printable_characters filter (reference utils.py)."""
    return "".join(c for c in value if c.isprintable())


# python str.isprintable() is False for Unicode categories C* (control,
# format, surrogate, private, unassigned) and Z* (separators) except the
# ASCII space — expressed as one Java-regex character class so the filter
# stays in whole-stage codegen
_NON_PRINTABLE_RE = r"[[\p{C}\p{Z}]&&[^ ]]"


def remove_non_printable_col(col: Column) -> Column:
    """Column twin of ``remove_non_printable_py`` (reference
    only_write_printable_characters, utils.py) — pure JVM regex."""
    return F.regexp_replace(col, _NON_PRINTABLE_RE, "")

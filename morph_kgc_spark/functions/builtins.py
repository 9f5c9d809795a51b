"""FNML/FnO built-in function registry (the GREL surface).

Spark re-expression of the reference's ``bif_dict``
(src/morph_kgc/fnml/built_in_functions.py:9-27 registry; function bodies
at :35-255). The reference executes functions in a per-row Python loop
(src/morph_kgc/fnml/fnml_executer.py:105-112); here every function is a
native Column expression where Spark has one, and an Arrow-batched pandas
UDF otherwise — no per-row Python in either case.

Each builder takes keyword Column/str args (constants arrive as python
strings, references as Columns) and returns a Column. Functions that
return a *list* set ``.explodes = True`` — the compiler wraps them in
``explode`` (reference: fnml_executer.py:120).

A ``@udf``-style plug-in protocol mirrors the reference's user-defined
function loading (fnml_executer.py:14-41): users register additional
builders under their own IRIs.
"""

from __future__ import annotations

import ast as _ast
import html as _html
import operator as _op
from typing import Callable

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType, StringType

GREL = "http://users.ugent.be/~bjdmeest/function/grel.ttl#"
IDLAB = "https://w3id.org/imec/idlab/function#"

bif_dict: dict[str, Callable[..., Column]] = {}


def bif(fun_id: str, explodes: bool = False):
    """Register a built-in function builder (mirror of the reference's
    @bif decorator protocol)."""

    def deco(fn):
        fn.explodes = explodes
        bif_dict[fun_id] = fn
        return fn

    return deco


# alias for user plug-ins (reference: fnml_executer.py @udf protocol)
udf = bif


def _as_col(v) -> Column:
    return v if isinstance(v, Column) else F.lit(v)


@bif(GREL + "toUpperCase")
def to_upper(string) -> Column:
    return F.upper(_as_col(string))


@bif(GREL + "toLowerCase")
def to_lower(string) -> Column:
    return F.lower(_as_col(string))


@bif(GREL + "string_toTitlecase")
def to_titlecase(string) -> Column:
    return F.initcap(_as_col(string))


@bif(GREL + "string_trim")
def string_trim(string) -> Column:
    return F.trim(_as_col(string))


@bif(GREL + "string_reverse")
def string_reverse(string) -> Column:
    return F.reverse(_as_col(string))


@bif(GREL + "string_toString")
def string_to_string(string) -> Column:
    return _as_col(string).cast("string")


@bif(GREL + "string_length")
def string_length(string) -> Column:
    return F.length(_as_col(string)).cast("string")


@bif(GREL + "string_replace")
def string_replace(string, old, new) -> Column:
    return F.replace(_as_col(string), _as_col(old), _as_col(new))


@bif(GREL + "string_split")
def string_split(string, separator) -> Column:
    """Returns the *stringified* python list — quirk-compatible with the
    reference (built_in_functions.py string_split returns str(list))."""

    @pandas_udf(StringType())
    def _split_str(s: pd.Series, sep: pd.Series) -> pd.Series:
        return pd.Series(
            [str(v.split(p)) if v is not None else None
             for v, p in zip(s, sep)], index=s.index)

    return _split_str(_as_col(string), _as_col(separator))


@bif(GREL + "string_split_explode", explodes=True)
def string_split_explode(string, separator) -> Column:
    return F.split(_as_col(string), _as_col(separator))


@bif(GREL + "array_join")
def array_join(*parts, separator="") -> Column:
    sep = separator if isinstance(separator, str) else ""
    return F.concat_ws(sep, *[_as_col(p) for p in parts])


_EVAL_LOCALS = {
    # boolean lexical forms resolve as names inside the evaluated
    # expression, so plain XSD-boolean cells work alongside comparisons
    "true": True, "false": False, "True": True, "False": False,
    "yes": True, "no": False, "on": True, "off": False,
}


# whitelisted node→operator tables for _safe_eval_bool, module-level so
# the Arrow batch loop does not rebuild them per cell. ast.Pow is
# deliberately EXCLUDED: '9**9**9**9' in a data cell would compute an
# astronomically large int on the executor (DoS) — boolean condition
# cells never legitimately need it.
_EVAL_BIN = {_ast.Add: _op.add, _ast.Sub: _op.sub, _ast.Mult: _op.mul,
             _ast.Div: _op.truediv, _ast.Mod: _op.mod,
             _ast.FloorDiv: _op.floordiv}
_EVAL_CMP = {_ast.Eq: _op.eq, _ast.NotEq: _op.ne, _ast.Lt: _op.lt,
             _ast.LtE: _op.le, _ast.Gt: _op.gt, _ast.GtE: _op.ge,
             _ast.In: lambda a, b: a in b,
             _ast.NotIn: lambda a, b: a not in b}


def _safe_eval_bool(v: str):
    """AST-whitelisted evaluation of a condition cell — literals,
    boolean-name constants, comparisons, and/or/not, unary ± and
    numeric +-*/% (no **). The reference eval()s the cell outright
    (built_in_functions.py:159-168); a raw eval (even with builtins
    stripped) lets a crafted DATA VALUE execute python on executors
    (dunder-walk escapes), so anything outside the whitelist → null
    (false branch), where the reference would raise."""
    ast, _BIN, _CMP = _ast, _EVAL_BIN, _EVAL_CMP

    def ev(node):
        if isinstance(node, ast.Expression):
            return ev(node.body)
        if isinstance(node, ast.Constant):
            if isinstance(node.value, (bool, int, float, str)) \
                    or node.value is None:
                return node.value
        elif isinstance(node, ast.Name):
            if node.id in _EVAL_LOCALS:
                return _EVAL_LOCALS[node.id]
        elif isinstance(node, ast.BoolOp):
            # short-circuit like python's and/or (and the reference's
            # eval): "x == 1 or 1/0" must not evaluate the dead operand.
            # Python semantics return the deciding OPERAND, not a bool.
            last = None
            for x in node.values:
                last = ev(x)
                if isinstance(node.op, ast.And):
                    if not last:
                        return last
                elif last:
                    return last
            return last
        elif isinstance(node, ast.UnaryOp):
            if isinstance(node.op, ast.Not):
                return not ev(node.operand)
            if isinstance(node.op, ast.USub):
                return -ev(node.operand)
            if isinstance(node.op, ast.UAdd):
                return +ev(node.operand)
        elif isinstance(node, ast.Compare):
            left = ev(node.left)
            for o, cmp_ in zip(node.ops, node.comparators):
                if type(o) not in _CMP:
                    raise ValueError("unsupported comparison operator")
                right = ev(cmp_)
                if not _CMP[type(o)](left, right):
                    return False
                left = right
            return True
        elif isinstance(node, ast.BinOp) and type(node.op) in _BIN:
            return _BIN[type(node.op)](ev(node.left), ev(node.right))
        raise ValueError(f"disallowed expression node {type(node).__name__}")

    tree = ast.parse(v, mode="eval")
    return bool(ev(tree))


@pandas_udf(BooleanType())
def _eval_bool_udf(s: pd.Series) -> pd.Series:
    """Arrow-batched python-expression evaluation of condition cells
    (reference controls_if evals the cell, built_in_functions.py:159-168)
    through the AST whitelist; evaluation errors → null (false branch),
    where the reference would raise."""
    def one(v):
        if v is None:
            return None
        try:
            return _safe_eval_bool(v)
        except Exception:
            return None
    return s.map(one)


@bif(GREL + "controls_if")
def controls_if(bool_expression, value_true, value_false=None) -> Column:
    """The reference *evaluates* the condition cell as a python
    expression (built_in_functions.py:159-168): ``"1 > 2"`` → False,
    ``"True"`` → True. Simple boolean/numeric lexicals stay JVM-side;
    anything else goes through the Arrow eval UDF."""
    cond = _as_col(bool_expression)
    truthy_lex = F.lower(cond).isin("true", "yes", "on")
    falsy_lex = F.lower(cond).isin("false", "no", "off", "") | cond.isNull()
    numeric = cond.rlike(r"^[+-]?\d+(\.\d+)?$")
    verdict = (
        F.when(truthy_lex, F.lit(True))
        .when(falsy_lex, F.lit(False))
        .when(numeric, cond.cast("double") != 0)
        .otherwise(_eval_bool_udf(cond))
    )
    return F.when(verdict, _as_col(value_true)).otherwise(
        _as_col(value_false) if value_false is not None else F.lit(None))


@bif(GREL + "math_round")
def math_round(number) -> Column:
    """Reference number_round (built_in_functions.py:171-180): both
    separators present → ',' is a thousands separator ('4,894.57' and
    EU '1.926,82'-style values both contain ',' and '.'); only ',' →
    decimal comma."""
    n = _as_col(number)
    both = n.contains(",") & n.contains(".")
    n = F.when(both, F.replace(n, F.lit(","), F.lit("")))\
         .otherwise(F.replace(n, F.lit(","), F.lit(".")))
    return F.round(n.try_cast("double")).cast("long").cast("string")


@bif(GREL + "date_toDate")
def date_to_date(string, format_code) -> Column:
    """strptime-format → ISO date. Format arrives as a python strptime
    pattern; translate the common directives to Spark's."""
    fmt = format_code if isinstance(format_code, str) else None
    if fmt is None:
        raise ValueError("date_toDate needs a constant format pattern")
    spark_fmt = (fmt.replace("%Y", "yyyy").replace("%y", "yy")
                 .replace("%m", "MM").replace("%d", "dd")
                 .replace("%H", "HH").replace("%M", "mm").replace("%S", "ss"))
    return F.date_format(F.to_date(_as_col(string), spark_fmt), "yyyy-MM-dd")


@bif(GREL + "string_sha256")
def string_sha256(string) -> Column:
    return F.sha2(_as_col(string), 256)


@bif(GREL + "escape")
def string_escape(string, mode="html") -> Column:
    @pandas_udf(StringType())
    def _esc(s: pd.Series) -> pd.Series:
        return s.map(lambda v: _html.escape(v) if v is not None else None)

    if (mode if isinstance(mode, str) else "html") != "html":
        raise ValueError(f"unsupported escape mode: {mode!r}")
    return _esc(_as_col(string))


def _eval_list(v):
    """Reference quirk: inputs are stringified lists when they came from
    string_split, else plain strings sliced character-wise
    (built_in_functions.py: eval-with-fallback)."""
    import ast

    try:
        return ast.literal_eval(v)
    except (ValueError, SyntaxError):
        return v


@bif(GREL + "array_get")
def array_get(array_str, from_index, to_index=None) -> Column:
    """Index/slice into the stringified-list output of string_split
    (quirk-compatible with built_in_functions.py:73-112)."""

    @pandas_udf(StringType())
    def _get(a: pd.Series, i: pd.Series) -> pd.Series:
        def one(v, idx):
            if v is None:
                return None
            return str(_eval_list(v)[int(idx)])

        return pd.Series([one(v, idx) for v, idx in zip(a, i)], index=a.index)

    if to_index is None:
        return _get(_as_col(array_str), _as_col(from_index))

    @pandas_udf(StringType())
    def _slice(a: pd.Series, i: pd.Series, j: pd.Series) -> pd.Series:
        return pd.Series(
            [str(_eval_list(v)[int(x):int(y)]) if v is not None else None
             for v, x, y in zip(a, i, j)], index=a.index)

    return _slice(_as_col(array_str), _as_col(from_index), _as_col(to_index))


@bif(GREL + "array_slice")
def array_slice(array_str, from_index, to_index=None) -> Column:
    """Slice of the (stringified) list; open-ended without to_index —
    unlike array_get's single-element read (built_in_functions.py
    string_array_slice)."""
    if to_index is not None:
        return array_get(array_str, from_index, to_index)

    @pandas_udf(StringType())
    def _tail(a: pd.Series, i: pd.Series) -> pd.Series:
        return pd.Series(
            [str(_eval_list(v)[int(x):]) if v is not None else None
             for v, x in zip(a, i)], index=a.index)

    return _tail(_as_col(array_str), _as_col(from_index))


@bif(IDLAB + "hash")
def idlab_hash(string) -> Column:
    return F.sha2(_as_col(string), 256)


@bif(IDLAB + "hash_iri")
def idlab_hash_iri(string) -> Column:
    """sha256 wrapped into an IRI-shaped value (reference:
    built_in_functions.py hash_iri)."""
    return F.concat(F.lit("http://example.com/ns#"), F.sha2(_as_col(string), 256))


@bif(GREL + "controls_if_cast")
def controls_if_cast(bool_expression, value_true, value_false=None) -> Column:
    """Falsy lexical forms: '', 'false', 'no', 'off', '0' (reference:
    built_in_functions.py:188-198)."""
    cond = _as_col(bool_expression)
    falsy = F.lower(cond).isin("", "false", "no", "off", "0") | cond.isNull()
    return F.when(~falsy, _as_col(value_true)).otherwise(
        _as_col(value_false) if value_false is not None else F.lit(None))


@bif(GREL + "uuid")
def grel_uuid() -> Column:
    """Non-deterministic (flagged: reruns/retries produce new values —
    same caveat as the reference, built_in_functions.py:201-206)."""
    return F.expr("uuid()")


@bif("http://example.com/idlab/function/toUpperCaseURL")
def example_to_upper_case_url(url=None, **kw) -> Column:
    """Reference built_in_functions.py:226-241, quirks included: http(s)
    inputs keep their scheme and encode ONLY the first 7-8 characters
    uppercased (reference slices [:8]); schemeless values become
    http://<encoded upper>."""
    url = url if url is not None else kw.get("str", kw.get("string"))

    @pandas_udf(StringType())
    def _u(s: pd.Series) -> pd.Series:
        from urllib.parse import quote

        def one(v):
            if v is None:
                return None
            low = v.lower()
            if low.startswith("https://"):
                return "https://" + quote(v[:8].upper(), safe="")
            if low.startswith("http://"):
                return "http://" + quote(v[:7].upper(), safe="")
            return "http://" + quote(v.upper(), safe="")
        return s.map(one)

    return _u(_as_col(url))


@bif(IDLAB + "toUpperCaseURL")
def to_upper_case_url(url) -> Column:
    from morph_kgc_spark.functions.encoding import _SAFE_CHARS
    from morph_kgc_spark.functions.sqlexpr import percent_encode_replacements

    out = F.url_encode(F.upper(_as_col(url)))
    for search, repl in percent_encode_replacements(_SAFE_CHARS.get()):
        out = F.replace(out, F.lit(search), F.lit(repl))
    return out


@bif(IDLAB + "concat")
def idlab_concat(str1, str2, delimiter="") -> Column:
    sep = delimiter if isinstance(delimiter, str) else ""
    return F.concat_ws(sep, _as_col(str1), _as_col(str2))


def apply_function(fun_id: str, **kwargs) -> tuple[Column, bool]:
    """Resolve + apply a built-in: returns (column, explodes)."""
    if fun_id not in bif_dict:
        raise ValueError(f"unknown FNML function {fun_id!r}; "
                         f"register it with @udf/@bif")
    fn = bif_dict[fun_id]
    return fn(**kwargs), getattr(fn, "explodes", False)


# ---------------------------------------------------------------------------
# morph-kgc's own builtin namespace (built-in.ttl#) — aliases of the
# builders above, matching reference built_in_functions.py:185-255
# ---------------------------------------------------------------------------

MORPH = "https://github.com/morph-kgc/morph-kgc/function/built-in.ttl#"

bif_dict[MORPH + "uuid"] = bif_dict[GREL + "uuid"]
bif_dict[MORPH + "string_split_explode"] = bif_dict[GREL + "string_split_explode"]
bif_dict[MORPH + "controls_if_cast"] = bif_dict[GREL + "controls_if_cast"]
bif_dict[MORPH + "hash"] = bif_dict[IDLAB + "hash"]
bif_dict[MORPH + "hash_iri"] = bif_dict[IDLAB + "hash_iri"]

# reference GREL ids that differ from the long-form names above
# (built_in_functions.py registers reverse/toTitleCase/array_slice)
bif_dict[GREL + "reverse"] = bif_dict[GREL + "string_reverse"]
bif_dict[GREL + "toTitleCase"] = bif_dict[GREL + "string_toTitlecase"]



@bif(MORPH + "concat")
def morph_concat(str1, str2, separator="") -> Column:
    """built-in.ttl#concat(valueParam1, valueParam2[, param_string_sep])."""
    sep = separator if isinstance(separator, str) else ""
    if not isinstance(separator, str):
        return F.concat(_as_col(str1), _as_col(separator), _as_col(str2))
    return F.concat_ws(sep, _as_col(str1), _as_col(str2))


# ---------------------------------------------------------------------------
# user-defined function files (reference fnml_executer.py:14-41): a python
# file of @udf(fun_id, kwarg=param_iri, ...) row-wise functions, exec'd and
# wrapped into Arrow-batched pandas UDF builders
# ---------------------------------------------------------------------------


def _wrap_row_fn(fn, mapped: dict) -> Column:
    """Vectorize a per-row python function over Arrow batches."""
    names = list(mapped)
    cols = [_as_col(v) for v in mapped.values()]

    @pandas_udf(StringType())
    def _vec(*series: pd.Series) -> pd.Series:
        out = []
        for vals in zip(*series):
            r = fn(**dict(zip(names, vals)))
            out.append(str(r) if r is not None and not isinstance(r, str) else r)
        return pd.Series(out, index=series[0].index if series else None)

    if not cols:  # zero-arg udf
        raise ValueError("zero-argument user UDFs are not supported")
    return _vec(*cols)


def load_udfs(path: str) -> list[str]:
    """Load a user UDF file; returns the fun_ids registered via @udf.

    Two supported protocols in one file (documented surface):

    - ``@udf(fun_id, kwarg=param_iri, ...)`` on a per-ROW python
      function — the reference's protocol (fnml_executer.py:14-41),
      wrapped into an Arrow-batched pandas UDF;
    - ``@bif(fun_id)`` on a Column-builder function (engine-native fast
      path; ``F`` = pyspark.sql.functions is in scope).

    Each declared @udf parameter accepts its kwarg name, the param IRI's
    local name, or the engine's global alias for it — whichever the
    mapping parser produced.
    """
    registered: list[str] = []

    def udf_decl(fun_id: str, **params):
        def wrapper(fn):
            def builder(**kwargs):
                from morph_kgc_spark.mapping.parser import PARAM_ALIASES

                mapped = {}
                for kw, iri in params.items():
                    local = iri.rsplit("#", 1)[-1].rsplit("/", 1)[-1]
                    for cand in (kw, local, PARAM_ALIASES.get(local, local)):
                        if cand in kwargs:
                            mapped[kw] = kwargs.pop(cand)
                            break
                if kwargs:
                    raise ValueError(
                        f"unmapped arguments {sorted(kwargs)} for {fun_id}")
                return _wrap_row_fn(fn, mapped)

            builder.explodes = False
            bif_dict[fun_id] = builder
            registered.append(fun_id)
            return fn

        return wrapper

    with open(path, encoding="utf-8") as f:
        code = f.read()
    namespace = {"udf": udf_decl, "bif": bif, "F": F}
    exec(compile(code, path, "exec"), namespace)  # noqa: S102 — reference semantics
    return registered

"""Seeded input generators, one per workload.

Every generator writes its inputs once per seed under the run's work
directory, outside every timed section, and returns a plain dict that
describes them (paths, sizes, and what the generator planted). The
program under test only ever sees the written files.

- ``tpch``: TPC-H-shaped tables. The table *contents* are fixed (they come
  from a constant base seed), so a mapping's output set is the same for
  every seed; the seed permutes row order and splits each table into
  1-4 parquet files.
- ``mapping_wide``: sf0.01 tables plus an RML Turtle document of about
  20 triples maps / 80 rules drawn from the seed, with one DuckDB SELECT
  per rule written next to it as the oracle.
- ``web_crawl``: a Common-Crawl-shaped pages table with a Zipf text
  vocabulary, planted mirror pages, planted entity mentions (head
  entities included) and an alias dictionary above the 4096-alias
  in-set limit of ``detect_mentions``.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20261017
EX = "http://example.com/"
XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

DOC_VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
             "fast", "filter", "group", "hash", "join", "key", "line", "merge",
             "order", "part", "query", "row", "scan", "slow", "small", "sort",
             "spark", "stream", "table", "the", "value", "vector", "window"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "en", "zh", "es", "fr", "de"]

# the boilerplate wrapper the pipeline's extractor strips
HTML_PRE = "<html><head><title>p</title></head><body><article>"
HTML_POST = "</article></body></html>"


def _dates(rng, n: int) -> np.ndarray:
    days = rng.integers(0, 365 * 10, n)
    return (np.datetime64("1992-01-01") + days).astype("datetime64[us]")


def tpch_tables(sf: float) -> dict[str, pa.Table]:
    """TPC-H-shaped tables at scale factor ``sf`` (contents fixed)."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)
    n_part, n_supp = int(200_000 * sf), max(int(10_000 * sf), 10)
    n_docs = int(50_000 * sf)

    cust = np.arange(n_cust, dtype=np.int64)
    customer = pa.table({
        "c_custkey": cust,
        "c_name": [f"Customer#{k:09d}" for k in cust],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    okey = np.arange(n_ord, dtype=np.int64)
    orders = pa.table({
        "o_orderkey": okey,
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(900, 500_000, n_ord), 2),
        "o_orderdate": _dates(rng, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    l_okey = np.repeat(okey, lines)
    l_num = (np.arange(len(l_okey)) - np.repeat(np.cumsum(lines) - lines, lines)
             + 1).astype(np.int32)
    n_li = len(l_okey)
    lineitem = pa.table({
        "l_orderkey": l_okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": l_num,
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100_000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _dates(rng, n_li),
    })
    pkey = np.arange(n_part, dtype=np.int64)
    part = pa.table({
        "p_partkey": pkey,
        "p_name": [f"part {k}" for k in pkey],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(["SMALL", "LARGE", "ECONOMY", "STANDARD"])[
            rng.integers(0, 4, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + pkey % 1000 / 10.0, 2),
    })
    skey = np.arange(n_supp, dtype=np.int64)
    supplier = pa.table({
        "s_suppkey": skey,
        "s_name": [f"Supplier#{k:09d}" for k in skey],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    nation = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    region = pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": [f"REGION_{k}" for k in range(5)],
    })
    lens = rng.integers(10, 60, n_docs)
    words = np.array(DOC_VOCAB)[rng.integers(0, len(DOC_VOCAB), int(lens.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]
    documents = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 7}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return {"customer": customer, "orders": orders, "lineitem": lineitem,
            "part": part, "supplier": supplier, "nation": nation,
            "region": region, "documents": documents}


def write_split(table: pa.Table, path: str, rng) -> int:
    """Write ``table`` in seeded row order as a directory of 1-4 parquet
    files; returns the file count."""
    os.makedirs(path, exist_ok=True)
    perm = rng.permutation(table.num_rows)
    table = table.take(pa.array(perm))
    n_files = int(rng.integers(1, 5))
    cuts = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        pq.write_table(table.slice(cuts[i], cuts[i + 1] - cuts[i]),
                       os.path.join(path, f"part-{i:05d}.parquet"))
    return n_files


def _write_tables(tables: dict[str, pa.Table], root: str, seed: int) -> dict:
    rng = np.random.default_rng(seed)
    paths, rows, files = {}, {}, {}
    for name, table in tables.items():
        paths[name] = os.path.join(root, f"{name}.parquet")
        files[name] = write_split(table, paths[name], rng)
        rows[name] = table.num_rows
    return {"paths": paths, "rows": rows, "files": files}


def _done(root: str) -> dict | None:
    marker = os.path.join(root, "inputs.json")
    if os.path.exists(marker):
        with open(marker) as f:
            return json.load(f)
    return None


def _finish(root: str, info: dict) -> dict:
    with open(os.path.join(root, "inputs.json.tmp"), "w") as f:
        json.dump(info, f)
    os.replace(os.path.join(root, "inputs.json.tmp"),
               os.path.join(root, "inputs.json"))
    return info


# ---------------------------------------------------------------------------
# kg_tpch
# ---------------------------------------------------------------------------

def gen_tpch(root: str, seed: int, sf: float = 0.02) -> dict:
    info = _done(root)
    if info is None:
        info = _finish(root, {"sf": sf, **_write_tables(tpch_tables(sf), root, seed)})
    return info


# ---------------------------------------------------------------------------
# kg_mapping_wide
# ---------------------------------------------------------------------------

# table → (subject key columns, int columns, string columns, timestamp cols)
_TABLES = {
    "customer": (["c_custkey"], ["c_custkey", "c_nationkey"],
                 ["c_name", "c_mktsegment"], []),
    "orders": (["o_orderkey"], ["o_orderkey", "o_custkey"],
               ["o_orderstatus", "o_orderpriority"], ["o_orderdate"]),
    "lineitem": (["l_orderkey", "l_linenumber"],
                 ["l_partkey", "l_suppkey", "l_linenumber"],
                 ["l_returnflag", "l_linestatus"], ["l_shipdate"]),
    "part": (["p_partkey"], ["p_partkey", "p_size"],
             ["p_name", "p_brand", "p_type"], []),
    "supplier": (["s_suppkey"], ["s_suppkey", "s_nationkey"], ["s_name"], []),
    "nation": (["n_nationkey"], ["n_nationkey", "n_regionkey"], ["n_name"], []),
}
# the two predicate-object map shapes of each table's triples map
_SHAPES = {"customer": ("lang", "join"), "orders": ("typed", "join"),
           "lineitem": ("iri", "join"), "part": ("plain", "typed"),
           "supplier": ("typed", "join"), "nation": ("lang", "typed")}
# child table → [(child column, parent table, parent key)]; the first
# entry is the one a referencing object map uses
_FKS = {
    "customer": [("c_nationkey", "nation", "n_nationkey")],
    "orders": [("o_custkey", "customer", "c_custkey")],
    "lineitem": [("l_orderkey", "orders", "o_orderkey"),
                 ("l_partkey", "part", "p_partkey"),
                 ("l_suppkey", "supplier", "s_suppkey")],
    "supplier": [("s_nationkey", "nation", "n_nationkey")],
}


def _q(col: str) -> str:
    return f"CAST({col} AS VARCHAR)"


def _iri_sql(prefix: str, cols: list[str], alias: str) -> str:
    """IRI templates only reference integer columns, which need no
    percent-encoding."""
    path = " || '/' || ".join(_q(f"{alias}.{c}") for c in cols)
    return f"'<{prefix}' || {path} || '>'"


def _lit_sql(expr: str) -> str:
    """N-Triples literal escaping, the reference's replacement order."""
    bs = "chr(92)"
    e = expr
    for raw, esc in (("chr(92)", f"{bs}||{bs}"), ("chr(10)", f"{bs}||'n'"),
                     ("chr(9)", f"{bs}||'t'"), ("chr(8)", f"{bs}||'b'"),
                     ("chr(12)", f"{bs}||'f'"), ("chr(13)", f"{bs}||'r'"),
                     ("'\"'", f"{bs}||'\"'"), ("''''", f"{bs}||''''")):
        e = f"replace({e}, {raw}, {esc})"
    return f"'\"' || {e} || '\"'"


def _template(prefix: str, cols: list[str]) -> str:
    return prefix + "/".join("{" + c + "}" for c in cols)


def mapping_document(rng, n_maps: int, paths: dict[str, str]) -> tuple[str, list[dict]]:
    """RML Turtle text + one oracle SELECT per rule.

    Every triples map has a template-IRI subject with ``rr:class`` and two
    predicate-object maps whose shapes are fixed per table (``_SHAPES``):
    plain, datatyped or language-tagged literals, template IRIs, and
    referencing object maps with a join condition. The seed picks the
    table order, columns and language tags, so the rule count and the
    output size barely move between seeds.
    """
    names = list(_TABLES)
    tables = [names[i % len(names)] for i in rng.permutation(n_maps)]
    subj = {i: f"{EX}m{i}/{t}/" for i, t in enumerate(tables)}

    ttl = ["@prefix rr: <http://www.w3.org/ns/r2rml#> .",
           "@prefix rml: <http://semweb.mmlab.be/ns/rml#> .",
           "@prefix ql: <http://semweb.mmlab.be/ns/ql#> .",
           f"@prefix xsd: <{XSD}> .", ""]
    rules: list[dict] = []
    for i, t in enumerate(tables):
        keys, ints, strs, stamps = _TABLES[t]
        s_sql = _iri_sql(subj[i], keys, "c")
        cls = f"{EX}class/C{i}"
        rules.append({"map": i, "shape": "class", "sql":
                      f"SELECT {s_sql} AS s, '<{RDF_TYPE}>' AS p, "
                      f"'<{cls}>' AS o FROM {t} c"})
        parents = [(cc, pt, pk, j) for cc, pt, pk in _FKS.get(t, [])
                   for j in range(n_maps) if tables[j] == pt and j != i]
        shapes = list(_SHAPES[t])
        pom = []
        for k, shape in enumerate(shapes):
            pred = f"{EX}m{i}/p{k}"
            head = f"SELECT {s_sql} AS s, '<{pred}>' AS p, "
            src = f"FROM {t} c"
            if shape == "plain":
                col = str(rng.choice(ints + strs))
                om = f'rml:reference "{col}"'
                o_sql = _lit_sql(_q("c." + col))
            elif shape == "typed":
                if stamps:
                    col, dtype = stamps[0], "dateTime"
                    o_val = f"replace({_q('c.' + col)}, ' ', 'T')"
                else:
                    col, dtype = str(rng.choice(ints)), "integer"
                    o_val = _q("c." + col)
                om = f'rml:reference "{col}" ; rr:datatype xsd:{dtype}'
                o_sql = f"{_lit_sql(o_val)} || '^^<{XSD}{dtype}>'"
            elif shape == "lang":
                col, lang = str(rng.choice(strs)), str(rng.choice(["en", "de", "fr"]))
                om = f'rml:reference "{col}" ; rr:language "{lang}"'
                o_sql = f"{_lit_sql(_q('c.' + col))} || '@{lang}'"
            elif shape == "iri":
                col = str(rng.choice(ints))
                prefix = f"{EX}m{i}/o{k}/"
                om = f'rr:template "{prefix}{{{col}}}"'
                o_sql = _iri_sql(prefix, [col], "c")
            else:
                cc, pt, pk, j = parents[0]
                om = (f"rr:parentTriplesMap <#TM{j}> ; rr:joinCondition "
                      f'[ rr:child "{cc}" ; rr:parent "{pk}" ]')
                o_sql = _iri_sql(subj[j], _TABLES[pt][0], "q")
                src += f" JOIN {pt} q ON {_q('c.' + cc)} = {_q('q.' + pk)}"
            rules.append({"map": i, "shape": shape,
                          "sql": head + f"{o_sql} AS o {src}"})
            pom.append((pred, om))

        ttl.append(f"<#TM{i}> a rr:TriplesMap ;")
        ttl.append(f'  rml:logicalSource [ rml:source "{paths[t]}" ; '
                   "rml:referenceFormulation ql:Parquet ] ;")
        ttl.append(f'  rr:subjectMap [ rr:template "{_template(subj[i], keys)}"'
                   f" ; rr:class <{cls}> ]")
        for pred, om in pom:
            ttl[-1] += " ;"
            ttl.append(f"  rr:predicateObjectMap [ rr:predicate <{pred}> ; "
                       f"rr:objectMap [ {om} ] ]")
        ttl[-1] += " ."
        ttl.append("")
    return "\n".join(ttl), rules


def gen_mapping_wide(root: str, seed: int, n_maps: int = 6,
                     sf: float = 0.01) -> dict:
    info = _done(root)
    if info is not None:
        return info
    tables = tpch_tables(sf)
    tables = {k: v for k, v in tables.items() if k in _TABLES}
    info = _write_tables(tables, root, seed)
    rng = np.random.default_rng([seed, 1])
    ttl, rules = mapping_document(rng, n_maps, info["paths"])
    with open(os.path.join(root, "mapping.ttl"), "w") as f:
        f.write(ttl)
    with open(os.path.join(root, "oracle.json"), "w") as f:
        json.dump(rules, f, indent=1)
    info.update(sf=sf, mapping=os.path.join(root, "mapping.ttl"),
                oracle=os.path.join(root, "oracle.json"),
                triples_maps=n_maps, rules=len(rules))
    return _finish(root, info)


# ---------------------------------------------------------------------------
# web_crawl
# ---------------------------------------------------------------------------

_CONS, _VOW = "bcdfghjklmnprstvz", "aeiou"


def _pseudo_words(n: int, offset: int = 0) -> list[str]:
    """``n`` distinct lowercase pseudo-words (bijective syllable coding)."""
    out = []
    base = len(_CONS) * len(_VOW)
    for k in range(offset, offset + n):
        syl, v = [], k
        while True:
            syl.append(_CONS[v % base // len(_VOW)] + _VOW[v % len(_VOW)])
            v //= base
            if v == 0:
                break
        out.append("".join(syl))
    return out


def gen_web_crawl(root: str, seed: int, n_pages: int = 1500,
                  n_entities: int = 5000, vocab: int = 12000) -> dict:
    """Pages + alias dictionary + the record of what was planted.

    Entity alias tokens are Capitalized pseudo-words, each used by one
    alias only, and page text is lowercase, so an alias can only match
    where it was planted. Planted aliases are separated by text words.
    """
    info = _done(root)
    if info is not None:
        return info
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    words = np.array(_pseudo_words(vocab))
    # Zipf-Mandelbrot ranks (offset 20): without the offset a handful of
    # head words set most SimHash bits of every page, and unrelated pages
    # collide by the hundred thousand
    zipf = 1.0 / (np.arange(1, vocab + 1) + 20.0)
    zipf /= zipf.sum()

    # alias dictionary: one alias per entity, then extra aliases (some
    # shared by two entities: ambiguous, resolved by prior then IRI)
    n_extra = max(4200 - n_entities, 0) + n_entities // 5
    n_alias = n_entities + n_extra
    widths = rng.choice([1, 2, 3], n_alias, p=[0.3, 0.5, 0.2])
    toks = _pseudo_words(int(widths.sum()), offset=vocab * 4)
    aliases, pos = [], 0
    for wdt in widths:
        aliases.append(" ".join(t.capitalize() for t in toks[pos:pos + wdt]))
        pos += wdt
    ent_of = list(range(n_entities)) + list(rng.integers(0, n_entities, n_extra))
    rows = [(aliases[a], int(widths[a]), ent_of[a]) for a in range(n_alias)]
    # ambiguous aliases: every 10th extra alias also names a second entity
    for a in range(n_entities, n_alias, 10):
        rows.append((aliases[a], int(widths[a]), int((ent_of[a] + 1) % n_entities)))
    prior = rng.integers(0, 1000, len(rows))
    alias_tbl = pa.table({
        "alias": [r[0] for r in rows],
        "n_words": np.array([r[1] for r in rows], dtype=np.int32),
        "entity_iri": [f"http://kg.example.org/entity/E{r[2]}" for r in rows],
        "prior": prior / 1000.0,
    })

    # pages: Zipf body with 1-4 planted aliases (20% carry a head entity)
    n_base = int(n_pages * 0.9)
    n_head = 8
    texts, planted = [], []
    for _ in range(n_base):
        body = list(words[rng.choice(vocab, int(rng.integers(30, 90)), p=zipf)])
        picks = list(rng.integers(0, n_alias, int(rng.integers(1, 5))))
        if rng.random() < 0.2:
            picks.append(int(rng.integers(0, n_head)))
        gaps = sorted(rng.choice(np.arange(1, len(body)), len(picks), replace=False),
                      reverse=True)
        for g, a in zip(gaps, picks):
            body.insert(int(g), aliases[a])
        texts.append(" ".join(body))
        planted.append(sorted({aliases[a] for a in picks}))
    # mirrors: copies of base pages, half exact, half with one body word
    # replaced (planted aliases untouched)
    src = rng.integers(0, n_base, n_pages - n_base)
    for m, s in enumerate(src):
        t = texts[s].split(" ")
        if m % 2:
            i = int(rng.integers(0, len(t)))
            if t[i].islower():
                t[i] = str(words[rng.choice(vocab, p=zipf)])
        texts.append(" ".join(t))
        planted.append(planted[s])

    order = rng.permutation(n_pages)
    urls = [f"http://site{int(rng.integers(0, 300))}.example.org/page/{k}"
            if k < n_base else f"http://mirror{k % 17}.example.net/copy/{k}"
            for k in range(n_pages)]
    t0 = dt.datetime(2024, 1, 1)
    pages = pa.table({
        "url": [urls[k] for k in order],
        "warc_ts": pa.array([t0 + dt.timedelta(seconds=int(k) * 7) for k in order],
                            pa.timestamp("us")),
        "html": [(HTML_PRE + texts[k] + HTML_POST).encode() for k in order],
        "text": [texts[k] for k in order],
        "lang": [["en", "es", "de", "fr"][k % 4] for k in order],
    })
    prng = np.random.default_rng([seed, 3])
    info = {"paths": {}, "rows": {}, "files": {}}
    for name, table in (("pages", pages), ("aliases", alias_tbl)):
        info["paths"][name] = os.path.join(root, f"{name}.parquet")
        info["files"][name] = write_split(table, info["paths"][name], prng)
        info["rows"][name] = table.num_rows
    record = {urls[k]: planted[k] for k in range(n_pages)}
    with open(os.path.join(root, "planted.json"), "w") as f:
        json.dump(record, f)
    info.update(planted=os.path.join(root, "planted.json"),
                vocab=vocab, entities=n_entities, aliases=len(rows),
                mirrors=n_pages - n_base)
    return _finish(root, info)

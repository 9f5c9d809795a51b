"""Output checks against DuckDB oracles that never run the engine.

A triple set is summarised as ``(count, hash)``: the row count and the
sum of a 60-bit md5 prefix of each N-Triples line (``s p o``), which is
order-insensitive. The oracle's lines are built in DuckDB from the
generated inputs; the engine's output is summarised the same way. The
self-test drops one triple from, and alters one literal of, the oracle's
line set and requires the comparison to reject both.
"""

from __future__ import annotations

import json

import duckdb

from morph_kgc_spark import oracles as O

KG = "http://kg.example.org/"
XSD_DATETIME = "http://www.w3.org/2001/XMLSchema#dateTime"

# the ten flagship oracles; together they cover exactly its twelve rules
TPCH_ORACLES = [O.kg_customer_triples, O.kg_rdf_type, O.kg_typed_literals,
                O.kg_join_customer_nation, O.kg_language_tags,
                O.kg_blank_nodes, O.kg_union_distinct,
                O.kg_self_join_elimination, O.kg_lineitem_orders_salted,
                O.kg_ntriples_escaping]


def connect(paths: dict[str, str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect(config={"threads": 4})
    con.execute("SET enable_progress_bar = false")
    for name, path in paths.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{path}/*.parquet')")
    return con


def digest(con, lines_sql: str, params=None) -> tuple[int, int]:
    n, h = con.execute(
        "SELECT count(*), coalesce(sum(CAST(('0x' || substr(md5(line), 1, 15))"
        f" AS UBIGINT)), 0) FROM ({lines_sql})", params).fetchone()
    return int(n), int(h)


def tpch_lines() -> str:
    union = "\nUNION ALL\n".join(f"SELECT subject, predicate, object FROM ({q()})"
                                 for q in TPCH_ORACLES)
    return (f"SELECT DISTINCT subject || ' ' || predicate || ' ' || object "
            f"AS line FROM ({union})")


def mapping_wide_lines(oracle_path: str) -> str:
    with open(oracle_path) as f:
        rules = json.load(f)
    union = "\nUNION ALL\n".join(r["sql"] for r in rules)
    return f"SELECT DISTINCT s || ' ' || p || ' ' || o AS line FROM ({union})"


def _page_iri(col: str) -> str:
    return (f"'<{KG}page/' || replace(replace({col}, ':', '%3A'), '/', '%2F')"
            " || '>'")


def web_crawl_lines(con, planted_path: str, max_hamming: int) -> tuple[str, dict]:
    """Survivors from ``oracles.dedup_clusters`` over the pages; mention,
    label, lang and crawledAt triples from the generator's record."""
    with open(planted_path) as f:
        planted = json.load(f)
    con.execute("CREATE TEMP TABLE planted(url VARCHAR, alias VARCHAR)")
    con.executemany("INSERT INTO planted VALUES (?, ?)",
                    [(u, a) for u, al in planted.items() for a in al])
    con.execute("CREATE TEMP TABLE documents AS SELECT url AS doc_id, text "
                "FROM pages")
    # both oracles embed the same SimHash subquery: compute it once
    base = O.dedup_simhash()
    con.execute(f"CREATE TEMP TABLE sims_t AS {base}")
    reuse = "SELECT * FROM sims_t"
    con.execute("CREATE TEMP TABLE clusters AS "
                + O.dedup_clusters(max_hamming).replace(base, reuse))
    con.execute("CREATE TEMP TABLE true_pairs AS "
                + O.dedup_simhash_pairs(max_hamming).replace(base, reuse))
    con.execute("""
CREATE TEMP TABLE survivors AS
SELECT p.url, p.lang, p.warc_ts FROM pages p
JOIN clusters c ON c.doc_id = p.url WHERE c.doc_id = c.cluster_id""")
    con.execute("""
CREATE TEMP TABLE winner AS
SELECT alias, entity_iri FROM (
  SELECT alias, entity_iri, row_number() OVER (
    PARTITION BY alias ORDER BY prior DESC, entity_iri) AS rk
  FROM aliases) WHERE rk = 1""")
    lines = f"""
SELECT DISTINCT line FROM (
  SELECT {_page_iri('s.url')} || ' <{KG}mentions> <' || w.entity_iri || '>' AS line
  FROM survivors s JOIN planted pl ON pl.url = s.url
  JOIN winner w ON w.alias = pl.alias
  UNION ALL
  SELECT '<' || w.entity_iri || '> <{KG}label> "' || w.alias || '"'
  FROM survivors s JOIN planted pl ON pl.url = s.url
  JOIN winner w ON w.alias = pl.alias
  UNION ALL
  SELECT {_page_iri('url')} || ' <{KG}lang> "' || lang || '"' FROM survivors
  UNION ALL
  SELECT {_page_iri('url')} || ' <{KG}crawledAt> "'
         || replace(CAST(warc_ts AS VARCHAR), ' ', 'T')
         || '"^^<{XSD_DATETIME}>' FROM survivors
)"""
    facts = {
        "pages": con.execute("SELECT count(*) FROM pages").fetchone()[0],
        "survivors": con.execute("SELECT count(*) FROM survivors").fetchone()[0],
        "true_pairs": con.execute("SELECT count(*) FROM true_pairs").fetchone()[0],
    }
    return lines, facts


def selftest(con, lines_sql: str, expected: tuple[int, int]) -> dict:
    """Drop one triple from, and alter one literal of, a correct line set;
    the digest comparison must reject both."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE st AS {lines_sql}")
    victim = con.execute("SELECT min(line) FROM st").fetchone()[0]
    literal = con.execute(
        "SELECT min(line) FROM st WHERE line LIKE '%\"%'").fetchone()[0]
    dropped = digest(con, "SELECT line FROM st WHERE line <> ?", [victim])
    altered = digest(con, "SELECT CASE WHEN line = ? THEN regexp_replace("
                     "line, '\"', '\"~') ELSE line END AS line FROM st",
                     [literal])
    con.execute("DROP TABLE st")
    return {"drop_caught": dropped != expected,
            "alter_caught": altered != expected}

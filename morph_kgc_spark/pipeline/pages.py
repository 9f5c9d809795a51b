"""The web-scale KG-construction pipeline (north_star).

Pages (url, warc_ts, html, text, lang) → vectorized text extraction →
mention detection → two-stage entity linking (broadcast alias-dictionary
candidate generation, JVM scoring) → RML template expansion →
(subject, predicate, object) triples with set semantics.

Input shape per BASELINE.json input_hint. In production the source is an
Iceberg table partitioned by bucket(url)/date(warc_ts); in this sandbox a
deterministic synthetic generator built on ``spark.range`` produces the
same shape with seeded content — fully parallel (each partition generates
its rows independently), so it also drives the two-parallelism scaling
benchmark honestly.

Scale design:
- generation/extraction/mention-detection are per-row (no shuffle);
- the alias dictionary is broadcast (candidate generation never shuffles
  the pages side);
- per-mention scoring is a JVM expression (``array_intersect`` over token
  splits) and the best entity per (url, alias) is one row_number window —
  no Python in the plan;
- final dedup = one hash-partitioned distinct over the two linked
  rules (compiler pipeline); the per-page metadata rules are unique by
  construction and skip it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from morph_kgc_spark import model as M
from morph_kgc_spark.operators.text import tokens, word_ngrams
from morph_kgc_spark.plans.compiler import materialize_rules
from morph_kgc_spark.sources.registry import SourceRegistry

KG = "http://kg.example.org/"

_VOCAB = [
    "the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog",
    "data", "knowledge", "graph", "pipeline", "spark", "web", "page",
    "crawl", "archive", "index", "content", "extract", "entity", "link",
]

_HTML_PRE = "<html><head><title>p</title></head><body><article>"
_HTML_POST = "</article></body></html>"


def synthetic_pages(spark: SparkSession, n_pages: int,
                    n_hosts: int = 1024, n_entities: int = 256,
                    partitions: int | None = None) -> DataFrame:
    """Deterministic seeded pages table (url, warc_ts, html, text, lang).

    - Zipf-ish host skew (geometric over hosts) to exercise salting;
    - text embeds the alias of entity ``id % n_entities`` plus, for 20%
      of pages, a *head* entity alias (entity 0..3) — join skew;
    - a deterministic minority of pages contains quotes/backslashes/
      newlines and non-ASCII so escaping and percent-encoding stay hot;
    - html is a byte-exact wrapper of text (extraction invariant).
    """
    df = spark.range(0, n_pages, 1, partitions or spark.sparkContext.defaultParallelism)
    i = F.col("id")

    u = (F.pmod(i * F.lit(48271), F.lit(99991)) + 1).cast("double") / F.lit(99992.0)
    host = F.least(F.lit(n_hosts - 1), F.floor(-F.log(u) * 120)).cast("long")

    words = F.transform(
        F.sequence(F.lit(0), F.lit(11) + F.pmod(i, F.lit(20))),
        lambda k: F.element_at(
            F.array(*[F.lit(w) for w in _VOCAB]),
            (F.pmod(i * 31 + k * 7, F.lit(len(_VOCAB))) + 1).cast("int"),
        ),
    )
    alias = F.concat(F.lit("Entity Alias "), F.pmod(i, F.lit(n_entities)))
    head_alias = F.when(F.pmod(i, F.lit(5)) == 0,
                        F.concat(F.lit(" Entity Alias "), F.pmod(i, F.lit(4)))
                        ).otherwise(F.lit(""))
    dirty = F.when(F.pmod(i, F.lit(17)) == 0, F.lit(' "quoted" \\ tail ü')
                   ).otherwise(F.lit(""))
    text = F.concat(F.concat_ws(" ", words), F.lit(" "), alias, head_alias, dirty)

    return df.select(
        F.concat(F.lit("http://site"), host, F.lit(".example.org/page/"), i).alias("url"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=i.cast("double"))).alias("warc_ts"),
        F.encode(F.concat(F.lit(_HTML_PRE), text, F.lit(_HTML_POST)), "utf-8").alias("html"),
        text.alias("text"),
        F.element_at(F.array(F.lit("en"), F.lit("es"), F.lit("de"), F.lit("fr")),
                     (F.pmod(i, F.lit(4)) + 1).cast("int")).alias("lang"),
    )


def extract_text_udf(html) -> F.Column:
    """HTML→text extraction, byte-identical per url — pure JVM.

    The production twin would be a real boilerplate stripper
    (trafilatura-class); the contract it must satisfy — and the one the
    per-row invariant tests — is *byte-identical text per url across
    runs and engines*. Here the extractor inverts the known wrapper.

    Round 7 (guide §4.1): this was an Arrow-batched pandas UDF — the
    single biggest cold cost of the pipeline was shipping every html
    blob JVM→Python→JVM. The same semantics compile to binary-slice +
    decode expressions in whole-stage codegen: prefix/suffix checks are
    binary-literal comparisons and the fallback decode replaces
    malformed bytes exactly like Python's ``errors="replace"`` (the
    caller sets ``spark.sql.legacy.codingErrorAction=true``; Spark 4's
    default decode ERRORS on malformed input instead).
    """
    col = F.col(html) if isinstance(html, str) else html
    pre, post = _HTML_PRE.encode(), _HTML_POST.encode()
    n = F.octet_length(col)
    wrapped = (
        (n >= len(pre) + len(post))
        & (F.substring(col, 1, len(pre)) == F.lit(pre))
        & (F.substring(col, -len(post), len(post)) == F.lit(post))
    )
    middle = F.substring(col, F.lit(len(pre) + 1),
                         n - F.lit(len(pre) + len(post)))
    return F.when(wrapped, F.decode(middle, "UTF-8")) \
            .otherwise(F.decode(col, "UTF-8"))


def alias_dictionary(spark: SparkSession, n_entities: int = 256) -> DataFrame:
    """Broadcastable alias → entity table with seeded priors (F6 shape)."""
    e = F.col("id")
    alias = F.concat(F.lit("Entity Alias "), e)
    return spark.range(n_entities).select(
        alias.alias("alias"),
        F.size(F.split(alias, " ")).alias("n_words"),
        F.concat(F.lit(KG + "entity/E"), e).alias("entity_iri"),
        (F.pmod(e * 2654435761, F.lit(1000)).cast("double") / F.lit(1000.0)).alias("prior"),
    )


def detect_mentions(pages: DataFrame, aliases: DataFrame,
                    max_inset_aliases: int = 4096) -> DataFrame:
    """Candidate generation: (url, text, lang, alias, entity_iri, prior).

    Token-aligned dictionary matching, two regimes by dictionary size:

    *Small dictionaries* (≤ ``max_inset_aliases``): for each word-count
    ``w``, the page's distinct word w-grams are filtered against a
    static InSet of that width's aliases and only real matches explode,
    then broadcast-hash-join to attach entity/prior. Zero shuffle on
    the pages side, everything in whole-stage codegen.

    *Large dictionaries*: a 10M-alias InSet neither compiles into a
    plan nor belongs there. Instead the distinct w-grams explode as
    slim (url, alias) rows — the wide text column is NOT dragged onto
    every gram — and equi-join the alias table (AQE picks broadcast vs
    shuffle by its actual size); matches then rejoin the pages table on
    url to recover (text, lang). Plan size is O(|widths|), independent
    of dictionary size; gram-explode cost is O(pages × |text| ×
    |widths|) either way.

    Only per-width alias counts are ever collected to the driver.
    """
    widths = {r.n_words: r.cnt for r in
              aliases.groupBy("n_words").agg(F.count("*").alias("cnt")).collect()}
    total = sum(widths.values())

    # materialize the token array ONCE: Catalyst does no common-subexpr
    # elimination inside transform() lambdas, so building n-grams from
    # split(text) inline re-splits the text per element_at — O(|text|²)
    tokenized = pages.select("url", "text", "lang",
                             tokens(F.col("text")).alias("__tok"))

    if total <= max_inset_aliases:
        by_width: dict[int, list[str]] = {}
        for r in aliases.select("alias", "n_words").collect():
            by_width.setdefault(r.n_words, []).append(r.alias)
        out = None
        for w, words in sorted(by_width.items()):
            grams = F.array_distinct(word_ngrams(F.col("__tok"), w))
            matched = F.filter(grams, lambda g: g.isin(*words))
            # explode_outer + not-null: a plain explode lets Catalyst's
            # InferFiltersFromGenerate clone the whole match lambda into
            # a pushed-down size()>0 filter — the match work runs twice
            cand = tokenized.select(
                "url", "text", "lang", F.explode_outer(matched).alias("alias"),
            ).where(F.col("alias").isNotNull()) \
             .join(F.broadcast(aliases.where(F.col("n_words") == w)),
                   on="alias", how="inner") \
             .select("url", "text", "lang", "alias", "entity_iri", "prior")
            out = cand if out is None else out.unionAll(cand)
        return out

    # large-dictionary regime: slim gram stream, no dictionary in the plan
    grams = None
    for w in sorted(widths):
        g = tokenized.select(
            "url",
            F.explode_outer(F.array_distinct(word_ngrams(F.col("__tok"), w)))
             .alias("alias")).where(F.col("alias").isNotNull())
        grams = g if grams is None else grams.unionAll(g)
    hits = grams.join(aliases, on="alias", how="inner") \
                .select("url", "alias", "entity_iri", "prior")
    return hits.join(pages.select("url", "text", "lang"), on="url",
                     how="inner") \
               .select("url", "text", "lang", "alias", "entity_iri", "prior")


def _score_col(text, alias, prior) -> F.Column:
    """Stage-2 EL scoring — prior blended with a cheap context feature
    (alias-token coverage of the page text), pure JVM.

    Round 7 (guide §4.1): this was an Arrow-batched pandas UDF; the
    identical arithmetic — ``0.5·prior + 0.5·|set(alias_toks) ∩
    set(text_toks)| / len(alias_toks)`` — is one ``array_intersect``
    over the token splits (array_intersect returns the DISTINCT common
    elements, exactly the python set intersection) and two IEEE double
    ops, so scores are bit-identical to the UDF's and the window winner
    below never moves.
    """
    cover = (F.size(F.array_intersect(F.split(alias, " "), F.split(text, " ")))
             .cast("double")
             / F.size(F.split(alias, " ")).cast("double"))
    return 0.5 * prior + 0.5 * cover


def link_entities(mentions: DataFrame) -> DataFrame:
    """Pick the best entity per (url, alias) by score (deterministic
    tie-break on entity_iri). One shuffle on (url, alias) — the
    window's own exchange; with scoring now a JVM expression (round 7)
    the pre-scoring repartition that split the two pandas-UDF stages is
    gone, and scoring fuses into the mention-detection stage.
    """
    from pyspark.sql.window import Window

    scored = mentions.withColumn(
        "score", _score_col(F.col("text"), F.col("alias"), F.col("prior")))
    w = Window.partitionBy("url", "alias").orderBy(
        F.col("score").desc(), F.col("entity_iri"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .drop("rk"))


def pipeline_triples(spark: SparkSession, pages: DataFrame,
                     aliases: DataFrame) -> DataFrame:
    """Full pipeline → DataFrame(subject, predicate, object).

    Emits: page –mentions→ entity, page –lang→ literal,
    page –crawledAt→ xsd:dateTime, entity –label→ alias literal.
    Subjects/objects are canonicalized with the engine's template +
    percent-encode machinery (byte-identical to reference rules).
    """
    # JVM decode must REPLACE malformed bytes (python errors="replace"
    # parity); Spark 4's default decode errors out instead. Runtime SQL
    # conf, scoped to this session, only affects encode/decode coding
    # errors.
    spark.conf.set("spark.sql.legacy.codingErrorAction", "true")
    extracted = pages.withColumn("etext", extract_text_udf(F.col("html")))
    linked = link_entities(detect_mentions(
        extracted.select("url", F.col("etext").alias("text"), "lang"), aliases))
    # two rules consume `linked`; without persist the whole
    # extract→detect→score subtree runs twice. Round 7: persist ONLY the
    # three columns the rules read — the page text (~10× the rest) was
    # cached and rescanned by every downstream branch for nothing
    # (guide §2.3 project-before-reuse).
    # The persist is scoped under the cache contract: it is attached to
    # the returned triples frame, and cache.release(result) frees it
    # after the caller consumes the output (eagerly checkpointing the
    # corpus-sized triple set here instead would be a write-cost spike
    # inside every pipeline run — hygiene is the caller's choice, same
    # policy as the lazy-mode pair dedup operators).
    linked = linked.select("url", "alias", "entity_iri").persist()

    # metadata rules never need the extracted text → a SLIM projection
    # of the generated pages, persisted so the two metadata branches
    # share ONE generation pass (previously each branch re-generated the
    # 1M pages; guide §2.3). Released with the result like `linked`.
    pages_slim = pages.select(
        "url", "lang", F.col("warc_ts").cast("string").alias("warc_ts")) \
        .persist()

    reg = SourceRegistry()
    reg.register("linked", linked)
    # the label rule only reads (entity_iri, alias): dedup those BEFORE
    # rendering — distinct-then-render emits the same set as
    # render-then-distinct (the term is a pure function of the two
    # columns) but renders ~|entities| rows instead of |mentions|
    reg.register("alias_pairs", linked.select("entity_iri", "alias").distinct())
    reg.register("pages", pages_slim)

    page_tpl = "http://kg.example.org/page/{url}"
    linked_rules = [
        M.Rule(source=M.Source("df", "linked"),
               subject=M.TermMap(M.TEMPLATE, page_tpl, M.IRI),
               predicate=M.TermMap(M.CONSTANT, KG + "mentions", M.IRI),
               object=M.TermMap(M.REFERENCE, "entity_iri", M.IRI)),
        M.Rule(source=M.Source("df", "alias_pairs"),
               subject=M.TermMap(M.REFERENCE, "entity_iri", M.IRI),
               predicate=M.TermMap(M.CONSTANT, KG + "label", M.IRI),
               object=M.TermMap(M.REFERENCE, "alias", M.LITERAL)),
    ]
    meta_rules = [
        M.Rule(source=M.Source("df", "pages"),
               subject=M.TermMap(M.TEMPLATE, page_tpl, M.IRI),
               predicate=M.TermMap(M.CONSTANT, KG + "lang", M.IRI),
               object=M.TermMap(M.REFERENCE, "lang", M.LITERAL)),
        M.Rule(source=M.Source("df", "pages"),
               subject=M.TermMap(M.TEMPLATE, page_tpl, M.IRI),
               predicate=M.TermMap(M.CONSTANT, KG + "crawledAt", M.IRI),
               object=M.TermMap(M.REFERENCE, "warc_ts", M.LITERAL),
               datatype=M.TermMap(M.CONSTANT, M.XSD_DATETIME, M.IRI)),
    ]
    from morph_kgc_spark.plans.compiler import compile_rule

    from morph_kgc_spark.operators.cache import own

    out = materialize_rules(spark, linked_rules, reg)
    # the metadata branches are DISTINCT-FREE: url is unique per
    # generated page (the generator keys every page by its row id), so
    # one (subject, constant-predicate, object) triple per row can never
    # duplicate — a distinct exchange over 2M rendered triples would buy
    # nothing (guide §2.4 "a distinct on data that is already unique").
    # They also cannot collide with the linked rules' outputs (different
    # predicates).
    for r in meta_rules:
        out = out.unionAll(compile_rule(spark, r, reg, dedup_source=False))
    return own(out, [linked, pages_slim])


def run_pipeline(spark: SparkSession, n_pages: int = 100_000,
                 n_entities: int = 256, partitions: int | None = None) -> DataFrame:
    pages = synthetic_pages(spark, n_pages, n_entities=n_entities,
                            partitions=partitions)
    aliases = alias_dictionary(spark, n_entities)
    return pipeline_triples(spark, pages, aliases)

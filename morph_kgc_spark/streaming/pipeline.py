"""Structured-Streaming KG construction.

The reference has no true streaming (its Kafka sink is a one-shot batch
message, utils.py:300-330). This module goes further, per the brief's
streaming mandate: the same rule compiler runs over an unbounded pages
stream — every term-materialization operator is stateless/per-row, so
the exact batch term expressions apply unchanged to ``readStream`` sources.

- ``stream_triples``: rules × streaming DataFrame → streaming triples.
  Set semantics caveat: global distinct over an unbounded stream needs
  state; we expose watermarked ``dropDuplicatesWithinWatermark`` keyed on
  the triple when an event-time column is available, else emit-with-dups
  (downstream Iceberg MERGE dedups at the sink, the standard lakehouse
  pattern).
- ``windowed_triple_counts``: watermark + tumbling-window rollup of
  emitted triples per predicate (monitoring stream).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from morph_kgc_spark import model as M
from morph_kgc_spark.operators.joins import join_child_parent
from morph_kgc_spark.plans.compiler import (
    _object_column,
    compile_term,
    prepare_source,
    project_executions,
)


def stream_triples(stream_df: DataFrame, rules: list[M.Rule],
                   event_time_col: Optional[str] = None,
                   watermark: str = "10 minutes",
                   static_parents: Optional[dict[str, DataFrame]] = None) -> DataFrame:
    """Apply rules to a streaming source (one logical source shared by
    all rules — the streaming pages table).

    Referencing object maps join against STATIC parents: pass the parent
    DataFrames in ``static_parents`` keyed by ``Source.cache_key()`` (or
    by ``Source.value``). Structured Streaming executes a stream-static
    inner equi-join per micro-batch with the static side broadcast — no
    streaming state. Stream-stream joins and gathers stay unsupported;
    quoted maps without joins compile per-row as in batch.
    """
    static_parents = static_parents or {}
    out = None
    for rule in rules:
        if rule.quoted_object is not None or rule.quoted_subject is not None:
            raise ValueError("quoted maps are not supported in-stream yet")
        parent = None
        if rule.join_conditions:
            if rule.parent_source is None:
                raise ValueError("stream-stream joins are unsupported "
                                 "(pre-join upstream or provide a static "
                                 "parent)")
            key = rule.parent_source.cache_key()
            parent = static_parents.get(key) \
                or static_parents.get(rule.parent_source.value)
            if parent is None:
                raise ValueError(
                    "stream rule joins need the parent as a static frame: "
                    f"pass static_parents[{rule.parent_source.value!r}]")

        refs = rule.references
        base = stream_df
        for r in refs:
            base = base.withColumn(r, F.col(r).cast("string"))
        base = base.na.drop("any", subset=refs) if refs else base

        col_prefix = ""
        if parent is not None:
            # stream-static join: static side broadcast, evaluated per
            # micro-batch — stateless
            base = join_child_parent(
                base, prepare_source(parent, rule.parent_references),
                rule.join_conditions, broadcast=True)
            col_prefix = "parent_"
        base, rule = project_executions(base, rule, obj_prefix=col_prefix)

        if col_prefix and rule.parent_subject is not None:
            obj = compile_term(rule.parent_subject, col_prefix=col_prefix)
        elif rule.parent_subject is not None:
            obj = compile_term(rule.parent_subject)  # self-join eliminated
        else:
            obj = _object_column(rule)
        cols = [
            compile_term(rule.subject).alias("subject"),
            compile_term(rule.predicate).alias("predicate"),
            obj.alias("object"),
        ]
        if event_time_col:
            cols.append(F.col(event_time_col).alias("__event_time"))
        branch = base.select(*cols)
        out = branch if out is None else out.unionAll(branch)

    if event_time_col:
        out = (out.withWatermark("__event_time", watermark)
               .dropDuplicatesWithinWatermark(["subject", "predicate", "object"])
               .drop("__event_time"))
    return out


def stream_web_pipeline(pages_stream: DataFrame, aliases: DataFrame,
                        out_dir: str, checkpoint_dir: str,
                        available_now: bool = True,
                        idempotent: bool = True):
    """The full web pipeline (extract → detect → link → materialize) over
    a STREAMING pages source, via ``foreachBatch``.

    Entity linking ranks candidates per (url, alias) with a row_number
    window — not expressible in a pure streaming plan — but every page's
    mentions are generated within its own micro-batch and linking never
    crosses pages, so per-batch linking is EXACTLY the batch semantics.
    ``foreachBatch`` therefore runs the unmodified batch pipeline
    (:func:`morph_kgc_spark.pipeline.pages.pipeline_triples`) on each
    micro-batch; entity-level triples (entity –label→ alias) can recur
    across batches, and global set semantics are the sink's MERGE/dedup
    responsibility — the standard lakehouse pattern, same caveat as
    :func:`stream_triples`. The batch-owned persist is released per
    micro-batch.

    **Delivery semantics** (round-6 advice, streaming/pipeline.py:99):
    ``foreachBatch`` is at-least-once — a micro-batch retried after a
    partial write would duplicate rows under a plain ``append``. With
    ``idempotent=True`` (default) each batch instead OVERWRITES its own
    deterministic partition ``{out_dir}/batch_id=<id>/`` — a retry of
    batch N replaces batch N's partial output, never duplicates it, and
    ``spark.read.parquet(out_dir)`` sees one extra hive-style
    ``batch_id`` partition column. Set ``idempotent=False`` for a flat
    append sink when a downstream MERGE handles dedup.
    """
    from morph_kgc_spark.operators.cache import release
    from morph_kgc_spark.pipeline.pages import pipeline_triples

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        out = pipeline_triples(batch_df.sparkSession, batch_df, aliases)
        if idempotent:
            out.write.mode("overwrite").parquet(
                f"{out_dir}/batch_id={batch_id}")
        else:
            out.write.mode("append").parquet(out_dir)
        release(out)

    writer = (pages_stream.writeStream.foreachBatch(_process)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_triple_counts(triples_with_time: DataFrame,
                           time_col: str = "__event_time",
                           window: str = "1 hour",
                           watermark: str = "2 hours") -> DataFrame:
    """Monitoring rollup: triples per predicate per tumbling window."""
    return (
        triples_with_time
        .withWatermark(time_col, watermark)
        .groupBy(F.window(F.col(time_col), window).alias("w"), F.col("predicate"))
        .agg(F.count("*").alias("n_triples"))
        .select(F.col("w.start").alias("window_start"), "predicate", "n_triples")
    )


def stream_url_dedup(pages_stream: DataFrame, url_col: str = "url",
                     time_col: str = "warc_ts",
                     watermark: str = "1 hour") -> DataFrame:
    """Streaming URL-level dedup: the crawl-frontier front gate.

    Canonicalizes ``url_col`` (the batch Column expression applies
    unchanged — it is stateless per-row) and keeps the FIRST page per
    canonical URL within the watermark horizon via
    ``dropDuplicatesWithinWatermark``. State is bounded by the
    watermark: a canonical URL's dedup key expires once the event-time
    watermark passes it, which matches crawl semantics (a recrawl
    outside the horizon is a legitimate refresh, not a duplicate).
    Batch twin: ``operators.weburl.url_dedup`` (keep-min-id) — the
    streaming variant keeps first-arrival instead, the only determinism
    available over an unbounded stream.
    """
    from morph_kgc_spark.operators.weburl import canonicalize_urls

    canon = canonicalize_urls(pages_stream, url_col)
    return (canon
            .withWatermark(time_col, watermark)
            .dropDuplicatesWithinWatermark(["canonical_url"]))


def stream_incremental_dedup(docs_stream: DataFrame, index: DataFrame,
                             out_dir: str, checkpoint_dir: str,
                             id_col: str = "doc_id",
                             text_col: str = "text",
                             available_now: bool = True):
    """Streaming near-dup gate against a STATIC corpus index: each
    micro-batch of incoming documents is filtered by
    :func:`morph_kgc_spark.operators.dedup.incremental_dedup` — batch
    docs whose MinHash band bucket collides with any index doc are
    dropped; survivors land in ``out_dir``.

    ``foreachBatch`` because the gate joins against a static frame and
    ends in a broadcast anti-join — trivially per-batch semantics (a
    doc's verdict depends only on itself and the index, never on other
    stream rows), so the batch operator applies unmodified and its
    correctness oracle carries over. Batch-vs-batch dups inside ONE
    micro-batch are untouched (same contract as the batch operator);
    cross-batch accumulation — appending survivors to the index so
    LATER batches dedup against them — is the sink's compaction job in
    a real deployment (the index would be a stored signature table,
    re-read per batch via the registry's schema-invalidating reader).
    Writes are idempotent: each batch overwrites its deterministic
    ``{out_dir}/batch_id=<id>/`` partition, never appends.
    """
    from morph_kgc_spark.operators.dedup import incremental_dedup

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        survivors = incremental_dedup(index, batch_df, id_col, text_col)
        out = batch_df.join(survivors, id_col, "left_semi")
        out.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    writer = (docs_stream.writeStream.foreachBatch(_process)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

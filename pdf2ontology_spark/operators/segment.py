"""Span segmentation: documents(doc_id, spans[]) -> one row per span.

Replaces the reference's page fan-out + LLM layout analysis
(/root/reference/src/core/document_analyzer.py:106-133,
 /root/reference/src/core/region_detector.py:43-79) with a declarative
explode: the interleaved input table already carries the region ``kind``
and reading order (``offset``), per BASELINE.json input_hint.

Scale notes: explode is narrow (no shuffle); reading order is the stored
``offset`` so no window is needed on the hot path. The span-sequence
invariant check (per-doc order preservation) is a cheap per-row array
expression, not an aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def explode_spans(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, kind, text, media_ref, offset).

    Reference analog: per-page loop at document_analyzer.py:135-167.
    """
    return docs.select(
        "doc_id",
        F.explode("spans").alias("span"),
    ).select(
        "doc_id",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def span_sequence_check(docs: DataFrame) -> DataFrame:
    """Per-doc span-sequence invariant (BASELINE.json input_hint):
    offsets strictly increasing in stored order, i.e. sorting by offset
    is a no-op. Returns (doc_id, n_spans, is_ordered).
    """
    offs = F.transform("spans", lambda s: s["offset"])
    return docs.select(
        "doc_id",
        F.size("spans").cast("int").alias("n_spans"),
        (
            (offs == F.array_sort(offs))
            & (F.size(F.array_distinct(offs)) == F.size(offs))
        ).alias("is_ordered"),
    )


def merged_text_sentences(spans: DataFrame) -> DataFrame:
    """Cross-span content merge (W5 — the reference's CrossPageContent,
    /root/reference/src/pydantic_models/content_models.py:55-82): a text
    span that does not END A SENTENCE continues in the NEXT text span of
    the same document, transitively — a sentence split across ANY number
    of consecutive text spans is reassembled (multi-level merge, the
    session-window idiom): a new run starts after a terminated span (or
    at the first text span); each run concatenates in reading order.
    A span terminates per rules.TERMINATOR_RE/ABBREV_RE: ends with
    . ! or ? and the final token is not an abbreviation/initial — so
    "… siehe Abb." or "… Anlage A." correctly continues.
    One window + one co-partitioned groupBy, both keyed on doc_id.

    Returns (doc_id, offset, sentence) where offset is the first part's.
    """
    from pyspark.sql import Window

    from pdf2ontology_spark import rules

    w = Window.partitionBy("doc_id").orderBy("offset")
    prev = F.lag("text").over(w)
    starts = prev.isNull() | (
        prev.rlike(rules.TERMINATOR_RE) & ~prev.rlike(rules.ABBREV_RE)
    )
    t = (
        spans.filter(F.col("kind") == "text")
        .withColumn(
            "grp",
            F.sum(starts.cast("int")).over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return (
        t.groupBy("doc_id", "grp")
        .agg(
            F.min("offset").alias("offset"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("offset", "text"))),
                    lambda s: s["text"],
                ),
                " ",
            ).alias("sentence"),
        )
        .select("doc_id", "offset", "sentence")
    )


_TEXT_KINDS = ["text", "title", "header", "caption"]


def reassemble_text(docs: DataFrame) -> DataFrame:
    """Cross-span text stitch: the reference's OCR flatten+join
    (loader.py:36-58) — text-kind spans of each document sorted by
    (offset, text) and joined with newlines; a null text contributes
    ''. Documents with no text-kind spans emit nothing. The input is already one row per document, so this is an
    in-row array computation: zero shuffles, zero explode."""
    kinds = F.array(*[F.lit(k) for k in _TEXT_KINDS])
    picked = F.filter(
        F.col("spans"), lambda s: F.array_contains(kinds, s["kind"])
    )
    sorted_ = F.array_sort(
        F.transform(
            picked,
            lambda s: F.struct(
                s["offset"].alias("offset"),
                F.coalesce(s["text"], F.lit("")).alias("text"),
            ),
        )
    )
    return (
        docs.select(
            "doc_id",
            F.array_join(
                F.transform(sorted_, lambda s: s["text"]), "\n"
            ).alias("document_text"),
            F.size(picked).cast("long").alias("n_text_spans"),
        )
        .filter(F.col("n_text_spans") > 0)
    )


def doc_stats(docs: DataFrame) -> DataFrame:
    """Corpus/document statistics — reference's _compile_results
    (document_analyzer.py:230-272): per-doc span counts by kind plus
    totals, computed in-row like ``reassemble_text``.
    Documents with no spans emit nothing."""
    spans = F.col("spans")

    def n_kind(kind: str):
        return F.size(F.filter(spans, lambda s: s["kind"] == kind)).cast("long")

    return docs.select(
        "doc_id",
        F.size(spans).cast("long").alias("n_spans"),
        n_kind("table").alias("n_tables"),
        n_kind("media").alias("n_media"),
        n_kind("text").alias("n_text"),
        F.aggregate(
            spans,
            F.lit(0).cast("long"),
            lambda acc, s: acc + F.length(F.coalesce(s["text"], F.lit(""))),
        ).alias("total_chars"),
    ).filter(F.col("n_spans") > 0)

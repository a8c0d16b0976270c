"""Fused single-scan triple extraction: row-for-row equivalence with
the composed (staged) path, and the plan guarantees that justify it —
one corpus scan, zero exchanges."""

from pyspark.sql import functions as F

from pdf2ontology_spark.operators import segment, tabulate, triples
from pdf2ontology_spark.sources import tables

SF = "/root/testdata/sf0.001"


def _spans(spark):
    return segment.explode_spans(tables.load_documents_spans(spark, SF)).select(
        "doc_id",
        "kind",
        F.coalesce("text", F.lit("")).alias("text"),
        F.coalesce("media_ref", F.lit("")).alias("media_ref"),
        "offset",
    )


def _composed(spark, strict=False):
    sp = _spans(spark)
    return triples.table_triples(
        tabulate.semantic_entries(tabulate.table_cells(sp)), strict
    ).unionByName(triples.text_triples(sp))


def _assert_same_multiset(a, b):
    # nullability flags are plan metadata, not data — compare name+type
    sa = [(f.name, f.dataType) for f in a.schema.fields]
    sb = [(f.name, f.dataType) for f in b.schema.fields]
    assert sa == sb, f"\n{sa}\n!=\n{sb}"
    only_a = a.exceptAll(b).count()
    only_b = b.exceptAll(a).count()
    assert only_a == 0 and only_b == 0, f"fused-only={only_a} composed-only={only_b}"


def test_fused_equals_composed(spark):
    docs = tables.load_documents_spans(spark, SF)
    _assert_same_multiset(triples.all_triples_fused(docs), _composed(spark))


def test_fused_entries_equal_staged(spark):
    """Round-7: the fused semantic-entries query (one scan, zero
    shuffles) must equal tabulate.semantic_entries(table_cells(spans))
    row-for-row."""
    docs = tables.load_documents_spans(spark, SF)
    staged = tabulate.semantic_entries(tabulate.table_cells(_spans(spark))).select(
        "doc_id", "table_id", "row_idx", "row_header", "key", "value"
    )
    fused = triples.semantic_entries_fused(docs)
    only_a = staged.exceptAll(fused).count()
    only_b = fused.exceptAll(staged).count()
    assert only_a == 0 and only_b == 0, f"staged-only={only_a} fused-only={only_b}"


def test_fused_equals_composed_strict(spark):
    docs = tables.load_documents_spans(spark, SF)
    _assert_same_multiset(
        triples.all_triples_fused(docs, reference_strict=True),
        _composed(spark, strict=True),
    )


def test_fused_plan_single_scan_no_exchange(spark):
    """The whole point of the fusion: FileScan -> Project -> Generate,
    ONE corpus read, ZERO shuffles (the composed path scans twice and
    shuffles twice). A regression here silently doubles the 100TB read."""
    docs = tables.load_documents_spans(spark, SF, repartition=False)
    plan = triples.all_triples_fused(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan


def test_fused_malformed_table_json_tolerated(spark):
    """F11: a table span with broken JSON yields no triples, no error;
    the rest of the document still extracts."""
    from pyspark.sql import Row

    doc = [
        Row(
            doc_id="d1",
            spans=[
                Row(kind="table", text="{not json", media_ref="", offset=0),
                Row(
                    kind="text",
                    text="Die Anlage Pumpe P-100 befindet sich im Kesselhaus.",
                    media_ref="",
                    offset=1,
                ),
            ],
        )
    ]
    out = triples.all_triples_fused(spark.createDataFrame(doc)).collect()
    assert len(out) == 1
    assert out[0].predicate == "located_in" and out[0].obj_name == "Kesselhaus"


def _staged_raw(spark, docs):
    """Staged path over raw exploded spans (NO text coalesce, NO
    quarantine split) — the staged merge/tabulate semantics themselves.
    run_kg_pipeline additionally quarantines invalid spans first, which
    the fused path mirrors with its own validity filter; docs here must
    contain only quarantine-valid spans for the comparison to be
    meaningful."""
    sp = segment.explode_spans(docs)
    return triples.table_triples(
        tabulate.semantic_entries(tabulate.table_cells(sp))
    ).unionByName(triples.text_triples(sp))


def test_fused_null_text_matches_staged(spark):
    """A NULL-text text span is a run boundary in the staged window
    (lag(text).isNull() starts a run; array_join drops the null) — the
    fused fold must not merge through it."""
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [
            Row(
                doc_id="d1",
                spans=[
                    Row(kind="text", text="Die Anlage Pumpe P-100", media_ref="", offset=0),
                    Row(kind="text", text=None, media_ref="", offset=1),
                    Row(kind="text", text="befindet sich im Kesselhaus.", media_ref="", offset=2),
                ],
            )
        ]
    )
    _assert_same_multiset(triples.all_triples_fused(docs), _staged_raw(spark, docs))
    # and concretely: the broken sentence must NOT produce a triple
    assert triples.all_triples_fused(docs).count() == 0


def test_fused_out_of_order_spans_match_staged(spark):
    """The staged window re-sorts by offset; the fused fold must too —
    a document whose spans array is stored out of offset order still
    reassembles the sentence in reading order."""
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [
            Row(
                doc_id="d1",
                spans=[
                    Row(kind="text", text="befindet sich im Kesselhaus.", media_ref="", offset=2),
                    Row(kind="text", text="Die Anlage Pumpe P-100", media_ref="", offset=0),
                ],
            )
        ]
    )
    _assert_same_multiset(triples.all_triples_fused(docs), _staged_raw(spark, docs))
    out = triples.all_triples_fused(docs).collect()
    assert len(out) == 1 and out[0].obj_name == "Kesselhaus"


def test_fused_duplicate_offsets_deterministic(spark):
    """Duplicate offsets violate the input invariant; the fused sort
    tie-breaks by text so the output is deterministic (the staged
    window's run grouping is order-ambiguous on such input)."""
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [
            Row(
                doc_id="d1",
                spans=[
                    Row(kind="text", text="befindet sich im Kesselhaus.", media_ref="", offset=0),
                    Row(kind="text", text="Die Anlage Pumpe P-100", media_ref="", offset=0),
                ],
            )
        ]
    )
    # text-sorted: "Die Anlage..." (D < b in UTF-8) precedes "befindet..."
    out = triples.all_triples_fused(docs).collect()
    assert len(out) == 1 and out[0].obj_name == "Kesselhaus"

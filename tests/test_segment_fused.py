"""In-row document operators (segment.doc_stats / reassemble_text) on
span-less and text-less documents; their corpus-level values are gated
against the DuckDB oracles in tests/test_oracles.py."""

from pyspark.sql import Row

from pdf2ontology_spark.operators import segment


def test_fused_twins_drop_empty_docs(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id="d0", spans=[]),
            Row(
                doc_id="d1",
                spans=[
                    Row(kind="media", text=None, media_ref="m", offset=0),
                    Row(kind="text", text="b.", offset=2, media_ref=None),
                    Row(kind="text", text="a", offset=1, media_ref=None),
                ],
            ),
        ],
        "doc_id string, spans array<struct<kind string, text string, media_ref string, offset int>>",
    )
    ds = {r.doc_id: r for r in segment.doc_stats(docs).collect()}
    assert list(ds) == ["d1"]
    assert ds["d1"].n_spans == 3 and ds["d1"].n_text == 2 and ds["d1"].total_chars == 3
    rt = segment.reassemble_text(docs).collect()
    assert len(rt) == 1
    assert rt[0].document_text == "a\nb." and rt[0].n_text_spans == 2

"""run_kg_pipeline over quarantine-invalid input: the checkpointed
triples must equal the staged extraction over the quarantine-good spans,
and the quarantine stage must hold exactly the bad spans."""

import json

from pyspark.sql import Row

from pdf2ontology_spark.operators import quarantine, segment, tabulate, triples
from pdf2ontology_spark.plans.pipeline import run_kg_pipeline
from pdf2ontology_spark.sources import tables
from pdf2ontology_spark.sources.checkpoint import CheckpointStore

SPANS_T = (
    "doc_id string, spans array<struct<kind string, text string, "
    "media_ref string, offset int>>"
)
CELLS = json.dumps(
    [
        {"row": 0, "col": 0, "text": "Parameter"},
        {"row": 0, "col": 1, "text": "Wert"},
        {"row": 1, "col": 0, "text": "Stellort"},
        {"row": 1, "col": 1, "text": "Kesselhaus"},
    ]
)


def _docs(spark):
    def t(text, off):
        return Row(kind="text", text=text, media_ref=None, offset=off)

    spans = [
        t("Die Anlage Pumpe P-100", 0),
        Row(kind="table", text=CELLS, media_ref=None, offset=None),  # null offset
        t("befindet sich im Kesselhaus.", 2),
        Row(kind="text", text="Das Modul X enthält Y.", media_ref=None, offset=-3),
        t("Das Modul M-7 enthält Ventil V-1.", 4),
        Row(kind="blob", text="?", media_ref=None, offset=5),  # unknown kind
        t("Die Anlage Filter F-2", 6),
        Row(kind="media", text=None, media_ref=None, offset=7),  # no media_ref
        t("befindet sich im Keller.", 8),
        Row(kind="table", text=CELLS, media_ref=None, offset=9),
    ]
    ok = [t("Gerät G-5 ist Teil von Anlage A-1.", 0)]
    return spark.createDataFrame(
        [Row(doc_id="d1", spans=spans), Row(doc_id="d2", spans=ok)], SPANS_T
    )


def test_pipeline_quarantines_bad_spans(spark, tmp_path, monkeypatch):
    docs = _docs(spark)
    monkeypatch.setattr(tables, "load_documents_spans", lambda *a, **k: docs)
    out = run_kg_pipeline(spark, "unused", ckpt=CheckpointStore(spark, str(tmp_path)))

    good, bad = quarantine.split_spans(segment.explode_spans(docs))
    exp = triples.table_triples(
        tabulate.semantic_entries(tabulate.table_cells(good))
    ).unionByName(triples.text_triples(good))
    got = out["triples"].select(*exp.columns)
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0
    assert exp.count() == 5  # 1 table row + located_in x2, contains, part_of

    reasons = {(r.offset, r.q_reason) for r in out["quarantine"].collect()}
    assert reasons == {
        (None, "null_offset"),
        (-3, "negative_offset"),
        (5, "unknown_kind"),
        (7, "missing_media_ref"),
    }
    assert out["quarantine"].count() == bad.count() == 4

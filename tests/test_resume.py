"""Idempotent checkpoint/resume (FIXTURES.md F5, SURVEY.md §5 item 4):
delete downstream checkpoints, re-run, outputs byte-identical."""

import glob
import os
import shutil

import pyarrow.compute as pc
import pyarrow.parquet as pq

from pdf2ontology_spark.plans.pipeline import run_kg_pipeline
from pdf2ontology_spark.sources.checkpoint import CheckpointStore

HASH_EXPR = (
    "sum(cast(conv(substr(sha2(concat_ws('\\u001f', doc_id, coalesce(table_id,''),"
    " subj_name, predicate, obj_name, source_sentence), 256), 1, 15), 16, 10)"
    " as decimal(38,0))) as h"
)


def test_resume_identical(spark, tmp_path):
    d = str(tmp_path / "ckpt")
    out1 = run_kg_pipeline(spark, "/root/testdata/sf0.001", ckpt=CheckpointStore(spark, d, "r1"))
    h1 = out1["triples"].selectExpr(HASH_EXPR).collect()[0][0]
    n_nodes1 = out1["nodes"].count()

    # simulate mid-pipeline failure: last two stages lost
    shutil.rmtree(os.path.join(d, "nodes"))
    shutil.rmtree(os.path.join(d, "edges"))

    ck2 = CheckpointStore(spark, d, "r2")
    out2 = run_kg_pipeline(spark, "/root/testdata/sf0.001", ckpt=ck2)
    h2 = out2["triples"].selectExpr(HASH_EXPR).collect()[0][0]
    assert h1 == h2
    assert out2["nodes"].count() == n_nodes1

    m = ck2.metrics()
    reused = {r.stage for r in m.filter("reused AND run_id='r2'").select("stage").distinct().collect()}
    assert {"spans", "cells", "entries", "triples"} <= reused
    recomputed = {
        r.stage for r in m.filter("NOT reused AND run_id='r2'").select("stage").distinct().collect()
    }
    assert {"nodes", "edges"} <= recomputed


LINEAGE_SCHEMA = (
    "struct<stage:string,run_id:string,key:string,file:string,"
    "n_rows:bigint,key_min:string,key_max:string>"
)


def _file_ranges(stage_dir: str) -> dict:
    """(n_rows, min doc_id, max doc_id) of every non-empty parquet file
    of a checkpoint, each read on its own."""
    out = {}
    for f in glob.glob(os.path.join(stage_dir, "*.parquet")):
        ids = pq.read_table(f, columns=["doc_id"]).column("doc_id")
        if len(ids):
            out[os.path.basename(f)] = (len(ids), pc.min(ids).as_py(), pc.max(ids).as_py())
    return out


def test_lineage_covers_all_docs(spark, tmp_path):
    """K4: per-(doc-range, stage) lineage — every doc-keyed checkpoint
    file is accounted for with its covered key range and row count, and
    every stage's per-partition metrics add up to its checkpoint."""
    root = str(tmp_path / "ck")
    ckpt = CheckpointStore(spark, root, run_id="lineage-test")
    assert ckpt.lineage().schema.simpleString() == LINEAGE_SCHEMA
    assert ckpt.lineage().count() == 0
    # a keyless write leaves lineage empty, still typed
    ckpt.stage("keyless", lambda: spark.range(5))
    assert ckpt.lineage().schema.simpleString() == LINEAGE_SCHEMA
    assert ckpt.lineage().count() == 0

    out = run_kg_pipeline(spark, "/root/testdata/sf0.001", ckpt=ckpt)
    lin = ckpt.lineage()
    spans_lineage = lin.filter("stage = 'spans'")
    assert spans_lineage.count() >= 1
    total = sum(r.n_rows for r in spans_lineage.collect())
    assert total == out["spans"].count() + out["quarantine"].count()

    stages = ["spans", "quarantine_spans", "cells", "entries", "triples", "nodes", "edges"]
    rows_out = {
        r.stage: r.n
        for r in ckpt.metrics().groupBy("stage").agg({"rows_out": "sum"})
        .toDF("stage", "n").collect()
    }
    for name in stages:
        assert rows_out.get(name, 0) == spark.read.parquet(os.path.join(root, name)).count(), name

    by_stage: dict = {}
    for r in lin.collect():
        assert r.key == "doc_id" and r.run_id == "lineage-test"
        got = by_stage.setdefault(r.stage, {})
        name = os.path.basename(r.file)
        assert name not in got, (r.stage, name)
        got[name] = (r.n_rows, r.key_min, r.key_max)
    doc_keyed = [s for s in stages if "doc_id" in spark.read.parquet(os.path.join(root, s)).columns]
    assert {"spans", "cells", "entries", "triples"} <= set(doc_keyed)
    for name in doc_keyed:
        assert by_stage.get(name, {}) == _file_ranges(os.path.join(root, name)), name
    # node/edge stages have no doc key -> no lineage rows, metrics only
    assert set(by_stage) <= set(doc_keyed)
    assert ckpt.metrics().filter("stage = 'nodes'").count() >= 1

    # a fully reused run books metrics, never lineage
    again = CheckpointStore(spark, root, run_id="reused")
    run_kg_pipeline(spark, "/root/testdata/sf0.001", ckpt=again)
    m = again.metrics().filter("run_id = 'reused'")
    # (an empty checkpoint has no partition to book: quarantine_spans)
    booked = {s for s in stages if rows_out.get(s)}
    assert {r.stage for r in m.select("stage").distinct().collect()} == booked
    assert m.filter("NOT reused").count() == 0
    assert again.lineage().filter("run_id = 'reused'").count() == 0


def test_stage_bookkeeping_jobs(spark, tmp_path, jobs_during):
    """A fresh doc-keyed stage runs its write plus at most 2 Spark jobs
    (one bookkeeping aggregate + append; the read-back takes the written
    schema, so no inference job); a reused stage at most 3 (read with
    schema inference, aggregate + append)."""
    df = spark.range(0, 400, numPartitions=4).selectExpr(
        "cast(id % 50 as string) AS doc_id", "id"
    )
    _, write = jobs_during(lambda: df.write.parquet(str(tmp_path / "plain")))
    ckpt = CheckpointStore(spark, str(tmp_path / "ck"), "jobs")
    _, fresh = jobs_during(lambda: ckpt.stage("s", lambda: df))
    assert len(fresh) <= len(write) + 2, (fresh, write)
    _, reused = jobs_during(lambda: ckpt.stage("s", lambda: df))
    assert len(reused) <= 3, reused
    ckpt.stage("s", lambda: df)  # a second commit of the same (stage, run_id)
    m = ckpt.metrics()
    by_reused = sorted(tuple(r) for r in m.groupBy("reused").agg({"rows_out": "sum"}).collect())
    assert by_reused == [(False, 400), (True, 800)]
    assert m.filter("reused").count() == 2 * m.filter("NOT reused").count()
    assert sum(r.n_rows for r in ckpt.lineage().collect()) == 400

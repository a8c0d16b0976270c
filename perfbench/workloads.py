"""The benchmark's workloads: one timed pass each, plus output checks.

A pass calls the program's public functions the way a user would and
forces every output. Outputs are forced by collecting them to the driver
as Arrow tables (``DataFrame.toArrow``); the collected tables feed the
order-independent digests and the checks, which run outside the timed
region. Each call into a layer sits in a ``Tracer.span`` so its jobs
carry the layer's job group.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from inputs import N_DOCS, N_VECS

# corpus scale tag (pdf2ontology_spark.synth.N_DOCS): 200 documents
KG_TAG = MEDIA_TAG = "sf0.001"
# the operating points of __spark_entry__'s q_embedding_cosine_pairs
# and q_ann_brute_topk
COSINE_THRESHOLD = 0.45
TOPK_QUERIES = 8
TOPK_K = 5
GOLDEN_FLOOR = 0.95
RECALL_FLOOR = 0.9

# checkpoint stage -> operator layer (plans.pipeline.run_kg_pipeline)
STAGE_LAYER = {
    "spans": "operators.segment",
    "quarantine_spans": "operators.segment",
    "cells": "operators.tabulate",
    "entries": "operators.tabulate",
    "triples": "operators.triples",
    "nodes": "operators.graph",
    "edges": "operators.graph",
}
# tests/test_resume.py HASH_EXPR: order-independent triple content hash
TRIPLE_HASH_EXPR = (
    "sum(cast(conv(substr(sha2(concat_ws('\\u001f', doc_id, coalesce(table_id,''),"
    " subj_name, predicate, obj_name, source_sentence), 256), 1, 15), 16, 10)"
    " as decimal(38,0))) as h"
)


def digest(table: pa.Table) -> list:
    """``[rows, hex]``: the sum (mod 2^64) of a 64-bit hash of every row,
    so row order and partitioning do not matter. Floats are rounded to 6
    decimals so a last-bit difference from aggregation order does not
    count as a changed output."""

    def norm(v):
        if isinstance(v, float):
            return round(v, 6)
        if isinstance(v, (list, tuple)):
            return [norm(x) for x in v]
        if isinstance(v, dict):
            return {k: norm(x) for k, x in v.items()}
        return v

    total = 0
    for row in table.to_pylist():
        blob = json.dumps(norm(row), sort_keys=True, default=str).encode()
        total += int.from_bytes(hashlib.blake2b(blob, digest_size=8).digest(), "big")
    return [table.num_rows, f"{total % (1 << 64):016x}"]


class Checks:
    """Counts attempted and failed operations; a failed one is reported
    on stderr with its reason."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)


def timed_checkpoint_store(base, spark, root: str, tracer):
    """A ``CheckpointStore`` whose stages are traced: plan build
    (``compute()``) as the stage layer's ``build_s``, the stage write as
    its ``wall_s``, and the ``_metrics`` / ``_lineage`` bookkeeping and
    any resume read as ``sources.checkpoint``. The subclass is built per
    call because every session re-imports the program, and with it
    ``base``."""

    class TimedCheckpointStore(base):
        reused = 0
        computed = 0

        def stage(self, name, compute, resume=True, lineage_key="doc_id"):
            if resume and self.exists(name):
                self.reused += 1
                with tracer.span("sources.checkpoint", "reuse_s"):
                    return super().stage(name, compute, resume, lineage_key)
            self.computed += 1
            layer = STAGE_LAYER.get(name, "plans.pipeline")

            def timed_compute():
                with tracer.span(layer, "build_s"):
                    return compute()

            with tracer.span(layer):
                return super().stage(name, timed_compute, resume, lineage_key)

        def _record(self, *args, **kwargs):
            with tracer.span("sources.checkpoint", "commit_s"):
                return super()._record(*args, **kwargs)

        def _record_lineage(self, *args, **kwargs):
            with tracer.span("sources.checkpoint", "commit_s"):
                return super()._record_lineage(*args, **kwargs)

    return TimedCheckpointStore(spark, root, "bench")


def _files_and_bytes(root: str) -> tuple[int, int]:
    n = size = 0
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


class KgBuild:
    """``run_kg_pipeline`` into a fresh ``CheckpointStore``, then
    ``linking.canonicalize`` on its triples with nodes and edges forced."""

    name = "kg_build"

    def __init__(self, work_dir: str, synth) -> None:
        self.work_dir = work_dir
        self.synth = synth
        self.golden_pr: tuple[float, float] | None = None

    def locate(self) -> None:
        self.synth.ensure_synth(KG_TAG)

    def run_pass(self, spark, tracer, pass_no: int) -> dict:
        from pdf2ontology_spark.operators import linking
        from pdf2ontology_spark.plans.pipeline import run_kg_pipeline
        from pdf2ontology_spark.sources.checkpoint import CheckpointStore

        ckpt = os.path.join(self.work_dir, f"ckpt{pass_no}")
        shutil.rmtree(ckpt, ignore_errors=True)
        store = timed_checkpoint_store(CheckpointStore, spark, ckpt, tracer)
        with tracer.span("plans.pipeline", "total_s"):
            out = run_kg_pipeline(spark, KG_TAG, ckpt=store)
        canon = self._canonicalize(linking, out, tracer)
        return {"out": out, "canon": canon, "ckpt": ckpt}

    @staticmethod
    def _canonicalize(linking, out, tracer) -> dict:
        with tracer.span("operators.linking"):
            with tracer.span("operators.linking", "build_s"):
                c = linking.canonicalize(out["triples"])
            tables = {k: c[k].toArrow() for k in ("nodes", "edges")}
        tracer.add("operators.linking", "rows_out", sum(t.num_rows for t in tables.values()))
        return {"df": c, **tables}

    def outputs(self, res: dict) -> dict:
        out = res["out"]
        got = {k: digest(out[k].toArrow()) for k in ("triples", "nodes", "edges")}
        got["canonical_nodes"] = digest(res["canon"]["nodes"])
        got["canonical_edges"] = digest(res["canon"]["edges"])
        got["triple_hash"] = str(out["triples"].selectExpr(TRIPLE_HASH_EXPR).collect()[0][0])
        n, size = _files_and_bytes(res["ckpt"])
        res["ckpt_files"], res["ckpt_bytes"] = n, size
        return got

    def check(self, res: dict, checks: Checks) -> None:
        """Triple precision and recall against the synth golden triples,
        on distinct (doc_id, subj_name, predicate, obj_name). Scored once
        per run: every later pass must match this pass's digests."""
        if self.golden_pr is not None:
            return
        key = ["doc_id", "subj_name", "predicate", "obj_name"]
        got = res["out"]["triples"].select(*key).toArrow()
        exp = pq.read_table(self.synth.ensure_synth(KG_TAG)["golden_triples"], columns=key)
        g = set(zip(*(got.column(k).to_pylist() for k in key)))
        e = set(zip(*(exp.column(k).to_pylist() for k in key)))
        tp = len(g & e)
        self.golden_pr = p, r = tp / max(1, len(g)), tp / max(1, len(e))
        checks.check(min(p, r) >= GOLDEN_FLOOR, f"golden triples P={p:.4f} R={r:.4f}")

    def resume_pass(self, spark, tracer, checks: Checks, build_digests: dict, build: dict) -> dict:
        """Delete ``nodes``/``edges`` from the ``build`` pass's checkpoint
        and rerun the pipeline (tests/test_resume.py): the checkpoint
        reuse path, graph and linking do the work. Returns its timings."""
        from pdf2ontology_spark.operators import linking
        from pdf2ontology_spark.plans.pipeline import run_kg_pipeline
        from pdf2ontology_spark.sources.checkpoint import CheckpointStore

        ckpt = build["ckpt"]
        for stage in ("nodes", "edges"):
            shutil.rmtree(os.path.join(ckpt, stage))
        store = timed_checkpoint_store(CheckpointStore, spark, ckpt, tracer)
        t0 = time.monotonic()
        with tracer.span("plans.pipeline", "total_s"):
            out = run_kg_pipeline(spark, KG_TAG, ckpt=store)
        canon = self._canonicalize(linking, out, tracer)
        wall = time.monotonic() - t0
        got = self.outputs({"out": out, "canon": canon, "ckpt": ckpt})
        for k in ("triple_hash", "nodes", "edges", "canonical_nodes", "canonical_edges"):
            checks.check(got[k] == build_digests[k], f"resume: {k} differs from the build")
        return {"wall_s": wall, "reused_frac": store.reused / max(1, store.reused + store.computed)}

    def trace_ratios(self, spark, res: dict) -> dict:
        c = res["canon"]
        surfaces = c["df"]["surfaces"].count()
        return {"operators.linking.merge_ratio": surfaces / max(1, c["nodes"].num_rows)}


def media_spans(spark, tag: str):
    """Span rows as ``__spark_entry__`` feeds the media queries: exploded
    spans, no loader repartition."""
    from pyspark.sql import functions as F

    from pdf2ontology_spark.operators import segment
    from pdf2ontology_spark.sources import tables

    return segment.explode_spans(
        tables.load_documents_spans(spark, tag, repartition=False)
    ).select(
        "doc_id",
        "kind",
        F.coalesce("text", F.lit("")).alias("text"),
        F.coalesce("media_ref", F.lit("")).alias("media_ref"),
        "offset",
    )


class MediaNearDup:
    """The media preparation chain over every media span and its PNG
    blob, then the near-duplicate family over the seeded tables."""

    name = "media_near_dup"

    def __init__(self, synth, nd_dir: str, planted: dict) -> None:
        self.synth = synth
        self.nd_dir = nd_dir
        self.planted = planted
        self.n_media = 0
        self.blob_bytes = 0
        self.vecs: np.ndarray | None = None

    def locate(self) -> None:
        spans = self.synth.ensure_synth(MEDIA_TAG)["documents_spans"]
        blobs = self.synth.ensure_blobs(MEDIA_TAG)["media_blobs"]
        if not self.n_media:
            flat = pq.read_table(spans, columns=["spans"]).column(0).combine_chunks().flatten()
            self.n_media = pc.sum(pc.equal(flat.field("kind"), "media")).as_py()
            png = pq.read_table(blobs, columns=["png"]).column(0)
            self.blob_bytes = pc.sum(pc.binary_length(png)).as_py()
        for t in ("documents", "embeddings"):
            if not os.path.exists(os.path.join(self.nd_dir, f"{t}.parquet")):
                raise FileNotFoundError(f"near-dup table {t} missing under {self.nd_dir}")

    def run_pass(self, spark, tracer, pass_no: int) -> dict:
        from pyspark.sql import functions as F

        from pdf2ontology_spark.operators import condition, dedup, media, similarity
        from pdf2ontology_spark.sources import tables

        got: dict[str, pa.Table] = {}
        with tracer.span("operators.media"):
            with tracer.span("operators.media", "build_s"):
                spans = media_spans(spark, MEDIA_TAG)
                blobs = tables.load_media_blobs(spark, MEDIA_TAG)
                plans = {
                    "preprocessed_media": media.apply_actions(condition.assess_media(spans), blobs),
                    "media_quality": media.media_quality(spans, blobs),
                    "assess_media_full": media.assess_media_full(spans, blobs),
                }
            for k, df in plans.items():
                got[k] = df.toArrow()
        tracer.add("operators.media", "rows_out", sum(got[k].num_rows for k in plans))

        with tracer.span("operators.dedup"):
            with tracer.span("operators.dedup", "build_s"):
                docs = tables.load_table(spark, self.nd_dir, "documents")
                emb = tables.load_table(spark, self.nd_dir, "embeddings")
                plans = {
                    "minhash_pairs": dedup.minhash_pairs(docs, "doc_id", "text"),
                    "simhash": dedup.simhash(docs, "doc_id", "text"),
                    "embedding_cosine_pairs": dedup.embedding_cosine_pairs(
                        emb,
                        threshold=COSINE_THRESHOLD,
                        n=tables.table_rows(self.nd_dir, "embeddings"),
                        dim=tables.embedding_dim(self.nd_dir),
                    ),
                    "brute_topk": similarity.brute_topk(
                        emb, emb.filter(F.col("vec_id") < TOPK_QUERIES), k=TOPK_K
                    ),
                }
            for k, df in plans.items():
                got[k] = df.toArrow()
        tracer.add("operators.dedup", "rows_out", sum(got[k].num_rows for k in plans))
        return {"tables": got}

    def outputs(self, res: dict) -> dict:
        return {k: digest(t) for k, t in res["tables"].items()}

    def _vectors(self) -> np.ndarray:
        if self.vecs is None:
            col = pq.read_table(os.path.join(self.nd_dir, "embeddings.parquet")).column("embedding")
            self.vecs = np.asarray(col.to_pylist(), dtype=np.float64)
        return self.vecs

    def check(self, res: dict, checks: Checks) -> None:
        t = res["tables"]
        for k in ("preprocessed_media", "media_quality", "assess_media_full"):
            n = t[k].num_rows
            checks.check(n == self.n_media, f"{k}: {n} rows for {self.n_media} media spans")
        checks.check(t["simhash"].num_rows == N_DOCS, "simhash: one row per document")

        def pairs(tbl):
            return set(zip(tbl.column("id_a").to_pylist(), tbl.column("id_b").to_pylist()))

        for k, planted in (("minhash_pairs", "docs"), ("embedding_cosine_pairs", "vecs")):
            want = set(self.planted[planted])
            hit = len(want & pairs(t[k])) / max(1, len(want))
            checks.check(hit >= RECALL_FLOOR, f"{k}: planted-pair recall {hit:.3f}")

        v = self._vectors()
        unit = v / np.linalg.norm(v, axis=1, keepdims=True)
        cp = t["embedding_cosine_pairs"]
        a, b = np.asarray(cp.column("id_a")), np.asarray(cp.column("id_b"))
        exact = np.einsum("ij,ij->i", unit[a], unit[b]) if len(a) else np.zeros(0)
        checks.check(
            bool(np.all(np.abs(exact - np.asarray(cp.column("cosine"))) < 1e-3))
            and bool(np.all(exact >= COSINE_THRESHOLD - 1e-3)),
            "embedding_cosine_pairs: cosine differs from numpy",
        )
        bt = t["brute_topk"]
        q, c = np.asarray(bt.column("query_id")), np.asarray(bt.column("corpus_id"))
        ok = bt.num_rows == TOPK_QUERIES * TOPK_K
        for qi in range(TOPK_QUERIES):
            sims = unit @ unit[qi]
            sims[qi] = -np.inf
            best = np.sort(sims)[::-1][:TOPK_K]
            mine = np.sort(np.einsum("j,ij->i", unit[qi], unit[c[q == qi]]))[::-1]
            ok = ok and len(mine) == TOPK_K and bool(np.all(np.abs(mine - best) < 1e-3))
        checks.check(ok, "brute_topk: top-k differs from numpy")

    def trace_ratios(self, spark, res: dict) -> dict:
        from pdf2ontology_spark.operators import dedup
        from pdf2ontology_spark.sources import tables

        emb = tables.load_table(spark, self.nd_dir, "embeddings")
        cand = dedup.embedding_candidates(
            emb, n=N_VECS, dim=tables.embedding_dim(self.nd_dir)
        ).count()
        pairs = res["tables"]["embedding_cosine_pairs"].num_rows
        return {"operators.dedup.candidate_yield": pairs / max(1, cand)}

"""Seeded benchmark inputs, generated under the checkout's data directory.

Every input is a pure function of ``--seed``:

- the interleaved-span corpus, its golden triples and its PNG blob store
  come from ``pdf2ontology_spark.synth`` (``ensure_synth`` /
  ``ensure_blobs``) with the seed passed through;
- the near-duplicate ``documents`` / ``embeddings`` tables are generated
  here in the schemas of the testdata tables ``__spark_entry__`` reads,
  with planted near-duplicate pairs so the dedup outputs can be checked
  for recall.

Generation is cached per seed (``synth`` keeps a meta file; the tables
here are written once and then only located), and none of it is timed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 2000 documents and 1000 x 64 float vectors: the embeddings table
# stays far below the 64 MB matrix-rerank gate in operators.dedup
N_DOCS = 2000
N_VECS = 1000
DIM = 64
DUP_SHARE = 0.1  # planted near-duplicates per table

VOCAB = (
    "a agg batch big column data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table value window "
    "index shuffle plan cache page block node edge graph vector token span"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def data_root(repo_root: str, seed: int) -> str:
    return os.path.join(repo_root, ".bench_data", f"seed{seed}")


def bind_synth_seed(synth, base_dir: str, seed: int) -> None:
    """Route every ``synth.ensure_synth`` / ``ensure_blobs`` call in this
    process to ``(base_dir, seed)``.

    ``sources.tables.load_documents_spans`` and ``load_golden_triples``
    call ``synth.ensure_synth(sf_dir)`` with no seed, so they always read
    the seed-42 corpus; binding the defaults here is how the benchmark
    feeds the pipeline its seeded corpus without changing the loader.
    """
    ensure_synth, ensure_blobs = synth.ensure_synth, synth.ensure_blobs

    def seeded_synth(tag, base_dir=base_dir, seed=seed):
        return ensure_synth(tag, base_dir, seed)

    def seeded_blobs(tag, base_dir=base_dir, seed=seed):
        return ensure_blobs(tag, base_dir, seed)

    synth.ensure_synth = seeded_synth
    synth.ensure_blobs = seeded_blobs


def _write_once(path: str, table: pa.Table) -> None:
    if os.path.exists(path):
        return
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def near_dup_tables(out_dir: str, seed: int) -> dict:
    """Write (once) seeded ``documents`` and ``embeddings`` parquet
    tables into ``out_dir`` and return the planted near-duplicate pairs
    ``{"docs": [(base, copy)], "vecs": [(base, copy)]}`` (ids ascending).

    Documents are 30-80 random words; a ``DUP_SHARE`` of them copy an
    earlier document with one or two words replaced. Vectors are
    standard normal; a ``DUP_SHARE`` of them are an earlier vector plus
    small noise (cosine ~0.999), labelled with the base's id."""
    rng = np.random.default_rng([seed, 7])
    os.makedirs(out_dir, exist_ok=True)

    texts: list[str] = []
    doc_pairs: list[tuple[int, int]] = []
    for i in range(N_DOCS):
        if i >= 10 and rng.random() < DUP_SHARE:
            base = int(rng.integers(0, i))
            words = texts[base].split(" ")
            for pos in rng.choice(len(words), size=int(rng.integers(1, 3)), replace=False):
                words[pos] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
            doc_pairs.append((base, i))
        else:
            n = int(rng.integers(30, 81))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), size=n)))
    _write_once(
        os.path.join(out_dir, "documents.parquet"),
        pa.table(
            {
                "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(rng.choice(LANGS, size=N_DOCS, p=LANG_P).tolist(), pa.string()),
                "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
    )

    vecs = rng.standard_normal((N_VECS, DIM)).astype(np.float32)
    labels = np.arange(N_VECS, dtype=np.int32)
    vec_pairs: list[tuple[int, int]] = []
    for i in range(10, N_VECS):
        if rng.random() < DUP_SHARE:
            base = int(rng.integers(0, i))
            vecs[i] = vecs[base] + rng.normal(0.0, 0.03, DIM).astype(np.float32)
            labels[i] = labels[base]
            vec_pairs.append((base, i))
    _write_once(
        os.path.join(out_dir, "embeddings.parquet"),
        pa.table(
            {
                "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(labels),
            }
        ),
    )
    return {"docs": doc_pairs, "vecs": vec_pairs}

"""Checkpointed stage runner with per-partition lineage/metrics.

The Spark-native analog of the reference's per-stage JSON archival
(/root/reference/src/table_processors/table_content_extractor.py:401-434
and triplet_extractor.py:386-415 — its "resume" substrate: triplets are
re-derived from saved JSONs at triplet_extractor.py:542-676) and of
StageResult (/root/reference/src/pydantic_models/pipeline_models.py:25-48).

Semantics:
- ``stage(...)`` computes a DataFrame, writes it to
  ``<root>/<name>`` (parquet today, Iceberg on a real cluster), reads it
  back ONCE and returns that read. If the checkpoint is already complete
  (``_SUCCESS``), it is READ instead of recomputed — that is the
  idempotent resume path: all ids are deterministic content hashes, so
  resumed and fresh runs are byte-identical (tested in
  tests/test_resume.py).
- Bookkeeping is one aggregate over that read per stage, appended to the
  one physical ``<root>/_metrics`` table (FIXTURES.md F5): one row per
  (stage commit, read partition, checkpoint file) with its row count and,
  for a fresh stage keyed by ``lineage_key``, the key range.
  ``metrics()`` (per partition) and ``lineage()`` (per file) are
  aggregating views over it.
- run_id is caller-supplied and deterministic (hash of config), never a
  wall-clock value.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the physical _metrics table; commit_id tells apart two commits of the
# same (stage, run_id), which the views must not merge
_SCHEMA = (
    "stage string, run_id string, commit_id string, partition_id int, "
    "file string, rows_out long, key string, key_min string, key_max string, "
    "wall_ms long, output_checkpoint string, reused boolean"
)


class CheckpointStore:
    def __init__(self, spark: SparkSession, root: str, run_id: str = "run0"):
        self.spark = spark
        self.root = root
        self.run_id = run_id

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        return os.path.exists(os.path.join(self._path(name), "_SUCCESS"))

    def stage(
        self, name: str, compute, resume: bool = True, lineage_key: str = "doc_id"
    ) -> DataFrame:
        """Run (or resume) one stage. ``compute`` is a zero-arg callable
        returning the stage DataFrame. Fresh stages with a
        ``lineage_key`` column also record per-file key ranges."""
        path = self._path(name)
        if resume and self.exists(name):
            out = self.spark.read.parquet(path)
            self._record(name, path, out, wall_ms=0, reused=True, key=None)
            return out
        t0 = time.monotonic()
        df = compute()
        # 16MB row groups: a row group is the atomic scan-split unit, so
        # big default blocks (128MB) written at low parallelism would cap
        # every RESUMED stage's scan parallelism at the writer's file
        # count — small groups keep checkpoints splittable at any width
        df.write.mode("overwrite").option(
            "parquet.block.size", 16 * 1024 * 1024
        ).parquet(path)
        wall_ms = int((time.monotonic() - t0) * 1000)
        # read back with the written schema: skips parquet schema
        # inference (one Spark job); the reader makes every field
        # nullable either way, so the frame equals an inferred read
        out = self.spark.read.schema(df.schema).parquet(path)
        key = lineage_key if lineage_key in out.columns else None
        self._record(name, path, out, wall_ms=wall_ms, reused=False, key=key)
        return out

    def _record(
        self, name: str, path: str, out: DataFrame, wall_ms: int, reused: bool,
        key: str | None,
    ) -> None:
        """Append one _metrics row per (read partition, file) of ``out``:
        row count, and min/max of ``key`` when given (the audit substrate
        for idempotent resume: which docs does this checkpoint file
        cover?). One aggregate over the stage's own read; on Iceberg
        this is file-level metadata already kept by the snapshot
        manifest."""
        if key is None:
            k_min = k_max = F.lit(None).cast("string")
        else:
            k_min, k_max = F.min(key).cast("string"), F.max(key).cast("string")
        per_file = out.groupBy(
            F.spark_partition_id().alias("partition_id"),
            F.input_file_name().alias("file"),
        ).agg(
            F.count("*").cast("long").alias("rows_out"),
            k_min.alias("key_min"),
            k_max.alias("key_max"),
        )
        per_file.select(
            F.lit(name).alias("stage"),
            F.lit(self.run_id).alias("run_id"),
            F.lit(uuid.uuid4().hex).alias("commit_id"),
            F.col("partition_id").cast("int"),
            "file",
            "rows_out",
            F.lit(key).cast("string").alias("key"),
            "key_min",
            "key_max",
            F.lit(wall_ms).cast("long").alias("wall_ms"),
            F.lit(path).alias("output_checkpoint"),
            F.lit(reused).alias("reused"),
        ).write.mode("append").parquet(self._path("_metrics"))

    def _table(self) -> DataFrame:
        path = self._path("_metrics")
        if not os.path.exists(path):
            return self.spark.createDataFrame([], _SCHEMA)
        return self.spark.read.schema(_SCHEMA).parquet(path)

    def metrics(self) -> DataFrame:
        """One row per output partition of every stage commit (K6)."""
        return (
            self._table()
            .groupBy(
                "commit_id", "stage", "run_id", "partition_id", "wall_ms",
                "output_checkpoint", "reused",
            )
            .agg(F.sum("rows_out").alias("rows_out"))
            .select(
                "stage", "run_id", "partition_id", "rows_out", "wall_ms",
                "output_checkpoint", "reused",
            )
        )

    def lineage(self) -> DataFrame:
        """One row per checkpoint file of every fresh doc-keyed stage
        commit: covered key range and row count. Reused and keyless
        stages have none; a typed empty frame before any keyed write."""
        return (
            self._table()
            .filter(F.col("key").isNotNull())
            .groupBy("commit_id", "stage", "run_id", "key", "file")
            .agg(
                F.sum("rows_out").alias("n_rows"),
                F.min("key_min").alias("key_min"),
                F.max("key_max").alias("key_max"),
            )
            .select("stage", "run_id", "key", "file", "n_rows", "key_min", "key_max")
        )

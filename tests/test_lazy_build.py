"""Plan-build laziness: the auto-parameterized similarity/dedup
operators must submit ZERO Spark jobs while the plan is being built
when corpus stats are threaded in from table metadata (``n`` from the
parquet footer row count, ``dim`` from a driver-side one-row pyarrow
read) — the operator stays declarative and at deployment scale the
stats come from the catalog instead of a job.

Detection: every job submitted inside the probe runs under a dedicated
job group (the ``jobs_during`` fixture); the status tracker must report
that group empty."""

import __spark_entry__ as entry
from pdf2ontology_spark.operators import dedup, similarity
from pdf2ontology_spark.sources import tables

SF_DIR = "/root/testdata/sf0.001"


def test_table_stats_match_data(spark):
    emb = tables.load_table(spark, SF_DIR, "embeddings")
    assert tables.table_rows(SF_DIR, "embeddings") == emb.count()
    assert tables.embedding_dim(SF_DIR) == len(emb.first()["embedding"])


def _warm_schema_cache(spark):
    # the FIRST read of a path pays parquet schema inference (one
    # Spark job); load_table caches the schema so every later plan
    # build is job-free — which is what the probes below pin down
    tables.load_table(spark, SF_DIR, "embeddings")


def test_embedding_pairs_build_is_lazy(spark, jobs_during):
    _warm_schema_cache(spark)
    n = tables.table_rows(SF_DIR, "embeddings")
    dim = tables.embedding_dim(SF_DIR)

    def build():
        emb = tables.load_table(spark, SF_DIR, "embeddings")
        df = dedup.embedding_cosine_pairs(emb, threshold=0.45, n=n, dim=dim)
        df.schema  # force analysis, not execution
        return df

    df, jobs = jobs_during(build)
    assert jobs == [], f"plan build submitted Spark jobs: {jobs}"
    assert df.count() >= 0  # the lazily built plan still executes


def test_ivf_topk_build_is_lazy(spark, jobs_during):
    _warm_schema_cache(spark)
    n = tables.table_rows(SF_DIR, "embeddings")

    def build():
        emb = tables.load_table(spark, SF_DIR, "embeddings")
        df = similarity.ivf_topk(emb, emb.filter("vec_id < 4"), k=3, n=n)
        df.schema
        return df

    df, jobs = jobs_during(build)
    assert jobs == [], f"plan build submitted Spark jobs: {jobs}"
    assert df.count() > 0


def test_entry_embedding_queries_build_lazily(spark, jobs_during):
    """The registered driver queries thread table stats themselves."""
    _warm_schema_cache(spark)
    qs = entry.queries()
    for name in ["embedding_cosine_pairs", "ann_ivf_topk", "ann_lsh_topk"]:
        _df, jobs = jobs_during(lambda: qs[name](spark, SF_DIR).schema)
        assert jobs == [], f"{name} build submitted Spark jobs: {jobs}"

"""Spark vs DuckDB oracle gate: each listed ``queries()`` entry must equal
its ``oracle_sql()`` recomputation in row count, column names and
order-insensitive values (``oracles.compare``). The oracle SQL reads the
``ORACLE_TAG`` corpus, so the queries run on that scale too.

ORACLE_GATE lists the queries whose operators have one definition and
no other equivalence test; extend it to widen the sweep."""

import pytest

import __spark_entry__ as entry
from pdf2ontology_spark import oracles

SF_DIR = f"/root/testdata/{entry.ORACLE_TAG}"

ORACLE_GATE = [
    # grid_fused kernel
    "grid_assign_cells",
    "grid_spanning_cells",
    "grid_row_maps",
    # in-row segment operators
    "doc_stats",
    "reassemble_text",
    "classify_documents",
    # triple extraction: fused plan, its staged parts, fused entries
    "triples_all",
    "triples_table",
    "triples_table_strict",
    "triples_text",
    "relationship_entries",
    # LSH entity linking: in-row signatures, band-row verification
    "canonical_nodes_lsh",
    "canonical_edges_lsh",
]


@pytest.fixture(scope="module")
def duck():
    con = oracles.duckdb_views(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLE_GATE)
def test_query_matches_oracle(spark, duck, name):
    got = entry.queries()[name](spark, SF_DIR).toPandas()
    err = oracles.compare(got, duck.execute(entry.oracle_sql()[name]).df())
    assert err is None, f"{name}: {err}"

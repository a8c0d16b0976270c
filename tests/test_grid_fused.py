"""Edge cases of the grid kernel (operators/grid_fused.py); its
corpus-level behaviour is gated against the DuckDB oracles in
tests/test_oracles.py."""

from pdf2ontology_spark.operators import grid_fused


def test_fused_handles_missing_band_family(spark):
    """A table lacking either band family must drop its cells — the
    oracle's inner joins on both band families."""
    d = spark.createDataFrame(
        [
            ("d1", "t1", "row", "r0", 0.0, 0.0, 1.0, 0.1, None),
            ("d1", "t1", "cell", "c0", 0.0, 0.0, 0.5, 0.1, "x"),
        ],
        "doc_id string, table_id string, bucket string, item_id string, "
        "x double, y double, w double, h double, text string",
    )
    assert grid_fused.assign_cells_fused(d).count() == 0
    assert grid_fused.spanning_cells_fused(d).count() == 0


def test_fused_tie_break_keeps_first_band(spark):
    """Equidistant band centers: the lowest-index band wins (strictly-less
    argmin; the oracle orders ties by band idx)."""
    # binary-exact coordinates: both distances are exactly 0.25
    rows = [
        ("d1", "t1", "row", "r0", 0.0, 0.0, 1.0, 0.5, None),  # center 0.25
        ("d1", "t1", "row", "r1", 0.0, 0.5, 1.0, 0.5, None),  # center 0.75
        ("d1", "t1", "column", "c0", 0.0, 0.0, 0.5, 1.0, None),
        ("d1", "t1", "cell", "x0", 0.0, 0.25, 0.25, 0.5, "v"),  # cy=0.5: tie
    ]
    d = spark.createDataFrame(
        rows,
        "doc_id string, table_id string, bucket string, item_id string, "
        "x double, y double, w double, h double, text string",
    )
    out = grid_fused.assign_cells_fused(d).collect()
    assert len(out) == 1 and out[0]["row"] == 0

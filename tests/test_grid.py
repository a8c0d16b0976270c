"""Grid-reconstruction operators (SURVEY J2/J3/J5, W1/W3/W4, A8-A11) on
hand-built detection fixtures with exact expectations."""

from pdf2ontology_spark.operators import grid, grid_fused


def _bands(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id string, table_id string, bucket string, x double, y double, w double, h double"
    )


def test_index_bands_w1(spark):
    det = _bands(
        spark,
        [
            ("d", "t", "row", 0.0, 0.5, 1.0, 0.2),
            ("d", "t", "row", 0.0, 0.1, 1.0, 0.2),
            ("d", "t", "column", 0.6, 0.0, 0.3, 1.0),
            ("d", "t", "column", 0.1, 0.0, 0.4, 1.0),
        ],
    )
    rows = {(r.y): r.idx for r in grid.index_bands(det, "row").collect()}
    cols = {(r.x): r.idx for r in grid.index_bands(det, "column").collect()}
    assert rows == {0.1: 0, 0.5: 1}
    assert cols == {0.1: 0, 0.6: 1}


DET_T = (
    "doc_id string, table_id string, bucket string, item_id string, "
    "x double, y double, w double, h double, text string"
)


def _dets(spark, n_rows, n_cols, cells, spans=()):
    """One table's detections on a grid of 0.25 x 0.25 bands: cells are
    (item_id, row, col, text) boxes filling their band intersection,
    spans are (item_id, x, y, w, h) spanning-cell boxes."""
    s = 0.25
    rows = [("d", "t", "row", f"r{r}", 0.0, r * s, n_cols * s, s, None) for r in range(n_rows)]
    rows += [("d", "t", "column", f"k{c}", c * s, 0.0, s, n_rows * s, None) for c in range(n_cols)]
    rows += [("d", "t", "cell", i, c * s, r * s, s, s, t) for i, r, c, t in cells]
    rows += [("d", "t", "spanning_cell", i, x, y, w, h, None) for i, x, y, w, h in spans]
    return spark.createDataFrame(rows, DET_T)


def test_assign_cells_j3(spark):
    det = spark.createDataFrame(
        [
            ("d", "t", "row", "r0", 0.0, 0.0, 1.0, 0.5, None),
            ("d", "t", "row", "r1", 0.0, 0.5, 1.0, 0.5, None),
            ("d", "t", "column", "k0", 0.0, 0.0, 0.5, 1.0, None),
            ("d", "t", "column", "k1", 0.5, 0.0, 0.5, 1.0, None),
            ("d", "t", "cell", "c1", 0.05, 0.05, 0.4, 0.4, "a"),  # -> (0,0)
            ("d", "t", "cell", "c2", 0.55, 0.6, 0.4, 0.3, "b"),  # -> (1,1)
        ],
        DET_T,
    )
    got = {r.cell_id: (r.row, r.col) for r in grid_fused.assign_cells_fused(det).collect()}
    assert got == {"c1": (0, 0), "c2": (1, 1)}


def test_apply_spanning_cells_j2(spark):
    cells = [(f"c{r}{c}", r, c, f"v{r}{c}") for r in range(3) for c in range(3)]
    det = _dets(spark, 3, 3, cells, [("s1", 0.0, 0.0, 0.5, 0.25)])  # covers (0,0), (0,1)
    out = {(r.row, r.col): r for r in grid_fused.spanning_cells_fused(det).collect()}
    assert out[(0, 0)].cell_type == "merged"
    assert out[(0, 0)].rowspan == 1 and out[(0, 0)].colspan == 2
    assert out[(0, 1)].cell_type == "empty"
    assert out[(1, 1)].cell_type == "normal" and out[(1, 1)].colspan == 1


def test_expand_and_pivot_j5_w4(spark):
    cells = [
        ("h1", 0, 0, "H1"),  # header spanning 2 cols
        ("h1b", 0, 1, ""),
        ("h2", 0, 2, "H2"),
        ("a", 1, 0, "a"),
        ("b", 1, 1, "b"),
        ("c", 1, 2, "c"),
    ]
    det = _dets(spark, 2, 3, cells, [("s1", 0.0, 0.0, 0.5, 0.25)])
    maps = grid_fused.row_maps_fused(det).collect()
    assert len(maps) == 1 and maps[0].row == 1
    # col 1 has empty header after expansion -> Column_1 fallback
    assert maps[0].row_map == {"H1": "a", "Column_1": "b", "H2": "c"}


def test_header_levels_w3(spark):
    headers = spark.createDataFrame(
        [("d", "t", 0.02, 0.0), ("d", "t", 0.021, 0.5), ("d", "t", 0.3, 0.0)],
        "doc_id string, table_id string, y double, x double",
    )
    levels = {r.y: r.level for r in grid.header_levels(headers).collect()}
    assert levels == {0.02: 0, 0.021: 0, 0.3: 1}  # same round(y*10) bucket -> same level


def test_dominant_angle_a8_a10(spark):
    contours = spark.createDataFrame(
        [("i1", 2.0, 10.0), ("i1", 4.0, 30.0), ("i1", -80.0, 1.0)],
        "image_id string, angle double, area double",
    )
    r = grid.dominant_angle(contours).collect()[0]
    assert abs(r.weighted_angle - ((2 * 10 + 4 * 30 - 80) / 41.0)) < 1e-6
    assert r.median_angle == 2.0
    # bins of width 5 over [-90,90): angles 2.0 and 4.0 share bin 18 -> center 2.5
    assert r.dense_bin_center == 2.5

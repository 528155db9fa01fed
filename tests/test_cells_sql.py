"""JVM cell expressions must be bit-identical to the numpy kernel, and the
bbox pair join must return each meeting pair exactly once."""

import numpy as np
from pyspark.sql import functions as F

from spandex_spark import cells
from spandex_spark.functions.cells_sql import (
    bbox_pairs, cell_of_expr, explode_bbox_cells, grid_coord_expr)


def test_expr_matches_numpy_kernel(spark):
    rng = np.random.default_rng(42)
    lon = rng.uniform(-180, 180, 2000)
    lat = rng.uniform(-90, 90, 2000)
    # include exact lattice/boundary points
    lon[:10] = [-180.0, -10.0, 0.0, 9.99, 10.0, 179.99, -0.01, 5.43, -4.57, 1.0]
    lat[:10] = [-90.0, -10.0, 0.0, 9.99, 10.0, 89.99, -0.01, 5.43, -4.57, 1.0]
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lon, lat)], ["lon", "lat"])
    for level in (0, 5, 9, 17, 29):
        got = np.array([r.c for r in df.select(
            cell_of_expr("lon", "lat", level).alias("c")).collect()])
        want = cells.cell_of(lon, lat, level)
        np.testing.assert_array_equal(got, want)


def test_null_coordinate_gives_null_cell(spark):
    """greatest/least skip NULL; a NULL coordinate must still give a NULL
    grid coordinate and cell, never an edge cell's."""
    df = spark.createDataFrame(
        [(None, 0.5), (0.5, None), (None, None), (0.5, 0.5)],
        "lon double, lat double")
    for level in (0, 9, 29):
        gx, gy = (int(v) for v in cells.grid_coords(0.5, 0.5, level))
        got = df.select(cell_of_expr("lon", "lat", level).alias("c"),
                        grid_coord_expr("lon", -180.0, 360.0, level)
                        .alias("gx"),
                        grid_coord_expr("lat", -90.0, 180.0, level)
                        .alias("gy")).collect()
        assert [r.c for r in got[:3]] == [None, None, None]
        assert [(r.gx, r.gy) for r in got[:3]] == [
            (None, gy), (gx, None), (None, None)]
        assert got[3].c == int(cells.cell_of(0.5, 0.5, level))


def test_bbox_cells_expr_bit_identical(spark):
    """The JVM bbox cover must equal cells.cover_bbox cell-for-cell on
    random boxes (incl. out-of-window clamping) at several levels."""
    rng = np.random.default_rng(17)
    rows = []
    for i in range(300):
        x0 = float(rng.uniform(-200, 190))
        y0 = float(rng.uniform(-100, 85))
        x1 = x0 + float(rng.uniform(0, 15))
        y1 = y0 + float(rng.uniform(0, 15))
        rows.append((i, x0, y0, x1, y1))
    df = spark.createDataFrame(
        rows, "i long, x0 double, y0 double, x1 double, y1 double")
    for level in (5, 9, 13):
        # ~15M cells at level 13: compare as Arrow columns, not Rows
        got = explode_bbox_cells(df, ("x0", "y0", "x1", "y1"),
                                 level).select("i", "cell").toArrow()
        gi = got.column("i").to_numpy()
        gc = got.column("cell").to_numpy()
        order = np.lexsort((gc, gi))
        want = [np.sort(cells.cover_bbox(x0, y0, x1, y1, level))
                for _, x0, y0, x1, y1 in rows]
        np.testing.assert_array_equal(
            gi[order], np.repeat([r[0] for r in rows],
                                 [w.shape[0] for w in want]))
        np.testing.assert_array_equal(gc[order], np.concatenate(want))


def _boxes(rng, level, n, id0):
    """Seeded boxes at ``level``'s cell size: small, zero-width/height,
    spanning many cells, and hanging over the world window's edges (so
    the grid clamps them)."""
    w = 360.0 / (1 << level)
    out = []
    for i in range(n):
        kind = i % 5
        if kind == 3:   # over the (180, 90) corner, clamped
            x0 = 180.0 + float(rng.uniform(-3, 2)) * w
            y0 = 90.0 + float(rng.uniform(-3, 2)) * w / 2
        elif kind == 4:  # below -180 / -90, clamped
            x0 = -180.0 + float(rng.uniform(-3, 1)) * w
            y0 = -90.0 + float(rng.uniform(-3, 1)) * w / 2
        else:
            x0 = float(rng.uniform(-4, 4)) * w
            y0 = float(rng.uniform(-4, 4)) * w / 2
        span = 6.0 if kind == 2 else 1.5   # kind 2 spans many cells
        x1 = x0 + (0.0 if kind == 1 else float(rng.uniform(0, span)) * w)
        y1 = y0 + (0.0 if i % 7 == 1 else float(rng.uniform(0, span)) * w)
        out.append((id0 + i, x0, y0, x1, y1))
    return out


def test_bbox_pairs_matches_brute_force(spark):
    """Each pair whose bboxes meet comes back exactly once, and no other
    pair: touching, zero-width, clamped and many-cell boxes, plain and
    with the right side padded the way snap_to_layer pads it."""
    rng = np.random.default_rng(29)
    schema = "id long, x0 double, y0 double, x1 double, y1 double"
    for level in (5, 9, 13):
        left = _boxes(rng, level, 60, 0)
        right = _boxes(rng, level, 60, 1000)
        # right boxes that exactly touch a left box: edge and corner
        for j, (_, x0, y0, x1, y1) in enumerate(left[:10]):
            right.append((2000 + j, x1, y0, x1 + 1.0, y1))
            right.append((3000 + j, x1, y1, x1 + 0.5, y1 + 0.5))
        ldf = spark.createDataFrame(left, schema).select(
            F.col("id").alias("lid"), *(F.col(c).alias("l" + c)
                                        for c in ("x0", "y0", "x1", "y1")))
        rdf = spark.createDataFrame(right, schema).select(
            F.col("id").alias("rid"), *(F.col(c).alias("r" + c)
                                        for c in ("x0", "y0", "x1", "y1")))
        pad = 0.37 * 360.0 / (1 << level)
        for p in (0.0, pad):
            rbox = (f"(rx0 - {p!r}D)", f"(ry0 - {p!r}D)",
                    f"(rx1 + {p!r}D)", f"(ry1 + {p!r}D)")
            got = [(r.lid, r.rid) for r in bbox_pairs(
                ldf, rdf, level, left_bbox=("lx0", "ly0", "lx1", "ly1"),
                right_bbox=rbox).select("lid", "rid").collect()]
            want = {(a, b)
                    for a, ax0, ay0, ax1, ay1 in left
                    for b, bx0, by0, bx1, by1 in right
                    if ax0 <= bx1 + p and ax1 >= bx0 - p
                    and ay0 <= by1 + p and ay1 >= by0 - p}
            assert len(got) == len(set(got)), (level, p)
            assert set(got) == want, (level, p)
            assert len(want) > 50


def _floor_calls(df) -> int:
    return df._jdf.queryExecution().optimizedPlan().toString().count("FLOOR(")


def test_pair_plans_floor_each_coordinate_once(spark):
    """Every grid coordinate of the pair join is floored once in the
    plan: four per side for the covers, two for the reference point."""
    from spandex_spark.operators.overlay import (_candidate_pairs,
                                                 proportion_overlap)
    from spandex_spark.sources.grids import parcels_df, zones_df
    tgt = parcels_df(spark).select(F.col("parcel_id").alias("_tid"),
                                   F.col("geom").alias("_tgeom"))
    pairs = _candidate_pairs(tgt, zones_df(spark), "zone_id", 8, True)
    assert _floor_calls(pairs) <= 10
    po = proportion_overlap(parcels_df(spark), zones_df(spark),
                            target_id_col="parcel_id",
                            overlay_id_col="zone_id", level=8)
    assert _floor_calls(po) <= 10

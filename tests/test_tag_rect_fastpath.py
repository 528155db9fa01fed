"""tag_points refines every candidate with one JVM ray cast
(operators/tag.py::ray_cast). It must equal the numpy kernel
(geom.points_in_rings) bit for bit on every ring shape — rectangles,
holes, multipart, degenerate and overlapping polygons — on points on
edges, vertices and shared zone boundaries, through the index, broadcast
and shuffle routes alike, and with no Python on the point stream."""

import re

import numpy as np
from pyspark.sql import functions as F

from spandex_spark import cells
from spandex_spark.geom import points_in_rings
from spandex_spark.operators import tag_points
from spandex_spark.operators.tag import PolygonIndex
from spandex_spark.sources.grids import (zones_df, donut_zones_df,
                                         derived_points)

_POLY_SCHEMA = ("pid long, geom struct<kind: tinyint, xs: array<double>, "
                "ys: array<double>, ring_offsets: array<int>, "
                "bbox: struct<minx: double, miny: double, maxx: double, "
                "maxy: double>>")

_BOUNDARY_PTS = [(0, 0.0, 0.0), (1, -10.0, -10.0), (2, 1.0, 1.0),
                 (3, 0.5, 1.0), (4, 1.0, 0.5), (5, 9.999, 9.999),
                 (6, 10.0, 10.0), (7, -0.5, -0.5),
                 # donut corners, hole corners and shared donut edges
                 (8, -8.0, -8.0), (9, -7.0, -7.0), (10, -5.0, -5.0),
                 (11, -4.0, -6.0), (12, -6.0, -4.0), (13, -4.0, -4.0),
                 (14, 4.0, 4.0), (15, 7.0, 5.0), (16, 8.0, 8.0),
                 (17, -7.0, -6.0), (18, -5.0, -6.0), (19, 0.0, 3.0)]


def _tagged(pts, polys, poly_id_col, **kw):
    out = tag_points(pts, polys, poly_id_col=poly_id_col,
                     point_id_col="pt_id", **kw)
    return dict(out.select("pt_id", poly_id_col).collect())


def _oracle(pts, polys, poly_id_col):
    """pt_id -> smallest id of a polygon geom.points_in_rings puts the
    point in (None when none does)."""
    rows = pts.select("pt_id", "lon", "lat").collect()
    ids = [r["pt_id"] for r in rows]
    px = np.array([r["lon"] for r in rows], np.float64)
    py = np.array([r["lat"] for r in rows], np.float64)
    want = dict.fromkeys(ids)
    # a polygon with a NULL id never wins, whatever it overlaps
    for poly in sorted((r for r in polys.collect() if r[poly_id_col] is not None),
                       key=lambda r: r[poly_id_col]):
        g = poly["geom"]
        inside = points_in_rings(px, py, np.array(g["xs"], np.float64),
                                 np.array(g["ys"], np.float64),
                                 g["ring_offsets"])
        for i in np.flatnonzero(inside):
            if want[ids[i]] is None:
                want[ids[i]] = poly[poly_id_col]
    return want


def _assert_all_routes(pts, polys, poly_id_col, level):
    want = _oracle(pts, polys, poly_id_col)
    index = PolygonIndex(polys, poly_id_col=poly_id_col, level=level)
    try:
        for kw in (dict(index=index), dict(level=level),
                   dict(level=level, broadcast_polys=False)):
            assert _tagged(pts, polys, poly_id_col, **kw) == want, kw
    finally:
        index.cells_df.unpersist()
    return want


def _ring_poly(rings, pid):
    """(pid, geom) row for a polygon given as a list of (xs, ys) rings."""
    xs = [float(v) for r in rings for v in r[0]]
    ys = [float(v) for r in rings for v in r[1]]
    offs = list(np.cumsum([0] + [len(r[0]) for r in rings]).tolist())
    return (pid, (6, xs, ys, offs, (min(xs), min(ys), max(xs), max(ys))))


def _star(rng, cx, cy, snap):
    k = int(rng.integers(3, 9))
    ang = np.sort(rng.uniform(0.0, 2.0 * np.pi, 2 * k))
    rad = np.where(np.arange(2 * k) % 2 == 0, rng.uniform(0.8, 1.6, 2 * k),
                   rng.uniform(0.2, 0.8, 2 * k))
    xs, ys = cx + rad * np.cos(ang), cy + rad * np.sin(ang)
    if snap:  # lattice vertices: horizontal edges, rays through vertices
        xs, ys = np.round(xs * 4.0) / 4.0, np.round(ys * 4.0) / 4.0
    return xs, ys


def _executed(plan: str) -> str:
    """The plan text without the build plans of cached relations: a
    materialized cache is scanned, its build plan does not run again."""
    keep, depth = [], None
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(" :|+-"))
        if depth is not None and indent > depth:
            continue
        depth = indent if "InMemoryRelation" in line else None
        keep.append(line)
    return "\n".join(keep)


class TestRectFastPath:
    def test_rect_detection_rejects_non_rects(self, spark):
        # axis-parallel, nonzero edges that do not alternate H/V: the ring
        # is degenerate, so no point is inside it — not even inside its bbox
        polys = spark.createDataFrame(
            [_ring_poly([([0.0, 0.0, 0.0, 1.0], [0.0, 1.0, 0.0, 0.0])],
                        0),                                    # VVHH
             _ring_poly([([0.0, 0.0, 1.0, 0.0], [0.0, 1.0, 1.0, 1.0])],
                        1)],                                   # VHHV
            _POLY_SCHEMA)
        grid = [(i * 5 + j, i / 4.0, j / 4.0)
                for i in range(5) for j in range(5)]
        pts = spark.createDataFrame(grid, "pt_id long, lon double, lat double")
        for kw in (dict(level=9), dict(level=9, broadcast_polys=False)):
            got = _tagged(pts, polys, "pid", **kw)
            assert len(got) == len(grid) and set(got.values()) == {None}
        assert set(_oracle(pts, polys, "pid").values()) == {None}

    def test_boundary_points_match_kernel_exactly(self, spark):
        # points ON zone edges and corners: the half-open rule decides
        # which of two adjacent zones wins, and which side of a hole edge
        pts = spark.createDataFrame(_BOUNDARY_PTS,
                                    "pt_id long, lon double, lat double")
        got = _assert_all_routes(pts, zones_df(spark), "zone_id", 9)
        _assert_all_routes(pts, donut_zones_df(spark), "dz_id", 7)
        # closed form: point (lon, lat) tags zone floor(lon+10) + 20*floor(lat+10)
        # under the left/bottom-inclusive rule (None when out of range)
        for pid, lon, lat in _BOUNDARY_PTS:
            col = int(np.floor(lon + 10.0))
            r = int(np.floor(lat + 10.0))
            exp = (col + 20 * r) if (0 <= col < 20 and 0 <= r < 20) else None
            assert got[pid] == exp

    def test_derived_points_match_kernel(self, spark):
        pts = derived_points(
            spark.range(400).select(F.col("id").alias("pt_id")), "pt_id")
        got = _assert_all_routes(pts, zones_df(spark), "zone_id", 9)
        assert len(got) == 400 and None not in got.values()
        _assert_all_routes(pts, donut_zones_df(spark), "dz_id", 7)

    def test_fuzz_overlapping_and_holed_polygons(self, spark):
        rng = np.random.default_rng(20241017)
        rows = []
        for pid in range(24):
            cx, cy = rng.uniform(-2.0, 2.0, 2)
            rows.append(_ring_poly([_star(rng, cx, cy, pid % 2)], pid))
        for pid in range(24, 30):
            cx, cy = rng.uniform(-2.0, 2.0, 2)
            outer = _star(rng, cx, cy, pid % 2)
            hole = (cx + 0.15 * (outer[0] - cx), cy + 0.15 * (outer[1] - cy))
            part = _star(rng, cx + 3.0, cy - 3.0, pid % 2)
            rows.append(_ring_poly(
                [outer, (hole[0][::-1], hole[1][::-1]), part], pid))
        # a 1e-7 deg square hole off the centre of one level-9 cell: the
        # cell is not full, so the point in the hole goes to the ray cast
        lon0, lat0, lon1, lat1 = (float(b[0]) for b in cells.cell_bounds(
            cells.cell_of(np.array([21.0]), np.array([21.0]), 9)))
        hx, hy = (3 * lon0 + lon1) / 4.0, (3 * lat0 + lat1) / 4.0
        d = 0.5e-7
        square = (np.array([20.0, 22.0, 22.0, 20.0]),
                  np.array([20.0, 20.0, 22.0, 22.0]))
        sliver = (np.array([hx - d, hx - d, hx + d, hx + d]),
                  np.array([hy - d, hy + d, hy + d, hy - d]))
        rows.append(_ring_poly([square, sliver], 30))
        # a NULL-id polygon over the stars and past them (stars reach
        # y <= 3.6, their parts x <= 6.6 but y <= 0.6): inside it, the id'd
        # polygon under the point wins, or else the point tags NULL
        rows.append(_ring_poly([(np.array([-1.0, 5.0, 5.0, -1.0]),
                                 np.array([-1.0, -1.0, 3.0, 3.0]))], None))
        polys = spark.createDataFrame(rows, _POLY_SCHEMA)

        qx, qy = [], []
        for _, g in rows:
            xs, ys = np.array(g[1]), np.array(g[2])
            for a, b in zip(g[3][:-1], g[3][1:]):
                rx, ry = xs[a:b], ys[a:b]
                qx += [rx, (rx + np.roll(rx, -1)) / 2.0]
                qy += [ry, (ry + np.roll(ry, -1)) / 2.0]
        qx.append(rng.uniform(-4.0, 6.0, 2000))
        qy.append(rng.uniform(-6.0, 4.0, 2000))
        qx.append(np.array([hx]))
        qy.append(np.array([hy]))
        qx, qy = np.concatenate(qx), np.concatenate(qy)
        # points with a NULL lon or lat tag NULL
        no_coord = [(None, 0.5), (0.5, None), (None, None)]
        pts = spark.createDataFrame(
            [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(qx, qy))]
            + [(len(qx) + i, x, y) for i, (x, y) in enumerate(no_coord)],
            "pt_id long, lon double, lat double")
        want = _assert_all_routes(pts, polys, "pid", 9)
        hit = sum(v is not None for v in want.values())
        assert 0 < hit < len(want)
        assert [want[len(qx) + i] for i in range(3)] == [None] * 3
        inside_null = [want[i] for i in np.flatnonzero(
            (qx > -1.0) & (qx < 5.0) & (qy > -1.0) & (qy < 3.0))]
        assert None in inside_null and set(inside_null) - {None}

    def test_index_tag_plan_runs_no_python(self, spark):
        dz = donut_zones_df(spark)
        index = PolygonIndex(dz, poly_id_col="dz_id", level=7)
        pts = derived_points(
            spark.range(200).select(F.col("id").alias("pt_id")), "pt_id")
        out = tag_points(pts, None, poly_id_col="dz_id",
                         point_id_col="pt_id", index=index)
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        index.cells_df.unpersist()
        assert "InMemoryTableScan" in plan
        assert re.search(r"^(?![\s\S]*(?:ArrowEvalPython|BatchEvalPython|"
                         r"MapInPandas))", _executed(plan))
        # the winner is resolved inside each point row: the point source is
        # read once and point rows are never shuffled by their id
        bcast = tag_points(pts, dz, poly_id_col="dz_id",
                           point_id_col="pt_id", level=7)
        bcast.collect()
        for df in (out, bcast):
            final = df._jdf.queryExecution().executedPlan().toString().split(
                "== Initial Plan ==")[0]
            assert len(re.findall(r"Range \(0, 200,", final)) == 1, final
            assert not re.search(r"Exchange hashpartitioning\(pt_id#", final), final

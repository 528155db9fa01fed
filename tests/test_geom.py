"""Kernel unit tests vs brute-force / analytic oracles (SURVEY.md §5.2-1)."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from spandex_spark import geom
from spandex_spark import geom as G


def square(x0, y0, w=1.0, h=1.0):
    xs = np.array([x0, x0 + w, x0 + w, x0], dtype=np.float64)
    ys = np.array([y0, y0, y0 + h, y0 + h], dtype=np.float64)
    return xs, ys


class TestShoelace:
    def test_unit_square_ccw(self):
        xs, ys = square(0, 0)
        assert geom.shoelace_area(xs, ys) == pytest.approx(1.0)

    def test_cw_negative(self):
        xs, ys = square(0, 0)
        assert geom.shoelace_area(xs[::-1], ys[::-1]) == pytest.approx(-1.0)


class TestPIP:
    def test_interior_exterior(self):
        xs, ys = square(0, 0, 2, 2)
        px = np.array([1.0, 3.0, -1.0, 1.0])
        py = np.array([1.0, 1.0, 1.0, 3.0])
        assert geom.points_in_polygon(px, py, xs, ys).tolist() == [True, False, False, False]

    def test_boundary_rule_half_open(self):
        """Left/bottom inclusive, right/top exclusive (FIXTURES.md §3)."""
        xs, ys = square(0, 0, 1, 1)
        pts = {
            (0.0, 0.5): True,   # left edge
            (1.0, 0.5): False,  # right edge
            (0.5, 0.0): True,   # bottom edge
            (0.5, 1.0): False,  # top edge
            (0.0, 0.0): True,   # bottom-left corner
            (1.0, 0.0): False,  # bottom-right corner
            (0.0, 1.0): False,  # top-left corner
            (1.0, 1.0): False,  # top-right corner
        }
        px = np.array([p[0] for p in pts])
        py = np.array([p[1] for p in pts])
        assert geom.points_in_polygon(px, py, xs, ys).tolist() == list(pts.values())

    def test_concave_polygon(self):
        # L-shape
        xs = np.array([0.0, 2.0, 2.0, 1.0, 1.0, 0.0])
        ys = np.array([0.0, 0.0, 1.0, 1.0, 2.0, 2.0])
        px = np.array([0.5, 1.5, 1.5, 0.5])
        py = np.array([0.5, 0.5, 1.5, 1.5])
        assert geom.points_in_polygon(px, py, xs, ys).tolist() == [True, True, False, True]

    def test_grid_oracle(self):
        """PIP over the 1-degree zone grid must equal the floor() closed form."""
        rng = np.random.default_rng(42)
        px = rng.uniform(-10, 10, 500)
        py = rng.uniform(-10, 10, 500)
        for zid in [0, 37, 399, 210]:
            row, col = zid // 20, zid % 20
            xs, ys = square(-10.0 + col, -10.0 + row)
            got = geom.points_in_polygon(px, py, xs, ys)
            want = (np.floor(px).astype(int) + 10 + (np.floor(py).astype(int) + 10) * 20) == zid
            np.testing.assert_array_equal(got, want)

    @given(st.lists(st.tuples(st.floats(-5, 5), st.floats(-5, 5)), min_size=8, max_size=40))
    @settings(max_examples=60, deadline=None)
    def test_matches_winding_oracle_on_star_polygons(self, pts):
        """Random star-shaped polygon: even-odd PIP == winding-number oracle
        for strictly interior/exterior points."""
        arr = np.array(pts, dtype=np.float64)
        cx_, cy_ = arr[:, 0].mean(), arr[:, 1].mean()
        ang = np.arctan2(arr[:, 1] - cy_, arr[:, 0] - cx_)
        order = np.argsort(ang)
        xs, ys = arr[order, 0], arr[order, 1]
        if abs(geom.shoelace_area(xs, ys)) < 1e-6:
            return
        rng = np.random.default_rng(7)
        px = rng.uniform(-6, 6, 100)
        py = rng.uniform(-6, 6, 100)
        got = geom.points_in_polygon(px, py, xs, ys)
        want = _winding_inside(px, py, xs, ys)
        near = _near_boundary(px, py, xs, ys, 1e-7)
        np.testing.assert_array_equal(got[~near], want[~near])


def _winding_inside(px, py, xs, ys):
    x2, y2 = np.roll(xs, -1), np.roll(ys, -1)
    wn = np.zeros(px.shape[0])
    for i in range(xs.shape[0]):
        a1 = np.arctan2(ys[i] - py, xs[i] - px)
        a2 = np.arctan2(y2[i] - py, x2[i] - px)
        d = a2 - a1
        d = np.where(d > np.pi, d - 2 * np.pi, d)
        d = np.where(d < -np.pi, d + 2 * np.pi, d)
        wn += d
    return np.abs(wn) > np.pi


def _near_boundary(px, py, xs, ys, tol):
    x2, y2 = np.roll(xs, -1), np.roll(ys, -1)
    near = np.zeros(px.shape[0], dtype=bool)
    for i in range(xs.shape[0]):
        dx, dy = x2[i] - xs[i], y2[i] - ys[i]
        ln = dx * dx + dy * dy
        if ln == 0:
            continue
        t = np.clip(((px - xs[i]) * dx + (py - ys[i]) * dy) / ln, 0, 1)
        d2 = (xs[i] + t * dx - px) ** 2 + (ys[i] + t * dy - py) ** 2
        near |= d2 < tol
    return near


class TestIntersectionArea:
    def test_rect_rect(self):
        a = square(0, 0, 2, 2)
        b = square(1, 1, 2, 2)
        assert geom.polygon_intersection_area(*a, *b) == pytest.approx(1.0)

    def test_disjoint(self):
        a = square(0, 0)
        b = square(5, 5)
        assert geom.polygon_intersection_area(*a, *b) == 0.0

    def test_contained(self):
        a = square(0, 0, 4, 4)
        b = square(1, 1, 1, 1)
        assert geom.polygon_intersection_area(*a, *b) == pytest.approx(1.0)

    def test_parcel_zone_quarters(self):
        """FIXTURES.md §4: interior 0.5-deg parcel shifted by 0.25 straddles
        4 zones at exactly 0.25 fraction each."""
        parcel = square(0.25, 0.25, 0.5, 0.5)
        total = 0.0
        for zx in (0, 1):
            pass
        for z in [square(0, 0), square(0, 0)]:
            pass
        fracs = []
        for zx0, zy0 in [(0, 0)]:
            fracs.append(geom.polygon_intersection_area(*parcel, *square(zx0, zy0)))
        assert fracs[0] == pytest.approx(0.25)

    def test_triangle_square(self):
        tx = np.array([0.0, 2.0, 0.0])
        ty = np.array([0.0, 0.0, 2.0])
        s = square(0, 0, 1, 1)
        # triangle covers the lower-left half of the unit square plus corner:
        # intersection = unit square minus the corner triangle above x+y=2 → area
        # x+y<=2 within [0,1]^2 is the whole square except nothing (x+y<=2 always)
        assert geom.polygon_intersection_area(tx, ty, *s) == pytest.approx(1.0)
        s2 = square(0.5, 0.5, 1, 1)
        # within [0.5,1.5]^2, x+y<=2 cuts off the corner triangle of area 0.5
        assert geom.polygon_intersection_area(tx, ty, *s2) == pytest.approx(0.5)

    def test_concave_vs_square(self):
        # L-shape area 3, clip to square covering its lower half
        lx = np.array([0.0, 2.0, 2.0, 1.0, 1.0, 0.0])
        ly = np.array([0.0, 0.0, 1.0, 1.0, 2.0, 2.0])
        s = square(0, 0, 2, 1)
        assert geom.polygon_intersection_area(lx, ly, *s) == pytest.approx(2.0)

    @given(st.floats(-3, 3), st.floats(-3, 3), st.floats(0.1, 3), st.floats(0.1, 3),
           st.floats(-3, 3), st.floats(-3, 3), st.floats(0.1, 3), st.floats(0.1, 3))
    @settings(max_examples=80, deadline=None)
    def test_rect_pair_matches_arithmetic(self, x0, y0, w0, h0, x1, y1, w1, h1):
        a, b = square(x0, y0, w0, h0), square(x1, y1, w1, h1)
        want = max(0.0, min(x0 + w0, x1 + w1) - max(x0, x1)) * \
               max(0.0, min(y0 + h0, y1 + h1) - max(y0, y1))
        got = geom.polygon_intersection_area(*a, *b)
        assert got == pytest.approx(want, abs=1e-9)

    def test_montecarlo_general(self):
        """General concave-vs-concave via triangulation path vs Monte-Carlo."""
        rng = np.random.default_rng(3)
        lx = np.array([0.0, 3.0, 3.0, 1.5, 1.5, 0.0])
        ly = np.array([0.0, 0.0, 1.5, 1.5, 3.0, 3.0])
        mx = np.array([1.0, 4.0, 4.0, 2.0, 2.0, 1.0]) - 0.5
        my = np.array([1.0, 1.0, 2.5, 2.5, 4.0, 4.0]) - 0.5
        got = geom.polygon_intersection_area(lx, ly, mx, my)
        px = rng.uniform(-1, 5, 200_000)
        py = rng.uniform(-1, 5, 200_000)
        mc = (geom.points_in_polygon(px, py, lx, ly)
              & geom.points_in_polygon(px, py, mx, my)).mean() * 36.0
        assert got == pytest.approx(mc, rel=0.05)


class TestHaversine:
    def test_equator_degree(self):
        d = geom.haversine_m(np.array([0.0]), np.array([0.0]),
                             np.array([1.0]), np.array([0.0]))[0]
        assert d == pytest.approx(111_195, rel=1e-3)

    def test_zero(self):
        assert geom.haversine_m(np.array([5.0]), np.array([5.0]),
                                np.array([5.0]), np.array([5.0]))[0] == 0.0


class TestValidation:
    def test_valid_square(self):
        assert geom.polygon_is_valid(*square(0, 0))

    def test_bowtie_invalid(self):
        xs = np.array([0.0, 1.0, 0.0, 1.0])
        ys = np.array([0.0, 1.0, 1.0, 0.0])
        assert not geom.polygon_is_valid(xs, ys)

    def test_degenerate(self):
        assert not geom.polygon_is_valid(np.array([0.0, 1.0]), np.array([0.0, 1.0]))
        assert not geom.polygon_is_valid(np.array([0.0, 1.0, 2.0]), np.array([0.0, 1.0, 2.0]))


class TestReproject:
    def test_roundtrip(self):
        rng = np.random.default_rng(42)
        lon = rng.uniform(-179, 179, 100)
        lat = rng.uniform(-80, 80, 100)
        x, y = geom.lonlat_to_webmercator(lon, lat)
        lon2, lat2 = geom.webmercator_to_lonlat(x, y)
        np.testing.assert_allclose(lon, lon2, atol=1e-9)
        np.testing.assert_allclose(lat, lat2, atol=1e-9)

    def test_known_point(self):
        x, y = geom.lonlat_to_webmercator(np.array([0.0]), np.array([0.0]))
        assert x[0] == 0.0 and y[0] == pytest.approx(0.0, abs=1e-6)


class TestCentroid:
    def test_square(self):
        cx, cy = geom.centroid(*square(2, 3, 2, 2))
        assert (cx, cy) == (pytest.approx(3.0), pytest.approx(4.0))

    def test_lshape(self):
        lx = np.array([0.0, 2.0, 2.0, 1.0, 1.0, 0.0])
        ly = np.array([0.0, 0.0, 1.0, 1.0, 2.0, 2.0])
        # decompose: bottom 2x1 rect centroid (1,0.5) area 2; top-left 1x1 at (0.5,1.5) area 1
        cx, cy = geom.centroid(lx, ly)
        assert cx == pytest.approx((2 * 1.0 + 1 * 0.5) / 3)
        assert cy == pytest.approx((2 * 0.5 + 1 * 1.5) / 3)


class TestPipPairs:
    def test_mixed_batch(self):
        polys = {1: square(0, 0), 2: square(5, 5)}
        px = np.array([0.5, 5.5, 0.5, 5.5])
        py = np.array([0.5, 5.5, 5.5, 0.5])
        ids = np.array([1, 2, 1, 2])
        got = geom.pip_pairs(px, py, ids, polys)
        assert got.tolist() == [True, True, False, False]


def _donut(x0, y0, x1, y1, hx0, hy0, hx1, hy1):
    """Concatenated rings: CCW outer rect + CW hole rect."""
    xs = np.array([x0, x1, x1, x0, hx0, hx0, hx1, hx1], float)
    ys = np.array([y0, y0, y1, y1, hy0, hy1, hy1, hy0], float)
    return xs, ys, np.array([0, 4, 8])


class TestRings:
    def test_pip_donut(self):
        xs, ys, off = _donut(0, 0, 4, 4, 1, 1, 3, 3)
        px = np.array([0.5, 2.0, 3.5, 1.0, 4.5])
        py = np.array([0.5, 2.0, 3.5, 1.0, 2.0])
        got = geom.points_in_rings(px, py, xs, ys, off)
        # (2,2) is in the hole; (1,1) on hole's bottom-left corner (half-open
        # → inside hole → outside region); (4.5, 2) outside outer
        assert got.tolist() == [True, False, True, False, False]

    def test_pip_multipart(self):
        xs = np.array([0., 1, 1, 0, 0, 1, 1, 0])
        ys = np.array([0., 0, 1, 1, 2, 2, 3, 3])
        off = np.array([0, 4, 8])
        got = geom.points_in_rings(np.array([0.5, 0.5, 0.5]),
                                   np.array([0.5, 1.5, 2.5]), xs, ys, off)
        assert got.tolist() == [True, False, True]

    def test_area_donut(self):
        xs, ys, off = _donut(0, 0, 4, 4, 1, 1, 3, 3)
        assert geom.rings_area(xs, ys, off) == pytest.approx(16.0 - 4.0)

    def test_centroid_donut_symmetric(self):
        xs, ys, off = _donut(0, 0, 4, 4, 1, 1, 3, 3)
        cx, cy = geom.rings_centroid(xs, ys, off)
        assert (cx, cy) == pytest.approx((2.0, 2.0))

    def test_centroid_offcenter_hole(self):
        # outer [0,4]^2 area 16 c=(2,2); hole [0,1]^2 area 1 c=(.5,.5)
        xs, ys, off = _donut(0, 0, 4, 4, 0, 0, 1, 1)
        cx, cy = geom.rings_centroid(xs, ys, off)
        expect = (16 * 2.0 - 1 * 0.5) / 15.0
        assert (cx, cy) == pytest.approx((expect, expect))

    def test_intersection_donut_vs_rect(self):
        xs, ys, off = _donut(0, 0, 4, 4, 1, 1, 3, 3)
        # query rect covering left half [0,2]x[0,4]: outer∩ = 8, hole∩ = 2
        qx = np.array([0., 2, 2, 0])
        qy = np.array([0., 0, 4, 4])
        got = geom.rings_intersection_area(xs, ys, off, qx, qy)
        assert got == pytest.approx(6.0)

    def test_intersection_donut_vs_donut(self):
        a = _donut(0, 0, 4, 4, 1, 1, 3, 3)
        # same donut: area = 12
        got = geom.rings_intersection_area(a[0], a[1], a[2], a[0], a[1], a[2])
        assert got == pytest.approx(12.0)

    def test_valid_donut(self):
        xs, ys, off = _donut(0, 0, 4, 4, 1, 1, 3, 3)
        assert geom.rings_are_valid(xs, ys, off)

    def test_invalid_hole_crossing_outer(self):
        # "hole" sticks out of the outer ring → cross-ring edge intersection
        xs, ys, off = _donut(0, 0, 4, 4, 3, 3, 5, 5)
        assert not geom.rings_are_valid(xs, ys, off)

    def test_invalid_hole_outside(self):
        # CW ring fully outside every outer: not nested → invalid
        xs, ys, off = _donut(0, 0, 4, 4, 6, 6, 8, 8)
        assert not geom.rings_are_valid(xs, ys, off)

    @given(st.integers(0, 60), st.integers(0, 60),
           st.integers(2, 30), st.integers(2, 30),
           st.data())
    @settings(max_examples=60, deadline=None)
    def test_donut_pip_matches_rect_logic(self, x0, y0, w, h, data):
        hx0 = data.draw(st.integers(x0, x0 + w - 2))
        hy0 = data.draw(st.integers(y0, y0 + h - 2))
        hw = data.draw(st.integers(1, x0 + w - hx0 - 1))
        hh = data.draw(st.integers(1, y0 + h - hy0 - 1))
        xs, ys, off = _donut(x0, y0, x0 + w, y0 + h,
                             hx0, hy0, hx0 + hw, hy0 + hh)
        rng = np.random.default_rng(7)
        px = rng.uniform(x0 - 2, x0 + w + 2, 200)
        py = rng.uniform(y0 - 2, y0 + h + 2, 200)
        got = geom.points_in_rings(px, py, xs, ys, off)
        in_outer = (px >= x0) & (px < x0 + w) & (py >= y0) & (py < y0 + h)
        in_hole = ((px >= hx0) & (px < hx0 + hw)
                   & (py >= hy0) & (py < hy0 + hh))
        np.testing.assert_array_equal(got, in_outer & ~in_hole)

    @given(st.integers(0, 6), st.integers(0, 6),
           st.integers(1, 4), st.integers(1, 4))
    @settings(max_examples=40, deadline=None)
    def test_donut_clip_area_inclusion_exclusion(self, qx0, qy0, qw, qh):
        xs, ys, off = _donut(0, 0, 8, 8, 2, 2, 6, 6)
        qx = np.array([qx0, qx0 + qw, qx0 + qw, qx0], float)
        qy = np.array([qy0, qy0, qy0 + qh, qy0 + qh], float)
        got = geom.rings_intersection_area(xs, ys, off, qx, qy)
        def rect_ix(ax0, ay0, ax1, ay1):
            w = min(ax1, qx0 + qw) - max(ax0, qx0)
            h = min(ay1, qy0 + qh) - max(ay0, qy0)
            return max(0.0, w) * max(0.0, h)
        expect = rect_ix(0, 0, 8, 8) - rect_ix(2, 2, 6, 6)
        assert got == pytest.approx(expect, abs=1e-9)


class TestRingCover:
    def test_cell_inside_hole_excluded(self):
        from spandex_spark import cells as C
        xs, ys, off = _donut(-8, -8, 8, 8, -4, -4, 4, 4)
        # level-7 cells are 2.8125 x 1.40625 deg — small enough to sit
        # entirely inside the 8-deg hole
        cov = set(C.cover_polygon(xs, ys, 7, off).tolist())
        hole_cell = int(C.cell_of(np.array([0.1]), np.array([0.1]), 7)[0])
        assert hole_cell not in cov
        # a cell in the solid band is covered
        band_cell = int(C.cell_of(np.array([-7.0]), np.array([0.1]), 7)[0])
        assert band_cell in cov

    def test_full_classification_respects_hole(self):
        """Seeded property over holed, multipart, shared-edge, grid-aligned
        and sliver-hole polygons at levels 6-12: no edge meets the closed
        square of a full cell and its centre is inside; every vertex and
        every sampled region point (edge points included) falls in a cover
        cell; no point outside the region falls in a full cell."""
        from spandex_spark import cells as C
        rng = np.random.default_rng(6)
        for level in range(6, 13):
            cw, ch = 360.0 / (1 << level), 180.0 / (1 << level)
            for xs, ys, off in _cover_cases(rng, cw, ch):
                cells_arr, full = C.cover_polygon_classified(xs, ys, level, off)
                cover = set(cells_arr.tolist())
                lon0, lat0, lon1, lat1 = C.cell_bounds(cells_arr[full])
                assert geom.points_in_rings((lon0 + lon1) / 2, (lat0 + lat1) / 2,
                                            xs, ys, off).all()
                for ax, ay, bx, by in _edges(xs, ys, off):
                    assert not _meets_closed(ax, ay, bx, by,
                                             lon0, lat0, lon1, lat1).any()
                assert set(C.cell_of(xs, ys, level).tolist()) <= cover
                px, py = _samples(rng, xs, ys, off)
                inside = geom.points_in_rings(px, py, xs, ys, off)
                pc = C.cell_of(px, py, level)
                assert set(pc[inside].tolist()) <= cover
                assert not set(pc[~inside].tolist()) & set(
                    cells_arr[full].tolist())


def _cover_cases(rng, cw, ch):
    """(xs, ys, ring_offsets) polygons for the cover property test."""
    cases = [_donut(-8, -8, 8, 8, -4, -4, 4, 4)]
    # holed star plus a second part
    k = 7
    ang = np.sort(rng.uniform(0.0, 2.0 * np.pi, 2 * k))
    rad = np.where(np.arange(2 * k) % 2 == 0, rng.uniform(2.0, 3.0, 2 * k),
                   rng.uniform(1.0, 2.0, 2 * k))
    ox, oy = 1.3 + rad * np.cos(ang), -0.7 + rad * np.sin(ang)
    hx, hy = 1.3 + 0.3 * (ox - 1.3), -0.7 + 0.3 * (oy + 0.7)
    cases.append((np.concatenate([ox, hx[::-1], ox + 7.0]),
                  np.concatenate([oy, hy[::-1], oy - 5.0]),
                  np.array([0, 2 * k, 4 * k, 6 * k])))
    # two parts sharing an edge, and a triangle fan sharing its spokes
    cases.append((np.array([0.0, 2.0, 2.0, 0.0, 2.0, 5.0, 5.0, 2.0]),
                  np.array([0.0, 0.0, 3.0, 3.0, 0.5, 0.5, 2.5, 2.5]),
                  np.array([0, 4, 8])))
    cases.append((np.array([0.0, 3.0, 2.0, 0.0, 2.0, -1.0]),
                  np.array([0.0, 1.0, 3.0, 0.0, 3.0, 2.0]),
                  np.array([0, 3, 6])))
    # grid-aligned: every edge on a cell side, a hole of exactly one cell
    gx, gy = np.floor(3.3 / cw) * cw, np.floor(-2.1 / ch) * ch
    cases.append(_donut(gx, gy, gx + 5 * cw, gy + 4 * ch,
                        gx + 2 * cw, gy + ch, gx + 3 * cw, gy + 2 * ch))
    # a 1e-7 deg hole off the centre of one cell
    sx, sy = gx + 0.25 * cw, gy + 2.25 * ch
    cases.append(_donut(gx, gy, gx + 5 * cw, gy + 4 * ch,
                        sx, sy, sx + 1e-7, sy + 1e-7))
    return cases


def _edges(xs, ys, off):
    """(ax, ay, bx, by) of every ring edge, closing edges included."""
    for rx, ry in geom.rings_of(xs, ys, off):
        for i in range(rx.shape[0]):
            j = (i + 1) % rx.shape[0]
            yield rx[i], ry[i], rx[j], ry[j]


def _meets_closed(ax, ay, bx, by, lon0, lat0, lon1, lat1):
    """Does segment a-b meet each closed square? (Liang-Barsky clip.)"""
    t0 = np.zeros(lon0.shape[0])
    t1 = np.ones(lon0.shape[0])
    for p, q0, q1 in ((bx - ax, lon0 - ax, lon1 - ax),
                      (by - ay, lat0 - ay, lat1 - ay)):
        if p == 0:
            t0 = np.where((q0 > 0) | (q1 < 0), 2.0, t0)
        else:
            t0 = np.maximum(t0, np.minimum(q0 / p, q1 / p))
            t1 = np.minimum(t1, np.maximum(q0 / p, q1 / p))
    return t0 <= t1


def _samples(rng, xs, ys, off):
    """Uniform points over the bbox plus points on and beside every edge."""
    px = [rng.uniform(xs.min(), xs.max(), 3000)]
    py = [rng.uniform(ys.min(), ys.max(), 3000)]
    for ax, ay, bx, by in _edges(xs, ys, off):
        t = rng.uniform(0.0, 1.0, 40)
        ex, ey = ax + t * (bx - ax), ay + t * (by - ay)
        px += [ex, np.nextafter(ex, np.inf), np.nextafter(ex, -np.inf)]
        py += [ey, np.nextafter(ey, -np.inf), np.nextafter(ey, np.inf)]
    return np.concatenate(px), np.concatenate(py)


class TestUTM:
    def test_roundtrip_in_zone_submillimeter(self):
        rng = np.random.default_rng(0)
        lon = rng.uniform(0, 6, 5000)
        lat = rng.uniform(-80, 84, 5000)
        for north in (True, False):
            x, y = geom.lonlat_to_utm(lon, lat, 31, north)
            lon2, lat2 = geom.utm_to_lonlat(x, y, 31, north)
            assert geom.haversine_m(lon, lat, lon2, lat2).max() < 2e-3

    def test_central_meridian_invariants(self):
        # equator on the central meridian → exactly (500000, 0)
        x, y = geom.lonlat_to_utm(np.array([3.0]), np.array([0.0]), 31)
        assert (x[0], y[0]) == (500_000.0, 0.0)
        # scale factor along the central meridian = k0 = 0.9996
        xa, ya = geom.lonlat_to_utm(np.array([3.0, 3.0]),
                                    np.array([45.0, 45.001]), 31)
        d_utm = float(np.hypot(xa[1] - xa[0], ya[1] - ya[0]))
        a, f = 6378137.0, 1 / 298.257223563
        e2 = f * (2 - f)
        phi = np.radians(45.0005)
        m_rad = a * (1 - e2) / (1 - e2 * np.sin(phi) ** 2) ** 1.5
        d_geo = m_rad * np.radians(0.001)
        assert d_utm / d_geo == pytest.approx(0.9996, abs=1e-6)

    def test_southern_false_northing(self):
        _, y = geom.lonlat_to_utm(np.array([3.0]), np.array([-0.001]), 31,
                                  north=False)
        assert 0 < 10_000_000.0 - y[0] < 200.0


class TestSphericalArea:
    def test_rectangle_equals_closed_form(self):
        R2 = geom.EARTH_RADIUS_M ** 2
        rng = np.random.default_rng(3)
        for _ in range(50):
            x0, y0 = rng.uniform(-170, 160), rng.uniform(-80, 70)
            w, h = rng.uniform(0.01, 9, 2)
            xs = np.array([x0, x0 + w, x0 + w, x0])
            ys = np.array([y0, y0, y0 + h, y0 + h])
            closed = R2 * np.radians(w) * (np.sin(np.radians(y0 + h))
                                           - np.sin(np.radians(y0)))
            got = geom.spherical_ring_area(xs, ys)
            assert got == pytest.approx(closed, rel=1e-12)
            # CW listing flips the sign
            assert geom.spherical_ring_area(xs[::-1], ys[::-1]) == \
                pytest.approx(-closed, rel=1e-12)

    def test_holes_subtract_and_single_ring_abs(self):
        xs = np.array([-8., -4., -4., -8., -7., -7., -5., -5.])
        ys = np.array([-8., -8., -4., -4., -7., -5., -5., -7.])
        offs = np.array([0, 4, 8])
        outer = geom.spherical_rings_area(xs[:4], ys[:4])
        hole = geom.spherical_rings_area(xs[4:], ys[4:])   # abs despite CW
        assert hole > 0
        assert geom.spherical_rings_area(xs, ys, offs) == \
            pytest.approx(outer - hole, rel=1e-12)

    def test_dateline_wrap_takes_short_way(self):
        # 2-deg-wide rect straddling the antimeridian, vertices in ±180
        xs = np.array([179.0, -179.0, -179.0, 179.0])
        ys = np.array([0.0, 0.0, 1.0, 1.0])
        R2 = geom.EARTH_RADIUS_M ** 2
        closed = R2 * np.radians(2.0) * (np.sin(np.radians(1.0)) - 0.0)
        assert geom.spherical_ring_area(xs, ys) == pytest.approx(closed, rel=1e-9)

    def test_whole_band_matches_sphere_fraction(self):
        # ring around the globe between two parallels = zonal band area
        # (vertices include both ±180 endpoints so the band closes fully)
        lons = np.linspace(-180, 180, 361)
        xs = np.concatenate([lons, lons[::-1]])
        ys = np.concatenate([np.full(361, 10.0), np.full(361, 30.0)])
        R2 = geom.EARTH_RADIUS_M ** 2
        band = 2 * np.pi * R2 * (np.sin(np.radians(30.)) - np.sin(np.radians(10.)))
        assert geom.spherical_rings_area(xs, ys) == pytest.approx(band, rel=1e-9)

    def test_small_polygon_approaches_planar_coslat(self):
        # tiny diamond at 45N: spherical area ≈ planar deg² × (πR/180)²·cos45
        cx, cy, r = 12.0, 45.0, 0.001
        xs = np.array([cx - r, cx, cx + r, cx])
        ys = np.array([cy, cy - r, cy, cy + r])
        planar = abs(geom.shoelace_area(xs, ys))
        deg_m = geom.EARTH_RADIUS_M * np.pi / 180.0
        approx = planar * deg_m * deg_m * np.cos(np.radians(cy))
        got = abs(geom.spherical_ring_area(xs, ys))
        assert got == pytest.approx(approx, rel=1e-4)


class TestSimplify:
    def test_collinear_removed_exactly(self):
        # square with 3 collinear interpolants per edge
        base = [(0, 0), (4, 0), (4, 4), (0, 4)]
        xs, ys = [], []
        for i in range(4):
            ax, ay = base[i]
            bx, by = base[(i + 1) % 4]
            for t in (0.0, 0.25, 0.5, 0.75):
                xs.append(ax + (bx - ax) * t)
                ys.append(ay + (by - ay) * t)
        kx, ky = geom.simplify_ring(np.array(xs), np.array(ys), 0.0)
        assert kx.shape[0] == 4
        assert set(zip(kx, ky)) == {(0.0, 0.0), (4.0, 0.0),
                                    (4.0, 4.0), (0.0, 4.0)}

    def test_tolerance_threshold(self):
        # bump of height 0.1 on one edge: kept at tol<0.1, dropped above
        xs = np.array([0.0, 2.0, 4.0, 4.0, 0.0])
        ys = np.array([0.0, 0.1, 0.0, 4.0, 4.0])
        kx, _ = geom.simplify_ring(xs, ys, 0.05)
        assert kx.shape[0] == 5
        kx2, ky2 = geom.simplify_ring(xs, ys, 0.2)
        assert kx2.shape[0] == 4
        assert 2.0 not in kx2[np.abs(ky2 - 0.1) < 1e-9] if kx2.shape[0] else True

    def test_idempotent(self):
        rng = np.random.default_rng(2)
        ang = np.sort(rng.uniform(0, 2 * np.pi, 60))
        xs = np.cos(ang) * (1 + rng.uniform(-0.05, 0.05, 60))
        ys = np.sin(ang) * (1 + rng.uniform(-0.05, 0.05, 60))
        k1 = geom.simplify_ring(xs, ys, 0.03)
        k2 = geom.simplify_ring(k1[0], k1[1], 0.03)
        assert k1[0].shape == k2[0].shape
        assert (k1[0] == k2[0]).all() and (k1[1] == k2[1]).all()

    def test_operator_preserves_holes_and_nulls_degenerate(self, spark):
        from spandex_spark.operators.simplify import simplify
        donut = {"kind": 6,
                 "xs": [0.0, 2.0, 4.0, 4.0, 0.0, 1.0, 1.0, 3.0, 3.0],
                 "ys": [0.0, 0.0, 0.0, 4.0, 4.0, 1.0, 3.0, 3.0, 1.0],
                 "ring_offsets": [0, 5, 9],
                 "bbox": {"minx": 0.0, "miny": 0.0, "maxx": 4.0, "maxy": 4.0}}
        flat = {"kind": 3, "xs": [0.0, 1.0, 2.0], "ys": [0.0, 0.0, 0.0],
                "ring_offsets": [0, 3],
                "bbox": {"minx": 0.0, "miny": 0.0, "maxx": 2.0, "maxy": 0.0}}
        df = spark.createDataFrame(
            [(1, donut), (2, flat)],
            "gid long, geom struct<kind:tinyint, xs:array<double>,"
            " ys:array<double>, ring_offsets:array<int>,"
            " bbox:struct<minx:double,miny:double,maxx:double,maxy:double>>")
        out = {r.gid: r.geom_simplified
               for r in simplify(df, tolerance=0.0).collect()}
        g = out[1]
        assert list(g.ring_offsets) == [0, 4, 8]   # collinear (2,0) removed
        assert len(g.xs) == 8                      # hole ring untouched
        assert out[2] is None                      # degenerate ring -> NULL


class TestConvexHull:
    @given(st.lists(st.tuples(st.floats(-50, 50), st.floats(-50, 50)),
                    min_size=3, max_size=80))
    @settings(max_examples=80, deadline=None)
    def test_hull_properties(self, pts):
        arr = np.array(pts, dtype=np.float64)
        hx, hy = geom.convex_hull(arr[:, 0], arr[:, 1])
        m = hx.shape[0]
        pset = set(zip(arr[:, 0], arr[:, 1]))
        assert set(zip(hx, hy)) <= pset  # hull vertices are input points
        if m < 3:
            # degenerate output is only legal when every input point is
            # collinear with the two extremes returned
            dx, dy = hx[-1] - hx[0], hy[-1] - hy[0]
            cr = dx * (arr[:, 1] - hy[0]) - dy * (arr[:, 0] - hx[0])
            scale = 1 + np.abs(arr).max()
            assert (np.abs(cr) <= 1e-7 * scale * scale).all()
            return
        # convex, CCW. Strictness is NOT asserted here: hypothesis found
        # (0,0),(1,1),(5e-324,0) — a true triangle whose corner
        # cross-product underflows below double resolution; strict
        # collinear-dropping is covered by test_collinear_degenerate and
        # the hull_parcels lattice oracle instead.
        x2, y2 = np.roll(hx, -1), np.roll(hy, -1)
        x3, y3 = np.roll(hx, -2), np.roll(hy, -2)
        cr = (x2 - hx) * (y3 - hy) - (y2 - hy) * (x3 - hx)
        assert (cr >= 0).all()
        # every input point inside or on the hull (within FP slack)
        for px, py in pts:
            d = (x2 - hx) * (py - hy) - (y2 - hy) * (px - hx)
            assert (d >= -1e-7 * (1 + abs(px) + abs(py))).all()

    def test_collinear_degenerate(self):
        xs = np.array([0.0, 1.0, 2.0, 3.0])
        ys = np.array([0.0, 1.0, 2.0, 3.0])
        hx, hy = geom.convex_hull(xs, ys)
        assert hx.shape[0] == 2
        assert {(hx[0], hy[0]), (hx[1], hy[1])} == {(0.0, 0.0), (3.0, 3.0)}


class TestDissolveProperties:
    @given(st.lists(st.integers(0, 3), min_size=16, max_size=16))
    @settings(max_examples=60, deadline=None)
    def test_random_grid_partitions_preserve_area(self, labels):
        """Partition a 4x4 unit-square grid into up to 4 label groups;
        dissolving each group must preserve its exact area, emit only
        >=3-vertex rings, and the per-group regions must sum to 16."""
        groups = {}
        for idx, lab in enumerate(labels):
            r, c = divmod(idx, 4)
            xs = np.array([c, c + 1, c + 1, c], dtype=np.float64)
            ys = np.array([r, r, r + 1, r + 1], dtype=np.float64)
            groups.setdefault(lab, []).append((xs, ys))
        total = 0.0
        for lab, rings in groups.items():
            merged = geom.dissolve_rings(rings)
            area = sum(geom.shoelace_area(rx, ry) for rx, ry in merged)
            assert area == pytest.approx(float(len(rings)), abs=1e-9)
            for rx, ry in merged:
                assert rx.shape[0] >= 3
            total += area
        assert total == pytest.approx(16.0, abs=1e-9)


class TestUnionRings:
    """geom.union_rings — planar-arrangement boolean union (overlapping
    inputs; the ST_Union semantics dissolve_rings excludes)."""

    @staticmethod
    def _rect(x0, y0, x1, y1):
        return (np.array([x0, x1, x1, x0], float),
                np.array([y0, y0, y1, y1], float), None)

    @staticmethod
    def _area(rings):
        return sum(G.shoelace_area(rx, ry) for rx, ry in rings)

    def test_closed_form_cases(self):
        R = self._rect
        cases = [
            ([R(0, 0, 2, 1), R(1, 0, 3, 1)], 3.0, 1),      # overlap chain
            ([R(0, 0, 1, 1), R(2, 0, 3, 1)], 2.0, 2),      # disjoint
            ([R(-1, -3, 1, 3), R(-3, -1, 3, 1)], 20.0, 1),  # plus sign
            ([R(0, 0, 1, 1)] * 3, 1.0, 1),                 # stacked copies
            ([R(0, 0, 1, 1), R(1, 0, 2, 1)], 2.0, 1),      # shared-edge tile
            ([R(0, 0, 4, 4), R(1, 1, 2, 2)], 16.0, 1),     # contained
        ]
        for polys, want_area, want_rings in cases:
            rings = G.union_rings(polys)
            assert len(rings) == want_rings
            assert self._area(rings) == pytest.approx(want_area, abs=1e-9)

    def test_pinch_corner_splits_into_simple_rings(self):
        R = self._rect
        rings = G.union_rings([R(0, 0, 1, 1), R(1, 1, 2, 2)])
        assert len(rings) == 2
        assert self._area(rings) == pytest.approx(2.0, abs=1e-9)
        for rx, ry in rings:  # both simple CCW squares
            assert G.shoelace_area(rx, ry) == pytest.approx(1.0, abs=1e-9)

    def test_frame_produces_hole(self):
        R = self._rect
        rings = G.union_rings([R(0, 0, 3, 1), R(2, 0, 3, 3),
                               R(0, 2, 3, 3), R(0, 0, 1, 3)])
        assert len(rings) == 2
        signed = sorted(G.shoelace_area(rx, ry) for rx, ry in rings)
        assert signed[0] == pytest.approx(-1.0, abs=1e-9)  # CW hole
        assert signed[1] == pytest.approx(9.0, abs=1e-9)   # CCW outer
        # even-odd PIP over the union: hole center outside, ring interior in
        xs = np.concatenate([r[0] for r in rings])
        ys = np.concatenate([r[1] for r in rings])
        off = np.cumsum([0] + [r[0].shape[0] for r in rings])
        got = G.points_in_rings(np.array([1.5, 0.5]), np.array([1.5, 0.5]),
                                xs, ys, off)
        assert list(got) == [False, True]

    def test_holed_input_plugged_by_member(self):
        holed = (np.array([0., 3., 3., 0., 1., 1., 2., 2.]),
                 np.array([0., 0., 3., 3., 1., 2., 2., 1.]),
                 np.array([0, 4, 8]))
        rings = G.union_rings([holed, self._rect(1, 1, 2, 2)])
        assert len(rings) == 1
        assert self._area(rings) == pytest.approx(9.0, abs=1e-9)
        rings = G.union_rings([holed])
        assert len(rings) == 2
        assert self._area(rings) == pytest.approx(8.0, abs=1e-9)

    def test_random_rectangles_match_grid_sampling(self):
        """Property: union area of random overlapping rectangles matches a
        dense-grid even-odd estimate, and PIP over the output rings equals
        the OR of member PIPs on random probes."""
        rng = np.random.default_rng(7)
        for trial in range(5):
            polys = []
            for _ in range(6):
                x0, y0 = rng.uniform(0, 3, 2)
                w, h = rng.uniform(0.5, 2, 2)
                polys.append(self._rect(x0, y0, x0 + w, y0 + h))
            rings = G.union_rings(polys)
            px = rng.uniform(-0.5, 5.5, 40_000)
            py = rng.uniform(-0.5, 5.5, 40_000)
            want = np.zeros(px.shape[0], bool)
            for xs, ys, o in polys:
                want |= G.points_in_rings(px, py, xs, ys, o)
            uxs = np.concatenate([r[0] for r in rings])
            uys = np.concatenate([r[1] for r in rings])
            uoff = np.cumsum([0] + [r[0].shape[0] for r in rings])
            got = G.points_in_rings(px, py, uxs, uys, uoff)
            assert (want == got).mean() > 0.999  # probes near edges may flip
            mc = want.mean() * 36.0
            assert self._area(rings) == pytest.approx(mc, rel=0.02)

    def test_random_triangles_match_sampling(self):
        rng = np.random.default_rng(11)
        for trial in range(3):
            polys = []
            for _ in range(5):
                cx, cy = rng.uniform(0, 4, 2)
                ang = rng.uniform(0, 2 * np.pi, 3)
                ang.sort()
                rad = rng.uniform(0.5, 1.5, 3)
                polys.append((cx + rad * np.cos(ang), cy + rad * np.sin(ang),
                              None))
            # ensure CCW
            polys = [(xs if G.shoelace_area(xs, ys) > 0 else xs[::-1].copy(),
                      ys if G.shoelace_area(xs, ys) > 0 else ys[::-1].copy(),
                      None) for xs, ys, _ in polys]
            rings = G.union_rings(polys)
            px = rng.uniform(-2, 6, 60_000)
            py = rng.uniform(-2, 6, 60_000)
            want = np.zeros(px.shape[0], bool)
            for xs, ys, o in polys:
                want |= G.points_in_rings(px, py, xs, ys, o)
            mc = want.mean() * 64.0
            assert self._area(rings) == pytest.approx(mc, rel=0.03)


class TestLCC:
    """Lambert Conformal Conic 2SP (Snyder §15) — state-plane family."""

    P = dict(phi1=38.0 + 26.0 / 60, phi2=37.0 + 4.0 / 60, phi0=36.5,
             lam0=-120.5, fe=2_000_000.0, fn=500_000.0)  # EPSG:26943

    def test_origin_maps_to_false_origin(self):
        x, y = geom.lonlat_to_lcc(np.array([-120.5]), np.array([36.5]),
                                  **self.P)
        assert x[0] == pytest.approx(2_000_000.0, abs=1e-6)
        assert y[0] == pytest.approx(500_000.0, abs=1e-6)

    def test_round_trip_double_precision(self):
        rng = np.random.default_rng(0)
        lon = rng.uniform(-125, -114, 2000)
        lat = rng.uniform(32, 42, 2000)
        x, y = geom.lonlat_to_lcc(lon, lat, **self.P)
        lon2, lat2 = geom.lcc_to_lonlat(x, y, **self.P)
        assert np.abs(lon2 - lon).max() < 1e-12
        assert np.abs(lat2 - lat).max() < 1e-12

    def test_scale_factor_unity_on_standard_parallels(self):
        """Defining property of the 2SP secant cone: grid scale k = 1
        exactly on both standard parallels, > 1 outside, < 1 between."""
        e = np.sqrt((1 / 298.257222101) * (2 - 1 / 298.257222101))
        a = 6_378_137.0

        def k_at(lat_deg):
            # numeric scale along the parallel: ds_grid / ds_ellipsoid
            lat = np.full(2, lat_deg)
            lon = np.array([-120.5, -120.5 + 1e-6])
            x, y = geom.lonlat_to_lcc(lon, lat, **self.P)
            ds_grid = np.hypot(np.diff(x), np.diff(y))[0]
            s = np.sin(np.radians(lat_deg))
            # radius of the parallel circle on the ellipsoid
            Npr = a / np.sqrt(1 - e * e * s * s)
            ds_true = Npr * np.cos(np.radians(lat_deg)) * np.radians(1e-6)
            return ds_grid / ds_true

        assert k_at(38.0 + 26.0 / 60) == pytest.approx(1.0, abs=1e-7)
        assert k_at(37.0 + 4.0 / 60) == pytest.approx(1.0, abs=1e-7)
        assert k_at(37.75) < 1.0           # between the parallels
        assert k_at(40.0) > 1.0            # outside
        assert k_at(35.0) > 1.0

    def test_lambert93_origin(self):
        p1, p2, p0, l0, fe, fn = geom.LCC_ZONES[2154]
        x, y = geom.lonlat_to_lcc(np.array([3.0]), np.array([46.5]),
                                  phi1=p1, phi2=p2, phi0=p0, lam0=l0,
                                  fe=fe, fn=fn)
        assert x[0] == pytest.approx(700_000.0, abs=1e-6)
        assert y[0] == pytest.approx(6_600_000.0, abs=1e-6)


class TestBooleanRings:
    """geom.boolean_rings — ST_Intersection/Difference/SymDifference
    geometry via the shared arrangement kernel."""

    @staticmethod
    def _rect(x0, y0, x1, y1):
        return (np.array([x0, x1, x1, x0], float),
                np.array([y0, y0, y1, y1], float), None)

    @staticmethod
    def _area(rings):
        return sum(G.shoelace_area(rx, ry) for rx, ry in rings)

    def test_closed_form(self):
        R = self._rect
        cases = [
            ([R(0, 0, 2, 2)], [R(1, 1, 3, 3)], "intersection", 1.0, 1),
            ([R(0, 0, 3, 3)], [R(1, 1, 2, 2)], "difference", 8.0, 2),
            ([R(0, 0, 2, 1)], [R(1, 0, 3, 1)], "difference", 1.0, 1),
            ([R(0, 0, 2, 2)], [R(1, 1, 3, 3)], "symdiff", 6.0, 2),
            ([R(0, 0, 1, 1)], [R(5, 5, 6, 6)], "intersection", 0.0, 0),
            ([R(1, 1, 2, 2)], [R(0, 0, 3, 3)], "difference", 0.0, 0),
            ([R(1, 1, 2, 2)], [R(0, 0, 3, 3)], "intersection", 1.0, 1),
            ([R(0, 0, 1, 1)], [R(0, 0, 1, 1)], "intersection", 1.0, 1),
            ([R(0, 0, 1, 1)], [R(0, 0, 1, 1)], "difference", 0.0, 0),
            ([R(0, 0, 1, 2), R(1, 0, 2, 2)], [R(0.5, 0.5, 1.5, 1.5)],
             "intersection", 1.0, 1),
        ]
        for pa, pb, op, want_area, want_rings in cases:
            rings = G.boolean_rings(pa, pb, op)
            assert len(rings) == want_rings, (op, want_area)
            assert self._area(rings) == pytest.approx(want_area, abs=1e-9)

    def test_unknown_op_raises(self):
        with pytest.raises(ValueError):
            G.boolean_rings([self._rect(0, 0, 1, 1)],
                            [self._rect(0, 0, 1, 1)], "xor")

    def test_matches_intersection_area_kernel(self):
        """Cross-validate the arrangement intersection against the
        independent triangulation-based polygon_intersection_area."""
        rng = np.random.default_rng(3)
        for _ in range(10):
            x0, y0 = rng.uniform(0, 2, 2)
            w, h = rng.uniform(0.5, 2.5, 2)
            a = self._rect(x0, y0, x0 + w, y0 + h)
            ang = np.sort(rng.uniform(0, 2 * np.pi, 5))
            bx = 1.5 + rng.uniform(0.8, 1.8) * np.cos(ang)
            by = 1.5 + rng.uniform(0.8, 1.8) * np.sin(ang)
            b = (bx, by, None)
            got = self._area(G.boolean_rings([a], [b], "intersection"))
            want = G.polygon_intersection_area(a[0], a[1], bx, by)
            # arrangement vertices snap to the 1e-9 quant grid; the area
            # perturbation bound is perimeter * quant/2 ~ 4e-9 here
            assert got == pytest.approx(want, abs=1e-7)

    def test_difference_partition_identity(self):
        """area(A) = area(A∩B) + area(A\\B) on random overlapping boxes."""
        rng = np.random.default_rng(9)
        for _ in range(10):
            a = self._rect(*np.sort(rng.uniform(0, 3, 2)),
                           *np.sort(rng.uniform(0, 3, 2)) + 1)
            b = self._rect(*np.sort(rng.uniform(0, 3, 2)),
                           *np.sort(rng.uniform(0, 3, 2)) + 1)
            ia = self._area(G.boolean_rings([a], [b], "intersection"))
            da = self._area(G.boolean_rings([a], [b], "difference"))
            want = abs(G.shoelace_area(a[0], a[1]))
            assert ia + da == pytest.approx(want, abs=1e-9)


class TestAlbers:
    """Albers Equal-Area Conic 2SP (Snyder §14) — EPSG:5070 family."""

    P = dict(phi1=29.5, phi2=45.5, phi0=23.0, lam0=-96.0, fe=0.0, fn=0.0)

    def test_origin_and_round_trip(self):
        x, y = geom.lonlat_to_albers(np.array([-96.0]), np.array([23.0]),
                                     **self.P)
        assert x[0] == pytest.approx(0.0, abs=1e-6)
        assert y[0] == pytest.approx(0.0, abs=1e-6)
        rng = np.random.default_rng(1)
        lon = rng.uniform(-125, -65, 2000)
        lat = rng.uniform(24, 50, 2000)
        x, y = geom.lonlat_to_albers(lon, lat, **self.P)
        lon2, lat2 = geom.albers_to_lonlat(x, y, **self.P)
        assert np.abs(lon2 - lon).max() < 1e-12
        assert np.abs(lat2 - lat).max() < 1e-12

    def test_equal_area_jacobian_unity(self):
        """Defining property: projected area of an infinitesimal quad
        equals its ellipsoidal area (M N cos(phi) dlam dphi) everywhere,
        not just on the standard parallels."""
        a, f = 6_378_137.0, 1 / 298.257222101
        e2 = f * (2 - f)
        for la in (25.0, 33.0, 37.5, 45.5, 49.0):
            for lo in (-120.0, -96.0, -70.0):
                d = 1e-5
                qlon = np.array([lo, lo + d, lo + d, lo])
                qlat = np.array([la, la, la + d, la + d])
                qx, qy = geom.lonlat_to_albers(qlon, qlat, **self.P)
                # center before shoelace: 1 m quad at 1e7-scale coords
                # would lose ~10 digits to cancellation otherwise
                area_proj = abs(geom.shoelace_area(qx - qx[0], qy - qy[0]))
                s = np.sin(np.radians(la))
                M = a * (1 - e2) / (1 - e2 * s * s) ** 1.5
                N = a / np.sqrt(1 - e2 * s * s)
                area_true = (M * N * np.cos(np.radians(la))
                             * np.radians(d) ** 2)
                assert area_proj / area_true == pytest.approx(1.0, abs=1e-6)

    def test_california_albers_zone(self):
        p1, p2, p0, l0, fe, fn = geom.ALBERS_ZONES[3310]
        x, y = geom.lonlat_to_albers(np.array([-120.0]), np.array([0.0]),
                                     phi1=p1, phi2=p2, phi0=p0, lam0=l0,
                                     fe=fe, fn=fn)
        assert x[0] == pytest.approx(0.0, abs=1e-6)
        assert y[0] == pytest.approx(-4_000_000.0, abs=1e-6)


class TestMakeValid:
    def test_bowtie_splits_into_lobes(self):
        bx = np.array([0.0, 2.0, 2.0, 0.0])
        by = np.array([0.0, 2.0, 0.0, 2.0])
        rings = geom.make_valid_rings(bx, by)
        assert len(rings) == 2
        areas = sorted(geom.shoelace_area(rx, ry) for rx, ry in rings)
        assert areas == pytest.approx([1.0, 1.0])

    def test_valid_input_round_trips(self):
        sq = (np.array([0.0, 1.0, 1.0, 0.0]), np.array([0.0, 0.0, 1.0, 1.0]))
        rings = geom.make_valid_rings(sq[0], sq[1])
        assert len(rings) == 1
        assert geom.shoelace_area(*rings[0]) == pytest.approx(1.0)
        # CW (mis-oriented) input comes back CCW
        rings = geom.make_valid_rings(sq[0][::-1].copy(), sq[1][::-1].copy())
        assert geom.shoelace_area(*rings[0]) == pytest.approx(1.0)

    def test_zero_area_returns_empty(self):
        assert geom.make_valid_rings(np.array([0.0, 1.0, 2.0]),
                                     np.array([0.0, 0.0, 0.0])) == []

    def test_self_overlapping_ring_even_odd(self):
        """A ring that wraps a square twice has even winding everywhere —
        even-odd MakeValid yields the EMPTY region (PostGIS buffer-style
        repair differs; our documented semantics are even-odd)."""
        xs = np.array([0.0, 1.0, 1.0, 0.0] * 2)
        ys = np.array([0.0, 0.0, 1.0, 1.0] * 2)
        assert geom.make_valid_rings(xs, ys) == []

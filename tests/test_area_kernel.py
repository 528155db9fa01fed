"""The Spark SQL intersection-area kernel (functions/area_sql.py) against
the numpy reference geom.rings_intersection_area, through the two public
operators that run it: proportion_overlap and spatial_predicate_join.

Each seeded case is one (A, B) pair placed in its own 10° cell, so the
layers of all A and all B shapes pair up only within a case. Every
input passes geom.rings_are_valid (the reference assumes valid rings)."""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spandex_spark import geom as G
from spandex_spark.operators.overlay import proportion_overlap
from spandex_spark.operators.predicates import spatial_predicate_join

_GEOM = T.StructType([
    T.StructField("kind", T.ByteType()),
    T.StructField("xs", T.ArrayType(T.DoubleType())),
    T.StructField("ys", T.ArrayType(T.DoubleType())),
    T.StructField("ring_offsets", T.ArrayType(T.IntegerType())),
    T.StructField("bbox", T.StructType([
        T.StructField(f, T.DoubleType())
        for f in ("minx", "miny", "maxx", "maxy")]))])
_LAYER = T.StructType([T.StructField("id", T.LongType()),
                       T.StructField("geom", _GEOM)])


def _star(rng, cx, cy, r0, r1, n, cw=False):
    t = np.sort(rng.uniform(0, 2 * np.pi, n))
    r = np.where(np.arange(n) % 2 == 0, r1, r0) * rng.uniform(0.8, 1.0, n)
    xs, ys = cx + r * np.cos(t), cy + r * np.sin(t)
    return (xs[::-1], ys[::-1]) if cw else (xs, ys)


def _rect(x0, y0, x1, y1):
    return np.array([x0, x1, x1, x0]), np.array([y0, y0, y1, y1])


def _shape(rings):
    """(xs, ys, ring_offsets or None) of a list of (xs, ys) rings."""
    xs = np.concatenate([r[0] for r in rings])
    ys = np.concatenate([r[1] for r in rings])
    offs = np.cumsum([0] + [len(r[0]) for r in rings]) if len(rings) > 1 else None
    return xs, ys, offs


def _shift(shape, dx, dy):
    xs, ys, offs = shape
    return xs + dx, ys + dy, offs


def _cases(seed=7):
    """(kind, A, B) triples, each shape in [-2, 2]²."""
    rng = np.random.default_rng(seed)
    cases = []
    for _ in range(12):   # holed stars against stars
        outer = _star(rng, 0, 0, 0.9, 1.8, 14)
        hole = _star(rng, 0, 0, 0.3, 0.6, 8, cw=True)
        b = _star(rng, *rng.uniform(-1, 1, 2), 0.4, 1.2, 10)
        cases.append(("holed star", _shape([outer, hole]), _shape([b])))
    for _ in range(8):    # two-part multipolygons against stars
        p1 = _star(rng, -1.1, 0, 0.3, 0.8, 9)
        p2 = _star(rng, 1.1, 0.2, 0.3, 0.7, 7)
        b = _star(rng, *rng.uniform(-1, 1, 2), 0.5, 1.4, 12)
        cases.append(("multipart", _shape([p1, p2]), _shape([b])))
    for _ in range(8):    # CW one-ring polygons against CCW ones
        a = _star(rng, 0, 0, 0.6, 1.5, 11, cw=True)
        b = _star(rng, *rng.uniform(-1, 1, 2), 0.5, 1.3, 9, cw=rng.random() < 0.5)
        cases.append(("cw ring", _shape([a]), _shape([b])))
    for _ in range(8):    # shared edges: neighbours in a jittered lattice
        v = rng.uniform(-0.3, 0.3, (3, 3, 2))
        gx, gy = np.meshgrid([-1.5, 0.0, 1.5], [-1.5, 0.0, 1.5], indexing="ij")
        px, py = gx + v[..., 0], gy + v[..., 1]
        quad = lambda i, j: (np.array([px[i, j], px[i + 1, j], px[i + 1, j + 1], px[i, j + 1]]),
                             np.array([py[i, j], py[i + 1, j], py[i + 1, j + 1], py[i, j + 1]]))
        nb = [(1, 0), (0, 1), (1, 1)][int(rng.integers(3))]
        cases.append(("shared edge", _shape([quad(0, 0)]), _shape([quad(*nb)])))
    for _ in range(6):    # touching bboxes: side or corner contact
        x0, y0 = rng.uniform(-2, -1, 2)
        x1, y1 = rng.uniform(0, 1, 2)
        dy = rng.uniform(-0.5, 0.5) if rng.random() < 0.5 else y1 - y0
        cases.append(("touching", _shape([_rect(x0, y0, x1, y1)]),
                      _shape([_rect(x1, y0 + dy, x1 + 0.7, y1 + dy)])))
    for _ in range(6):    # bboxes meet, shapes do not
        s = rng.uniform(0.05, 0.3)
        a = (np.array([-1.5, 1.0, -1.5]), np.array([-1.5, -1.5, 1.0]))
        b = (np.array([1.5, 1.5, -1.0 + s]), np.array([-1.0 + s, 1.5, 1.5]))
        cases.append(("apart", _shape([a]), _shape([b])))
    for _ in range(8):    # canonical rectangles
        x0, y0 = rng.uniform(-2, 0, 2)
        x1, y1 = x0 + rng.uniform(0.3, 2), y0 + rng.uniform(0.3, 2)
        u0, v0 = rng.uniform(-2, 0, 2)
        cases.append(("rect", _shape([_rect(x0, y0, x1, y1)]),
                      _shape([_rect(u0, v0, u0 + rng.uniform(0.3, 2),
                                    v0 + rng.uniform(0.3, 2))])))
    for _ in range(4):    # containment: B in A's core, B equal to A
        a = _star(rng, 0, 0, 1.0, 1.8, 12)
        cases.append(("inside", _shape([a]), _shape([_star(rng, 0, 0, 0.2, 0.5, 7)])))
        cases.append(("equal", _shape([a]), _shape([a])))
    placed = []
    for i, (kind, a, b) in enumerate(cases):
        dx, dy = (i % 16) * 10.0 - 80.0, (i // 16) * 10.0 - 40.0
        placed.append((kind, _shift(a, dx, dy), _shift(b, dx, dy)))
    for kind, a, b in placed:
        assert G.rings_are_valid(*a) and G.rings_are_valid(*b), kind
    return placed


def _layer(spark, shapes):
    rows = []
    for i, (xs, ys, offs) in enumerate(shapes):
        o = [0, len(xs)] if offs is None else [int(v) for v in offs]
        rows.append((i, (3 if offs is None else 6, xs.tolist(), ys.tolist(), o,
                         (float(xs.min()), float(ys.min()),
                          float(xs.max()), float(ys.max())))))
    return spark.createDataFrame(rows, _LAYER)


@pytest.fixture(scope="module")
def layers(spark):
    cases = _cases()
    a = _layer(spark, [c[1] for c in cases])
    b = _layer(spark, [c[2] for c in cases])
    return cases, a, b


def _pairs(a, b, unit="deg2"):
    out = proportion_overlap(a, b, target_id_col="id", overlay_id_col="id",
                             keep_pairs=True, area_unit=unit, level=6)
    return {(r[0], r[1]): r[2] for r in out.collect()}


def _zero_tol(sa, sb):
    """The predicate module's zero: 1e-12 of the smaller area, at least
    1e-12 deg²."""
    return 1e-12 * max(min(G.rings_area(*sa), G.rings_area(*sb)), 1.0)


def test_deg2_areas_match_reference(layers):
    """Within 1e-12 of the larger operand's area. The reference itself
    is no closer on holed shapes: it subtracts hole∩B from outer∩B, and
    on the first holed star it is 3.2e-12 (relative) from the area an
    exact rational evaluation gives, where the kernel is 4e-15 from it."""
    cases, a, b = layers
    got = _pairs(a, b)
    assert all(i == j for i, j in got)       # cases never meet each other
    for i, (kind, sa, sb) in enumerate(cases):
        want = G.rings_intersection_area(*sa, *sb)
        scale = max(G.rings_area(*sa), G.rings_area(*sb))
        if want > _zero_tol(sa, sb):
            assert got.get((i, i)) == pytest.approx(want, rel=0, abs=1e-12 * scale), kind
        else:
            assert got.get((i, i), 0.0) <= _zero_tol(sa, sb), kind
    kinds = {c[0] for c in cases}
    hit = {cases[i][0] for i, _ in got}
    assert {"holed star", "multipart", "cw ring", "rect", "equal"} <= hit
    assert "apart" in kinds and "apart" not in hit
    assert "touching" not in hit


def test_rectangle_pairs_are_closed_form_to_the_bit(layers):
    cases, a, b = layers
    got = _pairs(a, b)
    n = 0
    for i, (kind, (ax, ay, _), (bx, by, _)) in enumerate(cases):
        if kind != "rect":
            continue
        w = min(ax[1], bx[1]) - max(ax[0], bx[0])
        h = min(ay[2], by[2]) - max(ay[0], by[0])
        if w > 0 and h > 0:
            assert got[(i, i)] == w * h
            n += 1
        else:
            assert (i, i) not in got
    assert n > 0


def test_sph_m2_rectangles_match_closed_form(spark, layers):
    """R²·Δλ·(sin φ1 − sin φ0) of the intersection rectangle, evaluated
    by Spark SQL so both sides use the same sin."""
    cases, a, b = layers
    got = _pairs(a, b, "sph_m2")
    rows = []
    for i, (kind, (ax, ay, _), (bx, by, _)) in enumerate(cases):
        if kind == "rect" and (i, i) in got:
            rows.append((i, float(max(ax[0], bx[0])), float(max(ay[0], by[0])),
                         float(min(ax[1], bx[1])), float(min(ay[2], by[2]))))
    assert rows
    r2 = G.EARTH_RADIUS_M * G.EARTH_RADIUS_M
    ref = spark.createDataFrame(rows, "i long, x0 double, y0 double, x1 double, y1 double")
    ref = ref.select("i", (F.lit(r2) * F.radians(F.col("x1") - F.col("x0"))
                           * (F.sin(F.radians("y1")) - F.sin(F.radians("y0")))).alias("a"))
    for r in ref.collect():
        assert got[(r.i, r.i)] == pytest.approx(r.a, rel=1e-14, abs=0)


@pytest.mark.parametrize("predicate", ["interior_intersects", "contains", "within"])
def test_predicates_match_numpy_decision(layers, predicate):
    cases, a, b = layers
    got = {(r[0], r[1]) for r in spatial_predicate_join(
        a, b, predicate=predicate, target_id_col="id", other_id_col="id",
        level=6).collect()}
    want = set()
    for i, (kind, sa, sb) in enumerate(cases):
        ix = G.rings_intersection_area(*sa, *sb)
        if predicate == "interior_intersects":
            ok = ix > _zero_tol(sa, sb)
        else:
            whole = G.rings_area(*(sb if predicate == "contains" else sa))
            ok = whole > 0 and abs(ix - whole) <= 1e-12 * max(whole, 1.0)
        if ok:
            want.add((i, i))
    assert got == want
    assert want


def test_null_geometry(spark):
    """A NULL-geometry target keeps its row with overlap_area 0.0 and a
    NULL target_area and proportion, in both units; in a predicate join a
    NULL geometry forms no pair."""
    xs, ys = _rect(0.0, 0.0, 1.0, 1.0)
    rect = (3, xs.tolist(), ys.tolist(), [0, 4], (0.0, 0.0, 1.0, 1.0))
    tgt = spark.createDataFrame([(1, rect), (2, None)], _LAYER)
    ovl = spark.createDataFrame([(7, rect), (8, None)], _LAYER)
    for unit in ("deg2", "sph_m2"):
        out = {r[0]: r for r in proportion_overlap(
            tgt, ovl, target_id_col="id", overlay_id_col="id",
            area_unit=unit).collect()}
        assert set(out) == {1, 2}
        assert out[2].overlap_area == 0.0
        assert out[2].target_area is None and out[2].proportion_overlap is None
        assert out[1].proportion_overlap == 1.0
    for predicate in ("interior_intersects", "contains", "within"):
        got = {(r[0], r[1]) for r in spatial_predicate_join(
            tgt, ovl, predicate=predicate, target_id_col="id",
            other_id_col="id").collect()}
        assert got == {(1, 7)}, predicate


def _python_ops(df) -> list:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [op for op in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas")
            if op in plan]


def test_area_plans_hold_no_python(spark):
    from spandex_spark.sources.grids import donut_zones_df, parcels_df, zones_df
    for unit in ("deg2", "sph_m2"):
        po = proportion_overlap(parcels_df(spark), zones_df(spark),
                                target_id_col="parcel_id",
                                overlay_id_col="zone_id", area_unit=unit)
        assert _python_ops(po) == [], unit
    for predicate in ("interior_intersects", "contains", "within"):
        pj = spatial_predicate_join(parcels_df(spark), donut_zones_df(spark),
                                    predicate=predicate,
                                    target_id_col="parcel_id",
                                    other_id_col="dz_id")
        assert _python_ops(pj) == [], predicate

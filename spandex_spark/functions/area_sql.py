"""Polygon areas and pairwise intersection areas as Spark SQL text.

One kernel serves the overlay (``proportion_overlap``) and the predicate
joins. It works on the ring edges whose x-range has width, closing edges
included; vertical edges bound no area, and dropping them keeps every
divisor below non-zero (ANSI mode raises on a zero divisor). Each edge
becomes (``l`` < ``r``, ``yl``, ``yr``, ``s``) with ``s`` = -1 when the
ring walks it toward +x and +1 otherwise, so that above a baseline ``Y0``
at or below the region's lowest vertex

    1_A(x, y) = sA · Σ_a s_a · 1[x in (l_a, r_a), Y0 <= y <= f_a(x)]

where ``f_a`` is the edge's line and ``sA`` is the shoelace sign of a
one-ring geometry (an unoriented simple polygon) and 1 for a multi-ring
one (CCW outers add, CW holes subtract, as geom.rings_area). So with
``Y0`` the larger of the two minimum ys

    area(A∩B) = max(0, sA·sB·Σ_a Σ_b s_a·s_b·∫ max(0, min(f_a, f_b) − Y0) dx)

over the x overlap of each edge pair. Two edges cross at most once, so
each term is closed-form: split at the crossing and integrate the
positive part of each linear piece. No clipping, no arrangement and no
Python: the sums are two nested ``aggregate`` calls. A geometry's own
signed area is the single sum with ``Y0`` its own minimum y.

On a pair of canonical rectangles only the two top edges survive the
pruning, and the sum is ``(least(x1) − greatest(x0)) * (least(y1) −
greatest(y0))``, the closed-form rectangle area, to the bit.

``sph_m2`` runs the same kernel in the Lambert cylindrical equal-area
plane, (R·λ, R·sin φ). There the shoelace is the Chamberlain–Duquette
line integral without its ``2 +`` term, which sums to zero over a ring
that does not go round a pole; a lon/lat rectangle gives R²·Δλ·(sin φ1 −
sin φ0) exactly. x is taken relative to the pair's (or the geometry's)
minimum x before the radians, so Δλ is the same difference of degrees
as the closed form's. Like the planar kernel, rings are planar in
lon/lat: one that crosses the antimeridian is not wrapped.

Everything is SQL text, one ``F.expr`` per column (see cells_sql.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from spandex_spark.geom import EARTH_RADIUS_M

_R2 = EARTH_RADIUS_M * EARTH_RADIUS_M


def _let(var: str, bindings: dict, body: str) -> str:
    """``body`` with ``var.<name>`` bound once to each binding."""
    fields = ", ".join(f"'{k}', {v}" for k, v in bindings.items())
    return f"transform(array(named_struct({fields})), {var} -> {body})[0]"


def _edges_sql(geom: str, unit: str) -> str:
    """array<struct<l, r, yl, yr, s>> of ``geom``'s edges with width; for
    ``sph_m2`` the ys are sin φ (x stays in degrees)."""
    y = (lambda v: f"sin(radians({v}))") if unit == "sph_m2" else (lambda v: v)
    offs = (f"CASE WHEN size({geom}.ring_offsets) > 2 THEN {geom}.ring_offsets "
            f"ELSE array(0, size({geom}.xs)) END")
    nxt = "CASE WHEN _i + 1 < _g.o[_r + 1] THEN _i + 1 ELSE _g.o[_r] END"
    fwd = "_q.x1 < _q.x2"
    edge = _let("_q", {"x1": "_g.x[_i]", "y1": y("_g.y[_i]"),
                       "x2": f"_g.x[{nxt}]", "y2": y(f"_g.y[{nxt}]")},
                f"named_struct('l', least(_q.x1, _q.x2), "
                f"'r', greatest(_q.x1, _q.x2), "
                f"'yl', CASE WHEN {fwd} THEN _q.y1 ELSE _q.y2 END, "
                f"'yr', CASE WHEN {fwd} THEN _q.y2 ELSE _q.y1 END, "
                f"'s', CASE WHEN {fwd} THEN -1D ELSE 1D END)")
    ring = (f"transform(filter(sequence(_g.o[_r], _g.o[_r + 1]), "
            f"_i -> _i < _g.o[_r + 1]), _i -> {edge})")
    body = (f"filter(flatten(transform(sequence(0, size(_g.o) - 2), "
            f"_r -> {ring})), _e -> _e.l < _e.r)")
    return _let("_g", {"x": f"{geom}.xs", "y": f"{geom}.ys", "o": offs}, body)


def _plane_sql(edges: str, x0: str, unit: str) -> str:
    """``edges`` in the kernel's plane: as they are for ``deg2``; for
    ``sph_m2`` x becomes radians(x − ``x0``) (edges that rounding leaves
    without width are dropped)."""
    if unit == "deg2":
        return edges
    return ("filter(transform(" + edges + ", _p -> named_struct("
            f"'l', radians(_p.l - {x0}), 'r', radians(_p.r - {x0}), "
            "'yl', _p.yl, 'yr', _p.yr, 's', _p.s)), _p -> _p.l < _p.r)")


def _pos_sql(w: str, u: str, v: str) -> str:
    """∫ over a width ``w`` of the positive part of the line from ``u``
    to ``v``."""
    return _let("_k", {"w": w, "u": u, "v": v},
                "CASE WHEN _k.u >= 0D AND _k.v >= 0D THEN _k.w * (_k.u + _k.v) / 2D "
                "WHEN _k.u <= 0D AND _k.v <= 0D THEN 0D "
                "ELSE _k.w * greatest(_k.u, _k.v) * greatest(_k.u, _k.v)"
                " / (2D * (abs(_k.u) + abs(_k.v))) END")


def _at(e: str, x: str, end: str) -> str:
    """Edge ``e``'s y at ``x``, exact at the edge's own ``end``."""
    return (f"CASE WHEN {x} = {e}.{end} THEN {e}.y{end} "
            f"ELSE {e}.yl + ({e}.yr - {e}.yl) * ({x} - {e}.l) / ({e}.r - {e}.l) END")


def _pair_term_sql(y0: str) -> str:
    """∫ max(0, min(f_a, f_b) − y0) dx over the x overlap of edges ``_a``
    and ``_b`` (which has width)."""
    cross = _let(
        "_c", {"t": "_v.d0 / (_v.d0 - _v.d1)"},
        _let("_m", {"x": "_v.lo + (_v.hi - _v.lo) * _c.t",
                    "y": "_v.a0 + (_v.a1 - _v.a0) * _c.t"},
             _pos_sql("_m.x - _v.lo", f"least(_v.a0, _v.b0) - {y0}", f"_m.y - {y0}")
             + " + "
             + _pos_sql("_v.hi - _m.x", f"_m.y - {y0}", f"least(_v.a1, _v.b1) - {y0}")))
    whole = _pos_sql("_v.hi - _v.lo", f"least(_v.a0, _v.b0) - {y0}",
                     f"least(_v.a1, _v.b1) - {y0}")
    body = (f"CASE WHEN (_v.d0 < 0D AND _v.d1 > 0D) OR (_v.d0 > 0D AND _v.d1 < 0D) "
            f"THEN {cross} ELSE {whole} END")
    vals = _let("_v", {"lo": "_w.lo", "hi": "_w.hi",
                       "a0": "_w.a0", "a1": "_w.a1", "b0": "_w.b0", "b1": "_w.b1",
                       "d0": "_w.a0 - _w.b0", "d1": "_w.a1 - _w.b1"}, body)
    return _let("_w", {"lo": "greatest(_a.l, _b.l)", "hi": "least(_a.r, _b.r)",
                       "a0": _at("_a", "greatest(_a.l, _b.l)", "l"),
                       "a1": _at("_a", "least(_a.r, _b.r)", "r"),
                       "b0": _at("_b", "greatest(_a.l, _b.l)", "l"),
                       "b1": _at("_b", "least(_a.r, _b.r)", "r")}, vals)


def geometry_area_sql(geom: str, unit: str = "deg2") -> str:
    """struct<edges, s, area> of ``geom``: its edges (``_edges_sql``), its
    sign (shoelace sign of one ring, 1 for several) and its area, the
    geom.rings_area analog (|area| of one ring, Σ signed rings otherwise;
    m² on the sphere for ``sph_m2``). NULL for a NULL geometry."""
    x0 = f"{geom}.bbox.minx"
    y0 = f"{geom}.bbox.miny"
    ybase = f"sin(radians({y0}))" if unit == "sph_m2" else y0
    total = (f"aggregate({_plane_sql('_t.e', x0, unit)}, 0D, (_acc, _p) -> _acc + "
             f"_p.s * ((_p.r - _p.l) * ((_p.yl - {ybase}) + (_p.yr - {ybase})) / 2D))")
    scale = f" * {_R2!r}" if unit == "sph_m2" else ""
    sign = (f"CASE WHEN size({geom}.ring_offsets) > 2 THEN 1D "
            f"ELSE signum(_u.sum) END")
    return _let("_t", {"e": _edges_sql(geom, unit)},
                _let("_u", {"e": "_t.e", "sum": total},
                     f"named_struct('edges', _u.e, 's', {sign}, "
                     f"'area', {sign} * _u.sum{scale})"))


def geometry_area(geom: str, unit: str = "deg2") -> Column:
    """``geometry_area_sql`` as a column: compute it once per geometry and
    pass it to ``intersection_area_sql`` for every pair the geometry is
    in."""
    if unit not in ("deg2", "sph_m2"):
        raise ValueError(f"unknown area_unit {unit!r}")
    return F.expr(geometry_area_sql(geom, unit))


def intersection_area_sql(a_geom: str, a: str, b_geom: str, b: str,
                          unit: str = "deg2") -> str:
    """area(A∩B) of geometries ``a_geom`` and ``b_geom`` whose
    ``geometry_area`` structs are ``a`` and ``b``. Edges that lie beyond
    the other geometry's x-range or at or below ``Y0`` add nothing and
    are pruned before the double sum; so are edge pairs whose x-ranges
    miss."""
    x0 = f"greatest({a_geom}.bbox.minx, {b_geom}.bbox.minx)"
    y0 = f"greatest({a_geom}.bbox.miny, {b_geom}.bbox.miny)"
    ybase = "sin(radians(_y.y0))" if unit == "sph_m2" else "_y.y0"

    def pruned(edges, other):
        kept = (f"filter({edges}, _p -> _p.l < {other}.bbox.maxx AND "
                f"_p.r > {other}.bbox.minx AND greatest(_p.yl, _p.yr) > _z.yb)")
        return _plane_sql(kept, "_z.x0", unit)

    inner = (f"aggregate({pruned(b + '.edges', a_geom)}, 0D, (_acc2, _b) -> _acc2 + "
             f"CASE WHEN greatest(_a.l, _b.l) < least(_a.r, _b.r) "
             f"THEN _a.s * _b.s * {_pair_term_sql('_z.yb')} ELSE 0D END)")
    total = (f"aggregate({pruned(a + '.edges', b_geom)}, 0D, "
             f"(_acc1, _a) -> _acc1 + {inner})")
    scale = f" * {_R2!r}" if unit == "sph_m2" else ""
    body = f"greatest(0D, {a}.s * {b}.s * {total}){scale}"
    return _let("_y", {"x0": x0, "y0": y0},
                _let("_z", {"x0": "_y.x0", "yb": ybase}, body))


"""Linestring operators: length and nearest-line join.

Reference semantics: PostGIS handles LINESTRING features (roads, transit
networks) transparently in spandex's SQL templates — ST_Length, the `<->`
KNN operator against line layers (spandex/spatialtoolz.py delegates all
geometry types to PostGIS). Here lines use the same struct-of-arrays
encoding (kind=2; ``ring_offsets`` delimits multi-part lines, parts OPEN).

Nearest-line join has two strategies (mirroring operators/knn.py):

* ``kernel`` — the line layer is collected once (broadcast-sized by
  contract: road networks per partition/region, not per point) and closed
  over a mapInPandas scan; each Arrow batch computes a vectorized
  point-to-segment distance matrix. No join, no shuffle on the point
  stream.
* ``cells`` — the BIG-both-sides path (any k): lines explode into SEGMENTS
  with their exact covering cells (cells.cover_segment, Liang-Barsky), a
  distinct-line INDICATOR histogram builds the same broadcast index as
  knn cells, points join the same per-distinct-query-cell pair table
  (Python once per distinct query cell, none on the point stream), and
  the candidate (point, segment) join computes the exact
  point-to-segment distance with PURE JVM arithmetic (fixed-width
  segment rows — no geometry arrays cross the shuffle). k=1 reduces via
  min_by with exact (dist, line_id) tie-break; k>1 via a window top-k
  over the tiny per-(point, line) reduction.
"""

from __future__ import annotations

import weakref
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from spandex_spark import geom as _geom
# Import the submodule by its full dotted path: `from spandex_spark.operators
# import trim` would resolve the *package attribute* `trim`, which
# operators/__init__.py rebinds to the trim() function on import.
from spandex_spark.operators.trim import _GEOM_TYPE as _TRIM_GEOM_TYPE


def line_length(df: DataFrame, *, geom_col: str = "geom",
                out_col: str = "length", metric: str = "planar") -> DataFrame:
    """ST_Length analog over linestring geometries."""

    @pandas_udf(T.DoubleType())
    def _len(xs: pd.Series, ys: pd.Series, offs: pd.Series) -> pd.Series:
        out = np.empty(len(xs))
        for i in range(len(xs)):
            o = offs.iloc[i]
            out[i] = _geom.linestring_length(
                np.asarray(xs.iloc[i], np.float64),
                np.asarray(ys.iloc[i], np.float64),
                np.asarray(o, np.int64) if o is not None and len(o) > 2 else None,
                metric=metric)
        return pd.Series(out)

    g = F.col(geom_col)
    return df.withColumn(out_col, _len(g["xs"], g["ys"], g["ring_offsets"]))


def nearest_line_join(points: DataFrame, lines: DataFrame, *, k: int,
                      point_id_col: str, line_id_col: str,
                      lon_col: str = "lon", lat_col: str = "lat",
                      geom_col: str = "geom", strategy: str = "kernel",
                      level: int = 7) -> DataFrame:
    """k nearest linestrings per point (planar degrees; ties broken by
    (dist, line_id)). Returns (point_id, rank, line_id, dist_deg)."""
    if strategy == "cells":
        return _nearest_line_cells(points, lines, k=k,
                                   point_id_col=point_id_col,
                                   line_id_col=line_id_col, lon_col=lon_col,
                                   lat_col=lat_col, geom_col=geom_col,
                                   level=level)
    if strategy != "kernel":
        raise ValueError(f"unknown strategy {strategy!r}")
    rows = lines.select(F.col(line_id_col).alias("_lid"),
                        F.col(geom_col).alias("_g")).collect()  # collect-ok: line layer broadcast-sized by contract (kernel strategy)
    entries = []
    for r in rows:
        o = r["_g"]["ring_offsets"]
        entries.append((int(r["_lid"]),
                        np.asarray(r["_g"]["xs"], np.float64),
                        np.asarray(r["_g"]["ys"], np.float64),
                        np.asarray(o, np.int64) if o is not None and len(o) > 2 else None))
    entries.sort(key=lambda e: e[0])
    lids = np.array([e[0] for e in entries], dtype=np.int64)
    kk = min(k, len(entries))

    schema = T.StructType([
        T.StructField("p", T.LongType()),
        T.StructField("rank", T.IntegerType()),
        T.StructField("lid", T.LongType()),
        T.StructField("dist_deg", T.DoubleType()),
    ])

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            px = pdf[lon_col].to_numpy(np.float64)
            py = pdf[lat_col].to_numpy(np.float64)
            d = np.empty((n, len(entries)))
            for j, (_, xs, ys, offs) in enumerate(entries):
                d[:, j] = _geom.points_to_linestring_dist(px, py, xs, ys, offs)
            sel = np.lexsort((np.broadcast_to(lids, d.shape), d), axis=1)[:, :kk]
            yield pd.DataFrame({
                "p": np.repeat(pdf[point_id_col].to_numpy(np.int64), kk),
                "rank": np.tile(np.arange(1, kk + 1, dtype=np.int32), n),
                "lid": lids[sel.ravel()],
                "dist_deg": np.take_along_axis(d, sel, axis=1).ravel(),
            })

    out = points.select(point_id_col, lon_col, lat_col).mapInPandas(
        scan, schema=schema)
    return out.select(F.col("p").alias(point_id_col), "rank",
                      F.col("lid").alias(line_id_col), "dist_deg")


def _segment_clip_intervals(ax, ay, bx, by, pieces):
    """Union of parameter intervals [t0, t1] of segment a->b inside the
    (convex, CCW) pieces — inclusive Cyrus-Beck per piece, intervals
    merged exactly so a segment crossing several tiling pieces (or lying
    on a shared diagonal) is counted once."""
    ivals = []
    for px_, py_ in pieces:
        t0, t1 = 0.0, 1.0
        ok = True
        n = px_.shape[0]
        for i in range(n):
            vx, vy = px_[i], py_[i]
            ex, ey = px_[(i + 1) % n] - vx, py_[(i + 1) % n] - vy
            c0 = ex * (ay - vy) - ey * (ax - vx)
            dc = ex * (by - ay) - ey * (bx - ax)
            if dc == 0.0:
                if c0 < 0.0:
                    ok = False
                    break
            elif dc > 0.0:
                t0 = max(t0, -c0 / dc)
            else:
                t1 = min(t1, -c0 / dc)
            if t0 > t1:
                ok = False
                break
        if ok and t1 > t0:
            ivals.append((t0, t1))
    if not ivals:
        return []
    ivals.sort()
    merged = [list(ivals[0])]
    for a, b in ivals[1:]:
        if a <= merged[-1][1] + 1e-12:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    return merged


def clip_lines(lines: DataFrame, boundary_xs: np.ndarray,
               boundary_ys: np.ndarray, *, geom_col: str = "geom",
               line_id_col: str = "line_id") -> DataFrame:
    """Clip linestrings to a polygon boundary (trim for lines — the
    ST_Intersection(line, polygon) analog). Convex boundaries clip
    directly; non-convex ear-clip into triangles, with per-segment
    PARAMETER-INTERVAL UNION so sub-segments shared between adjacent
    triangles (or lying on a triangulation diagonal) are never double
    counted. Boundary-inclusive (a line along the polygon edge is kept).

    Returns (line_id_col, clipped geometry [multi-part, NULL if fully
    outside], clip_len_deg). Narrow per-feature map — no shuffle."""
    bx = np.asarray(boundary_xs, np.float64)
    by = np.asarray(boundary_ys, np.float64)
    if _geom.shoelace_area(bx, by) < 0:
        bx, by = bx[::-1].copy(), by[::-1].copy()
    if _geom._is_convex_ccw(bx, by):
        pieces = [(bx, by)]
    else:
        pieces = [(bx[list(t)], by[list(t)])
                  for t in _geom.ear_clip_triangulate(bx, by)]

    out_type = T.StructType([
        T.StructField("geom", _TRIM_GEOM_TYPE),
        T.StructField("clip_len_deg", T.DoubleType()),
    ])

    @pandas_udf(out_type)
    def _clip(xs: pd.Series, ys: pd.Series, offs: pd.Series) -> pd.DataFrame:
        geoms, lens = [], []
        for x, y, o in zip(xs, ys, offs):
            sx = np.asarray(x, np.float64)
            sy = np.asarray(y, np.float64)
            oo = (np.asarray(o, np.int64)
                  if o is not None and len(o) > 2 else None)
            parts = []
            total = 0.0
            for px_, py_ in _geom.rings_of(sx, sy, oo):
                for i in range(px_.shape[0] - 1):
                    ax_, ay_ = float(px_[i]), float(py_[i])
                    bx_, by_ = float(px_[i + 1]), float(py_[i + 1])
                    seglen = float(np.hypot(bx_ - ax_, by_ - ay_))
                    for t0, t1 in _segment_clip_intervals(ax_, ay_, bx_, by_,
                                                          pieces):
                        parts.append((ax_ + t0 * (bx_ - ax_),
                                      ay_ + t0 * (by_ - ay_),
                                      ax_ + t1 * (bx_ - ax_),
                                      ay_ + t1 * (by_ - ay_)))
                        total += (t1 - t0) * seglen
            if not parts:
                geoms.append(None)
                lens.append(0.0)
            else:
                gx = [c for p in parts for c in (p[0], p[2])]
                gy = [c for p in parts for c in (p[1], p[3])]
                ro = list(range(0, 2 * len(parts) + 1, 2))
                geoms.append({"kind": 2, "xs": gx, "ys": gy,
                              "ring_offsets": ro,
                              "bbox": {"minx": min(gx), "miny": min(gy),
                                       "maxx": max(gx), "maxy": max(gy)}})
                lens.append(total)
        return pd.DataFrame({"geom": geoms, "clip_len_deg": lens})

    g = F.col(geom_col)
    out = lines.withColumn("_c", _clip(g["xs"], g["ys"], g["ring_offsets"]))
    return (out.select(line_id_col,
                       F.col("_c.geom").alias("geom_clipped"),
                       F.col("_c.clip_len_deg").alias("clip_len_deg")))


_SEG_CELL_TYPE = T.ArrayType(T.StructType([
    T.StructField("cell", T.LongType()),
    T.StructField("ax", T.DoubleType()),
    T.StructField("ay", T.DoubleType()),
    T.StructField("bx", T.DoubleType()),
    T.StructField("by", T.DoubleType()),
]))


def _segment_cells_udf(level: int):
    """Per line: every (segment, covering-cell) pair as fixed-width structs.
    Parts are OPEN (no closing segment); the cover is exact (Liang-Barsky
    closed-cell intersection), which the radius ladder's distance bound
    requires — a bbox cover would claim lines near cells they never
    touch."""
    from spandex_spark import cells as _cells

    @pandas_udf(_SEG_CELL_TYPE)
    def _segcells(xs: pd.Series, ys: pd.Series, offs: pd.Series) -> pd.Series:
        out = []
        for x, y, o in zip(xs, ys, offs):
            sx = np.asarray(x, np.float64)
            sy = np.asarray(y, np.float64)
            oo = (np.asarray(o, np.int64)
                  if o is not None and len(o) > 2 else None)
            rows = []
            for px_, py_ in _geom.rings_of(sx, sy, oo):
                for i in range(px_.shape[0] - 1):
                    cells = _cells.cover_segment(
                        float(px_[i]), float(py_[i]),
                        float(px_[i + 1]), float(py_[i + 1]), level)
                    for c in cells:
                        rows.append({"cell": int(c),
                                     "ax": float(px_[i]), "ay": float(py_[i]),
                                     "bx": float(px_[i + 1]),
                                     "by": float(py_[i + 1])})
            out.append(rows)
        return pd.Series(out)

    return _segcells


def _nearest_line_cells(points: DataFrame, lines: DataFrame, *, k: int,
                        point_id_col: str, line_id_col: str,
                        lon_col: str, lat_col: str, geom_col: str,
                        level: int) -> DataFrame:
    """Big-both-sides nearest-line join, exactly TWO Spark jobs:

    job 1  distinct-line indicator histogram per cell -> driver;
    job 2  points join the candidate pair table of their distinct query
           cells (knn._candidate_pairs over the broadcast index; planar
           radius math: a covered cell that >= k distinct lines all touch
           bounds the kth line distance by the cell's far corner, because
           the cover is exact — cells.cover_segment), equi-join the
           segment table on cell, exact JVM point-to-segment distance,
           then min_by (k=1) or window top-k (k>1).

    Exact for any k under the planar (degree) metric. The k>1 subtlety: a
    SEGMENT-count histogram cannot lower-bound distinct lines in a box
    (one line covers many cells), so the histogram counts are
    k·(distinct lines covering the cell >= k) — an INDICATOR: the radius
    ladder stops when the box holds a single cell that k distinct lines
    all touch, which bounds the kth line distance by that cell's far
    corner (every such line passes through the cell). The candidate prune
    inherits the same bound through the identical cumsum-over-cnt test.
    If NO cell anywhere holds k distinct lines (very sparse layer /
    too-fine level) the plan degrades honestly to all covered cells.
    PostGIS analog: `<->` against a line layer of any size.
    """
    from spandex_spark.operators.knn import (build_cell_index,
                                             _candidate_pairs,
                                             _CELLS_MAX_LEVEL)
    if level > _CELLS_MAX_LEVEL:
        raise ValueError(f"cells strategy supports level <= {_CELLS_MAX_LEVEL}")
    spark = points.sparkSession
    g = F.col(geom_col)
    segs = (lines.select(F.col(line_id_col).alias("_lid"),
                         F.explode(_segment_cells_udf(level)(
                             g["xs"], g["ys"], g["ring_offsets"])).alias("_s"))
            .select("_lid", F.col("_s.cell").alias("_cell"),
                    "_s.ax", "_s.ay", "_s.bx", "_s.by"))
    # The cache must survive BOTH jobs (histogram collect below AND the
    # caller's eventual action on the returned plan) — the segment explode
    # is a pandas UDF we don't want to run twice.  Unpersist is tied to
    # the returned DataFrame's lifetime (weakref.finalize) so repeated
    # invocations in a long-lived session don't accumulate cached blocks.
    segs = segs.persist()
    rows = (segs.groupBy("_cell")
            .agg(F.when(F.count_distinct("_lid") >= k, F.lit(k))
                 .otherwise(F.lit(0)).alias("_cnt")).collect())  # collect-ok: O(occupied cells) indicator histogram -> broadcast index
    bc = build_cell_index(spark, rows, level)
    q = points.select(F.col(point_id_col).alias("_pid"),
                      F.col(lon_col).alias("_plon"),
                      F.col(lat_col).alias("_plat"))
    qc = _candidate_pairs(q, "_plon", "_plat", bc, k=k,
                          metric="planar").drop("_dmax")
    cand = qc.join(segs, "_cell").drop("_cell")
    # exact point-to-segment distance, pure JVM codegen (same arithmetic
    # as geom.points_to_linestring_dist)
    dx = F.col("bx") - F.col("ax")
    dy = F.col("by") - F.col("ay")
    len2 = dx * dx + dy * dy
    tr = (F.col("_plon") - F.col("ax")) * dx + (F.col("_plat") - F.col("ay")) * dy
    t = F.when(len2 > 0, F.greatest(F.lit(0.0), F.least(F.lit(1.0), tr / len2))
               ).otherwise(F.lit(0.0))
    ex = F.col("_plon") - (F.col("ax") + t * dx)
    ey = F.col("_plat") - (F.col("ay") + t * dy)
    cand = cand.withColumn("_d", F.sqrt(ex * ex + ey * ey))
    # two-stage reduction, both HASH aggregates with map-side partials:
    # stage 1 collapses segment candidates to one row per (point, line)
    # (min over a double — hash-friendly); stage 2's (dist, line_id)
    # tie-break needs min_by over a struct ordering, which Spark plans as
    # SortAggregate — run it only on the tiny per-line reduction, never on
    # the raw segment fan-out (a single-stage min_by sorted 124 M candidate
    # rows at 1 M points on the road fixture)
    per_line = (cand.groupBy("_pid", "_lid")
                .agg(F.min("_d").alias("_dl")))
    if k == 1:
        order = F.struct("_dl", "_lid")
        best = (per_line.groupBy("_pid")
                .agg(F.min_by("_lid", order).alias("_blid"),
                     F.min("_dl").alias("_bd")))
        out = best.select(F.col("_pid").alias(point_id_col),
                          F.lit(1).alias("rank"),
                          F.col("_blid").alias(line_id_col),
                          F.col("_bd").alias("dist_deg"))
        return _unpersist_with(out, segs)
    from pyspark.sql import Window
    from spandex_spark.functions.partitioning import pre_group_repartition
    w = Window.partitionBy("_pid").orderBy(F.col("_dl").asc(),
                                           F.col("_lid").asc())
    # block-count-shaped top-k exchange: see functions/partitioning.py
    ranked = pre_group_repartition(per_line, "_pid") \
        .withColumn("rank", F.row_number().over(w))
    out = (ranked.filter(F.col("rank") <= k)
           .select(F.col("_pid").alias(point_id_col), "rank",
                   F.col("_lid").alias(line_id_col),
                   F.col("_dl").alias("dist_deg")))
    return _unpersist_with(out, segs)


def _unpersist_with(result: DataFrame, cached: DataFrame) -> DataFrame:
    """Unpersist ``cached`` when ``result`` is garbage-collected.

    The cached frame feeds ``result``'s lazy plan, so an eager unpersist
    here would force a recompute at action time; tying cleanup to the
    result's lifetime keeps the cache exactly as long as it can be used.
    """
    def _drop(c=cached):
        try:
            c.unpersist(blocking=False)
        except Exception:
            pass  # SparkSession already stopped — nothing left to free
    weakref.finalize(result, _drop)
    return result


_POINT_TYPE = T.StructType([T.StructField("x", T.DoubleType()),
                            T.StructField("y", T.DoubleType())])


def line_interpolate(df: DataFrame, *, fraction: float,
                     geom_col: str = "geom",
                     out_col: str = "point") -> DataFrame:
    """ST_LineInterpolatePoint (planar): the point at ``fraction`` (0..1)
    of the line's length from its start vertex. Single-part linestrings
    only — PostGIS raises on multilinestrings and so does the contract
    here (multi-part rows return NULL; run ST_LineMerge-style
    concatenation upstream if parts chain). Vectorized per Arrow batch;
    zero shuffles."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")

    @pandas_udf(_POINT_TYPE)
    def _interp(kind: pd.Series, xs: pd.Series, ys: pd.Series,
                offs: pd.Series) -> pd.DataFrame:
        ox = np.full(len(xs), np.nan)
        oy = np.full(len(xs), np.nan)
        for i in range(len(xs)):
            k = kind.iloc[i]
            if k is None or pd.isna(k) or int(k) != 2:
                continue
            o = offs.iloc[i]
            if o is not None and len(o) > 2:
                continue  # multi-part: NULL (documented)
            rx = np.asarray(xs.iloc[i], np.float64)
            ry = np.asarray(ys.iloc[i], np.float64)
            if rx.shape[0] < 2:
                continue
            seg = np.hypot(np.diff(rx), np.diff(ry))
            total = seg.sum()
            if total == 0:
                ox[i], oy[i] = rx[0], ry[0]
                continue
            target = fraction * total
            cum = np.concatenate([[0.0], np.cumsum(seg)])
            j = int(np.searchsorted(cum, target, side="right") - 1)
            j = min(j, seg.shape[0] - 1)
            t = (target - cum[j]) / seg[j] if seg[j] > 0 else 0.0
            ox[i] = rx[j] + t * (rx[j + 1] - rx[j])
            oy[i] = ry[j] + t * (ry[j + 1] - ry[j])
        return pd.DataFrame({"x": ox, "y": oy})

    g = F.col(geom_col)
    out = df.withColumn(out_col, _interp(g["kind"], g["xs"], g["ys"],
                                         g["ring_offsets"]))
    # the kernel's NaN crosses Arrow as null in the struct fields — mask
    # the whole struct to a real NULL for unsupported rows
    return out.withColumn(
        out_col, F.when(F.col(f"{out_col}.x").isNotNull(), F.col(out_col)))


def line_locate(df: DataFrame, *, lon_col: str = "lon",
                lat_col: str = "lat", geom_col: str = "geom",
                out_col: str = "fraction") -> DataFrame:
    """ST_LineLocatePoint (planar) — the inverse of
    :func:`line_interpolate`: the fraction in [0, 1] of the line's length
    at the point on the line CLOSEST to (lon, lat). Same contract as the
    forward op: single-part linestrings only (multi-part rows NULL),
    zero-length lines locate at 0.0. Vectorized per Arrow batch; zero
    shuffles — at 100 TB this is a map-only stage over however the rows
    arrived partitioned."""

    @pandas_udf(T.DoubleType())
    def _locate(px: pd.Series, py: pd.Series, kind: pd.Series,
                xs: pd.Series, ys: pd.Series,
                offs: pd.Series) -> pd.Series:
        out = np.full(len(xs), np.nan)
        for i in range(len(xs)):
            k = kind.iloc[i]
            if k is None or pd.isna(k) or int(k) != 2:
                continue
            o = offs.iloc[i]
            if o is not None and len(o) > 2:
                continue  # multi-part: NULL (documented)
            rx = np.asarray(xs.iloc[i], np.float64)
            ry = np.asarray(ys.iloc[i], np.float64)
            if rx.shape[0] < 2:
                continue
            dx, dy = np.diff(rx), np.diff(ry)
            seg2 = dx * dx + dy * dy
            seg = np.sqrt(seg2)
            total = seg.sum()
            if total == 0:
                out[i] = 0.0
                continue
            qx = float(px.iloc[i]) - rx[:-1]
            qy = float(py.iloc[i]) - ry[:-1]
            with np.errstate(invalid="ignore", divide="ignore"):
                t = np.clip(np.where(seg2 > 0,
                                     (qx * dx + qy * dy) / seg2, 0.0),
                            0.0, 1.0)
            d2 = (qx - t * dx) ** 2 + (qy - t * dy) ** 2
            j = int(np.argmin(d2))
            cum = np.concatenate([[0.0], np.cumsum(seg)])
            out[i] = (cum[j] + t[j] * seg[j]) / total
        return pd.Series(out)

    g = F.col(geom_col)
    return df.withColumn(out_col, _locate(
        F.col(lon_col).cast("double"), F.col(lat_col).cast("double"),
        g["kind"], g["xs"], g["ys"], g["ring_offsets"]))


def _chain_parts(parts: list, quant: float = 1e-9) -> list:
    """Merge open line parts through degree-2 nodes only (the PostGIS
    ST_LineMerge rule: junctions where 3+ endpoints meet are never
    merged through). Returns oriented (xs, ys) numpy pairs."""
    from collections import defaultdict

    def key(x, y):
        return (round(x / quant), round(y / quant))

    ends = []
    node_deg: dict = defaultdict(int)
    for xs, ys in parts:
        a, b = key(xs[0], ys[0]), key(xs[-1], ys[-1])
        ends.append((a, b))
        node_deg[a] += 1
        node_deg[b] += 1
    incident = defaultdict(list)
    for i, (a, b) in enumerate(ends):
        incident[a].append(i)
        incident[b].append(i)

    used = [False] * len(parts)
    out = []
    for seed in range(len(parts)):
        if used[seed]:
            continue
        used[seed] = True
        xs = np.asarray(parts[seed][0], np.float64)
        ys = np.asarray(parts[seed][1], np.float64)
        chain_x, chain_y = [xs], [ys]
        for direction in ("tail", "head"):
            while True:
                if direction == "tail":
                    node = key(chain_x[-1][-1], chain_y[-1][-1])
                else:
                    node = key(chain_x[0][0], chain_y[0][0])
                # a closed ring terminates on its own: the tail walk
                # consumes every part and the head walk finds none unused
                if node_deg[node] != 2:
                    break
                nxt = [i for i in incident[node] if not used[i]]
                if not nxt:
                    break
                j = nxt[0]
                used[j] = True
                jx = np.asarray(parts[j][0], np.float64)
                jy = np.asarray(parts[j][1], np.float64)
                if direction == "tail":
                    if key(jx[0], jy[0]) != node:
                        jx, jy = jx[::-1], jy[::-1]
                    chain_x.append(jx[1:])
                    chain_y.append(jy[1:])
                else:
                    if key(jx[-1], jy[-1]) != node:
                        jx, jy = jx[::-1], jy[::-1]
                    chain_x.insert(0, jx[:-1])
                    chain_y.insert(0, jy[:-1])
        out.append((np.concatenate(chain_x), np.concatenate(chain_y)))
    return out


def line_merge(df: DataFrame, *, geom_col: str = "geom",
               out_col: str | None = None,
               quant: float = 1e-9) -> DataFrame:
    """ST_LineMerge analog: re-chain the parts of each (multi)linestring
    (kind=2) through shared endpoints. PostGIS-faithful rule: parts
    merge ONLY across nodes where exactly two endpoints meet; three-way
    junctions stay split. Map-only Arrow pass, no shuffle; NULL and
    non-line geometries pass through untouched."""
    out_col = out_col or geom_col

    @pandas_udf(_TRIM_GEOM_TYPE)
    def _merge(kind: pd.Series, xs: pd.Series, ys: pd.Series,
               offs: pd.Series) -> pd.DataFrame:
        kinds, oxs, oys, ooffs, bbs = [], [], [], [], []
        for i in range(len(kind)):
            k = kind.iloc[i]
            # NULL structs surface as NaN in the numeric kind series
            if pd.isna(k) or int(k) != 2 or xs.iloc[i] is None:
                # pass through non-lines untouched
                kinds.append(None if pd.isna(k) else int(k))
                oxs.append(None if xs.iloc[i] is None
                           else [float(v) for v in xs.iloc[i]])
                oys.append(None if ys.iloc[i] is None
                           else [float(v) for v in ys.iloc[i]])
                o = offs.iloc[i]
                ooffs.append(None if o is None else [int(v) for v in o])
                if xs.iloc[i] is None:
                    bbs.append(None)
                else:
                    gx = np.asarray(xs.iloc[i], np.float64)
                    gy = np.asarray(ys.iloc[i], np.float64)
                    bbs.append({"minx": float(gx.min()),
                                "miny": float(gy.min()),
                                "maxx": float(gx.max()),
                                "maxy": float(gy.max())})
                continue
            gx = np.asarray(xs.iloc[i], np.float64)
            gy = np.asarray(ys.iloc[i], np.float64)
            o = offs.iloc[i]
            o = (np.asarray(o, np.int64) if o is not None
                 else np.array([0, gx.shape[0]], np.int64))
            parts = [(gx[o[p]:o[p + 1]], gy[o[p]:o[p + 1]])
                     for p in range(len(o) - 1)]
            merged = _chain_parts(parts, quant)
            mx = np.concatenate([m[0] for m in merged])
            my = np.concatenate([m[1] for m in merged])
            moff = [0]
            for m in merged:
                moff.append(moff[-1] + m[0].shape[0])
            kinds.append(2)
            oxs.append(mx.tolist())
            oys.append(my.tolist())
            ooffs.append(moff)
            bbs.append({"minx": float(mx.min()), "miny": float(my.min()),
                        "maxx": float(mx.max()), "maxy": float(my.max())})
        return pd.DataFrame({"kind": kinds, "xs": oxs, "ys": oys,
                             "ring_offsets": ooffs, "bbox": bbs})

    g = F.col(geom_col)
    merged = _merge(g["kind"], g["xs"], g["ys"], g["ring_offsets"])
    return df.withColumn(out_col,
                         F.when(g.isNotNull(), merged))


def line_substring(df: DataFrame, *, start: float, end: float,
                   geom_col: str = "geom",
                   out_col: str = "geom_sub") -> DataFrame:
    """ST_LineSubstring (planar): the portion of the line between length
    fractions ``start`` and ``end`` (0 <= start < end <= 1), endpoints
    interpolated exactly like `line_interpolate`. Single-part
    linestrings only (multi-part rows -> NULL, same contract as
    `line_interpolate`); a zero-length line returns itself. Requires
    start < end — PostGIS's start == end degenerates to a POINT, a
    different geometry kind; use `line_interpolate` for that.
    Vectorized per Arrow batch; zero shuffles."""
    if not (0.0 <= start < end <= 1.0):
        raise ValueError("need 0 <= start < end <= 1")

    @pandas_udf(_TRIM_GEOM_TYPE)
    def _sub(kind: pd.Series, xs: pd.Series, ys: pd.Series,
             offs: pd.Series) -> pd.DataFrame:
        kinds, oxs, oys, ooffs, bbs = [], [], [], [], []
        for i in range(len(xs)):
            k = kind.iloc[i]
            o = offs.iloc[i]
            bad = (k is None or pd.isna(k) or int(k) != 2
                   or (o is not None and len(o) > 2))
            rx = ry = None
            if not bad:
                rx = np.asarray(xs.iloc[i], np.float64)
                ry = np.asarray(ys.iloc[i], np.float64)
                bad = rx.shape[0] < 2
            if bad:
                kinds.append(None); oxs.append(None); oys.append(None)
                ooffs.append(None); bbs.append(None)
                continue
            seg = np.hypot(np.diff(rx), np.diff(ry))
            total = seg.sum()
            if total == 0.0:
                px, py = rx, ry           # zero-length: identity
            else:
                cum = np.concatenate([[0.0], np.cumsum(seg)])

                def at(target):
                    j = int(np.searchsorted(cum, target, side="right") - 1)
                    j = min(max(j, 0), seg.shape[0] - 1)
                    t = ((target - cum[j]) / seg[j]) if seg[j] > 0 else 0.0
                    return (rx[j] + t * (rx[j + 1] - rx[j]),
                            ry[j] + t * (ry[j + 1] - ry[j]))

                a, b = start * total, end * total
                keep = (cum > a) & (cum < b)
                ax, ay = at(a)
                bx, by = at(b)
                px = np.concatenate([[ax], rx[keep], [bx]])
                py = np.concatenate([[ay], ry[keep], [by]])
            kinds.append(2)
            oxs.append(px.tolist()); oys.append(py.tolist())
            ooffs.append([0, int(px.shape[0])])
            bbs.append({"minx": float(px.min()), "miny": float(py.min()),
                        "maxx": float(px.max()), "maxy": float(py.max())})
        return pd.DataFrame({"kind": pd.array(kinds, dtype="Int8"),
                             "xs": oxs, "ys": oys,
                             "ring_offsets": ooffs, "bbox": bbs})

    g = F.col(geom_col)
    out = df.withColumn(out_col, _sub(g["kind"], g["xs"], g["ys"],
                                      g["ring_offsets"]))
    return out.withColumn(
        out_col, F.when(F.col(f"{out_col}.kind").isNotNull(),
                        F.col(out_col)))

"""Distributed raster region labeling — the GRASS r.clump / ArcGIS
RegionGroup analog: label maximal connected sets of equal-valued valid
pixels across a TILED raster.

Two-level connected components (the standard distributed CCL shape):

1. LOCAL pass, map-only: classic two-pass union-find CCL inside each
   tile. Labels are packed GLOBAL pixel coordinates
   ``gy * 2^26 + gx`` minimized per local component — globally unique,
   deterministic, and TILING-INVARIANT (the same raster labeled as one
   tile or many yields byte-identical output; pytested). The 2^26
   packing bounds the raster at 67M pixels per axis (~67,000 km at 1 m)
   and keeps every label exact in the engine's float64 tile arrays.
2. SEAM pass: every tile emits its 4 one-pixel edge strips and 4
   corner pixels keyed by the SHARED edge/corner id — a
   perimeter-sized shuffle, the halo-exchange economics
   (operators/focal.py). Each edge group holds the two facing strips
   and emits label equivalences where values match (plus ±1 diagonal
   pairs under 8-connectivity; corner groups cover the 4-tile diagonal
   meeting point).
3. GLOBAL CC on the equivalences via pointer-jumping min-label
   (operators/dedup.py::duplicate_clusters) — a graph of BOUNDARY
   labels only, never raster-sized. Each local label is already the
   min pixel of its tile-local part, so the component min IS the
   region's min pixel id.
4. RELABEL: tiles join their seam-label canonical map (labels off the
   seams map to themselves) and one Arrow pass rewrites the arrays.

Output: the input tile grid with ``values`` replaced by region labels
(exact integers in float64), NULL where input was NULL/NaN.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spandex_spark.operators.dedup import duplicate_clusters
from spandex_spark.operators.focal import _OUT_SCHEMA, _tile_shape
from spandex_spark.operators.zonal import _with_res_y

_PACK = 1 << 26


def _local_ccl(v: np.ndarray, gx0: int, gy0: int, connectivity: int,
               by_value: bool):
    """Union-find CCL over one tile, RUN-LENGTH form: the classic
    two-pass CCL but over same-value row runs instead of pixels — run
    extraction is vectorized numpy, union-find touches runs only
    (runs << pixels on coherent rasters; the per-pixel Python loop it
    replaced ran at 0.63M px/s vs ~5M for the other focal ops).
    Returns float64 label array (NaN where invalid), labels = min
    packed global pixel id per component (the run's leftmost pixel,
    minimized by union-find)."""
    ny, nx = v.shape
    valid = ~np.isnan(v)
    # run breaks: validity change, value change (by_value), row starts
    runs_by_row: list = []
    for r in range(ny):
        row_v = v[r]
        row_ok = valid[r]
        if not row_ok.any():
            runs_by_row.append(np.empty((0, 2), np.int64))
            continue
        if by_value:
            brk = np.empty(nx, bool)
            brk[0] = True
            same = (row_v[1:] == row_v[:-1]) & row_ok[1:] & row_ok[:-1]
            brk[1:] = ~same
        else:
            brk = np.empty(nx, bool)
            brk[0] = True
            brk[1:] = row_ok[1:] != row_ok[:-1]
        starts = np.flatnonzero(brk)
        ends = np.append(starts[1:], nx)
        keep = row_ok[starts]
        runs_by_row.append(np.column_stack([starts[keep], ends[keep]]))

    # union-find over run indices; each run's own label = pid of its
    # leftmost pixel
    run_row: list = []
    run_se: list = []
    for r, rr in enumerate(runs_by_row):
        for s, e in rr:
            run_row.append(r)
            run_se.append((int(s), int(e)))
    n_runs = len(run_se)
    parent = list(range(n_runs))

    def find(a):
        root = a
        while parent[root] != root:
            root = parent[root]
        while parent[a] != root:
            parent[a], a = root, parent[a]
        return root

    def base(i):
        return (gy0 + run_row[i]) * _PACK + (gx0 + run_se[i][0])

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            if base(rb) < base(ra):
                ra, rb = rb, ra
            parent[rb] = ra

    # vertical adjacencies: two-pointer sweep over consecutive rows
    reach = 1 if connectivity == 8 else 0
    idx0 = 0
    row_first = []
    for r in range(ny):
        row_first.append(idx0)
        idx0 += runs_by_row[r].shape[0]
    for r in range(1, ny):
        above = runs_by_row[r - 1]
        here = runs_by_row[r]
        # interval join with the above runs expanded by `reach` on both
        # sides (diagonal touch). Expanded intervals OVERLAP each other
        # (by <= 2*reach), so a single-advance merge would skip pairs —
        # keep a window start `ia` (first above run still able to touch
        # any future here run) and scan forward per here run; total
        # cost O(runs + touching pairs).
        ia = 0
        for ih in range(here.shape[0]):
            h_s, h_e = here[ih]
            while ia < above.shape[0] and above[ia][1] + reach <= h_s:
                ia += 1
            ja = ia
            while ja < above.shape[0] and above[ja][0] - reach < h_e:
                a_s, a_e = above[ja]
                if h_s < a_e + reach:
                    if not by_value or v[r, h_s] == v[r - 1, a_s]:
                        union(row_first[r - 1] + ja, row_first[r] + ih)
                ja += 1
    lab = np.full((ny, nx), np.nan)
    for i in range(n_runs):
        root = find(i)
        s, e = run_se[i]
        lab[run_row[i], s:e] = float(base(root))
    return lab


def region_group(tiles: DataFrame, *, origin_x: float, origin_y: float,
                 connectivity: int = 4,
                 by_value: bool = True) -> DataFrame:
    """Distributed connected-region labeling (module docstring).
    ``by_value=True`` = r.clump semantics (regions of EQUAL value);
    False = regions of any valid (non-null) pixels."""
    if connectivity not in (4, 8):
        raise ValueError("connectivity must be 4 or 8")
    tiles = _with_res_y(tiles)
    res, res_y, nx, ny = _tile_shape(tiles)
    tw, th = res * nx, res_y * ny

    src = tiles.select(
        "tile_id", "x0", "y0", "values",
        F.round((F.col("x0") - F.lit(origin_x)) / F.lit(tw))
        .cast("long").alias("tx"),
        F.round((F.col("y0") - F.lit(origin_y)) / F.lit(th))
        .cast("long").alias("ty"))

    lab_schema = T.StructType([
        T.StructField("tile_id", T.LongType()),
        T.StructField("tx", T.LongType()),
        T.StructField("ty", T.LongType()),
        T.StructField("x0", T.DoubleType()),
        T.StructField("y0", T.DoubleType()),
        T.StructField("values", T.ArrayType(T.DoubleType())),
        T.StructField("labels", T.ArrayType(T.DoubleType())),
        T.StructField("own", T.ArrayType(T.DoubleType())),  # distinct labels
    ])

    def label_local(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                v = np.asarray([np.nan if x is None else x for x in r.values],
                               np.float64).reshape(ny, nx)
                lab = _local_ccl(v, int(r.tx) * nx, int(r.ty) * ny,
                                 connectivity, by_value)
                own = np.unique(lab[~np.isnan(lab)])
                rows.append((int(r.tile_id), int(r.tx), int(r.ty),
                             float(r.x0), float(r.y0),
                             v.ravel().tolist(), lab.ravel().tolist(),
                             own.tolist()))
            yield pd.DataFrame(rows, columns=[f.name for f in lab_schema])

    labeled = src.mapInPandas(label_local, schema=lab_schema)
    labeled = labeled.localCheckpoint(eager=False)

    strip_schema = T.StructType([
        T.StructField("ek", T.StringType()),    # edge kind: h | v | c
        T.StructField("ex", T.LongType()),      # edge lattice coords
        T.StructField("ey", T.LongType()),
        T.StructField("side", T.IntegerType()),
        T.StructField("vals", T.ArrayType(T.DoubleType())),
        T.StructField("labs", T.ArrayType(T.DoubleType())),
    ])

    def emit_strips(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                v = np.asarray([np.nan if x is None else x for x in r.values],
                               np.float64).reshape(ny, nx)
                lab = np.asarray([np.nan if x is None else x
                                  for x in r.labels],
                                 np.float64).reshape(ny, nx)
                tx, ty = int(r.tx), int(r.ty)
                # h edge between (tx,ty) and (tx+1,ty): key (tx, ty)
                rows.append(("h", tx, ty, 0,
                             v[:, -1].tolist(), lab[:, -1].tolist()))
                rows.append(("h", tx - 1, ty, 1,
                             v[:, 0].tolist(), lab[:, 0].tolist()))
                # v edge between (tx,ty) and (tx,ty+1): key (tx, ty)
                rows.append(("v", tx, ty, 0,
                             v[-1, :].tolist(), lab[-1, :].tolist()))
                rows.append(("v", tx, ty - 1, 1,
                             v[0, :].tolist(), lab[0, :].tolist()))
                if connectivity == 8:
                    # corner lattice point (tx+dx, ty+dy); side encodes
                    # which quadrant this pixel occupies around it
                    corners = (((1, 1), v[-1, -1], lab[-1, -1], 0),  # SW of pt
                               ((0, 1), v[-1, 0], lab[-1, 0], 1),    # SE
                               ((1, 0), v[0, -1], lab[0, -1], 2),    # NW
                               ((0, 0), v[0, 0], lab[0, 0], 3))      # NE
                    for (dx, dy), cv, cl, q in corners:
                        rows.append(("c", tx + dx, ty + dy, q,
                                     [float(cv)], [float(cl)]))
            yield pd.DataFrame(rows, columns=[f.name for f in strip_schema])

    strips = labeled.mapInPandas(emit_strips, schema=strip_schema)

    pair_schema = T.StructType([T.StructField("id_a", T.LongType()),
                                T.StructField("id_b", T.LongType())])

    def pair(key, pdf: pd.DataFrame) -> pd.DataFrame:
        by_side = {int(s): (np.asarray(g["vals"].iloc[0], np.float64),
                            np.asarray(g["labs"].iloc[0], np.float64))
                   for s, g in pdf.groupby("side")}
        out = []

        def eq(v1, l1, v2, l2):
            if math.isnan(v1) or math.isnan(v2):
                return
            if by_value and v1 != v2:
                return
            if l1 != l2:
                out.append((int(l1), int(l2)))

        k = key[0]
        if k in ("h", "v") and 0 in by_side and 1 in by_side:
            va, la = by_side[0]
            vb, lb = by_side[1]
            n = va.shape[0]
            for i in range(n):
                eq(va[i], la[i], vb[i], lb[i])
                if connectivity == 8:
                    if i > 0:
                        eq(va[i], la[i], vb[i - 1], lb[i - 1])
                    if i < n - 1:
                        eq(va[i], la[i], vb[i + 1], lb[i + 1])
        elif k == "c":
            # diagonal pairs across the 4-tile meeting point:
            # SW(0)<->NE(3) and SE(1)<->NW(2)
            for a, b in ((0, 3), (1, 2)):
                if a in by_side and b in by_side:
                    eq(by_side[a][0][0], by_side[a][1][0],
                       by_side[b][0][0], by_side[b][1][0])
        return pd.DataFrame(out, columns=["id_a", "id_b"])

    equiv = strips.groupBy("ek", "ex", "ey").applyInPandas(pair, pair_schema)
    canon = duplicate_clusters(equiv).withColumnRenamed("doc_id", "_old") \
        .withColumnRenamed("cluster_id", "_new")

    # per-tile relabel map: only seam-participating labels get entries
    remap = (labeled.select("tile_id",
                            F.explode("own").alias("_oldd"))
             .join(canon, F.col("_oldd").cast("long") == F.col("_old"))
             .filter(F.col("_oldd").cast("long") != F.col("_new"))
             .groupBy("tile_id")
             .agg(F.collect_list(F.struct("_oldd", "_new"))
                  .alias("remap_entries")))

    joined = labeled.join(remap, "tile_id", "left")

    def apply_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                lab = np.asarray([np.nan if x is None else x
                                  for x in r.labels], np.float64)
                m = getattr(r, "remap_entries", None)
                if m is not None and not (isinstance(m, float)
                                          and math.isnan(m)):
                    table = {e["_oldd"]: float(e["_new"]) for e in m}
                    # relabel via the (few) distinct labels, not per
                    # pixel — NaNs first masked to a sentinel: np.unique
                    # treats every NaN as distinct and would blow uniq
                    # up to the nodata pixel count
                    nm = np.isnan(lab)
                    filled = np.where(nm, -1.0, lab)
                    uniq, inv = np.unique(filled, return_inverse=True)
                    lab = np.asarray([table.get(u, u) for u in uniq])[inv]
                    lab[nm] = np.nan
                nan_mask = np.isnan(lab)
                if nan_mask.any():
                    out_vals = lab.astype(object)
                    out_vals[nan_mask] = None
                    out_vals = out_vals.tolist()
                else:
                    out_vals = lab.tolist()
                rows.append((int(r.tile_id), float(r.x0), float(r.y0),
                             res, res_y, nx, ny, out_vals))
            yield pd.DataFrame(rows, columns=[f.name
                                              for f in _OUT_SCHEMA.fields])

    return joined.mapInPandas(apply_map, schema=_OUT_SCHEMA)


# D8 code -> (row, col) offset of the downstream pixel, matching
# operators/focal.py::_D8 (row 0 is the SOUTH edge)
_D8_OFF = {1: (0, 1), 2: (-1, 1), 4: (-1, 0), 8: (-1, -1),
           16: (0, -1), 32: (1, -1), 64: (1, 0), 128: (1, 1)}


def watersheds(direction_tiles: DataFrame, *, origin_x: float,
               origin_y: float) -> DataFrame:
    """Watershed labeling over a D8 flow-direction raster
    (`focal.flow_direction` output; the r.watershed basin analog):
    pixels sharing a flow path to the same sink share a label =
    UNDIRECTED connected components of the one-out-edge flow forest.

    Same two-level shape as `region_group`: local union-find over
    in-tile flow edges (labels = min packed global pixel id,
    tiling-invariant); border pixels whose downstream target lies in a
    NEIGHBOUR tile send (target_pid, my_label) to that tile — a
    perimeter-sized shuffle — and the receiving tile resolves the
    target to ITS label and emits the equivalence; pointer-jumping CC
    over the boundary-label graph; one relabel join. Sinks (code 0)
    root their own basins; NULL codes (raster border / nodata) stay
    NULL, and a pixel whose downstream target is NULL terminates its
    own basin (the r.watershed flow-to-nodata outlet convention) —
    verified end-to-end: basin count == terminal-pixel count exactly,
    and the label is constant along every flow edge."""
    tiles = _with_res_y(direction_tiles)
    res, res_y, nx, ny = _tile_shape(tiles)
    tw, th = res * nx, res_y * ny

    src = tiles.select(
        "tile_id", "x0", "y0", "values",
        F.round((F.col("x0") - F.lit(origin_x)) / F.lit(tw))
        .cast("long").alias("tx"),
        F.round((F.col("y0") - F.lit(origin_y)) / F.lit(th))
        .cast("long").alias("ty"))

    lab_schema = T.StructType([
        T.StructField("tile_id", T.LongType()),
        T.StructField("tx", T.LongType()),
        T.StructField("ty", T.LongType()),
        T.StructField("x0", T.DoubleType()),
        T.StructField("y0", T.DoubleType()),
        T.StructField("labels", T.ArrayType(T.DoubleType())),
        T.StructField("own", T.ArrayType(T.DoubleType())),
        # cross-tile flow edges: target pixel id + my component label
        T.StructField("out_pids", T.ArrayType(T.LongType())),
        T.StructField("out_labs", T.ArrayType(T.DoubleType())),
    ])

    def label_local(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                code = np.asarray([np.nan if v is None else v
                                   for v in r.values],
                                  np.float64).reshape(ny, nx)
                tx, ty = int(r.tx), int(r.ty)
                gx0, gy0 = tx * nx, ty * ny
                valid = ~np.isnan(code)
                parent: dict = {}

                def find(a):
                    root = a
                    while parent[root] != root:
                        root = parent[root]
                    while parent[a] != root:
                        parent[a], a = root, parent[a]
                    return root

                def union(a, b):
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        if rb < ra:
                            ra, rb = rb, ra
                        parent[rb] = ra

                def pid(rr, cc):
                    return (gy0 + rr) * _PACK + (gx0 + cc)

                cross = []      # (target_global_pid, my_pixel_pid)
                for rr in range(ny):
                    for cc in range(nx):
                        if not valid[rr, cc]:
                            continue
                        me = pid(rr, cc)
                        parent.setdefault(me, me)
                        c = int(code[rr, cc])
                        if c == 0:
                            continue        # sink
                        dr, dc = _D8_OFF[c]
                        r2, c2 = rr + dr, cc + dc
                        if 0 <= r2 < ny and 0 <= c2 < nx:
                            if valid[r2, c2]:
                                parent.setdefault(pid(r2, c2), pid(r2, c2))
                                union(me, pid(r2, c2))
                        else:
                            cross.append((pid(r2, c2), me))
                lab = np.full((ny, nx), np.nan)
                for rr in range(ny):
                    for cc in range(nx):
                        if valid[rr, cc]:
                            lab[rr, cc] = float(find(pid(rr, cc)))
                own = np.unique(lab[~np.isnan(lab)])
                out_pids = [t for t, _ in cross]
                out_labs = [float(find(s)) for _, s in cross]
                rows.append((int(r.tile_id), tx, ty, float(r.x0),
                             float(r.y0),
                             lab.ravel().tolist(),
                             own.tolist(), out_pids, out_labs))
            yield pd.DataFrame(rows, columns=[f.name for f in lab_schema])

    labeled = src.mapInPandas(label_local, schema=lab_schema)
    labeled = labeled.localCheckpoint(eager=False)

    # route each cross edge to the tile OWNING the target pixel
    edges_out = (labeled
                 .select(F.explode(F.arrays_zip("out_pids", "out_labs"))
                         .alias("e"))
                 .select(F.col("e.out_pids").alias("tpid"),
                         F.col("e.out_labs").alias("slab"))
                 .withColumn("_gy", (F.col("tpid") / F.lit(_PACK))
                             .cast("long"))
                 .withColumn("_gx", F.col("tpid") % F.lit(_PACK))
                 .withColumn("ttx", (F.col("_gx") / F.lit(nx)).cast("long"))
                 .withColumn("tty", (F.col("_gy") / F.lit(ny)).cast("long")))

    pair_schema = T.StructType([T.StructField("id_a", T.LongType()),
                                T.StructField("id_b", T.LongType())])

    def resolve(key, pdf: pd.DataFrame) -> pd.DataFrame:
        own_rows = pdf[pdf["labels"].notna()]
        out = []
        if len(own_rows):
            me = own_rows.iloc[0]
            lab = np.asarray([np.nan if x is None else x
                              for x in me["labels"]],
                             np.float64).reshape(ny, nx)
            gx0 = int(me["tx"]) * nx
            gy0 = int(me["ty"]) * ny
            for t, s in zip(pdf["tpid"], pdf["slab"]):
                if t is None or (isinstance(t, float) and math.isnan(t)):
                    continue
                t = int(t)
                rr = t // _PACK - gy0
                cc = t % _PACK - gx0
                if 0 <= rr < ny and 0 <= cc < nx \
                        and not math.isnan(lab[rr, cc]):
                    out.append((int(s), int(lab[rr, cc])))
        return pd.DataFrame(out, columns=["id_a", "id_b"])

    carriers = labeled.select(
        F.col("tx").alias("ttx"), F.col("ty").alias("tty"),
        "tx", "ty", "labels",
        F.lit(None).cast("long").alias("tpid"),
        F.lit(None).cast("double").alias("slab"))
    msgs = edges_out.select(
        "ttx", "tty", F.lit(None).cast("long").alias("tx"),
        F.lit(None).cast("long").alias("ty"),
        F.lit(None).cast(T.ArrayType(T.DoubleType())).alias("labels"),
        "tpid", "slab")
    equiv = (carriers.unionByName(msgs)
             .groupBy("ttx", "tty").applyInPandas(resolve, pair_schema))
    canon = duplicate_clusters(equiv).withColumnRenamed("doc_id", "_old") \
        .withColumnRenamed("cluster_id", "_new")

    remap = (labeled.select("tile_id", F.explode("own").alias("_oldd"))
             .join(canon, F.col("_oldd").cast("long") == F.col("_old"))
             .filter(F.col("_oldd").cast("long") != F.col("_new"))
             .groupBy("tile_id")
             .agg(F.collect_list(F.struct("_oldd", "_new"))
                  .alias("remap_entries")))
    joined = labeled.join(remap, "tile_id", "left")

    def apply_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                lab = np.asarray([np.nan if x is None else x
                                  for x in r.labels], np.float64)
                mp = getattr(r, "remap_entries", None)
                if mp is not None and not (isinstance(mp, float)
                                           and math.isnan(mp)):
                    table = {e["_oldd"]: float(e["_new"]) for e in mp}
                    # relabel via the (few) distinct labels, not per
                    # pixel — NaNs first masked to a sentinel: np.unique
                    # treats every NaN as distinct and would blow uniq
                    # up to the nodata pixel count
                    nm = np.isnan(lab)
                    filled = np.where(nm, -1.0, lab)
                    uniq, inv = np.unique(filled, return_inverse=True)
                    lab = np.asarray([table.get(u, u) for u in uniq])[inv]
                    lab[nm] = np.nan
                nan_mask = np.isnan(lab)
                if nan_mask.any():
                    out_vals = lab.astype(object)
                    out_vals[nan_mask] = None
                    out_vals = out_vals.tolist()
                else:
                    out_vals = lab.tolist()
                rows.append((int(r.tile_id), float(r.x0), float(r.y0),
                             res, res_y, nx, ny, out_vals))
            yield pd.DataFrame(rows, columns=[f.name
                                              for f in _OUT_SCHEMA.fields])

    return joined.mapInPandas(apply_map, schema=_OUT_SCHEMA)


def flow_accumulation(direction_tiles: DataFrame, *, origin_x: float,
                      origin_y: float, max_rounds: int = 200,
                      incremental: bool = False) -> DataFrame:
    """Flow accumulation over a D8 flow-direction raster
    (`focal.flow_direction` output) — the r.watershed accumulation /
    ArcGIS FlowAccumulation companion to `watersheds`.  Each pixel's
    value counts the cells draining through it INCLUDING itself
    (GRASS's |accumulation| convention; subtract 1 for the ArcGIS one).

    Distributed shape — tile-local topological sums with a
    perimeter-sized inflow exchange (the cost_distance wavefront
    economics): every round runs Kahn's algorithm on each tile's
    one-out-edge flow graph seeded by the inflow contributions received
    so far, border pixels flowing into a NEIGHBOUR tile emit
    (target pixel, accumulated count), and the loop repeats until the
    emitted total stops growing — rounds ≈ the number of TILE
    boundaries the longest flow path crosses, never pixel-path length.
    Contributions are monotone nondecreasing integers, so an unchanged
    round total is an exact fixpoint, probed with a 1-row aggregate.

    NULL (nodata) pixels stay NULL and swallow inflow (the watersheds
    flow-to-nodata convention); pixels on a flow CYCLE (invalid D8
    input) never topo-resolve and come out NULL.

    ``incremental=True`` recomputes ONLY tiles whose inflow rows
    changed since the last round (exceptAll change detection; a tile's
    output is a pure function of its codes + inflow, and contributions
    are exact integers, so skipping is result-identical — pytested).
    Measured trade on the sandbox (BENCH/BASELINE.md): the three extra
    perimeter-sized shuffles per round COST more than they save at 64
    tiles (120 s vs 100 s on the all-east worst case), so the default
    is False; flip it when the tile count is large and the changed set
    shrinks fast (dendritic drainage over 10^4+ tiles, where kernel
    work dominates round orchestration).
    """
    tiles = _with_res_y(direction_tiles)
    res, res_y, nx, ny = _tile_shape(tiles)
    tw, th = res * nx, res_y * ny

    src = (tiles.select(
        "tile_id", "x0", "y0", "values",
        F.round((F.col("x0") - F.lit(origin_x)) / F.lit(tw))
        .cast("long").alias("tx"),
        F.round((F.col("y0") - F.lit(origin_y)) / F.lit(th))
        .cast("long").alias("ty"))
        .localCheckpoint(eager=True))

    acc_schema = T.StructType([
        T.StructField("tile_id", T.LongType()),
        T.StructField("tx", T.LongType()),
        T.StructField("ty", T.LongType()),
        T.StructField("x0", T.DoubleType()),
        T.StructField("y0", T.DoubleType()),
        T.StructField("acc", T.ArrayType(T.DoubleType())),
        T.StructField("out_tx", T.ArrayType(T.LongType())),
        T.StructField("out_ty", T.ArrayType(T.LongType())),
        T.StructField("out_pid", T.ArrayType(T.LongType())),
        T.StructField("out_contrib", T.ArrayType(T.DoubleType())),
    ])

    # D8 code -> (dr, dc) lookup arrays (code 0 = sink maps to (0, 0))
    _dr_lut = np.zeros(129, np.int64)
    _dc_lut = np.zeros(129, np.int64)
    for _c, (_dr, _dc) in _D8_OFF.items():
        _dr_lut[_c], _dc_lut[_c] = _dr, _dc

    def run_tiles(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # fully numpy-vectorized per tile: Kahn's algorithm runs by
        # FRONTIER LEVELS (np.add.at staged sums, bincount indegrees),
        # so Python cost is O(longest in-tile chain), not O(pixels) —
        # the region_group run-length lesson applied to topo sums
        n_cells = ny * nx
        rr_all, cc_all = np.divmod(np.arange(n_cells), nx)
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                code = np.asarray([np.nan if v is None else v
                                   for v in r.values], np.float64)
                tx, ty = int(r.tx), int(r.ty)
                gx0, gy0 = tx * nx, ty * ny
                valid = ~np.isnan(code)
                ci = np.where(valid, code, 0.0).astype(np.int64)
                ci = np.clip(ci, 0, 128)
                dr = _dr_lut[ci]
                dc = _dc_lut[ci]
                flows = valid & (ci != 0)
                r2 = rr_all + dr
                c2 = cc_all + dc
                in_tile = (flows & (r2 >= 0) & (r2 < ny)
                           & (c2 >= 0) & (c2 < nx))
                t_idx = np.where(in_tile, r2 * nx + c2, 0)
                has_tgt = in_tile & valid[t_idx]
                indeg = np.bincount(t_idx[has_tgt], minlength=n_cells)
                base = np.ones(n_cells)
                inf = getattr(r, "inf", None)
                if inf is not None and not (isinstance(inf, float)
                                            and math.isnan(inf)):
                    pids = np.array([int(e["pid"]) for e in inf], np.int64)
                    ctrs = np.array([float(e["contrib"]) for e in inf])
                    li = (pids // _PACK - gy0) * nx + (pids % _PACK - gx0)
                    ok = (li >= 0) & (li < n_cells)
                    np.add.at(base, li[ok], ctrs[ok])
                acc = np.zeros(n_cells)
                done = np.zeros(n_cells, bool)
                frontier = np.where(valid & (indeg == 0))[0]
                while frontier.size:
                    acc[frontier] += base[frontier]
                    done[frontier] = True
                    f = frontier[has_tgt[frontier]]
                    np.add.at(acc, t_idx[f], acc[f])
                    np.subtract.at(indeg, t_idx[f],
                                   np.ones(f.size, np.int64))
                    cand = np.unique(t_idx[f])
                    frontier = cand[indeg[cand] == 0]
                # cross-tile / off-tile emissions from DONE border cells
                em = done & flows & ~in_tile
                g_r = gy0 + r2[em]
                g_c = gx0 + c2[em]
                keep = (g_r >= 0) & (g_c >= 0)
                g_r, g_c = g_r[keep], g_c[keep]
                octr = acc[em][keep]
                out_vals = np.where(done, acc, np.nan)
                rows.append((int(r.tile_id), tx, ty,
                             float(r.x0), float(r.y0),
                             out_vals.tolist(),
                             (g_c // nx).tolist(), (g_r // ny).tolist(),
                             (g_r * _PACK + g_c).tolist(),
                             octr.tolist()))
            yield pd.DataFrame(rows, columns=[f.name
                                              for f in acc_schema.fields])

    def _edges_of(state):
        return (state
                .select(F.arrays_zip(
                    F.col("out_tx").alias("tx"),
                    F.col("out_ty").alias("ty"),
                    F.col("out_pid").alias("pid"),
                    F.col("out_contrib").alias("contrib")).alias("z"))
                .select(F.explode("z").alias("e"))
                .select(F.col("e.tx").alias("tx"),
                        F.col("e.ty").alias("ty"),
                        F.col("e.pid").alias("pid"),
                        F.col("e.contrib").alias("contrib")))

    def _finish(state):
        vals = F.transform("acc", lambda v: F.when(~F.isnan(v), v))
        return state.select(
            "tile_id", "x0", "y0", F.lit(res).alias("res"),
            F.lit(res_y).alias("res_y"),
            F.lit(nx).alias("nx"), F.lit(ny).alias("ny"),
            vals.alias("values"))

    prev_total = -1.0
    if not incremental:
        # simple Jacobi: every tile recomputes each round — ONE join +
        # one map per round; measured faster than the change-detection
        # path below until tile counts are large (docstring trade)
        inflow_agg = None
        for _ in range(max_rounds):
            base = src if inflow_agg is None else \
                src.join(inflow_agg, ["tx", "ty"], "left")
            state = (base.mapInPandas(run_tiles, schema=acc_schema)
                     .localCheckpoint(eager=True))
            out_edges = _edges_of(state)
            total = out_edges.agg(F.coalesce(F.sum("contrib"), F.lit(0.0))).collect()[0][0]  # collect-ok: 1-row monotone-fixpoint probe (cost_distance precedent)
            if total == prev_total:
                return _finish(state)
            prev_total = total
            inflow_agg = (out_edges.groupBy("tx", "ty")
                          .agg(F.collect_list(F.struct("pid", "contrib"))
                               .alias("inf"))
                          .localCheckpoint(eager=True))
        raise RuntimeError(
            f"flow_accumulation did not converge within {max_rounds} "
            "rounds (a flow path crosses more tile boundaries; raise "
            "max_rounds)")

    # incremental rounds: a tile's output is a pure function of
    # (codes, inflow rows) and contributions are exact integers, so
    # exceptAll change detection is exact and skipping unchanged tiles
    # is result-identical (pytested against the simple path)
    nparts = int(src.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    state = (src.mapInPandas(run_tiles, schema=acc_schema)
             .localCheckpoint(eager=True))
    prev_rows = None
    for _ in range(max_rounds):
        out_edges = _edges_of(state).localCheckpoint(eager=True)
        total = out_edges.agg(F.coalesce(F.sum("contrib"), F.lit(0.0))).collect()[0][0]  # collect-ok: 1-row monotone-fixpoint probe (cost_distance precedent)
        if total == prev_total:
            return _finish(state)
        prev_total = total
        if prev_rows is None:
            changed = out_edges.select("tx", "ty").distinct()
        else:
            diff = (out_edges.exceptAll(prev_rows)
                    .unionByName(prev_rows.exceptAll(out_edges)))
            changed = diff.select("tx", "ty").distinct()
        prev_rows = out_edges
        inflow_agg = (out_edges.join(changed, ["tx", "ty"], "semi")
                      .groupBy("tx", "ty")
                      .agg(F.collect_list(F.struct("pid", "contrib"))
                           .alias("inf")))
        redo = (src.join(changed, ["tx", "ty"], "semi")
                .join(inflow_agg, ["tx", "ty"], "left")
                .mapInPandas(run_tiles, schema=acc_schema))
        state = (state.join(changed, ["tx", "ty"], "left_anti")
                 .unionByName(redo)
                 .coalesce(nparts)
                 .localCheckpoint(eager=True))
    raise RuntimeError(
        f"flow_accumulation did not converge within {max_rounds} rounds "
        "(a flow path crosses more tile boundaries; raise max_rounds)")

"""Grid-density spatial clustering — the scalable DBSCAN shape.

Classic DBSCAN is quadratic-ish and pointer-chasing; the 100 TB analog is
GRID clustering: count points per cell, keep cells with >= min_count
points ("dense", the minPts analog with eps = cell size), and connect
4-adjacent dense cells into components. Every step is a hash aggregate or
an equi-join, and the connected-components run on the DENSE-CELL graph —
#cells rows, not #points — reusing the dedup pipeline's pointer-jumping
min-label CC (operators/dedup.py::duplicate_clusters, Rastogi et al.).

Output: each point labeled with its component's MIN dense-cell key
(deterministic canonical id), NULL for noise points (sparse cells).

Scale notes: one shuffle on the cell key for the histogram, O(log
diameter) tiny CC rounds, one join back on the cell key. A city-sized
blob is one component regardless of its point count; the per-point work
never touches Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spandex_spark.functions.cells_sql import grid_coord_expr
from spandex_spark.operators.dedup import duplicate_clusters


def grid_cluster(points: DataFrame, *, level: int, min_count: int,
                 point_id_col: str, lon_col: str = "lon",
                 lat_col: str = "lat") -> DataFrame:
    """Label each point with a density-cluster id (min dense-cell row-major
    key in its 4-connected dense-cell component); sparse-cell points get
    NULL. Returns (point_id_col, cluster_id)."""
    n = 1 << level
    gx = grid_coord_expr(f"`{lon_col}`", -180.0, 360.0, level)
    gy = grid_coord_expr(f"`{lat_col}`", -90.0, 180.0, level)
    pts = points.withColumn("_ck", (gy * F.lit(n) + gx).cast("long"))
    dense = (pts.groupBy("_ck").count()
             .filter(F.col("count") >= int(min_count)).select("_ck"))
    cx = F.pmod(F.col("_ck"), F.lit(n))
    cy = F.floor(F.col("_ck") / F.lit(n))
    cands = F.array(
        F.when(cx > 0, F.col("_ck") - 1),
        F.when(cx < n - 1, F.col("_ck") + 1),
        F.when(cy > 0, F.col("_ck") - n),
        F.when(cy < n - 1, F.col("_ck") + n))
    nbrs = dense.withColumn(
        "_nb", F.explode(F.filter(cands, lambda c: c.isNotNull())))
    edges = nbrs.join(dense.withColumnRenamed("_ck", "_nb"), "_nb")
    comp = duplicate_clusters(
        edges.select(F.col("_ck").alias("id_a"), F.col("_nb").alias("id_b")))
    comp = comp.select(F.col("doc_id").alias("_ck"),
                       F.col("cluster_id"))
    # dense cells with NO dense neighbor are singleton clusters
    singles = (dense.join(comp, "_ck", "left_anti")
               .withColumn("cluster_id", F.col("_ck")))
    cell_cluster = comp.unionByName(singles)
    out = pts.join(cell_cluster, "_ck", "left")
    return out.select(point_id_col, "cluster_id")


def cluster_within(points: DataFrame, *, radius: float,
                   point_id_col: str, lon_col: str = "lon",
                   lat_col: str = "lat", metric: str = "haversine",
                   level: int | None = None) -> DataFrame:
    """ST_ClusterWithin / single-linkage distance clustering: points
    belong to the same cluster iff connected by a chain of hops each
    <= ``radius``. Pure composition of two existing distributed pieces —
    `within_distance_join` (self-join, cell-box candidate pruning, so
    pair generation is O(neighbour pairs), never the cross product)
    feeding `dedup.duplicate_clusters` (pointer-jumping min-label CC,
    O(log diameter) rounds). Returns (point_id_col, cluster_id) with
    cluster_id = min point id in the component; isolated points are
    singleton clusters of themselves.

    ``metric``/``radius`` follow within_distance_join: 'haversine' takes
    meters, 'planar' degrees. The PostGIS analog materializes a
    collection per cluster; here the label table IS the deliverable (at
    10^12 rows a GeometryCollection per cluster is the wrong shape —
    join labels back or `dissolve_by(cluster_id)` when geometry output
    is wanted)."""
    from spandex_spark.operators.distance import within_distance_join

    fpts = points.select(F.col(point_id_col).alias("_cw_fid"),
                         F.col(lon_col), F.col(lat_col))
    pairs = within_distance_join(
        points, fpts, radius=radius, point_id_col=point_id_col,
        feature_id_col="_cw_fid", p_lon=lon_col, p_lat=lat_col,
        f_lon=lon_col, f_lat=lat_col, metric=metric, level=level)
    edges = (pairs.select(F.col(point_id_col).alias("id_a"),
                          F.col("_cw_fid").alias("id_b"))
             .filter(F.col("id_a") != F.col("id_b")))
    comp = duplicate_clusters(edges)
    lab = comp.select(F.col("doc_id").alias(point_id_col),
                      F.col("cluster_id"))
    return (points.select(point_id_col)
            .join(lab, point_id_col, "left")
            .withColumn("cluster_id",
                        F.coalesce("cluster_id", F.col(point_id_col))))


def dbscan(points: DataFrame, *, eps: float, min_pts: int,
           point_id_col: str, lon_col: str = "lon", lat_col: str = "lat",
           metric: str = "haversine",
           level: int | None = None) -> DataFrame:
    """Exact DBSCAN (ST_ClusterDBSCAN analog), composed from the same
    distributed pieces as `cluster_within`:

    * eps-pairs via `within_distance_join` (cell-box candidate pruning
      — O(neighbour pairs), never the cross product);
    * core test: a point is core iff its eps-neighbourhood, INCLUDING
      itself, holds >= ``min_pts`` points (the sklearn/Ester-et-al
      convention) — one hash aggregate on the pair table;
    * clusters: connected components of the core-core eps graph
      (`dedup.duplicate_clusters`, pointer-jumping, O(log diameter)
      rounds on core points only);
    * border points (non-core within eps of a core) take the MIN
      cluster id among their core neighbours — DETERMINISTIC, where
      PostGIS/sklearn inherit scan order (documented deviation, same
      spirit as rasterize's commutative combine);
    * everything else is noise: cluster_id NULL.

    Returns (point_id_col, cluster_id, is_core). cluster_id is the min
    core point id of the component. ``metric``/``radius`` units follow
    `within_distance_join` ('haversine' meters, 'planar' degrees).
    An isolated point with min_pts=1 is its own singleton core cluster.
    """
    from spandex_spark.operators.distance import within_distance_join

    fpts = points.select(F.col(point_id_col).alias("_db_fid"),
                         F.col(lon_col), F.col(lat_col))
    pairs = (within_distance_join(
        points, fpts, radius=eps, point_id_col=point_id_col,
        feature_id_col="_db_fid", p_lon=lon_col, p_lat=lat_col,
        f_lon=lon_col, f_lat=lat_col, metric=metric, level=level)
        .filter(F.col(point_id_col) != F.col("_db_fid"))
        .select(point_id_col, "_db_fid"))

    # neighbour count + 1 (self) >= min_pts  <=>  count >= min_pts - 1
    core = (pairs.groupBy(point_id_col).count()
            .filter(F.col("count") >= int(min_pts) - 1)
            .select(point_id_col))
    if min_pts <= 1:
        core = points.select(point_id_col)  # every point is core

    core_a = core
    core_b = core.withColumnRenamed(point_id_col, "_db_fid")
    core_edges = (pairs.join(core_a, point_id_col).join(core_b, "_db_fid")
                  .select(F.col(point_id_col).alias("id_a"),
                          F.col("_db_fid").alias("id_b")))
    comp = duplicate_clusters(core_edges).select(
        F.col("doc_id").alias(point_id_col), "cluster_id")
    # cores with no core neighbour are singleton clusters
    core_lab = (core.join(comp, point_id_col, "left")
                .withColumn("cluster_id",
                            F.coalesce("cluster_id", F.col(point_id_col))))

    # border: non-core with >= 1 core neighbour -> min core cluster id
    border = (pairs.join(core_lab.withColumnRenamed(point_id_col, "_db_fid")
                         .withColumnRenamed("cluster_id", "_cid"), "_db_fid")
              .join(core, point_id_col, "left_anti")
              .groupBy(point_id_col)
              .agg(F.min("_cid").alias("cluster_id")))

    lab = (core_lab.withColumn("is_core", F.lit(True))
           .unionByName(border.withColumn("is_core", F.lit(False))))
    return (points.select(point_id_col)
            .join(lab, point_id_col, "left")
            .withColumn("is_core", F.coalesce("is_core", F.lit(False)))
            .select(point_id_col, "cluster_id", "is_core"))


def cluster_kmeans(points: DataFrame, *, k: int, group_col: str,
                   point_id_col: str, lon_col: str = "lon",
                   lat_col: str = "lat", max_iter: int = 50) -> DataFrame:
    """ST_ClusterKMeans analog: k-means cluster ids per point, computed
    independently inside each ``group_col`` window (the PostGIS window-
    function shape). Same bounded-group kernel contract as
    `voronoi.voronoi_polygons` — a group is a zone/city-sized point
    set; the cross-group fan-out is the distribution.

    Fully DETERMINISTIC where PostGIS inherits scan order: points are
    sorted inside the kernel by (lon, lat, id) before a k-means++ init
    with a fixed-seed RNG, so output is partitioning/arrival-order
    independent; empty clusters reseed to the farthest point; final
    labels are relabeled in first-appearance order of the SORTED
    points. Groups with n <= k give each distinct position its own
    cluster (PostGIS behaviour). Output: (group_col, point_id_col,
    cluster_id 0..k-1)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if k < 1:
        raise ValueError("k must be >= 1")
    out_schema = T.StructType([
        T.StructField("group", points.schema[group_col].dataType),
        T.StructField("pid", points.schema[point_id_col].dataType),
        T.StructField("cluster_id", T.IntegerType()),
    ])

    def kern(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([lon_col, lat_col, point_id_col],
                              kind="mergesort").reset_index(drop=True)
        X = pdf[[lon_col, lat_col]].to_numpy(np.float64)
        n = X.shape[0]
        uniq, inv = np.unique(X, axis=0, return_inverse=True)
        if uniq.shape[0] <= k:
            lab = inv                      # one cluster per distinct pos
        else:
            rng = np.random.default_rng(20240817)
            # k-means++ over the sorted points (deterministic)
            cents = [X[0]]
            d2 = ((X - cents[0]) ** 2).sum(axis=1)
            for _ in range(k - 1):
                p = d2 / d2.sum() if d2.sum() > 0 else None
                idx = int(rng.choice(n, p=p))
                cents.append(X[idx])
                d2 = np.minimum(d2, ((X - cents[-1]) ** 2).sum(axis=1))
            C = np.asarray(cents)
            lab = np.zeros(n, np.int64)
            for _ in range(max_iter):
                d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                new = d.argmin(axis=1)
                for c in range(k):
                    m = new == c
                    if m.any():
                        C[c] = X[m].mean(axis=0)
                    else:                   # reseed to farthest point
                        far = int(d.min(axis=1).argmax())
                        C[c] = X[far]
                        new[far] = c
                if np.array_equal(new, lab):
                    break
                lab = new
        # relabel in first-appearance order over the sorted rows
        remap, nxt = {}, 0
        out = np.empty(n, np.int32)
        for i, c in enumerate(lab):
            if c not in remap:
                remap[c] = nxt
                nxt += 1
            out[i] = remap[c]
        return pd.DataFrame({"group": pdf[group_col] if group_col else None,
                             "pid": pdf[point_id_col],
                             "cluster_id": out})

    return (points.groupBy(group_col).applyInPandas(kern, out_schema)
            .withColumnRenamed("group", group_col)
            .withColumnRenamed("pid", point_id_col))

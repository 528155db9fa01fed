"""Spark-native bucketed co-location for repeated spatial joins.

The broadcast path (``operators/tag.py::tag_points``) assumes the polygon
layer fits one executor; the shuffle path re-exchanges BOTH sides on the
cell key every query. At 100 TB a national parcel/zone layer can exceed
broadcast size, and the same point stream is re-joined many times (tag,
overlay enrich, dwithin, per-zone rollups) — paying the cell shuffle per
query is the dominant cost. Spark's bucketed tables persist that shuffle
ONCE (the materialized-spatial-index layout, cf. spandex's PostGIS GiST
index per SURVEY.md §1.1: the DB maintains the index, queries reuse it):

- ``write_points_bucketed`` / ``write_polygons_bucketed`` stamp the cell
  key and write with ``bucketBy(n, "cell").sortBy("cell")``; rows of the
  same cell land in the same bucket file index on both tables.
- every later equi-join on ``cell`` between two tables bucketed with the
  SAME bucket count is EXCHANGE-FREE: SortMergeJoin reads aligned bucket
  pairs (``tests/test_bucketing.py`` asserts no ``Exchange`` in the plan
  with auto-broadcast disabled), and ``sortBy`` makes the per-bucket sort
  a cheap sorted-run merge.
- the polygon table stores one row per covering cell, classified by the
  quadkey index (``cover_cells_classified_udf``): interior (FULL) cells
  carry NULL geometry — at fine levels interior cells dominate, so the
  stored table stays small and candidate rows split in pure JVM on the
  IsNull marker; only boundary-fringe rows enter the exact-PIP kernel
  (same two-phase contract as tag_points). Pick the layout level so
  cells are a few× smaller than typical polygons: finer levels raise
  both the interior (JVM-only) fraction and the polygon fan-out.

Scale notes: bucket count is a layout-time choice — pick ~(table size /
target partition size), same arithmetic as shuffle partitions; both
tables must use the same count. Skewed mega-cells are a WRITE-time
problem here (one bucket file gets the hot cell): level choice bounds
rows-per-cell exactly as in operators/skew.py, and the sortBy run keeps
the hot cell contiguous for the merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spandex_spark.functions.cells_sql import cell_of_expr
from spandex_spark.functions.spatial import cover_cells_classified_udf


def write_bucketed(df: DataFrame, name: str, *, bucket_col: str = "cell",
                   n_buckets: int = 32, sort: bool = True,
                   path: str | None = None, mode: str = "overwrite") -> None:
    """Persist ``df`` as a parquet table bucketed (and bucket-sorted) on
    ``bucket_col``. ``path`` makes it external (tests write to tmp).

    The frame is pre-repartitioned by Spark's own bucket function
    (``pmod(hash(col), n)`` — Murmur3, the same expression HashPartitioning
    uses) so each bucket lands in EXACTLY ONE file: Spark only trusts the
    ``sortBy`` order (and skips the read-side sort before SortMergeJoin)
    for single-file buckets, and writer-count × bucket-count small files
    are avoided."""
    df = df.repartition(n_buckets, F.pmod(F.hash(F.col(bucket_col)),
                                          F.lit(n_buckets)))
    w = df.write.format("parquet").mode(mode).bucketBy(n_buckets, bucket_col)
    if sort:
        w = w.sortBy(bucket_col)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(name)


def write_points_bucketed(points: DataFrame, name: str, *, level: int,
                          lon_col: str = "lon", lat_col: str = "lat",
                          n_buckets: int = 32,
                          path: str | None = None) -> None:
    """Stamp ``cell`` (quadkey at ``level``) and bucket-write the point
    stream. One codegen expression, one write-side shuffle — the LAST
    cell shuffle this stream ever pays."""
    pts = points.withColumn(
        "cell", cell_of_expr(f"`{lon_col}`", f"`{lat_col}`", level))
    write_bucketed(pts, name, n_buckets=n_buckets, path=path)


def write_polygons_bucketed(polygons: DataFrame, name: str, *,
                            poly_id_col: str, level: int,
                            n_buckets: int = 32,
                            path: str | None = None) -> None:
    """Explode the classified cell cover and bucket-write. FULL (interior)
    cells store NULL geometry — containment there is decided by the cell
    key alone; only boundary-cell rows carry rings for the exact refine."""
    cells = (polygons
             .select(F.col(poly_id_col).alias("_pid"), "geom")
             .withColumn("_cc", F.explode(
                 cover_cells_classified_udf(F.col("geom"), level)))
             .select(F.col("_pid"),
                     F.col("_cc.cell").alias("cell"),
                     F.when(~F.col("_cc.full"), F.col("geom")).alias("_bgeom")))
    write_bucketed(cells, name, n_buckets=n_buckets, path=path)


def tag_points_bucketed(spark: SparkSession, points_table: str,
                        polygons_table: str, *, poly_id_col: str,
                        point_id_col: str,
                        assume_disjoint: bool = False) -> DataFrame:
    """tag_points over two pre-bucketed tables: the cell join is
    exchange-free (aligned buckets), and candidate rows split on the
    stored NULL-geometry marker — FULL-cell rows accept in pure JVM
    (an IsNull filter), only the boundary fringe crosses into the exact
    PIP kernel (measured 2.4x faster than routing every candidate
    through a null-aware kernel: the Arrow transfer, not the PIP flops,
    is the cost). Both branches re-read
    the bucketed tables, which costs a second exchange-free bucket scan,
    not a shuffle. With ``assume_disjoint`` the whole tag is ZERO-shuffle
    end-to-end; overlapping layers pay one winner shuffle on the point id
    (min-poly-id resolution, same semantics as tag_points)."""
    from spandex_spark.functions.spatial import pip_refine

    pts = spark.table(points_table)
    pol = spark.table(polygons_table)
    cand = pts.join(pol, "cell", "inner")
    full_hits = cand.filter(F.col("_bgeom").isNull()).drop("_bgeom")
    bnd = cand.filter(F.col("_bgeom").isNotNull())
    bnd_hits = bnd.filter(pip_refine(
        F.col("lon"), F.col("lat"), F.col("_bgeom"),
        F.col("_pid"))).drop("_bgeom")
    hits = full_hits.unionByName(bnd_hits)
    point_cols = [c for c in pts.columns if c != "cell"]
    if assume_disjoint:
        return hits.select(*point_cols, F.col("_pid").alias(poly_id_col))
    winners = hits.groupBy(point_id_col).agg(
        F.min("_pid").alias(poly_id_col))
    return pts.drop("cell").join(winners, point_id_col, "left")

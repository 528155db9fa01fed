"""Adaptive quadtree cells — split every overfull cell until no cell
holds more than ``max_per_cell`` points (or the depth cap is hit).

This is the load-BALANCING complement to the skew toolkit: salting
(operators/skew.py) splits a hot key's shuffle partition by fanning the
other side out; adaptive cells instead give the DATA itself a
density-proportional key, so downstream joins, writes (spatial
bucketing), and per-cell kernels see bounded groups — the quadtree
variant of what S2/H3 users do with mixed-level coverings, and the
standard fix for the city-block-vs-ocean imbalance of fixed-level
grids.

Spark realization: all keys come from ``cells_sql.cell_of_expr`` (pure
codegen, the engine's Morton cells with embedded level); each round is
ONE count aggregate over the still-unfrozen points, a broadcast-sized
join against the overfull cell list, and a re-key one level deeper —
rounds ≤ max_level − base_level (a 1-row probe exits early when
nothing is overfull).  Frozen points never re-shuffle.  Mixed-level
output keys remain PREFIX-compatible (cells.parent), so coarse
consumers can still roll them up.

Coincident or sub-resolution point heaps cannot split: cells still
overfull AT max_level are emitted as-is (documented, pytested) — the
caller's salting knob takes over there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spandex_spark.functions.cells_sql import cell_of_expr

__all__ = ["adaptive_cells"]


def adaptive_cells(points: DataFrame, *, max_per_cell: int,
                   base_level: int = 4, max_level: int = 16,
                   lon_col: str = "lon", lat_col: str = "lat",
                   out_col: str = "cell") -> DataFrame:
    """Input columns + (out_col, ``{out_col}_level``): a mixed-level
    quadtree key per point with ≤ max_per_cell members per key
    (except irreducible heaps at max_level)."""
    if max_per_cell < 1:
        raise ValueError("max_per_cell must be >= 1")
    if not (0 <= base_level <= max_level <= 29):
        raise ValueError("need 0 <= base_level <= max_level <= 29")
    lon, lat = f"`{lon_col}`", f"`{lat_col}`"
    df = (points
          .withColumn(out_col, cell_of_expr(lon, lat, base_level))
          .withColumn("_lvl", F.lit(base_level))
          .withColumn("_final", F.lit(False))
          .localCheckpoint(eager=True))
    for level in range(base_level, max_level):
        live = df.filter(~F.col("_final"))
        overfull = (live.groupBy(out_col)
                    .agg(F.count("*").alias("_n"))
                    .filter(F.col("_n") > max_per_cell)
                    .select(out_col))
        if overfull.limit(1).count() == 0:  # collect-ok: overfull-emptiness probe (cost_distance precedent)
            return df.select(*points.columns, out_col,
                             F.col("_lvl").alias(f"{out_col}_level"))
        hot = F.broadcast(overfull.withColumn("_hot", F.lit(True)))
        df = (df.join(hot, out_col, "left")
              .withColumn(
                  "_split",
                  ~F.col("_final") & F.col("_hot").isNotNull())
              .withColumn(out_col,
                          F.when(F.col("_split"),
                                 cell_of_expr(lon, lat, level + 1))
                          .otherwise(F.col(out_col)))
              .withColumn("_lvl", F.when(F.col("_split"),
                                         F.lit(level + 1))
                          .otherwise(F.col("_lvl")))
              .withColumn("_final", ~F.col("_split"))
              .drop("_hot", "_split")
              .localCheckpoint(eager=True))
    return df.select(*points.columns, out_col,
                     F.col("_lvl").alias(f"{out_col}_level"))

"""Zonal histogram/majority (operators/zonal.py): closed-form counts on
a categorical grid, agreement with zonal_stats px_count, deterministic
majority tie-break, NaN exclusion, and the one-exchange plan shared with
zonal_stats."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from spandex_spark.operators.zonal import (zonal_histogram, zonal_majority,
                                           zonal_stats)
from spandex_spark.sources.grids import (donut_zones_df, geom_struct,
                                         raster_tiles_df)


def _tiles(spark, arrays, npx, res=0.1):
    rows = []
    for (tx, ty), a in arrays.items():
        vals = [None if np.isnan(v) else float(v) for v in a.ravel()]
        rows.append((ty * 100 + tx, tx * npx * res, ty * npx * res,
                     res, npx, npx, vals))
    return spark.createDataFrame(
        rows, "tile_id long, x0 double, y0 double, res double,"
              " nx int, ny int, values array<double>")


def _zones(spark, rects):
    df = spark.createDataFrame(
        [(i, x0, y0, x1, y1) for i, (x0, y0, x1, y1) in enumerate(rects)],
        "zone_id long, x0 double, y0 double, x1 double, y1 double")
    return df.select("zone_id", geom_struct(
        F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1")).alias("geom"))


def test_histogram_closed_form(spark):
    # 4x4 tile at res 0.1: left half value 1, right half value 2
    a = np.ones((4, 4))
    a[:, 2:] = 2.0
    tiles = _tiles(spark, {(0, 0): a}, 4)
    zones = _zones(spark, [(0.0, 0.0, 0.4, 0.4)])      # whole tile
    got = {(r["zone_id"], r["value"]): r["n_pixels"]
           for r in zonal_histogram(tiles, zones).collect()}
    assert got == {(0, 1.0): 8, (0, 2.0): 8}


def test_histogram_sums_match_zonal_count(spark):
    rng = np.random.default_rng(2)
    arrays = {(tx, ty): rng.integers(0, 4, (5, 5)).astype(float)
              for tx in range(2) for ty in range(2)}
    rects = _zones(spark, [(0.0, 0.0, 0.6, 0.6), (0.6, 0.6, 1.0, 1.0)])
    # the holed donut layer over a categorical copy of the grid raster:
    # each zone's bbox holds the hole pixels its mask drops
    categorical = raster_tiles_df(spark).withColumn(
        "values", F.transform("values", lambda v: F.floor(v * 2.0)
                              .cast("double")))
    donuts = donut_zones_df(spark).withColumnRenamed("dz_id", "zone_id")
    for tiles, zones, n_zones in [(_tiles(spark, arrays, 5), rects, 2),
                                  (categorical, donuts, 16)]:
        h = zonal_histogram(tiles, zones)
        s = zonal_stats(tiles, zones)
        hc = {r["zone_id"]: r["total"] for r in
              h.groupBy("zone_id").agg(F.sum("n_pixels").alias("total"))
              .collect()}
        sc = {r["zone_id"]: r["px_count"] for r in s.collect()}
        assert hc == sc and len(hc) == n_zones
    # last case, closed form: 80x80 pixels per donut minus its 40x40 hole
    assert set(hc.values()) == {4800}


def test_majority_minority_variety_and_tiebreak(spark):
    # zone covers 6 pixels: values 3,3,7,7,5,9 -> majority tie 3 vs 7
    # breaks to 3 (smallest); minority tie 5 vs 9 breaks to 5
    a = np.array([[3.0, 3.0, 7.0], [7.0, 5.0, 9.0], [1.0, 1.0, 1.0]])
    tiles = _tiles(spark, {(0, 0): a}, 3)
    zones = _zones(spark, [(0.0, 0.0, 0.3, 0.2)])      # bottom two rows
    r = zonal_majority(tiles, zones).collect()[0]
    assert r["majority"] == 3.0 and r["majority_n"] == 2
    assert r["minority"] == 5.0 and r["minority_n"] == 1
    assert r["variety"] == 4


def test_nan_pixels_excluded(spark):
    a = np.full((3, 3), 2.0)
    a[1, 1] = np.nan
    tiles = _tiles(spark, {(0, 0): a}, 3)
    zones = _zones(spark, [(0.0, 0.0, 0.3, 0.3)])
    got = zonal_histogram(tiles, zones).collect()
    assert len(got) == 1
    assert got[0]["value"] == 2.0 and got[0]["n_pixels"] == 8


def test_zonal_plans_have_one_exchange_and_no_join(spark):
    """zonal_stats and zonal_histogram broadcast the collected zone layer
    into the pixel kernel: the per-zone aggregation is the only exchange
    and no join touches the tile table."""
    tiles = _tiles(spark, {(0, 0): np.ones((4, 4)), (1, 0): np.ones((4, 4))},
                   4)
    zones = _zones(spark, [(0.0, 0.0, 0.5, 0.4), (0.5, 0.0, 0.8, 0.4)])
    for out in (zonal_stats(tiles, zones), zonal_histogram(tiles, zones)):
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert len(re.findall(r"\bExchange\b", final)) == 1, plan
        assert not re.search(r"Join|CartesianProduct", final), plan

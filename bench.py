"""Bench harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Headline job = the north-star pipeline: 600k lineitem-derived points →
quadkey cell index → two-phase PIP tag against the zone grid → nearest-
feature (k=1) join — plus the web-pipeline heavies (overlay, zonal,
minhash-LSH dedup, ANN top-k). Timing excludes SparkSession startup;
each query is an action-to-action wall time. ``pip_knn_rows_per_sec`` is
the BASELINE.json headline throughput (tagged+nearest rows / join secs).

The repo benchmark with oracle-checked, per-layer metrics is
``perfbench/run.py``; this file keeps the historical headline queries.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd  # module-level: pandas_udf type-hint resolution needs it

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


# 64 x 600k = 38.4M headline rows: big enough that per-stage fixed costs
# (~2-4s: stage setup, broadcast build, Python worker spin-up) don't
# dominate the measured throughput at 32 cores
PTS_MULT = int(os.environ.get("SPANDEX_BENCH_PTS_MULT", "64"))
_PREPARED = {}


def _pts_from_lineitem(spark, sf_dir):
    """Point stream for the headline job: lineitem keys fanned out x
    PTS_MULT (same input files at every parallelism — the fan-out gives
    each core enough work that fixed per-stage overheads don't dominate
    the strong-scaling measurement)."""
    from pyspark.sql import functions as F
    from spandex_spark.sources.grids import derived_points
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    # repartition the SMALL base (600k x 8B) BEFORE the x PTS_MULT explode:
    # the parquet file is only a couple of input splits, and exploding first
    # would generate all 19.2M rows on those 2 cores and shuffle 800MB;
    # this way the only shuffle is 5MB and everything downstream is
    # embarrassingly parallel (the polygon join is a broadcast)
    base = li.select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("base")) \
        .repartition(int(CPUS) * 3)
    keyed = base.select(
        "base", F.explode(F.sequence(F.lit(0), F.lit(PTS_MULT - 1))).alias("rep"))
    keyed = keyed.select((F.col("base") * PTS_MULT + F.col("rep")).alias("pt_id"))
    return derived_points(keyed, "pt_id")


def q_pip_tag_knn(spark, sf_dir):
    """Headline: PIP tag + nearest-feature over the point stream, FUSED —
    one scan, zero shuffles on the points (the zone is picked inside each
    point row; the POI layer rides along as a broadcast numpy kernel)."""
    from pyspark.sql import functions as F
    from spandex_spark.operators import tag_points
    pts = _pts_from_lineitem(spark, sf_dir)
    # no cell repartition: the polygon side is broadcast, so cell
    # co-location buys nothing here and the explode-side partitioning from
    # _pts_from_lineitem already spreads the stream across all cores
    tagged = tag_points(pts, None, poly_id_col="zone_id",
                        point_id_col="pt_id", assume_disjoint=True,
                        index=_PREPARED["zone_index"])
    nn = _PREPARED["nearest"](F.col("lon"), F.col("lat"))
    return tagged.withColumn("poi_k", nn["feature_id"]) \
                 .withColumn("poi_dist_m", nn["dist_m"])


def q_overlay(spark, sf_dir):
    from spandex_spark.operators import proportion_overlap
    from spandex_spark.sources.grids import zones_df, parcels_df
    return proportion_overlap(parcels_df(spark), zones_df(spark),
                              target_id_col="parcel_id",
                              overlay_id_col="zone_id", level=8)


TILES_PATH = "/tmp/spandex_bench_tiles.parquet"


def prepare_inputs(spark):
    """Untimed preparation (BASELINE.md: fixture generation and load-time
    work are excluded from timed join stages): the raster IS a parquet
    table in production, and the zone cell index is built once at layer
    load — the reference's GiST build — and reused by every query/batch."""
    from spandex_spark.operators.tag import PolygonIndex
    from spandex_spark.operators.knn import nearest_feature_column
    from spandex_spark.sources.grids import zones_df, raster_tiles_df, gazetteer_grid_df
    raster_tiles_df(spark).write.mode("overwrite").parquet(TILES_PATH)
    # level 11 cells ≈ 0.18 x 0.09 deg vs 1-deg zones: ~65% of zone area is
    # interior (full) cells whose points skip the exact refine, and each
    # point cell is covered by ~1.1 zones → the join fan-out nearly vanishes
    _PREPARED["zone_index"] = PolygonIndex(zones_df(spark),
                                           poly_id_col="zone_id", level=11)
    _PREPARED["nearest"] = nearest_feature_column(gazetteer_grid_df(spark),
                                                  feature_id_col="poi_k")


def q_zonal(spark, sf_dir):
    from spandex_spark.operators import zonal_stats
    from spandex_spark.sources.grids import zones_df
    tiles = spark.read.parquet(TILES_PATH)
    return zonal_stats(tiles, zones_df(spark))


def q_knn_cells(spark, sf_dir):
    """Big-both-sides kNN route (no feature broadcast): histogram-driven
    candidate boxes + window top-k. 600k lineitem-derived queries."""
    from pyspark.sql import functions as F
    from spandex_spark.operators import knn_join
    from spandex_spark.sources.grids import derived_points, gazetteer_grid_df
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    base = li.select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("pt_id")) \
        .repartition(int(CPUS) * 3)
    pts = derived_points(base, "pt_id")
    return knn_join(pts, gazetteer_grid_df(spark), k=3,
                    query_id_col="pt_id", feature_id_col="poi_k",
                    strategy="cells", level=7)


def q_minhash(spark, sf_dir):
    from spandex_spark.operators.dedup import minhash_lsh_pairs
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return minhash_lsh_pairs(docs, num_hashes=64, bands=16)


def q_ann(spark, sf_dir):
    from pyspark.sql import functions as F
    from spandex_spark.operators.similarity import ann_bruteforce
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return ann_bruteforce(emb.filter(F.col("vec_id") % 10 == 0), emb, k=5)


QUERIES = {
    "pip_tag_knn": q_pip_tag_knn,
    "overlay": q_overlay,
    "zonal": q_zonal,
    "knn_cells": q_knn_cells,
    "minhash_dedup": q_minhash,
    "ann_topk": q_ann,
}

_ONLY = os.environ.get("SPANDEX_BENCH_ONLY")
if _ONLY:
    QUERIES = {k: v for k, v in QUERIES.items() if k in _ONLY.split(",")}


def main():
    from pyspark.sql import functions as F
    from spandex_spark.session import get_spark
    spark = get_spark("bench", master=f"local[{CPUS}]",
                      shuffle_partitions=max(int(CPUS) * 4, 32))
    times = {}
    rows = {}
    # warm-up (excluded from timing per BASELINE.md protocol): JVM codegen,
    # the Python UDF worker pool, and the Arrow path
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _warm(x: pd.Series) -> pd.Series:
        return x * 1.0

    spark.range(200_000).select(_warm(F.col("id").cast("double"))).count()
    prepare_inputs(spark)
    # Best-of-N, UNCONDITIONAL second pass: the sandbox host shows multi-x
    # run-to-run noise from co-tenants, and a noise-inflated first attempt is
    # exactly the one that needs a retry. Every query gets >=2 attempts; a
    # third runs while the global deadline allows. min() approximates
    # quiet-window time, which is the number BASELINE.md's protocol records.
    # clamp: 0/negative would skip the loop entirely and crash on round(None)
    attempts = max(1, int(os.environ.get("SPANDEX_BENCH_ATTEMPTS", "3")))
    deadline = time.time() + float(
        os.environ.get("SPANDEX_BENCH_DEADLINE_SEC", "1500"))
    for name, fn in QUERIES.items():
        best = None
        for i in range(attempts):
            if i >= 2 and time.time() > deadline:
                break  # never skips the mandatory second attempt
            t0 = time.time()
            n = fn(spark, SF_DIR).count()
            t = time.time() - t0
            best = t if best is None else min(best, t)
        times[name] = round(best, 3)
        rows[name] = n
    total = round(sum(times.values()), 3)
    headline_tput = (round(rows["pip_tag_knn"] / times["pip_tag_knn"], 1)
                     if "pip_tag_knn" in times else None)
    result = {
        "metric": "headline query wall time (PIP tag + kNN, overlay, zonal, "
                  "minhash dedup, ANN) at sf_dir",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "cpus": int(CPUS),
        "rows": rows,
        "pip_knn_rows_per_sec": headline_tput,
    }
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()

"""Structured Streaming ingest for the pages table.

The reference has NO streaming surface (spandex is batch PostGIS ETL —
SURVEY.md §2.3 records it as deliberately absent), so this module is the
web-scale graft's incremental-ingest path, not a ported operator: new page
files land in a directory; the stream geotags them (the same pure-JVM
geotag used in batch — identical semantics), assigns cells, and appends
Parquet partitioned work units with exactly-once file-sink semantics.

Batch/stream parity: geotag() is a deterministic narrow transformation, so
`stream_geotag_pages(...)` over N files == batch geotag over the union —
asserted in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spandex_spark.geotag import geotag
from spandex_spark.functions.cells_sql import cell_of_expr

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])


def stream_geotag_pages(spark: SparkSession, input_dir: str, output_dir: str,
                        checkpoint_dir: str, gazetteer: DataFrame | None = None,
                        level: int = 9, available_now: bool = True):
    """File-source stream → geotag → cell assignment → Parquet append sink.

    ``available_now=True`` drains everything currently present and stops
    (test/backfill mode); False runs continuously. Returns the query handle.
    """
    pages = (spark.readStream.schema(PAGES_SCHEMA)
             .option("maxFilesPerTrigger", 8)
             .parquet(input_dir))
    tagged = geotag(pages, gazetteer)
    tagged = tagged.withColumn("cell", cell_of_expr("lon", "lat", level))
    writer = (tagged.writeStream
              .format("parquet")
              .option("path", output_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_tag_pages(spark: SparkSession, input_dir: str, output_dir: str,
                     checkpoint_dir: str, zones: DataFrame,
                     gazetteer: DataFrame | None = None, level: int = 9,
                     available_now: bool = True):
    """Full SPATIAL JOIN inside the stream: file source → geotag →
    two-phase PIP tag against the (static, broadcast) zone layer → Parquet
    append sink. tag_points is a stateless broadcast join + refine, so it
    composes with Structured Streaming unchanged — streaming micro-batches
    over N files equal the batch run over their union (parity-asserted in
    tests/test_streaming.py)."""
    from spandex_spark.operators.tag import tag_points
    pages = (spark.readStream.schema(PAGES_SCHEMA)
             .option("maxFilesPerTrigger", 8)
             .parquet(input_dir))
    pts = geotag(pages, gazetteer).filter(F.col("lon").isNotNull())
    # assume_disjoint: emit only the points inside some zone (inner
    # semantics). The tag itself is a stateless broadcast join plus a
    # per-row winner pick, so it is legal in streaming append mode either
    # way
    tagged = tag_points(pts, zones, poly_id_col="zone_id",
                        point_id_col="url", level=level,
                        poly_attr_cols=("zclass",), assume_disjoint=True)
    writer = (tagged.writeStream
              .format("parquet")
              .option("path", output_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_zone_rates(spark: SparkSession, input_dir: str,
                      zones: DataFrame, gazetteer: DataFrame | None = None,
                      window: str = "1 hour", watermark: str = "2 hours",
                      level: int = 12, query_name: str = "zone_rates"):
    """Streaming SPATIAL analytics: geotag → PIP tag → windowed per-zone
    page counts with late-data watermarking — the live-heatmap shape
    (which zones are hot right now). The spatial join is stateless, the
    windowed agg carries the only state, bounded by the watermark.

    ``level`` trades index size vs Python-refine traffic: at degree-scale
    zones, level 12 cells (~0.09°) classify ~83% of zone area as FULL
    interior cells whose points skip the pandas refine entirely — 2x the
    micro-batch throughput of the round-3 default (level 9, whose cells
    are zone-sized so nearly every point hit Python)."""
    from spandex_spark.operators.tag import tag_points
    pages = (spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir))
    pts = geotag(pages, gazetteer).filter(F.col("lon").isNotNull())
    tagged = tag_points(pts, zones, poly_id_col="zone_id",
                        point_id_col="url", level=level,
                        assume_disjoint=True)
    agg = (tagged.withWatermark("warc_ts", watermark)
           .groupBy(F.window("warc_ts", window).alias("w"), "zone_id")
           .agg(F.count("*").alias("n_pages"))
           .select(F.col("w.start").alias("window_start"), "zone_id",
                   "n_pages"))
    return (agg.writeStream.format("memory").queryName(query_name)
            .outputMode("complete").trigger(availableNow=True).start())


def stream_page_rates(spark: SparkSession, input_dir: str,
                      checkpoint_dir: str, window: str = "1 hour",
                      watermark: str = "2 hours"):
    """Windowed page-arrival counts per lang with late-data watermarking —
    the standard streaming-agg shape (memory sink for inspection/tests)."""
    pages = (spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir))
    agg = (pages.withWatermark("warc_ts", watermark)
           .groupBy(F.window("warc_ts", window).alias("w"), "lang")
           .agg(F.count("*").alias("n_pages"))
           .select(F.col("w.start").alias("window_start"), "lang", "n_pages"))
    return (agg.writeStream.format("memory").queryName("page_rates")
            .outputMode("complete").trigger(availableNow=True).start())


def stream_append_table(spark: SparkSession, input_dir: str,
                        table_root: str, checkpoint_dir: str,
                        gazetteer: DataFrame | None = None, level: int = 9,
                        available_now: bool = True):
    """File-source stream → geotag → cell assignment → IcebergishTable
    APPEND sink (foreachBatch): every micro-batch publishes one atomic
    snapshot, so the table's manifest log doubles as streaming lineage —
    a crash between batches leaves the last committed snapshot readable
    and the stream's checkpoint replays only the uncommitted batch (the
    Iceberg streaming-sink shape; exactly-once at snapshot granularity
    modulo a replayed batch landing as a duplicate snapshot, which the
    batch id in ``partition_values`` makes detectable/skippable).

    Returns the query handle; read the table with IcebergishTable.read
    (time travel and manifest pruning work on streamed snapshots too)."""
    from spandex_spark.tables import IcebergishTable

    pages = (spark.readStream.schema(PAGES_SCHEMA)
             .option("maxFilesPerTrigger", 8)
             .parquet(input_dir))
    tagged = geotag(pages, gazetteer)
    tagged = tagged.withColumn("cell", cell_of_expr("lon", "lat", level))
    table = IcebergishTable(table_root)
    committed = set()

    def _sink(batch_df, batch_id: int):
        # replay protection: a restarted stream re-offers the in-flight
        # batch; skip if a snapshot already carries this batch id
        done = {s["partition_values"].get("stream_batch")
                for s in table.snapshots()}
        if batch_id in committed or batch_id in done:
            return
        table.append(batch_df, partition_values={"stream_batch": batch_id})
        committed.add(batch_id)

    writer = (tagged.writeStream.foreachBatch(_sink)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_read_table(spark: SparkSession, table_root: str, *,
                      max_files_per_trigger: int = 8):
    """IcebergishTable as a STREAMING SOURCE (the Iceberg incremental-read
    analog): new snapshots' data files are discovered by Spark's file
    stream source as they land under ``<root>/data/*/`` — each append
    (batch or stream_append_table snapshot) becomes future micro-batches,
    so a downstream pipeline tails the table.

    Semantics and limits, stated honestly: the file source tracks FILES,
    not snapshots — rows stream in file granularity (a multi-file
    snapshot may split across micro-batches), compaction REWRITES would
    re-deliver old rows (run GC/compaction on tables being tailed only
    between stream restarts with fresh checkpoints — same operational
    rule Iceberg's own CDC-less incremental read has for rewrites), and
    the schema comes from the current snapshot manifest."""
    import os
    from pyspark.sql import types as T
    from spandex_spark.tables import IcebergishTable

    table = IcebergishTable(table_root)
    snap = table.current_snapshot()
    if snap is None:
        raise FileNotFoundError(f"empty Icebergish table at {table_root}")
    schema = T.StructType.fromJson(snap["schema"])
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(os.path.join(table_root, "data", "*")))


def stream_tile_heatmap(spark: SparkSession, input_dir: str,
                        gazetteer: DataFrame | None = None,
                        zoom: int = 10, window: str = "1 hour",
                        watermark: str = "2 hours",
                        query_name: str = "tile_heatmap"):
    """Streaming web-map heat tiles: geotag → slippy tile_xy → windowed
    per-tile page counts — the live version of operators/tiles.py's
    pyramid base level (roll ancestors up from this output with
    shiftright exactly as tile_pyramid does; streaming each level
    separately would multiply state for no reason).

    Stateless tile math (pure codegen), ONE windowed aggregation whose
    state is bounded by the watermark x occupied tiles.  Batch/stream
    parity: tile_xy is deterministic, so the complete-mode table equals
    tile_pyramid's zoom level over the same files (pytested)."""
    from spandex_spark.operators.tiles import tile_xy
    pages = spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)
    pts = geotag(pages, gazetteer).filter(F.col("lon").isNotNull())
    x, y = tile_xy(F.col("lon"), F.col("lat"), zoom)
    tiled = pts.select("warc_ts", x.alias("x"), y.alias("y"))
    agg = (tiled.withWatermark("warc_ts", watermark)
           .groupBy(F.window("warc_ts", window).alias("w"), "x", "y")
           .agg(F.count("*").alias("n_pages"))
           .select(F.col("w.start").alias("window_start"),
                   F.lit(zoom).alias("z"), "x", "y", "n_pages"))
    return (agg.writeStream.format("memory").queryName(query_name)
            .outputMode("complete").trigger(availableNow=True).start())

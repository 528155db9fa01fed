from spandex_spark.streaming.ingest import stream_geotag_pages  # noqa: F401

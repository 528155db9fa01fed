"""The flagship two-phase pipeline (north_star, BASELINE.json:6):
pages → geotag → cell-indexed PIP tag (+ optional kNN) — the end-to-end
job the driver smoke-checks and the bench harness times.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spandex_spark.geotag import geotag
from spandex_spark.operators.tag import tag_points
from spandex_spark.operators.knn import knn_join


def ingest_pages(raw: DataFrame, *, extract: bool = True,
                 dedup_urls: bool = True, dedup_lines: bool = False,
                 ts_col: str = "warc_ts") -> DataFrame:
    """Raw crawl → the canonical pages table the flagship consumes.

    Input needs (url, warc_ts, html); text/lang optional. Steps, each
    optional and all shuffle-counted:

    1. ``extract``: html → text via `operators/html.extract_text` (jvm
       path, zero Python) — fills/overwrites the text column. Skipped
       automatically when the input already carries text and
       ``extract=False``.
    2. ``dedup_urls``: canonical-URL exact dedup — `normalize_url`
       collapses case/default-port/fragment variants, then ONE
       min_by-groupBy keeps the EARLIEST fetch per canonical url (the
       recrawl rule: the first snapshot of a url wins).
    3. ``dedup_lines``: corpus-wide C4-style line dedup
       (`line_dedup(order_col=warc_ts)`, two more shuffles) — off by
       default; it REWRITES text of boilerplate-carrying pages, which
       breaks per-url byte-identity with the raw input on purpose.

    Byte-identity contract: with ``dedup_lines=False`` every surviving
    row's text is byte-identical to its input row (extraction is
    deterministic; dedup only drops whole rows) — `verify_extraction`
    audits it end to end.
    """
    from spandex_spark.operators.dedup import line_dedup
    from spandex_spark.operators.html import extract_text
    from spandex_spark.operators.urls import normalize_url

    pages = raw
    if extract or "text" not in pages.columns:
        pages = extract_text(pages, out_col="text")
    if dedup_urls:
        pages = normalize_url(pages, out_col="_url_norm")
        others = [c for c in pages.columns if c != "_url_norm"]
        pages = (pages.groupBy("_url_norm")
                 .agg(*[F.min_by(c, F.struct(F.col(ts_col), F.col("url")))
                        .alias(c) for c in others])
                 .drop("_url_norm"))
    if dedup_lines:
        pages = line_dedup(pages, id_col="url", order_col=ts_col)
    return pages


def flagship_tag(spark: SparkSession, pages: DataFrame, gazetteer: DataFrame,
                 zones: DataFrame, *, level: int = 9) -> DataFrame:
    """Geotag pages and tag each geotagged page with its containing zone.
    Preserves url/text byte-identity; pages without a geo signal keep NULL
    lon/lat/zone."""
    pts = geotag(pages, gazetteer)
    geo = pts.filter(F.col("lon").isNotNull())
    tagged = tag_points(geo, zones, poly_id_col="zone_id",
                        point_id_col="url", level=level,
                        poly_attr_cols=("zclass",))
    return tagged


def flagship_tag_knn(spark: SparkSession, pages: DataFrame,
                     gazetteer: DataFrame, zones: DataFrame, poi: DataFrame,
                     *, k: int = 3, level: int = 9) -> DataFrame:
    """Tag + nearest-POI join — the full PIP + kNN headline job."""
    tagged = flagship_tag(spark, pages, gazetteer, zones, level=level)
    geo = tagged.filter(F.col("lon").isNotNull())
    nn = knn_join(geo, poi, k=k, query_id_col="url", feature_id_col="poi_id")
    return (geo.join(nn.filter(F.col("rank") == 1)
                     .select("url", F.col("poi_id").alias("nearest_poi"),
                             F.col("dist_m").alias("nearest_poi_dist_m")),
                     "url", "left"))

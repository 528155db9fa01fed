"""Vectorized (Arrow/pandas) Spark UDF wrappers around the numpy kernels.

Design rule (BASELINE.json:15): no per-row Python UDFs anywhere — every
Python crossing is an Arrow-batched pandas UDF; everything expressible with
pyspark.sql.functions built-ins stays JVM-side.
"""

from spandex_spark.functions.spatial import (  # noqa: F401
    cell_of_udf,
    cover_cells_udf,
    webmercator_udf,
    geom_is_valid_udf,
)

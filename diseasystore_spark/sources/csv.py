"""CSV source with optional row limit (S1, ``R/DiseasystoreGoogleCovid19.R:20-22``).

Spark reads ``.csv`` and ``.csv.gz`` transparently. Schemas should be
passed explicitly in production (inference costs an extra scan); the
``n_max`` row limit mirrors the reference's test/vignette mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from diseasystore_spark.trace import phase


def read_csv_source(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    n_max: int | None = None,
) -> DataFrame:
    reader = spark.read.option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    with phase("source.read_csv"):  # schema inference runs a job
        df = reader.csv(path)
    if n_max is not None:
        df = df.limit(n_max)
    return df

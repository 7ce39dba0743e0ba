"""CSV source with optional row limit (S1, ``R/DiseasystoreGoogleCovid19.R:20-22``).

Spark reads ``.csv`` and ``.csv.gz`` transparently. Schemas should be
passed explicitly in production (inference costs an extra scan); the
``n_max`` row limit mirrors the reference's test/vignette mode. A
schema inferred for a local file is reused while the file's size and
mtime are unchanged, so a re-read runs no inference job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from diseasystore_spark.trace import phase

#: local file path -> ((size, mtime_ns), the schema inferred at that
#: state); one entry per path, replaced when the file changes
_INFERRED: dict[str, tuple[tuple[int, int], StructType]] = {}


def read_csv_source(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    n_max: int | None = None,
) -> DataFrame:
    reader = spark.read.option("header", True)
    key = state = None
    if schema is None and os.path.isfile(path):
        st = os.stat(path)
        key, state = os.path.abspath(path), (st.st_size, st.st_mtime_ns)
        seen, cached = _INFERRED.get(key, (None, None))
        if seen == state:
            schema = cached
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    with phase("source.read_csv"):  # schema inference runs a job
        df = reader.csv(path)
    if key is not None and schema is None:
        _INFERRED[key] = (state, df.schema)
    if n_max is not None:
        df = df.limit(n_max)
    return df

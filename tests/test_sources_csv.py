"""CSV source reads: a schema inferred for a local file is reused while
the file is unchanged, so only the first read runs inference jobs."""

from __future__ import annotations

import os

from diseasystore_spark import trace
from diseasystore_spark.sources.csv import read_csv_source


def _read_jobs(spark, path):
    with trace.collect() as records:
        df = read_csv_source(spark, path)
    (rec,) = [r for r in records if r.path == "source.read_csv"]
    return df, len(rec.job_ids)


def test_inferred_schema_is_reused_until_the_file_changes(spark, tmp_path):
    path = str(tmp_path / "cases.csv")
    with open(path, "w") as f:
        f.write("key,n,date\na,1,2020-01-01\nb,2,2020-01-02\n")
    first, jobs = _read_jobs(spark, path)
    assert jobs > 0
    second, jobs = _read_jobs(spark, path)
    assert jobs == 0
    assert second.schema == first.schema
    assert sorted(map(tuple, second.collect())) == sorted(map(tuple, first.collect()))

    # a rewritten file (new size and mtime) is inferred again
    with open(path, "w") as f:
        f.write("key,n,date\na,1.5,2020-01-01\n")
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    third, jobs = _read_jobs(spark, path)
    assert jobs > 0
    assert dict(third.dtypes)["n"] == "double"

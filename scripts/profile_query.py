"""Per-query profiler: isolated wall time with the noop sink, Spark
job/stage counts, and (optionally) the formatted plan. Usage:

    python scripts/profile_query.py [sf_dir] query [query ...]
    PROFILE_REPEAT=3 python scripts/profile_query.py sf_dir q82_triangle_counts

Prints one line per run: query, wall seconds, #jobs, #stages, #tasks,
and the Py4J commands the build phase sent to the JVM. The
construction phase (eager probes, localCheckpoints) is timed
separately from the noop-sink action so the cost split is visible.
A build that runs no Spark job is all driver-JVM traffic: run with
PROFILE_REPEAT=2 and read the second (warm) run's ``py4j`` count.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:]
    repeat = int(os.environ.get("PROFILE_REPEAT", "1"))

    import py4j.clientserver

    from diseasystore_spark.queries import QUERIES
    from diseasystore_spark.session import get_spark

    sent = [0]
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command):
        sent[0] += 1
        return send(self, command)

    py4j.clientserver.ClientServerConnection.send_command = counting

    spark = get_spark("profile")
    sc = spark.sparkContext
    # Warm the JVM the same way bench.py does.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    import tempfile

    _warm = tempfile.mkdtemp(prefix="prof_warm_")
    spark.range(1000).repartition(4).write.mode("overwrite").parquet(_warm)
    spark.read.parquet(_warm).count()
    # Warm the Python worker pool the same way bench.py does (round
    # 11): fork+import of ~32 workers is session init, not query cost.
    from bench import _warm_python_workers

    _warm_python_workers(spark)

    import gc

    for name in names:
        fn = QUERIES[name]
        for i in range(repeat):
            group = f"prof-{name}-{i}"
            sc.setJobGroup(group, name)
            sent[0] = 0
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t_build = time.perf_counter() - t0
            n_py4j = sent[0]
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t_sink = time.perf_counter() - t1
            st = sc.statusTracker()
            job_ids = st.getJobIdsForGroup(group)
            n_stages = 0
            n_tasks = 0
            for jid in job_ids:
                ji = st.getJobInfo(jid)
                if ji is None:
                    continue
                for sid in ji.stageIds:
                    si = st.getStageInfo(sid)
                    if si is not None and si.numTasks > 0:
                        n_stages += 1
                        n_tasks += si.numTasks
            print(
                f"{name} run{i}: total={t_build + t_sink:.3f}s "
                f"(build={t_build:.3f} sink={t_sink:.3f}) "
                f"jobs={len(job_ids)} stages={n_stages} tasks={n_tasks} "
                f"py4j={n_py4j}",
                flush=True,
            )
            sc.setJobGroup(None, None)
            del df
            gc.collect()
            sc._jvm.System.gc()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

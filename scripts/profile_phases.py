"""Profile the engine from its own phase records
(``diseasystore_spark.trace``), in a fresh JVM warmed as bench.py warms
it. Three modes:

    python scripts/profile_phases.py queries --sf DIR [--repeat N] QUERY ...
    python scripts/profile_phases.py engine [--repeat N]
    python scripts/profile_phases.py conformance [--repeat N]

``queries``: one line per run of each registry query: build and sink
(noop writer) wall time, Spark jobs, stages and tasks, and the Py4J
commands the build sent (the tracer's own not counted; a warm build is
the second run, ``--repeat 2``); then the engine phases it ran, with
their jobs and the automatic choices noted on them, and its heaviest
stages with tasks, executor run and CPU time, shuffle-read rows and
input rows.

``engine`` and ``conformance``: bench.py's baseline workloads
(get_feature_32k, its memoized call, key_join_3k2) or its scaled
conformance workload, ``--repeat`` times untraced (one JSON line of
bench.py's figures each), then once traced: its JSON line and markdown
tables of calls, wall seconds, jobs, stages, tasks, shuffle-write
bytes and executor run seconds, summed per phase path for each
baseline; for conformance, per check and per phase name across its
worker threads.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import tempfile
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench  # noqa: E402
from diseasystore_spark import trace  # noqa: E402

# the top-level engine calls of bench._baseline_workloads, in order;
# each is followed by its .count() sink
BASELINE_CALLS = (
    ["warm-up"] * 3
    + ["get_feature_32k"] * 2
    + ["get_feature_32k_memoized"] * 2
    + ["key_join_3k2 set-up"] * 2
    + ["key_join_3k2"]
)


def session():
    from diseasystore_spark.session import get_spark

    spark = get_spark("profile")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    with tempfile.TemporaryDirectory(prefix="profile_warm_") as warm:
        spark.range(1000).repartition(4).write.mode("overwrite").parquet(warm)
        spark.read.parquet(warm).count()
    bench._warm_python_workers(spark)
    return spark


def table(title: str, records: list[trace.Record], by_name=False) -> None:
    rows: dict[str, list[float]] = defaultdict(lambda: [0] * 7)
    for r in records:
        row = rows[r.name if by_name else r.path]
        for i, v in enumerate((
            1, r.wall_s, r.jobs, len(r.stages), r.total("tasks"),
            r.total("shuffle_write_bytes"), r.total("executor_run_s"),
        )):
            row[i] += v
    print(f"\n#### {title}\n")
    print("| phase | calls | wall s | jobs | stages | tasks | shuffle B | run s |")
    print("|---|--:|--:|--:|--:|--:|--:|--:|")
    for path, (n, wall, jobs, stages, tasks, shuffle, run) in rows.items():
        name = "· " * path.count("/") + path.rpartition("/")[2]
        print(
            f"| {name} | {n} | {wall:.3f} | {jobs} | {stages} | {tasks:.0f} "
            f"| {shuffle:.0f} | {run:.2f} |"
        )


def queries(spark, sf: str, names: list[str], repeat: int) -> None:
    import py4j.clientserver

    from diseasystore_spark.queries import QUERIES

    sent = [0]
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command):
        frame = sys._getframe(1)
        while frame is not None and frame.f_code.co_filename != trace.__file__:
            frame = frame.f_back
        sent[0] += frame is None
        return send(self, command)

    py4j.clientserver.ClientServerConnection.send_command = counting
    for name in names:
        for i in range(repeat):
            with trace.collect() as records:
                sent[0] = 0
                with trace.phase("query.build", query=name):
                    df = QUERIES[name](spark, sf)
                n_py4j = sent[0]
                with trace.phase("query.sink"):
                    df.write.format("noop").mode("overwrite").save()
            build, sink = (r for r in records if r.parent is None)
            stages = {**build.stages, **sink.stages}
            print(
                f"{name} run{i}: total={build.wall_s + sink.wall_s:.3f}s "
                f"(build={build.wall_s:.3f} sink={sink.wall_s:.3f}) "
                f"jobs={build.jobs + sink.jobs} stages={len(stages)} "
                f"tasks={sum(s['tasks'] for s in stages.values())} "
                f"py4j={n_py4j}",
                flush=True,
            )
            for r in records:  # the engine phases and auto decisions inside
                if r.parent is not None:
                    print(f"   {r.path} {r.wall_s:.3f}s jobs={r.jobs} {r.info}")
            top = sorted(stages.items(), key=lambda kv: -kv[1]["executor_run_s"])
            for sid, s in top[:6]:
                print(
                    f"   stage={sid:4d} tasks={s['tasks']:4d} "
                    f"run={s['executor_run_s']:7.2f}s "
                    f"cpu={s['executor_cpu_s']:7.2f}s "
                    f"shRows={s['shuffle_read_rows']:9d} "
                    f"inRows={s['input_rows']:9d}",
                    flush=True,
                )
            del df
            gc.collect()
            spark.sparkContext._jvm.System.gc()


def traced_count(spark):
    """Run every ``DataFrame.count()`` as a ``sink`` phase, so the jobs
    of bench.py's sinks are attributed; returns the undo."""
    cls = type(spark.range(1))
    count = cls.count

    def counted(self):
        with trace.phase("sink"):
            return count(self)

    cls.count = counted
    return lambda: setattr(cls, "count", count)


def workload(spark, mode: str, repeat: int) -> None:
    run = {
        "engine": bench._baseline_workloads,
        "conformance": bench._conformance_workload,
    }[mode]
    for i in range(repeat):
        print(json.dumps({"run": i, **run(spark)}), flush=True)
    undo = traced_count(spark) if mode == "engine" else lambda: None
    try:
        with trace.collect() as records:
            out = run(spark)
    finally:
        undo()
    print(json.dumps({"run": "traced", **out}), flush=True)
    if mode == "conformance":
        # per check, then every phase summed by name across threads:
        # SCD2 writes, checksum validation, CSV source reads, ...
        table("conformance_google_scaled_4x", [r for r in records if not r.parent])
        table("conformance_google_scaled_4x by phase name", records, by_name=True)
        return
    by_call: dict[str, list[trace.Record]] = defaultdict(list)
    calls = iter(BASELINE_CALLS)
    label = "unlabelled"
    for r in records:
        # a top-level engine call opens the next label, its sink joins it
        if r.parent is None and r.name != "sink":
            label = next(calls, "unlabelled")
        by_call[label].append(r)
    for label, recs in by_call.items():
        table(label, recs)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("mode", choices=("queries", "engine", "conformance"))
    ap.add_argument("names", nargs="*", help="registry queries (queries mode)")
    ap.add_argument(
        "--sf",
        default=os.environ.get("SPARK_GRAFT_SF_DIR"),
        help="TPC-H data directory (default: $SPARK_GRAFT_SF_DIR, as bench.py)",
    )
    ap.add_argument("--repeat", type=int, default=1)
    args = ap.parse_intermixed_args()
    if args.mode == "queries" and not (args.sf and args.names):
        ap.error("queries mode needs --sf (or $SPARK_GRAFT_SF_DIR) and names")
    spark = session()
    if args.mode == "queries":
        queries(spark, args.sf, args.names, args.repeat)
    else:
        workload(spark, args.mode, args.repeat)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Feature-store benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Starts a local Spark session on
``local[nproc]``, makes the workload's inputs from the seed, times the
workload's set-up three times (the first on a cold JVM), runs one
untimed warm round, then repeats rounds of the workload (closed loop,
one client) for about ``--seconds``. Every operation's output is
checked.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones of ``BENCHMARK.json``; with ``--trace 1`` the run
measures half its time untraced and half with the layer wrappers of
``perfbench/tracer.py`` installed, and the metrics are the per-layer
ones. Lines before it are ``#`` comments: host facts, the op-level
figures and, when traced, the per-layer table.

Everything the run writes goes under ``.perfbench/`` in the checkout;
the work directory is removed at exit, the span file of a traced run
is kept in ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
OUT = ROOT / ".perfbench"
SETUP_REPEATS = 3
# Wall seconds of ``calibrate`` on a quiet 4-core host. Gated times are
# reported as seconds on that host: measured wall time x CALIB_REF_S /
# the calibration time measured in the same run, between the rounds.
CALIB_REF_S = 0.3


def _median(xs) -> float:
    """Median, or 0.0 when every sample failed (the run then reports
    ``correct: false``)."""
    return float(statistics.median(xs)) if xs else 0.0


def tail(samples: list[float]) -> tuple[float, float, int] | None:
    """Highest percentile with at least ten samples beyond it:
    ``(value, percentile, n)``, or None below eleven samples."""
    n = len(samples)
    if n < 11:
        return None
    return sorted(samples)[n - 11], 100.0 * (n - 10) / n, n


def headline(wl, samples: dict, by_query: dict) -> float:
    """Median of the workload's headline op; for the registry, the
    geometric mean over queries of each query's median (a median over a
    few queries of unequal cost would jump from one query to another)."""
    if by_query:
        return statistics.geometric_mean([_median(xs) for xs in by_query.values()])
    return _median(samples[wl.headline])


def calibrate(spark) -> float:
    """Wall seconds of a fixed Spark job that runs no code of the
    package: three tiny jobs (scheduling overhead) and one hash
    aggregate over 4M rows (compute). Timed between the rounds, it
    tracks how fast the host runs at that moment: on a shared host the
    CPU time the hypervisor steals moves from minute to minute, and with
    it every wall time, by up to 2x between runs."""
    n = spark.sparkContext.defaultParallelism
    t0 = time.perf_counter()
    for _ in range(3):
        spark.range(0, 1000, numPartitions=n).selectExpr("sum(id)").collect()
    spark.range(0, 4_000_000, numPartitions=n).selectExpr(
        "sum(pmod(xxhash64(id), 1000003))").collect()
    return time.perf_counter() - t0


def configure_env(work: Path) -> dict:
    """Keep every file the run writes inside the checkout, and make the
    package importable by Spark's Python workers whatever the cwd."""
    tmp, local = work / "tmp", work / "local"
    tmp.mkdir(parents=True)
    local.mkdir()
    inherited_local = os.environ.get("SPARK_LOCAL_DIRS")
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", "unset"),
        "spark_cpus": int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4)),
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "SPARK_LOCAL_DIRS": "<checkout>/.perfbench/work-<pid>/local"
        + (f" (inherited {inherited_local} not used)" if inherited_local else ""),
        "flush_policy": "local filesystem through the page cache, no fsync",
    }


def start_session(work: Path, traced: bool):
    """The session, and the seconds it took to start."""
    from diseasystore_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    if traced:  # keep every job and stage for the end-of-run summary
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def measure(wl, rec, seconds: float, calib: list[float] | None = None) -> list[float]:
    """Closed loop: whole rounds for about ``seconds`` (at least one),
    ending at the round boundary nearest the target. Returns the wall
    seconds of each round; with ``calib``, calibrates before each round
    and after the last."""
    rounds = []
    t_end = time.perf_counter() + seconds
    while True:
        if calib is not None:
            calib.append(calibrate(wl.spark))
        t0 = time.perf_counter()
        wl.round(rec)
        rounds.append(time.perf_counter() - t0)
        if time.perf_counter() + rounds[-1] / 2 >= t_end:
            if calib is not None:
                calib.append(calibrate(wl.spark))
            return rounds


def op_report(wl, rec, rounds: list[float], setup_wall: float,
              calib: list[float]) -> dict[str, dict]:
    """The measured wall-clock figures of this workload, printed as
    comments (the gated metrics of the last line are these, scaled to
    the reference host)."""
    s = rec.samples
    out = {"calibration_s": {"value": _median(calib), "unit": "s", "n": len(calib)},
           "setup_wall_s": {"value": setup_wall, "unit": "s"},
           "round_wall_s": {"value": _median(rounds), "unit": "s", "n": len(rounds)},
           "op_wall_s": {"value": headline(wl, s, rec.by_query), "unit": "s"}}
    for name, kind in (("get_feature_hit_s", "hit"), ("update_s", "update"),
                       ("time_travel_s", "time_travel"), ("query_s", "query")):
        if s.get(kind):
            out[name] = {"value": _median(s[kind]), "unit": "s", "n": len(s[kind])}
    t = tail(s.get(wl.headline, []))
    if t is not None:
        out[f"{wl.headline}_tail_s"] = {"value": t[0], "unit": "s",
                                        "percentile": round(t[1], 1), "n": t[2]}
    for q, xs in sorted(rec.by_query.items()):
        out[f"query.{q}_s"] = {"value": _median(xs), "unit": "s", "n": len(xs)}
    if rec.by_query:
        out["registry_total_s"] = {"value": _median(rounds), "unit": "s", "n": len(rounds)}
    for k, v in wl.facts().items():
        out[k] = {"value": v, "unit": "B/row" if k.endswith("per_row") else "count"}
    out["op_fail_ratio"] = {"value": rec.failed / max(1, rec.attempted), "unit": "ratio",
                            "failed": rec.failed, "attempted": rec.attempted}
    return out


def run(args, work: Path) -> dict:
    host = configure_env(work)
    print("# host " + json.dumps(host), flush=True)
    from perfbench.tracer import JobStats, Tracer, install_layer_wraps, summarize
    from perfbench.workloads import DEFAULT_SF, REGISTRY_LIST, WORKLOADS, Recorder

    traced = bool(args.trace)
    spark, jvm_s = start_session(work, traced)
    try:
        sc = spark.sparkContext
        sf = args.sf if args.sf is not None else DEFAULT_SF[args.workload]
        wl = WORKLOADS[args.workload](spark, str(work / "data"), args.seed, sf)
        os.makedirs(wl.work)
        wl.prepare()
        # the first set-up runs on a cold JVM; the median discounts it
        setups = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t0)
        checks = Recorder()
        t0 = time.perf_counter()
        wl.round(checks)  # the untimed warm replicate
        warm_s = time.perf_counter() - t0
        calibrate(spark)  # warm the calibration job too
        calib = [calibrate(spark)]
        print(f"# phases jvm={jvm_s:.2f}s setups={sum(setups):.2f}s warm={warm_s:.2f}s",
              flush=True)
        rec = Recorder()
        if not traced:
            rounds = measure(wl, rec, args.seconds, calib)
            scale = CALIB_REF_S / _median(calib)
            setup_wall = jvm_s + _median(setups)
            metrics = {
                "setup_s": {"value": setup_wall * scale, "unit": "s"},
                "round_s": {"value": _median(rounds) * scale, "unit": "s"},
                "op_s": {"value": headline(wl, rec.samples, rec.by_query) * scale,
                         "unit": "s"},
            }
            for k, v in op_report(wl, rec, rounds, setup_wall, calib).items():
                print(f"# {k} " + json.dumps(v), flush=True)
            print("# samples " + json.dumps({"setup": setups, "round": rounds,
                                             "calibration": calib, **rec.samples}),
                  flush=True)
        else:
            # half the time untraced, half traced, each from a fresh set-up
            wl.setup()
            rounds = measure(wl, rec, args.seconds / 2)
            tracer = Tracer(lambda: int(sc._jsc.sc().dagScheduler().nextJobId()))
            install_layer_wraps(tracer)
            rec_t = Recorder(tracer, sc)
            try:
                rec_t.op("cold", wl.setup)
                rounds_t = measure(wl, rec_t, args.seconds / 2)
            finally:
                tracer.unwrap_all()
            rec.attempted += rec_t.attempted
            rec.failed += rec_t.failed
            layer = summarize(tracer.spans, JobStats(sc).of_range, list(REGISTRY_LIST))
            layer["session.jvm_start_s"] = jvm_s
            layer["session.warm_s"] = warm_s
            untraced = _median(rounds)
            layer["trace.overhead_s"] = _median(rounds_t) - untraced
            layer["trace.overhead_ratio"] = layer["trace.overhead_s"] / untraced
            print(f"# trace.rounds untraced={len(rounds)} traced={len(rounds_t)}")
            for k in sorted(layer):
                print(f"# layer {k} = {layer[k]:.6g}")
            traces = OUT / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            path = traces / f"{args.workload}-seed{args.seed}.jsonl"
            with open(path, "w") as f:
                for s in tracer.spans:
                    f.write(json.dumps(s.__dict__, default=str) + "\n")
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layer.items()}
        failed = rec.failed + checks.failed
        return {
            "correct": failed == 0,
            "attempted": rec.attempted + checks.attempted,
            "failed": failed,
            "metrics": metrics,
        }
    finally:
        stop_session(spark)


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "B"
    if name.endswith(("ratio", "bucket_days")):
        return "ratio" if name.endswith("ratio") else "days"
    return "count"


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None,
                   help="override the workload's input scale (smoke tests)")
    args = p.parse_args(argv)
    if not (ROOT / "diseasystore_spark" / "__init__.py").is_file():
        print(f"perfbench: no diseasystore_spark package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = OUT / f"work-{os.getpid()}"
    work.mkdir(parents=True)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

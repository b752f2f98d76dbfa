#!/usr/bin/env python3
"""Seeded batch (release + curate) / serve benchmark of gramene_mongodb_spark.

    python3 perfbench/run.py --workload {batch,serve} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from ``--seed`` by
``perfbench/datagen.py`` (the package only sees the parquet directory),
every output is checked against the catalog's DuckDB oracle, and the last
stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics (spans from this process only) with ``--trace 1``. Exit status is
0 only when every operation succeeded and matched its oracle.

End-to-end metrics (every workload):

* ``setup_s`` — what a caller pays before the first request: the
  package's session started in a fresh JVM plus one warm-up query
  (generation and oracle evaluation are excluded). It is one cold start
  per run, as a second one would add about 17 s to every run on a 4-core
  machine; across seeds it spreads less than a warm in-JVM restart does.
* ``work_s`` — wall time of the workload's unit: the median batch pass
  (release build + re-release + curate phase), or the mean serve request.

Peak RSS (JVM plus Python process over the measured phase) varies by more
than a tenth between seeds, so it is the layer metric ``spark.rss_peak_mb``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
E2E_METRICS = {"setup_s": "s", "work_s": "s"}


def pin_environment(run_dir: str) -> dict:
    """Pin everything the package reads from the environment before
    pyspark starts the JVM: core count, Spark local and temp dirs inside
    the run's own directory, and the repo on PYTHONPATH (Python UDF
    workers import the package by name)."""
    ncpu = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prev if prev else "")
    # every JVM (spark-submit's launcher and Spark's own): temp files in the
    # checkout, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        # keep every job and stage of a run in the status store
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        "pyspark-shell",
    ])
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    return {"nproc": ncpu, "loadavg_start": os.getloadavg()[0],
            "python": platform.python_version()}


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, sample count). Needs at least 11 samples."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        raise ValueError(f"{n} samples: no percentile has ten beyond it")
    return xs[n - 11], 100.0 * (n - 10) / n, n


def _status_kb(pid, key: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def reset_peaks(pids) -> None:
    """Reset VmHWM of each process (Linux clear_refs 5); where that is not
    permitted the peak also covers generation and setup."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def setup(warm_dir: str):
    """Start the package's session (launching its JVM) and run one warm-up
    query. Returns the session, the start seconds and the set-up seconds
    (start plus warm-up)."""
    from gramene_mongodb_spark import catalog
    from gramene_mongodb_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    catalog.q01_pricing_summary(spark, warm_dir).collect()
    return spark, t1 - t0, time.perf_counter() - t0


def shutdown(spark) -> None:
    """Stop the session (if any) and the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("batch", "serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "gramene_mongodb_spark"))
            and os.path.isfile(os.path.join(ROOT, "tests", "oracle.py"))):
        print("perfbench: run from a checkout of the repository "
              "(gramene_mongodb_spark/ and tests/oracle.py not found)", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    env = pin_environment(run_dir)

    from checks import Ledger
    from datagen import Spec, generate
    from spans import LAYER_METRICS, Tracer, gc_seconds, jobs_by_group, summarize
    from workloads import WORKLOADS

    cache = os.path.join(WORK, "data")
    ledger = Ledger()
    wl = WORKLOADS[args.workload](ledger, run_dir)
    spark = None
    try:
        t0 = time.perf_counter()
        warm = generate(Spec(seed=args.seed, sf=0.001, tables=("lineitem",)), cache)["dir"]
        manifest = wl.prepare(args.seed, cache)
        prep_s = time.perf_counter() - t0

        spark, start_s, setup_s = setup(warm)
        wl.spark, wl.t = spark, Tracer(spark)
        env.update({"spark": spark.version,
                    "java": spark._jvm.java.lang.System.getProperty("java.version")})
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        if args.trace:
            wl.t.install()
        reset_peaks((jvm_pid, "self"))
        gc0, m0 = gc_seconds(spark), time.perf_counter()
        recs = wl.run(args.seconds, bool(args.trace))
        gc1, m1 = gc_seconds(spark), time.perf_counter()
        peak_mb = (_status_kb(jvm_pid, "VmHWM") + _status_kb("self", "VmHWM")) / 1024.0

        def med(rs, key="work_s"):
            return statistics.median(r[key] for r in rs)

        work_s = wl.summary(r["work_s"] for r in recs)

        detail = {"workload": args.workload, "seed": args.seed, "env": env,
                  "inputs": {k: manifest.get(k) for k in ("rows", "bytes", "near_dup_rate")},
                  "prepare_s": prep_s, "setup_s": setup_s, "session_start_s": start_s,
                  "measured_s": m1 - m0, "units": len(recs), "work_s": work_s,
                  "peak_rss_mb": peak_mb,
                  "error_rate": ledger.error_rate, "errors": ledger.errors[:20]}
        for key in ("release_s", "rerelease_s", "curate_s"):
            if key in recs[0]:
                detail[key] = med(recs, key)
        if args.workload == "serve":
            lat = [r["work_s"] * 1000 for r in recs]
            detail["serve_p50_ms"] = statistics.median(lat)
            detail["serve_qps"] = len(recs) / wl.elapsed
            if len(lat) >= 11:
                v, pct, n = tail(lat)
                detail["serve_tail_ms"] = {"value": v, "percentile": pct, "samples": n}

        if args.trace:
            wl.t.uninstall()
            groups = {s.group for s in wl.t.spans.values()}
            jobs = jobs_by_group(spark, groups)
            extras = {"session.start_s": start_s,
                      "spark.rss_peak_mb": peak_mb,
                      "spark.gc_s": (gc1 - gc0) / len(recs),
                      "trace.work_s": work_s,
                      "pipelines.resume_hit_s": med(recs, "resume_hit_s") if "resume_hit_s" in recs[0] else 0.0}
            for key in ("io.rows_written", "io.bytes_written", "io.files_written",
                        "io.write_amp", "pipelines.stages_run"):
                extras[key] = statistics.median(r.get(key, 0) for r in recs)
            values = summarize(wl.t, jobs, len(recs), extras)
            units = LAYER_METRICS
            trace_file = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
            os.makedirs(os.path.dirname(trace_file), exist_ok=True)
            wl.t.dump(trace_file, jobs)
            detail["trace_file"] = os.path.relpath(trace_file, ROOT)
        else:
            values = {"setup_s": setup_s, "work_s": work_s}
            units = E2E_METRICS
    except Exception as exc:  # noqa: BLE001 — report, then fail the run
        ledger.exception("run", exc)
        print(f"perfbench: {ledger.errors[-1]}", file=sys.stderr)
        return 1
    finally:
        if "pyspark" in sys.modules:
            shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    detail["max_rss_python_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    print("# " + json.dumps(detail, default=str))
    for e in ledger.errors[:20]:
        print(f"# FAILED {e}")
    result, code = result_line(ledger, values, units)
    print(json.dumps(result))
    return code


def result_line(ledger, values: dict, units: dict) -> tuple[dict, int]:
    """The final stdout object and the exit status: non-zero when any
    operation raised or did not match its oracle."""
    result = {
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
    return result, 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Lake-format benchmark of paimon_python_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 10 --trace 0

Workloads: ``cdc_ingest``, ``pk_read``, ``append_log`` (see README.md).
The run generates its inputs from ``--seed``, starts one Spark session on
``local[<cores>]``, warms every timed operation type on a tiny table,
builds the measured table (``setup_s`` is the session start plus the
warm-up plus the build), runs a closed loop for ``--seconds`` and checks
every answer against an independent model.

It prints a report of every metric, then as its last line one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones. Everything it writes stays under
``.perfbench_work/`` in the checkout and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPORT_ONLY_LAYERS = ("compact.ms", "compact.jobs", "compact.bytes_rewritten",
                      "expire.ms", "expire.files_deleted")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def tail(xs):
    """(percentile, value) of the highest percentile with at least ten
    samples above it, or None below eleven samples."""
    xs = sorted(xs)
    if len(xs) < 11:
        return None
    return 100.0 * (len(xs) - 10) / len(xs), xs[len(xs) - 11]


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0  # only when the loop failed


def start_session(work: str, cores: int, trace: bool, name: str):
    from pyspark.sql import SparkSession

    from paimon_python_spark.session import configure_builder, set_spark

    b = configure_builder(
        SparkSession.builder.master(f"local[{cores}]").appName(f"perfbench-{name}"),
        shuffle_partitions=cores,
    )
    b = (
        b.config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "spark-warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    )
    if trace:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", os.path.join(work, "events"))
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    set_spark(spark)
    return spark


def stop_session(spark):
    """Stop Spark and wait until the JVM it launched has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def loop_ms(rec, kind, key="ms"):
    """``key`` of every loop operation of ``kind`` that succeeded."""
    return [o[key] for o in rec.loop_ops(kind) if o["ok"] and key in o]


def report(w, rec, elapsed, space_amp, setup_s, error_rate) -> dict:
    """Every end-to-end metric of the workload under its own name."""
    out = {"setup_s": (setup_s, "s")}
    rows = {}
    for kind in ("commit", "compact", "scan", "proj", "lookup", "agg"):
        ms = loop_ms(rec, kind)
        if not ms:
            continue
        name = {"agg": "scan", "proj": "proj_scan"}.get(kind, kind)
        out[f"{name}_p50_ms"] = (median(ms), "ms")
        out[f"{name}_cpu_ms"] = (median(loop_ms(rec, kind, "cpu_ms")), "ms")
        if kind != "compact":
            t = tail(ms)
            out[f"{name}_tail_ms"] = (
                (t[1], f"ms p{t[0]:.0f} n={len(ms)}") if t else (None, f"ms n={len(ms)} < 11")
            )
        rows[kind] = sum(o["rows"] for o in rec.loop_ops(kind) if o["ok"]), sum(ms) / 1000
    if "commit" in rows:
        out["ingest_rows_per_s"] = (rows["commit"][0] / rows["commit"][1], "rows/s")
    if w.name == "pk_read" and "scan" in rows:
        out["scan_rows_per_s"] = (rows["scan"][0] / rows["scan"][1], "rows/s")
    if w.staged_bytes:
        out["write_amp"] = (w.write_amp(), "ratio")
    out["space_amp"] = (space_amp, "ratio")
    out["error_rate"] = (error_rate, "ratio")
    out["ops_per_s"] = (len(rec.loop_ops_all()) / elapsed, "1/s")
    return out


def failed_result(ops) -> dict:
    """The result of a run that broke off before its loop finished."""
    return {"correct": False, "attempted": max(1, len(ops)),
            "failed": max(1, sum(not o["ok"] for o in ops)), "metrics": {}}


def run(args, work: str) -> dict:
    from perfbench import trace as tr
    from perfbench.workloads import WORKLOADS

    cls = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    trace = bool(args.trace)

    t0 = time.perf_counter()
    spark = start_session(work, cores, trace, cls.name)
    session_s = time.perf_counter() - t0
    warm_rec = tr.Recorder(spark, False)
    rec = tr.Recorder(spark, trace)
    try:
        try:
            # warm-up: one untimed operation of every timed type, on a tiny table
            t0 = time.perf_counter()
            warm = cls(spark, warm_rec, args.seed, work, tiny=True)
            os.makedirs(os.path.join(work, "warm"))
            warm.warm_up(os.path.join(work, "warm"))
            warm_s = time.perf_counter() - t0

            rec.trace_setup = trace
            os.makedirs(os.path.join(work, "bench"))
            t0 = time.perf_counter()
            w = cls(spark, rec, args.seed, work)
            w.bootstrap(os.path.join(work, "bench"))
            w.grow()
            build_s = time.perf_counter() - t0
            w.prepare_model()
            t0 = time.perf_counter()
            w.warm_heavy()
            build_s += time.perf_counter() - t0
        except Exception:
            traceback.print_exc()
            print("FAILED set-up raised", file=sys.stderr)
            return failed_result(warm_rec.ops + rec.ops)
        setup_s = session_s + warm_s + build_s

        elapsed = w.run_loop(args.seconds)
        try:
            w.verify()
            space_amp = w.space_amp()
        except Exception:
            traceback.print_exc()
            w.failures.append("verify raised")
            space_amp = 0.0
        live = w.live() if trace else None
    finally:
        stop_session(spark)

    # every checked operation: the warm-up's, the loop's and the final check
    failures = w.failures + warm.failures
    checked = [o for o in rec.ops if o["phase"] != "setup"] + warm_rec.ops
    attempted = len(checked)
    failed = max(sum(not o["ok"] for o in checked), 1 if failures else 0)
    for f in failures:
        print(f"FAILED {f}", file=sys.stderr)
    e2e = report(w, rec, elapsed, space_amp, setup_s, failed / attempted)

    print(f"workload {cls.name} seed {args.seed} cores {cores} "
          f"loop {elapsed:.1f} s session {session_s:.2f} s warm {warm_s:.2f} s "
          f"build {build_s:.2f} s")
    for name, (value, unit) in e2e.items():
        shown = "n/a" if value is None else f"{value:.4g}"
        print(f"  {name:<22} {shown:>12} {unit}")

    if trace:
        groups = tr.parse_event_log(os.path.join(work, "events"))
        layers = tr.layer_metrics(rec, groups, cores, live, cls.light)
        for kind, acc in tr.accounting(rec, groups).items():
            shown = {k: round(v, 3) if isinstance(v, float) else v for k, v in acc.items()}
            print(f"  accounting {kind:<8} {json.dumps(shown)}")
        # compaction and expiry run only in cdc_ingest: reported, not gated
        for name in REPORT_ONLY_LAYERS:
            if rec.loop_ops(name.split(".")[0]):
                print(f"  {name:<28} {layers[name]:.6g} {tr.unit_of(name)}")
        metrics = {
            k: {"value": v, "unit": tr.unit_of(k)}
            for k, v in layers.items()
            if k not in REPORT_ONLY_LAYERS
        }
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "light_cpu_ms": {"value": median(loop_ms(rec, cls.light, "cpu_ms")), "unit": "ms"},
            "heavy_cpu_ms": {"value": median(loop_ms(rec, cls.heavy, "cpu_ms")), "unit": "ms"},
            "space_amp": {"value": space_amp, "unit": "ratio"},
        }
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    sys.path.insert(0, ROOT)
    try:
        import paimon_python_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(work, "events"), exist_ok=True)
    # Python workers import the program too, from whatever directory
    # Spark starts them in
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the JVMs would otherwise write their perf-data files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p
    )
    os.environ["TZ"] = "UTC"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    time.tzset()
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR if tempfile cached a directory
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

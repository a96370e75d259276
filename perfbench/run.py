#!/usr/bin/env python3
"""Linkage benchmark: one closed-loop client drives the public API of
blink_reloaded_spark on a local[nproc] session and checks every output.

    python3 perfbench/run.py --workload link_hot --seed 1 --seconds 10 --trace 0

Run from the repository root. The workloads are in perfbench/workloads.py
and the layer map in perfbench/README.md. The last stdout line is one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. The line
before it holds the details: input properties, every op's wall, CPU and
canary, the set-up repeats and, with --trace 1, the spans.

A run: start the Spark session once, make the inputs SETUP_REPS times, and
report setup_s as the session start plus the median input set-up; build
the check references; run the workload's warm-up units, which also start
the Python UDF workers; then run units until --seconds have passed, at
least MIN_UNITS. A traced run alternates untraced and traced units, so the
tracing overhead is measured in the same window.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".perfbench_build"  # kept across runs in a checkout
SETUP_REPS = 3
# A median of three is not pulled up by one op that a busy moment on the
# shared box slows, nor by the first measured op, which is still warming up.
# More would not fit the hour a full check of 48 runs may take: a run is
# mostly JVM and Spark cold start.
MIN_UNITS = 3
TRACED_UNITS = 1  # a traced run's minimum of traced and of untraced units
DRIVER_MEMORY = "3g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_s": "s",
    "cpu_s": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
    "pairwise_f1": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def class_archive_option() -> str:
    """JVM option for an AppCDS archive of the classes a run loads, which
    halves JVM start here: map the checkout's archive when it has one;
    else, on its first run, dump one when the JVM exits (see
    finish_class_archive). An archive cannot be used with a non-empty
    directory on the class path, so the Spark conf dir is pointed at an
    empty one; a run reads no Spark conf files either way."""
    conf = BUILD / "spark-conf"
    conf.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_CONF_DIR"] = str(conf)
    archive = BUILD / "classes.jsa"
    if archive.exists():
        return f"-XX:SharedArchiveFile={archive}"
    tried = BUILD / "classes.jsa.tried"
    if tried.exists():  # an earlier dump failed: run without an archive
        return ""
    tried.touch()
    return f"-XX:ArchiveClassesAtExit={BUILD / 'classes.jsa.part'}"


def finish_class_archive() -> None:
    """Move an archive dumped at JVM exit into place (called after the JVM
    has exited, so a cut-off dump is never used)."""
    part = BUILD / "classes.jsa.part"
    if part.exists() and part.stat().st_size > 0:
        part.rename(BUILD / "classes.jsa")


def start_session(nproc: int, tmp: Path):
    from blink_reloaded_spark.session import get_spark

    java_opts = (
        f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp} "
        # JVM messages to stderr: stdout carries only the result lines
        f"-Xlog:disable -Xlog:all=warning:stderr {class_archive_option()}"
    )

    return get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.local.dir": str(tmp / "spark-local"),
            "spark.sql.warehouse.dir": str(tmp / "warehouse"),
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": java_opts,
        },
    )


def stop_session(spark, tree) -> None:
    """Stop Spark, end the JVM and wait until it and its workers are gone."""
    from pyspark import SparkContext

    from procs import wait_gone

    pids = tree.spark_pids() if tree else []
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits at end of its stdin
            proc.wait(timeout=300)  # a first run dumps the class archive
        SparkContext._gateway = None
        SparkContext._jvm = None
    wait_gone(pids)
    finish_class_archive()


def tail(values: list[float]) -> dict:
    """Highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return {"n": n, "percentile": None, "value": None}
    q = 1 - 10 / n
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    pct = int(q * 100)
    return {"n": n, "percentile": pct, "value": cuts[pct - 1]}


def main(argv=None) -> int:
    args = parse_args(argv)
    # run the cleanup below (stop the JVM, remove the temp dir) on SIGTERM too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    from blink_reloaded_spark.procstat import canary_seconds, tree_cpu_seconds
    from procs import PeakRss, ProcessTree
    from tracing import NoTrace, Tracer, layer_metrics
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    cls = WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    tmp = ROOT / ".perfbench_tmp" / f"{args.workload}-{os.getpid()}"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)

    spark = tree = None
    rss = PeakRss()
    log = lambda msg: print(f"[perfbench] {msg}", file=sys.stderr, flush=True)  # noqa: E731
    try:
        t0 = time.perf_counter()
        spark = start_session(nproc, tmp)
        tree = ProcessTree(spark.sparkContext._gateway.proc.pid)
        rss.start(tree)
        start_s = time.perf_counter() - t0
        inputs_s = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            w = cls(spark, args.seed, str(tmp))
            w.setup()
            inputs_s.append(time.perf_counter() - t0)
        log(f"session start {start_s:.2f}s, inputs {[round(x, 2) for x in inputs_s]}")
        t0 = time.perf_counter()
        w.prepare_checks()
        check_prep_s = time.perf_counter() - t0
        log(f"check prep {check_prep_s:.2f}s, inputs {w.props}")

        tracer = Tracer(spark, tree) if args.trace else NoTrace()
        if args.trace:
            for df in w.inputs():
                tracer.mark_done(df)
        ops: list[dict] = []

        def run_unit(traced: bool, phase: str) -> float:
            total = 0.0
            for kind in w.kinds:
                spark.sparkContext._jvm.System.gc()
                rec = {"phase": phase, "kind": kind, "traced": traced,
                       "canary_s": canary_seconds()}
                c0, t0 = tree_cpu_seconds(), time.perf_counter()
                try:
                    if traced:
                        with tracer.instrument():
                            out = w.op(kind, tracer)
                    else:
                        out = w.op(kind, NoTrace())
                    rec["wall_s"] = time.perf_counter() - t0
                    rec["cpu_s"] = tree_cpu_seconds() - c0
                    rec["failed_checks"] = w.check(kind, out)
                    w.release(out)
                except Exception as e:  # counted as a failed op, run goes on
                    traceback.print_exc()
                    rec["failed_checks"] = [f"raised {type(e).__name__}: {e}"]
                    rec.setdefault("wall_s", time.perf_counter() - t0)
                total += rec["wall_s"]
                ops.append(rec)
                log(f"{phase} {kind} traced={traced} {rec['wall_s']:.3f}s "
                    f"{rec['failed_checks'] or 'ok'}")
            if traced:
                tracer.collect_stages()
                tracer.forget()
            return total

        for _ in range(w.warmup_units):
            run_unit(False, "warmup")
        unit_s = {False: [], True: []}
        t_start = time.perf_counter()
        n_units = 0
        min_units = 2 * TRACED_UNITS if args.trace else MIN_UNITS
        while n_units < min_units or time.perf_counter() - t_start < args.seconds:
            traced = bool(args.trace) and n_units % 2 == 1
            unit_s[traced].append(run_unit(traced, "measure"))
            n_units += 1
        peak_rss_mb = rss.stop()

        measured = [o for o in ops if o["phase"] == "measure" and not o["traced"]]
        good = [o for o in measured if not o["failed_checks"]]
        primary = w.kinds[-1]
        walls = [o["wall_s"] for o in good if o["kind"] == primary]
        if not walls:
            raise RuntimeError("no measured op passed its checks")
        if args.trace:
            metrics = layer_metrics(
                tracer.spans, len(unit_s[True]), unit_s[True], unit_s[False]
            )
            units = {name: _layer_unit(name) for name in metrics}
        else:
            op_s = statistics.median(walls)
            metrics = {
                "setup_s": start_s + statistics.median(inputs_s),
                "op_s": op_s,
                "cpu_s": statistics.median(
                    o["cpu_s"] for o in good if o["kind"] == primary
                ),
                "rows_per_s": w.rows() / op_s,
                "peak_rss_mb": peak_rss_mb,
                "pairwise_f1": w.quality["f1"],
            }
            units = END_TO_END_UNITS
        failed = sum(1 for o in ops if o["failed_checks"])
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": nproc,
            "inputs": w.props,
            "quality": w.quality,
            "session_start_s": start_s,
            "inputs_reps_s": inputs_s,
            "check_prep_s": check_prep_s,
            "op_s_by_kind": {
                k: statistics.median(v)
                for k in w.kinds
                if (v := [o["wall_s"] for o in good if o["kind"] == k])
            },
            "op_s_tail": tail(walls),
            "canary_min_s": min(o["canary_s"] for o in ops),
            "ops": ops,
        }
        if args.trace:
            detail["spans"] = tracer.spans
        result = {
            "correct": failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {
                k: {"value": v, "unit": units[k]} for k, v in metrics.items()
            },
        }
    finally:
        rss.stop()
        try:
            if spark is not None:
                stop_session(spark, tree)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result), flush=True)
    return 0


def _layer_unit(name: str) -> str:
    stat = name.rsplit(".", 1)[1]
    if stat.endswith("_s"):
        return "s"
    if stat.endswith("_mb"):
        return "MB"
    if stat in ("tasks", "rows_out", "edges_in", "components"):
        return "count"
    return "ratio"


if __name__ == "__main__":
    sys.exit(main())

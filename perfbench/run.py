#!/usr/bin/env python3
"""Benchmark of the spark-graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 1 --trace 0

A run is one driver process at ``local[<cores this process may use>]``. It
imports the engine, prepares its inputs and expected answers (untimed),
starts the session, runs its first Spark job, and then times two passes of
the workload, each a closed loop: one client issues each operation after
the previous one returned. The first pass is the first of the workload in
its JVM, as it is for each run of a ``spark-submit`` job, so the JIT
compilation, code generation and Python worker start-up of the workload's
own code paths happen inside it; the second runs warm, as in a long-lived
session. Every end-to-end metric but ``setup_s`` and ``peak_rss_mb`` is
computed per pass and reported as the median over the two passes, their
mean: a burst of host load inside one pass then moves the result by half as
much. Both passes take far longer than the 1 s that ``BENCHMARK.json`` sets
for ``--seconds``. With ``--trace 1`` both timed passes are traced, and an
untraced third pass follows; the traced warm pass minus it is the tracing
overhead. The untraced pass is the warmer of the two, so any warm-up left in
the traced one counts against tracing and the overhead errs high. Every
result is checked against an answer computed in DuckDB; an operation that
raises or returns a wrong answer is recorded with its root cause and counted
as failed, and the run goes on.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Lines before it, starting with
``#``, give the width, load, failures and every end-to-end metric by name
and unit. The benchmark's inputs, caches, scratch files, spans and a full
JSON report go under ``.bench_build/perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "brazilian_e_commerce_data_pipeline_analytics_spark"
REQUIRED = (PACKAGE, "tools.driver_sim", "tests.fixtures_gen")
# Passes whose metrics the run reports: the JVM's first and one warm pass.
TIMED_PASSES = 2


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("curation", "etl"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument(
        "--seconds", type=float, required=True,
        help="lower bound on the measured time; a run times two passes, which take longer",
    )
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def missing_modules() -> list[str]:
    missing = []
    for name in REQUIRED:
        try:
            found = importlib.util.find_spec(name) is not None
        except ImportError:
            found = False
        if not found:
            missing.append(name)
    return missing


def root_cause(exc: BaseException) -> str:
    """``Class: message`` of the innermost cause, following Python
    ``__cause__`` links and then the JVM exception's ``getCause`` chain."""
    while exc.__cause__ is not None:
        exc = exc.__cause__
    # Py4JJavaError holds the JVM exception as java_exception, PySpark's
    # captured exceptions as _origin.
    java = getattr(exc, "java_exception", None) or getattr(exc, "_origin", None)
    if java is not None:
        try:
            while java.getCause() is not None:
                java = java.getCause()
            return f"{java.getClass().getName()}: {java.getMessage()}"[:500]
        except Exception:  # noqa: BLE001 — a dead JVM still leaves the Python message
            pass
    lines = str(exc).strip().splitlines()
    return f"{type(exc).__name__}: {lines[0] if lines else ''}"[:500]


class Runner:
    """Runs passes of one workload on one session."""

    def __init__(self, workload, spark, tracer, probe=None):
        self.workload = workload
        self.spark = spark
        self.tracer = tracer
        self.probe = probe
        self.failures: list[dict] = []
        self.attempted = 0

    def run_pass(self, no: int, traced: bool = False, extra: bool = False):
        from perfbench.metrics import OpRecord, PassResult
        from perfbench.probes import snapshot_files, tree_cpu_s, written_between

        tr, probe = self.tracer, self.probe if traced else None
        roots = self.workload.write_roots()
        try:
            self.spark.catalog.clearCache()
        except Exception as exc:  # noqa: BLE001 — a dead session fails every op below
            print(f"perfbench: clearCache failed: {root_cause(exc)}", file=sys.stderr)
        ops = self.workload.ops(self.spark, no)
        result = PassResult(no, traced=traced, extra=extra)
        outputs = []
        pass_span = tr.open(f"pass:{no}") if traced else None
        cpu0 = tree_cpu_s()
        for op in ops:
            rec = OpRecord(op.name)
            op_span = tr.open(f"op:{op.name}") if traced else None
            out = frame = None
            phase = "setup"
            try:
                self.spark.sparkContext.setJobGroup(f"perfbench:{op.name}", f"pass {no}")
                if probe is not None:
                    with tr.span("counters:mark"):
                        files = snapshot_files(roots)
                        mark = probe.mark()
                if op.build is not None:
                    phase = "build"
                    with tr.span(f"build:{op.name}", traced):
                        t0 = time.perf_counter()
                        frame = op.build()
                        rec.build_s = time.perf_counter() - t0
                    if probe is not None:
                        with tr.span(f"counters:{op.name}"):
                            rec.build = probe.since(mark)
                            mark = probe.mark()
                phase = "exec"
                with tr.span(f"exec:{op.name}", traced):
                    t0 = time.perf_counter()
                    out = op.execute(frame)
                    rec.exec_s = time.perf_counter() - t0
                phase = "counters"
                if probe is not None:
                    with tr.span(f"counters:{op.name}"):
                        rec.exec = probe.since(mark)
                        rec.writes = written_between(files, snapshot_files(roots))
            except Exception as exc:  # noqa: BLE001 — one failed operation must not end the run
                if phase in ("build", "exec"):
                    setattr(rec, f"{phase}_s", time.perf_counter() - t0)
                rec.error = root_cause(exc)
            tr.close(op_span)
            result.ops.append(rec)
            outputs.append((op, rec, out))
        result.cpu_s = tree_cpu_s() - cpu0
        with tr.span(f"check:{no}", traced):
            for op, rec, out in outputs:
                if rec.error is None:
                    try:
                        rec.error = op.check(out)
                        rec.result_rows = op.result_rows(out)
                    except Exception as exc:  # noqa: BLE001 — an unreadable result is a wrong one
                        rec.error = "check raised " + root_cause(exc)
                self.attempted += 1
                if rec.error is not None:
                    self.failures.append(
                        {"pass": no, "extra": extra, "op": op.name, "error": rec.error}
                    )
        tr.close(pass_span)
        self.workload.end_pass(no)
        return result


def warm_up(spark) -> None:
    """Run the session's first job, a small aggregation with a shuffle, so
    that no operation pays for starting the scheduler. The Python worker
    pool, Arrow and the parquet reader and writer are left to the first
    operation that uses them, as in a fresh ``spark-submit`` job."""
    from pyspark.sql import functions as F

    spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count().collect()


def start_session(cpus: int, run_dir: str):
    from brazilian_e_commerce_data_pipeline_analytics_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        app_name="perfbench",
        cpus=cpus,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    from pyspark import SparkContext

    from perfbench.probes import process_tree

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    except Exception as exc:  # noqa: BLE001 — a JVM that already died cannot stop cleanly
        print(f"perfbench: stopping Spark failed: {root_cause(exc)}", file=sys.stderr)
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout_s
    while len(process_tree()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def run(args: argparse.Namespace, run_dir: str, cache_dir: str) -> dict:
    from perfbench import metrics
    from perfbench.probes import SparkProbe, Tracer, children_peak_rss_mib, steal_s
    from perfbench.workloads import WORKLOADS

    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    load_start = os.getloadavg()
    run_id = uuid.uuid4().hex[:12]
    tracer = Tracer(run_id, enabled=bool(args.trace))
    workload = WORKLOADS[args.workload](ROOT, cache_dir, run_dir, args.seed)

    with tracer.span("session:import"):
        t0 = time.perf_counter()
        from brazilian_e_commerce_data_pipeline_analytics_spark.registry import all_queries

        registry = all_queries()
        import_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    workload.prepare(registry)
    prep_s = time.perf_counter() - t0

    with tracer.span("session:start"):
        t0 = time.perf_counter()
        spark = start_session(cpus, run_dir)
        start_s = time.perf_counter() - t0
    try:
        with tracer.span("session:warm"):
            t0 = time.perf_counter()
            warm_up(spark)
            warm_s = time.perf_counter() - t0
        setup_s = import_s + start_s + warm_s
        probe = SparkProbe(spark) if args.trace else None
        runner = Runner(workload, spark, tracer, probe)
        steal0 = steal_s()
        passes = [runner.run_pass(no, traced=bool(args.trace)) for no in range(TIMED_PASSES)]
        steal = steal_s() - steal0
        peak_rss_mb = children_peak_rss_mib()
        self_s = tracer.self_times()
        if args.trace:
            passes.append(runner.run_pass(TIMED_PASSES, extra=True))
    finally:
        stop_session(spark)

    e2e = metrics.end_to_end(setup_s, passes, peak_rss_mb)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "run_id": run_id,
        "width": f"local[{cpus}]",
        "nproc": cpus,
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "steal_s": steal,
        "passes": len(passes),
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "failures": runner.failures,
        "end_to_end": e2e,
        "ops": [
            [p.no, op.name, round(op.build_s, 4), round(op.exec_s, 4)]
            for p in passes for op in p.ops
        ],
        "bench.prep_s": prep_s,
    }
    if args.trace:
        measured = {
            "session.import_s": import_s,
            "session.start_s": start_s,
            "session.warm_s": warm_s,
            "bench.prep_s": prep_s,
            **{f"self.{layer}_s": self_s.get(layer, 0.0) for layer in metrics.SELF_LAYERS},
        }
        report["per_layer"] = metrics.per_layer(
            measured, passes, getattr(workload, "batch_bytes", 0)
        )
        trace_name = f"{args.workload}-s{args.seed}-{run_id}.json"
        tracer.dump(os.path.join(cache_dir, "traces", trace_name))
    return report


def summary_lines(report: dict) -> list[str]:
    from perfbench.metrics import END_TO_END

    e2e = report["end_to_end"]
    attempted, failed = report["attempted"], report["failed"]
    lines = [
        f"# perfbench workload={report['workload']} seed={report['seed']} "
        f"trace={report['trace']} width={report['width']} nproc={report['nproc']} "
        f"loadavg={','.join(f'{x:.2f}' for x in report['loadavg_start'])} "
        f"steal_s={report['steal_s']:.2f} passes={report['passes']} run_id={report['run_id']}",
        "# " + "  ".join(f"{name}={e2e[name]:.4f} {unit}" for name, unit, _ in END_TO_END)
        + f"  failed_ops={failed / max(attempted, 1):.4f} ratio ({failed}/{attempted})"
        + f"  bench.prep_s={report['bench.prep_s']:.3f} s",
    ]
    lines += [
        f"# FAILED pass={f['pass']}{' (extra)' if f['extra'] else ''} op={f['op']}: {f['error']}"
        for f in report["failures"]
    ]
    return lines


def result_line(report: dict) -> str:
    from perfbench.metrics import END_TO_END, PER_LAYER

    if report["trace"]:
        values, units = report["per_layer"], dict(PER_LAYER)
    else:
        values, units = report["end_to_end"], {n: u for n, u, _ in END_TO_END}
    return json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {
            name: {"value": float(values[name]), "unit": unit} for name, unit in units.items()
        },
    })


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    missing = missing_modules()
    if missing:
        print(f"perfbench: cannot import {', '.join(missing)} from {ROOT}", file=sys.stderr)
        return 2
    cache_dir = os.path.join(ROOT, ".bench_build", "perfbench")
    run_dir = os.path.join(cache_dir, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # Keep Python's, Spark's and the JVM's scratch files inside the checkout.
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    try:
        report = run(args, run_dir, cache_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    results = os.path.join(cache_dir, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{report['run_id']}.json"
    with open(os.path.join(results, name), "w", encoding="utf-8") as fh:
        json.dump(report, fh, indent=1)
    print("\n".join(summary_lines(report)))
    print(result_line(report), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""End-to-end benchmark of gordo_components_spark's three user paths.

    python3 e2ebench/run.py --workload {lifecycle,stream_monitor,query_mix}
                            --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  One process starts one ``local[nproc]``
session, generates seeded inputs, warms up, then runs the workload as a
closed loop (one driver thread; each call is issued after the previous
one returned) until the timed passes add up to ``--seconds``.  Every
output is checked against a reference outside the timed window.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  The line before it holds the
run's context (CPU probe, sample counts, the workload's named step
times, every reference mismatch).  See e2ebench/README.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NPROC = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or len(os.sched_getaffinity(0))

def _fail(msg: str) -> None:
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(2)


def _cpu_probe() -> float:
    """The repo's host-drift probe (CLAUDE.md): pure-Python CPU seconds."""
    t0 = time.perf_counter()
    sum(i * i for i in range(3 * 10**7))
    return time.perf_counter() - t0


def start_session(run_dir: str):
    """``local[NPROC]`` with the package's session settings, every
    scratch location (warehouse, local dirs, Derby, JVM tmp) kept in the
    run directory."""
    from pyspark.sql import SparkSession

    from gordo_components_spark.session import prepare

    jvm_tmp = os.path.join(run_dir, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{NPROC}]")
        .appName("e2ebench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.sql.shuffle.partitions", str(max(8, NPROC)))
        .config("spark.sql.files.minPartitionNum", str(NPROC))
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.local.dir", os.path.join(run_dir, "spark-local"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Dderby.system.home={run_dir}/derby -Djava.io.tmpdir={jvm_tmp}",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return prepare(spark)


def tail(xs: list[float]) -> dict | None:
    """The highest percentile (at most p90) with at least ten samples
    above it, or None when there are too few samples."""
    n = len(xs)
    if n <= 10:
        return None
    p = min(90, math.floor(100 * (n - 10) / n))
    return {"percentile": p, "value": sorted(xs)[math.ceil(p * n / 100) - 1], "samples": n}


def closed_loop(wl, seconds: float, errors: list[str]) -> list:
    """Run passes one after another until the timed passes add up to
    ``seconds``.  A pass that raises is a failed operation; a third one
    aborts the run.  While tracing, the first pass also measures the
    layers the workload does not use, after its timed part."""
    results: list = []
    measured = 0.0
    while measured < seconds:
        try:
            r = wl.run_pass(other_layers=not results)
        except Exception:
            errors.append(traceback.format_exc(limit=4))
            if len(errors) > 2:
                raise
            continue
        results.append(r)
        measured += r.pass_s
    return results


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "gordo_components_spark")):
        _fail(f"no gordo_components_spark package next to {HERE}; run from a checkout")
    if not os.path.isfile(os.path.join(ROOT, "tools", "oracle_check.py")):
        _fail("tools/oracle_check.py is missing; the query_mix reference needs it")
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), HERE]

    import workloads as W
    from tracing import BatchListener, Tracer

    if args.workload not in W.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}")

    run_dir = os.path.join(ROOT, ".e2ebench_runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    for sub in ("tmp", "duckdb_tmp", "inputs"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    # Python workers import the package from this checkout; Python-side
    # temp files stay in the run directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")

    spark = None
    ctx = None
    try:
        t0 = time.perf_counter()
        spark = start_session(run_dir)
        session_s = time.perf_counter() - t0
        listener = BatchListener()
        spark.streams.addListener(listener)
        tracer = Tracer(spark, enabled=False)
        ctx = W.Context(spark, run_dir, args.seed, NPROC, tracer, listener)
        wl = W.WORKLOADS[args.workload](ctx)
        t1 = time.perf_counter()
        wl.setup()
        setup_s = time.perf_counter() - PROCESS_START
        setup_parts = {
            "imports_s": t0 - PROCESS_START,
            "session_s": session_s,
            "warmup_s": time.perf_counter() - t1,
        }

        errors: list[str] = []
        # a traced run times the same passes as an untraced one, so its
        # trace.pass_s minus the untraced pass_s is the tracing overhead
        tracer.enabled = bool(args.trace)
        results = closed_loop(wl, args.seconds, errors)
        tracer.enabled = False
        cpu_probe_s = _cpu_probe()
    finally:
        if spark is not None:
            _stop(spark)
        _cleanup(run_dir, ctx.input_names if ctx else [])

    attempted = sum(r.attempted for r in results) + len(errors)
    failures = [f for r in results for f in r.failures] + errors
    ops = [x for r in results for x in r.ops]
    pass_s = W.median([r.pass_s for r in results])
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": NPROC,
        "cpu_probe_s": cpu_probe_s,
        "load_avg": os.getloadavg(),
        "setup_parts": setup_parts,
        "warmup_passes_s": getattr(wl, "warmup_s", None),
        "passes": len(results),
        "pass_s_all": [r.pass_s for r in results],
        "ops_all": [r.ops for r in results],
        "op_tail_s": tail(ops),
        "steps": {k: W.median([r.steps[k] for r in results]) for k in results[0].steps},
        "failures": failures,
    }
    if args.trace:
        import layers

        metrics = {"session.start_s": session_s}
        for k in layers.METRICS:
            if k not in metrics and k != "trace.pass_s":
                metrics[k] = W.median([r.layers[k] for r in results if k in r.layers])
        metrics["trace.pass_s"] = pass_s
        units = layers.METRICS
    else:
        metrics = {"setup_s": setup_s, "pass_s": pass_s, "op_p50_s": W.median(ops)}
        units = dict.fromkeys(metrics, "s")
    print(json.dumps({"context": context}))
    print(
        json.dumps(
            {
                "correct": not failures,
                "attempted": attempted,
                "failed": len(failures),
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit (it exits when its
    stdin closes; the Python workers it forked exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def _cleanup(run_dir: str, input_names: list[str]) -> None:
    """Remove the run's inputs and the package's /tmp scratch for them."""
    for name in input_names:
        for path in glob.glob(f"/tmp/gordo_spark_*/{name}") + glob.glob(
            f"/tmp/gordo_spark_*/{name}.tmp-*"
        ):
            shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    parent = os.path.dirname(run_dir)
    if os.path.isdir(parent) and not os.listdir(parent):
        os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())

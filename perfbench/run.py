"""Warehouse benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload corpus_curation --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository.  Inputs are generated
from ``--seed`` under ``.perfbench/`` in the checkout and removed at
exit.  The program runs on local[nproc] with its own defaults (every
``BTDW_*`` override is removed from the environment), from this single
driver process, one action at a time.

With ``--trace 0`` the result holds the end-to-end metrics; with
``--trace 1`` the per-layer metrics, measured by wrapping the package's
public functions from outside and reading Spark's status store, executed
plans and streaming progress.  The spans of a traced run are written to
``.perfbench/trace-<workload>-<seed>.json``.  Human-readable lines
(session confs, input sizes, failures, the tail percentile) precede the
result line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "bank_transaction_data_warehouse_spark"


def _env(scratch: str, nproc: int) -> None:
    """Pin the session to local[nproc] and keep every file the run
    writes (Spark block manager, JVM and Python temp files) inside the
    checkout."""
    for k in [k for k in os.environ if k.startswith("BTDW_")]:
        del os.environ[k]
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included
    # All JIT compiler threads live for the whole run, so /proc shows
    # all the CPU they use (reported per layer as process.*jit_cpu_s).
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads")


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _confs(spark, nproc: int, seed: int) -> dict:
    get = spark.conf.get
    return {
        "spark.sql.shuffle.partitions": get("spark.sql.shuffle.partitions"),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes":
            get("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
        "spark.sql.adaptive.coalescePartitions.parallelismFirst":
            get("spark.sql.adaptive.coalescePartitions.parallelismFirst"),
        "master": spark.sparkContext.master,
        "nproc": nproc,
        "spark_version": spark.version,
        "seed": seed,
    }


def run(args, scratch: str) -> dict:
    import gen
    import measure
    import tracing
    import workloads as W

    nproc = len(os.sched_getaffinity(0))
    _env(scratch, nproc)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]

    t = time.perf_counter()
    wl = W.WORKLOADS[args.workload](gen.content())
    wl.prepare(scratch, args.seed)
    prepare_s = time.perf_counter() - t  # input generation: not part of setup_s

    cpu0, jit0 = measure.tree_cpu_s(os.getpid())  # set-up starts here, after input generation
    from bank_transaction_data_warehouse_spark.session import get_spark

    with measure.PeakRss() as rss:
        t = time.perf_counter()
        spark = get_spark("perfbench")
        start_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        try:
            tracer = tracing.Tracer(spark, wl.name) if args.trace else tracing.NullTracer()
            if tracer.enabled:
                tracer.patch()
            ctx = W.Context(spark, tracer, scratch, args.seed)
            wl.setup(ctx)
            setup_s = measure.process_age_s() - prepare_s
            cpu1, jit1 = measure.tree_cpu_s(os.getpid())
            setup_cpu_s, setup_jit_s = cpu1 - cpu0, jit1 - jit0

            passes: list[float] = []  # whole passes until --seconds are measured
            pass_cpu: list[float] = []
            pass_jit: list[float] = []
            while not passes or (wl.repeatable and sum(passes) < args.seconds):
                wl.prepare_pass(ctx, len(passes))  # writes inputs: not timed
                t, (c, j) = time.perf_counter(), measure.tree_cpu_s(os.getpid())
                wl.run_pass(ctx, len(passes))
                passes.append(time.perf_counter() - t)
                c1, j1 = measure.tree_cpu_s(os.getpid())
                pass_cpu.append(c1 - c)
                pass_jit.append(j1 - j)
            if tracer.enabled:
                tracer.unpatch()  # the checks below are not the program's work

            t = time.perf_counter()
            wl.check(ctx)
            io = wl.io(ctx)
            check_s = time.perf_counter() - t
            layers = None
            if tracer.enabled:
                layers = tracing.layer_metrics(
                    tracer, tracer.harvest(), nproc, W.CORPUS_MIX, W.STREAM_JOBS)
            confs = _confs(spark, nproc, args.seed)
        finally:
            t = time.perf_counter()
            _stop(spark)
            stop_s = time.perf_counter() - t

    ops = ctx.ops
    done = [o for o in ops if not o.error]
    lat = [o.latency_s for o in done] or [0.0]
    tail_v, tail_p, tail_n = measure.tail(lat)
    run_s = measure.median(passes)
    in_rows = sum(o.input_rows for o in ops) / len(passes)
    e2e = {
        "setup_s": (setup_s, "s"),
        "setup_cpu_s": (setup_cpu_s, "s"),
        "run_cpu_s": (measure.median(pass_cpu), "s"),
    }
    # Wall-clock pass metrics move with the host's CPU steal (1-26 % seen
    # within minutes), which wall time absorbs and CPU time mostly does
    # not; they are printed on every run and reported without a bound.
    extra = {
        "wall.run_s": (run_s, "s"),
        "wall.exec_s": (sum(o.exec_s for o in ops) / len(passes), "s"),
        "wall.rows_per_s": (in_rows / run_s, "rows/s"),
        "ops.p50_s": (measure.median(lat), "s"),
        "ops.tail_s": (tail_v, "s"),
        "process.peak_rss_mb": (rss.peak / 2**20, "MB"),
        "process.setup_jit_cpu_s": (setup_jit_s, "s"),
        "process.jit_cpu_s": (measure.median(pass_jit), "s"),
    }
    in_bytes = sum(b for _r, b in wl.input_sizes.values())
    failed = [o for o in ops if o.error] + [c for c in ctx.checks if not c.ok]
    attempted = len(ops) + len(ctx.checks)
    written = io.pop("written_bytes")
    # printed on every run, but outside the result: the error rate is 0
    # whenever the program is correct, and corpus_curation writes nothing
    printed = {
        "error_rate": (len(failed) / attempted, "ratio"),
        "write_bytes_per_input_byte": (written / in_bytes, "ratio"),
    }

    print(json.dumps({"confs": confs}))
    print(json.dumps({"inputs": {k: {"rows": r, "bytes": b} for k, (r, b) in wl.input_sizes.items()},
                      "input_rows": sum(r for r, _b in wl.input_sizes.values()),
                      "input_bytes": in_bytes}))
    print(json.dumps({"phases_s": {"prepare": prepare_s, "setup": setup_s, "run": sum(passes),
                                   "check": check_s, "stop": stop_s}}))
    print(f"ops.tail_s = p{tail_p:.0f} of {tail_n} operation latencies; passes = {len(passes)}")
    for o in ops:
        print(f"op {o.pass_idx}:{o.name} latency_s={o.latency_s:.4f} exec_s={o.exec_s:.4f}"
              + (f" FAILED {o.error}" if o.error else ""))
    for c in ctx.checks:
        print(f"check {c.name}: {'ok' if c.ok else 'FAILED ' + c.detail}")
    for name, (v, unit) in {**e2e, **extra, **printed}.items():
        print(f"{name} = {v:.6g} {unit}")

    if tracer.enabled:
        layers["session.start_s"] = start_s
        layers.update((k, v) for k, (v, _u) in extra.items())
        layers.update((k, float(v)) for k, v in io.items())
        layers["io.write_bytes_per_input_byte"] = printed["write_bytes_per_input_byte"][0]
        layers["trace.overhead_s"] = tracer.overhead_s
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in sorted(layers.items())}
        out = os.path.join(ROOT, ".perfbench", f"trace-{wl.name}-{args.seed}.json")
        with open(out, "w") as f:
            json.dump({"confs": confs, "spans": [vars(s) for s in tracer.spans],
                       "metrics": layers}, f)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    return {
        "correct": not failed and bool(ops),
        "attempted": attempted,
        "failed": len(failed),
        "metrics": metrics,
    }


def _unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("per_s"):
        return "rows/s"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith(("ratio", "share", "utilisation", "per_result", "per_input_byte")):
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: no {PKG}/ next to {HERE}; run from a checkout", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    scratch = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    try:
        result = run(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

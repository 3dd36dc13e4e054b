"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout.  One invocation runs one workload
in this process on ``local[N]`` (N = CPUs available to the process, shuffle
partitions = N): it starts a Spark session, generates every input from the
seed, sets up, warms up, then repeats the workload's operation for
``--seconds`` and at least ``min_ops`` times, and checks every output.
With ``--trace 1`` it times one operation instead, then runs one more
composed stage by stage under spans and reports the per-layer metrics
instead of the end-to-end ones.

Standard output: a human-readable table, one ``perfbench-context`` JSON
line (seed, host load, raw per-repetition times, versions, every named
metric of the workload) and, as the last line, the result object
``{"correct", "attempted", "failed", "metrics"}``.  Spans and the context
are also written under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "vectordb_watermark_spark"

#: repetitions of the repeatable set-up step; setup_s reports their median
SETUP_REPS = 3
#: driver heap: a fixed, modest heap keeps the JVM footprint (most of
#: peak_pss_mb) from tracking how long garbage happened to survive
DRIVER_MEM = "2g"


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _workloads() -> dict:
    from perfbench.wl_mix import PipelineMix
    from perfbench.wl_stream import CurationStream
    from perfbench.wl_watermark import WatermarkAttacked, WatermarkClean

    return {w.name: w for w in (WatermarkClean, WatermarkAttacked, PipelineMix, CurationStream)}


def _versions() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {"pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__, "python": sys.version.split()[0]}


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def start_spark(work: str, cpus: int):
    """A session through the engine's own factory, with every scratch
    directory inside the checkout and the status store sized so id-range
    attribution never loses a job."""
    from vectordb_watermark_spark import get_spark

    spark = get_spark(
        "perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                                             f"-Dderby.system.home={os.path.join(work, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until every process this
    run started (the JVM and its Python workers) has exited."""
    from perfbench.trace import process_tree

    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while len(process_tree(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in process_tree(os.getpid())[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def attempt(op) -> dict:
    """One operation; one that raises is a failed result, not a crash."""
    t0 = time.perf_counter()
    try:
        r = op()
    except Exception as exc:
        r = {"ok": False, "error": f"{type(exc).__name__}: {exc}", "parts": {}, "steps": [],
             "checks": 1}
        traceback.print_exc(file=sys.stderr)
    # the operation's own timing excludes its output checks
    r.setdefault("op_s", time.perf_counter() - t0)
    r.setdefault("failed_checks", 0 if r["ok"] else r["checks"])
    return r


def run_ops(wl, seconds: float, min_ops: int) -> list[dict]:
    """Repeat the operation until ``seconds`` have passed and at least
    ``min_ops`` ran."""
    ops = []
    deadline = time.perf_counter() + seconds
    while len(ops) < min_ops or time.perf_counter() < deadline:
        ops.append(attempt(wl.op))
    return ops


def end_to_end(wl, ops, setup_s: float, peak_mb: float) -> tuple[dict, dict]:
    """(metrics named in BENCHMARK.json, every named metric of the workload)."""
    good = [o for o in ops if o["ok"]] or ops
    named = {k: _median([o["parts"][k] for o in good if k in o["parts"]])
             for k in {k for o in good for k in o["parts"]}}
    named.update(wl.quality)
    gated = {
        "op_s": _median([o["op_s"] for o in good]),
        "step_p50_s": _median([_median(o["steps"]) for o in good]),
        "setup_s": setup_s,
        "peak_pss_mb": peak_mb,
    }
    return gated, named


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="small", choices=("small", "tiny"),
                    help="input size (tiny is for self-tests)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package next to perfbench/ — run from a "
              f"source checkout", file=sys.stderr)
        return 2
    spec = _load_spec()
    wls = _workloads()
    if args.workload not in wls:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(wls)}",
              file=sys.stderr)
        return 2

    from perfbench import trace as T

    cpus = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench", "work", run_id)
    results = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    # Python workers inherit these: they import the package from the
    # checkout and keep their temporary files inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM

    ctx = {"run_id": run_id, "workload": args.workload, "seed": args.seed,
           "seconds": args.seconds, "trace": args.trace, "size": args.size, "nproc": cpus,
           "loadavg_start": T.loadavg(), "versions": _versions()}
    cpu0 = T.cpu_times()
    sampler = T.PssSampler(os.getpid()).start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, cpus)
        session_s = time.perf_counter() - t0
        wl = wls[args.workload](spark, args.seed, work, args.size)

        prep = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.prepare()
            prep.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.once()
        once_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        warm = [attempt(wl.warm)]  # its outputs are checked too
        warm_s = time.perf_counter() - t0
        setup_s = session_s + _median(prep) + once_s + warm_s
        ctx["setup"] = {"session_s": session_s, "prepare_s": prep, "once_s": once_s,
                        "warmup_s": warm_s}

        # a traced run reports per-layer metrics only: one untraced
        # operation is enough to give the tracing overhead
        ops = run_ops(wl, args.seconds, 1 if args.trace else wl.min_ops)
        attempted = sum(o["checks"] for o in warm + ops)
        failed = sum(o["failed_checks"] for o in warm + ops)
        errors = [str(o["error"])[:300] for o in warm + ops if o["failed_checks"]]
        peak_mb = sampler.stop()
        gated, named = end_to_end(wl, ops, setup_s, peak_mb)
        named["error_rate"] = failed / attempted
        ctx["ops"] = [{k: o[k] for k in ("op_s", "steps", "parts", "ok")} for o in ops]
        ctx["samples"] = len(ops)
        ctx["errors"] = errors

        metrics, chosen = gated, spec["end_to_end"]
        if args.trace:
            from perfbench.layers import traced_run

            try:
                layer, traced_ok, table = traced_run(wl, spark, run_id, gated["op_s"], work)
            except Exception as exc:  # reported as a failed check, not a crash
                traceback.print_exc(file=sys.stderr)
                layer, traced_ok, table = {}, False, f"traced run failed: {exc}"
                errors.append(f"traced: {type(exc).__name__}: {str(exc)[:300]}")
            attempted += 1
            failed += 0 if traced_ok else 1
            metrics, chosen = layer, spec["per_layer"]
            ctx["layers"] = layer
            print(table)
            if os.path.exists(os.path.join(work, "spans.jsonl")):
                shutil.copy(os.path.join(work, "spans.jsonl"),
                            os.path.join(results, f"{run_id}.spans.jsonl"))
        ctx["named"] = named
    finally:
        sampler.stop()
        if spark is not None:
            stop_spark(spark)
    ctx["loadavg_end"] = T.loadavg()
    ctx["steal_share"] = T.steal_share(cpu0, T.cpu_times())
    shutil.rmtree(work, ignore_errors=True)

    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    print(f"{'metric':32s} {'value':>14s}  unit")
    for k, v in list(gated.items()) + sorted(named.items()):
        print(f"{k:32s} {v:14.6g}  {units.get(k, _unit_of(k))}")
    with open(os.path.join(results, f"{run_id}.json"), "w") as f:
        json.dump(ctx, f, indent=1)
    print("perfbench-context " + json.dumps(ctx))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": _finite(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in chosen},
    }))
    return 0


def _finite(v) -> float:
    """Metric value for the result object; a metric no operation produced
    (every one failed) reads 0 so the object stays valid JSON."""
    v = float(v)
    return v if math.isfinite(v) else 0.0


def _unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "ratio"


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())

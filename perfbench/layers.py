"""The traced run: one operation under spans, turned into per-layer metrics.

A span named ``a.b`` gives ``a.b_s`` (its self time: duration minus the
time its child spans cover) and ``a.b_jobs`` (Spark jobs it submitted); a span
without a dot, such as ``selection``, gives ``selection.s`` and
``selection_jobs``.  The ``spark.*`` metrics cover every job, stage and SQL
execution of the traced operation, attributed by id range.
"""

from __future__ import annotations

import os
import time

from perfbench.trace import SparkLedger, Tracer


def time_metric(span: str) -> str:
    return f"{span}_s" if "." in span else f"{span}.s"


def traced_run(wl, spark, run_id: str, untraced_op_s: float, work: str):
    """Returns (per-layer metrics, traced output correct?, printable table)."""
    ledger = SparkLedger(spark)
    tr = Tracer(run_id, spark.sparkContext)
    mark = ledger.mark()
    w0, p0 = time.time(), time.perf_counter()
    try:
        with tr.span(wl.name):
            r = wl.traced_op(tr)
    finally:
        spark.sparkContext.setLocalProperty("spark.job.description", None)
    traced_s = time.perf_counter() - p0
    w1 = time.time()
    tr.write(os.path.join(work, "spans.jsonl"))

    layer = ledger.engine_metrics(mark, w0, w1)
    jobs = ledger.jobs_by_span(mark, tr.spans)
    names = {s.id: s.name for s in tr.spans}
    job_counts: dict[str, int] = {}
    for sid, js in jobs.items():
        job_counts[names[sid]] = job_counts.get(names[sid], 0) + len(js)
    agg = tr.by_name()
    for name, a in agg.items():
        if name == wl.name:
            continue
        layer[time_metric(name)] = a["self"]
        layer[f"{name}_jobs"] = float(job_counts.get(name, 0))
    layer.update({k: float(v) for k, v in r.get("counters", {}).items()})
    layer["trace.op_s"] = traced_s
    layer["trace.overhead_s"] = traced_s - untraced_op_s

    rows = [f"{'span':40s} {'n':>3s} {'total_s':>9s} {'self_s':>9s} {'jobs':>5s}"]
    for name, a in sorted(agg.items(), key=lambda kv: -kv[1]["total"]):
        rows.append(f"{name:40s} {a['count']:3d} {a['total']:9.3f} {a['self']:9.3f} "
                    f"{job_counts.get(name, 0):5d}")
    rows.append("")
    for k in sorted(k for k in layer if k.startswith("spark.") or k.startswith("trace.")
                    or k in r.get("counters", {})):
        rows.append(f"{k:40s} {layer[k]:14.6g}")
    return layer, bool(r["ok"]), "\n".join(rows)

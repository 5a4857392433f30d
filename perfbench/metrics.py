"""Turns one run's `result.json` and check verdicts into the printed report.

End-to-end metrics come from the untraced pass; per-layer metrics from the
traced pass, as per-operation means (an operation is one daily run or one
query) unless the name says ratio.
"""
import math
import statistics

# Reported by every workload, so these are the ones in BENCHMARK.json.
END_TO_END = {  # name: unit
    "setup_s": "s",
    "op_p50_s": "s",
}

PER_LAYER = {
    "pipeline.load_staging_s": "s", "pipeline.merge_s": "s",
    "pipeline.counts_s": "s", "pipeline.retention_s": "s",
    "pipeline.staged_rows": "count", "pipeline.retained_rows": "count",
    "sources.fetch_s": "s", "sources.read_bytes": "bytes", "sources.read_rows": "count",
    "operators.merge.jobs": "count", "operators.merge.busy_s": "s",
    "operators.merge.files_written": "count", "operators.merge.rewrite_ratio": "ratio",
    "queries.build_s": "s", "queries.exec_s": "s", "queries.eager_jobs": "count",
    "plans.analysis_s": "s", "plans.optimization_s": "s", "plans.planning_s": "s",
    "expressions.codegen_compiles": "count", "expressions.codegen_compile_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.empty_task_ratio": "ratio", "spark.sched_wait_s": "s",
    "spark.task_busy_s": "s", "spark.task_cpu_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_fetch_wait_s": "s", "spark.spill_bytes": "bytes", "spark.gc_s": "s",
    "spark.output_bytes": "bytes", "spark.failed_tasks": "count",
    "trace.overhead_ratio": "ratio", "trace.spans": "count",
}

# Tracer counters that are ratios of the whole pass, not sums.
RATIOS = {"spark.empty_task_ratio"}


def tail(values):
    """The highest percentile with at least 10 samples beyond it, as
    (percentile, value, samples beyond); None below 20 samples, where that
    percentile would fall under the median."""
    v = sorted(values)
    n = len(v)
    if n < 20:
        return None
    idx = n - 11  # 10 samples lie above v[idx]
    return (100.0 * (idx + 1) / n, v[idx], n - idx - 1)


def etl_figures(ops, verdicts):
    walls = [o["wall_s"] for o in ops]
    raw_rows = sum(o["raw_rows"] for o in ops)
    raw_bytes = sum(o["raw_bytes"] for o in ops)
    last = ops[-1]
    return [
        ("run_p50_s", statistics.median(walls), "s", f"median of {len(walls)} daily runs"),
        ("rows_per_s", raw_rows / sum(walls), "rows/s", "raw batch rows per second of run time"),
        ("write_bytes_per_input_byte", sum(o["write_bytes"] for o in ops) / raw_bytes, "ratio",
         "bytes written to staging and target per raw JSON byte"),
        ("stored_bytes_per_row", last["target_bytes"] / max(1, last["target_rows"]), "bytes",
         f"target parquet bytes per live row after the last run ({last['target_rows']} rows)"),
        ("failed_ratio", sum(not v["ok"] for v in verdicts) / len(ops), "ratio",
         f"{sum(not v['ok'] for v in verdicts)} of {len(ops)} days"),
    ]


def query_figures(ops, verdicts):
    walls = [o["wall_s"] for o in ops]
    out = [("query_p50_s", statistics.median(walls), "s", f"median of {len(walls)} queries")]
    t = tail(walls)
    if t:
        out.append(("query_tail_s", t[1], "s", f"p{t[0]:.1f}, {t[2]} samples beyond, n={len(walls)}"))
    else:
        out.append(("query_tail_s", max(walls), "s",
                    f"max; {len(walls)} samples leave no tail percentile with 10 beyond it"))
    out += [
        ("queries_per_s", len(ops) / sum(walls), "1/s", "queries per second of query time"),
        ("failed_ratio", sum(not v["ok"] for v in verdicts) / len(ops), "ratio",
         f"{sum(not v['ok'] for v in verdicts)} of {len(ops)} queries"),
    ]
    return out


def layers(res, ops, untraced_ops):
    """Per-layer metrics of the traced pass, per operation."""
    n = len(ops)
    c = dict(res.get("layers", {}))
    out = {k: 0.0 for k in PER_LAYER}
    for k, v in c.items():
        if k in out:
            out[k] = v if k in RATIOS else v / n
    if "day" in ops[0]:
        for stage in ("load_staging", "merge", "counts", "retention"):
            out[f"pipeline.{stage}_s"] = sum(
                o.get("metrics", {}).get(f"{stage}_ms", 0) for o in ops) / 1e3 / n
        for k in ("staged_rows", "retained_rows"):
            out[f"pipeline.{k}"] = sum(o.get("metrics", {}).get(k, 0) for o in ops) / n
        out["sources.fetch_s"] = sum(o["fetch_s"] for o in ops) / n
        out["operators.merge.files_written"] = sum(o["target_files_written"] for o in ops) / n
    else:
        out["queries.build_s"] = sum(o["build_s"] for o in ops) / n
        out["queries.exec_s"] = sum(o["exec_s"] for o in ops) / n
    traced = sum(o["wall_s"] for o in ops)
    untraced = sum(o["wall_s"] for o in untraced_ops)
    out["trace.overhead_ratio"] = traced / untraced - 1.0
    out["trace.spans"] = float(res.get("spans", 0))
    return out


def report(res, verdicts, traced, work):
    """Returns the lines to print and the final result object. `correct`
    is false when any operation returned a wrong answer without raising;
    every failed operation, raised or wrong, counts in `failed`."""
    workload = res["workload"]
    passes = res["passes"]
    ops, v = passes[0]["ops"], verdicts[0]
    attempted = sum(len(p["ops"]) for p in passes)
    failed = sum(not x["ok"] for vs in verdicts for x in vs)
    e2e = {
        "setup_s": statistics.median(res["setup_s"]),
        "op_p50_s": statistics.median(o["wall_s"] for o in ops),
    }
    figures = etl_figures(ops, v) if workload.startswith("etl") else query_figures(ops, v)
    lines = [f"workload {workload}, seed {res['seed']}, {res['cpus']} cores, "
             f"{len(ops)} operations timed"]
    lines += [f"  {name} = {value:.6g} {unit}  ({note})" for name, value, unit, note in figures]
    lines.append(f"  setup_s = {e2e['setup_s']:.6g} s  (median of {res['setup_s']})")
    lines.append(f"  peak_rss_mb = {res['peak_rss_mb']:.6g} MB  (JVM VmHWM)")
    for i, (vs, p) in enumerate(zip(verdicts, passes)):
        for x, o in zip(vs, p["ops"]):
            if not x["ok"]:
                label = o.get("day") or o.get("query")
                lines.append(f"  FAILED pass {i + 1} {label}: {'; '.join(x['reasons'])[:400]}")
    if workload.startswith("etl"):
        for vs, p in zip(verdicts, passes):
            for x, o in zip(vs, p["ops"]):
                if o.get("target_rows_written") and x.get("replay_inserted") is not None:
                    o["rewrite_ratio"] = o["target_rows_written"] / max(
                        1, x["replay_inserted"] + x["replay_updated"])
    if traced:
        per_layer = layers(res, passes[1]["ops"], passes[2]["ops"])
        if workload.startswith("etl"):
            per_layer["operators.merge.rewrite_ratio"] = statistics.mean(
                o.get("rewrite_ratio", 0.0) for o in passes[1]["ops"])
        metrics = {k: {"value": per_layer[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
        lines.append(f"  spans written to {work}/spans.jsonl; tracer callbacks took "
                     f"{res.get('tracer_self_s', 0):.6g} s")
        lines += [f"  {k} = {m['value']:.6g} {m['unit']}" for k, m in metrics.items()]
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    for k, m in metrics.items():
        if not math.isfinite(m["value"]):
            m["value"] = 0.0
    return {"lines": lines, "result": {
        "correct": not any(x["silent"] for vs in verdicts for x in vs), "attempted": attempted, "failed": failed, "metrics": metrics}}

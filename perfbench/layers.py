"""Per-layer metrics of a traced run, folded from its ledger.

Every ``*_s`` figure is self time (a span's duration minus its children's),
summed over the whole traced run except the checks; ``*_jobs`` figures count
the jobs a step launched, its children's included.  Layers are the package's
modules; ``spark.*`` counters come from every span; ``trace.*`` measures the
tracing itself.
"""

from __future__ import annotations

from ledger import COUNTERS, Span, busy_s

PER_LAYER = {
    "session.get_spark_s": "s",
    "sources.read_table_s": "s",
    "sources.read_table_calls": "count",
    "sources.write_s": "s",
    "sources.files_written": "count",
    "sources.bytes_written": "bytes",
    "sources.write_amp": "ratio",
    "operators.write_fact_s": "s",
    "operators.write_cube_s": "s",
    "operators.incremental_cube_s": "s",
    "operators.insert_if_not_exists_s": "s",
    "operators.content_defined_chunks_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.plan_s": "s",
    "plans.exchanges": "count",
    "plans.broadcasts": "count",
    "plans.exec_s": "s",
    "plans.exec_jobs": "count",
    "pipeline.build_warehouse_s": "s",
    "pipeline.run_pipeline_s": "s",
    "pipeline.run_pipeline_incremental_s": "s",
    "streaming.ingest_s": "s",
    "streaming.batch_s": "s",
    "streaming.batches": "count",
    "streaming.gate_s": "s",
    "streaming.reject_frac": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_per_stage": "ratio",
    "spark.stage_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.cpu_per_run": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_records": "count",
    "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.failed_tasks": "count",
    "spark.stage_retries": "count",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_frac": "ratio",
}

# span name -> the per-layer metric its self time feeds
SELF_TIME = {
    "session.get_spark": "session.get_spark_s",
    "sources.read_table": "sources.read_table_s",
    "sources.write": "sources.write_s",
    "operators.write_fact": "operators.write_fact_s",
    "operators.write_cube": "operators.write_cube_s",
    "operators.incremental_cube": "operators.incremental_cube_s",
    "operators.insert_if_not_exists": "operators.insert_if_not_exists_s",
    "operators.content_defined_chunks": "operators.content_defined_chunks_s",
    "plans.build": "plans.build_s",
    "plans.plan": "plans.plan_s",
    "plans.exec": "plans.exec_s",
    "pipeline.build_warehouse": "pipeline.build_warehouse_s",
    "pipeline.run_pipeline": "pipeline.run_pipeline_s",
    "pipeline.run_pipeline_incremental": "pipeline.run_pipeline_incremental_s",
    "streaming.ingest": "streaming.ingest_s",
    "streaming.gate": "streaming.gate_s",
}


def _walk(roots: list[Span]):
    stack = list(roots)
    while stack:
        sp = stack.pop()
        yield sp
        stack.extend(sp.children)


def summarize(b, files: int, nbytes: int, landed: int, wall_s: float):
    """(per-layer metrics as printed, ledger rows: per span name and per
    top-level operation)."""
    led = b.ledger
    m = dict.fromkeys(PER_LAYER, 0.0)
    rows: dict[str, dict] = {}
    total = dict.fromkeys(COUNTERS, 0)
    for sp in _walk(led.roots):
        r = rows.setdefault(sp.name, {"calls": 0, "self_s": 0.0, "wall_s": 0.0,
                                      **dict.fromkeys(COUNTERS, 0)})
        r["calls"] += 1
        r["self_s"] += sp.self_s
        r["wall_s"] += sp.wall_s
        for k in COUNTERS:
            r[k] += sp.counters[k]
            total[k] += sp.counters[k]
        if sp.name in SELF_TIME:
            m[SELF_TIME[sp.name]] += sp.self_s
        if sp.name == "sources.read_table":
            m["sources.read_table_calls"] += 1
        elif sp.name == "plans.build":
            m["plans.build_jobs"] += sp.inclusive("jobs")
        elif sp.name == "plans.exec":
            m["plans.exec_jobs"] += sp.inclusive("jobs")
    ops = []
    for root in led.roots:
        gap = root.wall_s - busy_s(root.all_windows(), root.start + led.epoch, root.end + led.epoch)
        m["spark.stage_gap_s"] += gap
        ops.append({"op": root.name, "wall_s": root.wall_s, "stage_gap_s": gap,
                    **{k: root.inclusive(k) for k in COUNTERS}})
    for k in ("jobs", "stages", "tasks", "failed_tasks", "stage_retries", "input_bytes",
              "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
              "shuffle_write_records", "spill_bytes"):
        m[f"spark.{k}"] = total[k]
    m["spark.executor_run_s"] = total["executor_run_ms"] / 1e3
    m["spark.executor_cpu_s"] = total["executor_cpu_ns"] / 1e9
    m["spark.tasks_per_stage"] = total["tasks"] / total["stages"] if total["stages"] else 0.0
    m["spark.cpu_per_run"] = (
        m["spark.executor_cpu_s"] / m["spark.executor_run_s"] if total["executor_run_ms"] else 0.0
    )
    m["sources.files_written"] = files
    m["sources.bytes_written"] = nbytes
    m["sources.write_amp"] = total["output_bytes"] / landed if landed else 0.0
    for k, v in b.layer.items():
        m[k] = v
    m["trace.wall_s"] = wall_s
    m["trace.overhead_s"] = led.overhead_s
    traced_s = sum(root.wall_s for root in led.roots)
    m["trace.overhead_frac"] = led.overhead_s / traced_s if traced_s else 0.0
    metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in m.items()}
    return metrics, {"spans": rows, "ops": ops}

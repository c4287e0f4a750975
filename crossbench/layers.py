"""Per-layer metrics of a traced run: span times and the Spark work the
event log attributes to those spans."""

from __future__ import annotations

from crossbench.trace import EventLog, Span, Tracer, work_in

MB = 1e6


def _units(unit: str, *names: str) -> dict[str, str]:
    return dict.fromkeys(names, unit)


COMMON = {
    "session.start_s": "s",
    **_units("count", "failed_tasks", "stage_retries"),
}
KG = {
    **_units(
        "s", "kg.plans.build_s", "kg.table.protein_nodes_s",
        "kg.table.ppi_edges_s", "kg.table.dti_edges_s", "kg.table.gda_edges_s",
        "kg.schema.conform_s", "kg.schema.validate_s", "kg.write_s",
        "kg.readback_s", "kg.driver_gap_s", "kg.task_cpu_s",
    ),
    **_units("count", "kg.jobs", "kg.stages", "kg.tasks"),
    **_units("MB", "kg.shuffle_write_mb", "kg.spill_mb"),
}
VI = {
    **_units(
        "s", "vi.sink_s", "vi.task_cpu_per_batch_s",
        "vi.driver_gap_per_batch_s", "vi.probe_plan_s", "vi.probe_exec_s",
        "vi.compact_s",
    ),
    **_units(
        "count", "vi.jobs_per_batch", "vi.tasks_per_batch",
        "vi.jobs_per_probe", "vi.silver_files",
    ),
    "vi.shuffle_write_mb_per_batch": "MB",
    "vi.landed_ratio": "ratio",
}
TI = {
    **_units(
        "s", "ti.text_sink_s", "ti.bm25_ingest_s", "ti.driver_gap_per_batch_s",
        "ti.probe_plan_s", "ti.probe_exec_s", "ti.compact.gold_s",
        "ti.compact.dedup_index_s", "ti.compact.bm25_s",
    ),
    **_units(
        "count", "ti.jobs_per_batch", "ti.tasks_per_batch",
        "ti.jobs_per_probe", "ti.silver_files",
    ),
    **_units("ratio", "ti.sink_overlap", "ti.landed_ratio"),
}
# The gated workloads (BENCHMARK.json) report one metric set: every
# per-layer metric of both, with 0 for the layers a workload does not
# run. text_ingest is not gated and reports its own layers.
GATED = {**COMMON, **KG, **VI}
UNITS = {
    "kg_build": GATED,
    "vector_ingest": GATED,
    "text_ingest": {**COMMON, **TI},
}


def _measured(tr: Tracer, name: str) -> list[Span]:
    """Spans called ``name`` inside the measured window (not set-up),
    outside its warm-up operations."""
    (window,) = tr.named("measure")
    warm = tr.named("warmup")
    return [
        s for s in tr.named(name)
        if window.start <= s.start <= window.end
        and not any(w.start <= s.start <= w.end for w in warm)
    ]


def _mean_s(tr: Tracer, name: str, per: int) -> float:
    return sum(s.end - s.start for s in _measured(tr, name)) / per if per else 0.0


def layer_metrics(
    workload: str, tr: Tracer, log: EventLog, counters: dict[str, float]
) -> dict[str, float]:
    m = dict.fromkeys(UNITS[workload], 0.0)
    (start,) = tr.named("session.start")
    m["session.start_s"] = start.end - start.start
    if workload == "kg_build":
        builds = _measured(tr, "kg.build")
        n, r = len(builds), len(_measured(tr, "kg.read"))
        for name in (
            "kg.table.protein_nodes", "kg.table.ppi_edges",
            "kg.table.dti_edges", "kg.table.gda_edges",
            "kg.schema.conform", "kg.write",
        ):
            m[f"{name}_s"] = _mean_s(tr, name, n)
        m["kg.plans.build_s"] = _mean_s(tr, "kg.plans", n)
        m["kg.readback_s"] = _mean_s(tr, "kg.readback", r)
        m["kg.schema.validate_s"] = _mean_s(tr, "kg.schema.validate", r)
        w = work_in(log, builds)
        m["kg.jobs"] = w.jobs / n
        m["kg.stages"] = w.stages / n
        m["kg.tasks"] = w.tasks / n
        m["kg.driver_gap_s"] = w.driver_gap_s / n
        m["kg.task_cpu_s"] = w.task_cpu_s / n
        m["kg.shuffle_write_mb"] = w.shuffle_write_bytes / MB / n
        m["kg.spill_mb"] = w.spill_bytes / MB / n
    elif workload == "text_ingest":
        commits = _measured(tr, "ti.commit")
        n, p = len(commits), len(_measured(tr, "ti.probe"))
        m["ti.text_sink_s"] = _mean_s(tr, "ti.text_sink", n)
        m["ti.bm25_ingest_s"] = _mean_s(tr, "ti.bm25_ingest", n)
        w = work_in(log, commits)
        m["ti.jobs_per_batch"] = w.jobs / n
        m["ti.tasks_per_batch"] = w.tasks / n
        m["ti.driver_gap_per_batch_s"] = w.driver_gap_s / n
        m["ti.sink_overlap"] = w.overlap_s / w.wall_s
        m["ti.probe_plan_s"] = _mean_s(tr, "ti.probe_plan", p)
        m["ti.probe_exec_s"] = _mean_s(tr, "ti.probe_exec", p)
        m["ti.jobs_per_probe"] = work_in(log, _measured(tr, "ti.probe")).jobs / p
        for part in ("gold", "dedup_index", "bm25"):
            m[f"ti.compact.{part}_s"] = _mean_s(tr, f"ti.compact.{part}", 1)
        m["ti.silver_files"] = counters["silver_files"]
        m["ti.landed_ratio"] = counters["landed_ratio"]
    elif workload == "vector_ingest":
        sinks = _measured(tr, "vi.sink")
        n, p = len(sinks), len(_measured(tr, "vi.probe"))
        m["vi.sink_s"] = _mean_s(tr, "vi.sink", n)
        w = work_in(log, sinks)
        m["vi.task_cpu_per_batch_s"] = w.task_cpu_s / n
        m["vi.jobs_per_batch"] = w.jobs / n
        m["vi.tasks_per_batch"] = w.tasks / n
        m["vi.driver_gap_per_batch_s"] = w.driver_gap_s / n
        m["vi.shuffle_write_mb_per_batch"] = w.shuffle_write_bytes / MB / n
        m["vi.probe_plan_s"] = _mean_s(tr, "vi.probe_plan", p)
        m["vi.probe_exec_s"] = _mean_s(tr, "vi.probe_exec", p)
        m["vi.jobs_per_probe"] = work_in(log, _measured(tr, "vi.probe")).jobs / p
        m["vi.compact_s"] = _mean_s(tr, "vi.compact", 1)
        m["vi.silver_files"] = counters["silver_files"]
        m["vi.landed_ratio"] = counters["landed_ratio"]
    else:
        raise ValueError(workload)
    m["failed_tasks"] = sum(s.failed_tasks for s in log.stages)
    m["stage_retries"] = sum(s.attempt > 0 for s in log.stages)
    return m

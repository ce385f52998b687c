"""Per-layer metrics of a traced run, from spans and Spark's counters.

Unless stated otherwise a metric is a total per steady pass through the
mix, so that runs with different numbers of passes compare.
"""

from __future__ import annotations

from collections import defaultdict

from spark_metrics import TAG_PREFIX, StageStats, StatusReader
from spans import Span, self_times
from stats import median

# name -> unit, in output order. BENCHMARK.json lists the same names.
LAYER_METRICS: dict[str, str] = {
    "session.start_s": "s",
    "session.jvm_peak_rss_mb": "MiB",
    "catalog.load_table_s": "s",
    "catalog.load_table_calls": "count",
    "catalog.schema_jobs": "count",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "scale.footer_rows_s": "s",
    "scale.footer_rows_calls": "count",
    "script_runner.run_s": "s",
    "script_runner.statements": "count",
    "redshift_sql.translate_s": "s",
    "redshift_sql.translate_calls": "count",
    "sources.read_s": "s",
    "sources.write_s": "s",
    "sources.bytes_written": "bytes",
    "sources.files_written": "count",
    "streaming.run_s": "s",
    "streaming.batches": "count",
    "streaming.batch_p50_s": "s",
    "streaming.state_rows": "count",
    "plan.plan_s": "s",
    "exec.execute_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.sched_wait_s": "s",
    "exec.core_busy_ratio": "ratio",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_bytes": "bytes",
    "exec.input_rows_per_output_row": "ratio",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "codegen.compiles": "count",
    "codegen.compile_s_est": "s",
    "codegen.steady_compiles": "count",
}


def outermost(spans: list[Span], name: str, by_id: dict[int, Span]) -> list[Span]:
    """Spans called ``name`` that have no ancestor of the same name."""
    out = []
    for s in spans:
        if s.name != name:
            continue
        p = s.parent
        while p is not None and by_id[p].name != name:
            p = by_id[p].parent
        if p is None:
            out.append(s)
    return out


def submission_self_gap(spans: list[Span]) -> float:
    """Largest |sum of self times in a submission's tree - its wall|."""
    selfs = self_times(spans)
    total: dict[int, float] = defaultdict(float)
    for s in spans:
        total[s.sid] += selfs[s.id]
    return max(
        (abs(total[s.sid] - s.duration) for s in spans if s.name == "submission"),
        default=0.0,
    )


def per_query_compiles(subs) -> dict[str, int]:
    """Median codegen compiles per query over its steady submissions."""
    by_q: dict[str, list[int]] = defaultdict(list)
    for s in subs:
        by_q[s.query].append(s.compiles)
    return {q: int(round(median([float(c) for c in cs]))) for q, cs in by_q.items()}


def attribute_jobs(jobs, subs, epoch_offset: float, one_client: bool) -> dict[int, list]:
    """Submission id -> its jobs. Tagged jobs go by tag; with one client,
    untagged jobs (from Spark callback threads) go to the submission that
    was running when they were submitted."""
    windows = sorted(((s.start + epoch_offset) * 1000, (s.end + epoch_offset) * 1000, s.sid) for s in subs)
    out: dict[int, list] = defaultdict(list)
    for j in jobs:
        sids = [int(t[len(TAG_PREFIX):]) for t in j.tags if t.startswith(TAG_PREFIX)]
        if sids:
            out[sids[0]].append(j)
        elif one_client and j.submitted_ms is not None:
            for lo, hi, sid in windows:
                if lo <= j.submitted_ms <= hi:
                    out[sid].append(j)
                    break
    return out


def layer_metrics(
    spark, tracer, runner, cold, steady, setup_s: float, rss_mb: float, *, cold_compiles: int, steady_compiles: int
):
    reader = StatusReader(spark)
    reader.drain()
    jobs, stages = reader.read()
    passes = max(steady.passes, 1)
    offset = runner.epoch_offset
    ms = lambda t: (t + offset) * 1000.0  # noqa: E731
    steady_sids = {s.sid for s in steady.subs}
    spans = list(tracer.spans)
    by_id = {s.id: s for s in spans}
    selfs = self_times(spans)
    st_spans = [s for s in spans if s.sid in steady_sids]

    def total(name: str) -> float:
        return sum(s.duration for s in outermost(st_spans, name, by_id)) / passes

    def count(name: str) -> float:
        return sum(1 for s in st_spans if s.name == name) / passes

    def self_total(name: str) -> float:
        return sum(selfs[s.id] for s in st_spans if s.name == name) / passes

    def attr_total(name: str, key: str) -> float:
        return sum(s.attrs.get(key, 0) for s in outermost(st_spans, name, by_id)) / passes

    jobs_of = attribute_jobs(jobs, cold.subs + steady.subs, offset, runner.wl.clients == 1)
    steady_jobs = [j for sid in steady_sids for j in jobs_of.get(sid, ())]
    stage_ids = {st for j in steady_jobs for st in j.stages}
    work = StageStats()
    for st in stage_ids:
        if st in stages:
            work.add(stages[st])

    def jobs_within(pred) -> int:
        n = 0
        for sid in steady_sids:
            for j in jobs_of.get(sid, ()):
                if j.submitted_ms is not None and pred(sid, j.submitted_ms):
                    n += 1
        return n

    load_windows: dict[int, list[tuple[float, float]]] = defaultdict(list)
    exec_start: dict[int, float] = {}
    for s in st_spans:
        if s.name == "catalog.load_table":
            load_windows[s.sid].append((ms(s.start), ms(s.end)))
        elif s.name == "execute":
            exec_start[s.sid] = ms(s.start)
    schema_jobs = jobs_within(lambda sid, t: any(lo <= t <= hi for lo, hi in load_windows[sid]))
    build_jobs = jobs_within(lambda sid, t: t < exec_start.get(sid, float("inf")))

    # A stream batch belongs to the steady run_to_memory span it started in;
    # only one stream runs at a time, whatever the client count.
    stream_spans = [(ms(s.start), ms(s.end), s.sid) for s in st_spans if s.name == "streaming.run_to_memory"]
    batches = []
    final_state: dict[tuple[int, str], int] = {}
    for b in sorted(runner.listener.take(), key=lambda b: b["start_ms"]):
        for lo, hi, sid in stream_spans:
            if lo <= b["start_ms"] <= hi:
                batches.append(b)
                final_state[(sid, b["name"])] = b["state_rows"]
                break

    out_rows = sum(len(f) for f in runner.frames.values())
    waits = [
        (j.first_task_ms - j.submitted_ms) / 1000.0
        for j in steady_jobs
        if j.first_task_ms is not None and j.submitted_ms is not None
    ]
    cores = spark.sparkContext.defaultParallelism
    values = {
        "session.start_s": setup_s,
        "session.jvm_peak_rss_mb": rss_mb,
        "catalog.load_table_s": total("catalog.load_table"),
        "catalog.load_table_calls": count("catalog.load_table"),
        "catalog.schema_jobs": schema_jobs / passes,
        "registry.build_s": self_total("build"),
        "registry.build_jobs": build_jobs / passes,
        "scale.footer_rows_s": total("scale.parquet_total_rows"),
        "scale.footer_rows_calls": count("scale.parquet_total_rows"),
        "script_runner.run_s": self_total("script_runner.run_redshift_script"),
        "script_runner.statements": sum(
            s.attrs.get("statements", 0) for s in st_spans if s.name == "script_runner.split_statements"
        )
        / passes,
        "redshift_sql.translate_s": total("redshift_sql.translate_redshift_sql"),
        "redshift_sql.translate_calls": count("redshift_sql.translate_redshift_sql"),
        "sources.read_s": total("sources.read"),
        "sources.write_s": total("sources.write"),
        "sources.bytes_written": attr_total("sources.write", "bytes"),
        "sources.files_written": attr_total("sources.write", "files"),
        "streaming.run_s": total("streaming.run_to_memory"),
        "streaming.batches": len(batches) / passes,
        "streaming.batch_p50_s": median([b["trigger_s"] for b in batches]) if batches else 0.0,
        "streaming.state_rows": sum(final_state.values()) / passes,
        "plan.plan_s": total("plan"),
        "exec.execute_s": total("execute"),
        "exec.jobs": len(steady_jobs) / passes,
        "exec.stages": len(stage_ids) / passes,
        "exec.tasks": work.tasks / passes,
        "exec.sched_wait_s": sum(waits) / passes,
        "exec.core_busy_ratio": work.run_s / (steady.wall_s * cores),
        "exec.task_run_s": work.run_s / passes,
        "exec.task_cpu_s": work.cpu_s / passes,
        "exec.gc_s": work.gc_s / passes,
        "exec.input_bytes": work.input_bytes / passes,
        "exec.input_rows_per_output_row": work.input_rows / (passes * out_rows) if out_rows else 0.0,
        "exec.shuffle_write_bytes": work.shuffle_write_bytes / passes,
        "exec.spill_bytes": work.spill_bytes / passes,
        "codegen.compiles": float(cold_compiles),
        "codegen.compile_s_est": cold_compiles * runner.codegen.mean_s(),
        "codegen.steady_compiles": steady_compiles / passes,
    }
    metrics = {k: (float(values[k]), unit) for k, unit in LAYER_METRICS.items()}
    doc = {
        "self_time_gap_max_s": submission_self_gap(spans),
        "spans": [
            {"id": s.id, "name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "sid": s.sid, **s.attrs}
            for s in spans
        ],
        "jobs_by_submission": {sid: [j.job_id for j in js] for sid, js in jobs_of.items()},
    }
    return metrics, doc

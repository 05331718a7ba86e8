"""End-to-end and per-layer metrics of one run, and the printed record.

Every metric a run can print is declared in END_TO_END or PER_LAYER with
its unit; BENCHMARK.json lists the same names.
"""

from __future__ import annotations

import datetime
import json
import os
import statistics

from perfbench import stats, trace

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_geomean_s": "s",
    "ok_ratio": "ratio",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "io.table_calls": "count",
    "io.table_s": "s",
    "io.schema_jobs": "count",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.py4j_calls": "count",
    **{f"operators.{m}_s": "s" for m in trace.OPERATOR_MODULES},
    "operators.materialize_calls": "count",
    "operators.eager_jobs": "count",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.exec_jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio",
    "jvm.gc_s": "s",
    "pipelines.medallion_s": "s",
    "pipelines.warehouse_s": "s",
    "plans.quality_s": "s",
    "pipelines.bytes_written": "bytes",
    "pipelines.files_written": "count",
    "pipelines.write_amp": "ratio",
    "ml.dataset_s": "s",
    "ml.train_s": "s",
    "ml.evaluate_s": "s",
    "ml.score_s": "s",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.batch_p50_s": "s",
    "streaming.rows_upserted": "count",
    "dag.tasks_failed": "count",
    "dag.tasks_retried": "count",
    "parity.checks": "count",
    "parity.mismatches": "count",
    "parity.check_s": "s",
    "trace.pass_s": "s",
    "trace.overhead": "ratio",
    "trace.coverage": "ratio",
}

# per-layer metrics that are not sums over the traced passes; every other
# per-layer metric is reported per traced pass
NOT_PER_PASS = {
    "session.start_s",
    "spark.task_skew",
    "pipelines.write_amp",
    "streaming.batch_p50_s",
    "parity.checks",
    "parity.mismatches",
    "parity.check_s",
    "trace.pass_s",
    "trace.overhead",
    "trace.coverage",
}

# spans that only group others: "pass" (its time between ops is harness
# cleanup, left out of pass_s) and a query op (build + force)
CONTAINERS = {"pass", "op"}


def peak_rss_mb() -> float:
    return stats.tree_peak_rss_mb(os.getpid())


def end_to_end(ctx, setup_s: float, rss_mb: float) -> dict:
    """name -> (value, note) for every END_TO_END metric. Times are divided
    by the run's host factor (see host_factor)."""
    led = ctx.ledger
    factor = host_factor(led)
    pass_s = stats.median(led.passes)
    geomean_s = stats.per_op_geomean(led.samples)
    return {
        "setup_s": (setup_s / factor, f"process start to first timed op; {setup_s:.4f} s raw"),
        "pass_s": (
            pass_s / factor,
            f"median of {len(led.passes)} passes; {pass_s:.4f} s raw",
        ),
        "op_geomean_s": (
            geomean_s / factor,
            f"geomean over {len(led.samples)} ops of per-op medians; {geomean_s:.4f} s raw",
        ),
        "ok_ratio": (
            1.0 - led.failed / led.attempted,
            f"fail_ratio {led.failed}/{led.attempted} = {led.failed / led.attempted:.4f}",
        ),
        "peak_rss_mb": (rss_mb, "sum of VmHWM over the run's process tree"),
    }


def host_factor(led) -> float:
    """How much slower the host ran during this run than when it was
    quiet: the median host_probe() over the run's ops / REF_PROBE_S."""
    return stats.median(led.probes) / stats.REF_PROBE_S


def host_line(led) -> str:
    return (
        f"host_factor = {host_factor(led):.4f}  (median host_probe"
        f" {stats.median(led.probes) * 1000:.2f} ms over {len(led.probes)} ops"
        f" / reference {stats.REF_PROBE_S * 1000:.2f} ms)"
    )


def op_percentiles(ctx) -> list[str]:
    """op_p50_s and op_tail_s as printed lines. Neither is a declared
    metric: one run holds 5-6 op samples of different ops, so the median
    is whichever op ranks in the middle and flips between runs, and a tail
    (the highest percentile with at least ten samples beyond it) needs
    eleven samples."""
    samples = ctx.ledger.all_samples
    lines = [f"op_p50_s = {stats.median(samples):.6g} s  (median of {len(samples)} op samples)"]
    try:
        value, pct, beyond = stats.tail(samples)
    except ValueError as exc:
        lines.append(f"op_tail_s = n/a ({exc})")
    else:
        lines.append(
            f"op_tail_s = {value:.6g} s  (p{pct} of {len(samples)} op samples, {beyond} beyond)"
        )
    return lines


def op_lines(ctx) -> list[str]:
    """One printed line per op: its median latency and sample count."""
    return [
        f"op {op} = {stats.median(v):.6g} s  (median of {len(v)})"
        for op, v in sorted(ctx.ledger.samples.items())
    ]


def _chain(spans: list[trace.Span], idx: int | None):
    while idx is not None:
        yield spans[idx]
        idx = spans[idx].parent


def _epoch(iso: str) -> float:
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def per_layer(ctx, tracer, log, session_s: float, untraced_pass_s: float, gc_s: float) -> dict:
    """name -> (value, note) for every PER_LAYER metric, from the traced
    passes' spans and the session's event log; sums are per traced pass."""
    spans = tracer.spans
    trace.assign_jobs(spans, log)
    led = ctx.ledger
    traced_total = sum(led.passes)  # summed op time of the traced passes
    n = len(led.passes)
    t_first, t_last = spans[0].start, max(s.end for s in spans)

    def named(name):
        return [s for s in spans if s.name == name]

    def total(name):
        return sum(s.duration for s in named(name))

    def jobs_under(pred):
        return [
            j for j in log.jobs.values()
            if j.span is not None and any(pred(s.name) for s in _chain(spans, j.span))
        ]

    def job_union(jobs, lo=None, hi=None):
        ivs = []
        for j in jobs:
            a, b = j.submit, j.end
            if lo is not None:
                a, b = max(a, lo), min(b, hi)
            if b > a:
                ivs.append((a, b))
        return trace.union_s(ivs)

    forces = named("spark.force")
    if forces:
        plan_s = exec_s = 0.0
        exec_jobs = []
        for s in forces:
            jobs = [log.jobs[j] for j in s.jobs]
            covered = job_union(jobs, s.start, s.end)
            exec_s += covered
            plan_s += s.duration - covered
            exec_jobs += jobs
    else:
        exec_jobs = jobs_under(lambda name: True)
        exec_s, plan_s = job_union(exec_jobs), 0.0
    pass_jobs = jobs_under(lambda name: True)
    stage_ids = {sid for j in pass_jobs for sid in j.stages if sid in log.stages}
    stages = [log.stages[sid] for sid in stage_ids]
    skews = [
        max(st.task_s) / statistics.median(st.task_s)
        for st in stages
        if st.tasks >= 2 and statistics.median(st.task_s) > 0
    ]
    batches = [s.duration for s in named("streaming.batch")]
    stream_rows = sum(rows for ts, rows in log.stream_rows if t_first <= _epoch(ts) <= t_last)
    layer_self = sum(s.self_s for s in spans if s.name not in CONTAINERS)
    traced_pass = statistics.median(led.passes)
    out = {
        "session.start_s": (session_s, "get_spark + first action"),
        "io.table_calls": (len(named("io.table")), ""),
        "io.table_s": (total("io.table"), ""),
        "io.schema_jobs": (sum(len(s.jobs) for s in named("io.table")), "jobs fired inside io.table"),
        "queries.build_s": (total("queries.build"), "registry call, inclusive"),
        "queries.build_jobs": (len(jobs_under(lambda name: name == "queries.build")), ""),
        "queries.py4j_calls": (sum(s.py4j_calls for s in named("queries.build")), ""),
        **{
            f"operators.{m}_s": (
                sum(s.self_s for s in spans if s.name.startswith(f"operators.{m}.")),
                "self time",
            )
            for m in trace.OPERATOR_MODULES
        },
        "operators.materialize_calls": (len(named("operators.dedup.materialize")), ""),
        "operators.eager_jobs": (len(jobs_under(lambda name: name.startswith("operators."))), ""),
        "spark.plan_s": (plan_s, "force span time with no job running"),
        "spark.exec_s": (exec_s, "time with a job running, inside forces" if forces else "time with a job running"),
        "spark.exec_jobs": (len(exec_jobs), ""),
        "spark.stages": (len(stages), "stages that ran tasks, all jobs of the passes"),
        "spark.tasks": (sum(st.tasks for st in stages), ""),
        "spark.shuffle_read_bytes": (sum(st.shuffle_read for st in stages), ""),
        "spark.shuffle_write_bytes": (sum(st.shuffle_write for st in stages), ""),
        "spark.spill_bytes": (sum(st.spill for st in stages), ""),
        "spark.task_skew": (
            statistics.median(skews) if skews else 1.0,
            f"median over {len(skews)} multi-task stages of max/median task time",
        ),
        "jvm.gc_s": (gc_s, "JVM collector time"),
        "pipelines.medallion_s": (total("pipelines.medallion"), ""),
        "pipelines.warehouse_s": (total("pipelines.warehouse"), ""),
        "plans.quality_s": (total("plans.quality.run_quality_checks"), ""),
        "pipelines.bytes_written": (led.bytes_written, ""),
        "pipelines.files_written": (led.files_written, ""),
        "pipelines.write_amp": (
            led.bytes_written / led.bytes_read if led.bytes_read else 0.0,
            "bytes written / input bytes",
        ),
        "ml.dataset_s": (total("ml.dataset"), ""),
        "ml.train_s": (total("ml.train"), ""),
        "ml.evaluate_s": (total("ml.evaluate"), ""),
        "ml.score_s": (total("ml.score"), ""),
        "streaming.batches": (len(batches), "foreachBatch calls"),
        "streaming.batch_s": (sum(batches), ""),
        "streaming.batch_p50_s": (statistics.median(batches) if batches else 0.0, ""),
        "streaming.rows_upserted": (stream_rows, "micro-batch input rows"),
        "dag.tasks_failed": (led.dag_failed, ""),
        "dag.tasks_retried": (led.dag_retried, ""),
        "parity.checks": (led.parity_checks, ""),
        "parity.mismatches": (led.parity_mismatches, ""),
        "parity.check_s": (led.parity_s, ""),
        "trace.pass_s": (traced_pass, f"median of {len(led.passes)} traced passes"),
        "trace.overhead": (traced_pass / untraced_pass_s, "traced pass_s / untraced pass_s"),
        "trace.coverage": (
            layer_self / traced_total,
            "sum of layer self times / traced op time",
        ),
    }
    return {
        name: (value if name in NOT_PER_PASS else value / n, note)
        for name, (value, note) in out.items()
    }


def layer_notes(tracer, log) -> list[str]:
    """Printed lines answering which op fired which job, and whether the
    build-bound prediction holds (call after per_layer assigned jobs)."""
    spans = tracer.spans
    by_op: dict[str, list[trace.Job]] = {}
    for job in log.jobs.values():
        if job.span is not None:
            by_op.setdefault(spans[job.span].op or "(harness: checks)", []).append(job)
    passes = sum(s.name == "pass" for s in spans)
    lines = []
    for op, jobs in sorted(by_op.items()):
        descs = sorted({(j.description.strip() or "<none>").split("\n")[0][:60] for j in jobs})
        lines.append(
            f"jobs of op {op}: {len(jobs)} over {passes} traced passes, described as {descs}"
        )
    build = sum(s.duration for s in spans if s.name == "queries.build")
    force = sum(s.duration for s in spans if s.name == "spark.force")
    if build + force:
        share = build / (build + force)
        verdict = "holds" if share > 0.5 else "FAILS"
        lines.append(
            f"prediction 'queries.build_s is the largest share of op time' {verdict}:"
            f" build {build:.3f} s = {share:.1%}, plan+exec {force:.3f} s"
        )
    return lines


def report(workload: str, led, result: dict, extra: list[str]) -> None:
    """Print one line per metric, the extra lines, the failures, then the
    JSON record."""
    units = {**END_TO_END, **PER_LAYER}
    for name, (value, note) in result.items():
        print(f"{workload} {name} = {value:.6g} {units[name]}" + (f"  ({note})" if note else ""))
    for line in extra:
        print(f"{workload} {line}")
    for op, why in sorted(led.errors.items()):
        print(f"{workload} failed op {op}: {why}")
    record = {
        "correct": led.wrong == 0,
        "attempted": led.attempted,
        "failed": led.failed,
        "metrics": {
            name: {"value": value, "unit": units[name]}
            for name, (value, _note) in result.items()
        },
    }
    print(json.dumps(record))

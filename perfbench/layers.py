"""Per-layer metrics of a traced run, from its spans and its event log.

Layer metrics are per measured operation (one window commit, one query,
one batch, one lookup), so runs that completed different numbers of
operations compare directly; the pipelines' are per ROT batch and the
registry queries' per run of that query. A layer a workload does not
exercise reads 0 there. The table of which end-to-end metric each layer
metric should move, on which workload, is in ``perfbench/README.md``.
"""

from __future__ import annotations

from perfbench.trace import Attribution, read_event_log, union_length
from perfbench.workloads import MIX_QUERIES

PIPELINES = ("pipelines.rot_pipeline", "pipelines.mea_pipeline")


def per_layer(
    tracer, log_dir, ops, phases, window, e2e, row_bytes: float = 0.0
) -> tuple[dict[str, tuple[float, str]], dict]:
    """Returns the metrics and a note of the jobs no span tag claimed: how
    many a span claimed by time, and all of them counted by call site.
    ``row_bytes``: Arrow bytes of one in-window source row (the
    denominator of the sink's write amplification)."""
    jobs, stages = read_event_log(log_dir)
    attr = Attribution(tracer.spans, jobs, stages)
    lo, hi = window
    n = max(len(ops), 1)
    rows = sum(o.rows for o in ops)

    def measured(prefix):
        return lambda s: (
            s.name.startswith(prefix) and s.start >= lo - 0.01 and s.end <= hi + 0.05
        )

    def st(prefix):
        return attr.stats(measured(prefix))

    out: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (phases["get_spark_s"], "s"),
        "session.inputs_s": (phases["inputs_s"], "s"),
        "session.warmup_s": (phases["warmup_s"], "s"),
    }

    readers = st("sources.readers.")
    out["sources.readers.calls"] = (readers.calls / n, "count/op")
    out["sources.readers.busy_s"] = (readers.busy_s / n, "s/op")
    out["sources.schema.busy_s"] = (st("sources.schema.").busy_s / n, "s/op")

    out["incremental.pipeline.self_s"] = (
        st("incremental.pipeline.run_cascade").self_s / n, "s/op")
    out["incremental.pipeline.high_water_s"] = (
        st("incremental.pipeline.source_high_water").busy_s / n, "s/op")
    state = st("incremental.state.")
    out["incremental.state.calls"] = (state.calls / n, "count/op")
    out["incremental.state.busy_s"] = (state.busy_s / n, "s/op")
    sink = st("incremental.sink.")
    windows = st("incremental.sink.overwrite_window")
    out["incremental.sink.calls"] = (windows.calls / n, "count/op")
    out["incremental.sink.busy_s"] = (sink.busy_s / n, "s/op")
    out["incremental.sink.jobs"] = (sink.jobs / n, "count/op")
    out["incremental.sink.tasks"] = (sink.tasks / n, "count/op")
    out["incremental.sink.task_run_s"] = (sink.task_run_s / n, "s/op")
    out["incremental.sink.driver_s"] = (sink.driver_s / n, "s/op")
    out["incremental.sink.bytes_written"] = (sink.bytes_written / n, "B/op")
    in_window = rows * row_bytes if windows.calls else 0.0
    out["incremental.sink.write_amp"] = (
        sink.bytes_written / in_window if in_window else 0.0, "ratio")

    plan, exe = st("api.scatter_gather.plan"), st("api.scatter_gather.exec")
    api = st("api.scatter_gather.")
    out["api.scatter_gather.plan_s"] = (plan.busy_s / n, "s/op")
    out["api.scatter_gather.exec_s"] = (exe.busy_s / n, "s/op")
    out["api.scatter_gather.jobs"] = (api.jobs / n, "count/op")
    out["api.scatter_gather.driver_s"] = (api.driver_s / n, "s/op")
    out["api.scatter_gather.job_wait_s"] = (api.job_wait_s / n, "s/op")
    out["api.scatter_gather.rows_read_per_row_returned"] = (
        api.records_read / rows if api.calls and rows else 0.0, "ratio")

    # the pipelines' figures are per ROT batch, not per op of the mix
    batches = max(st("op.rot_batch").calls, 1)
    for layer in PIPELINES:
        p_plan, p_write, p_all = st(f"{layer}.plan"), st(f"{layer}.write"), st(f"{layer}.")
        out[f"{layer}.plan_s"] = (p_plan.busy_s / batches, "s/batch")
        out[f"{layer}.write_s"] = (p_write.busy_s / batches, "s/batch")
        out[f"{layer}.jobs"] = (p_all.jobs / batches, "count/batch")
        out[f"{layer}.input_scans"] = (p_all.input_scans / batches, "count/batch")
        out[f"{layer}.task_cpu_s"] = (p_all.task_cpu_s / batches, "s/batch")
        out[f"{layer}.gc_s"] = (p_all.gc_s / batches, "s/batch")
        out[f"{layer}.shuffle_write_bytes"] = (p_all.shuffle_write_bytes / batches, "B/batch")

    # a registry query's figures are per run of that query, not per op
    for qid in MIX_QUERIES.values():
        q = attr.stats(lambda s, name=f"plans.{qid}": s.name == name and measured(name)(s))
        runs = max(q.calls, 1)
        out[f"plans.{qid}.wall_s"] = (q.busy_s / runs, "s/run")
        out[f"plans.{qid}.jobs"] = (q.jobs / runs, "count/run")
        out[f"plans.{qid}.driver_s"] = (q.driver_s / runs, "s/run")
        out[f"plans.{qid}.task_run_s"] = (q.task_run_s / runs, "s/run")

    in_window = [j for j in jobs.values() if j.submit >= lo and j.end <= hi + 0.05]
    job_s = union_length([(j.submit, j.end) for j in in_window])
    wall = hi - lo
    out["spark.jobs"] = (len(in_window) / n, "count/op")
    out["spark.job_s"] = (job_s / n, "s/op")
    out["spark.driver_s"] = ((wall - job_s) / n, "s/op")
    out["spark.untagged_jobs"] = (float(len(attr.untagged)), "count")
    out["trace.op_p50_s"] = (e2e["op_p50_s"][0], "s")
    untagged: dict[str, int] = {}
    for j in attr.untagged:
        untagged[j.call_site] = untagged.get(j.call_site, 0) + 1
    claimed = len(attr.untagged) - len(attr.unclaimed)
    return out, {"claimed_by_time": claimed, "by_call_site": untagged}

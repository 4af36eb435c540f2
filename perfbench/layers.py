"""Per-layer metrics of a traced run, named ``<module>.<metric>``.

Every value comes from the spans the benchmark recorded around its own
calls into a module, from the event-log counters folded into those
spans, or from what the module's public functions report (stream
progress, table files and log entries). Warm-up spans are left out;
setup spans count only toward the ``session`` and ``sources.registry``
metrics. A module a workload does not call reports zero.
"""

from __future__ import annotations

from spans import SPAN_COUNTERS

QUERY_MODULES = ("sqlsurface", "dedup", "similarity", "text", "multimodal")
PYTHON_MODULES = ("dedup", "similarity", "text", "multimodal")
STAGE_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_bytes",
    "shuffle_bytes",
    "spill_bytes",
)
PYTHON_COUNTERS = ("python_total_s", "python_boot_s", "python_bytes")
SNAPSHOT_OPS = ("merge", "delete_where", "compact_files", "expire_snapshots", "read_version", "scan")
COMMIT_SPANS = {
    "sources.ingest.load_full",
    "sources.ingest.load_incremental",
    "sources.snapshot.merge",
    "sources.snapshot.delete_where",
    "sources.snapshot.compact_files",
    "streaming.jobs.stream_upsert_user_totals",
    "streaming.jobs.stream_cdc_aggregate",
    "bench.cdc_append",
}
STREAM_LAYERS = ("streaming.jobs", "streaming.stateful")


def _unit(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_bytes"):
        return "B"
    return "count"


def measured_spans(tracer) -> list:
    """Spans outside any warm-up span."""
    warm = set()
    for s in tracer.spans:  # parents precede children
        if s.name == "warmup" or s.parent in warm:
            warm.add(s.sid)
    return [s for s in tracer.spans if s.sid not in warm]


def compute(
    tracer, run, wl, extra: dict, kernels: dict, pass_s: float, untraced_pass_s: float
) -> dict:
    spans = measured_spans(tracer)
    out: dict[str, tuple[float, str]] = {}

    def seconds(name: str) -> float:
        return sum(s.seconds for s in spans if s.name == name)

    def counter(pred, key: str) -> float:
        return sum(s.counters.get(key, 0) for s in spans if pred(s.name))

    out["session.get_spark_s"] = (seconds("session.get_spark"), "s")
    out["session.tune_session_s"] = (seconds("session.tune_session"), "s")
    out["sources.registry.register_views_s"] = (seconds("sources.registry.register_views"), "s")

    for m in QUERY_MODULES:
        p = f"operators.{m}."
        out[p + "build_s"] = (seconds(p + "build"), "s")
        out[p + "exec_s"] = (seconds(p + "exec"), "s")
        keys = STAGE_COUNTERS + (PYTHON_COUNTERS if m in PYTHON_MODULES else ())
        for k in keys:
            out[p + k] = (counter(lambda n: n.startswith(p), k), _unit(k))

    loads = [s for s in spans if s.name.startswith("sources.ingest.load_")]
    out["sources.ingest.load_full_s"] = (seconds("sources.ingest.load_full"), "s")
    out["sources.ingest.load_incremental_s"] = (seconds("sources.ingest.load_incremental"), "s")
    out["sources.ingest.jobs_per_load"] = (
        sum(s.counters.get("jobs", 0) for s in loads) / len(loads) if loads else 0.0,
        "count",
    )
    out["sources.ingest.rows_loaded"] = (
        sum(o.rows for o in run.ops if o.name.startswith("load_")),
        "count",
    )

    p = "sources.snapshot."
    for op in SNAPSHOT_OPS:
        out[p + op + "_s"] = (seconds(p + op), "s")
    commits = extra.get("commits", 0)
    out[p + "commits"] = (commits, "count")
    out[p + "jobs_per_commit"] = (
        counter(lambda n: n in COMMIT_SPANS, "jobs") / commits if commits else 0.0,
        "count",
    )
    out[p + "scan_file_ratio"] = (extra.get("scan_file_ratio", 0.0), "ratio")
    user = extra.get("user_bytes", 0)
    out[p + "bytes_written_per_user_byte"] = (
        extra.get("bytes_written", 0) / user if user else 0.0,
        "ratio",
    )
    out[p + "live_files"] = (extra.get("live_files", 0), "count")
    out[p + "log_entries"] = (extra.get("log_entries", 0), "count")

    runs = getattr(wl, "progress", [])
    for layer in STREAM_LAYERS:
        mine = [prog for lay, prog in runs if lay == layer]
        trig = [t for prog in mine for t in prog]

        def ms(key: str, trig=trig) -> float:
            return sum(t.get("durationMs", {}).get(key, 0) for t in trig) / 1000.0

        def state(key: str, ps) -> float:
            return sum(op.get(key, 0) for t in ps for op in t.get("stateOperators") or [])

        out[layer + ".trigger_s"] = (ms("triggerExecution"), "s")
        out[layer + ".add_batch_s"] = (ms("addBatch"), "s")
        out[layer + ".planning_s"] = (ms("queryPlanning"), "s")
        out[layer + ".offset_commit_s"] = (ms("walCommit") + ms("commitOffsets"), "s")
        out[layer + ".triggers"] = (len(trig), "count")
        # Rows held in state when each job run ended.
        out[layer + ".state_rows"] = (
            state("numRowsTotal", [prog[-1] for prog in mine if prog]),
            "count",
        )
        out[layer + ".state_commit_s"] = (state("commitTimeMs", trig) / 1000.0, "s")

    out["functions.jpeg.decode_s"] = (kernels.get("jpeg", 0.0), "s")
    out["functions.minhash.sig_s"] = (kernels.get("minhash", 0.0), "s")
    out["trace.overhead_ratio"] = (pass_s / untraced_pass_s, "ratio")
    out["trace.unattributed_jobs"] = (len(tracer.unattributed_jobs), "count")
    return out


def per_query(tracer, run) -> dict:
    """Layer record of every query op: build and exec time plus the
    folded Spark counters of its spans."""
    by_op: dict[int, dict] = {}
    for s in measured_spans(tracer):
        if s.op is None or not s.name.startswith("operators."):
            continue
        rec = by_op.setdefault(s.op, {})
        phase = s.name.rsplit(".", 1)[1]
        rec[f"{phase}_s"] = rec.get(f"{phase}_s", 0.0) + s.seconds
        for k in SPAN_COUNTERS:
            if k in s.counters:
                rec[k] = rec.get(k, 0) + s.counters[k]
    return {f"{run.ops[i].name}#{run.ops[i].pass_idx}": v for i, v in sorted(by_op.items())}

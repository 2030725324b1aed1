"""Per-layer metrics of the traced run.

``install`` wraps each layer's public entry points for one traced
pass; ``per_layer`` and ``exec_metrics`` turn the spans, counters and
Spark event log into the per-layer metrics (median over traced
passes). ``PER_LAYER`` is the full metric list with units; every
traced run emits all of it, with 0 for a layer its workload does not
exercise.
"""

from __future__ import annotations

import os
import statistics

import workloads
from host import jvm_peak_rss_mb

EXEC = {
    "exec.jobs": ("jobs", "count"),
    "exec.stages": ("stages", "count"),
    "exec.tasks": ("tasks", "count"),
    "exec.executor_run_s": ("executor_run_s", "s"),
    "exec.executor_cpu_s": ("executor_cpu_s", "s"),
    "exec.gc_s": ("gc_s", "s"),
    "exec.shuffle_write_mb": ("shuffle_write_mb", "MiB"),
    "exec.shuffle_read_mb": ("shuffle_read_mb", "MiB"),
    "exec.spill_mb": ("spill_mb", "MiB"),
    "exec.input_mb": ("input_mb", "MiB"),
    "arrow.sent_mb": ("arrow_sent_mb", "MiB"),
    "arrow.returned_mb": ("arrow_returned_mb", "MiB"),
    "arrow.rows_returned": ("arrow_rows_returned", "count"),
}

PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "jvm.gc_s": "s",
    "jvm.peak_rss_mb": "MiB",
    "jvm.live_heap_mb": "MiB",
    "plans.build_s": "s",
    "catalog.load_calls": "count",
    "catalog.load_s": "s",
    "catalog.memo_hit_ratio": "ratio",
    "spark.analysis_s": "s",
    "spark.optimization_s": "s",
    "spark.planning_s": "s",
    "operators.spread_calls": "count",
    "operators.spread_s": "s",
    **{name: unit for name, (_, unit) in EXEC.items()},
    **{f"op.{q}_s": "s" for q in workloads.CURATION},
    "sources.bronze_write_s": "s",
    "sources.bronze_files": "count",
    "streaming.queries": "count",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.trigger_s": "s",
    "streaming.query_s": "s",
    "lakehouse.commits": "count",
    "lakehouse.commit_s": "s",
    "lakehouse.read_s": "s",
    "lakehouse.live_files": "count",
    "lakehouse.bytes_per_user_byte": "ratio",
    "materialized.refreshes": "count",
    "materialized.refresh_s": "s",
    "materialized.delta_files": "count",
    "feedback.rounds": "count",
    "feedback.detect_s": "s",
    "feedback.ingest_s": "s",
    "feedback.last_round_tasks": "count",
    "trace.overhead": "ratio",
    "trace.span_coverage": "ratio",
}


def install(tracer, run) -> None:
    """Rebind the layers' public functions to span-recording wrappers
    for one traced pass (``tracer.unwrap_all`` undoes it)."""
    from pyspark.sql.classic.dataframe import DataFrame

    from martian_moments_spark import catalog, materialized
    from martian_moments_spark import lakehouse as lh
    from martian_moments_spark.operators import parallelize
    from martian_moments_spark.pipelines import feedback, medallion

    memoized: set[int] = set()  # ids of the DataFrames load() had returned before this call

    def before_load(spark, *args, **kwargs):
        memoized.clear()
        memoized.update(id(df) for df in catalog._LOAD_MEMO.get(spark, {}).values())

    def on_load(df):
        tracer.count("catalog.load_calls")
        if id(df) in memoized:
            tracer.count("catalog.memo_hits")

    tracer.rebind(
        catalog.load,
        tracer.wrap("catalog.load", catalog.load, on_call=before_load, on_result=on_load),
    )
    for fn in (parallelize.spread_fanout, parallelize.spread_scan):
        tracer.rebind(fn, tracer.wrap("operators.spread", fn))
    for fn in (lh.append, lh.overwrite, lh.merge_upsert):
        tracer.rebind(fn, tracer.wrap("lakehouse.commit", fn))
    tracer.rebind(lh.read_table, tracer.wrap("lakehouse.read", lh.read_table))
    tracer.rebind(
        medallion.write_bronze_envelopes,
        tracer.wrap(
            "sources.bronze_write", medallion.write_bronze_envelopes,
            on_result=lambda paths: tracer.count("sources.bronze_files", len(paths)),
        ),
    )
    tracer.rebind(
        feedback.feedback_rounds,
        tracer.wrap(
            "feedback.rounds", feedback.feedback_rounds,
            on_result=lambda r: tracer.count("feedback.rounds", len(r[1])),
        ),
    )

    refreshed: dict[str, int] = {}

    def on_refresh(rollup, spark):
        # files appended to the source since the previous refresh
        n = len(lh.snapshot_files(rollup.source_table))
        tracer.count("materialized.delta_files", n - refreshed.get(rollup.source_table, 0))
        refreshed[rollup.source_table] = n

    tracer.rebind_attr(
        materialized.MaterializedRollup, "refresh",
        tracer.wrap("materialized.refresh", materialized.MaterializedRollup.refresh, on_call=on_refresh),
    )

    collect = DataFrame.collect

    def traced_collect(self):
        rows = collect(self)
        phases = self._jdf.queryExecution().tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            summary = phases.get(phase)
            if summary.isDefined():
                tracer.count(f"spark.{phase}_s", summary.get().durationMs() / 1000.0)
        return rows

    tracer.rebind_attr(DataFrame, "collect", traced_collect)


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def per_layer(run, m: dict, workload) -> dict:
    """Per-layer metrics from spans and counters (before shutdown; the
    event-log metrics are added by ``exec_metrics`` after it)."""
    tracer = m["tracer"]
    traced = [p for p in m["passes"] if p["traced"]]
    untraced = [p for p in m["passes"] if not p["traced"]]

    def med(f):
        return _median(f(p) for p in traced)

    def total(name):
        return med(lambda p: tracer.outermost_total(p["id"], name))

    def spans(name):
        return med(lambda p: tracer.n_spans(p["id"], name))

    def count(name):
        return med(lambda p: tracer.counts[p["id"]].get(name, 0.0))

    def hit_ratio(p):
        c = tracer.counts[p["id"]]
        return c.get("catalog.memo_hits", 0.0) / c["catalog.load_calls"] if c.get("catalog.load_calls") else 0.0

    v = {
        "session.start_s": m["session_start_s"],
        "jvm.gc_s": med(lambda p: p["gc_s"]),
        "jvm.peak_rss_mb": jvm_peak_rss_mb(),
        "jvm.live_heap_mb": run.jvm_live_heap_mb(),
        "plans.build_s": total("plans.build"),
        "catalog.load_calls": count("catalog.load_calls"),
        "catalog.load_s": total("catalog.load"),
        "catalog.memo_hit_ratio": med(hit_ratio),
        "spark.analysis_s": count("spark.analysis_s"),
        "spark.optimization_s": count("spark.optimization_s"),
        "spark.planning_s": count("spark.planning_s"),
        "operators.spread_calls": spans("operators.spread"),
        "operators.spread_s": total("operators.spread"),
        "sources.bronze_write_s": total("sources.bronze_write"),
        "sources.bronze_files": count("sources.bronze_files"),
        "streaming.queries": count("streaming.queries"),
        "streaming.batches": count("streaming.batches"),
        "streaming.input_rows": count("streaming.input_rows"),
        "streaming.trigger_s": count("streaming.trigger_s"),
        "streaming.query_s": count("streaming.query_s"),
        "lakehouse.commits": spans("lakehouse.commit"),
        "lakehouse.commit_s": total("lakehouse.commit"),
        "lakehouse.read_s": total("lakehouse.read"),
        "lakehouse.live_files": med(lambda p: run.storage.get(p["id"], {}).get("lakehouse.live_files", 0)),
        "lakehouse.bytes_per_user_byte": med(
            lambda p: run.storage.get(p["id"], {}).get("lakehouse.bytes_per_user_byte", 0.0)
        ),
        "materialized.refreshes": spans("materialized.refresh"),
        "materialized.refresh_s": total("materialized.refresh"),
        "materialized.delta_files": count("materialized.delta_files"),
        "feedback.rounds": count("feedback.rounds"),
        "feedback.ingest_s": total("feedback.ingest"),
        "feedback.detect_s": med(
            lambda p: tracer.outermost_total(p["id"], "feedback.rounds")
            - tracer.outermost_total(p["id"], "feedback.ingest")
        ),
        "trace.overhead": _median(p["wall"] for p in traced) / _median(p["wall"] for p in untraced),
        "trace.span_coverage": med(lambda p: tracer.top_level_coverage(p["span"])),
    }
    names = getattr(workload, "names", ())
    for q in workloads.CURATION:
        v[f"op.{q}_s"] = med(lambda p: p["ops"][q]) if q in names else 0.0
    return {k: {"value": v[k], "unit": PER_LAYER[k]} for k in PER_LAYER if k in v}


def exec_metrics(run, m: dict) -> dict:
    """Spark execution and Arrow-seam metrics per traced pass, from the
    event log (read after the session stopped and flushed it). A job
    belongs to a pass by its ``<pass>/<op>`` job group, or, for jobs
    Spark groups itself (streaming micro-batches), by submission time."""
    from spans import parse_event_log

    jobs = parse_event_log(os.path.join(run.run_dir, "eventlog"))
    traced = [p for p in m["passes"] if p["traced"]]
    per_pass = []
    last_round = []
    for p in traced:
        mine = []
        detect: dict[int, float] = {}
        for j in jobs:
            group = j.get("group") or ""
            if group.startswith("p") and "/" in group:
                if group.split("/", 1)[0] != p["id"]:
                    continue
            elif not (p["start"] <= j["time"] <= p["end"]):
                continue
            mine.append(j)
            step = group.split("/", 1)[-1]
            if step.startswith("feedback.detect."):
                k = int(step.rsplit(".", 1)[1])
                detect[k] = detect.get(k, 0.0) + j.get("tasks", 0.0)
        per_pass.append({key: sum(j.get(key, 0.0) for j in mine) for _, (key, _) in EXEC.items()})
        per_pass[-1]["jobs"] = len(mine)
        last_round.append(detect[max(detect)] if detect else 0.0)
    out = {name: {"value": _median(pp[key] for pp in per_pass), "unit": unit}
           for name, (key, unit) in EXEC.items()}
    out["feedback.last_round_tasks"] = {"value": _median(last_round), "unit": "count"}
    return out

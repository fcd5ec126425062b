"""Per-layer figures of a traced run.

Every traced run reports the same list of per-layer metrics
(``PER_LAYER``); a layer the workload does not exercise reads 0.  The
spans come from ``trace.Tracer`` and the Spark figures from the event log
(``trace.read_event_log``).
"""

from __future__ import annotations

import statistics

import querymix
import tracing as tr

STAGES = ("bronze", "silver", "gold")

#: name -> unit, in report order.
PER_LAYER: dict[str, str] = {}
for _st in STAGES:
    PER_LAYER.update({f"pipelines.{_st}.busy_s": "s", f"pipelines.{_st}.rows": "count",
                      f"pipelines.{_st}.bytes_written": "bytes",
                      f"pipelines.{_st}.files_written": "count"})
PER_LAYER.update({
    "pipelines.bytes_written_per_bronze_byte": "ratio",
    "pipelines.runner.self_s": "s",
    "pipelines.runner.driver_actions": "count",
    "pipelines.gold_ready_s_p50": "s",
    "pipelines.silver_rows_per_s": "1/s",
    "query.total_s": "s",
    "query.relational_geomean_s": "s",
    "query.llm_geomean_s": "s",
})
for _q in querymix.MIX:
    PER_LAYER.update({f"plans.{_q}.build_s": "s", f"catalyst.{_q}.plan_s": "s",
                      f"exec.{_q}.s": "s", f"operators.{_q}.driver_actions": "count"})
PER_LAYER.update({
    "operators.cache_bytes_peak": "bytes",
    "operators.leaked_cached_rdds": "count",
    "serve.light_p50_ms": "ms",
    "serve.busy_p50_ms": "ms",
    "serve.busy_tail_ms": "ms",
    "serve.busy_goodput_rps": "1/s",
    "serve.api.queue_wait_ms_p50": "ms",
    "serve.api.track_ms_p50": "ms",
    "serve.api.eta_ms_p50": "ms",
    "serve.api.predict_ms_p50": "ms",
    "serve.api.jobs_per_track": "count",
    "serve.api.jobs_per_eta": "count",
    "serve.api.jobs_per_predict": "count",
    "ml.pipeline.score_ms_p50": "ms",
    "ml.pipeline.train_s": "s",
    "serve.lookup.log_append_ms_p50": "ms",
    "serve.gold_cache_bytes": "bytes",
    "serve.generator_lag_ms_max": "ms",
    "serve.context_s": "s",
})
for _m in tr.SPARK_METRICS:
    if _m != "output_records":
        PER_LAYER[f"spark.{_m}"] = {"jobs": "count", "stages": "count", "tasks": "count",
                                    "tasks_failed": "count"}.get(
            _m, "s" if _m.endswith("_s") else "bytes")
PER_LAYER.update({
    "spark.idle_core_frac": "ratio",
    "mem.peak_rss_mb": "MB",
    "trace.setup_s": "s",
    "trace.latency_p50_ms": "ms",
    "trace.latency_geomean_ms": "ms",
    "trace.cpu_ms_per_op": "ms",
    "trace.spans": "count",
})

#: Wrapped module-level functions: (module path, attribute, span name).
WRAPS = [
    ("pipelines.runner", "generate_bronze_day", "pipelines.bronze"),
    ("pipelines.runner", "write_bronze_json", "pipelines.bronze"),
    ("pipelines.runner", "read_bronze", "pipelines.silver"),
    ("pipelines.runner", "silver_transform", "pipelines.silver"),
    ("pipelines.runner", "write_silver", "pipelines.silver"),
    ("pipelines.runner", "build_gold_tables", "pipelines.gold"),
    ("pipelines.runner", "write_gold", "pipelines.gold"),
    ("pipelines.runner", "run_medallion_day", "pipelines.runner"),
    ("serve.api", "point_lookup", "serve.lookup.point_lookup"),
    ("serve.api", "country_eta", "serve.lookup.country_eta"),
    ("serve.api", "log_prediction", "serve.lookup.log_append"),
    ("ml.pipeline", "score", "ml.pipeline.score"),
    ("ml.pipeline", "train_delivery_model", "ml.pipeline.train"),
]

#: Handler span -> the child spans whose jobs belong to the same request.
REQUEST_SPANS = {
    "track": ("serve.api.track", "serve.lookup.point_lookup"),
    "eta": ("serve.api.eta", "serve.lookup.country_eta"),
    "predict": ("serve.api.predict", "ml.pipeline.score", "serve.lookup.log_append"),
}


def install(tracer: tr.Tracer, package: str) -> None:
    import importlib

    for mod, attr, name in WRAPS:
        tracer.wrap(importlib.import_module(f"{package}.{mod}"), attr, name)
    tracer.count_actions()


def _p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def pipeline_layers(tracer: tr.Tracer, events: dict, lake: str, dates: list[str]) -> dict:
    out: dict[str, float] = {}
    spans = events["spans"]
    paths = {"bronze": [f"{lake}/bronze/{d}" for d in dates],
             "silver": [f"{lake}/silver/load_date={d}" for d in dates],
             "gold": [f"{lake}/gold/{d}" for d in dates]}
    written = {}
    for st in STAGES:
        stats = [tr.dir_stats(p) for p in paths[st]]
        written[st] = sum(s[0] for s in stats)
        out[f"pipelines.{st}.busy_s"] = tracer.total(f"pipelines.{st}")
        out[f"pipelines.{st}.rows"] = spans.get(f"pipelines.{st}", {}).get("output_records", 0)
        out[f"pipelines.{st}.bytes_written"] = written[st]
        out[f"pipelines.{st}.files_written"] = sum(s[1] for s in stats)
    out["pipelines.bytes_written_per_bronze_byte"] = (
        (written["silver"] + written["gold"]) / written["bronze"] if written["bronze"] else 0.0)
    by = tracer.by_name()
    runs = sorted(by.get("pipelines.runner", []), key=lambda s: s.start)
    out["pipelines.runner.self_s"] = sum(s.self_s for s in runs)
    out["pipelines.runner.driver_actions"] = sum(s.actions for s in runs)
    ready = []
    for r in runs:
        inside = lambda name: [s.end for s in by.get(name, []) if r.start <= s.start <= r.end]  # noqa: E731
        bronze, gold = inside("pipelines.bronze"), inside("pipelines.gold")
        if bronze and gold:
            ready.append(max(gold) - max(bronze))
    out["pipelines.gold_ready_s_p50"] = _p50(ready)
    run_s = sum(s.duration for s in runs)
    out["pipelines.silver_rows_per_s"] = out["pipelines.silver.rows"] / run_s if run_s else 0.0
    return out


def serve_span_layers(tracer: tr.Tracer, events: dict, reqs: list[dict]) -> dict:
    out: dict[str, float] = {}
    window_spans = events["window_spans"]
    for kind, names in REQUEST_SPANS.items():
        calls = sum(1 for r in reqs if r["kind"] == kind)
        jobs = sum(window_spans.get(n, {}).get("jobs", 0) for n in names)
        out[f"serve.api.jobs_per_{kind}"] = jobs / calls if calls else 0.0
    out["ml.pipeline.score_ms_p50"] = _p50(tracer.durations_ms("ml.pipeline.score"))
    out["serve.lookup.log_append_ms_p50"] = _p50(tracer.durations_ms("serve.lookup.log_append"))
    return out


def spark_layers(events: dict, wall_s: float, cores: int) -> dict:
    tot = events["total"]
    out = {f"spark.{k}": v for k, v in tot.items() if k != "output_records"}
    busy = wall_s * cores
    out["spark.idle_core_frac"] = max(0.0, 1.0 - tot["executor_run_s"] / busy) if busy else 0.0
    return out


def complete(values: dict[str, float]) -> dict[str, float]:
    """Every per-layer metric, 0 where this workload has no such layer."""
    unknown = set(values) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"metrics missing from PER_LAYER: {sorted(unknown)}")
    return {k: float(values.get(k, 0.0)) for k in PER_LAYER}

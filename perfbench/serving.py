"""``serve_mixed``: open-loop requests against the serving handlers.

Set-up builds a fresh lake with ``pipelines.runner.run_medallion`` over
consecutive dates, trains the delivery model with
``ml.pipeline.train_delivery_model``, saves it under a models root and
opens one ``serve.api.ServingContext.from_paths`` over the gold
``fact_shipment`` of every date.

The timed window is open loop: a dispatcher thread releases requests on a
seeded schedule to at most ``WORKERS`` worker threads, which call
``handle_track`` / ``handle_eta`` / ``handle_predict``.  Each request is
timed from the moment it was due, so queueing shows as latency.  The
window has a light phase and then a busy phase at fixed rates.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import checks
import tracing

#: Dates in the lake and shipments per date.  Each date costs several
#: seconds of fixed job overhead whatever its size, so the lake is kept
#: to two dates to fit set-up in the run budget.
N_DAYS = 2
N_RECORDS = 5_000
#: The model trains on N_RECORDS / TRAIN_SAMPLE_DIV shipments of an earlier
#: date (reference hyperparameters: 150 trees, depth 12); its cost is
#: mostly per-level job overhead, not rows.
TRAIN_SAMPLE_DIV = 10
#: Offered load (requests/s).  Both sit below the measured capacity of
#: the model-backed mix on 4 cores, so the busy phase queues without a
#: growing backlog.
LIGHT_RPS = 2.0
BUSY_RPS = 3.5
LIGHT_FRAC = 0.2
LATENCY_LIMIT_MS = 2000.0
#: Worker threads; Spark gets the other half of the CPUs (``run.spark_cores``).
WORKERS = max(1, min(4, (os.cpu_count() or 1) // 2))
WARM_REQUESTS = 8
WARM_PREDICTS = 2
KINDS = (("track", 0.7), ("eta", 0.2), ("predict", 0.1))
COUNTRIES = ["DE", "IN", "US", "JP", "FR", "PT", "GB", "EC"]


def base_date(seed: int) -> dt.date:
    return dt.date(2024, 1, 1) + dt.timedelta(days=seed % 365)


def schedule(seed: int, seconds: float, light_rps: float = LIGHT_RPS,
             busy_rps: float = BUSY_RPS) -> list[tuple[float, str, str]]:
    """(due offset s, phase, kind) for every request of the window.

    Each phase holds exactly ``rate x duration`` requests.  Arrivals are
    jittered: request i is due at a uniformly random instant of the i-th
    of n equal slots.  Kinds come in blocks of ten: the predict sits in
    the middle of its block and the 7 tracks and 2 etas are shuffled
    around it.  Pure Poisson arrivals with a free kind order let two slow
    predicts overlap in some seeds and not in others (they hold the
    interpreter and stall every other request), which at ~40 requests
    per run moved the busy p50 by 2x from seed to seed; this schedule
    keeps the load and mix the same in every seed while the instants,
    the order and the keys still vary.
    """
    rng = random.Random(seed)
    others = [k for k, share in KINDS[:-1] for _ in range(round(share * 10))]
    out = []
    light_s = seconds * LIGHT_FRAC
    for phase, start, dur, rate in (("light", 0.0, light_s, light_rps),
                                    ("busy", light_s, seconds - light_s, busy_rps)):
        n = max(1, round(rate * dur))
        kinds: list[str] = []
        while len(kinds) < n:
            block = others[:]
            rng.shuffle(block)
            block.insert(len(block) // 2, KINDS[-1][0])
            kinds += block[: n - len(kinds)]
        slot = dur / n
        out += [(start + (i + rng.random()) * slot, phase, k) for i, k in enumerate(kinds)]
    return out


def setup(ctx, seed: int, n_days: int = N_DAYS, n_records: int = N_RECORDS) -> dict:
    from modern_data_lakehouse_pipeline_for_logistics_analytics__spark.ml import pipeline as mlp
    from modern_data_lakehouse_pipeline_for_logistics_analytics__spark.pipelines import bronze as bronze_mod
    from modern_data_lakehouse_pipeline_for_logistics_analytics__spark.pipelines import runner
    from modern_data_lakehouse_pipeline_for_logistics_analytics__spark.pipelines import silver as silver_mod
    from modern_data_lakehouse_pipeline_for_logistics_analytics__spark.serve import api
    spark = ctx.spark
    lake = os.path.join(ctx.run_dir, "lake")
    models_root = os.path.join(ctx.run_dir, "models")
    log_root = os.path.join(ctx.run_dir, "prediction_log")
    dates = [(base_date(seed) + dt.timedelta(days=i)).isoformat() for i in range(n_days)]

    def train() -> float:
        # The training set is the silver transform of an earlier date,
        # generated in memory, so training overlaps the lake build.
        t = time.perf_counter()
        day = (base_date(seed) - dt.timedelta(days=1)).isoformat()
        silver = silver_mod.silver_transform(
            bronze_mod.generate_bronze_day(spark, day, n_records // TRAIN_SAMPLE_DIV), day)
        model, _train, _test = mlp.train_delivery_model(silver)
        model.write().save(os.path.join(models_root, "20240101-000000"))
        return time.perf_counter() - t

    with ThreadPoolExecutor(max_workers=1) as pool:
        trained = pool.submit(train)
        counts = runner.run_medallion(spark, lake, dates, n_records)
        train_s = trained.result()
    t0 = time.perf_counter()
    sctx = api.ServingContext.from_paths(
        spark, f"{lake}/gold/*/fact_shipment", models_root=models_root, log_root=log_root
    )
    if sctx.model is None:
        raise RuntimeError("trained model did not load")
    keys = checks.gold_keys(lake, dates)
    shipments = checks.sample_shipments(lake, 64)
    # Untimed warm-up: a few requests of each kind, after a full GC.  The
    # GC comes first because it lets Spark's ContextCleaner drop
    # broadcasts (the model's among them) that the next request would
    # then rebuild: after the GC, the first predict cost several times
    # the CPU of the ones that followed it.
    spark._jvm.System.gc()
    for i in range(WARM_REQUESTS):
        api.handle_track(sctx, keys["newest"][i % len(keys["newest"])])
        api.handle_eta(sctx, COUNTRIES[i % len(COUNTRIES)])
    for i in range(WARM_PREDICTS):
        api.handle_predict(sctx, shipments[i])
    t1 = time.perf_counter()
    return {
        "lake": lake,
        "log_root": log_root,
        "dates": dates,
        "counts": counts,
        "n_records": n_records,
        "sctx": sctx,
        "keys": keys,
        "shipments": shipments,
        "warm_predicts": WARM_PREDICTS,
        "train_s": train_s,
        "context_s": t1 - t0,
    }


def _request(rng: random.Random, kind: str, st: dict):
    if kind == "track":
        r = rng.random()
        if r < 0.7:
            return rng.choice(st["keys"]["newest"])
        if r < 0.9:
            return rng.choice(st["keys"]["older"] or st["keys"]["newest"])
        return f"unknown-{rng.randrange(10**9):09d}"
    if kind == "eta":
        c = rng.choice(COUNTRIES)
        return c.lower() if rng.random() < 0.25 else c
    feat = dict(rng.choice(st["shipments"]))
    feat["tracking_number"] = f"req-{rng.randrange(10**9):09d}"
    return feat


def run(ctx, seed: int, seconds: float, n_days: int = N_DAYS, n_records: int = N_RECORDS,
        light_rps: float = LIGHT_RPS, busy_rps: float = BUSY_RPS, tamper=None) -> dict:
    """Set up, serve the timed window, check every answer and the lake.
    ``tamper(state, reqs)``, if given, runs just before the checks (the
    tests use it to corrupt an output)."""
    from modern_data_lakehouse_pipeline_for_logistics_analytics__spark.serve import api

    t_setup = time.perf_counter()
    st = setup(ctx, seed, n_days, n_records)
    setup_s = time.perf_counter() - t_setup + ctx.session_s

    rng = random.Random(seed ^ 0x5E4E)
    plan = schedule(seed, seconds, light_rps, busy_rps)
    reqs = [{"due": t, "phase": ph, "kind": k, "arg": _request(rng, k, st)} for t, ph, k in plan]
    handlers = {"track": "handle_track", "eta": "handle_eta", "predict": "handle_predict"}
    sctx, tracer = st["sctx"], ctx.tracer

    def work(req: dict) -> None:
        req["start"] = time.perf_counter()
        try:
            with tracer.span(f"serve.api.{req['kind']}"):
                req["resp"] = getattr(api, handlers[req["kind"]])(sctx, req["arg"])
        except Exception as exc:  # noqa: BLE001 -- counted as a failed operation
            req["error"] = repr(exc)
        req["end"] = time.perf_counter()

    pool = ThreadPoolExecutor(max_workers=WORKERS, thread_name_prefix="serve")
    ctx.window_start()
    with tracing.CpuMeter() as meter:
        t0 = time.perf_counter()
        futures = []
        try:
            for req in reqs:  # dispatcher: release each request when due
                due = t0 + req["due"]
                delay = due - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                req["due_abs"] = due
                req["lag"] = time.perf_counter() - due
                futures.append(pool.submit(work, req))
            for f in futures:
                f.result()
        finally:
            pool.shutdown(wait=True)
        window_cpu_s = meter.read()
    ctx.window_end()

    for req in reqs:
        req["latency_ms"] = (req["end"] - req["due_abs"]) * 1000.0
        req["service_ms"] = (req["end"] - req["start"]) * 1000.0
        req["wait_ms"] = (req["start"] - req["due_abs"]) * 1000.0
    if tamper is not None:
        tamper(st, reqs)
    checks.check_serving(st, reqs)
    problems = checks.check_medallion(st["lake"], st["dates"], st["n_records"], st["counts"])
    days = []
    for d in st["dates"]:
        mine = [p for p in problems if p.startswith(d)]
        days.append({"name": f"medallion {d}", "ok": not mine, **({"error": mine[0]} if mine else {})})
    gold_cache = tracing.cached_bytes(ctx.spark.sparkContext)
    return {"setup_s": setup_s, "state": st, "reqs": reqs, "days": days,
            "gold_cache_bytes": gold_cache, "seconds": seconds, "window_cpu_s": window_cpu_s}


def _p(values: list[float], q: float) -> float:
    """The sample at quantile ``q`` (the median for 0.5); 0 when empty."""
    if not values:
        return 0.0
    if q == 0.5:
        return statistics.median(values)
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def tail_percentile(n: int, beyond: int = 10) -> float:
    """Highest percentile (whole number) with at least ``beyond`` samples
    above it among ``n``."""
    return max(0, 100 * (n - beyond) // n) / 100.0 if n > beyond else 0.0


def end_to_end(res: dict) -> dict[str, float]:
    busy = [r["latency_ms"] for r in res["reqs"] if r["phase"] == "busy" and r.get("ok")]
    return {
        "latency_p50_ms": statistics.median(busy),
        "latency_geomean_ms": statistics.geometric_mean(busy),
        "cpu_ms_per_op": 1000.0 * res["window_cpu_s"] / len(res["reqs"]),
    }


def per_layer(res: dict) -> dict[str, float]:
    reqs = [r for r in res["reqs"] if r.get("ok")]
    busy = [r for r in reqs if r["phase"] == "busy"]
    light = [r for r in reqs if r["phase"] == "light"]
    busy_s = res["seconds"] * (1 - LIGHT_FRAC)
    out = {
        "serve.light_p50_ms": _p([r["latency_ms"] for r in light], 0.5),
        "serve.busy_p50_ms": _p([r["latency_ms"] for r in busy], 0.5),
        "serve.busy_tail_ms": _p([r["latency_ms"] for r in busy], tail_percentile(len(busy))),
        "serve.busy_goodput_rps": sum(r["latency_ms"] <= LATENCY_LIMIT_MS for r in busy) / busy_s,
        "serve.api.queue_wait_ms_p50": _p([r["wait_ms"] for r in reqs], 0.5),
        "serve.generator_lag_ms_max": max(r["lag"] for r in res["reqs"]) * 1000.0,
        "serve.gold_cache_bytes": res["gold_cache_bytes"],
        "ml.pipeline.train_s": res["state"]["train_s"],
        "serve.context_s": res["state"]["context_s"],
    }
    for kind, _ in KINDS:
        out[f"serve.api.{kind}_ms_p50"] = _p([r["service_ms"] for r in reqs if r["kind"] == kind], 0.5)
    return out

"""``query_mix``: registered read-only queries over the benchmark's own
fixture tables, in a seeded order, after one untimed warm pass.

Each query is built (``QUERIES[name](spark, sf_dir)``, where the
iterative operators run their driver loops) and then consumed by a
materializing fold: every output row is hashed over all its columns and
the hashes are XOR-folded to one scalar next to the row count, so no
operator can be pruned from the timed plan and no payload is collected.
``operators.dedup.release_caches()`` runs before every query, so each
query pays for its own operator caches.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

import fixtures
import tracing

RELATIONAL = [
    "courier_metrics",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "scalar_json",
]
#: A driver-side fixpoint loop (bfs) and the Arrow ``mapInPandas``
#: boundary (minhash LSH).
LLM_OPS = [
    "bfs_hops_part_supplier",
    "dedup_minhash_lsh",
]
MIX = RELATIONAL + LLM_OPS

#: Fixture scale (1.0 ~ TPC-H sf1 row counts): 60K lineitem rows.
SCALE = 0.01
WARM_THREADS = 4
#: Timed passes over the mix: at least this many, and then another while
#: it is expected to end within ``--seconds``; each query's time is its
#: median over the passes.
MIN_PASSES = 2
DIGESTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def _canonical(field: T.StructField):
    """Column expression the fold hashes: floating point is rounded to
    single precision, so a last-bit difference in a double aggregate
    (summation order) does not change the digest; maps are hashed through
    their JSON form (``xxhash64`` rejects maps)."""
    c, t = F.col(field.name), field.dataType
    if isinstance(t, (T.DoubleType, T.FloatType)):
        return c.cast("float")
    if isinstance(t, T.ArrayType) and isinstance(t.elementType, (T.DoubleType, T.FloatType)):
        return F.transform(c, lambda x: x.cast("float"))
    if isinstance(t, T.MapType):
        return F.to_json(c)
    return c


def fold_frame(df: DataFrame) -> DataFrame:
    """One-row frame ``(n, fold)`` over every row and column of ``df``."""
    h = F.xxhash64(*[_canonical(f) for f in df.schema.fields]).alias("h")
    return df.select(h).agg(
        F.count(F.lit(1)).alias("n"), F.coalesce(F.expr("bit_xor(h)"), F.lit(0)).alias("fold")
    )


def load_digests(scale: float) -> dict[str, list[int]]:
    """Pinned ``[rows, fold]`` per query for the fixtures at ``scale``."""
    with open(DIGESTS_PATH, encoding="utf-8") as fh:
        return json.load(fh).get(str(scale), {})


def check_digests(ops: list[dict], digests: dict[str, list[int]]) -> None:
    """Sets ``op["ok"]``: the execution ran and its (rows, fold) equals the
    pinned digest of its query."""
    for op in ops:
        if "error" in op:
            op["ok"] = False
        elif op["name"] not in digests:
            op["ok"] = False
            op["error"] = f"no pinned digest for {op['name']}"
        else:
            op["ok"] = [op["rows"], op["fold"]] == digests[op["name"]]
            if not op["ok"]:
                op["error"] = f"{op['name']}: digest {[op['rows'], op['fold']]} != pinned"


def run(ctx, seed: int, seconds: float, queries: list[str] | None = None,
        scale: float = SCALE, digests: dict | None = None) -> dict:
    """Set up (fixtures, warm pass), run the timed passes, check digests
    (the pinned ones for ``scale`` unless ``digests`` is given).

    Returns ``{"setup_s", "ops", "cache_bytes_peak", "leaked_cached_rdds"}``;
    each op is ``{"name", "ok", "s", "build_s", "plan_s", "exec_s", "rows",
    "fold", "driver_actions"}`` or carries an ``"error"``.
    """
    from modern_data_lakehouse_pipeline_for_logistics_analytics__spark.operators import dedup
    from modern_data_lakehouse_pipeline_for_logistics_analytics__spark.plans import QUERIES

    spark, tracer = ctx.spark, ctx.tracer
    names = list(queries or MIX)
    t_setup = time.perf_counter()
    sf_dir = fixtures.write_fixtures(os.path.join(ctx.run_dir, "fixtures"), scale)
    # Untimed warm pass (class loading, JIT, codegen), the queries run
    # concurrently.  The operator caches are keyed per operator and locked,
    # and they are released before the timed passes.
    warm = lambda name: fold_frame(QUERIES[name](spark, sf_dir)).collect()  # noqa: E731
    with ThreadPoolExecutor(max_workers=WARM_THREADS) as pool:
        list(pool.map(warm, names))
    dedup.release_caches()
    setup_s = time.perf_counter() - t_setup + ctx.session_s

    sc = spark.sparkContext
    baseline_rdds = len(sc._jsc.getPersistentRDDs())
    order_rng = random.Random(seed)
    ops, cache_peak, passes = [], 0, 0
    ctx.window_start()
    t_window = time.perf_counter()
    with tracing.CpuMeter() as meter:
        while passes < MIN_PASSES or (time.perf_counter() - t_window) * (passes + 1) / passes <= seconds:
            passes += 1
            order = names[:]
            order_rng.shuffle(order)
            for name in order:
                dedup.release_caches()
                # Every query starts from a collected heap, so one query's
                # garbage is not charged to the next.
                spark._jvm.System.gc()
                op = {"name": name, "ok": False}
                cpu0 = meter.read()
                t0 = time.perf_counter()
                try:
                    with tracer.span(f"plans.{name}.build") as sp:
                        df = QUERIES[name](spark, sf_dir)
                    t1 = time.perf_counter()
                    probe = fold_frame(df)
                    if tracer.enabled:
                        with tracer.span(f"catalyst.{name}.plan"):
                            probe._jdf.queryExecution().executedPlan()
                    t2 = time.perf_counter()
                    with tracer.span(f"exec.{name}"):
                        row = probe.collect()[0]
                    t3 = time.perf_counter()
                    op.update(s=t3 - t0, build_s=t1 - t0, plan_s=t2 - t1, exec_s=t3 - t2,
                              rows=row["n"], fold=row["fold"],
                              driver_actions=(sp.actions if sp is not None else 0),
                              cpu_s=meter.read() - cpu0)
                    if tracer.enabled:
                        cache_peak = max(cache_peak, tracing.cached_bytes(sc))
                except Exception as exc:  # noqa: BLE001 -- counted as a failed operation
                    op.update(s=time.perf_counter() - t0, error=repr(exc))
                ops.append(op)
    ctx.window_end()
    dedup.release_caches()
    leaked = len(sc._jsc.getPersistentRDDs()) - baseline_rdds

    check_digests(ops, load_digests(scale) if digests is None else digests)
    return {
        "setup_s": setup_s,
        "ops": ops,
        "cache_bytes_peak": cache_peak,
        "leaked_cached_rdds": leaked,
    }


def end_to_end(res: dict) -> dict[str, float]:
    """Per-query wall and CPU seconds (medians over passes) -> the
    workload's figures: median and geometric mean of the wall times, and
    the geometric mean of the CPU times (``cpu_ms_per_op``), so a gain on
    a light query is not swamped by the heavy ones."""
    per_query = _per_query(res["ops"], "s")
    ms = [v * 1000.0 for v in per_query.values()]
    cpu = [v * 1000.0 for v in _per_query(res["ops"], "cpu_s").values()]
    return {"latency_p50_ms": statistics.median(ms), "latency_geomean_ms": statistics.geometric_mean(ms),
            "cpu_ms_per_op": statistics.geometric_mean(cpu)}


def _per_query(ops: list[dict], key: str) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for op in ops:
        if op["ok"]:
            by.setdefault(op["name"], []).append(op[key])
    return {k: statistics.median(v) for k, v in by.items()}


def per_layer(res: dict) -> dict[str, float]:
    out: dict[str, float] = {}
    secs = _per_query(res["ops"], "s")
    rel = [secs[q] for q in RELATIONAL if q in secs]
    llm = [secs[q] for q in LLM_OPS if q in secs]
    out["query.total_s"] = sum(secs.values())
    out["query.relational_geomean_s"] = statistics.geometric_mean(rel) if rel else 0.0
    out["query.llm_geomean_s"] = statistics.geometric_mean(llm) if llm else 0.0
    for key, label in (("build_s", "plans.{}.build_s"), ("plan_s", "catalyst.{}.plan_s"),
                       ("exec_s", "exec.{}.s"), ("driver_actions", "operators.{}.driver_actions")):
        vals = _per_query(res["ops"], key)
        for q in MIX:
            out[label.format(q)] = vals.get(q, 0.0)
    out["operators.cache_bytes_peak"] = res["cache_bytes_peak"]
    out["operators.leaked_cached_rdds"] = res["leaked_cached_rdds"]
    return out

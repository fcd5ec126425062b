"""Smoke tests of the benchmark itself, at tiny scale.

    python3 -m pytest perfbench/tests -q        # from the repository root

Each workload runs once untraced (every end-to-end metric is emitted
with its unit and the run is correct) and once traced with a corrupted
output (every per-layer metric is emitted and the output check fails).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

PERFBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(PERFBENCH)
sys.path.insert(0, PERFBENCH)
sys.path.insert(0, ROOT)

import layers  # noqa: E402
import pin_digests  # noqa: E402
import querymix  # noqa: E402
import run  # noqa: E402
import serving  # noqa: E402
import tracing  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
    SPEC = json.load(fh)

QUERY_OPTIONS = {"queries": pin_digests.SMOKE_QUERIES, "scale": pin_digests.SMOKE_SCALE}
# 1 date x 1,000 shipments; 4 s at 5 req/s = 20 requests.
SERVE_OPTIONS = {"n_days": 1, "n_records": 1000, "light_rps": 5.0, "busy_rps": 5.0}
SERVE_SECONDS = 4


def _assert_metrics(out: dict, spec: dict[str, str]) -> None:
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["metrics"].keys() == spec.keys()
    for name, unit in spec.items():
        m = out["metrics"][name]
        assert m["unit"] == unit
        assert isinstance(m["value"], float)


def _e2e_spec() -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC["end_to_end"]}


def test_benchmark_json_names_every_per_layer_metric():
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == layers.PER_LAYER
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    assert "setup_s" in _e2e_spec()


def test_schedule_is_seeded_with_one_predict_per_block():
    plan = serving.schedule(seed=7, seconds=12)
    assert plan == serving.schedule(seed=7, seconds=12)
    assert plan != serving.schedule(seed=8, seconds=12)
    busy = [k for _t, ph, k in plan if ph == "busy"]
    assert len(busy) == round(serving.BUSY_RPS * 12 * (1 - serving.LIGHT_FRAC))
    for i in range(0, len(busy) - 9, 10):
        assert sorted(busy[i:i + 10]) == ["eta"] * 2 + ["predict"] + ["track"] * 7
    assert [t for t, _ph, _k in plan] == sorted(t for t, _ph, _k in plan)


def test_cpu_meter_counts_a_child_that_has_exited():
    burn = "import time\nwhile time.process_time() < 0.5:\n    pass"
    with tracing.CpuMeter(interval=0.02) as meter:
        subprocess.run([sys.executable, "-c", burn], check=True)
        used = meter.read()
    assert 0.45 <= used < 2.0


def test_corrupted_digest_fails_the_check():
    pinned = querymix.load_digests(pin_digests.SMOKE_SCALE)
    name = pin_digests.SMOKE_QUERIES[0]
    rows, fold = pinned[name]
    ops = [{"name": name, "rows": rows, "fold": fold},
           {"name": name, "rows": rows, "fold": fold ^ 1}]
    querymix.check_digests(ops, pinned)
    assert [op["ok"] for op in ops] == [True, False]


@pytest.mark.parametrize("trace", [0, 1])
def test_query_mix_smoke(trace):
    options = dict(QUERY_OPTIONS)
    if trace:  # corrupt the pinned digest of one query
        pinned = dict(querymix.load_digests(pin_digests.SMOKE_SCALE))
        name = pin_digests.SMOKE_QUERIES[0]
        pinned[name] = [pinned[name][0] + 1, pinned[name][1]]
        options["digests"] = pinned
    out = run.run_workload("query_mix", 1, 1, bool(trace), ROOT, options)
    out.pop("trace_table", None)
    out.pop("errors")
    _assert_metrics(out, layers.PER_LAYER if trace else _e2e_spec())
    assert out["attempted"] == querymix.MIN_PASSES * len(pin_digests.SMOKE_QUERIES)
    assert out["failed"] == querymix.MIN_PASSES * trace
    assert out["correct"] is (not trace)


def _tamper(st: dict, reqs: list[dict]) -> None:
    """Corrupt one track answer and drop one silver file."""
    track = next(r for r in reqs if r["kind"] == "track" and r["resp"].get("found"))
    track["resp"] = {**track["resp"], "courier": "NOBODY"}
    silver = os.path.join(st["lake"], "silver", f"load_date={st['dates'][0]}")
    os.remove(os.path.join(silver, sorted(f for f in os.listdir(silver) if f.endswith(".parquet"))[0]))


@pytest.mark.parametrize("trace", [0, 1])
def test_serve_mixed_smoke(trace):
    options = dict(SERVE_OPTIONS, tamper=_tamper if trace else None)
    out = run.run_workload("serve_mixed", 1, SERVE_SECONDS, bool(trace), ROOT, options)
    out.pop("trace_table", None)
    out.pop("errors")
    _assert_metrics(out, layers.PER_LAYER if trace else _e2e_spec())
    assert out["attempted"] == 20 + 1  # requests + lake dates
    if trace:
        assert out["correct"] is False
        assert out["failed"] >= 2  # the tampered answer and the date
        assert out["metrics"]["pipelines.silver.rows"]["value"] > 0
        assert out["metrics"]["serve.api.jobs_per_track"]["value"] > 0
    else:
        assert out["correct"] is True and out["failed"] == 0

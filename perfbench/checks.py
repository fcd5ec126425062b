"""Output checks, computed independently with DuckDB over the files the
engine wrote.  They run outside the timed window; every mismatch marks
the operation it belongs to as failed."""

from __future__ import annotations

import datetime as dt
import math

import duckdb


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 1")
    return con


def _fact(lake: str, date: str = "*") -> str:
    return f"read_parquet('{lake}/gold/{date}/fact_shipment/*.parquet')"


def gold_keys(lake: str, dates: list[str]) -> dict[str, list[str]]:
    """Tracking numbers of the newest date and of the older dates."""
    con = _con()

    def keys(ds: list[str]) -> list[str]:
        out: list[str] = []
        for d in ds:
            out += [r[0] for r in con.execute(
                f"SELECT DISTINCT tracking_number FROM {_fact(lake, d)} ORDER BY 1").fetchall()]
        return out

    return {"newest": keys(dates[-1:]), "older": keys(dates[:-1])}


def sample_shipments(lake: str, n: int) -> list[dict]:
    """Feature dicts for /predict, drawn from gold in a fixed order."""
    con = _con()
    rows = con.execute(
        f"SELECT tracking_number, courier, origin_country, destination_country, status, "
        f"shipment_weight, delivery_days FROM {_fact(lake)} "
        f"WHERE shipment_weight IS NOT NULL AND delivery_days IS NOT NULL "
        f"ORDER BY hash(tracking_number), tracking_number LIMIT {n}"
    ).fetchall()
    cols = ["tracking_number", "courier", "origin_country", "destination_country", "status",
            "shipment_weight", "delivery_days"]
    return [dict(zip(cols, r)) for r in rows]


def check_medallion(lake: str, dates: list[str], n_records: int,
                    counts: dict[str, dict[str, int]]) -> list[str]:
    """Per date: bronze rows = n_records; silver rows = the checkpoint count
    over the bronze JSON (= the runner's count); ``fact_courier_metrics``
    = the reference aggregate (`starschema.py:137-145`) over the silver
    parquet.  Returns the problems found."""
    con = _con()
    problems = []
    for d in dates:
        bronze = f"read_json('{lake}/bronze/{d}/*.json', format='newline_delimited')"
        n_bronze, n_ckpt = con.execute(
            f"SELECT count(*), coalesce(sum(len(checkpoints)), 0) FROM {bronze}").fetchone()
        silver = f"read_parquet('{lake}/silver/load_date={d}/*.parquet')"
        n_silver = con.execute(f"SELECT count(*) FROM {silver}").fetchone()[0]
        got = counts.get(d, {})
        if n_bronze != n_records or got.get("bronze") != n_records:
            problems.append(f"{d}: bronze rows {n_bronze}/{got.get('bronze')} != {n_records}")
        if not n_ckpt == n_silver == got.get("silver"):
            problems.append(f"{d}: silver rows {n_silver}/{got.get('silver')} != checkpoints {n_ckpt}")
        want = con.execute(
            f"SELECT courier, count(DISTINCT tracking_number), "
            f"count(*) FILTER (WHERE status = 'DELIVERED'), avg(delivery_days) "
            f"FROM {silver} GROUP BY courier ORDER BY courier").fetchall()
        have = con.execute(
            f"SELECT courier, total_shipments, delivered_shipments, avg_delivery_days, "
            f"delivery_success_pct FROM read_parquet('{lake}/gold/{d}/fact_courier_metrics/*.parquet') "
            f"ORDER BY courier").fetchall()
        if len(want) != len(have):
            problems.append(f"{d}: courier metrics rows {len(have)} != {len(want)}")
            continue
        for (c, tot, dlv, avg), (c2, tot2, dlv2, avg2, pct2) in zip(want, have):
            pct = dlv / tot * 100
            if (c, tot, dlv) != (c2, tot2, dlv2) or abs(avg - avg2) > 0.0051 or abs(pct - pct2) > 0.0051:
                problems.append(f"{d}: courier metrics differ for {c}")
    return problems


def _same(a, b) -> bool:
    if isinstance(b, float) and not isinstance(a, float):
        try:
            a = float(a)
        except (TypeError, ValueError):
            return False
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-12)
    return a == b


def check_serving(st: dict, reqs: list[dict]) -> None:
    """Sets ``req["ok"]`` on every request: track answers equal a gold row
    for the key (``found: False`` for unknown keys), eta answers equal
    DuckDB's count and coerced mean, and the prediction log holds exactly
    one row per acknowledged predict."""
    con = _con()
    lake = st["lake"]
    con.execute(f"CREATE VIEW fact AS SELECT * FROM {_fact(lake)}")
    today = dt.datetime.now(dt.timezone.utc).date()
    for r in reqs:
        if "error" in r:
            r["ok"] = False
            continue
        resp, kind = r["resp"], r["kind"]
        if kind == "track":
            cur = con.execute("SELECT * FROM fact WHERE tracking_number = ?", [r["arg"]])
            cols = [c[0] for c in cur.description]
            rows = [{k: ("None" if v is None else str(v)) for k, v in zip(cols, row)}
                    for row in cur.fetchall()]
            if not rows:
                r["ok"] = resp == {"found": False, "tracking_number": r["arg"]}
            else:
                body = {k: v for k, v in resp.items() if k != "found"}
                r["ok"] = resp.get("found") is True and body in rows
        elif kind == "eta":
            n, avg = con.execute(
                "SELECT count(*), round(avg(TRY_CAST(delivery_days AS DOUBLE)), 2) FROM fact "
                "WHERE upper(destination_country) = upper(?)", [r["arg"]]).fetchone()
            mean = con.execute(
                "SELECT coalesce(avg(TRY_CAST(delivery_days AS DOUBLE)), 0) FROM fact "
                "WHERE upper(destination_country) = upper(?)", [r["arg"]]).fetchone()[0]
            etas = {str(today + dt.timedelta(days=int(mean) + k)) for k in (0, 1)}
            r["ok"] = (resp["country"] == r["arg"].upper() and resp["n_shipments"] == n
                       and _same(resp["avg_delivery_days"], avg)
                       and resp["estimated_delivery_date"] in etas)
        else:
            r["ok"] = resp.get("model_source") == "model" and resp.get("predicted_label") in (0.0, 1.0)
    acked = st["warm_predicts"] + sum(1 for r in reqs if r["kind"] == "predict" and "resp" in r)
    logged = con.execute(
        f"SELECT count(*) FROM read_parquet('{st['log_root']}/*.parquet')").fetchone()[0]
    if logged != acked:
        for r in reqs:
            if r["kind"] == "predict":
                r["ok"] = False
                r["error"] = f"prediction log holds {logged} rows for {acked} acknowledged predicts"

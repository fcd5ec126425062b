"""Re-pin ``digests.json``: the (rows, fold) digest of every query in the
mix over the benchmark's fixtures, at the benchmark scale and at the smoke
scale the tests use.

    python3 perfbench/pin_digests.py        # from the repository root

Each query runs twice and must fold to the same digest both times.  Where
the query registry has a DuckDB oracle for a query, the Spark rows are
also compared with DuckDB's over the same fixture files (floating point
to 1e-6 relative), so a pinned digest is never a wrong answer.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import fixtures  # noqa: E402
import querymix  # noqa: E402

#: Smoke-test scale and the queries the smoke test runs at it.
SMOKE_SCALE = 0.001
SMOKE_QUERIES = ["courier_metrics", "ann_bruteforce_topk"]


def _canon_row(row) -> tuple:
    out = []
    for v in row:
        if isinstance(v, float):
            out.append(None if math.isnan(v) else float(f"{v:.6g}"))
        elif hasattr(v, "isoformat"):
            out.append(v.isoformat(sep=" ") if hasattr(v, "hour") else v.isoformat())
        else:
            out.append(v)
    return tuple(out)


def oracle_matches(spark_rows, duck_rows) -> bool:
    key = lambda r: tuple((x is None, str(x)) for x in r)  # noqa: E731
    a = sorted((_canon_row(r) for r in spark_rows), key=key)
    b = sorted((_canon_row(r) for r in duck_rows), key=key)
    return a == b


def pin(spark, scale: float, names: list[str], work_dir: str) -> dict[str, list[int]]:
    import duckdb
    from modern_data_lakehouse_pipeline_for_logistics_analytics__spark.operators import dedup
    from modern_data_lakehouse_pipeline_for_logistics_analytics__spark.plans import ORACLE, QUERIES

    sf_dir = fixtures.write_fixtures(os.path.join(work_dir, f"sf{scale}"), scale)
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for f in os.listdir(sf_dir):
        t = f.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{f}')")
    out = {}
    for name in names:
        digests = []
        for _ in range(2):
            dedup.release_caches()
            row = querymix.fold_frame(QUERIES[name](spark, sf_dir)).collect()[0]
            digests.append([row["n"], row["fold"]])
        if digests[0] != digests[1]:
            raise SystemExit(f"{name}: digest is not deterministic: {digests}")
        if digests[0][0] == 0:
            raise SystemExit(f"{name}: empty result at scale {scale}")
        if name in ORACLE:
            df = QUERIES[name](spark, sf_dir)
            cols = sorted(df.columns)
            spark_rows = [tuple(r) for r in df.select(*cols).collect()]
            cur = con.execute(ORACLE[name])
            idx = [c[0] for c in cur.description]
            duck_rows = [tuple(r[idx.index(c)] for c in cols) for r in cur.fetchall()]
            if not oracle_matches(spark_rows, duck_rows):
                raise SystemExit(f"{name}: Spark and the DuckDB oracle disagree at scale {scale}")
            print(f"{name}: {digests[0]} (matches DuckDB oracle)", file=sys.stderr)
        else:
            print(f"{name}: {digests[0]} (no oracle)", file=sys.stderr)
        dedup.release_caches()
        out[name] = digests[0]
    return out


def main() -> int:
    root = os.getcwd()
    sys.path.insert(0, root)
    from modern_data_lakehouse_pipeline_for_logistics_analytics__spark.session import build_session

    os.makedirs(os.path.join(root, ".perfbench_runs"), exist_ok=True)
    work_dir = tempfile.mkdtemp(prefix="pin-", dir=os.path.join(root, ".perfbench_runs"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["TZ"] = "UTC"
    spark = build_session(app_name="perfbench-pin", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse")})
    spark.sparkContext.setLogLevel("ERROR")
    try:
        pinned = {
            str(querymix.SCALE): pin(spark, querymix.SCALE, querymix.MIX, work_dir),
            str(SMOKE_SCALE): pin(spark, SMOKE_SCALE, SMOKE_QUERIES, work_dir),
        }
    finally:
        spark.stop()
        shutil.rmtree(work_dir, ignore_errors=True)
    with open(querymix.DIGESTS_PATH, "w", encoding="utf-8") as fh:
        json.dump(pinned, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

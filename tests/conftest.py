from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
SF_MEDIUM = os.environ.get("SPARK_GRAFT_SF_MEDIUM", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from modern_data_lakehouse_pipeline_for_logistics_analytics__spark.session import (
        build_session,
    )

    s = build_session(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_dir_medium():
    return SF_MEDIUM


class DriverActions:
    """Counts the driver-side actions operators issue while active, and
    raises a RuntimeError in place of the ``fail_at``-th one once set.

    Raw Spark job counts are no usable measure under AQE (every
    materialized shuffle stage is its own job), so this wraps the
    DataFrame action surface the operators use: ``collect`` (which
    ``first``/``take``/``head`` funnel into), ``count``, and
    ``localCheckpoint(eager=True)``.  The counts depend only on an
    operator's control flow, never on Spark's physical planning.
    """

    def __init__(self, monkeypatch):
        # Spark 4: pyspark.sql.dataframe.DataFrame is a dispatch facade;
        # concrete (non-Connect) frames are classic.dataframe.DataFrame,
        # so the patch must land on the classic class.
        try:
            import pyspark.sql.classic.dataframe as dfmod
        except ImportError:  # Spark 3.x
            import pyspark.sql.dataframe as dfmod

        DF = dfmod.DataFrame
        self.reset()
        orig_collect, orig_count, orig_ckpt = DF.collect, DF.count, DF.localCheckpoint

        def collect(df, *a, **k):
            self._action()
            return orig_collect(df, *a, **k)

        def count(df, *a, **k):
            self._action()
            return orig_count(df, *a, **k)

        def ckpt(df, eager=True):
            if eager:
                self._action()
            return orig_ckpt(df, eager=eager)

        monkeypatch.setattr(DF, "collect", collect)
        monkeypatch.setattr(DF, "count", count)
        monkeypatch.setattr(DF, "localCheckpoint", ckpt)

    def reset(self, fail_at: int | None = None) -> None:
        self.n, self.fail_at = 0, fail_at

    def _action(self) -> None:
        self.n += 1
        if self.n == self.fail_at:
            raise RuntimeError(f"injected failure of driver action {self.n}")


@pytest.fixture
def driver_actions(monkeypatch):
    return DriverActions(monkeypatch)

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("BLSPARK_TEST_SF_DIR", "/root/testdata/sf0.01")


class JobCount:
    """Spark jobs launched inside the ``with`` block, counted as
    perfbench/spans.py counts them: job ids are sequential, so the jobs
    are the ids after a marker job launched on entry."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker()

    def _drain(self):
        # the status tracker is fed from Spark's listener bus
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def __enter__(self):
        self._drain()
        before = set(self._tracker.getJobIdsForGroup(None))
        self._sc.parallelize([0], 1).count()
        self._drain()
        self._marker = max(set(self._tracker.getJobIdsForGroup(None)) - before)
        return self

    def __exit__(self, *exc):
        self._drain()
        last = self._marker
        while self._tracker.getJobInfo(last + 1) is not None:
            last += 1
        self.jobs = last - self._marker


@pytest.fixture(scope="session")
def spark():
    from blspark.session import get_spark

    s = get_spark(app_name="blspark-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_ORACLE}/{t}.parquet')"
        )
    yield con
    con.close()

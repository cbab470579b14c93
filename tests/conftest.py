from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cs425_distributed_systems_mp4_mapreduce_spark.session import get_spark
from cs425_distributed_systems_mp4_mapreduce_spark.sources.tables import TABLE_NAMES

SF_SMOKE = "/root/testdata/sf0.001"
SF_T2 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=os.environ.get("SPARK_TEST_CPUS", "8"),
                  shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(autouse=True, scope="module")
def _no_leaked_streaming_state():
    """Per-module safety net against streaming-state session poisoning.

    r14 root-caused the driver's pytest-budget overrun (VERIFY_r13
    tests_ok:false, suite cut at ~95%): stateful availableNow queries
    with ProcessingTimeTimeout never terminate on their own (pending
    idle timers make them schedule empty 3-9 s micro-batches forever),
    and the loaded state-store providers they accumulate slow every
    later Spark job in the session ~16x (measured: a 0.8 s reference
    job took 5.1 s after one abandoned stateful stream; 0.7 s again
    after StateStore.stop()).  After each test module: stop any
    still-active streaming query and unload all state-store providers
    (the provider registry re-initializes lazily on next use, so this
    is invisible to later streaming tests)."""
    yield
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is None:
        return
    try:
        for q in s.streams.active:
            q.stop()
        s._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    except Exception:
        pass  # torn-down/connect sessions: nothing to clean


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_T2}/{name}.parquet')"
        )
    yield con
    con.close()

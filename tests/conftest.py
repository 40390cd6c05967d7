from __future__ import annotations

import os
from contextlib import contextmanager

import pytest

import __spark_entry__  # noqa: F401  (importing it registers every query)

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def spark_job_ids(spark) -> set[int]:
    """Ids of the Spark jobs started so far outside any job group."""
    sc = spark.sparkContext
    # job starts reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return set(sc.statusTracker().getJobIdsForGroup())


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from dbtransfer_spark.session import get_spark

    spark = get_spark(app_name="dbtransfer-tests", shuffle_partitions=8)
    yield spark


@contextmanager
def fake_clients():
    """Every Mongo/Cassandra client opened through a config is a
    file-backed fake (``tests/fakes.py``) over the directory named by the
    config's first host."""
    from dbtransfer_spark.sources import cassandra, mongodb
    from tests.fakes import FakeCQL, FakeMongo

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(mongodb, "client_factory", lambda cfg: lambda: FakeMongo(cfg.hosts[0]))
        mp.setattr(cassandra, "client_factory", lambda cfg: lambda: FakeCQL(cfg.hosts[0]))
        yield


@pytest.fixture
def fakes():
    with fake_clients():
        yield


@pytest.fixture(scope="session")
def all_queries(spark):
    """``name -> (schema, formatted physical plan)`` of every declared
    query at SF_SMOKE, each frame built once per session. The global plan
    sweeps (cartesian/BNLJ, unpartitioned window, scan budget) and the
    oracle dtype check all read it, so none pays its own 331-query build.
    It keeps the schema, not the frame, so the session pins no plans."""
    import __spark_entry__ as entry

    from dbtransfer_spark.plans import formatted_plan

    out = {}
    for name, fn in entry.queries().items():
        df = fn(spark, SF_SMOKE)
        out[name] = (df.schema, formatted_plan(df))
    return out


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'"
        )
    yield con
    con.close()

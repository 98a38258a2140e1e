from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session", autouse=True)
def fixture_invariants():
    """Assert the driver-generated fixtures still satisfy the physical
    invariants the suite relies on — fail fast with a clear message when
    a regeneration drifts (the events.ts nanos→µs churn already
    happened once; money double→decimal is the next likely flip)."""
    import pyarrow.parquet as pq

    from kinesis_producer_spark.tables import MONEY_COLUMNS, TABLES

    required = {
        "lineitem": {"l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
                     "l_discount", "l_returnflag", "l_linestatus", "l_shipdate"},
        "orders": {"o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"},
        "customer": {"c_custkey", "c_nationkey", "c_acctbal"},
        "events": {"event_id", "user_id", "event_type", "ts", "value"},
        "documents": {"doc_id", "text", "lang", "source"},
        "embeddings": {"vec_id", "embedding", "label"},
    }
    for sf_dir in (SF_SMOKE, SF_ORACLE):
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            assert os.path.exists(path), f"fixture missing: {path}"
            schema = pq.read_schema(path)
            missing = required.get(t, set()) - set(schema.names)
            assert not missing, f"{t} lost required columns {missing} after regeneration"
            for c in MONEY_COLUMNS.get(t, ()):
                typ = str(schema.field(c).type)
                assert typ in ("double", "float") or typ.startswith("decimal"), (
                    f"{t}.{c} has unexpected physical type {typ}; "
                    "extend tables.MONEY_COLUMNS normalization"
                )
        ts_type = str(pq.read_schema(os.path.join(sf_dir, "events.parquet")).field("ts").type)
        assert "timestamp" in ts_type or ts_type == "int64", (
            f"events.ts physical type {ts_type} unhandled by tables.load_table"
        )


@pytest.fixture(scope="session")
def spark():
    from kinesis_producer_spark.session import get_spark

    spark = get_spark("tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_ORACLE}/{t}.parquet')")
    yield con
    con.close()


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` under a fresh job group and returns
    ``(result, number of Spark jobs it launched)``."""
    import time

    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{time.time_ns()}"
        sc.setJobGroup(group, "count_jobs")
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the status tracker is fed by the asynchronous listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return result, len(sc.statusTracker().getJobIdsForGroup(group))

    return run

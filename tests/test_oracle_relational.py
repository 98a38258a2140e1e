"""Oracle-differential tests (SURVEY.md §5.2): Spark vs DuckDB at sf0.01.

Canonicalization is SHARED with ``tools/oracle_check.py`` via
``tools/canon.py`` — the DuckDB side goes through pandas ``.df()`` +
``itertuples``, the driver's funnel. Rounds 1–2 were lost to this file
using ``fetchall()`` (HUGEINT → Python int), which cannot see the
HUGEINT→float64 divergence the driver's pandas canonicalization sees;
``test_meta_uncast_sum_is_caught`` pins the fix.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.canon import compare, duckdb_result  # noqa: E402

from kinesis_producer_spark.suite import load_all  # noqa: E402

QUERIES, ORACLE = load_all()
SF = "/root/testdata/sf0.01"


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_oracle_match(name, spark, duck):
    sdf = QUERIES[name](spark, SF)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    ocols, orows, nan_null = duckdb_result(duck, ORACLE[name])
    msg = compare(scols, srows, ocols, orows, nan_null)
    if msg is not None:
        pytest.fail(f"{name}: {msg}")


def test_q40_oracle_match_on_executor_path(spark, duck, monkeypatch):
    """q40's events fit the sink's in-process bound, so the sweep above
    checks the driver send; at a -1 bound the same acks are sent from
    executors and must match the same oracle."""
    from kinesis_producer_spark.streaming import kinesis_sink

    monkeypatch.setattr(kinesis_sink, "IN_PROCESS_MAX_BYTES", -1)
    name = "q40_kinesis_sink_acks"
    sdf = QUERIES[name](spark, SF)
    srows = [tuple(r) for r in sdf.collect()]
    msg = compare(sdf.columns, srows, *duckdb_result(duck, ORACLE[name]))
    assert msg is None, msg


def test_meta_uncast_sum_is_caught(spark, duck):
    """Meta-test for the gate itself: a bare integer SUM() in oracle SQL
    comes back HUGEINT → pandas float64 → renders '4950.0' while the
    Spark bigint renders '4950'. The sweep MUST see that divergence —
    if this test ever passes the comparison, the fetchall() blind spot
    that cost rounds 1–2 has regenerated."""
    from pyspark.sql import functions as F

    sdf = spark.range(100).agg(F.sum("id").cast("bigint").alias("s"))
    srows = [tuple(r) for r in sdf.collect()]
    # deliberately un-CAST: DuckDB promotes to HUGEINT
    ocols, orows, nan_null = duckdb_result(
        duck, "SELECT SUM(x) AS s FROM (SELECT UNNEST(RANGE(100)) AS x)"
    )
    msg = compare(sdf.columns, srows, ocols, orows, nan_null)
    assert msg is not None and "mismatch" in msg, (
        f"gate failed to flag un-CAST SUM (got {msg!r}); "
        "the HUGEINT blind spot is back"
    )
    # and the CAST form must pass — the gate flags only the real class
    ocols, orows, nan_null = duckdb_result(
        duck,
        "SELECT CAST(SUM(x) AS BIGINT) AS s FROM (SELECT UNNEST(RANGE(100)) AS x)",
    )
    assert compare(sdf.columns, srows, ocols, orows, nan_null) is None


def test_meta_nan_vs_null_distinguished_outside_pandas_forced_cols(duck):
    """NaN only joins the NULL equivalence class in columns whose oracle
    pandas dtype forced NULL→NaN (float64/datetime64). In other columns
    a genuine NaN must diff against NULL."""
    from tools.canon import canon_rows

    # float64 oracle column: conflation sound (pandas lost the info)
    cs = canon_rows(["v"], [(None,)], {"v"})
    co = canon_rows(["v"], [(float("nan"),)], {"v"})
    assert cs == co
    # non-forced column: NaN is a value, must NOT equal NULL
    cs = canon_rows(["v"], [(None,)], set())
    co = canon_rows(["v"], [(float("nan"),)], set())
    assert cs != co

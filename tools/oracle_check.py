"""Local mimic of the driver's correctness gate.

Runs each ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB at sf0.01, canonicalizes (sort columns by name, stringify,
sort rows), and diffs. Exact float equality is intended — the query
suite is built so doubles are bit-identical across engines.

Canonicalization lives in ``tools/canon.py`` and is SHARED with the
pytest sweep (``tests/test_oracle_relational.py``) so the two gates
cannot drift. The DuckDB side is materialized through ``.df()``
(pandas), NOT ``fetchall()``, to match the driver's pandas-based
canonicalization: a bare integer SUM() comes back as HUGEINT, which
pandas renders as float64 (``0.0``) while Spark's bigint renders
int64 (``0``) — a hash-fatal divergence that ``fetchall()``
(HUGEINT → Python int) can never see. That blind spot cost rounds
1 and 2 (q04/q22).

Usage: python tools/oracle_check.py [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.canon import canon_rows, compare, duckdb_result  # noqa: E402,F401

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings"


def connect_duckdb(sf_dir: str = SF_DIR):
    import duckdb

    con = duckdb.connect()
    for t in TABLES.split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def main() -> int:
    from kinesis_producer_spark.session import get_spark
    from kinesis_producer_spark.suite import load_all

    only = set(sys.argv[1:])
    queries, oracle = load_all()
    spark = get_spark("oracle_check")
    con = connect_duckdb()

    n_pass = n_fail = 0
    for name, fn in sorted(queries.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if name not in oracle:
            print(f"SKIP {name}: no oracle (rows-only: {len(srows)} rows) [{time.time()-t0:.1f}s]")
            continue
        try:
            ocols, orows, nan_null = duckdb_result(con, oracle[name])
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        msg = compare(scols, srows, ocols, orows, nan_null)
        if msg is not None:
            print(f"FAIL {name}: {msg}")
            n_fail += 1
            continue
        print(f"PASS {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
        n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Full-suite sf0.1 timing artifact (VERDICT r4 item 3).

The headline bench (bench.py) times ~30 flagship queries; the other
~190 registered queries were only ever timed at sf0.01 inside the
oracle sweep. This tool times EVERY registered query at sf0.1,
min-of-N (default 2), and emits one JSON object so a perf regression
anywhere in the suite is visible round-over-round:

    {"sf": 0.1, "n_queries": ..., "total_min_sec": ...,
     "queries": {"q01_...": sec, ...}, "errors": {...}}

Usage: python tools/bench_full.py [out.json] [runs]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from kinesis_producer_spark.session import get_spark
    from kinesis_producer_spark.suite import load_all

    out_path = sys.argv[1] if len(sys.argv) > 1 else "BENCH_FULL.json"
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    queries, _ = load_all()
    spark = get_spark("bench_full")
    spark.sparkContext.setLogLevel("ERROR")

    times: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, fn in sorted(queries.items()):
        best = None
        for _ in range(runs):
            t0 = time.monotonic()
            try:
                fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            except Exception as e:  # noqa: BLE001
                errors[name] = f"{type(e).__name__}: {e}"
                break
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        if best is not None:
            times[name] = round(best, 3)
            print(f"{name}: {best:.3f}s", flush=True)
        else:
            print(f"{name}: ERR {errors[name][:120]}", flush=True)

    doc = {
        "sf": 0.1,
        "runs": runs,
        "n_queries": len(times),
        "total_min_sec": round(sum(times.values()), 2),
        "queries": times,
        "errors": errors,
    }
    with open(out_path, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
    print(f"\nwrote {out_path}: {len(times)} queries, total {doc['total_min_sec']}s, "
          f"{len(errors)} errors")
    spark.stop()
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Measured-shuffle audit: bytes actually exchanged per query.

``plan_audit.py`` counts Exchange nodes; this tool MEASURES them — it
executes each registered query (noop sink, so the full plan runs) under
a per-query job group and sums the shuffle write/read bytes and spilled
bytes that Spark's status store attributes to that group's stages, via
the monitoring REST API (the UI is enabled only inside this tool; the
engine's sessions keep it off).

Why it matters at 100 TB: exchange COUNT says a plan shuffles;
exchanged BYTES say whether the shuffle is the broadcast-sized trickle
the scale notes claim or a hidden full-corpus move. A query whose
shuffle bytes scale with the corpus when its design says "only
candidates / only counters / only offsets move" is a scale bug the
plan shape alone cannot reveal.

Round 5 adds PEAK EXECUTION MEMORY per query (max over its stages):
the executor-sizing number — a query whose peak grows with the corpus
will OOM at scale even with zero spill, which spill-only auditing
cannot see.

Usage: python tools/shuffle_audit.py [query ...]
Output: one line per query — shuffle write/read bytes, spill, stage
count, peak execution memory — then descending summaries of both
shuffle writers and memory peaks.
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")


def _rest(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=30) as resp:
        return json.loads(resp.read())


def main() -> int:
    from kinesis_producer_spark.session import get_spark
    from kinesis_producer_spark.suite import load_all

    only = set(sys.argv[1:])
    queries, _ = load_all()

    # UI on so the monitoring REST API exists; retainedStages sized to
    # hold a full sweep without eviction
    os.environ["SPARK_GRAFT_UI"] = "true"
    spark = get_spark(
        "shuffle_audit",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "20000",
            "spark.ui.retainedJobs": "20000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    ui_base = sc.uiWebUrl
    if not ui_base:
        print("FATAL: Spark UI unavailable — cannot read stage metrics")
        return 2
    app_id = sc.applicationId
    api = f"{ui_base}/api/v1/applications/{app_id}"

    results = []
    for name, fn in sorted(queries.items()):
        if only and name not in only:
            continue
        sc.setJobGroup(name, name, interruptOnCancel=False)
        try:
            fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
            err = None
        except Exception as e:  # noqa: BLE001
            err = f"{type(e).__name__}: {e}"
        finally:
            sc.setJobGroup("", "")
        if err:
            print(f"ERR  {name}: {err}")
            results.append((name, -1, -1, -1, 0, 0))
            continue
        # stages attributed to this group's jobs
        jobs = _rest(api, "/jobs?status=succeeded")
        stage_ids = set()
        for j in jobs:
            if j.get("jobGroup") == name:
                stage_ids.update(j.get("stageIds", []))
        w = r = spill = peak = 0
        n_stages = 0
        for s in _rest(api, "/stages?status=complete"):
            if s["stageId"] in stage_ids:
                n_stages += 1
                w += s.get("shuffleWriteBytes", 0)
                r += s.get("shuffleReadBytes", 0)
                spill += s.get("diskBytesSpilled", 0) + s.get(
                    "memoryBytesSpilled", 0
                )
                # max unroll/execution memory any single stage needed —
                # the executor-sizing number: a query whose peak grows
                # with the corpus will OOM at scale even with zero spill
                peak = max(peak, s.get("peakExecutionMemory", 0))
        results.append((name, w, r, spill, n_stages, peak))
        print(
            f"OK   {name}: shuffle_write={w:,}B shuffle_read={r:,}B "
            f"spill={spill:,}B stages={n_stages} peak_exec_mem={peak:,}B"
        )

    print("\n== top shuffle writers ==")
    for name, w, r, spill, n, peak in sorted(results, key=lambda t: -t[1])[:15]:
        print(f"{w:>14,}B  {name}")
    print("\n== top peak-execution-memory stages ==")
    for name, w, r, spill, n, peak in sorted(results, key=lambda t: -t[5])[:15]:
        print(f"{peak:>14,}B  {name}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

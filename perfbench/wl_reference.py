"""reference_pipeline: closed loop over the reference's three CLIs.

The seeded day slice holds one archive set per reading type. Each cycle
takes the next signal type in a fixed order through
``pipelines.unpack_day`` → ``pipelines.flatten_day`` →
``pipelines.produce_day`` (speedup=inf, into a ``KinesisSink`` over
``FileStreamTransport`` with its default injected throttles), and the
vehicleComponent slice through unpack and flatten. Every call pays
Spark's per-job cost, so a cycle is a few of these calls, and a run is
a fixed number of cycles sized to ``--seconds``. A record's latency runs from the start of its
slice's unpack to the return of the replay group that carried it.
"""

from __future__ import annotations

import csv
import glob
import os
import random
import statistics
import time
from collections import Counter
from decimal import Decimal

from kinesis_producer_spark.streaming.kinesis_sink import KinesisSink

from perfbench import gen
from perfbench.harness import Tracer, TransportFactory, jobs_in_group, read_exec_spans, sink_counts
from perfbench.stats import summarize

DAY = ("2024", "03", "07")
MESSAGES_PER_TYPE = 400
MEMBERS_PER_ARCHIVE = 100
GROUPS_PER_TYPE = 4
COMPONENT_DOCS = 120
TYPES = (*gen.SIGNAL_TYPES, gen.COMPONENT_TYPE)
# A run is a fixed number of cycles, one per CYCLE_S of --seconds (a cycle
# takes about that long on a 4-core host), so every run with the same
# --seconds measures the same reading types whatever the host's speed:
# reading types differ in cost, and a cycle more or less moved the rate.
CYCLE_S = 8.0


class TimedSink(KinesisSink):
    """The sink passed to ``produce_day``: records when each replay group
    is handed to ``write_batch``. A group's acks are back when the next
    group is handed over (or when ``produce_day`` returns)."""

    def write_batch(self, df, *args, **kwargs):
        self.handed.append(time.perf_counter())
        return super().write_batch(df, *args, **kwargs)


def _sink(stream_dir: str, span_dir: str | None) -> TimedSink:
    sink = TimedSink(stream_name="fleet-stream", transport_factory=TransportFactory(stream_dir, span_dir))
    sink.handed = []
    return sink


def generate(seed: int, work: str, seconds: float) -> dict:
    rng = random.Random(seed)
    d = os.path.join(work, "reference")
    truth = gen.reference_lake(rng, f"{d}/raw", DAY[2], MESSAGES_PER_TYPE, MEMBERS_PER_ARCHIVE,
                               GROUPS_PER_TYPE, COMPONENT_DOCS)
    return {"dir": d, "truth": truth}


def _cycle(spark, types: tuple[str, ...], raw: str, out: str, tracer, span_dir: str | None) -> dict:
    """One pass of the CLIs over the given reading types of the slice."""
    from kinesis_producer_spark.pipelines import SIGNALS, flatten_day, produce_day, unpack_day

    res = {"types": types, "stage_s": {"unpack": 0.0, "flatten": 0.0, "produce": 0.0},
           "latency_ms": [], "acks": [], "group_ms": [], "flatten_jobs": [], "replay_jobs": [],
           "groups": 0}
    for rtype in types:
        start = time.perf_counter()
        with tracer.span("pipelines.unpack_day", type=rtype) as s:
            unpack_day(spark, raw, f"{out}/compacted", rtype, *DAY)
        res["stage_s"]["unpack"] += s["end"] - s["start"]
        group = f"bench-flatten-{rtype}-{time.time_ns()}"
        if tracer.enabled:
            spark.sparkContext.setJobGroup(group, "flatten_day")
        with tracer.span("pipelines.flatten_day", type=rtype) as s:
            flatten_day(spark, f"{out}/compacted", f"{out}/flattened", rtype, *DAY)
        res["stage_s"]["flatten"] += s["end"] - s["start"]
        if tracer.enabled:
            res["flatten_jobs"].append(jobs_in_group(spark, group))
        if rtype not in SIGNALS:
            continue
        sink = _sink(f"{out}/stream", span_dir)
        group = f"bench-replay-{rtype}-{time.time_ns()}"
        if tracer.enabled:
            spark.sparkContext.setJobGroup(group, "produce_day")
        with tracer.span("pipelines.produce_day", type=rtype) as s:
            acks = produce_day(spark, f"{out}/compacted", rtype, sink, year=DAY[0], month=DAY[1], day=DAY[2])
        done = s["end"]
        res["stage_s"]["produce"] += done - s["start"]
        if tracer.enabled:
            res["replay_jobs"].append(jobs_in_group(spark, group))
        rows = acks.collect()
        res["acks"] += [(rtype, r["data_md5"], r["status"]) for r in rows]
        # groups are replayed in event-time order with equal sizes
        ends = sink.handed[1:] + [done]
        per_group = len(rows) // max(1, len(ends))
        for k, end in enumerate(ends):
            n = per_group if k < len(ends) - 1 else len(rows) - per_group * (len(ends) - 1)
            res["latency_ms"] += [(end - start) * 1000.0] * n
            res["group_ms"].append((end - sink.handed[k]) * 1000.0)
        res["groups"] += len(ends)
    if tracer.enabled:
        spark.sparkContext.setJobGroup("bench-idle", "idle")
    return res


def warmup(spark, ctx) -> None:
    """One untimed cycle over the real slices of the first signal type and
    the components."""
    d = ctx.inputs["dir"]
    _cycle(spark, (gen.SIGNAL_TYPES[0], gen.COMPONENT_TYPE), f"{d}/raw", f"{d}/warm-out", Tracer(False), None)


def _check_csv(flat_root: str, truth: dict, types) -> dict[str, bool]:
    gates = {}
    for rtype in types:
        files = glob.glob(f"{flat_root}/{rtype}/year={DAY[0]}/month={DAY[1]}/day={DAY[2]}/*.csv")
        rows = []
        for path in files:
            with open(path, newline="") as fh:
                rows += list(csv.DictReader(fh))
        t = truth[rtype]
        if rtype == gen.COMPONENT_TYPE:
            weight = sum(int(r["weightKg"]) for r in rows if r.get("weightKg"))
            gates[f"csv_{rtype}"] = len(rows) == t["rows"] and weight == t["weight"]
            continue
        ok = len(rows) == t["rows"]
        for name, total in t["sums"].items():
            vals = [r.get(name) for r in rows if r.get(name)]
            got = sum(int(Decimal(v) * 1000) for v in vals)
            ok = ok and got == total and len(vals) == t["counts"][name]
        gates[f"csv_{rtype}"] = ok
    return gates


def measure(spark, ctx, seconds: float) -> dict:
    d = ctx.inputs["dir"]
    truth = ctx.inputs["truth"]
    span_dir = None
    if ctx.trace:
        span_dir = os.path.join(ctx.work, "exec-spans")
        os.makedirs(span_dir, exist_ok=True)
    cycles = []
    for k in range(max(1, int(seconds // CYCLE_S))):
        signal = gen.SIGNAL_TYPES[k % len(gen.SIGNAL_TYPES)]
        cycles.append(_cycle(spark, (signal, gen.COMPONENT_TYPE), f"{d}/raw", f"{d}/out", ctx.tracer, span_dir))

    used = sorted({t for c in cycles for t in c["types"]})
    gates = _check_csv(f"{d}/out/flattened", truth, used)
    gates["acked_ok_exactly_once"] = True
    dead = 0
    for c in cycles:
        signal = c["types"][0]
        ok = Counter(m for _, m, st in c["acks"] if st == "ok")
        dead += sum(1 for _, _, st in c["acks"] if st != "ok")
        gates["acked_ok_exactly_once"] &= ok == Counter(truth[signal]["md5s"])
    n_signal = MESSAGES_PER_TYPE * len(cycles)
    n_in = n_signal + COMPONENT_DOCS * len(cycles)
    stage = {k: sum(c["stage_s"][k] for c in cycles) for k in ("unpack", "flatten", "produce")}
    lat = [x for c in cycles for x in c["latency_ms"]]
    layer = {
        "unpack_records_per_s": n_in / stage["unpack"],
        "flatten_records_per_s": n_in / stage["flatten"],
        "replay_records_per_s": n_signal / stage["produce"],
    }
    if ctx.trace:
        spans = read_exec_spans(span_dir)
        n_ok = sum(1 for c in cycles for _, _, st in c["acks"] if st == "ok")
        layer.update(sink_counts(spans, n_ok, dead))
        layer.update({
            "pipelines.flatten_day.jobs": statistics.mean(x for c in cycles for x in c["flatten_jobs"]),
            "streaming.replay.groups": sum(c["groups"] for c in cycles),
            "streaming.replay.group_ms_p50": statistics.median(x for c in cycles for x in c["group_ms"]),
            "streaming.replay.jobs_per_group": sum(x for c in cycles for x in c["replay_jobs"])
            / sum(c["groups"] for c in cycles),
        })
    return {
        "gates": gates,
        "attempted": n_signal * 3 + COMPONENT_DOCS * 2 * len(cycles),
        "failed": dead,
        "records_per_s": n_in / sum(stage.values()),
        "latency": summarize(lat),
        "layer": layer,
    }


def trace_layers(spark, ctx) -> dict[str, float]:
    """Each layer the CLIs compose, called on its own with its output
    materialized at the boundary, over every slice of the day."""
    from pyspark.sql import functions as F

    from kinesis_producer_spark.operators.eav_pivot import pivot_dynamic
    from kinesis_producer_spark.operators.flatten import flatten_components
    from kinesis_producer_spark.sinks import write_hive_partitioned_csv, write_jsonlines
    from kinesis_producer_spark.sources.tar import read_tar_archives
    from kinesis_producer_spark.sources.xml import parse_component_docs, parse_signal_messages

    d = ctx.inputs["dir"]
    tr = ctx.tracer
    slice_ = "/".join(f"{k}={v}" for k, v in zip(("year", "month", "day"), DAY))
    out = {k: 0.0 for k in ("sources.tar.members_out", "sinks.jsonlines.files_written",
                            "sources.xml.records_in", "operators.eav_pivot.columns_out",
                            "operators.flatten.rows_out", "sinks.csv.files_written",
                            "sinks.csv.bytes_written")}
    for rtype in TYPES:
        with tr.span("sources.tar"):
            members = read_tar_archives(spark, f"{d}/raw/{rtype}/{slice_}").localCheckpoint(eager=True)
        out["sources.tar.members_out"] += members.count()
        jl = f"{d}/layers/jsonl/{rtype}"
        with tr.span("sinks.jsonlines"):
            write_jsonlines(members.select(F.col("content").cast("string").alias("payload"),
                                           F.lit("bhp").alias("tenant_id"),
                                           F.lit(rtype).alias("partition_id")),
                            jl, max_records_per_file=50_000, mode="overwrite")
        out["sinks.jsonlines.files_written"] += len(glob.glob(f"{jl}/part-*"))
        raw = spark.read.json(jl, schema="payload string, tenant_id string, partition_id string")
        if rtype == gen.COMPONENT_TYPE:
            with tr.span("sources.xml"):
                parsed = parse_component_docs(raw, "payload", mode="FAILFAST").localCheckpoint(eager=True)
            with tr.span("operators.flatten"):
                flat = flatten_components(parsed).localCheckpoint(eager=True)
            out["operators.flatten.rows_out"] += flat.count()
        else:
            with tr.span("sources.xml"):
                parsed = parse_signal_messages(raw, "payload", mode="FAILFAST").localCheckpoint(eager=True)
            with tr.span("operators.eav_pivot"):
                flat = pivot_dynamic(parsed).drop("envelope", "readings", "_corrupt_record")
                flat = flat.localCheckpoint(eager=True)
            out["operators.eav_pivot.columns_out"] += len(flat.columns)
        out["sources.xml.records_in"] += parsed.count()
        csv_dir = f"{d}/layers/csv/{rtype}"
        with tr.span("sinks.csv"):
            write_hive_partitioned_csv(flat, csv_dir, quote_all=True)
        parts = glob.glob(f"{csv_dir}/part-*.csv")
        out["sinks.csv.files_written"] += len(parts)
        out["sinks.csv.bytes_written"] += sum(os.path.getsize(p) for p in parts)
    for layer in ("sources.tar", "sinks.jsonlines", "sources.xml", "operators.eav_pivot",
                  "operators.flatten", "sinks.csv"):
        out[f"{layer}.busy_s"] = tr.busy(layer)
    return out

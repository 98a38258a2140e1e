"""stream_loop: open-loop produce/consume through the Kinesis-style stream.

The main thread lands JSON-lines files of signal XML into the file
source on a fixed schedule that does not slow when the engine does; each
record carries its file's due time. One streaming query with the default
trigger sends every micro-batch through
``KinesisSink.foreach_batch_writer(ack_path, exactly_once=True)`` over
``FileStreamTransport``. A consumer thread polls on a fixed interval:
``consume_new_records`` → ``firehose_transform`` → ``ShardCheckpoint.commit``.
The run ends with a burst of files, landed once the steady files are
sent and drained with the consumer held, so the drain rate is the
writer's.

Produce latency runs from a file's due time to the return of the
``foreachBatch`` call for the epoch that held it; files are mapped to
epochs from the file source's checkpoint log, which adds no Spark job.
Consume latency runs from the due time to the consumer commit that
served the record.
"""

from __future__ import annotations

import base64
import glob
import json
import math
import os
import random
import shutil
import statistics
import threading
import time
from collections import Counter

import pyarrow.dataset as ds

from perfbench import gen
from perfbench.harness import TransportFactory, read_exec_spans, rest_jobs, sink_counts
from perfbench.stats import latencies_from_due, percentile, summarize

FILES_PER_S = 2.0
RECORDS_PER_FILE = 32
BURST_FILES = 64
MAX_FILES_PER_TRIGGER = 8
IDLE_BEFORE_S = 1.0
POLL_S = 1.0
DRAIN_TIMEOUT_S = 60.0

SCHEMA = "rec_id string, partition_key string, data string, due_ms long"
CONSUMER_GROUP = "bench-consumer"


def generate(seed: int, work: str, seconds: float) -> dict:
    rng = random.Random(seed)
    n_steady = max(1, math.ceil(FILES_PER_S * seconds))
    return {
        "dir": os.path.join(work, "stream"),
        "steady": gen.stream_files(rng, n_steady, RECORDS_PER_FILE, "s"),
        "burst": gen.stream_files(rng, BURST_FILES, RECORDS_PER_FILE, "b"),
        # warm-up: one full micro-batch of files shaped like the rest
        "warm": gen.stream_files(random.Random(seed ^ 0x5EED), MAX_FILES_PER_TRIGGER, RECORDS_PER_FILE, "w"),
    }


def _expected_md5(files: list[dict]) -> Counter:
    return Counter(gen.md5_hex(r["data"].encode()) for f in files for r in f["records"])


def _source_batches(ckpt: str) -> dict[str, int]:
    """File name → micro-batch id, from the file source's checkpoint log."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        try:
            with open(path) as fh:
                lines = fh.read().splitlines()
        except OSError:
            continue
        for line in lines[1:]:
            if line.strip():
                e = json.loads(line)
                out[os.path.basename(e["path"]).rsplit(".", 1)[0]] = e["batchId"]
    return out


class _Loop:
    """One produce/consume loop over fresh directories under ``root``."""

    def __init__(self, spark, root: str, span_dir: str | None):
        from kinesis_producer_spark.streaming.kinesis_sink import KinesisSink
        from kinesis_producer_spark.streaming.kinesis_source import FileStreamTransport, ShardCheckpoint

        shutil.rmtree(root, ignore_errors=True)
        self.spark = spark
        self.src = os.path.join(root, "in")
        self.staging = os.path.join(root, "staging")
        self.ckpt = os.path.join(root, "query-ckpt")
        self.ack_path = os.path.join(root, "acks")
        self.stream = os.path.join(root, "stream")
        for d in (self.src, self.staging):
            os.makedirs(d)
        FileStreamTransport(self.stream)  # creates the stream and its topology
        self.checkpoint = ShardCheckpoint(os.path.join(root, "consumer.json"))
        sink = KinesisSink(stream_name="fleet-stream", transport_factory=TransportFactory(self.stream, span_dir))
        self.writer = sink.foreach_batch_writer(ack_path=self.ack_path, exactly_once=True)
        self.epochs: dict[int, tuple[float, float]] = {}
        self.landed: dict[str, tuple[float, float]] = {}  # file → (due, actual), perf_counter s
        self.served: dict[str, float] = {}  # rec_id → commit time
        self.results: Counter = Counter()
        self.polls: list[dict] = []
        self.query = None
        self.burst_at = math.inf
        self._stop = threading.Event()
        self._paused = threading.Event()
        self._polling = threading.Lock()
        self._consumer = None

    # -- producer side ----------------------------------------------------
    def _write_batch(self, df, epoch_id: int) -> None:
        t0 = time.perf_counter()
        self.writer(df, epoch_id)
        self.epochs[epoch_id] = (t0, time.perf_counter())

    def start_query(self, available_now: bool = False):
        w = (self.spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
             .json(self.src).writeStream
             .foreachBatch(self._write_batch).option("checkpointLocation", self.ckpt))
        if available_now:
            w = w.trigger(availableNow=True)
        self.query = w.start()
        return self.query

    def land(self, files: list[dict], due: float) -> None:
        """Write files completely, then rename them into the source dir
        back to back, so one listing sees all of them or none."""
        due_ms = int((time.time() - time.perf_counter() + due) * 1000)
        for f in files:
            with open(os.path.join(self.staging, f["name"] + ".json"), "wb") as fh:
                fh.write(gen.stream_file_bytes(f, due_ms))
        for f in files:
            os.rename(os.path.join(self.staging, f["name"] + ".json"),
                      os.path.join(self.src, f["name"] + ".json"))
        at = time.perf_counter()
        for f in files:
            self.landed[f["name"]] = (due, at)

    def land_on_schedule(self, files: list[dict], t0: float, rate: float) -> None:
        for k, f in enumerate(files):
            due = t0 + k / rate
            wait = due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            self.land([f], due)

    # -- consumer side ----------------------------------------------------
    def poll(self) -> None:
        from pyspark.sql import functions as F

        from kinesis_producer_spark.streaming.kinesis_source import consume_new_records
        from kinesis_producer_spark.streaming.transform import firehose_transform

        t0 = time.perf_counter()
        df, positions = consume_new_records(self.spark, self.stream, self.checkpoint)
        t1 = time.perf_counter()
        rows = (firehose_transform(df, data_col=F.base64(F.col("data")))
                .select("result", "data_out").collect())
        t2 = time.perf_counter()
        self.checkpoint.commit(positions)
        t3 = time.perf_counter()
        for r in rows:
            self.results[r["result"]] += 1
            if r["result"] == "Ok":
                rec = json.loads(base64.b64decode(r["data_out"]))["componentIdentifier"]
                if rec in self.served:
                    self.results["served_twice"] += 1
                self.served[rec] = t3
        self.polls.append({"consume": t1 - t0, "transform": t2 - t1, "commit": t3 - t2,
                           "records": len(rows)})

    def _consume_loop(self) -> None:
        self.spark.sparkContext.setJobGroup(CONSUMER_GROUP, "consumer polls")
        nxt = time.perf_counter()
        while not self._stop.is_set():
            if self._paused.is_set():
                self._stop.wait(0.05)
                continue
            with self._polling:
                self.poll()
            nxt += POLL_S
            now = time.perf_counter()
            if nxt < now:  # a poll overran its slot: skip the missed ticks
                nxt = now
            self._stop.wait(nxt - now)

    def start_consumer(self) -> None:
        self._consumer = threading.Thread(target=self._consume_loop, name="consumer", daemon=True)
        self._consumer.start()

    def pause_consumer(self) -> None:
        """Hold the consumer between polls (waits for one in flight)."""
        self._paused.set()
        with self._polling:
            pass

    def resume_consumer(self) -> None:
        self._paused.clear()

    def stop(self) -> None:
        self._stop.set()
        if self._consumer is not None:
            self._consumer.join(timeout=DRAIN_TIMEOUT_S)
        if self.query is not None:
            self.query.stop()

    # -- bookkeeping ------------------------------------------------------
    def wait(self, done, timeout: float) -> bool:
        end = time.perf_counter() + timeout
        while time.perf_counter() < end:
            if self.query is not None and self.query.exception() is not None:
                raise RuntimeError(f"streaming query failed: {self.query.exception()}")
            if done():
                return True
            time.sleep(0.05)
        return False

    def produced(self, names) -> bool:
        batches = _source_batches(self.ckpt)
        return all(n in batches and batches[n] in self.epochs for n in names)

    def read_acks(self) -> list[dict]:
        if not os.path.isdir(self.ack_path):
            return []
        return ds.dataset(self.ack_path, format="parquet", partitioning="hive").to_table(
            columns=["data_md5", "status"]).to_pylist()


def warmup(spark, ctx) -> None:
    loop = _Loop(spark, os.path.join(ctx.inputs["dir"], "warm"), None)
    loop.land(ctx.inputs["warm"], time.perf_counter())
    loop.start_query(available_now=True).awaitTermination(DRAIN_TIMEOUT_S)
    loop.poll()


def _drain(loop: _Loop, files: list[dict]) -> float:
    """Land ``files`` at once and return the writer's drain rate: the
    median over the epochs that sent them of the epoch's records divided
    by the time since the previous one returned (the first from the
    landing), so one disturbed epoch does not move it."""
    t0 = loop.burst_at = time.perf_counter()
    loop.land(files, t0)
    if not loop.wait(lambda: loop.produced([f["name"] for f in files]), DRAIN_TIMEOUT_S):
        raise RuntimeError("burst was not drained in time")
    batches = _source_batches(loop.ckpt)
    records = Counter()
    for f in files:
        records[batches[f["name"]]] += len(f["records"])
    rates, prev = [], t0
    for e in sorted(records):
        end = loop.epochs[e][1]
        rates.append(records[e] / (end - prev))
        prev = end
    return statistics.median(rates)


def measure(spark, ctx, seconds: float) -> dict:
    from kinesis_producer_spark.streaming import monitor

    inp = ctx.inputs
    span_dir = None
    if ctx.trace:
        span_dir = os.path.join(ctx.work, "exec-spans")
        os.makedirs(span_dir, exist_ok=True)
        recorder = monitor.attach(spark)
    loop = _Loop(spark, os.path.join(inp["dir"], "main"), span_dir)
    steady, burst = inp["steady"], inp["burst"]
    all_files = steady + burst
    try:
        loop.start_query()
        loop.start_consumer()
        time.sleep(IDLE_BEFORE_S)  # the query's start-up is not charged to the first files
        loop.land_on_schedule(steady, time.perf_counter(), FILES_PER_S)
        # the burst starts from an idle query and runs without the consumer,
        # so the drain measures the writer alone
        if not loop.wait(lambda: loop.produced([f["name"] for f in steady]), DRAIN_TIMEOUT_S):
            raise RuntimeError("steady files were not sent in time")
        loop.pause_consumer()
        drain = _drain(loop, burst)
        loop.resume_consumer()
        n_all = sum(len(f["records"]) for f in all_files)
        loop.wait(lambda: len(loop.served) + loop.results["ProcessingFailed"] >= n_all, DRAIN_TIMEOUT_S)
    finally:
        loop.stop()
        if ctx.trace:
            monitor.detach(spark, recorder)

    batches = _source_batches(loop.ckpt)
    acks = loop.read_acks()
    ok = Counter(a["data_md5"] for a in acks if a["status"] == "ok")
    dead = sum(1 for a in acks if a["status"] != "ok")
    dead_md5 = {a["data_md5"] for a in acks if a["status"] != "ok"}
    rec_md5 = {r["rec_id"]: gen.md5_hex(r["data"].encode()) for f in all_files for r in f["records"]}
    # Latency samples cover the steady files. A file is sent as a whole, so
    # produce latency has one sample per file; the consumer may serve a
    # file's records in different polls, so consume latency has one per
    # record. A dead-lettered record never completes: it is a failure, and
    # neither it nor its file is a sample.
    file_due, file_sent, rec_due, rec_served = {}, {}, {}, {}
    for f in steady:
        due = loop.landed[f["name"]][0] * 1000.0
        file_due[f["name"]] = due
        if any(rec_md5[r["rec_id"]] in dead_md5 for r in f["records"]):
            continue
        file_sent[f["name"]] = loop.epochs[batches[f["name"]]][1] * 1000.0
        for r in f["records"]:
            rec_due[r["rec_id"]] = due
            if r["rec_id"] in loop.served:
                rec_served[r["rec_id"]] = loop.served[r["rec_id"]] * 1000.0
    produce_ms = latencies_from_due(file_due, file_sent)
    consume_ms = latencies_from_due(rec_due, rec_served)
    not_served = sum(1 for rec in rec_md5 if rec not in loop.served)
    n_all = len(rec_md5)
    gates = {
        "acked_ok_exactly_once": ok == _expected_md5(all_files),
        "consumed_once_transform_ok": (set(loop.served) == set(rec_md5)
                                       and loop.results["served_twice"] == 0
                                       and loop.results["ProcessingFailed"] == 0),
    }
    prod, cons = summarize(produce_ms), summarize(consume_ms)
    layer = {
        "produce_latency_p50_ms": prod["p50"],
        "produce_latency_p99_ms": percentile(produce_ms, 99),
        "consume_latency_p50_ms": cons["p50"],
        "consume_latency_p99_ms": percentile(consume_ms, 99),
        "drain_records_per_s": drain,
    }
    if ctx.trace:
        layer.update(_traced(spark, loop, recorder, span_dir, ok, dead, batches))
    return {
        "gates": gates,
        "attempted": n_all,
        "failed": dead + loop.results["ProcessingFailed"] + not_served,
        "records_per_s": drain,
        "latency": prod,
        "layer": layer,
    }


def _traced(spark, loop: _Loop, recorder, span_dir: str, ok: Counter, dead: int, batches) -> dict:
    from kinesis_producer_spark.streaming.monitor import sink_metrics

    epoch_ms = [(b - a) * 1000.0 for a, b in loop.epochs.values()]
    # jobs started inside foreachBatch run under the query's job group
    query_jobs = sum(1 for j in rest_jobs(spark) if j.get("jobGroup") == str(loop.query.runId))
    progress = [p for p in loop.query.recentProgress if p.numInputRows > 0]

    def dur(key: str) -> float:
        return statistics.median(p.durationMs.get(key, 0) for p in progress)

    ledger = sink_metrics(spark, loop.ack_path).agg({"dead_lettered": "sum"}).collect()[0][0] or 0
    # backlog at each steady-phase epoch's start: files landed by then and
    # not yet sent
    backlog = 0
    for e, (start, _) in loop.epochs.items():
        if start >= loop.burst_at:
            continue
        backlog = max(backlog, sum(1 for n, (_, at) in loop.landed.items()
                                   if at <= start and batches.get(n, e) >= e))
    lateness = [(at - due) * 1000.0 for due, at in loop.landed.values()]
    polls = [p for p in loop.polls if p["records"]]
    out = sink_counts(read_exec_spans(span_dir), sum(ok.values()), dead)
    out.update({
        "kinesis_sink.dead_letter": ledger,
        "kinesis_sink.epoch_ms_p50": statistics.median(epoch_ms),
        "kinesis_sink.epoch_ms_p99": percentile(epoch_ms, 99),
        "stream.jobs_per_epoch": query_jobs / len(loop.epochs),
        "stream.add_batch_ms_p50": dur("addBatch"),
        "stream.wal_commit_ms_p50": dur("walCommit"),
        "stream.query_planning_ms_p50": dur("queryPlanning"),
        # the monitor's ledger rows: (query_id, run_id, batch_id, timestamp, num_input_rows, ...)
        "stream.rows_per_epoch_p50": statistics.median(
            r[4] for r in recorder.snapshot() if r[0] == str(loop.query.id) and r[4] > 0),
        "stream.backlog_files_max": backlog,
        "kinesis_source.consume_ms_p50": statistics.median(p["consume"] * 1000 for p in loop.polls),
        "kinesis_source.consume_ms_p99": percentile([p["consume"] * 1000 for p in loop.polls], 99),
        "kinesis_source.records_served": len(loop.served),
        "kinesis_source.blocks_in_log": len(glob.glob(os.path.join(loop.stream, "shardId-*", "block-*"))),
        "kinesis_source.commit_ms": statistics.median(p["commit"] * 1000 for p in loop.polls),
        "transform.busy_s": sum(p["transform"] for p in polls),
        "transform.records_failed": loop.results["ProcessingFailed"],
        "bench.generator_late_ms_p99": percentile(lateness, 99),
    })
    return out


def trace_layers(spark, ctx) -> dict[str, float]:
    return {}


def single_core_baseline(ctx, get_spark) -> dict[str, float]:
    """The burst drain rerun on a one-core session."""
    spark = get_spark(app_name="perfbench-stream-1core", cpus=1, extra_conf=ctx.conf)
    try:
        warmup(spark, ctx)
        loop = _Loop(spark, os.path.join(ctx.inputs["dir"], "one-core"), None)
        try:
            loop.start_query()
            drain = _drain(loop, ctx.inputs["burst"])
        finally:
            loop.stop()
    finally:
        spark.stop()
    return {"stream.drain_1core_records_per_s": drain}

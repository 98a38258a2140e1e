"""Streaming layer tests: sink mechanics, replay pacing, foreachBatch."""

from __future__ import annotations

import math
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from kinesis_producer_spark.streaming import kinesis_sink  # noqa: E402
from kinesis_producer_spark.streaming.kinesis_sink import (  # noqa: E402
    MAX_BYTES_PER_CALL,
    MAX_RECORDS_PER_CALL,
    KinesisSink,
    RecordingTransport,
    _chunk,
)
from kinesis_producer_spark.streaming.replay import event_time_batches, replay  # noqa: E402


@pytest.fixture(params=["driver", "executor"])
def sink_side(request, monkeypatch):
    """Run a test on both sides of the sink's in-process size bound: the
    default (a small batch is sent from the driver), or ``-1`` (every
    non-local batch is sent from executors)."""
    if request.param == "executor":
        monkeypatch.setattr(kinesis_sink, "IN_PROCESS_MAX_BYTES", -1)
    return request.param


def _records(n: int, size: int = 10, key: str = "k") -> list[dict]:
    return [{"Data": bytes(size), "PartitionKey": key} for _ in range(n)]


def test_chunking_respects_record_count():
    chunks = list(_chunk(_records(1201)))
    assert [len(c) for c in chunks] == [500, 500, 201]


def test_chunking_respects_byte_limit():
    big = _records(12, size=1000 * 1000)  # ~1MB each → ≤5 per call
    chunks = list(_chunk(big))
    assert all(sum(len(r["Data"]) for r in c) <= MAX_BYTES_PER_CALL for c in chunks)
    assert sum(len(c) for c in chunks) == 12
    assert max(len(c) for c in chunks) <= 5


def test_oversized_record_rejected():
    with pytest.raises(ValueError, match="1 MB"):
        list(_chunk(_records(1, size=2 * 1024 * 1024)))


def test_transport_enforces_api_limits():
    t = RecordingTransport()
    with pytest.raises(ValueError, match="> 500"):
        t.put_records("s", _records(501))


def test_retry_then_dead_letter():
    # a transport that always throttles → every record dead-letters
    class AlwaysFail(RecordingTransport):
        def put_records(self, stream, records):
            self.calls.append(records)
            return {
                "FailedRecordCount": len(records),
                "Records": [
                    {"ErrorCode": "ProvisionedThroughputExceededException", "ErrorMessage": "x"}
                    for _ in records
                ],
            }

    sink = KinesisSink("s", AlwaysFail, max_retries=2, backoff_s=0.0)
    acks = sink.send_partition(_records(3))
    assert all(a["status"] == "dead_letter" for a in acks)
    assert all(a["attempts"] == 3 for a in acks)  # initial + 2 retries
    assert all(a["error_code"] == "ProvisionedThroughputExceededException" for a in acks)


def test_failed_subset_retry_succeeds():
    t = RecordingTransport(fail_first_attempt_prefix="")  # no failures

    # inject: md5-prefix-based failure via default prefix on a fresh transport
    t2 = RecordingTransport()
    recs = [{"Data": f"payload-{i}".encode(), "PartitionKey": "pk"} for i in range(64)]
    sink = KinesisSink("s", lambda: t2, max_retries=3, backoff_s=0.0)
    acks = sink.send_partition(recs)
    assert all(a["status"] == "ok" for a in acks)
    retried = [a for a in acks if a["attempts"] == 2]
    # ≈1/16 of md5s start with '0'; with 64 records ≥1 retry is near-certain
    assert retried, "expected at least one throttled-then-retried record"
    assert all(a["sequence_number"] for a in acks)
    del t


def test_ack_order_matches_input_order():
    t = RecordingTransport()
    recs = [{"Data": f"r{i}".encode(), "PartitionKey": "pk"} for i in range(10)]
    sink = KinesisSink("s", lambda: t, backoff_s=0.0)
    import hashlib

    acks = sink.send_partition(recs)
    assert [a["data_md5"] for a in acks] == [hashlib.md5(r["Data"]).hexdigest() for r in recs]


def test_event_time_batches_ascending_and_grouped(spark):
    rows = [(3, "c"), (1, "a1"), (1, "a2"), (2, "b")]
    df = spark.createDataFrame(rows, "t int, payload string").select(
        F.timestamp_seconds("t").alias("ts"), "payload"
    )
    out = event_time_batches(df).collect()
    assert [len(r["payloads"]) for r in out] == [2, 1, 1]
    assert sorted(out[0]["payloads"]) == ["a1", "a2"]
    assert [r["ts"].second for r in out] == [1, 2, 3]


def test_replay_pacing_and_error_containment(spark):
    rows = [(1, "a"), (2, "b"), (3, "c")]
    df = spark.createDataFrame(rows, "t int, payload string").select(
        F.timestamp_seconds("t").alias("ts"), "payload"
    )
    batches = event_time_batches(df)

    sent: list = []

    def produce(ts, payloads):
        if payloads == ["b"]:
            raise RuntimeError("boom")
        sent.append((ts, payloads))

    stats = replay(batches, produce, speedup=10.0, max_sleep_s=0.2)
    assert stats["batches"] == 2 and stats["skipped_batches"] == 1
    assert [p for _, p in sent] == [["a"], ["c"]]
    # two 1s gaps at 10× speedup → ~0.2s of requested sleep, each capped at 0.2s;
    # assert on the pacer's own accounting (wall-clock is load-sensitive and flaky)
    assert 0.05 <= stats["slept_s"] <= 0.45

    fast = replay(batches, lambda ts, p: None, speedup=math.inf)
    assert fast["slept_s"] == 0


def test_foreach_batch_end_to_end(spark, tmp_path):
    """writeStream → foreachBatch(KinesisSink) → ack parquet."""
    from kinesis_producer_spark.streaming.windows import events_stream

    sf = "/root/testdata/sf0.001"
    stream = events_stream(spark, sf).select(
        F.concat(F.lit("evt:"), F.col("event_id").cast("string")).alias("data"),
        F.col("event_type").alias("partition_key"),
    )
    sink = KinesisSink("s", RecordingTransport, max_retries=3, backoff_s=0.0)
    ack_path = str(tmp_path / "acks")
    q = stream.writeStream.foreachBatch(
        sink.foreach_batch_writer(ack_path=ack_path)
    ).start()
    q.processAllAvailable()
    q.stop()
    acks = spark.read.parquet(ack_path)
    n_events = spark.read.parquet(f"{sf}/events.parquet").count()
    assert acks.count() == n_events
    assert acks.filter(F.col("status") == "ok").count() == n_events


def test_checkpoint_recovery_resumes_state(spark, tmp_path):
    """Stop a stateful stream mid-way and restart from its checkpoint:
    the resumed query replays no processed data, keeps its state, and
    the combined emissions equal an uninterrupted run — the recovery
    contract a 100 TB streaming deploy leans on."""
    import shutil

    from kinesis_producer_spark.streaming.stateful import (
        events_multifile_stream,
        stateful_sessions,
    )

    sf = "/root/testdata/sf0.001"
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def start():
        stream = events_multifile_stream(spark, sf, n_files=4)
        return (
            stateful_sessions(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
        )

    # phase 1: let exactly two micro-batches commit, then stop.
    q = start().trigger(processingTime="0 seconds").start()
    import time

    deadline = time.time() + 120
    while time.time() < deadline:
        if len(q.recentProgress) >= 2 and any(
            p["batchId"] >= 1 for p in q.recentProgress
        ):
            break
        time.sleep(0.2)
    q.stop()

    # phase 2: restart from the same checkpoint; drain the rest.
    q2 = start().start()
    q2.processAllAvailable()
    q2.stop()

    resumed = spark.read.parquet(out_dir)

    # reference: one uninterrupted run into a fresh sink.
    ref_dir = str(tmp_path / "ref")
    stream = events_multifile_stream(spark, sf, n_files=4)
    qr = (
        stateful_sessions(stream)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", ref_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt_ref"))
        .start()
    )
    qr.processAllAvailable()
    qr.stop()
    expected = spark.read.parquet(ref_dir)

    got = sorted(map(tuple, resumed.collect()))
    want = sorted(map(tuple, expected.collect()))
    assert got == want and len(got) > 0
    shutil.rmtree(ckpt, ignore_errors=True)


def test_schema_evolution_merge_read(spark, tmp_path):
    """Parquet schema evolution: a later writer adds a column; a
    mergeSchema read unions the schemas and null-fills old files —
    SURVEY §2a row 16's ragged-row union at the storage layer."""
    p = str(tmp_path / "evo")
    spark.range(3).selectExpr("id", "id * 2 AS a").write.parquet(p + "/v1")
    spark.range(3).selectExpr(
        "id + 10 AS id", "id * 3 AS a", "'x' AS b"
    ).write.parquet(p + "/v2")
    df = spark.read.option("mergeSchema", True).parquet(p + "/v1", p + "/v2")
    assert set(df.columns) == {"id", "a", "b"}
    rows = {r["id"]: r for r in df.collect()}
    assert rows[0]["b"] is None and rows[10]["b"] == "x"


def test_orc_sink_source_roundtrip(spark, tmp_path):
    """ORC sink/source parity: partitioned write, pruned read-back."""
    p = str(tmp_path / "orc")
    e = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    e.withColumn("st", F.col("o_orderstatus")).write.partitionBy("st").orc(p)
    back = spark.read.orc(p).where(F.col("st") == "F")
    n_f = e.where(F.col("o_orderstatus") == "F").count()
    assert back.count() == n_f


def test_append_mode_exactly_once_windows_on_late_arrival(spark, tmp_path):
    """Out-of-order file arrival (a middle time-slice arrives after
    the watermark has passed it) must not corrupt append-mode window
    output: every window is emitted AT MOST once, and each emitted
    count equals the batch recompute — Spark aggregates the late
    slice's windows and emits them on immediate eviction (eventual
    completeness) rather than double-emitting or duplicating.

    (Empirically pinned on Spark 4: late rows whose windows were never
    in state still aggregate — numRowsDroppedByWatermark stays 0 for
    this plan — so the engine-level guarantee worth relying on is the
    exactly-once emission per window, which this asserts.)"""
    import os

    from pyspark.sql import functions as F

    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id"
    )
    lo, hi = e.agg(F.min("ts"), F.max("ts")).first()
    span = hi - lo
    t1 = lo + span / 3
    t2 = lo + 2 * span / 3
    prep = str(tmp_path / "slices")
    e.filter(F.col("ts") < t1).coalesce(1).write.parquet(prep + "/f1")
    e.filter(F.col("ts") >= t2).coalesce(1).write.parquet(prep + "/f2")
    e.filter((F.col("ts") >= t1) & (F.col("ts") < t2)).coalesce(1).write.parquet(
        prep + "/f3"
    )
    stream_dir = str(tmp_path / "arrivals")
    os.makedirs(stream_dir)
    for i, sub in enumerate(("f1", "f2", "f3")):  # middle slice arrives LAST
        src = next(f for f in os.listdir(prep + "/" + sub) if f.startswith("part-"))
        dst = os.path.join(stream_dir, f"{i}_{src}")
        os.link(os.path.join(prep, sub, src), dst)
        os.utime(dst, (1_000_000 + i * 10, 1_000_000 + i * 10))

    stream = (
        spark.readStream.schema("event_id bigint, ts timestamp, user_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_once")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.table("late_once").select(F.col("w.start").alias("ws"), "n")
    emitted = {r["ws"]: r["n"] for r in out.collect()}
    assert out.count() == len(emitted), "a window was emitted twice"
    batch = {
        r["ws"]: r["n"]
        for r in e.groupBy(F.window("ts", "1 hour").start.alias("ws"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # each slice owns disjoint hours, so an emitted window's count must
    # equal the full batch recompute for that hour
    for ws, n in emitted.items():
        assert batch[ws] == n
    # and emission is near-complete: only windows inside the final
    # watermark's last hour may still be open
    assert len(emitted) >= len(batch) - 2


def test_kinesis_transport_boto3_contract(monkeypatch):
    """Drive the REAL KinesisTransport code path against a fake boto3
    module and assert the AWS service bounds the reference relies on at
    main.py:20-23: every put_records call carries ≤500 records and the
    sum of Data+PartitionKey bytes is ≤5 MB."""
    import sys
    import types

    calls: list[list[dict]] = []

    class FakeKinesisClient:
        def put_records(self, StreamName, Records):
            calls.append(Records)
            assert len(Records) <= MAX_RECORDS_PER_CALL, "record-count bound violated"
            total = sum(len(r["Data"]) + len(r["PartitionKey"].encode()) for r in Records)
            assert total <= MAX_BYTES_PER_CALL, "byte bound violated"
            return {
                "FailedRecordCount": 0,
                "Records": [
                    {"SequenceNumber": f"seq-{i}", "ShardId": "shardId-000000000000"}
                    for i in range(len(Records))
                ],
            }

    fake_boto3 = types.ModuleType("boto3")
    fake_boto3.client = lambda service, region_name=None: FakeKinesisClient()
    monkeypatch.setitem(sys.modules, "boto3", fake_boto3)

    from kinesis_producer_spark.streaming.kinesis_sink import KinesisTransport

    sink = KinesisSink(stream_name="s", transport_factory=KinesisTransport)
    # 1200 small records -> count-bound chunking (500/500/200)
    acks = sink.send_partition(_records(1200, size=10))
    assert [len(c) for c in calls] == [500, 500, 200]
    assert all(a["status"] == "ok" for a in acks)
    # 20 fat records (900 KB each) -> byte-bound chunking (5 per call)
    calls.clear()
    sink.send_partition(_records(20, size=900 * 1024))
    assert all(len(c) <= 5 for c in calls)
    assert sum(len(c) for c in calls) == 20


def test_kinesis_transport_missing_boto3(monkeypatch):
    """Without boto3 the transport raises a clear ImportError instead of
    failing deep inside a Spark task."""
    import builtins
    import sys

    monkeypatch.delitem(sys.modules, "boto3", raising=False)
    real_import = builtins.__import__

    def no_boto3(name, *a, **k):
        if name == "boto3":
            raise ImportError("No module named 'boto3'")
        return real_import(name, *a, **k)

    monkeypatch.setattr(builtins, "__import__", no_boto3)
    from kinesis_producer_spark.streaming.kinesis_sink import KinesisTransport

    with pytest.raises(ImportError, match="boto3"):
        KinesisTransport()


def test_shard_rate_limiter_virtual_time():
    """Token buckets enforce the AWS per-shard quotas (1000 rec/s,
    1 MB/s) on a virtual clock: bursts beyond the one-second allowance
    sleep exactly the refill time, per shard independently."""
    from kinesis_producer_spark.streaming.kinesis_sink import ShardRateLimiter

    clock = {"t": 0.0}
    slept: list[float] = []

    def fake_sleep(s):
        slept.append(s)
        clock["t"] += s

    lim = ShardRateLimiter(
        n_shards=2, records_per_s=1000, bytes_per_s=1024 * 1024,
        clock=lambda: clock["t"], sleeper=fake_sleep,
    )
    # within the initial 1s allowance: no sleep
    assert lim.acquire(0, 1000, 1000) == 0.0
    # next 500 records on shard 0 must wait 0.5s of refill
    s = lim.acquire(0, 500, 500)
    assert abs(s - 0.5) < 1e-9
    # shard 1 is untouched: full allowance, no sleep
    assert lim.acquire(1, 1000, 1000) == 0.0
    # both quotas bind: the drained record bucket needs 1/1000 s for one
    # record, the byte bucket needs 1000/1MiB s — the max (records) wins
    s = lim.acquire(1, 1, 1024 * 1024)
    assert abs(s - max(1 / 1000, 1000 / (1024 * 1024))) < 1e-9
    assert slept and all(x > 0 for x in slept)


def test_sink_applies_rate_limiter_per_predicted_shard():
    """send_partition routes each chunk's records through the limiter
    keyed by the md5-predicted shard before the transport call."""
    from kinesis_producer_spark.streaming.kinesis_sink import ShardRateLimiter

    clock = {"t": 0.0}

    def fake_sleep(s):
        clock["t"] += s

    acquired: list[tuple[int, int]] = []

    class SpyLimiter(ShardRateLimiter):
        def acquire(self, shard, n_records, n_bytes):
            acquired.append((shard, n_records))
            return super().acquire(shard, n_records, n_bytes)

    lim = SpyLimiter(
        n_shards=4, records_per_s=50, bytes_per_s=1024 * 1024,
        clock=lambda: clock["t"], sleeper=fake_sleep,
    )
    sink = KinesisSink(
        stream_name="s",
        transport_factory=lambda: RecordingTransport(fail_first_attempt_prefix="zz"),
        rate_limiter_factory=lambda: lim,
    )
    recs = [
        {"Data": b"x" * 10, "PartitionKey": k}
        for k in ("acoustic", "impact", "temperature", "visual") * 75
    ]
    acks = sink.send_partition(recs)
    assert all(a["status"] == "ok" for a in acks)
    assert sum(n for _, n in acquired) == 300
    shards = {s for s, _ in acquired}
    assert len(shards) > 1, "keys should spread across predicted shards"
    # first burst rides the initial allowance into debt (no sleep);
    # the second batch on the same limiter must pay that debt in time
    assert clock["t"] == 0.0
    sink.send_partition(recs)
    assert clock["t"] > 0, "debt from the 75-records/key burst must be paid"


def test_rate_limiter_oversized_burst_goes_into_debt():
    """A single acquire larger than one second's allowance must not
    deadlock: it waits for a full bucket, charges the debt, and the
    next acquire pays it off in waiting time."""
    from kinesis_producer_spark.streaming.kinesis_sink import ShardRateLimiter

    clock = {"t": 0.0}

    def fake_sleep(s):
        clock["t"] += s

    lim = ShardRateLimiter(
        n_shards=1, records_per_s=100, bytes_per_s=10**9,
        clock=lambda: clock["t"], sleeper=fake_sleep,
    )
    s1 = lim.acquire(0, 350, 1)  # 3.5× the per-second record allowance
    assert s1 == 0.0  # initial bucket is full → send immediately, go -250
    s2 = lim.acquire(0, 1, 1)  # must wait for the debt plus its own token
    assert abs(s2 - 2.51) < 1e-9
    # long-run: 351 records took ≈3.51s of virtual time ⇒ ~100 rec/s
    assert abs(clock["t"] - 2.51) < 1e-9


def test_record_aggregation_roundtrip_and_call_reduction():
    """aggregate → deaggregate is the identity (per-key order kept),
    and aggregation collapses 2000 small records into a handful of
    put_records-sized payloads — the KPL throughput trick."""
    from kinesis_producer_spark.streaming.kinesis_sink import (
        MAX_BYTES_PER_RECORD,
        aggregate_records,
        deaggregate_records,
        _chunk,
    )

    recs = [
        {"Data": f"evt-{i}".encode(), "PartitionKey": f"key-{i % 3}"}
        for i in range(2000)
    ]
    agg = aggregate_records(recs)
    assert len(agg) <= 3, "2000 tiny records should fit one aggregate per key"
    assert all(len(a["Data"]) <= MAX_BYTES_PER_RECORD for a in agg)
    back = deaggregate_records(agg)
    # identity up to key-grouped reordering: within a key, order is kept
    by_key_in = {}
    for r in recs:
        by_key_in.setdefault(r["PartitionKey"], []).append(r["Data"])
    by_key_out = {}
    for r in back:
        by_key_out.setdefault(r["PartitionKey"], []).append(r["Data"])
    assert by_key_in == by_key_out
    # 2000 records → 4 put_records calls unaggregated; 1 aggregated
    assert len(list(_chunk(agg))) < len(list(_chunk(recs)))


def test_record_aggregation_splits_at_size_and_rejects_oversize():
    from kinesis_producer_spark.streaming.kinesis_sink import (
        aggregate_records,
        deaggregate_records,
    )

    big = [{"Data": b"x" * 400_000, "PartitionKey": "k"} for _ in range(5)]
    agg = aggregate_records(big)
    assert len(agg) == 3, "5×400KB must split into 2+2+1 aggregates"
    assert [r["Data"] for r in deaggregate_records(agg)] == [r["Data"] for r in big]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="exceeds"):
        aggregate_records([{"Data": b"y" * (2 * 1024 * 1024), "PartitionKey": "k"}])

    # non-aggregated records pass deaggregation untouched
    plain = [{"Data": b"plain", "PartitionKey": "k"}]
    assert deaggregate_records(plain) == plain


def test_exactly_once_epoch_ledger_skips_replay(spark, tmp_path):
    """foreachBatch replays of a committed epoch are skipped: same
    epoch twice → one set of acks, one transport send; a NEW epoch
    still writes. Without a ledger the replay double-appends."""
    transports: list[RecordingTransport] = []

    def factory():
        t = RecordingTransport(fail_first_attempt_prefix="zz")
        transports.append(t)
        return t

    sink = KinesisSink("s", factory, backoff_s=0.0)
    ack_path = str(tmp_path / "acks")
    writer = sink.foreach_batch_writer(ack_path=ack_path, exactly_once=True)
    df = spark.createDataFrame(
        [(f"payload-{i}", "k") for i in range(10)], "data string, partition_key string"
    )
    writer(df, 7)
    n_calls_after_first = len(transports)
    writer(df, 7)  # replay of the SAME epoch — must be a no-op
    assert len(transports) == n_calls_after_first, "replayed epoch re-sent to transport"
    acks = spark.read.parquet(ack_path)
    assert acks.count() == 10
    writer(df, 8)  # a new epoch still goes through
    assert spark.read.parquet(ack_path).count() == 20
    assert (tmp_path / "acks" / "_epoch_ledger" / "epoch-7").exists()

    with pytest.raises(ValueError, match="ack_path"):
        sink.foreach_batch_writer(exactly_once=True)


def test_exactly_once_crash_replay_end_to_end(spark, tmp_path, sink_side):
    """The exactly-once north star, end to end, with the epoch sent from
    the driver and from an executor: a transport crash MID-PARTITION
    (after a chunk already reached the mock AWS) kills the streaming
    query without committing the epoch; a restart from the checkpoint
    replays the SAME epoch_id; the ledger + ack parquet end up with
    exactly one ack per record, readers skip a writer's temp file, and
    once the epoch is committed further replays add ZERO transport
    traffic."""
    import hashlib
    import os

    import pyarrow.dataset as ds

    src_dir = tmp_path / "eo_src"
    log_path = str(tmp_path / "transport.log")
    pid_log = str(tmp_path / "transport_pids.log")
    crash_flag = str(tmp_path / "crash_once")
    ack_path = str(tmp_path / "acks")
    ckpt = str(tmp_path / "ckpt")
    with open(crash_flag, "w") as fh:
        fh.write("armed")

    n_records = 600  # > 500 ⇒ two put_records chunks in one partition

    class CrashOnceFileTransport(RecordingTransport):
        """Logs every accepted record to a shared file (observable
        across executor worker processes), then dies once — AFTER
        logging — to model 'AWS accepted the chunk, worker crashed
        before processing the response'."""

        def __init__(self):
            super().__init__(fail_first_attempt_prefix="zz")  # no soft errors

        def put_records(self, stream_name, records):
            resp = super().put_records(stream_name, records)
            with open(log_path, "a") as fh:
                for r in records:
                    fh.write(hashlib.md5(r["Data"]).hexdigest() + "\n")
            with open(pid_log, "a") as fh:
                fh.write(f"{os.getpid()}\n")
            try:
                os.rename(crash_flag, crash_flag + ".used")  # atomic consume
                raise RuntimeError("injected mid-partition transport crash")
            except OSError:
                pass  # flag already consumed: healthy from here on
            return resp

    spark.createDataFrame(
        [(f"payload-{i}", f"key-{i % 7}") for i in range(n_records)],
        "data string, partition_key string",
    ).coalesce(1).write.parquet(str(src_dir))

    sink = KinesisSink("s", CrashOnceFileTransport, backoff_s=0.0)
    writer = sink.foreach_batch_writer(ack_path=ack_path, exactly_once=True)

    def start():
        stream = spark.readStream.schema("data string, partition_key string").parquet(
            str(src_dir)
        )
        return (
            stream.writeStream.foreachBatch(writer)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    # run 1: must FAIL (the exactly-once writer re-raises instead of
    # swallowing — swallowing would commit the epoch and lose it)
    q = start()
    failed = False
    try:
        q.awaitTermination(120)
    except Exception:
        failed = True
    assert failed, "crashed epoch must fail the query, not commit"
    assert os.path.exists(crash_flag + ".used")  # some records DID reach AWS
    assert not [
        f for _, _, files in os.walk(ack_path) for f in files if ".parquet" in f
    ], "no acks may commit for a crashed epoch"

    # run 2: restart from the checkpoint → SAME epoch replays, succeeds
    q2 = start()
    q2.awaitTermination(120)
    assert not q2.isActive
    acks = spark.read.parquet(ack_path)
    assert acks.count() == n_records
    assert acks.filter(F.col("status") == "ok").count() == n_records
    # exactly one ack row per record — the replay did not double-append
    assert (
        acks.groupBy("data_md5").count().filter(F.col("count") > 1).count() == 0
    )
    epochs = [r.epoch for r in acks.select("epoch").distinct().collect()]
    assert len(epochs) == 1  # one committed epoch id
    marker = tmp_path / "acks" / "_epoch_ledger" / f"epoch-{epochs[0]}"
    assert marker.exists()
    # a writer killed mid-file leaves only its dot-prefixed temp file,
    # which neither Spark nor pyarrow reads
    edir = tmp_path / "acks" / f"epoch={epochs[0]}"
    (edir / ".part-killed-00000.parquet.0123abcd").write_bytes(b"not parquet")
    acks = spark.read.parquet(ack_path)
    assert acks.count() == n_records
    assert not [f for f in acks.inputFiles() if os.path.basename(f).startswith(".")]
    arrow = ds.dataset(ack_path, format="parquet", partitioning="hive")
    assert not [f for f in arrow.files if os.path.basename(f).startswith(".")]
    assert arrow.count_rows() == n_records

    # transport-level accounting: every record delivered; only the
    # chunk in flight at the crash was re-sent (bounded duplication,
    # at-least-once to the wire as documented)
    with open(log_path) as fh:
        sent = [line.strip() for line in fh if line.strip()]
    expected = {
        hashlib.md5(f"payload-{i}".encode()).hexdigest() for i in range(n_records)
    }
    assert set(sent) == expected
    assert len(sent) <= n_records + MAX_RECORDS_PER_CALL
    with open(pid_log) as fh:
        from_driver = {int(line) for line in fh} == {os.getpid()}
    assert from_driver == (sink_side == "driver")

    # run 3: replay of the COMMITTED epoch adds zero transport traffic
    n_sent_before = len(sent)
    writer(spark.read.parquet(str(src_dir)), epochs[0])
    with open(log_path) as fh:
        sent_after = [line.strip() for line in fh if line.strip()]
    assert len(sent_after) == n_sent_before, "committed epoch re-sent records"
    assert spark.read.parquet(ack_path).count() == n_records


def test_exactly_once_task_crash_leaves_no_acks_of_finished_tasks(
    spark, tmp_path, monkeypatch
):
    """Executor path, three tasks: one task's transport crashes only
    after the other two tasks have written their ack files. The failed
    attempt must leave no ack file (final or temp) behind, so the replay
    of the epoch ends with exactly one ack row per record."""
    import glob
    import hashlib

    monkeypatch.setattr(kinesis_sink, "IN_PROCESS_MAX_BYTES", -1)
    ack_path = str(tmp_path / "acks")
    crash_flag = str(tmp_path / "crash_once")
    with open(crash_flag, "w") as fh:
        fh.write("armed")

    class CrashAfterOthersTransport(RecordingTransport):
        """Crashes once, in the task sending key ``crash``, after the two
        other tasks' ack files (temp or final) are complete (parquet
        footer written); the used flag records how many it saw."""

        def __init__(self):
            super().__init__(fail_first_attempt_prefix="zz")

        def put_records(self, stream_name, records):
            if records[0]["PartitionKey"] == "crash" and os.path.exists(crash_flag):
                done: list[str] = []
                deadline = time.time() + 60
                while len(done) < 2 and time.time() < deadline:
                    time.sleep(0.05)
                    done = []
                    for edir in glob.glob(os.path.join(ack_path, "epoch=*")):
                        for name in os.listdir(edir):  # glob skips dot-files
                            with open(os.path.join(edir, name), "rb") as fh:
                                if "part-" in name and fh.read()[-4:] == b"PAR1":
                                    done.append(name)
                os.rename(crash_flag, crash_flag + ".used")
                with open(crash_flag + ".used", "w") as fh:
                    fh.write(str(len(done)))
                raise RuntimeError("injected transport crash after the other tasks")
            return super().put_records(stream_name, records)

    src_dir = str(tmp_path / "src")
    for key in ("a", "b", "crash"):  # one file per key: three partitions
        spark.createDataFrame(
            [(f"{key}-{i}", key) for i in range(30)], "data string, partition_key string"
        ).coalesce(1).write.mode("append").parquet(src_dir)
    batch = spark.read.parquet(src_dir)
    assert batch.rdd.getNumPartitions() == 3

    writer = KinesisSink("s", CrashAfterOthersTransport, backoff_s=0.0).foreach_batch_writer(
        ack_path=ack_path, exactly_once=True
    )
    with pytest.raises(Exception):
        writer(batch, 0)
    with open(crash_flag + ".used") as fh:
        assert fh.read() == "2"  # both other tasks had finished their files
    assert not [f for _, _, files in os.walk(ack_path) for f in files]

    writer(batch, 0)  # the replay of the same epoch
    acks = spark.read.parquet(ack_path)
    assert acks.count() == 90 and acks.select("attempt").distinct().count() == 1
    assert acks.select("data_md5").distinct().count() == 90
    assert sorted(r.data_md5 for r in acks.collect()) == sorted(
        hashlib.md5(f"{k}-{i}".encode()).hexdigest() for k in ("a", "b", "crash") for i in range(30)
    )
    assert len(os.listdir(os.path.join(ack_path, "epoch=0"))) == 3
    assert os.path.exists(os.path.join(ack_path, "_epoch_ledger", "epoch-0"))


def test_progress_recorder_ledger(spark, tmp_path):
    """The listener ledger accounts for every input row across
    micro-batches and is queryable as a DataFrame."""
    from kinesis_producer_spark.streaming.monitor import attach, detach
    from kinesis_producer_spark.streaming.windows import events_stream

    sf = "/root/testdata/sf0.001"
    rec = attach(spark)
    try:
        q = (
            events_stream(spark, sf)
            .groupBy("event_type")
            .count()
            .writeStream.outputMode("complete")
            .format("noop")
            .start()
        )
        q.processAllAvailable()
        qid = q.id
        q.stop()
        import time as _t

        deadline = _t.time() + 30
        while _t.time() < deadline and not rec.snapshot():
            _t.sleep(0.2)
        df = rec.as_dataframe(spark)
        mine = df.filter(F.col("query_id") == str(qid))
        n_events = spark.read.parquet(f"{sf}/events.parquet").count()
        got = mine.groupBy().sum("num_input_rows").collect()[0][0]
        assert got == n_events, f"ledger rows {got} != fixture {n_events}"
        assert mine.filter(F.col("batch_duration_ms") <= 0).count() == 0
        assert str(qid) in rec.started
    finally:
        detach(spark, rec)


def test_rocksdb_state_store_matches_default_provider(spark, tmp_path):
    """The production state backend for 100 TB streaming state: the
    same stateful sessionization run under the RocksDB state store
    provider emits exactly what the default (heap-backed) provider
    emits — provider choice is a deployment knob, not a semantics
    change. RocksDB keeps state off-heap with changelog checkpointing,
    which is what survives multi-GB per-executor state."""
    from kinesis_producer_spark.streaming.stateful import (
        events_multifile_stream,
        stateful_sessions,
    )

    import os

    sf = "/root/testdata/sf0.001"
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    # the provider is a SESSION conf — writeStream.option() silently
    # ignores it (verified), the classic misconfiguration trap
    default_provider = spark.conf.get(conf_key)

    def run(provider: str | None, out: str) -> dict:
        if provider:
            spark.conf.set(conf_key, provider)
        try:
            stream = events_multifile_stream(spark, sf, n_files=4)
            q = (
                stateful_sessions(stream)
                .writeStream.outputMode("append")
                .format("parquet")
                .option("path", out)
                .option("checkpointLocation", out + "_ckpt")
                .start()
            )
            q.processAllAvailable()
            prog = q.lastProgress or {}
            q.stop()
            return prog
        finally:
            spark.conf.set(conf_key, default_provider)

    run(None, str(tmp_path / "heap"))
    prog = run(rocks, str(tmp_path / "rocks"))
    # prove RocksDB actually ran: its provider reports rocksdb custom
    # metrics and writes .zip/.changelog state artifacts, not .delta
    ops = prog.get("stateOperators") or []
    custom = (ops[0].get("customMetrics") or {}) if ops else {}
    assert any("rocksdb" in k.lower() for k in custom), f"no rocksdb metrics: {list(custom)[:5]}"
    state_exts = set()
    for root, _dirs, names in os.walk(str(tmp_path / "rocks") + "_ckpt/state"):
        state_exts.update(n.rsplit(".", 1)[-1] for n in names)
    assert "delta" not in state_exts, "HDFS-provider .delta files mean RocksDB was not used"
    heap = sorted(map(tuple, spark.read.parquet(str(tmp_path / "heap")).collect()))
    rocksdb = sorted(map(tuple, spark.read.parquet(str(tmp_path / "rocks")).collect()))
    assert heap == rocksdb and len(heap) > 0


def test_streaming_pivot_is_declared_schema_only(spark):
    """SURVEY §7 hard-part (b): Spark cannot pivot a stream with a
    discovered schema. The streaming pipeline must use the declared-
    schema pivot, and attempting the dynamic pivot on a stream must
    fail with a clear error up front — not an AnalysisException from
    inside the vocabulary collect."""
    import inspect

    import pytest

    from kinesis_producer_spark.operators.eav_pivot import pivot_declared, pivot_dynamic
    from kinesis_producer_spark.streaming import transform

    # the record-transform (Firehose-shape) streaming path is wired to
    # the declared pivot, never the dynamic one
    src = inspect.getsource(transform)
    assert "pivot_declared" in src and "pivot_dynamic" not in src

    stream = spark.readStream.format("rate").option("rowsPerSecond", "1").load()
    readings = F.array(
        F.struct(
            F.lit("Speed").alias("name"),
            F.lit("1.0").alias("value"),
            F.lit("mph").alias("uom"),
        )
    )
    eav = stream.select(readings.alias("readings"))
    with pytest.raises(ValueError, match="batch DataFrame"):
        pivot_dynamic(eav)
    # declared mode builds a streaming plan fine (no action needed)
    wide = pivot_declared(eav, declared=["Speed"], uom_for=["Speed"])
    assert wide.isStreaming and "Speed" in wide.columns


def test_transform_with_state_dependency_gate(spark):
    """This image has no protobuf, which pyspark's transformWithState
    state-server protocol needs — the operator must fail FAST with the
    dependency named, not crash the streaming Python runner mid-query
    (the failure mode observed without the gate)."""
    pytest.importorskip("pyspark.sql.streaming.stateful_processor")
    try:
        from google.protobuf import descriptor  # noqa: F401

        pytest.skip("protobuf installed — gate not applicable")
    except ImportError:
        pass
    from kinesis_producer_spark.streaming.stateful import (
        events_multifile_stream,
        tws_user_stats,
    )

    stream = events_multifile_stream(spark, "/root/testdata/sf0.001", n_files=2)
    with pytest.raises(ImportError, match="protobuf"):
        tws_user_stats(stream)


def test_transform_with_state_user_stats(spark, tmp_path):
    """The Spark 4.x arbitrary-state API (transformWithStateInPandas):
    per-user running totals through typed ValueState + a bounded
    ListState history, under the RocksDB provider it requires. The
    last emission per user must equal the batch recompute (count and
    integer-cents sum are batch-boundary independent), and the list
    state must hold the last ≤3 event types in event order.

    Runs only where protobuf is installed (pyspark's transformWithState
    state-server protocol needs it; absent in this image)."""
    pytest.importorskip("google.protobuf")
    from kinesis_producer_spark.streaming.stateful import (
        events_multifile_stream,
        tws_user_stats,
    )

    sf = "/root/testdata/sf0.001"
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    default_provider = spark.conf.get(conf_key)
    spark.conf.set(conf_key, rocks)
    try:
        stream = events_multifile_stream(spark, sf, n_files=4)
        out = tws_user_stats(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("tws_stats_t")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "tws_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = spark.sql(
            "SELECT user_id, n_events, total_cents, recent_types FROM tws_stats_t"
        ).toPandas()
    finally:
        spark.conf.set(conf_key, default_provider)

    # last emission per user (update mode: emissions grow monotonically)
    last = got.sort_values("n_events").groupby("user_id").last()

    ev = spark.read.parquet(f"{sf}/events.parquet").toPandas()
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    expect = ev.groupby("user_id").agg(
        n=("event_id", "size"), cents=("cents", "sum")
    )
    assert len(last) == len(expect)
    for uid, row in expect.iterrows():
        assert last.loc[uid, "n_events"] == row["n"], uid
        assert last.loc[uid, "total_cents"] == row["cents"], uid
    # bounded history: ≤ 3 entries, and for users seen in one batch the
    # tail matches the event-time order of their last events
    for uid, row in last.iterrows():
        types = row["recent_types"].split(",") if row["recent_types"] else []
        assert len(types) <= 3
        tail = ev[ev.user_id == uid].sort_values("ts")["event_type"].tolist()[-len(types):]
        assert types == tail, uid


def test_streaming_lsh_matches_batch_candidates(spark, tmp_path):
    """Streaming near-dup detection: the distinct pair set emitted over
    any micro-batch split must equal the batch lsh_candidate_pairs over
    the same corpus — pair emission is batch-boundary independent, and
    replayed documents add nothing (idempotent ingestion)."""
    from kinesis_producer_spark.operators.dedup import lsh_candidate_pairs
    from kinesis_producer_spark.operators.dedup import minhash_signature, shingles
    from kinesis_producer_spark.streaming.lsh import streaming_lsh_candidates

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")

    # batch truth with identical parameters
    sig = docs.withColumn("signature", minhash_signature(docs, shingles(F.col("text")), k=8))
    batch_pairs = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(sig, band_size=2).collect()
    }
    assert batch_pairs, "fixture produced no candidate pairs — test is vacuous"

    # stream the same corpus in 4 files (4 micro-batches), with one
    # file REPLAYED to prove idempotence
    src = tmp_path / "lsh_docs"
    docs.repartition(4).write.parquet(str(src))
    first = sorted(p for p in src.iterdir() if p.name.endswith(".parquet"))[0]
    replay_dir = tmp_path / "lsh_docs_replay"
    replay_dir.mkdir()
    import shutil

    shutil.copy(first, replay_dir / ("again-" + first.name))

    sink = str(tmp_path / "lsh_pairs")
    ckpt = str(tmp_path / "lsh_ckpt")

    def run_stream():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        # update-mode stateful output can't drive an Append file sink
        # directly; foreachBatch is the standard adapter (and recovers
        # from the checkpoint like any sink)
        q = (
            streaming_lsh_candidates(stream)
            .writeStream.foreachBatch(
                lambda df, _eid: df.write.mode("append").parquet(sink)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_stream()
    got = {
        (r.id_a, r.id_b)
        for r in spark.read.parquet(sink).select("id_a", "id_b").distinct().collect()
    }
    assert got == batch_pairs

    # replay a file through the same checkpoint: the stateful buckets
    # recover, the replayed doc_ids are residents, zero NEW pairs
    for p in replay_dir.iterdir():
        shutil.copy(p, src / p.name)
    run_stream()
    after = {
        (r.id_a, r.id_b)
        for r in spark.read.parquet(sink).select("id_a", "id_b").distinct().collect()
    }
    assert after == batch_pairs, "replayed file produced new pairs"


def test_streaming_countmin_matches_batch(spark, tmp_path):
    """Sketches maintain incrementally: the CMS counter grid built by a
    streaming aggregation over micro-batches equals the batch grid over
    the same corpus — counters are associative, so the sketch is
    stream/batch agnostic (the property that lets per-day streaming
    sketches merge into corpus estimates)."""
    from kinesis_producer_spark.operators.scale_ops import countmin_cells

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    toks = docs.select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    batch_grid = {(r.r, r.cell): r.counter for r in countmin_cells(toks).collect()}

    src = tmp_path / "cms_docs"
    docs.select("doc_id", "text").repartition(4).write.parquet(str(src))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    stoks = stream.select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    q = (
        countmin_cells(stoks)
        .writeStream.format("memory")
        .queryName("cms_stream_t")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "cms_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    stream_grid = {
        (r.r, r.cell): r.counter
        for r in spark.sql("SELECT * FROM cms_stream_t").collect()
    }
    assert stream_grid == batch_grid


def test_null_records_dead_letter_instead_of_crashing(spark):
    """A null data or partition-key cell must become a dead-letter ack
    (error_code=NullRecord), never a task kill — under exactly_once a
    crash would wedge the stream replaying the same epoch forever."""
    df = spark.createDataFrame(
        [("ok-payload", "k"), (None, "k"), ("x", None), ("ok2", "k2")],
        "data string, partition_key string",
    )
    sink = KinesisSink(
        "s", lambda: RecordingTransport(fail_first_attempt_prefix="zz"), backoff_s=0.0
    )
    acks = sink.write_batch(df).collect()
    by_status: dict = {}
    for a in acks:
        by_status.setdefault(a.status, []).append(a)
    assert len(by_status["ok"]) == 2
    assert len(by_status["dead_letter"]) == 2
    for a in by_status["dead_letter"]:
        assert a.error_code == "NullRecord" and a.sequence_number is None



def test_send_partition_dead_letters_null_records_in_input_order():
    """``send_partition`` routes a record with null ``Data`` or null
    ``PartitionKey`` to a NullRecord dead letter at its own position and
    sends only the others."""
    import hashlib

    t = RecordingTransport(fail_first_attempt_prefix="zz")
    sink = KinesisSink("s", lambda: t, backoff_s=0.0)
    recs = [
        {"Data": b"a", "PartitionKey": "k"},
        {"Data": None, "PartitionKey": "k"},
        {"Data": b"b", "PartitionKey": None},
        {"Data": bytearray(b"c"), "PartitionKey": "k2"},
        {"Data": None, "PartitionKey": None},
    ]
    acks = sink.send_partition(recs)
    assert [(a["status"], a["error_code"], a["attempts"]) for a in acks] == [
        ("ok", None, 1),
        ("dead_letter", "NullRecord", 0),
        ("dead_letter", "NullRecord", 0),
        ("ok", None, 1),
        ("dead_letter", "NullRecord", 0),
    ]
    assert [a["partition_key"] for a in acks] == ["k", "k", None, "k2", None]
    assert [a["data_md5"] for a in acks] == [
        hashlib.md5(b"a").hexdigest(), None, None, hashlib.md5(b"c").hexdigest(), None
    ]
    assert all(a["sequence_number"] is None for a in acks if a["status"] == "dead_letter")
    assert [bytes(r["Data"]) for call in t.calls for r in call] == [b"a", b"c"]


def test_send_partition_of_only_null_records_builds_no_transport():
    """A partition with nothing to send builds no transport."""

    def no_transport():
        raise AssertionError("a transport was built for nothing to send")

    sink = KinesisSink("s", no_transport, backoff_s=0.0)
    acks = sink.send_partition(
        [{"Data": None, "PartitionKey": "k"}, {"Data": b"x", "PartitionKey": None}]
    )
    assert [a["error_code"] for a in acks] == ["NullRecord", "NullRecord"]
    assert sink.send_partition([]) == []


_NULL_ROWS = [("ok-payload", "k"), (None, "k"), ("x", None), ("ok2", "k2")]


def _ack_fields(rows) -> list[tuple]:
    return sorted(
        (a.partition_key or "", a.data_md5 or "", a.status, a.attempts, a.error_code or "")
        for a in rows
    )


def test_write_batch_local_frame_matches_distributed(spark):
    """A driver-resident (local) frame is sent in-process; its acks —
    including the NullRecord dead letters — equal the mapInPandas path's
    acks on the same rows."""
    from kinesis_producer_spark.streaming.kinesis_sink import local_frame
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("data", T.StringType()), T.StructField("partition_key", T.StringType())]
    )
    sink = KinesisSink(
        "s", lambda: RecordingTransport(fail_first_attempt_prefix="zz"), backoff_s=0.0
    )
    local = local_frame(spark, [dict(zip(("data", "partition_key"), r)) for r in _NULL_ROWS], schema)
    distributed = spark.createDataFrame(_NULL_ROWS, schema)
    assert local.isLocal() and not distributed.isLocal()
    got_local = sink.write_batch(local)
    assert got_local.isLocal()
    local_acks = _ack_fields(got_local.collect())
    assert local_acks == _ack_fields(sink.write_batch(distributed).collect())
    assert [a[2:] for a in local_acks].count(("dead_letter", 0, "NullRecord")) == 2
    assert [a[2] for a in local_acks].count("ok") == 2


def test_write_batch_local_frame_launches_no_job(spark, count_jobs):
    """The local path sends during write_batch and its acks are a local
    frame: sending and collecting them launch 0 Spark jobs."""
    from kinesis_producer_spark.streaming.kinesis_sink import local_frame
    from kinesis_producer_spark.streaming.replay import _GROUP_SCHEMA

    transports: list[RecordingTransport] = []

    def factory():
        transports.append(RecordingTransport(fail_first_attempt_prefix="zz"))
        return transports[-1]

    sink = KinesisSink("s", factory, backoff_s=0.0)
    rows = [{"data": f"p{i}".encode(), "partition_key": f"k{i % 3}"} for i in range(50)]
    group = local_frame(spark, rows, _GROUP_SCHEMA)
    acks, jobs = count_jobs(lambda: sink.write_batch(group).collect())
    assert jobs == 0
    assert len(acks) == 50 and all(a.status == "ok" for a in acks)
    # sent during the call, in this process
    assert sum(len(c) for t in transports for c in t.calls) == 50


@pytest.mark.parametrize("bound", [None, 1])
def test_small_file_scan_is_sent_in_process(spark, tmp_path, count_jobs, monkeypatch, bound):
    """A non-local frame whose plan size estimate is within the sink's
    IN_PROCESS_MAX_BYTES (a parquet file read back) is collected once
    and sent from the driver, and its epoch writes one ack file; above
    the bound (1 byte) each executor task sends its own partitions and
    writes its own file. One Spark job either way."""
    import pyarrow.parquet as pq

    transports: list[RecordingTransport] = []

    def factory():
        transports.append(RecordingTransport(fail_first_attempt_prefix="zz"))
        return transports[-1]

    src = str(tmp_path / "small_src")
    spark.createDataFrame(
        [(f"p{i}", f"k{i % 3}") for i in range(40)], "data string, partition_key string"
    ).repartition(2).write.parquet(src)
    batch = spark.read.parquet(src)
    assert not batch.isLocal()
    sink = KinesisSink("s", factory, backoff_s=0.0)
    ack_dir = tmp_path / "small_acks"
    if bound is not None:
        monkeypatch.setattr(kinesis_sink, "IN_PROCESS_MAX_BYTES", bound)
    acks, jobs = count_jobs(lambda: sink.write_batch(batch).collect())
    assert jobs == 1 and len(acks) == 40
    _, jobs = count_jobs(lambda: sink.foreach_batch_writer(ack_path=str(ack_dir))(batch, 3))
    assert jobs == 1
    files = sorted(p.name for p in (ack_dir / "epoch=3").iterdir())
    driver_calls = sum(len(c) for t in transports for c in t.calls)
    if bound is None:
        assert driver_calls == 80  # both sends ran in this process
        assert len(files) == 1 and files[0].endswith("-00000.parquet")
    else:
        assert driver_calls == 0
        assert len(files) == 2
    (attempt,) = {f.split("-")[1] for f in files}
    table = pq.read_table(ack_dir / "epoch=3" / files[0])
    assert table.column_names[-1] == "attempt"
    assert set(table.column("attempt").to_pylist()) == {attempt}
    acks = spark.read.parquet(str(ack_dir))
    assert acks.where("status = 'ok' AND epoch = 3").count() == 40


def test_streaming_lsh_epoch_aging_bounds_state(spark, tmp_path):
    """Epoch-keyed streaming LSH (round-5: state aging). Three epochs
    arrive in event-time order; once the watermark passes an epoch's
    end, its bucket state must be REMOVED from the state store — the
    store stays bounded by live epochs under indefinite ingest — while
    within each epoch the emitted pairs equal the batch
    lsh_candidate_pairs over that epoch's corpus."""
    import os

    from pyspark.sql import functions as F

    from kinesis_producer_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
        shingles,
    )
    from kinesis_producer_spark.streaming.lsh import band_buckets, streaming_lsh_candidates

    EPOCH_MS = 60_000
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")

    # per-epoch batch truth: epoch e holds docs with doc_id % 3 == e
    expected: set[tuple[int, int, int]] = set()
    n_buckets = {}
    for e in range(3):
        sub = docs.where(F.col("doc_id") % 3 == e)
        sig = sub.withColumn(
            "signature", minhash_signature(sub, shingles(F.col("text")), k=8)
        )
        for r in lsh_candidate_pairs(sig, band_size=2).collect():
            expected.add((e * EPOCH_MS, r.id_a, r.id_b))
        n_buckets[e] = (
            band_buckets(sub).select("band_idx", "bucket").distinct().count()
        )
    assert expected, "fixture produced no candidate pairs — test is vacuous"

    # stream: one file per epoch, event time = the epoch's start. Each
    # epoch is dropped into the source dir and drained with its own
    # availableNow run against ONE checkpoint — files added between
    # runs are discovered strictly in arrival order, so the watermark
    # advances epoch by epoch (mtime ordering is not guaranteed).
    src = tmp_path / "epoch_docs"
    src.mkdir()
    # mid-epoch timestamps: the stateful operator drops rows with
    # event time <= the current watermark, and ts=0 == initial wm=0
    stamped = docs.withColumn(
        "event_ts",
        F.timestamp_millis((F.col("doc_id") % 3) * F.lit(EPOCH_MS) + EPOCH_MS // 2),
    )
    sink = str(tmp_path / "epoch_pairs")
    ckpt = str(tmp_path / "epoch_ckpt")
    progresses = []
    for e in range(3):
        part = tmp_path / f"epoch_{e}"
        stamped.where(F.col("doc_id") % 3 == e).coalesce(1).write.parquet(str(part))
        (pq,) = [p for p in part.iterdir() if p.name.endswith(".parquet")]
        pq.rename(src / f"e{e}.parquet")
        stream = (
            spark.readStream.schema("doc_id long, text string, event_ts timestamp")
            .parquet(str(src))
        )
        q = (
            streaming_lsh_candidates(stream, time_col="event_ts", epoch_ms=EPOCH_MS)
            .writeStream.foreachBatch(
                lambda df, _eid: df.write.mode("append").parquet(sink)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), f"epoch {e} run did not drain"
        progresses.extend(p for p in q.recentProgress if p["stateOperators"])

    got = {
        (r.epoch, r.id_a, r.id_b)
        for r in spark.read.parquet(sink)
        .select("epoch", "id_a", "id_b")
        .distinct()
        .collect()
    }
    assert got == expected, "epoch-scoped pairs differ from per-epoch batch LSH"

    # state-store boundedness: each run's closing no-data batch fires
    # timers once the watermark (max event time − 0s delay) passes an
    # epoch's end — after epoch 2's file the watermark is 150000, past
    # the ends of epochs 0 (60000) and 1 (120000), so ONLY epoch 2's
    # buckets remain in the store
    removed = sum(p["stateOperators"][0]["numRowsRemoved"] for p in progresses)
    final_total = progresses[-1]["stateOperators"][0]["numRowsTotal"]
    assert removed == n_buckets[0] + n_buckets[1], (removed, n_buckets)
    assert final_total == n_buckets[2], (final_total, n_buckets)


def test_streaming_lsh_epoch_requires_time_col():
    import pytest as _pytest

    from kinesis_producer_spark.streaming.lsh import streaming_lsh_candidates

    with _pytest.raises(ValueError, match="time_col"):
        streaming_lsh_candidates(None, epoch_ms=1000)


def test_shard_map_hash_range_contract():
    """Shard routing follows the public Kinesis contract: the record's
    shard is the open shard whose [StartingHashKey, EndingHashKey]
    range contains int(md5(partition_key)) big-endian."""
    import hashlib as _hl

    from kinesis_producer_spark.streaming.kinesis_sink import (
        HASH_SPACE,
        RecordingTransport,
        ShardMap,
        partition_key_hash,
    )

    m = ShardMap.uniform(4)
    opens = m.open_shards()
    assert [s.start for s in opens] == [i * (HASH_SPACE // 4) for i in range(4)]
    assert opens[-1].end == HASH_SPACE - 1
    for key in ("acoustic", "impact", "temperature", "visual", "a", "zz", ""):
        h = partition_key_hash(key)
        assert h == int.from_bytes(_hl.md5(key.encode()).digest(), "big")
        sid = m.shard_for_key(key)
        s = m.shards[sid]
        assert s.open and s.start <= h <= s.end
        # uniform(4): shard index = top 2 bits = first hex digit // 4
        digit = int(_hl.md5(key.encode()).hexdigest()[0], 16)
        assert sid == f"shardId-{digit // 4:012d}"
    # the default transport uses the same contract (q40's oracle SQL)
    t = RecordingTransport(n_shards=4, fail_first_attempt_prefix="zz")
    resp = t.put_records("s", [{"Data": b"x", "PartitionKey": "acoustic"}])
    assert resp["Records"][0]["ShardId"] == m.shard_for_key("acoustic")


def test_shard_map_split_and_merge():
    from kinesis_producer_spark.streaming.kinesis_sink import HASH_SPACE, ShardMap

    m = ShardMap.uniform(2)
    a, b = m.split("shardId-000000000000")
    assert (a, b) == ("shardId-000000000002", "shardId-000000000003")
    assert not m.shards["shardId-000000000000"].open
    assert m.shards[a].end + 1 == m.shards[b].start
    assert m.shards[a].start == 0 and m.shards[b].end == HASH_SPACE // 2 - 1
    # open shards still partition the space; routing lands in children
    assert {s.shard_id for s in m.open_shards()} == {a, b, "shardId-000000000001"}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="closed"):
        m.split("shardId-000000000000")
    with _pytest.raises(ValueError, match="not adjacent"):
        m.merge(a, "shardId-000000000001")
    child = m.merge(a, b)  # undo the split
    assert m.shards[child].start == 0 and m.shards[child].end == HASH_SPACE // 2 - 1
    assert len(m.open_shards()) == 2
    # custom split point honored, bad ones rejected
    with _pytest.raises(ValueError, match="outside"):
        m.split(child, HASH_SPACE)  # beyond the parent range


def test_mid_stream_split_reroutes_and_rederives_quota():
    """A shard split between micro-batches: subsequent records land per
    the NEW hash ranges (fresh child shard ids in the acks), and the
    rate limiter re-derives quotas — each child gets the full per-shard
    allowance, so the same traffic throttles less after the split."""
    from kinesis_producer_spark.streaming.kinesis_sink import (
        KinesisSink,
        RecordingTransport,
        ShardMap,
        ShardRateLimiter,
    )

    def run_rounds(shard_map):
        clock = {"t": 0.0}

        def fake_sleep(s):
            clock["t"] += s

        lim = ShardRateLimiter(
            records_per_s=100,
            bytes_per_s=10**9,
            clock=lambda: clock["t"],
            sleeper=fake_sleep,
            shard_map=shard_map,
        )
        sink = KinesisSink(
            stream_name="s",
            transport_factory=lambda: RecordingTransport(
                fail_first_attempt_prefix="zz", shard_map=shard_map
            ),
            rate_limiter_factory=lambda: lim,
        )
        recs = [
            {"Data": b"payload-%d" % i, "PartitionKey": f"key-{i}"} for i in range(300)
        ]
        acks = []
        for _ in range(2):  # two micro-batches of the same traffic
            acks = sink.send_partition(recs)
        return clock["t"], acks

    single = ShardMap.uniform(1)
    t_before, acks_before = run_rounds(single)
    assert {a["shard_id"] for a in acks_before} == {"shardId-000000000000"}
    assert t_before > 0, "300 rec/batch at 100 rec/s must throttle"

    split_map = ShardMap.uniform(1)
    c1, c2 = split_map.split("shardId-000000000000")
    t_after, acks_after = run_rounds(split_map)
    got_shards = {a["shard_id"] for a in acks_after}
    assert got_shards == {c1, c2}, "acks must carry the child shard ids"
    for a in acks_after:
        assert a["shard_id"] == split_map.shard_for_key(a["partition_key"])
    # two children, each with its own full quota → less throttling
    assert t_after < t_before


def test_sink_metrics_ledger_counts_across_restart(spark, tmp_path):
    """Per-epoch delivery counters (sent/retried/dead-lettered/null)
    are queryable via streaming.monitor.sink_metrics and ACCUMULATE
    across a query restart — the ledger lives next to the acks, not in
    process memory."""
    from kinesis_producer_spark.streaming import monitor
    from kinesis_producer_spark.streaming.kinesis_sink import (
        KinesisSink,
        RecordingTransport,
    )

    src = tmp_path / "metrics_src"
    src.mkdir()
    ack_path = str(tmp_path / "metrics_acks")
    ckpt = str(tmp_path / "metrics_ckpt")
    sink = KinesisSink("s", RecordingTransport, max_retries=3, backoff_s=0.0)

    def add_file(name, rows):
        part = tmp_path / f"stage_{name}"
        spark.createDataFrame(rows, "data binary, partition_key string").coalesce(
            1
        ).write.parquet(str(part))
        (pq,) = [p for p in part.iterdir() if p.name.endswith(".parquet")]
        pq.rename(src / f"{name}.parquet")

    def run_phase():
        stream = spark.readStream.schema("data binary, partition_key string").parquet(
            str(src)
        )
        q = (
            stream.writeStream.foreachBatch(sink.foreach_batch_writer(ack_path=ack_path))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    # phase 1: 128 healthy records (≈1/16 of md5s retry once by default)
    add_file("p1", [(bytearray(b"evt-%d" % i), f"k{i}") for i in range(128)])
    run_phase()
    m1 = {r.epoch: r for r in monitor.sink_metrics(spark, ack_path).collect()}
    assert sum(r.sent for r in m1.values()) == 128
    assert sum(r.retried for r in m1.values()) > 0, "md5-injected throttles must count"
    assert sum(r.dead_lettered for r in m1.values()) == 0

    # phase 2 (restart): 64 more + 3 null-data records → NullRecord DLQ
    add_file("p2", [(bytearray(b"more-%d" % i), f"m{i}") for i in range(64)]
             + [(None, f"null{i}") for i in range(3)])
    run_phase()
    m2 = monitor.sink_metrics(spark, ack_path)
    rows = {r.epoch: r for r in m2.collect()}
    assert set(rows) > set(m1), "restart must append new epochs to the ledger"
    assert sum(r.sent for r in rows.values()) == 128 + 64
    assert sum(r.null_records for r in rows.values()) == 3
    assert sum(r.dead_lettered for r in rows.values()) == 3  # the nulls
    # ledger agrees with the ack rows it summarizes
    acks = spark.read.parquet(ack_path)
    assert sum(r.sent for r in rows.values()) == acks.where("status = 'ok'").count()
    assert (
        sum(r.attempts_total for r in rows.values())
        == acks.agg(F.sum("attempts")).collect()[0][0]
    )
    # missing ledger dir → empty frame, same schema
    empty = monitor.sink_metrics(spark, str(tmp_path / "nope"))
    assert empty.count() == 0 and "retried" in empty.columns


def test_shard_map_random_reshard_property():
    """Any sequence of valid splits/merges keeps the open shards an
    exact partition of the 128-bit space, and routing by range always
    agrees with a linear scan over the open shards."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kinesis_producer_spark.streaming.kinesis_sink import (
        HASH_SPACE,
        ShardMap,
        partition_key_hash,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        ops=st.lists(st.tuples(st.integers(0, 1), st.randoms()), max_size=8),
        keys=st.lists(st.text(min_size=0, max_size=12), min_size=1, max_size=5),
    )
    def run(ops, keys):
        m = ShardMap.uniform(2)
        for kind, rnd in ops:
            opens = m.open_shards()
            if kind == 0:  # split a random open shard (skip width-1)
                s = rnd.choice(opens)
                if s.end > s.start:
                    m.split(
                        s.shard_id, rnd.randrange(s.start + 1, s.end + 1)
                    )
            else:  # merge a random adjacent open pair
                if len(opens) >= 2:
                    i = rnd.randrange(len(opens) - 1)
                    m.merge(opens[i].shard_id, opens[i + 1].shard_id)
        opens = m.open_shards()
        # exact partition
        assert opens[0].start == 0 and opens[-1].end == HASH_SPACE - 1
        for x, y in zip(opens, opens[1:]):
            assert x.end + 1 == y.start
        # routing == linear scan
        for k in keys:
            h = partition_key_hash(k)
            want = next(s.shard_id for s in opens if s.start <= h <= s.end)
            assert m.shard_for_key(k) == want

    run()


def test_streaming_hll_matches_batch(spark, tmp_path):
    """The HLL register grid is max-mergeable, so a streaming
    aggregation over micro-batches must equal the batch q222 grid over
    the same corpus — per-day streaming registers union by elementwise
    max into corpus distinct estimates."""
    from kinesis_producer_spark.operators.scale_ops import hll_bucket_rho

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    key = F.concat(F.lit("d:"), F.col("doc_id").cast("string"))
    batch = {
        r.bucket: r.max_rho
        for r in hll_bucket_rho(docs, key)
        .groupBy("bucket")
        .agg(F.max("r").alias("max_rho"))
        .collect()
    }

    src = tmp_path / "hll_docs"
    docs.select("doc_id").repartition(4).write.parquet(str(src))
    stream = (
        spark.readStream.schema("doc_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        hll_bucket_rho(stream, key)
        .groupBy("bucket")
        .agg(F.max("r").alias("max_rho"))
        .writeStream.format("memory")
        .queryName("hll_stream_t")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "hll_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    got = {
        r.bucket: r.max_rho for r in spark.sql("SELECT * FROM hll_stream_t").collect()
    }
    assert got == batch


def test_streaming_lsh_epoch_late_data_within_delay(spark, tmp_path):
    """Epochs arriving OUT OF ORDER but within the watermark delay are
    late-but-admissible: every pair still lands in its own epoch and
    the per-epoch batch equivalence holds (nothing expires while late
    data can still arrive)."""
    from kinesis_producer_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
        shingles,
    )
    from kinesis_producer_spark.streaming.lsh import streaming_lsh_candidates

    EPOCH_MS = 60_000
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    expected: set[tuple[int, int, int]] = set()
    for e in range(3):
        sub = docs.where(F.col("doc_id") % 3 == e)
        sig = sub.withColumn(
            "signature", minhash_signature(sub, shingles(F.col("text")), k=8)
        )
        for r in lsh_candidate_pairs(sig, band_size=2).collect():
            expected.add((e * EPOCH_MS, r.id_a, r.id_b))

    src = tmp_path / "late_docs"
    src.mkdir()
    stamped = docs.withColumn(
        "event_ts",
        F.timestamp_millis((F.col("doc_id") % 3) * F.lit(EPOCH_MS) + EPOCH_MS // 2),
    )
    sink = str(tmp_path / "late_pairs")
    ckpt = str(tmp_path / "late_ckpt")
    for e in (1, 0, 2):  # epoch 0 arrives AFTER epoch 1 — late, admissible
        part = tmp_path / f"late_{e}"
        stamped.where(F.col("doc_id") % 3 == e).coalesce(1).write.parquet(str(part))
        (pq,) = [p for p in part.iterdir() if p.name.endswith(".parquet")]
        pq.rename(src / f"e{e}.parquet")
        stream = (
            spark.readStream.schema("doc_id long, text string, event_ts timestamp")
            .parquet(str(src))
        )
        q = (
            streaming_lsh_candidates(
                stream,
                time_col="event_ts",
                epoch_ms=EPOCH_MS,
                watermark_delay="10 minutes",  # all three epochs admissible
            )
            .writeStream.foreachBatch(
                lambda df, _eid: df.write.mode("append").parquet(sink)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), f"epoch {e} run did not drain"

    got = {
        (r.epoch, r.id_a, r.id_b)
        for r in spark.read.parquet(sink)
        .select("epoch", "id_a", "id_b")
        .distinct()
        .collect()
    }
    assert got == expected, "late-but-admissible epochs must still pair in-epoch"


def test_limiter_and_transport_agree_on_shard_routing():
    """Round-5 review: the limiter's default prediction must use the
    SAME hash-range topology the transport routes by — a %-based
    prediction grouped traffic differently and misenforced quotas."""
    from kinesis_producer_spark.streaming.kinesis_sink import (
        RecordingTransport,
        ShardRateLimiter,
    )

    t = RecordingTransport(n_shards=4, fail_first_attempt_prefix="zz")
    lim = ShardRateLimiter(n_shards=4)
    for key in ("acoustic", "impact", "temperature", "visual", "a", "zz", "k9"):
        resp = t.put_records("s", [{"Data": b"x", "PartitionKey": key}])
        assert lim.shard_for(key) == resp["Records"][0]["ShardId"], key


def test_shard_map_custom_ids_never_collide_on_split():
    """Round-5 review: _seq seeded from len(shards) could regenerate an
    existing id for custom shard lists and silently overwrite."""
    from kinesis_producer_spark.streaming.kinesis_sink import HASH_SPACE, Shard, ShardMap

    m = ShardMap([Shard("shardId-000000000001", 0, HASH_SPACE - 1)])
    a, b = m.split("shardId-000000000001")
    assert a == "shardId-000000000002" and b == "shardId-000000000003"
    assert len(m.shards) == 3  # parent retained (closed), no overwrite
    assert not m.shards["shardId-000000000001"].open


def test_sink_metrics_replayed_epoch_does_not_double_count(spark, tmp_path):
    """Round-5 review: a crashed-then-replayed epoch leaves BOTH
    attempts' ack rows behind (the documented at-least-once tail), but
    the ledger must report only the replay's counts."""
    from kinesis_producer_spark.streaming import monitor
    from kinesis_producer_spark.streaming.kinesis_sink import (
        KinesisSink,
        RecordingTransport,
    )

    ack_path = str(tmp_path / "replay_acks")
    sink = KinesisSink("s", lambda: RecordingTransport(fail_first_attempt_prefix="zz"),
                       backoff_s=0.0)
    write = sink.foreach_batch_writer(ack_path=ack_path)
    batch = spark.createDataFrame(
        [(bytearray(b"r-%d" % i), f"k{i}") for i in range(40)],
        "data binary, partition_key string",
    )
    write(batch, 7)
    write(batch, 7)  # replay of the SAME epoch (no exactly-once marker)
    acks = spark.read.parquet(ack_path).where("epoch = 7")
    assert acks.count() == 80, "both attempts' acks remain (at-least-once tail)"
    m = {r.epoch: r for r in monitor.sink_metrics(spark, ack_path).collect()}
    assert m[7].sent == 40, "ledger must count ONE attempt, not both"
    assert m[7].attempts_total == 40


def test_exactly_once_empty_epoch_commits_zero_ledger_row(spark, tmp_path):
    """An epoch whose rows are all filtered out writes no epoch=N/ ack
    partition; it must still commit with an all-zero ledger row instead
    of failing — under exactly_once a failure re-raises, and every
    restart would replay the same epoch and fail again."""
    import json

    from kinesis_producer_spark.streaming.kinesis_sink import (
        KinesisSink,
        RecordingTransport,
    )

    src = str(tmp_path / "empty_src")
    ack_path = tmp_path / "empty_acks"
    ckpt = str(tmp_path / "empty_ckpt")
    spark.createDataFrame(
        [(bytearray(b"evt-%d" % i), f"k{i}") for i in range(16)],
        "data binary, partition_key string",
    ).coalesce(1).write.parquet(src)
    sink = KinesisSink("s", RecordingTransport, backoff_s=0.0)
    writer = sink.foreach_batch_writer(ack_path=str(ack_path), exactly_once=True)

    def run():
        stream = (
            spark.readStream.schema("data binary, partition_key string")
            .parquet(src)
            .where("partition_key = 'no-such-key'")
        )
        q = (
            stream.writeStream.foreachBatch(writer)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive and q.exception() is None

    run()
    run()  # restart from the checkpoint
    with open(ack_path / "_sink_metrics" / "epoch-0.json") as fh:
        row = json.load(fh)
    assert row == {
        "epoch": 0,
        **dict.fromkeys(
            "sent retried dead_lettered null_records attempts_total "
            "dead_throttle dead_internal dead_terminal".split(),
            0,
        ),
    }
    assert (ack_path / "_epoch_ledger" / "epoch-0").exists()
    assert not (ack_path / "epoch=0").exists()


def test_streaming_kmv_matches_batch_and_is_replay_idempotent(spark, tmp_path):
    """The third streaming-sketch contract (after CMS add-merge and HLL
    max-merge): per-segment KMV state holds exactly the k smallest
    hashes — O(k) per segment forever — and the final emission equals
    the batch kmv_partial_sketch; replaying a file changes nothing
    (set-union idempotence)."""
    import shutil

    from kinesis_producer_spark.operators.scale_ops import kmv_partial_sketch
    from kinesis_producer_spark.streaming.sketches import streaming_kmv

    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    d = e.select(
        F.col("event_type").alias("key"),
        F.md5(
            F.concat(F.lit("u:"), F.col("user_id").cast("string")).cast("binary")
        ).alias("h"),
    )
    # the batch build takes pre-distincted input (q145/q224 convention);
    # the streaming state dedupes by construction (set union)
    batch = {r[0]: list(r.ks) for r in kmv_partial_sketch(d.distinct(), "key").collect()}

    src = tmp_path / "kmv_src"
    d.repartition(4).write.parquet(str(src))
    sink = str(tmp_path / "kmv_sink")
    ckpt = str(tmp_path / "kmv_ckpt")

    def run():
        stream = (
            spark.readStream.schema("key string, h string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            streaming_kmv(stream)
            .writeStream.foreachBatch(
                lambda df, eid: df.withColumn("batch", F.lit(eid))
                .write.mode("append")
                .parquet(sink)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)

    run()

    def latest():
        rows = spark.read.parquet(sink).collect()
        out = {}
        for r in sorted(rows, key=lambda r: r.batch):
            out[r.key] = list(r.ks)
        return out

    assert latest() == batch, "final streaming sketch must equal the batch sketch"

    # replay: copy an already-processed file back in — the set-union
    # state absorbs the duplicates, sketches unchanged
    first = sorted(p for p in src.iterdir() if p.name.endswith(".parquet"))[0]
    shutil.copy(first, src / ("again-" + first.name))
    run()
    assert latest() == batch, "replayed file must not change any sketch"


def test_streaming_logbin_histogram_matches_batch(spark, tmp_path):
    """The quantile summary's histogram is count-mergeable, so a
    streaming aggregation over micro-batches equals the batch
    histogram — the fourth summary with a pinned streaming form."""
    from kinesis_producer_spark.operators.scale_ops import logbin_histogram

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    cents = li.select(
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint").alias("cents")
    )
    batch = {(r.d, r.p): r.cnt for r in logbin_histogram(cents).collect()}

    src = tmp_path / "hist_src"
    cents.repartition(4).write.parquet(str(src))
    stream = (
        spark.readStream.schema("cents long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        logbin_histogram(stream)
        .writeStream.format("memory")
        .queryName("hist_stream_t")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "hist_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    got = {
        (r.d, r.p): r.cnt for r in spark.sql("SELECT * FROM hist_stream_t").collect()
    }
    assert got == batch


def test_shard_routing_handles_unicode_and_empty_keys():
    """Partition keys are arbitrary unicode in the public API — hashing
    and range routing must handle them (md5 of the UTF-8 bytes)."""
    import hashlib

    from kinesis_producer_spark.streaming.kinesis_sink import (
        ShardMap,
        partition_key_hash,
    )

    m = ShardMap.uniform(3)
    for key in ("", "日本語キー", "clé-émoji-🎵", "a" * 256):
        h = partition_key_hash(key)
        assert h == int.from_bytes(hashlib.md5(key.encode()).digest(), "big")
        sid = m.shard_for_key(key)
        s = m.shards[sid]
        assert s.start <= h <= s.end


def test_ack_path_remote_scheme_rejected_and_file_scheme_stripped(spark, tmp_path):
    """The epoch marker and _sink_metrics ledger use local-FS atomics:
    a remote ack_path URI must be rejected up front (the parquet write
    would go remote while markers landed in a literal local 's3:' dir —
    a split ledger). file:// is local and is accepted (scheme stripped
    so os.* and Spark agree on the path)."""
    import pytest as _pytest

    from kinesis_producer_spark.streaming.kinesis_sink import (
        KinesisSink,
        RecordingTransport,
    )

    sink = KinesisSink("s", RecordingTransport, max_retries=3, backoff_s=0.0)
    for bad in ("s3://bucket/acks", "hdfs://nn:8020/acks", "s3a://b/x"):
        with _pytest.raises(ValueError, match="scheme"):
            sink.foreach_batch_writer(ack_path=bad)

    ack_dir = tmp_path / "file_scheme_acks"
    write = sink.foreach_batch_writer(ack_path=f"file://{ack_dir}")
    batch = spark.createDataFrame(
        [(bytearray(b"evt-%d" % i), f"k{i}") for i in range(8)],
        "data binary, partition_key string",
    )
    write(batch, 0)
    acks = spark.read.option("basePath", str(ack_dir)).parquet(str(ack_dir / "epoch=0"))
    assert acks.where("status = 'ok'").count() == 8
    assert (ack_dir / "_sink_metrics" / "epoch-0.json").exists()


def test_mixed_legacy_ack_layout_still_writes_metrics(spark, tmp_path):
    """A pre-round-5 ack_path holds flat unpartitioned parquet at the
    root; round-5+ appends epoch=N/ partition dirs next to them. The
    sink must keep appending to such a directory and writing its
    per-epoch ledger row, and the new epoch's partition must read clean
    with basePath (a plain root scan over the mixed layout fails with
    conflicting directory structures)."""
    from kinesis_producer_spark.streaming import monitor
    from kinesis_producer_spark.streaming.kinesis_sink import (
        KinesisSink,
        RecordingTransport,
    )

    ack_dir = tmp_path / "legacy_acks"
    # legacy flat layout: ACK_SCHEMA columns only, files at the root
    legacy = spark.createDataFrame(
        [("k0", "md5-0", "ok", 1, None, "seq-0", "shardId-000000000000")],
        "partition_key string, data_md5 string, status string, attempts int, "
        "error_code string, sequence_number string, shard_id string",
    )
    legacy.coalesce(1).write.parquet(str(tmp_path / "legacy_stage"))
    ack_dir.mkdir()
    for p in (tmp_path / "legacy_stage").iterdir():
        if p.name.endswith(".parquet"):
            p.rename(ack_dir / p.name)

    sink = KinesisSink("s", RecordingTransport, max_retries=3, backoff_s=0.0)
    write = sink.foreach_batch_writer(ack_path=str(ack_dir))
    batch = spark.createDataFrame(
        [(bytearray(b"new-%d" % i), f"n{i}") for i in range(16)],
        "data binary, partition_key string",
    )
    write(batch, 7)  # must not trip over the legacy root files

    rows = {r.epoch: r for r in monitor.sink_metrics(spark, str(ack_dir)).collect()}
    assert rows[7].sent == 16
    # and the epoch partition itself reads clean with basePath
    ep = spark.read.option("basePath", str(ack_dir)).parquet(str(ack_dir / "epoch=7"))
    assert ep.where("status = 'ok'").count() == 16


def test_shard_map_open_shards_cache_tracks_resharding():
    """open_shards() is cached (routing runs per record); split/merge
    must invalidate so routing NEVER sees a stale topology, and the
    cached list must be identical to a fresh rebuild after any
    sequence of reshards."""
    from kinesis_producer_spark.streaming.kinesis_sink import ShardMap

    m = ShardMap.uniform(4)
    first = m.open_shards()
    assert m.open_shards() is first, "repeat call must hit the cache"

    a, b = m.split(first[0].shard_id)
    after_split = m.open_shards()
    assert after_split is not first
    ids = [s.shard_id for s in after_split]
    assert a in ids and b in ids and first[0].shard_id not in ids

    child = m.merge(a, b)
    after_merge = m.open_shards()
    assert child in [s.shard_id for s in after_merge]
    # cache equals a from-scratch rebuild
    rebuilt = sorted((s for s in m.shards.values() if s.open), key=lambda s: s.start)
    assert [s.shard_id for s in after_merge] == [s.shard_id for s in rebuilt]
    # routing agrees with a linear scan over the rebuilt list
    for key in ("k1", "k2", "🎵", ""):
        sid = m.shard_for_key(key)
        from kinesis_producer_spark.streaming.kinesis_sink import partition_key_hash

        h = partition_key_hash(key)
        (expect,) = [s.shard_id for s in rebuilt if s.start <= h <= s.end]
        assert sid == expect


def test_retry_policy_terminal_validation_never_retried():
    """ValidationException is deterministic: the same record fails the
    same way forever. Policy: dead-letter on FIRST sight, zero
    re-sends — retrying would burn quota for nothing."""
    from kinesis_producer_spark.streaming.kinesis_sink import (
        KinesisSink,
        RecordingTransport,
    )

    t = RecordingTransport(error_schedule=lambda md5, n: "ValidationException")
    sink = KinesisSink("s", lambda: t, max_retries=3, backoff_s=0.0)
    acks = sink.send_partition(_records(5))
    assert all(a["status"] == "dead_letter" for a in acks)
    assert all(a["error_code"] == "ValidationException" for a in acks)
    assert all(a["attempts"] == 1 for a in acks), "terminal class must not retry"
    assert len(t.calls) == 1, "no second put_records call for terminal failures"


def test_retry_policy_internal_error_retries_without_backoff():
    """InternalFailure is transient and quota-free: retry immediately —
    the exponential backoff must NOT be slept when only immediate-class
    failures are pending."""
    from kinesis_producer_spark.streaming.kinesis_sink import (
        KinesisSink,
        RecordingTransport,
    )

    sleeps: list[float] = []
    t = RecordingTransport(
        error_schedule=lambda md5, n: "InternalFailure" if n <= 2 else None
    )
    sink = KinesisSink("s", lambda: t, max_retries=3, backoff_s=10.0)

    import kinesis_producer_spark.streaming.kinesis_sink as ks

    real_sleep = ks.time.sleep
    ks.time.sleep = lambda s: sleeps.append(s)
    try:
        # distinct payloads: the mock's attempt counter is md5-keyed
        acks = sink.send_partition(
            [{"Data": b"rec-%d" % i, "PartitionKey": "k"} for i in range(4)]
        )
    finally:
        ks.time.sleep = real_sleep
    assert all(a["status"] == "ok" for a in acks)
    assert all(a["attempts"] == 3 for a in acks)  # fail, fail, ok
    assert sleeps == [], "immediate-class retries must not back off"


def test_retry_policy_throttle_backs_off_and_mixed_classes_split():
    """A mixed failed set: throttled records wait out the backoff and
    retry; validation records dead-letter immediately; internal errors
    retry without adding sleeps beyond the throttle's own."""
    import hashlib as _hl

    from kinesis_producer_spark.streaming.kinesis_sink import (
        KinesisSink,
        RecordingTransport,
    )

    recs = [
        {"Data": b"throttle-me", "PartitionKey": "a"},
        {"Data": b"validate-me", "PartitionKey": "b"},
        {"Data": b"internal-me", "PartitionKey": "c"},
        {"Data": b"fine", "PartitionKey": "d"},
    ]
    md5s = {bytes(r["Data"]): _hl.md5(r["Data"]).hexdigest() for r in recs}

    def schedule(md5, n):
        if md5 == md5s[b"throttle-me"] and n == 1:
            return "ProvisionedThroughputExceededException"
        if md5 == md5s[b"validate-me"]:
            return "ValidationException"
        if md5 == md5s[b"internal-me"] and n == 1:
            return "InternalFailure"
        return None

    sleeps: list[float] = []
    t = RecordingTransport(error_schedule=schedule)
    sink = KinesisSink("s", lambda: t, max_retries=3, backoff_s=0.5)

    import kinesis_producer_spark.streaming.kinesis_sink as ks

    real_sleep = ks.time.sleep
    ks.time.sleep = lambda s: sleeps.append(s)
    try:
        acks = {a["data_md5"]: a for a in sink.send_partition(recs)}
    finally:
        ks.time.sleep = real_sleep

    assert acks[md5s[b"throttle-me"]]["status"] == "ok"
    assert acks[md5s[b"throttle-me"]]["attempts"] == 2
    assert acks[md5s[b"internal-me"]]["status"] == "ok"
    assert acks[md5s[b"internal-me"]]["attempts"] == 2
    assert acks[md5s[b"validate-me"]]["status"] == "dead_letter"
    assert acks[md5s[b"validate-me"]]["attempts"] == 1
    assert acks[md5s[b"fine"]]["status"] == "ok" and acks[md5s[b"fine"]]["attempts"] == 1
    # one backoff sleep, caused by the throttle class alone
    assert sleeps == [0.5]
    # the validation record appears in exactly one put_records call
    n_validate_sends = sum(
        1 for call in t.calls for r in call if bytes(r["Data"]) == b"validate-me"
    )
    assert n_validate_sends == 1


def test_sink_metrics_ledger_splits_dead_letters_by_class(
    spark, tmp_path, count_jobs, sink_side
):
    """The per-epoch ledger splits dead letters into throttle /
    internal / terminal classes (plus the existing NullRecord count),
    and is counted where the acks are written, from the driver or on
    executors: the epoch is one Spark job, with no re-read of the acks
    it just wrote, and the ledger row is the same bytes either way."""
    from kinesis_producer_spark.streaming import monitor
    from kinesis_producer_spark.streaming.kinesis_sink import (
        KinesisSink,
        RecordingTransport,
    )

    def schedule(md5, n):
        # route by first hex digit: 0-3 throttle forever, 4-7 internal
        # forever, 8-9 validation; a-f succeed
        d = md5[0]
        if d in "0123":
            return "ProvisionedThroughputExceededException"
        if d in "4567":
            return "InternalFailure"
        if d in "89":
            return "ValidationException"
        return None

    ack_path = str(tmp_path / "class_acks")
    sink = KinesisSink(
        "s", lambda: RecordingTransport(error_schedule=schedule), max_retries=1, backoff_s=0.0
    )
    write = sink.foreach_batch_writer(ack_path=ack_path)
    spark.createDataFrame(
        [(bytearray(b"evt-%d" % i), f"k{i}") for i in range(64)]
        + [(None, "nullkey")],
        "data binary, partition_key string",
    ).write.parquet(str(tmp_path / "class_src"))
    # a file scan carries a size estimate, so it takes either side
    batch = spark.read.parquet(str(tmp_path / "class_src"))
    _, jobs = count_jobs(lambda: write(batch, 0))
    assert jobs == 1
    # the exact ledger row for this input: monitor readers parse these bytes
    assert (tmp_path / "class_acks" / "_sink_metrics" / "epoch-0.json").read_text() == (
        '{"epoch": 0, "sent": 24, "retried": 0, "dead_lettered": 41, '
        '"null_records": 1, "attempts_total": 96, "dead_throttle": 10, '
        '"dead_internal": 22, "dead_terminal": 8}'
    )
    (m,) = monitor.sink_metrics(spark, ack_path).collect()
    acks = spark.read.option("basePath", ack_path).parquet(f"{ack_path}/epoch=0")
    by_code = {
        r["error_code"]: r["n"]
        for r in acks.where("status = 'dead_letter'").groupBy("error_code").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert m.dead_throttle == by_code.get("ProvisionedThroughputExceededException", 0)
    assert m.dead_internal == by_code.get("InternalFailure", 0)
    assert m.dead_terminal == by_code.get("ValidationException", 0)
    assert m.null_records == 1
    assert (
        m.dead_lettered
        == m.dead_throttle + m.dead_internal + m.dead_terminal + m.null_records
    )
    assert m.dead_throttle > 0 and m.dead_internal > 0 and m.dead_terminal > 0
    # terminal never retried; throttle exhausted initial + 1 retry
    term = acks.where("error_code = 'ValidationException'")
    assert term.agg(F.max("attempts")).collect()[0][0] == 1
    thr = acks.where("error_code = 'ProvisionedThroughputExceededException'")
    assert thr.agg(F.min("attempts")).collect()[0][0] == 2


def test_streaming_substring_marks_canonical_survives_batches(spark, tmp_path):
    """First-arrival-wins across micro-batches: a passage ingested in
    batch 1 stays canonical when batch 2 repeats it — ALL of batch 2's
    copies are marked even where a single-batch (lexicographic) run
    would have picked a batch-2 doc as canonical."""
    from kinesis_producer_spark.streaming.substring import (
        streaming_duplicate_marks,
    )

    n = 5
    passage = [f"p{i}" for i in range(6)]
    # batch 1: doc 50 (HIGH id) carries the passage first
    b1 = {50: [f"a{i}" for i in range(3)] + passage}
    # batch 2: docs 1 and 2 (LOW ids) repeat it — lexicographic
    # tie-break would crown doc 1; arrival order must crown doc 50
    b2 = {
        1: passage + [f"b{i}" for i in range(4)],
        2: [f"c{i}" for i in range(2)] + passage,
    }
    src = tmp_path / "ss_docs"
    src.mkdir()
    sink = str(tmp_path / "ss_marks")
    ckpt = str(tmp_path / "ss_ckpt")

    def add_and_run(batch, tag):
        part = tmp_path / f"stage_{tag}"
        spark.createDataFrame(
            [(k, " ".join(v)) for k, v in batch.items()], "doc_id long, text string"
        ).coalesce(1).write.parquet(str(part))
        (pq,) = [p for p in part.iterdir() if p.name.endswith(".parquet")]
        pq.rename(src / f"{tag}.parquet")
        stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
        q = (
            streaming_duplicate_marks(stream, n=n)
            .writeStream.foreachBatch(
                lambda df, _eid: df.write.mode("append").parquet(sink)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), f"batch {tag} did not drain"

    add_and_run(b1, "b1")
    assert not os.path.exists(sink) or not [
        f for f in os.listdir(sink) if f.startswith("part-") and os.path.getsize(os.path.join(sink, f)) > 0
    ] or spark.read.parquet(sink).count() == 0, "batch 1 alone has no duplicates"
    add_and_run(b2, "b2")

    got = {
        (r.doc_id, r.pos) for r in spark.read.parquet(sink).distinct().collect()
    }
    # every gram of the passage in docs 1 and 2 is marked; doc 50 never
    want = {(1, p) for p in range(0, 2)} | {(2, p) for p in range(2, 4)}
    assert got == want, (sorted(got), sorted(want))
    assert not any(d == 50 for d, _ in got), "batch-1 canonical must survive"


def test_streaming_substring_epoch_aging_bounds_state(spark, tmp_path):
    """Epoch-keyed gram state: a passage duplicated WITHIN an epoch
    marks its later copies; the same passage re-arriving in a LATER
    epoch is fresh (its first copy unmarked — epoch-scoped dedup), and
    once the watermark passes an epoch's end its gram state is REMOVED
    from the store."""
    from pyspark.sql import functions as F  # noqa: F811

    from kinesis_producer_spark.streaming.substring import (
        streaming_duplicate_marks,
    )

    EPOCH_MS = 60_000
    n = 5
    passage = [f"q{i}" for i in range(5)]  # exactly one gram
    epochs = {
        0: {10: passage + ["x0"], 11: ["y0"] + passage},  # dup within epoch 0
        1: {20: passage + ["x1"]},  # re-arrival in epoch 1: fresh
        2: {30: ["z0", "z1", "z2", "z3", "z4", "z5"]},  # advances watermark
    }
    src = tmp_path / "ep_docs"
    src.mkdir()
    sink = str(tmp_path / "ep_marks")
    ckpt = str(tmp_path / "ep_ckpt")
    progresses = []
    for e, docs in epochs.items():
        part = tmp_path / f"ep_stage_{e}"
        rows = [
            (k, " ".join(v), (e * EPOCH_MS + EPOCH_MS // 2) / 1000.0)
            for k, v in docs.items()
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string, secs double")
        df.select(
            "doc_id", "text", F.timestamp_seconds("secs").alias("event_ts")
        ).coalesce(1).write.parquet(str(part))
        (pq,) = [p for p in part.iterdir() if p.name.endswith(".parquet")]
        pq.rename(src / f"e{e}.parquet")
        stream = (
            spark.readStream.schema("doc_id long, text string, event_ts timestamp")
            .parquet(str(src))
        )
        q = (
            streaming_duplicate_marks(
                stream, n=n, time_col="event_ts", epoch_ms=EPOCH_MS
            )
            .writeStream.foreachBatch(
                lambda df, _eid: df.write.mode("append").parquet(sink)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), f"epoch {e} did not drain"
        progresses.extend(p for p in q.recentProgress if p["stateOperators"])

    got = {
        (r.epoch, r.doc_id, r.pos)
        for r in spark.read.parquet(sink).distinct().collect()
    }
    # epoch 0: doc 11's copy (pos 1) marked, doc 10 canonical;
    # epoch 1: doc 20's copy is that epoch's first — unmarked
    assert got == {(0, 11, 1)}, sorted(got)

    # state-store boundedness: after epoch 2's file the watermark
    # (150000) is past the ends of epochs 0 and 1, so only epoch 2's
    # grams remain. grams per doc: len(tokens) - 4
    def n_grams(docs):
        return len(
            {
                tuple(toks[i : i + n])
                for toks in docs.values()
                for i in range(len(toks) - n + 1)
            }
        )

    removed = sum(p["stateOperators"][0]["numRowsRemoved"] for p in progresses)
    final_total = progresses[-1]["stateOperators"][0]["numRowsTotal"]
    assert removed == n_grams(epochs[0]) + n_grams(epochs[1]), removed
    assert final_total == n_grams(epochs[2]), final_total


def test_streaming_semantic_first_arrival_residency(spark, tmp_path):
    """Streaming SemDeDup residency is first-ARRIVAL: a high-id vector
    ingested in batch 1 stays resident, so batch 2's low-id copies are
    dropped against it — where the batch (lexicographic) run would
    have kept vec 1. dup_of is the smallest matching resident at
    arrival time: vec 2 sees residents {50, 1} and reports 1."""
    from kinesis_producer_spark.streaming.semantic import (
        streaming_semantic_keep_list,
    )

    base = [0.5] * 8  # first 3 dims positive → cell 7 at bits=3
    b1 = {50: base}
    b2 = {1: base, 2: base}
    src = tmp_path / "sd_vecs"
    src.mkdir()
    sink = str(tmp_path / "sd_keep")
    ckpt = str(tmp_path / "sd_ckpt")

    def add_and_run(batch, tag):
        part = tmp_path / f"sd_stage_{tag}"
        spark.createDataFrame(
            [(k, v) for k, v in batch.items()], "vec_id long, embedding array<float>"
        ).coalesce(1).write.parquet(str(part))
        (pq,) = [p for p in part.iterdir() if p.name.endswith(".parquet")]
        pq.rename(src / f"{tag}.parquet")
        stream = spark.readStream.schema("vec_id long, embedding array<float>").parquet(
            str(src)
        )
        q = (
            streaming_semantic_keep_list(stream, bits=3, threshold_micro=300_000)
            .writeStream.foreachBatch(
                lambda df, _eid: df.write.mode("append").parquet(sink)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), f"batch {tag} did not drain"

    add_and_run(b1, "b1")
    add_and_run(b2, "b2")
    got = {
        r.vec_id: (r.kept, r.dup_of)
        for r in spark.read.parquet(sink).distinct().collect()
    }
    assert got == {50: (1, -1), 1: (0, 50), 2: (0, 1)}, got


def test_streaming_semantic_epoch_aging_bounds_state(spark, tmp_path):
    """Epoch-keyed cell residency: a near-dup WITHIN an epoch is
    dropped; the same vector re-arriving in a LATER epoch is fresh
    (epoch-scoped dedup); once the watermark passes an epoch's end its
    cell state is REMOVED from the store."""
    from pyspark.sql import functions as F  # noqa: F811

    from kinesis_producer_spark.streaming.semantic import (
        streaming_semantic_keep_list,
    )

    EPOCH_MS = 60_000
    base = [0.5] * 8  # cell 7
    other = [-0.5] * 8  # cell 0
    epochs = {
        0: {10: base, 11: base},  # near-dup within epoch 0
        1: {20: base},  # re-arrival in epoch 1: fresh
        2: {30: other},  # advances watermark past epochs 0 and 1
    }
    src = tmp_path / "sde_vecs"
    src.mkdir()
    sink = str(tmp_path / "sde_keep")
    ckpt = str(tmp_path / "sde_ckpt")
    progresses = []
    for e, vecs in epochs.items():
        part = tmp_path / f"sde_stage_{e}"
        rows = [
            (k, v, (e * EPOCH_MS + EPOCH_MS // 2) / 1000.0) for k, v in vecs.items()
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, secs double")
        df.select(
            "vec_id", "embedding", F.timestamp_seconds("secs").alias("event_ts")
        ).coalesce(1).write.parquet(str(part))
        (pq,) = [p for p in part.iterdir() if p.name.endswith(".parquet")]
        pq.rename(src / f"e{e}.parquet")
        stream = spark.readStream.schema(
            "vec_id long, embedding array<float>, event_ts timestamp"
        ).parquet(str(src))
        q = (
            streaming_semantic_keep_list(
                stream, bits=3, time_col="event_ts", epoch_ms=EPOCH_MS
            )
            .writeStream.foreachBatch(
                lambda df, _eid: df.write.mode("append").parquet(sink)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), f"epoch {e} did not drain"
        progresses.extend(p for p in q.recentProgress if p["stateOperators"])

    got = {
        (r.epoch, r.vec_id): (r.kept, r.dup_of)
        for r in spark.read.parquet(sink).distinct().collect()
    }
    assert got == {
        (0, 10): (1, -1),
        (0, 11): (0, 10),
        (EPOCH_MS, 20): (1, -1),
        (2 * EPOCH_MS, 30): (1, -1),
    }, got

    # one state row per live (epoch, cell) group: epochs 0 and 1 each
    # held one cell and are evicted; epoch 2's single cell remains
    removed = sum(p["stateOperators"][0]["numRowsRemoved"] for p in progresses)
    final_total = progresses[-1]["stateOperators"][0]["numRowsTotal"]
    assert removed == 2, removed
    assert final_total == 1, final_total


def test_streaming_token_budget_carries_across_batches(spark, tmp_path):
    """Per-source budget state survives micro-batches: the counter a
    batch leaves behind gates the next batch's arrivals, the straddler
    crossing the boundary is admitted, and the first fully-over
    arrival is rejected. Replayed doc_ids are never re-counted."""
    from kinesis_producer_spark.streaming.budget import streaming_token_budget

    src = tmp_path / "tb_docs"
    src.mkdir()
    sink = str(tmp_path / "tb_out")
    ckpt = str(tmp_path / "tb_ckpt")

    def add_and_run(rows, tag):
        part = tmp_path / f"tb_stage_{tag}"
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).coalesce(1).write.parquet(str(part))
        (pq,) = [p for p in part.iterdir() if p.name.endswith(".parquet")]
        pq.rename(src / f"{tag}.parquet")
        stream = (
            spark.readStream.schema("doc_id long, text string, source string")
            .parquet(str(src))
        )
        q = (
            streaming_token_budget(stream, token_budget=10)
            .writeStream.foreachBatch(
                lambda df, _eid: df.write.mode("append").parquet(sink)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), f"batch {tag} did not drain"

    tok = lambda n: " ".join(f"w{i}" for i in range(n))  # noqa: E731
    # batch 1: source s fills 9 of 10; source t independent
    add_and_run([(1, tok(4), "s"), (2, tok(5), "s"), (10, tok(9), "t")], "b1")
    # batch 2: doc 3 straddles (cum_before 9 < 10, admitted), doc 4 is
    # over (cum_before 12, rejected); t's doc 11 straddles at 9
    add_and_run([(3, tok(3), "s"), (4, tok(2), "s"), (11, tok(4), "t")], "b2")
    # batch 3: pure replay of batch 2's ids — nothing new emitted
    add_and_run([(3, tok(3), "s"), (4, tok(2), "s")], "b3")

    got = {
        r.doc_id: (r.cum_before, r.admitted)
        for r in spark.read.parquet(sink).distinct().collect()
    }
    assert got == {
        1: (0, 1),
        2: (4, 1),
        3: (9, 1),   # straddler admitted across the batch boundary
        4: (12, 0),  # gate closed, admitted-only ledger frozen over budget
        10: (0, 1),
        11: (9, 1),  # per-source isolation: t has its own counter
    }, got
    # replay emitted no extra rows (update-mode idempotence)
    n_rows = spark.read.parquet(sink).count()
    assert n_rows == 6, n_rows


def test_streaming_token_budget_ttl_bounds_rejected_ids(spark, tmp_path):
    """seen_ttl_ms mode: admitted replays are NEVER re-emitted (their
    id set is budget-bounded and kept), a rejected replay within the
    TTL is suppressed, and a rejected replay AFTER its id aged out is
    re-emitted byte-identical — cum is frozen after the first
    rejection, so the duplicate row carries the same verdict."""
    from datetime import datetime, timezone

    from kinesis_producer_spark.streaming.budget import streaming_token_budget

    src = tmp_path / "ttl_docs"
    src.mkdir()
    sink = str(tmp_path / "ttl_out")
    ckpt = str(tmp_path / "ttl_ckpt")
    ts = lambda s: datetime.fromtimestamp(s, tz=timezone.utc)  # noqa: E731
    tok = lambda n: " ".join(f"w{i}" for i in range(n))  # noqa: E731

    def add_and_run(rows, tag):
        part = tmp_path / f"ttl_stage_{tag}"
        spark.createDataFrame(
            rows, "doc_id long, text string, source string, ts timestamp"
        ).coalesce(1).write.parquet(str(part))
        (pq,) = [p for p in part.iterdir() if p.name.endswith(".parquet")]
        pq.rename(src / f"{tag}.parquet")
        stream = spark.readStream.schema(
            "doc_id long, text string, source string, ts timestamp"
        ).parquet(str(src))
        q = (
            streaming_token_budget(
                stream,
                token_budget=10,
                time_col="ts",
                seen_ttl_ms=1_000_000,  # 1000 s replay horizon
            )
            .writeStream.foreachBatch(
                lambda df, _eid: df.write.mode("append").parquet(sink)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), f"batch {tag} did not drain"

    # b1: fill 9 of 10; b2: straddler 3 admitted, 4 rejected at t=2000s
    add_and_run([(1, tok(4), "s", ts(1000)), (2, tok(5), "s", ts(1000))], "b1")
    add_and_run([(3, tok(3), "s", ts(2000)), (4, tok(2), "s", ts(2000))], "b2")
    # b3 pushes the watermark to 4000s (doc 5 is new: emitted, rejected)
    add_and_run([(5, tok(1), "s", ts(4000))], "b3")
    # b4: doc 4's rejection aged out (2000s + 1000s <= wm 4000s) →
    # re-emitted identical; doc 3 (admitted) and doc 5 (within TTL)
    # stay suppressed
    add_and_run(
        [(3, tok(3), "s", ts(5000)), (4, tok(2), "s", ts(5000)),
         (5, tok(1), "s", ts(5000))],
        "b4",
    )

    raw = spark.read.parquet(sink).collect()
    got = {r.doc_id: (r.cum_before, r.admitted) for r in raw}
    assert got == {
        1: (0, 1),
        2: (4, 1),
        3: (9, 1),   # straddler admitted, replay suppressed forever
        4: (12, 0),  # frozen verdict — re-emission is byte-identical
        5: (12, 0),
    }, got
    from collections import Counter

    counts = Counter(r.doc_id for r in raw)
    assert counts == {1: 1, 2: 1, 3: 1, 4: 2, 5: 1}, counts


def test_streaming_token_budget_contradictory_flags_rejected(spark):
    """seen_ttl_ms with track_ids=False is a contract error (the TTL
    discipline IS id tracking) — rejected loudly instead of silently
    tracking ids the caller asked not to keep."""
    import pytest

    from kinesis_producer_spark.streaming.budget import streaming_token_budget

    stream = (
        spark.readStream.format("rate").load()
        .selectExpr(
            "value AS doc_id", "'w' AS text", "'s' AS source",
            "timestamp AS ts",
        )
    )
    with pytest.raises(ValueError, match="contradictory"):
        streaming_token_budget(
            stream, token_budget=10, track_ids=False,
            time_col="ts", seen_ttl_ms=1000,
        )


def test_streaming_token_budget_max_admitted_ids_guard(spark, tmp_path):
    """Degenerate 1-token corpus: the admitted-id bound
    (budget/min_doc_tokens) degrades to the budget itself, so
    max_admitted_ids must fail LOUDLY (sizing formula in the message)
    before the single state row outgrows provisioning — and a corpus
    within the bound passes untouched."""
    from datetime import datetime, timezone

    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from kinesis_producer_spark.streaming.budget import streaming_token_budget

    t0 = datetime.fromtimestamp(5000, tz=timezone.utc)
    # 12 one-token docs against a 10-token budget: 10 admitted — more
    # than the provisioned max_admitted_ids=4
    rows = [(i, "w", "s", t0) for i in range(12)]

    def run(max_ids, tag):
        src = tmp_path / f"guard_src_{tag}"
        src.mkdir()
        part = tmp_path / f"guard_stage_{tag}"
        spark.createDataFrame(
            rows, "doc_id long, text string, source string, ts timestamp"
        ).coalesce(1).write.parquet(str(part))
        (pq,) = [p for p in part.iterdir() if p.name.endswith(".parquet")]
        pq.rename(src / "b1.parquet")
        stream = spark.readStream.schema(
            "doc_id long, text string, source string, ts timestamp"
        ).parquet(str(src))
        sink = str(tmp_path / f"guard_out_{tag}")
        q = (
            streaming_token_budget(
                stream, token_budget=10, time_col="ts",
                seen_ttl_ms=1_000_000, max_admitted_ids=max_ids,
            )
            .writeStream.foreachBatch(
                lambda df, _eid, s=sink: df.write.mode("append").parquet(s)
            )
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / f"guard_ckpt_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return sink

    with pytest.raises(StreamingQueryException, match="max_admitted_ids"):
        run(4, "trip")
    ok = spark.read.parquet(run(100, "pass"))
    assert ok.filter("admitted = 1").count() == 10


def test_streaming_substring_bucketed_matches_per_gram(spark, tmp_path):
    """The bucketed state packing (n_buckets) must reproduce the
    per-gram path exactly: same canonical-survives-batches carry, same
    marks — buckets are a Python-call packing unit, not a semantics
    change."""
    from kinesis_producer_spark.streaming.substring import (
        streaming_duplicate_marks,
    )

    n = 5
    passage = [f"p{i}" for i in range(6)]
    b1 = {50: [f"a{i}" for i in range(3)] + passage}
    b2 = {
        1: passage + [f"b{i}" for i in range(4)],
        2: [f"c{i}" for i in range(2)] + passage,
    }
    src = tmp_path / "bk_docs"
    src.mkdir()
    sink = str(tmp_path / "bk_marks")
    ckpt = str(tmp_path / "bk_ckpt")

    def add_and_run(batch, tag):
        part = tmp_path / f"bk_stage_{tag}"
        spark.createDataFrame(
            [(k, " ".join(v)) for k, v in batch.items()], "doc_id long, text string"
        ).coalesce(1).write.parquet(str(part))
        (pq,) = [p for p in part.iterdir() if p.name.endswith(".parquet")]
        pq.rename(src / f"{tag}.parquet")
        stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
        q = (
            streaming_duplicate_marks(stream, n=n, n_buckets=7)
            .writeStream.foreachBatch(
                lambda df, _eid: df.write.mode("append").parquet(sink)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), f"batch {tag} did not drain"

    add_and_run(b1, "b1")
    add_and_run(b2, "b2")
    got = {
        (r.doc_id, r.pos) for r in spark.read.parquet(sink).distinct().collect()
    }
    # identical to test_streaming_substring_marks_canonical_survives_batches
    want = {(1, p) for p in range(0, 2)} | {(2, p) for p in range(2, 4)}
    assert got == want, (sorted(got), sorted(want))


def test_streaming_lsh_packed_matches_default(spark, tmp_path):
    """Packed super-bucket state must emit exactly the default path's
    candidate pairs — packing is a Python-call unit, not semantics."""
    from kinesis_producer_spark.streaming.lsh import streaming_lsh_candidates

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),     # near-dup of 1
        (3, "one two three four five six seven"),
        (4, "one two three four five six seven eight"), # near-dup of 3
        (5, "totally different text with no overlap at all"),
    ]
    outs = {}
    for tag, nb in (("default", None), ("packed", 7)):
        src = tmp_path / f"lshp_{tag}"
        src.mkdir()
        part = tmp_path / f"lshp_stage_{tag}"
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(str(part))
        (pq,) = [p for p in part.iterdir() if p.name.endswith(".parquet")]
        pq.rename(src / "b1.parquet")
        stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
        sink = str(tmp_path / f"lshp_out_{tag}")
        q = (
            streaming_lsh_candidates(stream, n_buckets=nb)
            .writeStream.foreachBatch(
                lambda df, _eid, s=sink: df.write.mode("append").parquet(s)
            )
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / f"lshp_ckpt_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), tag
        outs[tag] = {
            (r.id_a, r.id_b) for r in spark.read.parquet(sink).distinct().collect()
        }
    assert outs["packed"] == outs["default"] and outs["default"], outs


def test_streaming_token_budget_random_splits_match_closed_form(spark, tmp_path):
    """Over randomized corpora split into randomized micro-batch
    sequences (doc_id-ordered arrival within each batch), the
    streaming admission ledger must equal the batch closed form —
    cumulative ADMITTED tokens per source in doc_id order with the
    straddler policy — for every document. Three fixed seeds."""
    import random

    from kinesis_producer_spark.streaming.budget import streaming_token_budget

    BUDGET = 25
    for seed in (11, 23, 47):
        rng = random.Random(seed)
        docs = []
        for did in range(rng.randint(6, 14)):
            src = rng.choice(["a", "b", "c"])
            n = rng.randint(1, 12)
            docs.append((did, " ".join(f"w{j}" for j in range(n)), src, n))
        # batch model: admitted-only cum per source in doc_id order
        model = {}
        cum: dict = {}
        for did, _t, src, n in docs:  # already doc_id-ordered
            c = cum.get(src, 0)
            adm = 1 if c < BUDGET else 0
            model[did] = (c, adm)
            if adm:
                cum[src] = c + n
        # random contiguous batch split — ordered arrival across
        # batches preserves doc_id order globally
        cuts = sorted(rng.sample(range(1, len(docs)), rng.randint(1, 3)))
        batches, prev = [], 0
        for c in cuts + [len(docs)]:
            batches.append(docs[prev:c]); prev = c

        src_dir = tmp_path / f"rb_docs_{seed}"
        src_dir.mkdir()
        sink = str(tmp_path / f"rb_out_{seed}")
        ckpt = str(tmp_path / f"rb_ckpt_{seed}")
        for bi, batch in enumerate(batches):
            part = tmp_path / f"rb_stage_{seed}_{bi}"
            spark.createDataFrame(
                [(d, t, s) for d, t, s, _ in batch],
                "doc_id long, text string, source string",
            ).coalesce(1).write.parquet(str(part))
            (pq,) = [p for p in part.iterdir() if p.name.endswith(".parquet")]
            pq.rename(src_dir / f"b{bi}.parquet")
            stream = (
                spark.readStream.schema("doc_id long, text string, source string")
                .parquet(str(src_dir))
            )
            q = (
                streaming_token_budget(stream, token_budget=BUDGET)
                .writeStream.foreachBatch(
                    lambda df, _eid, s=sink: df.write.mode("append").parquet(s)
                )
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(180), (seed, bi)
        got = {
            r.doc_id: (r.cum_before, r.admitted)
            for r in spark.read.parquet(sink).distinct().collect()
        }
        assert got == model, (seed, got, model)


def test_streaming_substring_bucketed_random_splits_match_model(spark, tmp_path):
    """Bucketed gram state over randomized dense-duplicate corpora and
    randomized batch splits: the distinct mark set equals the python
    first-arrival keep-first model (canonical = first batch to carry
    the gram, lexicographic (doc_id, pos) within that batch)."""
    import random

    from kinesis_producer_spark.streaming.substring import (
        streaming_duplicate_marks,
    )

    N = 3
    for seed in (5, 19):
        rng = random.Random(seed)
        docs = []
        for did in range(rng.randint(4, 7)):
            toks = [rng.choice("xyz") for _ in range(rng.randint(N, 9))]
            docs.append((did, toks))
        cuts = sorted(rng.sample(range(1, len(docs)), rng.randint(1, 2)))
        batches, prev = [], 0
        for c in cuts + [len(docs)]:
            batches.append(docs[prev:c]); prev = c
        # model: first-arrival canonical per gram
        canon, marks = {}, set()
        for batch in batches:
            occ = sorted(
                (did, i, tuple(t[i : i + N]))
                for did, t in batch
                for i in range(len(t) - N + 1)
            )
            for did, i, g in occ:
                if g not in canon:
                    canon[g] = (did, i)
                elif (did, i) != canon[g]:
                    marks.add((did, i))

        src_dir = tmp_path / f"rs_docs_{seed}"
        src_dir.mkdir()
        sink = str(tmp_path / f"rs_out_{seed}")
        ckpt = str(tmp_path / f"rs_ckpt_{seed}")
        for bi, batch in enumerate(batches):
            part = tmp_path / f"rs_stage_{seed}_{bi}"
            spark.createDataFrame(
                [(d, " ".join(t)) for d, t in batch], "doc_id long, text string"
            ).coalesce(1).write.parquet(str(part))
            (pq,) = [p for p in part.iterdir() if p.name.endswith(".parquet")]
            pq.rename(src_dir / f"b{bi}.parquet")
            stream = spark.readStream.schema("doc_id long, text string").parquet(
                str(src_dir)
            )
            q = (
                streaming_duplicate_marks(stream, n=N, n_buckets=5)
                .writeStream.foreachBatch(
                    lambda df, _eid, s=sink: df.write.mode("append").parquet(s)
                )
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(180), (seed, bi)
        got = {
            (r.doc_id, r.pos)
            for r in spark.read.parquet(sink).distinct().collect()
        }
        assert got == marks, (seed, sorted(got), sorted(marks))


def test_streaming_token_budget_ttl_random_matches_model(spark, tmp_path):
    """Randomized companion to the 4-batch TTL pin: random corpora,
    random replay patterns, strictly-increasing per-batch event times
    (no watermark-boundary drops — that axis is pinned elsewhere).
    The emitted row MULTISET must equal the Python model: admitted
    ids suppress forever, live rejected ids suppress, aged-out
    rejected ids re-emit their frozen verdict. Two fixed seeds."""
    import random
    from collections import Counter
    from datetime import datetime, timezone

    from kinesis_producer_spark.streaming.budget import streaming_token_budget

    BUDGET, TTL_S = 12, 3000
    ts = lambda s: datetime.fromtimestamp(s, tz=timezone.utc)  # noqa: E731
    tok = lambda n: " ".join(f"w{i}" for i in range(n))  # noqa: E731

    for seed in (13, 29):
        rng = random.Random(seed)
        n_docs = rng.randint(5, 9)
        sizes = {d: rng.randint(1, 6) for d in range(n_docs)}
        n_batches = rng.randint(3, 5)
        batches = []
        introduced: list[int] = []
        for b in range(n_batches):
            batch = []
            fresh = [d for d in range(n_docs) if d not in introduced]
            for d in fresh[: rng.randint(0, 3)]:
                introduced.append(d)
                batch.append(d)
            # random replays of already-introduced docs
            for d in rng.sample(introduced, min(len(introduced), rng.randint(0, 2))):
                if d not in batch:
                    batch.append(d)
            if not batch and fresh:
                introduced.append(fresh[0])
                batch.append(fresh[0])
            batches.append(sorted(batch))

        # model: watermark during run i = max event time of runs < i
        t_of = lambda b: (b + 1) * 1000  # noqa: E731  strictly increasing
        cum, admitted, rejected = 0, set(), {}
        expect: Counter = Counter()
        for b, batch in enumerate(batches):
            wm_ms = t_of(b - 1) * 1000 if b > 0 else 0
            rejected = {d: m for d, m in rejected.items() if m + TTL_S * 1000 > wm_ms}
            for d in batch:  # doc_id order within the batch
                if d in admitted:
                    continue
                if d in rejected:
                    rejected[d] = t_of(b) * 1000
                    continue
                adm = 1 if cum < BUDGET else 0
                expect[(d, sizes[d], cum, adm)] += 1
                if adm:
                    cum += sizes[d]
                    admitted.add(d)
                else:
                    rejected[d] = t_of(b) * 1000

        src = tmp_path / f"ttlr_docs_{seed}"
        src.mkdir()
        sink = str(tmp_path / f"ttlr_out_{seed}")
        ckpt = str(tmp_path / f"ttlr_ckpt_{seed}")
        for b, batch in enumerate(batches):
            part = tmp_path / f"ttlr_stage_{seed}_{b}"
            spark.createDataFrame(
                [(d, tok(sizes[d]), "s", ts(t_of(b))) for d in batch],
                "doc_id long, text string, source string, ts timestamp",
            ).coalesce(1).write.parquet(str(part))
            (pq,) = [p for p in part.iterdir() if p.name.endswith(".parquet")]
            pq.rename(src / f"b{b}.parquet")
            stream = spark.readStream.schema(
                "doc_id long, text string, source string, ts timestamp"
            ).parquet(str(src))
            q = (
                streaming_token_budget(
                    stream, token_budget=BUDGET, time_col="ts",
                    seen_ttl_ms=TTL_S * 1000,
                )
                .writeStream.foreachBatch(
                    lambda df, _eid, s=sink: df.write.mode("append").parquet(s)
                )
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(180), (seed, b)
        got = Counter(
            (r.doc_id, r.n_tokens, r.cum_before, r.admitted)
            for r in spark.read.parquet(sink).collect()
        )
        assert got == expect, (seed, batches, got, expect)


def test_streaming_index_append_crash_replay_exactly_once(spark, tmp_path):
    """The ANN index's exactly-once append contract end to end: a
    crash AFTER the epoch's data write but BEFORE the ledger marker
    (the worst window) leaves the epoch INVISIBLE to serving reads;
    the checkpoint restart replays the same epoch_id and dynamic
    partition overwrite rewrites its own partitions instead of
    double-appending; and a manual replay of a COMMITTED epoch is
    skipped via the marker. Final committed view == one-shot batch
    encoding, no duplicate vec_ids anywhere."""
    import os

    from kinesis_producer_spark.streaming.ann_index import (
        bootstrap_index,
        committed_epochs,
        index_append_writer,
        read_committed_index,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = e.filter(F.col("vec_id") % 10 != 0)
    delta = e.filter(F.col("vec_id") % 10 == 0)
    idx = str(tmp_path / "ann_idx")
    ckpt = str(tmp_path / "ann_ckpt")
    src = tmp_path / "ann_src"
    src.mkdir()

    cb = bootstrap_index(base, idx, n_centroids=16, m_dims=8, bits=3)
    n_base = base.count()
    assert read_committed_index(spark, idx).count() == n_base

    stage = tmp_path / "ann_stage"
    delta.select("vec_id", "embedding").coalesce(1).write.parquet(str(stage))
    (pq,) = [p for p in stage.iterdir() if p.name.endswith(".parquet")]
    pq.rename(src / "b1.parquet")

    real = index_append_writer(idx, cb, bits=3, m_dims=8)
    crash_flag = tmp_path / "crash_once"
    crash_flag.write_text("armed")

    def crashing(batch_df, epoch_id):
        real(batch_df, epoch_id)
        if crash_flag.exists():
            # data written AND marker committed — yank the marker and
            # fail the query before the checkpoint commits, modeling a
            # crash inside the write-then-mark window; the replay must
            # overwrite, not append
            os.replace(crash_flag, str(crash_flag) + ".used")
            os.unlink(os.path.join(idx, "_epoch_ledger", f"epoch-{epoch_id}"))
            raise RuntimeError("injected crash before ledger commit")

    def run(writer):
        stream = spark.readStream.schema(
            "vec_id long, embedding array<float>"
        ).parquet(str(src))
        return (
            stream.writeStream.foreachBatch(writer)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="injected crash"):
        run(crashing).awaitTermination(180)

    # the crashed epoch's files exist on disk but serving must not see
    # them: ledger-gated visibility
    assert committed_epochs(idx) == [-1]
    on_disk = spark.read.parquet(idx).count()
    assert on_disk > n_base, "crashed epoch left no data (test is vacuous)"
    assert read_committed_index(spark, idx).count() == n_base

    # restart: same checkpoint replays the epoch; overwrite-own-
    # partitions means no duplicates, marker commits
    assert run(real).awaitTermination(180)
    committed = read_committed_index(spark, idx)
    total = e.count()
    assert committed.count() == total
    assert committed.select("vec_id").distinct().count() == total

    # manual replay of the now-committed epoch is a no-op
    real(delta.select("vec_id", "embedding"), 0)
    assert read_committed_index(spark, idx).count() == total

    # committed view == one-shot batch encoding over the union
    from kinesis_producer_spark.operators.similarity import (
        _pq_expr_parts,
        ivf_cell,
    )

    codes_fn, _, _ = _pq_expr_parts(cb, 8)
    want = {
        (r.vec_id, r.cell, tuple(r.codes))
        for r in e.select(
            "vec_id",
            ivf_cell(F.col("embedding"), 3).alias("cell"),
            codes_fn(F.col("embedding")).alias("codes"),
        ).collect()
    }
    got = {
        (r.vec_id, r.cell, tuple(r.codes))
        for r in committed.select("vec_id", "cell", "codes").collect()
    }
    assert got == want


def test_stateful_version_track_packed_matches_per_key(spark):
    """Packed per-user version tracking must emit exactly the per-key
    path's rows — buckets are a Python-call packing unit, not a
    semantics change (the q230/q221 discipline applied to q133)."""
    from kinesis_producer_spark.streaming.stateful import (
        events_multifile_stream,
        run_stream_update,
        stateful_version_track,
        stateful_version_track_packed,
    )

    sf = "/root/testdata/sf0.001"

    def final(df):
        return {
            (r.user_id): (r.n_versions, r.first_cents, r.last_cents)
            for r in df.groupBy("user_id")
            .agg(F.max(F.struct("n_versions", "first_cents", "last_cents")).alias("m"))
            .select("user_id", "m.*")
            .collect()
        }

    def prep():
        return events_multifile_stream(spark, sf, n_files=4).select(
            "user_id",
            "ts",
            "event_id",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        )

    per_key = final(run_stream_update(stateful_version_track(prep()), spark))
    packed = final(
        run_stream_update(stateful_version_track_packed(prep(), n_buckets=17), spark)
    )
    assert packed == per_key and per_key


def test_stateful_sessions_packed_matches_per_key(spark):
    """Packed sessionization must emit exactly the per-key path's
    closed-session set: same gap splits, same watermark-closure rule,
    only the timeout firings are batched per bucket."""
    from kinesis_producer_spark.streaming.stateful import (
        events_multifile_stream,
        run_stream_append_mode,
        stateful_sessions,
        stateful_sessions_packed,
    )

    sf = "/root/testdata/sf0.001"

    def rows(df):
        return {
            (r.user_id, r.session_start, r.session_end, r.n_events)
            for r in df.collect()
        }

    per_key = rows(
        run_stream_append_mode(
            stateful_sessions(events_multifile_stream(spark, sf, n_files=4)), spark
        )
    )
    packed = rows(
        run_stream_append_mode(
            stateful_sessions_packed(
                events_multifile_stream(spark, sf, n_files=4), n_buckets=17
            ),
            spark,
        )
    )
    assert packed == per_key and per_key


def test_stateful_sessions_packed_matches_per_key_randomized(spark, tmp_path):
    """Randomized adversarial check on the packed-session semantics:
    random user/timestamp streams (gap splits landing near the 30-min
    boundary, users quiescing so watermark closure fires, colliding
    bucket assignments) driven as 3 ts-range micro-batches — the
    packed path must emit exactly the per-key path's closed-session
    set at several bucket counts, including n_buckets=1 (every user
    in ONE bucket, the maximal-collision case)."""
    import random
    from datetime import datetime, timezone

    from kinesis_producer_spark.streaming.stateful import (
        run_stream_append_mode,
        stateful_sessions,
        stateful_sessions_packed,
    )

    rng = random.Random(83)
    rows = []
    eid = 0
    for uid in range(14):
        t = rng.randint(0, 3600)
        for _ in range(rng.randint(1, 12)):
            rows.append((eid, uid, t))
            eid += 1
            # mix of within-gap and beyond-gap steps, some exactly at
            # the 1800s boundary (> is the split rule, = is not)
            t += rng.choice([5, 60, 900, 1799, 1800, 1801, 4000, 9000])
    rows.sort(key=lambda r: r[2])
    cut1, cut2 = rows[len(rows) // 3][2], rows[2 * len(rows) // 3][2]
    batches = [
        [r for r in rows if r[2] <= cut1],
        [r for r in rows if cut1 < r[2] <= cut2],
        [r for r in rows if r[2] > cut2],
    ]
    ts = lambda s: datetime.fromtimestamp(s, tz=timezone.utc)  # noqa: E731

    def run(builder, tag):
        src = tmp_path / f"rsp_src_{tag}"
        src.mkdir()
        sink = None
        for i, batch in enumerate(b for b in batches if b):
            part = tmp_path / f"rsp_stage_{tag}_{i}"
            spark.createDataFrame(
                [(e, ts(t), u, "x", 0.0) for e, u, t in batch],
                "event_id long, ts timestamp, user_id long, event_type string, value double",
            ).coalesce(1).write.parquet(str(part))
            (pq,) = [p for p in part.iterdir() if p.name.endswith(".parquet")]
            pq.rename(src / f"b{i}.parquet")
        # pin ascending mtimes in batch order: file-source arrival
        # order is NOT mtime-guaranteed otherwise (the
        # events_multifile_stream discipline) — an out-of-order batch
        # would late-drop rows differently between the two runs
        import os as _os

        for i, name in enumerate(sorted(p.name for p in src.iterdir())):
            _os.utime(src / name, (1_000_000 + i, 1_000_000 + i))
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        ).option("maxFilesPerTrigger", 1).parquet(str(src))
        sink = run_stream_append_mode(builder(stream), spark)
        return {
            (r.user_id, r.session_start, r.session_end, r.n_events)
            for r in sink.collect()
        }

    per_key = run(lambda s: stateful_sessions(s), "pk")
    for nb in (1, 3, 16):
        packed = run(
            lambda s, nb=nb: stateful_sessions_packed(s, n_buckets=nb),
            f"p{nb}",
        )
        assert packed == per_key, (nb, sorted(packed ^ per_key))
    assert per_key, "fixture produced no closed sessions (vacuous)"


def test_ann_index_ledger_compaction_and_empty_read(spark, tmp_path):
    """Round-9 ADVICE closures on the streaming index ledger:
    (a) read_committed_index on an index whose ledger is still empty
    returns an empty TYPED frame instead of failing parquet schema
    inference on a data-less dir; (b) compact_ledger folds the
    contiguous committed prefix into one high-watermark marker — the
    serving filter becomes a range predicate plus a small IN-list, and
    committed_epochs/read_committed_index/is_committed all read
    identically before and after; (c) a GAP (crashed, not-yet-replayed
    epoch) stops the watermark strictly below it, so the hwm never
    claims an uncommitted epoch; (d) the append-path replay skip
    honors hwm-covered epochs."""
    import os

    from kinesis_producer_spark.streaming.ann_index import (
        BOOTSTRAP_EPOCH,
        _commit_marker,
        _ledger_state,
        bootstrap_index,
        committed_epochs,
        compact_ledger,
        index_append_writer,
        is_committed,
        read_committed_index,
    )

    # (a) empty ledger, no data files at all
    empty_idx = str(tmp_path / "empty_idx")
    os.makedirs(empty_idx)
    df = read_committed_index(spark, empty_idx)
    assert df.count() == 0
    assert set(df.columns) == {"vec_id", "codes", "cell", "epoch"}

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    base = e.filter(F.col("vec_id") % 10 != 0)
    delta = e.filter(F.col("vec_id") % 10 == 0).collect()
    idx = str(tmp_path / "idx")
    cb = bootstrap_index(base, idx, n_centroids=16, m_dims=8, bits=3)
    write = index_append_writer(idx, cb, bits=3, m_dims=8)
    third = len(delta) // 3 or 1
    batches = [delta[:third], delta[third: 2 * third], delta[2 * third:]]
    schema = "vec_id long, embedding array<double>"
    # commit epochs 0 and 2; leave 1 as the gap (crashed, unreplayed)
    write(spark.createDataFrame(batches[0], schema), 0)
    write(spark.createDataFrame(batches[2], schema), 2)
    before_eps = committed_epochs(idx)
    assert before_eps == [BOOTSTRAP_EPOCH, 0, 2]
    def rowset(df):
        return {(r.vec_id, tuple(r.codes), r.cell, r.epoch) for r in df.collect()}

    before_rows = rowset(read_committed_index(spark, idx))

    # (c) compaction folds only through the gap-free prefix: -1, 0
    hwm = compact_ledger(idx)
    assert hwm == 0
    st = _ledger_state(idx)
    assert st == (0, [2]), st
    assert committed_epochs(idx) == [BOOTSTRAP_EPOCH, 0, 2]
    after_rows = rowset(read_committed_index(spark, idx))
    assert after_rows == before_rows and after_rows
    assert is_committed(idx, BOOTSTRAP_EPOCH) and is_committed(idx, 0)
    assert not is_committed(idx, 1)
    assert is_committed(idx, 2)

    # (d) replay of an hwm-covered epoch is skipped (no marker file
    # needed): re-delivering epoch 0 must not change the index
    write(spark.createDataFrame([delta[0]], schema), 0)
    assert rowset(read_committed_index(spark, idx)) == after_rows

    # the gap closes: epoch 1 replays, commits, second compaction
    # folds everything into one marker and removes per-epoch files
    write(spark.createDataFrame(batches[1], schema), 1)
    assert compact_ledger(idx) == 2
    assert _ledger_state(idx) == (2, [])
    assert committed_epochs(idx) == [BOOTSTRAP_EPOCH, 0, 1, 2]
    got = read_committed_index(spark, idx)
    assert got.count() == e.count()
    # idempotent: nothing left to fold
    assert compact_ledger(idx) == 2


def test_streaming_ann_query_crash_replay_exactly_once(spark, tmp_path):
    """The QUERY-side ledger contract (q272): a crash after the
    answers write but BEFORE the results marker leaves the epoch's
    answers INVISIBLE to read_committed_results; the checkpoint
    restart replays the same epoch_id and dynamic partition overwrite
    rewrites exactly its own epoch partition instead of
    double-appending; a manual replay of the committed epoch is
    skipped via the marker. Final committed answers == the batch
    serving path (ivf_pq_topk_from_index) row-for-row — micro-batch
    machinery must not change a single rank."""
    import os

    from kinesis_producer_spark.operators.similarity import (
        ivf_pq_topk_from_index,
        train_ivf_centroids,
    )
    from kinesis_producer_spark.streaming.ann_index import (
        ann_query_writer,
        bootstrap_index,
        committed_epochs,
        read_committed_results,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cent = train_ivf_centroids(e, n_cells=8, rounds=2)
    idx = str(tmp_path / "q_idx")
    res = str(tmp_path / "q_res")
    ckpt = str(tmp_path / "q_ckpt")
    src = tmp_path / "q_src"
    src.mkdir()
    cb = bootstrap_index(e, idx, n_centroids=16, m_dims=8, centroids=cent)
    real = ann_query_writer(
        res, idx, e, cb, k=5, shortlist=20, m_dims=8, centroids=cent, nprobe=2
    )

    stage = tmp_path / "q_stage"
    qdf = e.filter(F.col("vec_id").isin([0, 1])).select("vec_id")
    qdf.coalesce(1).write.parquet(str(stage))
    (pqf,) = [p for p in stage.iterdir() if p.name.endswith(".parquet")]
    pqf.rename(src / "b1.parquet")

    crash_flag = tmp_path / "q_crash_once"
    crash_flag.write_text("armed")

    def crashing(batch_df, epoch_id):
        real(batch_df, epoch_id)
        if crash_flag.exists():
            os.replace(crash_flag, str(crash_flag) + ".used")
            os.unlink(os.path.join(res, "_epoch_ledger", f"epoch-{epoch_id}"))
            raise RuntimeError("injected crash before results commit")

    def run(writer):
        stream = spark.readStream.schema("vec_id long").parquet(str(src))
        return (
            stream.writeStream.foreachBatch(writer)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="injected crash"):
        run(crashing).awaitTermination(180)

    # answers on disk but invisible: ledger-gated visibility
    assert committed_epochs(res) == []
    assert spark.read.parquet(res).count() > 0, "crashed epoch wrote nothing"
    assert read_committed_results(spark, res).count() == 0

    # restart replays the epoch; overwrite-own-partition, then marker
    assert run(real).awaitTermination(180)
    want = {
        tuple(r)
        for r in ivf_pq_topk_from_index(
            e, idx, cb, query_ids=[0, 1], k=5, shortlist=20, m_dims=8,
            centroids=cent, nprobe=2,
        ).collect()
    }
    committed = read_committed_results(spark, res).select(
        "query_id", "vec_id", "adist_q", "cos_micro", "rank"
    )
    got = {tuple(r) for r in committed.collect()}
    assert got == want and got

    # manual replay of the committed epoch is a no-op
    real(qdf, 0)
    assert {
        tuple(r)
        for r in read_committed_results(spark, res)
        .select("query_id", "vec_id", "adist_q", "cos_micro", "rank")
        .collect()
    } == want


def test_index_compaction_preserves_serving_and_replay(spark, tmp_path):
    """compact_index's three contracts on one index: (1) the served
    view is row-identical before and after; (2) the data files fold
    to ONE per cell; (3) replay-skip survives — a re-delivered
    COMMITTED epoch still reads as committed via the new watermark
    (the duplicate-append hazard compaction must not introduce),
    while an UNCOMMITTED epoch's partial files are dropped and its
    replay lands normally. Plus the gap rule: a committed epoch
    ABOVE a missing one keeps its per-epoch marker and the watermark
    stops below the gap."""
    import os

    from kinesis_producer_spark.streaming.ann_index import (
        bootstrap_index,
        committed_epochs,
        compact_index,
        index_append_writer,
        read_committed_index,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = e.filter(F.col("vec_id") % 10 != 0)
    idx = str(tmp_path / "cmp_idx")
    cb = bootstrap_index(base, idx, n_centroids=16, m_dims=8, bits=3)
    writer = index_append_writer(idx, cb, bits=3, m_dims=8)
    writer(e.filter(F.col("vec_id") % 20 == 0).select("vec_id", "embedding"), 0)
    writer(
        e.filter((F.col("vec_id") % 20 == 10) & ~F.col("vec_id").isin([30, 70]))
        .select("vec_id", "embedding"),
        1,
    )
    # a crashed epoch: data written, marker yanked (the q260 window)
    writer(e.filter(F.col("vec_id") == 30).select("vec_id", "embedding"), 2)
    os.unlink(os.path.join(idx, "_epoch_ledger", "epoch-2"))
    # a committed epoch ABOVE the gap
    writer(e.filter(F.col("vec_id") == 70).select("vec_id", "embedding"), 3)

    def served():
        return {
            (r.vec_id, r.cell, tuple(r.codes))
            for r in read_committed_index(spark, idx).collect()
        }

    before = served()
    assert committed_epochs(idx) == [-1, 0, 1, 3]
    hwm = compact_index(spark, idx)
    assert hwm == 1  # the gap at 2 stops the watermark
    assert served() == before
    assert committed_epochs(idx) == [-1, 0, 1, 3]

    # one data file per (cell, epoch) leaf: the prefix folded to
    # epoch=-1, the above-gap epoch-3 DATA preserved at its own epoch
    # (epoch order is load-bearing once tombstones exist — a kept
    # tombstone must keep outranking a replayed gap epoch's rows)
    seen_epochs = set()
    for cell_dir in (d for d in os.listdir(idx) if d.startswith("cell=")):
        for ep_dir in os.listdir(os.path.join(idx, cell_dir)):
            if not ep_dir.startswith("epoch="):
                continue
            seen_epochs.add(int(ep_dir.split("=")[1]))
            files = [
                f
                for f in os.listdir(os.path.join(idx, cell_dir, ep_dir))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, (cell_dir, ep_dir, files)
    assert -1 in seen_epochs and seen_epochs <= {-1, 3}, seen_epochs

    # replay-skip: committed epochs are no-ops after compaction
    n = read_committed_index(spark, idx).count()
    writer(e.filter(F.col("vec_id") % 20 == 0).select("vec_id", "embedding"), 0)
    writer(e.filter(F.col("vec_id") == 70).select("vec_id", "embedding"), 3)
    assert read_committed_index(spark, idx).count() == n

    # the crashed epoch replays normally and becomes visible
    writer(e.filter(F.col("vec_id") == 30).select("vec_id", "embedding"), 2)
    after = served()
    assert len(after) == len(before) + 1
    assert any(v == 30 for v, _c, _k in after)
    assert committed_epochs(idx) == [-1, 0, 1, 2, 3]


def test_compact_swap_residue_and_lock_guards(spark, tmp_path):
    """The round-9 ADVICE hardening of compact_index's swap, pinned:
    (a) a reader that finds compaction residue (<index>.compacting or
    <index>.precompact) next to a ledger-less path RAISES with the
    recovery fact instead of silently serving an empty index — the
    mid-swap/crashed-swap window is a recoverable maintenance state,
    not 'never bootstrapped'; (b) a genuinely never-bootstrapped path
    still reads as a typed empty frame; (c) compact_index is
    single-writer ENFORCED — a held <index>.compact.lock fails the
    second compactor loudly and a completed run releases the lock."""
    import os

    import pytest

    from kinesis_producer_spark.streaming.ann_index import (
        bootstrap_index,
        compact_index,
        index_append_writer,
        read_committed_index,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    # (b) never bootstrapped: typed empty frame, no raise
    empty = read_committed_index(spark, str(tmp_path / "never_idx"))
    assert empty.count() == 0
    assert "vec_id" in empty.columns

    # (a) crashed-swap residue: the path is absent mid-swap but
    # .precompact holds the complete old index — readers must raise
    idx = str(tmp_path / "swap_idx")
    cb = bootstrap_index(
        e.filter(F.col("vec_id") % 10 != 0), idx, n_centroids=16, m_dims=8,
        bits=3,
    )
    os.replace(idx, idx + ".precompact")
    with pytest.raises(RuntimeError, match="precompact"):
        read_committed_index(spark, idx)
    os.replace(idx + ".precompact", idx)

    # in-flight residue next to a ledger-less path raises too
    os.makedirs(idx + "2.compacting", exist_ok=True)
    with pytest.raises(RuntimeError, match="compacting"):
        read_committed_index(spark, idx + "2")
    os.rmdir(idx + "2.compacting")

    # (c) lock enforcement: a held lock fails fast...
    writer = index_append_writer(idx, cb, bits=3, m_dims=8)
    writer(e.filter(F.col("vec_id") % 20 == 0).select("vec_id", "embedding"), 0)
    with open(idx + ".compact.lock", "x") as fh:
        fh.write("held")
    with pytest.raises(RuntimeError, match="compact.lock"):
        compact_index(spark, idx)
    os.remove(idx + ".compact.lock")
    # ...and a successful run releases it
    before = read_committed_index(spark, idx).count()
    compact_index(spark, idx)
    assert not os.path.exists(idx + ".compact.lock")
    assert read_committed_index(spark, idx).count() == before


def test_ann_index_tombstone_lifecycle(spark, tmp_path):
    """The round-10 headline pinned end to end: upserts and deletes in
    the streaming ANN index. (1) merge-on-read — a deleted vector
    stops being served the moment its epoch commits; an upserted
    vector is served EXACTLY ONCE, at its NEW cell (the old-cell row
    is suppressed without being read or rewritten). (2) exactly-once
    for tombstone epochs — a committed upsert/delete epoch replays as
    a no-op; a crashed one replays normally. (3) compaction applies
    tombstones PHYSICALLY: served rows identical before/after, the
    suppressed rows and absorbed tombstones gone from disk. (4) the
    ordering subtlety: a tombstone committed ABOVE a gap keeps its
    original epoch through compaction, so when the crashed gap epoch
    finally replays, its rows are STILL suppressed — final state
    equals the in-order apply (add then delete → absent)."""
    import os

    from kinesis_producer_spark.streaming.ann_index import (
        TOMBSTONE_CELL,
        bootstrap_index,
        compact_index,
        index_upsert_writer,
        read_served_index,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = e.filter(F.col("vec_id") % 10 != 0)
    idx = str(tmp_path / "ts_idx")
    cb = bootstrap_index(base, idx, n_centroids=16, m_dims=8, bits=3)
    writer = index_upsert_writer(idx, cb, bits=3, m_dims=8)

    def with_op(df, op):
        return df.select("vec_id", "embedding", F.lit(op).alias("op"))

    neg = F.transform(F.col("embedding"), lambda x: -x)

    # epoch 0: pure adds (the CDC delta) — must write ZERO tombstones
    writer(with_op(e.filter(F.col("vec_id") % 20 == 0), "add"), 0)
    assert not os.path.isdir(os.path.join(idx, f"cell={TOMBSTONE_CELL}"))

    # epoch 1: re-embed vecs 40 and 80 (negated → different sign-bit
    # cell); epoch 2: delete 11 (base) and 60 (the epoch-0 add)
    ups = e.filter(F.col("vec_id").isin(40, 80)).select(
        "vec_id", neg.alias("embedding"), F.lit("upsert").alias("op")
    )
    writer(ups, 1)
    writer(with_op(e.filter(F.col("vec_id").isin(11, 60)), "delete"), 2)

    def served():
        # content identity (vec_id, cell, codes) — the epoch column
        # is bookkeeping that compaction legitimately rewrites
        return {
            (r.vec_id, r.cell, tuple(r.codes))
            for r in read_served_index(spark, idx).collect()
        }

    s = served()
    vec_counts = {}
    for v, _c, _k in s:
        vec_counts[v] = vec_counts.get(v, 0) + 1
    assert all(n == 1 for n in vec_counts.values())
    assert 11 not in vec_counts and 60 not in vec_counts
    # upserted vectors serve once, from their upsert epoch and at the
    # NEGATED embedding's cell
    from kinesis_producer_spark.operators.similarity import ivf_cell

    new_cells = {
        r.vec_id: r.nc
        for r in e.filter(F.col("vec_id").isin(40, 80))
        .select("vec_id", ivf_cell(neg, 3).alias("nc"))
        .collect()
    }
    up_rows = {
        (r.vec_id, r.cell, r.epoch)
        for r in read_served_index(spark, idx)
        .filter(F.col("vec_id").isin(40, 80))
        .collect()
    }
    assert up_rows == {(40, new_cells[40], 1), (80, new_cells[80], 1)}

    # (2) committed replays are no-ops — data AND tombstone epochs
    before = served()
    writer(ups, 1)
    writer(with_op(e.filter(F.col("vec_id").isin(11, 60)), "delete"), 2)
    assert served() == before
    # unknown ops fail loudly
    import pytest

    with pytest.raises(ValueError, match="unknown op"):
        writer(with_op(e.filter(F.col("vec_id") == 1), "replace"), 5)

    # (3) compaction: served identity + physical drop
    hwm = compact_index(spark, idx)
    assert hwm == 2
    assert served() == before
    raw = spark.read.parquet(idx)
    assert raw.filter(F.col("vec_id").isin(11, 60)).count() == 0
    assert raw.filter(F.col("cell") == TOMBSTONE_CELL).count() == 0
    assert raw.filter(F.col("vec_id").isin(40, 80)).count() == 2

    # (4) tombstone above a gap outlives compaction at its own epoch
    # and suppresses the gap epoch's late replay. Stream order: epoch
    # 3 adds vec 30 (crashes pre-marker), epoch 4 deletes vec 30.
    writer(with_op(e.filter(F.col("vec_id") == 30), "add"), 3)
    os.unlink(os.path.join(idx, "_epoch_ledger", "epoch-3"))
    writer(with_op(e.filter(F.col("vec_id") == 30), "delete"), 4)
    assert 30 not in {v for v, _c, _k in served()}
    hwm = compact_index(spark, idx)
    assert hwm == 2  # the gap at 3 stops the watermark
    raw = spark.read.parquet(idx)
    kept_tombs = raw.filter(F.col("cell") == TOMBSTONE_CELL).collect()
    assert [(r.vec_id, r.epoch) for r in kept_tombs] == [(30, 4)]
    # the crashed add replays and commits — and must STAY suppressed
    writer(with_op(e.filter(F.col("vec_id") == 30), "add"), 3)
    assert 30 not in {v for v, _c, _k in served()}
    # in-order equivalence: add-then-delete == absent, exactly-once
    assert served() == before


def test_upsert_stream_and_query_serving_see_suppression(spark, tmp_path):
    """The tombstone path driven by a REAL Structured Streaming
    source (not direct writer calls) and composed with the query
    side: a micro-batch of upserts/deletes lands through
    index_upsert_writer inside foreachBatch, and a subsequent
    ann_query_writer batch answers from the SERVED view — the
    takedown vanishes from answers the trigger after its epoch
    commits, and every answered row comes from the post-suppression
    index (pinned row-identical to a direct batch serve over
    read_served_index)."""
    import os

    from kinesis_producer_spark.operators.similarity import (
        ivf_pq_topk_from_index,
    )
    from kinesis_producer_spark.streaming.ann_index import (
        ann_query_writer,
        bootstrap_index,
        index_upsert_writer,
        read_committed_results,
        read_served_index,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = str(tmp_path / "upq_idx")
    res = str(tmp_path / "upq_res")
    src = str(tmp_path / "upq_src")
    ckpt = str(tmp_path / "upq_ckpt")
    os.makedirs(src, exist_ok=True)
    cb = bootstrap_index(e, idx, n_centroids=16, m_dims=8, bits=3)

    # one real micro-batch: delete 7 and 9, re-embed 13 (negated)
    neg = F.transform(F.col("embedding"), lambda x: -x)
    batch = (
        e.filter(F.col("vec_id").isin(7, 9))
        .select("vec_id", "embedding", F.lit("delete").alias("op"))
        .unionByName(
            e.filter(F.col("vec_id") == 13).select(
                "vec_id", neg.alias("embedding"), F.lit("upsert").alias("op")
            )
        )
    )
    stage = str(tmp_path / "upq_stage")
    batch.coalesce(1).write.mode("overwrite").parquet(stage)
    (part,) = [f for f in os.listdir(stage) if f.endswith(".parquet")]
    os.replace(os.path.join(stage, part), os.path.join(src, "b1.parquet"))
    arrivals = spark.readStream.schema(
        "vec_id long, embedding array<float>, op string"
    ).parquet(src)
    writer = index_upsert_writer(idx, cb, bits=3, m_dims=8)
    q = (
        arrivals.writeStream.foreachBatch(writer)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    served = read_served_index(spark, idx)
    assert served.filter(F.col("vec_id").isin(7, 9)).count() == 0
    assert served.filter(F.col("vec_id") == 13).count() == 1

    # the post-stream corpus: 13 re-embedded, 7/9 gone
    cur = e.filter(~F.col("vec_id").isin(7, 9)).withColumn(
        "embedding",
        F.when(F.col("vec_id") == 13, neg).otherwise(F.col("embedding")),
    )
    # query stream: one batch asking for neighbors of 0, 1
    qwriter = ann_query_writer(
        res, idx, cur, cb, k=10, shortlist=50, bits=3, m_dims=8
    )
    qwriter(e.filter(F.col("vec_id").isin(0, 1)).select("vec_id"), 0)
    answers = read_committed_results(spark, res).select(
        "query_id", "vec_id", "adist_q", "cos_micro", "rank"
    )
    got = {tuple(r) for r in answers.collect()}
    assert got and all(v not in (7, 9) for _q, v, *_ in got)
    # row-identical to the direct batch serve over the served view
    direct = ivf_pq_topk_from_index(
        cur, idx, cb, query_ids=[0, 1], k=10, shortlist=50, bits=3,
        m_dims=8, index_df=read_served_index(spark, idx),
    )
    assert got == {tuple(r) for r in direct.collect()}


def test_index_health_zeroes_after_compaction(spark, tmp_path):
    """q280's compaction-trigger semantics pinned: on the lived-in
    (q276 scenario) index the health metric reports real dead weight
    (suppressed rows > 0 somewhere, and exactly the deleted/
    superseded rows), and after compact_index every cell reads
    suppressed_rows == 0 with live_rows unchanged — the fold
    physically removed what the metric counted."""
    from kinesis_producer_spark.streaming.ann_index import (
        TOMBSTONE_CELL,
        compact_index,
        read_committed_index,
    )
    from kinesis_producer_spark.streaming.queries import (
        _ann_upsert_scenario,
    )

    idx = str(tmp_path / "health_idx")
    _ann_upsert_scenario(spark, "/root/testdata/sf0.001", idx)

    def health():
        committed = read_committed_index(spark, idx)
        tombs = committed.filter(F.col("cell") == TOMBSTONE_CELL).select(
            F.col("vec_id").alias("_t_vec"), F.col("epoch").alias("_t_epoch")
        )
        data = committed.filter(F.col("cell") != TOMBSTONE_CELL)
        cond = (F.col("vec_id") == F.col("_t_vec")) & (
            F.col("epoch") < F.col("_t_epoch")
        )
        live = {
            r.cell: r.n
            for r in data.join(F.broadcast(tombs), cond, "left_anti")
            .groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        dead = {
            r.cell: r.n
            for r in data.join(F.broadcast(tombs), cond, "left_semi")
            .groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        return live, dead

    live_before, dead_before = health()
    assert sum(dead_before.values()) > 0
    hwm = compact_index(spark, idx)
    assert hwm == 2
    live_after, dead_after = health()
    assert dead_after == {}
    assert live_after == live_before


def test_full_deletion_compacts_to_empty_and_recovers(spark, tmp_path):
    """The total-takedown edge: delete EVERY vector, compact — the
    fold writes no data partitions at all — and the index must read
    as a typed EMPTY frame (not an opaque schema-inference crash),
    keep its replay-skip ledger, and accept fresh adds afterward.
    Also pins the writer's null-op guard: a NULL op fails loudly
    instead of silently vanishing from the batch."""
    import pytest

    from kinesis_producer_spark.streaming.ann_index import (
        bootstrap_index,
        compact_index,
        index_upsert_writer,
        read_committed_index,
        read_served_index,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    small = e.filter(F.col("vec_id") < 20)
    idx = str(tmp_path / "wipe_idx")
    cb = bootstrap_index(small, idx, n_centroids=4, m_dims=8, bits=3)
    w = index_upsert_writer(idx, cb, bits=3, m_dims=8)

    # null op: loud failure, nothing written
    with pytest.raises(ValueError, match="unknown op"):
        w(
            small.limit(1).select(
                "vec_id", "embedding",
                F.lit(None).cast("string").alias("op"),
            ),
            0,
        )

    w(small.select("vec_id", "embedding", F.lit("delete").alias("op")), 0)
    assert read_served_index(spark, idx).count() == 0
    hwm = compact_index(spark, idx)
    assert hwm == 0
    # data-less but ledgered: typed empty frames, no crash
    assert read_committed_index(spark, idx).count() == 0
    assert read_served_index(spark, idx).count() == 0
    # replay-skip survived the wipe
    w(small.select("vec_id", "embedding", F.lit("delete").alias("op")), 0)
    assert read_committed_index(spark, idx).count() == 0
    # and the index accepts fresh adds
    w(
        small.filter(F.col("vec_id") < 3).select(
            "vec_id", "embedding", F.lit("add").alias("op")
        ),
        1,
    )
    assert read_served_index(spark, idx).count() == 3


def test_upsert_writer_rejects_intra_batch_duplicates(spark, tmp_path):
    """One op per key per epoch, enforced: suppression is keyed by
    epoch number, so two upserts for one vec_id in the same batch
    would both outlive each other's tombstone and double-serve — the
    writer fails loudly instead, and nothing is written (no data, no
    tombstones, no marker — the epoch stays uncommitted and a
    corrected batch can land under the same epoch id)."""
    import os

    import pytest

    from kinesis_producer_spark.streaming.ann_index import (
        bootstrap_index,
        index_upsert_writer,
        is_committed,
        read_served_index,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = str(tmp_path / "dup_idx")
    cb = bootstrap_index(
        e.filter(F.col("vec_id") % 10 != 0), idx, n_centroids=4, m_dims=8,
        bits=3,
    )
    w = index_upsert_writer(idx, cb, bits=3, m_dims=8)
    before = read_served_index(spark, idx).count()

    dup_batch = (
        e.filter(F.col("vec_id") == 3)
        .select("vec_id", "embedding", F.lit("upsert").alias("op"))
        .unionByName(
            e.filter(F.col("vec_id") == 3).select(
                "vec_id",
                F.transform(F.col("embedding"), lambda x: -x).alias(
                    "embedding"
                ),
                F.lit("upsert").alias("op"),
            )
        )
    )
    with pytest.raises(ValueError, match="more than once"):
        w(dup_batch, 0)
    assert not is_committed(idx, 0)
    assert read_served_index(spark, idx).count() == before
    # the corrected (collapsed) batch lands under the same epoch id
    w(
        e.filter(F.col("vec_id") == 3).select(
            "vec_id", "embedding", F.lit("upsert").alias("op")
        ),
        0,
    )
    assert is_committed(idx, 0)
    assert (
        read_served_index(spark, idx).filter(F.col("vec_id") == 3).count()
        == 1
    )


def test_compact_swap_back_on_late_commit(spark, tmp_path, monkeypatch):
    """The round-10 ADVICE race closed: an epoch that finishes
    committing AFTER compact_index's ledger recheck but BEFORE the
    rename-aside would have had its data silently discarded (marker
    surviving in neither world, checkpoint already advanced — never
    replayed). The post-rename recheck must catch it — the rename
    moved data and ledger together, so the re-read is race-free —
    SWAP THE OLD INDEX BACK, clean all residue, and raise; a retry at
    a quiet moment then succeeds with the late epoch intact."""
    from kinesis_producer_spark.streaming import ann_index as ai

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = str(tmp_path / "race_idx")
    cb = ai.bootstrap_index(
        e.filter(F.col("vec_id") % 10 != 0), idx, n_centroids=16, m_dims=8,
        bits=3,
    )
    writer = ai.index_append_writer(idx, cb, bits=3, m_dims=8)
    writer(
        e.filter(F.col("vec_id") % 20 == 0).select("vec_id", "embedding"), 0
    )

    late = e.filter(F.col("vec_id") % 20 == 10).select("vec_id", "embedding")
    real_replace = os.replace
    fired = []

    def racing_replace(src, dst, *a, **k):
        if src == idx and not fired:
            fired.append(True)
            # an appender lands + commits epoch 1 in the window
            # between the pre-swap recheck and the rename-aside
            writer(late, 1)
        return real_replace(src, dst, *a, **k)

    monkeypatch.setattr(ai.os, "replace", racing_replace)
    with pytest.raises(RuntimeError, match="during the swap"):
        ai.compact_index(spark, idx)
    monkeypatch.setattr(ai.os, "replace", real_replace)

    # old index restored IN PLACE with the late epoch's data + marker
    assert sorted(ai.committed_epochs(idx)) == [-1, 0, 1]
    for residue in (".compacting", ".precompact", ".compact.lock"):
        assert not os.path.exists(idx + residue), residue
    served = ai.read_committed_index(spark, idx)
    n_late = e.filter(F.col("vec_id") % 20 == 10).count()
    assert served.filter(F.col("epoch") == 1).count() == n_late
    n_before = served.count()  # materialized before the retry moves files
    # a quiet-moment retry folds everything, late epoch included
    assert ai.compact_index(spark, idx) == 1
    assert ai.read_committed_index(spark, idx).count() == n_before


def _rebuild_scenario(spark, idx):
    """The q276 churn fixture on sf0.001: bootstrap + add/upsert/
    delete epochs; returns the post-stream corpus (system of record)."""
    from kinesis_producer_spark.streaming.ann_index import (
        bootstrap_index,
        index_upsert_writer,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    neg = F.transform(F.col("embedding"), lambda x: -x)
    cur = e.filter(F.col("vec_id") % 30 != 0).withColumn(
        "embedding",
        F.when(F.col("vec_id") % 20 == 0, neg).otherwise(F.col("embedding")),
    )
    cb = bootstrap_index(
        e.filter(F.col("vec_id") % 10 != 0), idx, n_centroids=16, m_dims=8,
        bits=3,
    )
    w = index_upsert_writer(idx, cb, bits=3, m_dims=8)
    w(e.filter(F.col("vec_id") % 10 == 0).select(
        "vec_id", "embedding", F.lit("add").alias("op")), 0)
    w(e.filter(F.col("vec_id") % 20 == 0).select(
        "vec_id", neg.alias("embedding"), F.lit("upsert").alias("op")), 1)
    w(e.filter(F.col("vec_id") % 30 == 0).select(
        "vec_id", "embedding", F.lit("delete").alias("op")), 2)
    return cur


def test_rebuild_index_lifecycle(spark, tmp_path):
    """The round-11 headline pinned: rebuild_index composes
    monitor→retrain→re-encode→swap. (1) the rebuilt index is
    ROW-IDENTICAL (vec_id, cell, codes) to a FRESH bootstrap_index
    from the surviving corpus — rebuild-equivalence, the operator's
    core contract; (2) all churn is physically gone (no tombstones,
    no suppressed rows); (3) replay-skip survives: every pre-rebuild
    epoch_id still reads committed, so a checkpoint replay is a
    no-op; (4) a falsy trigger leaves the index untouched; (5) the
    artifact records exactly the quantizers serving; (6) a corpus
    missing a served id fails loudly; (7) a ledger gap refuses the
    rebuild (folding past it would skip the crashed epoch's replay
    forever)."""
    from kinesis_producer_spark.streaming import ann_index as ai

    idx = str(tmp_path / "rb_idx")
    cur = _rebuild_scenario(spark, idx)

    # (4) falsy trigger: untouched
    before = ai.committed_epochs(idx)
    out = ai.rebuild_index(
        spark, cur, idx, trigger=lambda s, p: False
    )
    assert out == {"fired": False, "hwm": None, "centroids": None,
                   "codebook": None}
    assert ai.committed_epochs(idx) == before

    # (6) corpus missing a served id fails loudly, index untouched
    import pytest

    with pytest.raises(ValueError, match="system of record"):
        ai.rebuild_index(spark, cur.filter(F.col("vec_id") != 1), idx)
    assert ai.committed_epochs(idx) == before

    # (6b) duplicate corpus rows per served id fail loudly too — the
    # pre-r12 n_surv != n_served comparison caught this and the r13
    # one-job coverage check must keep catching it (round-12 ADVICE)
    with pytest.raises(ValueError, match="duplicate row"):
        ai.rebuild_index(spark, cur.unionAll(cur.limit(3)), idx)
    assert ai.committed_epochs(idx) == before

    # the rebuild itself, with an artifact
    art = str(tmp_path / "rb_art.json")
    out = ai.rebuild_index(
        spark, cur, idx, n_centroids=16, m_dims=8, bits=3,
        artifact_path=art,
    )
    assert out["fired"] and out["hwm"] == 2

    # (1) rebuild-equivalence vs a fresh bootstrap from survivors
    fresh = str(tmp_path / "fresh_idx")
    cb_fresh = ai.bootstrap_index(
        cur, fresh, n_centroids=16, m_dims=8, bits=3
    )
    assert out["codebook"] == cb_fresh
    rows = lambda p: {  # noqa: E731
        (r.vec_id, r.cell, tuple(r.codes))
        for r in ai.read_served_index(spark, p).collect()
    }
    assert rows(idx) == rows(fresh)

    # (2) churn physically gone; ledger folded to one watermark
    raw = spark.read.parquet(idx)
    assert raw.filter(F.col("cell") == ai.TOMBSTONE_CELL).count() == 0
    assert raw.filter(F.col("epoch") != ai.BOOTSTRAP_EPOCH).count() == 0
    assert ai.committed_epochs(idx) == [-1, 0, 1, 2]

    # (5) the artifact records the serving quantizers
    from kinesis_producer_spark.operators.ann_artifacts import read_codebook

    a = read_codebook(art)
    assert a["codebook"] == out["codebook"] and a["centroids"] is None
    assert a["meta"]["rebuilt_hwm"] == 2

    # (3) replay-skip: a pre-rebuild epoch re-delivered by a restarted
    # stream is skipped (writers rebuilt from the NEW artifact)
    w2 = ai.index_upsert_writer(idx, a["codebook"], bits=3, m_dims=8)
    served_before = rows(idx)
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    w2(
        e.filter(F.col("vec_id") % 20 == 0).select(
            "vec_id", "embedding", F.lit("upsert").alias("op")
        ),
        1,
    )
    assert rows(idx) == served_before
    # and genuinely new epochs land normally
    w2(
        e.filter(F.col("vec_id") == 7).select(
            "vec_id", "embedding", F.lit("delete").alias("op")
        ),
        3,
    )
    assert 7 not in {v for v, _c, _k in rows(idx)}

    # (7) gap refusal: epoch 5 crashes pre-marker, epoch 6 commits
    import os

    w2(e.filter(F.col("vec_id") == 8).select(
        "vec_id", "embedding", F.lit("add").alias("op")), 5)
    os.unlink(os.path.join(idx, "_epoch_ledger", "epoch-5"))
    w2(e.filter(F.col("vec_id") == 9).select(
        "vec_id", "embedding", F.lit("delete").alias("op")), 6)
    with pytest.raises(ValueError, match="gap"):
        ai.rebuild_index(spark, cur, idx)


def test_rebuild_index_swap_races(spark, tmp_path, monkeypatch):
    """rebuild_index inherits compact_index's swap discipline, pinned
    on the rebuild path itself: (a) an epoch committed during the
    swap window ABORTS the rebuild with the old index (late epoch
    included) restored in place; (b) a crash between the two swap
    renames leaves readers RAISING with the recovery fact and the
    complete old index at .precompact — renaming it back recovers,
    and the retried rebuild succeeds; (c) the maintenance lock is
    shared — a held compact.lock fails the rebuild loudly."""
    import os

    import pytest

    from kinesis_producer_spark.streaming import ann_index as ai

    idx = str(tmp_path / "rbr_idx")
    cur = _rebuild_scenario(spark, idx)
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    # (c) shared maintenance lock
    with open(idx + ".compact.lock", "x") as fh:
        fh.write("held")
    with pytest.raises(RuntimeError, match="maintenance op"):
        ai.rebuild_index(spark, cur, idx)
    os.remove(idx + ".compact.lock")

    # (a) concurrent append commits in the swap window -> abort +
    # restore (writer uses the OLD codebook: the rebuild never
    # happened, so the old quantizers are still the index's)
    from kinesis_producer_spark.operators.similarity import _collect_codebook

    base = e.filter(F.col("vec_id") % 10 != 0)
    old_cb = _collect_codebook(base, "vec_id", "embedding", 16)
    w_old = ai.index_upsert_writer(idx, old_cb, bits=3, m_dims=8)
    real_replace = os.replace
    fired = []

    def racing_replace(src, dst, *a, **k):
        if src == idx and not fired:
            fired.append(True)
            w_old(
                e.filter(F.col("vec_id") == 4).select(
                    "vec_id", "embedding", F.lit("delete").alias("op")
                ),
                3,
            )
        return real_replace(src, dst, *a, **k)

    monkeypatch.setattr(ai.os, "replace", racing_replace)
    with pytest.raises(RuntimeError, match="during the swap"):
        ai.rebuild_index(spark, cur, idx)
    monkeypatch.setattr(ai.os, "replace", real_replace)
    assert sorted(ai.committed_epochs(idx)) == [-1, 0, 1, 2, 3]
    for residue in (".compacting", ".precompact", ".compact.lock"):
        assert not os.path.exists(idx + residue), residue
    assert 4 not in {
        r.vec_id for r in ai.read_served_index(spark, idx).collect()
    }

    # (b) crash between the two swap renames
    cur2 = cur.filter(F.col("vec_id") != 4)  # epoch 3 deleted vec 4
    calls = []

    def crashing_replace(src, dst, *a, **k):
        if src == idx:
            calls.append(1)
            real_replace(src, dst, *a, **k)
            raise OSError("simulated crash after rename-aside")
        return real_replace(src, dst, *a, **k)

    monkeypatch.setattr(ai.os, "replace", crashing_replace)
    with pytest.raises(OSError, match="simulated crash"):
        ai.rebuild_index(spark, cur2, idx)
    monkeypatch.setattr(ai.os, "replace", real_replace)
    # (a real crash would die holding the lock; the in-test exception
    # unwinds through rebuild_index's finally, which releases it)
    # readers surface the recoverable state instead of serving empty
    with pytest.raises(RuntimeError, match="precompact"):
        ai.read_committed_index(spark, idx)
    # recovery: the complete old index survives at .precompact
    os.replace(idx + ".precompact", idx)
    import shutil

    shutil.rmtree(idx + ".compacting", ignore_errors=True)
    assert sorted(ai.committed_epochs(idx)) == [-1, 0, 1, 2, 3]
    # and the retried rebuild succeeds end to end
    out = ai.rebuild_index(spark, cur2, idx)
    assert out["fired"] and out["hwm"] == 3
    assert 4 not in {
        r.vec_id for r in ai.read_served_index(spark, idx).collect()
    }


def test_maybe_compact_fires_exactly_at_threshold(spark, tmp_path):
    """The auto-compaction policy pinned on BOTH sides of its
    threshold: on the q276 churn fixture (suppressed/live ≈ 8.6%)
    maybe_compact(1, 10) does NOT fire (8.6% < 10%) and leaves every
    tombstone on disk; maybe_compact(1, 20) DOES fire (> 5%),
    compacts, and the suppressed count is physically zero; a second
    call after compaction never fires (0% dead). Decision is
    integer-exact — the same rule the q283 oracle computes."""
    import os

    from kinesis_producer_spark.streaming import ann_index as ai

    idx = str(tmp_path / "pol_idx")
    _rebuild_scenario(spark, idx)
    tot = ai.index_health(spark, idx).agg(
        F.sum("live_rows").alias("l"), F.sum("suppressed_rows").alias("d")
    ).collect()[0]
    live, dead = int(tot["l"]), int(tot["d"])
    assert dead * 10 <= live * 1 < dead * 20  # the fixture straddles

    assert ai.maybe_compact(spark, idx, 1, 10) is None
    raw = spark.read.parquet(idx)
    assert raw.filter(F.col("cell") == ai.TOMBSTONE_CELL).count() > 0

    hwm = ai.maybe_compact(spark, idx, 1, 20)
    assert hwm == 2
    assert not os.path.exists(idx + ".compact.lock")
    post = ai.index_health(spark, idx).agg(
        F.sum("suppressed_rows").alias("d")
    ).collect()[0]
    assert int(post["d"]) == 0
    assert ai.maybe_compact(spark, idx, 1, 20) is None

    import pytest

    with pytest.raises(ValueError, match="threshold"):
        ai.maybe_compact(spark, idx, 1, 0)


def _produce_stream(spark, stream_dir, n=200, n_shards=4, shard_map=None):
    """Send n small records through the full sink path into a durable
    FileStreamTransport stream; returns the ack rows."""
    from kinesis_producer_spark.streaming.kinesis_sink import KinesisSink
    from kinesis_producer_spark.streaming.kinesis_source import (
        FileStreamTransport,
    )

    df = spark.range(n).select(
        F.concat(F.lit("rec:"), F.col("id").cast("string")).alias("payload"),
        F.concat(F.lit("key"), (F.col("id") % 7).cast("string")).alias("pk"),
    )
    sink = KinesisSink(
        stream_name="s",
        transport_factory=lambda: FileStreamTransport(
            stream_dir, n_shards=n_shards, shard_map=shard_map
        ),
        max_retries=3,
        backoff_s=0.0,
    )
    return (
        sink.write_batch(df, data_col="payload", partition_key_col="pk")
        .localCheckpoint(eager=True)
        .collect()
    )


def test_kinesis_source_iterators_and_ordering(spark, tmp_path):
    """The consumer contracts pinned against the producer's own acks:
    (1) every successfully acked record appears in the stream EXACTLY
    ONCE, at exactly the (shard, sequence_number) the ack reported —
    including records whose first attempt was throttle-injected (the
    failed attempt must not land; the retry must); (2) per-shard
    sequence numbers are unique and the distributed read agrees with
    the driver-side GetRecords page walk record for record, in
    order; (3) TRIM_HORIZON paging with a small limit walks the whole
    shard without loss or duplication and AFTER_SEQUENCE_NUMBER
    resumes exactly after a consumed position."""
    from kinesis_producer_spark.streaming.kinesis_source import (
        get_records,
        get_shard_iterator,
        read_stream_records,
    )

    sd = str(tmp_path / "stream")
    acks = _produce_stream(spark, sd, n=200)
    assert all(a["status"] == "ok" for a in acks)
    assert any(a["attempts"] > 1 for a in acks)  # injection exercised

    # (1) ack ↔ stream agreement, exactly once
    consumed = read_stream_records(spark, sd).collect()
    got = {(r.shard_id, r.sequence_number): bytes(r.data) for r in consumed}
    assert len(got) == len(consumed) == 200  # unique (shard, seq)
    import hashlib

    for a in acks:
        key = (a["shard_id"], a["sequence_number"])
        assert key in got
        assert hashlib.md5(got[key]).hexdigest() == a["data_md5"]

    # (2)+(3) page walk per shard == distributed read, in order
    shards = sorted({r.shard_id for r in consumed})
    for sid in shards:
        walked = []
        it = get_shard_iterator(sd, sid)
        while True:
            page, it = get_records(sd, it, limit=7)
            if not page:
                break
            walked.extend(page)
        seqs = [r["SequenceNumber"] for r in walked]
        assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)
        dist = sorted(
            (r.sequence_number for r in consumed if r.shard_id == sid)
        )
        assert seqs == dist
        # resume strictly after a mid-shard position
        mid = seqs[len(seqs) // 2]
        page2, _ = get_records(
            sd,
            get_shard_iterator(sd, sid, "AFTER_SEQUENCE_NUMBER", mid),
            limit=10_000,
        )
        assert [r["SequenceNumber"] for r in page2] == [
            s for s in seqs if s > mid
        ]


def test_kinesis_consume_checkpoint_and_reshard(spark, tmp_path):
    """The incremental consumer pinned: (a) at-least-once + dedup on
    SequenceNumber — an uncommitted round re-serves exactly the same
    records, a committed one never re-serves them; (b) the resharding
    rule — after a mid-stream SplitShard, the children are NOT
    eligible until the closed parent is exhausted (per-key order
    across the boundary), then a later round serves exactly the
    children's records; (c) shard_generation orders parents strictly
    before children."""
    from kinesis_producer_spark.streaming.kinesis_sink import ShardMap
    from kinesis_producer_spark.streaming.kinesis_source import (
        ShardCheckpoint,
        consume_new_records,
        load_topology,
        shard_generation,
    )

    sd = str(tmp_path / "stream")
    smap = ShardMap.uniform(2)
    _produce_stream(spark, sd, n=60, n_shards=2, shard_map=smap)

    ck = ShardCheckpoint(str(tmp_path / "positions.json"))
    df1, pos1 = consume_new_records(spark, sd, ck)
    rows1 = {(r.shard_id, r.sequence_number) for r in df1.collect()}
    assert len(rows1) == 60
    # (a) crash before commit: the SAME records are re-served
    df1b, pos1b = consume_new_records(spark, sd, ck)
    assert {(r.shard_id, r.sequence_number) for r in df1b.collect()} == rows1
    assert pos1b == pos1
    ck.commit(pos1)
    df2, _ = consume_new_records(spark, sd, ck)
    assert df2.count() == 0  # committed → dedup'd

    # (b) mid-stream split; children receive the follow-on traffic
    parent = smap.open_shards()[0].shard_id
    c1, c2 = smap.split(parent)
    _produce_stream(spark, sd, n=40, n_shards=2, shard_map=smap)
    topo = load_topology(sd)
    assert not topo[parent]["open"]
    assert topo[c1]["parents"] == [parent] == topo[c2]["parents"]
    # (c) generations: parent 0, children 1
    assert shard_generation(topo, parent) == 0
    assert shard_generation(topo, c1) == 1

    # the parent was fully consumed+committed above, so the children
    # are eligible immediately — serve the new round
    df3, pos3 = consume_new_records(spark, sd, ck)
    got3 = df3.collect()
    new_shards = {r.shard_id for r in got3}
    assert new_shards <= {c1, c2, smap.open_shards()[-1].shard_id}
    n3 = len(got3)
    assert n3 == 40

    # now pin the DEFERRAL: rebuild the scenario with an unconsumed
    # parent — children must wait
    sd2 = str(tmp_path / "stream2")
    smap2 = ShardMap.uniform(2)
    _produce_stream(spark, sd2, n=30, n_shards=2, shard_map=smap2)
    p2 = smap2.open_shards()[0].shard_id
    d1, d2 = smap2.split(p2)
    _produce_stream(spark, sd2, n=30, n_shards=2, shard_map=smap2)
    ck2 = ShardCheckpoint(str(tmp_path / "positions2.json"))
    dfa, posa = consume_new_records(spark, sd2, ck2)
    served_a = {r.shard_id for r in dfa.collect()}
    assert d1 not in served_a and d2 not in served_a  # deferred
    n_a = dfa.count()
    ck2.commit(posa)
    dfb, posb = consume_new_records(spark, sd2, ck2)
    served_b = dfb.collect()
    assert {r.shard_id for r in served_b} <= {d1, d2}
    # conservation: rounds A+B together serve the whole stream exactly
    from kinesis_producer_spark.streaming.kinesis_source import (
        read_stream_records,
    )

    total2 = read_stream_records(spark, sd2).count()
    assert len(served_b) > 0 and n_a + len(served_b) == total2 == 60
    ck2.commit(posb)
    dfc, _ = consume_new_records(spark, sd2, ck2)
    assert dfc.count() == 0  # fully drained


def test_rebuild_index_with_trained_quantizers(spark, tmp_path):
    """rebuild_index(train_cells=True) — the production shape (the
    monitor fires BECAUSE the frozen quantizers drifted, so the
    rebuild retrains them): the rebuilt index must be ROW-IDENTICAL
    to a fresh trained bootstrap from the surviving corpus — same
    Lloyd protocol (train_ivf_centroids), same lowest-id PQ codebook
    — and the returned/persisted quantizers must equal the directly
    trained ones value for value. Also pins the bounded-sample seam
    (sample_rows) reaching the trainer: a full-corpus-covering sample
    is bit-identical to full training (the q267 property), exercised
    through the rebuild path."""
    from kinesis_producer_spark.operators.ann_artifacts import read_codebook
    from kinesis_producer_spark.operators.similarity import (
        _collect_codebook,
        train_ivf_centroids,
    )
    from kinesis_producer_spark.streaming import ann_index as ai

    idx = str(tmp_path / "trb_idx")
    cur = _rebuild_scenario(spark, idx)

    art = str(tmp_path / "trb_art.json")
    out = ai.rebuild_index(
        spark, cur, idx, n_centroids=16, m_dims=8, train_cells=True,
        n_cells=8, rounds=2, sample_rows=1000, artifact_path=art,
    )
    assert out["fired"] and out["hwm"] == 2

    # the directly trained quantizers (sample covers the corpus at
    # sf0.001: |cur| < 1000, so sampled == full training)
    cent = train_ivf_centroids(
        cur, n_cells=8, rounds=2, sample_rows=1000
    )
    cb = _collect_codebook(cur, "vec_id", "embedding", 16)
    assert out["centroids"] == cent and out["codebook"] == cb
    a = read_codebook(art)
    assert a["centroids"] == cent and a["codebook"] == cb
    assert a["meta"]["rounds"] == 2 and a["meta"]["sample_rows"] == 1000

    # rebuild-equivalence vs a fresh TRAINED bootstrap
    fresh = str(tmp_path / "trb_fresh")
    ai.bootstrap_index(
        cur, fresh, n_centroids=16, m_dims=8, centroids=cent, codebook=cb
    )
    rows = lambda p: {  # noqa: E731
        (r.vec_id, r.cell, tuple(r.codes))
        for r in ai.read_served_index(spark, p).collect()
    }
    assert rows(idx) == rows(fresh)
    # trained cells actually in use (more than the sign-bit 8 would
    # allow is not guaranteed at n_cells=8, but cells must be < 8)
    cells = {c for _v, c, _k in rows(idx)}
    assert cells <= set(range(8)) and len(cells) > 1


def test_kinesis_source_diamond_and_transitive_eligibility(spark, tmp_path):
    """Round-12 ADVICE regressions on the consumer's topology walk:

    (a) a split-then-merge DIAMOND (split p -> c1,c2; merge c1+c2 ->
        m — the canonical Kinesis scale-up-then-down reshard) is a
        legal DAG: shard_generation must NOT raise 'topology cycle'
        at the common ancestor (the old code used one shared visited
        set across sibling branches), and the merged child sits one
        generation past its deepest parent;
    (b) child eligibility is TRANSITIVE: after two quick reshards the
        closed intermediates (c1, c2) never received records and are
        trivially exhausted, but the GRANDPARENT p still holds
        unconsumed records for the same hash range — the merged
        grandchild m must be deferred until p is drained, else
        per-key ordering breaks across the reshard boundary;
    (c) the served frame is a SNAPSHOT: records appended after
        consume_new_records returns but before the caller
        materializes the DataFrame must not be served (they would be
        re-served next round — duplicates)."""
    from kinesis_producer_spark.streaming.kinesis_sink import ShardMap
    from kinesis_producer_spark.streaming.kinesis_source import (
        ShardCheckpoint,
        consume_new_records,
        load_topology,
        read_stream_records,
        shard_generation,
    )

    sd = str(tmp_path / "stream")
    smap = ShardMap.uniform(1)
    _produce_stream(spark, sd, n=20, n_shards=1, shard_map=smap)
    p = smap.open_shards()[0].shard_id
    c1, c2 = smap.split(p)
    m = smap.merge(c1, c2)
    # land the post-reshard traffic in the merged grandchild
    _produce_stream(spark, sd, n=20, n_shards=1, shard_map=smap)

    topo = load_topology(sd)
    # (a) diamond: generation computes, no false cycle
    assert shard_generation(topo, p) == 0
    assert shard_generation(topo, c1) == 1 == shard_generation(topo, c2)
    assert shard_generation(topo, m) == 2

    # (b) intermediates are closed and empty (trivially exhausted)...
    assert not topo[c1]["open"] and not topo[c2]["open"]
    per_shard = {
        r["shard_id"]: r["n"]
        for r in read_stream_records(spark, sd)
        .groupBy("shard_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert c1 not in per_shard and c2 not in per_shard
    assert per_shard == {p: 20, m: 20}
    # ...yet m must be deferred while grandparent p is unconsumed
    ck = ShardCheckpoint(str(tmp_path / "positions.json"))
    df1, pos1 = consume_new_records(spark, sd, ck)
    served1 = df1.collect()
    assert {r.shard_id for r in served1} == {p}
    assert len(served1) == 20
    ck.commit(pos1)
    # p drained -> the whole ancestry chain is exhausted -> m serves
    df2, pos2 = consume_new_records(spark, sd, ck)
    served2 = df2.collect()
    assert {r.shard_id for r in served2} == {m}
    assert len(served2) == 20
    ck.commit(pos2)

    # (c) snapshot pinning: take a consume round, then append MORE
    # records before materializing — the lazy frame must still serve
    # exactly the snapshot its committed positions describe.
    _produce_stream(spark, sd, n=15, n_shards=1, shard_map=smap)
    df3, pos3 = consume_new_records(spark, sd, ck)
    _produce_stream(spark, sd, n=15, n_shards=1, shard_map=smap)
    served3 = df3.collect()  # materialize AFTER the append
    assert len(served3) == 15
    assert max(r.sequence_number for r in served3) == pos3[m]
    ck.commit(pos3)
    # the appended records arrive in the NEXT round, exactly once
    df4, pos4 = consume_new_records(spark, sd, ck)
    assert df4.count() == 15
    ck.commit(pos4)
    total = read_stream_records(spark, sd).count()
    assert total == 70  # 20+20+15+15, conservation across all rounds


def test_shard_checkpoint_gc_identity_and_bounds(spark, tmp_path):
    """Round-12: KCL-style lease GC of the consumer checkpoint.
    (a) gc() retires closed+exhausted shards from `positions` into
    merged `done_ranges` (the growth bound: a long reshard history
    consolidates toward one range); (b) consumption is byte-identical
    across a GC — the same next round is served with and without it,
    and retired shards are never re-served; (c) done ancestors count
    as drained, so descendants stay eligible after their parents'
    entries are gone; (d) legacy flat-dict checkpoint files read
    transparently."""
    import json
    import shutil

    from kinesis_producer_spark.streaming.kinesis_sink import ShardMap
    from kinesis_producer_spark.streaming.kinesis_source import (
        ShardCheckpoint,
        consume_new_records,
    )

    sd = str(tmp_path / "stream")
    smap = ShardMap.uniform(2)
    _produce_stream(spark, sd, n=40, n_shards=2, shard_map=smap)
    ck = ShardCheckpoint(str(tmp_path / "pos.json"))
    df1, pos1 = consume_new_records(spark, sd, ck)
    assert df1.count() == 40
    ck.commit(pos1)

    # reshard history: split one shard, then merge the children back
    p = smap.open_shards()[0].shard_id
    c1, c2 = smap.split(p)
    _produce_stream(spark, sd, n=20, n_shards=2, shard_map=smap)
    df2, pos2 = consume_new_records(spark, sd, ck)
    n2 = df2.count()
    ck.commit(pos2)
    m = smap.merge(c1, c2)
    _produce_stream(spark, sd, n=20, n_shards=2, shard_map=smap)

    # (b) identity: snapshot the checkpoint, consume WITHOUT gc...
    ck2 = ShardCheckpoint(str(tmp_path / "pos_nogc.json"))
    shutil.copy(ck.path, ck2.path)
    df_nogc, pos_nogc = consume_new_records(spark, sd, ck2)
    served_nogc = {
        (r.shard_id, r.sequence_number) for r in df_nogc.collect()
    }
    # ...then gc the original and consume WITH it
    before = len(ck.read())
    retired = ck.gc(sd)
    assert retired > 0
    after_doc = ck._doc()
    # (a) positions shrank; retired shards live in merged ranges
    assert len(after_doc["positions"]) < before
    assert after_doc["done_ranges"]
    df_gc, pos_gc = consume_new_records(spark, sd, ck)
    served_gc = {(r.shard_id, r.sequence_number) for r in df_gc.collect()}
    assert served_gc == served_nogc and len(served_gc) == 20
    # (c) the merged shard m was served even though its parents' and
    # grandparent's entries may be gone
    assert any(s == m for s, _ in served_gc) or n2 == 0
    ck.commit(pos_gc)

    # retired shards never re-serve: a fresh round is empty
    df3, _ = consume_new_records(spark, sd, ck)
    assert df3.count() == 0
    # a second gc retires the rest of the closed history; ranges merge
    ck.gc(sd)
    doc = ck._doc()
    total_done = sum(hi - lo + 1 for lo, hi in doc["done_ranges"])
    assert total_done >= retired
    assert doc["done_ranges"] == sorted(doc["done_ranges"])

    # (d) legacy flat file: read() and consume still work
    legacy = ShardCheckpoint(str(tmp_path / "legacy.json"))
    with open(legacy.path, "w") as fh:
        json.dump({"shardId-000000000000": "0" * 23}, fh)
    assert legacy.read() == {"shardId-000000000000": "0" * 23}
    assert legacy.done_ranges() == []


def _put_batches(stream_dir, n_batches, tag, n_shards=2, keys=10, transport=None):
    """Put ``n_batches`` calls of ``keys`` records (keys k0..k<keys-1>, so
    every call lands one block on each shard those keys route to) straight
    through a ``FileStreamTransport``, with no failure injection. Returns
    the acked (shard, sequence number, data) triples."""
    from kinesis_producer_spark.streaming.kinesis_source import FileStreamTransport

    t = transport or FileStreamTransport(
        stream_dir, n_shards=n_shards, fail_first_attempt_prefix="x"
    )
    acked = []
    for b in range(n_batches):
        recs = [
            {"PartitionKey": f"k{j}", "Data": f"{tag}-{b}-{j}".encode()}
            for j in range(keys)
        ]
        resp = t.put_records("s", recs)
        assert resp["FailedRecordCount"] == 0
        acked += [
            (e["ShardId"], e["SequenceNumber"], r["Data"])
            for e, r in zip(resp["Records"], recs)
        ]
    return acked


def _block_files(stream_dir):
    return {
        os.path.join(root, f)
        for root, _, files in os.walk(stream_dir)
        for f in files
        if f.startswith("block-")
    }


def test_kinesis_consume_scans_only_new_blocks_without_jobs(spark, tmp_path, count_jobs):
    """After a committed round, ``consume_new_records`` chooses the new
    blocks on the driver: the call launches no Spark job, and the
    returned frame's input files are exactly the blocks published since
    the commit — the same number whether the log holds N or 4N blocks
    before them. Serving the frame yields exactly the new records, and
    its positions end at their last sequence numbers."""
    from urllib.parse import urlparse

    from kinesis_producer_spark.streaming.kinesis_source import (
        ShardCheckpoint,
        consume_new_records,
    )

    n_inputs = {}
    for n in (4, 16):
        sd = str(tmp_path / f"stream{n}")
        _put_batches(sd, n, "old")
        ck = ShardCheckpoint(str(tmp_path / f"pos{n}.json"))
        df, pos = consume_new_records(spark, sd, ck)
        assert df.count() == 10 * n
        ck.commit(pos)

        before = _block_files(sd)
        acked = _put_batches(sd, 3, "new")
        (df, pos), jobs = count_jobs(lambda: consume_new_records(spark, sd, ck))
        assert jobs == 0
        inputs = {urlparse(f).path for f in df.inputFiles()}
        assert inputs == _block_files(sd) - before
        n_inputs[n] = len(inputs)
        served = sorted(
            (r.shard_id, r.sequence_number, bytes(r.data)) for r in df.collect()
        )
        assert served == sorted(acked)
        assert pos == {
            sid: max(s for s2, s, _ in acked if s2 == sid)
            for sid in {s for s, _, _ in acked}
        }
    assert n_inputs[4] == n_inputs[16] > 0


def test_kinesis_consume_from_trim_horizon_reads_shard_directories(
    spark, tmp_path, count_jobs, monkeypatch
):
    """A shard consumed from its first block is read as its directory, so
    a first round over more blocks than Spark lists on the driver (32)
    launches no Spark job. Blocks a producer publishes after the run is
    chosen, before Spark lists the directory, are in the listing but not
    served: the frame stops at the new positions, and the late records
    arrive in the next round exactly once."""
    from urllib.parse import urlparse

    from kinesis_producer_spark.streaming import kinesis_source as ks

    sd = str(tmp_path / "stream")
    acked = _put_batches(sd, 24, "old")
    late = []
    real_records = ks._records

    def records_after_a_late_put(*args):
        late.extend(_put_batches(sd, 2, "late"))
        return real_records(*args)

    monkeypatch.setattr(ks, "_records", records_after_a_late_put)
    ck = ks.ShardCheckpoint(str(tmp_path / "pos.json"))
    (df, pos), jobs = count_jobs(lambda: ks.consume_new_records(spark, sd, ck))
    monkeypatch.undo()
    assert jobs == 0
    assert len(_block_files(sd)) > 32
    assert {urlparse(f).path for f in df.inputFiles()} == _block_files(sd)

    def rows(frame):
        return sorted(
            (r.shard_id, r.sequence_number, bytes(r.data)) for r in frame.collect()
        )

    assert rows(df) == sorted(acked)
    assert pos == {
        sid: max(q for s, q, _ in acked if s == sid) for sid in {s for s, _, _ in acked}
    }
    ck.commit(pos)
    assert rows(ks.consume_new_records(spark, sd, ck)[0]) == sorted(late)


def test_kinesis_reads_a_stream_under_a_glob_character_path(spark, tmp_path, count_jobs):
    """Spark reads each path it is given as a glob pattern; a stream
    directory whose path holds ``[`` is still read whole by
    ``read_stream_records`` and served once by ``consume_new_records``,
    from its shard directories and from block files past a position,
    with no Spark job in the consume call."""
    from kinesis_producer_spark.streaming import kinesis_source as ks

    sd = str(tmp_path / "glob[1]x" / "stream")
    first = _put_batches(sd, 3, "a")

    def rows(frame):
        return sorted((r.shard_id, r.sequence_number, bytes(r.data)) for r in frame.collect())

    assert rows(ks.read_stream_records(spark, sd)) == sorted(first)
    ck = ks.ShardCheckpoint(str(tmp_path / "pos.json"))
    (df, pos), jobs = count_jobs(lambda: ks.consume_new_records(spark, sd, ck))
    assert jobs == 0
    assert rows(df) == sorted(first)
    ck.commit(pos)
    second = _put_batches(sd, 2, "b")
    (df, pos), jobs = count_jobs(lambda: ks.consume_new_records(spark, sd, ck))
    assert jobs == 0
    assert rows(df) == sorted(second)
    assert rows(ks.read_stream_records(spark, sd)) == sorted(first + second)


def test_kinesis_consume_resumes_after_mid_block_position(spark, tmp_path):
    """A position committed from a ``get_records(limit=7)`` page falls
    inside a 10-record block: the next round re-reads that block and
    serves strictly after the position, so the pages plus the round
    cover the shard with no loss and no duplicate, and a committed round
    serves nothing more."""
    from kinesis_producer_spark.streaming.kinesis_source import (
        ShardCheckpoint,
        consume_new_records,
        get_records,
        get_shard_iterator,
    )

    sd = str(tmp_path / "stream")
    acked = _put_batches(sd, 3, "b", n_shards=1)
    (sid,) = {s for s, _, _ in acked}
    everything = sorted((s, q) for s, q, _ in acked)
    it = get_shard_iterator(sd, sid)
    paged = []
    for _ in range(4):  # positions 00000000.00006, 00000001.00003, ...
        page, it = get_records(sd, it, limit=7)
        paged += [(sid, r["SequenceNumber"]) for r in page]
        ck = ShardCheckpoint(str(tmp_path / f"pos-{len(paged)}.json"))
        ck.commit({sid: it["after"]})
        df, pos = consume_new_records(spark, sd, ck)
        served = [(r.shard_id, r.sequence_number) for r in df.collect()]
        assert all(q > it["after"] for _, q in served)
        assert sorted(paged + served) == everything
        assert pos == {sid: everything[-1][1]}
        ck.commit(pos)
        assert consume_new_records(spark, sd, ck)[0].count() == 0


def test_file_stream_transports_interleave_contiguous_blocks(spark, tmp_path, monkeypatch):
    """Two transports putting interleaved batches into one shard claim
    block indices without listing the shard directory, each stepping
    past the blocks the other one published. The blocks stay contiguous
    and unique, and every record reads back exactly once through
    ``read_stream_records`` and ``get_records``."""
    from kinesis_producer_spark.streaming.kinesis_source import (
        FileStreamTransport,
        get_records,
        get_shard_iterator,
        read_stream_records,
    )

    sd = str(tmp_path / "stream")
    listed = []
    real_listdir = os.listdir
    monkeypatch.setattr(os, "listdir", lambda p: listed.append(p) or real_listdir(p))
    a, b = (
        FileStreamTransport(sd, n_shards=1, fail_first_attempt_prefix="x")
        for _ in range(2)
    )
    acked = []
    for k, t in enumerate([a, b, a, a, b, b, b, a]):
        acked += _put_batches(sd, 1, f"w{k}", keys=5, transport=t)
    monkeypatch.undo()
    (sid,) = {s for s, _, _ in acked}
    assert os.path.join(sd, sid) not in listed
    assert sorted(os.listdir(os.path.join(sd, sid))) == [
        f"block-{k:08d}.jsonl" for k in range(8)
    ]
    acked = sorted(acked)
    assert len({q for _, q, _ in acked}) == 40
    scanned = sorted(
        (r.shard_id, r.sequence_number, bytes(r.data))
        for r in read_stream_records(spark, sd).collect()
    )
    assert scanned == acked
    page, _ = get_records(sd, get_shard_iterator(sd, sid))
    assert [(sid, r["SequenceNumber"], r["Data"]) for r in page] == acked


def test_first_free_block_finds_the_end_of_the_claimed_prefix(tmp_path):
    """The producer's claim starts at the first missing block index,
    found by existence checks over the contiguous claimed prefix."""
    from kinesis_producer_spark.streaming.kinesis_source import (
        _block_path,
        _first_free_block,
    )

    sdir = str(tmp_path)
    for n in range(40):
        assert _first_free_block(sdir) == n
        open(_block_path(sdir, n), "w").close()


def test_index_maintenance_writer_crash_matrix(spark, tmp_path, monkeypatch):
    """Round-12 (VERDICT r11 #5): the in-stream maintenance loop is
    exactly-once across a crash at EACH phase boundary. Scenario =
    q294's: add/upsert/delete epochs with a 1/20 health threshold
    (fires after the delete epoch), then a re-add epoch on the
    rebuilt index. Crash points: (a) between the delete epoch's
    commit and the rebuild — the re-delivered epoch is skipped by the
    ledger and the monitor re-fires on the same state; (b) mid-swap
    inside the rebuild (.compacting residue, old index intact) — the
    retry reruns the rebuild from scratch; (c) re-delivery of the
    delete epoch AFTER a successful rebuild — skipped (the carried
    watermark), and the monitor must NOT re-fire on the clean index.
    Each crashed run must end row-identical to the crash-free run."""
    import kinesis_producer_spark.streaming.ann_index as ann

    sf = "/root/testdata/sf0.001"
    from kinesis_producer_spark.tables import load_table

    e = load_table(spark, sf, "embeddings")
    neg = F.transform(F.col("embedding"), lambda x: -x)
    surv = e.filter(F.col("vec_id") % 30 != 0).withColumn(
        "embedding",
        F.when(F.col("vec_id") % 20 == 0, neg).otherwise(F.col("embedding")),
    )

    def batches():
        return [
            (0, e.filter(F.col("vec_id") % 10 == 0).select(
                "vec_id", "embedding", F.lit("add").alias("op"))),
            (1, e.filter(F.col("vec_id") % 20 == 0).select(
                "vec_id", neg.alias("embedding"), F.lit("upsert").alias("op"))),
            (2, e.filter(F.col("vec_id") % 30 == 0).select(
                "vec_id", "embedding", F.lit("delete").alias("op"))),
            (3, e.filter(F.col("vec_id") % 30 == 0).select(
                "vec_id", "embedding", F.lit("add").alias("op"))),
        ]

    def served_rows(idx):
        return {
            (r.vec_id, r.cell, tuple(r.codes) if r.codes else None, r.epoch)
            for r in ann.read_served_index(spark, idx).collect()
        }

    def fresh_writer(idx, cb):
        return ann.IndexMaintenanceWriter(
            idx, cb, corpus_provider=lambda s: surv,
            bits=3, m_dims=8, n_centroids=16,
            max_suppressed_num=1, max_suppressed_den=20,
        )

    # ---- crash-free reference run
    idx0 = str(tmp_path / "ref_idx")
    base = e.filter(F.col("vec_id") % 10 != 0)
    cb0 = ann.bootstrap_index(base, idx0, n_centroids=16, m_dims=8, bits=3)
    w0 = fresh_writer(idx0, cb0)
    for ep, bdf in batches():
        w0(bdf, ep)
    assert w0.rebuilds == 1
    ref = served_rows(idx0)

    # ---- (a) crash between epoch commit and rebuild
    idx_a = str(tmp_path / "idx_a")
    cb_a = ann.bootstrap_index(base, idx_a, n_centroids=16, m_dims=8, bits=3)
    w_a = fresh_writer(idx_a, cb_a)
    bs = batches()
    w_a(bs[0][1], 0)
    w_a(bs[1][1], 1)
    real_rebuild = ann.rebuild_index

    def boom(*a, **k):
        raise RuntimeError("injected crash before rebuild")

    monkeypatch.setattr(ann, "rebuild_index", boom)
    try:
        w_a(bs[2][1], 2)
        raise AssertionError("crash injection did not fire")
    except RuntimeError as exc:
        assert "injected crash" in str(exc)
    monkeypatch.setattr(ann, "rebuild_index", real_rebuild)
    # restart: fresh writer (old codebook), epoch 2 re-delivered
    w_a2 = fresh_writer(idx_a, cb_a)
    w_a2(bs[2][1], 2)  # ledger skips the apply; monitor re-fires
    assert w_a2.rebuilds == 1
    w_a2(bs[3][1], 3)
    assert served_rows(idx_a) == ref

    # ---- (b) crash mid-swap inside the rebuild
    idx_b = str(tmp_path / "idx_b")
    cb_b = ann.bootstrap_index(base, idx_b, n_centroids=16, m_dims=8, bits=3)
    w_b = fresh_writer(idx_b, cb_b)
    w_b(bs[0][1], 0)
    w_b(bs[1][1], 1)
    real_swap = ann._checked_swap

    def swap_boom(*a, **k):
        raise RuntimeError("injected crash mid-swap")

    monkeypatch.setattr(ann, "_checked_swap", swap_boom)
    try:
        w_b(bs[2][1], 2)
        raise AssertionError("swap crash injection did not fire")
    except RuntimeError as exc:
        assert "mid-swap" in str(exc)
    monkeypatch.setattr(ann, "_checked_swap", real_swap)
    # the old index must be intact (residue at .compacting only)
    assert os.path.isdir(idx_b)
    w_b2 = fresh_writer(idx_b, cb_b)
    w_b2(bs[2][1], 2)
    assert w_b2.rebuilds == 1
    w_b2(bs[3][1], 3)
    assert served_rows(idx_b) == ref

    # ---- (c) re-delivery AFTER a successful rebuild: skipped, and
    # the monitor does not re-fire on the clean index
    w0_rebuilds = w0.rebuilds
    w0(bs[2][1], 2)  # re-delivered delete epoch
    assert w0.rebuilds == w0_rebuilds  # no second rebuild
    assert served_rows(idx0) == ref

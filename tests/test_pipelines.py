"""End-to-end pipeline test (SURVEY.md §5.3): synthetic tar-of-XML →
unpack → flatten → partitioned CSV re-read → golden compare, plus the
produce stage against the recording transport."""

from __future__ import annotations

import io
import os
import sys
import tarfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from kinesis_producer_spark.pipelines import (  # noqa: E402
    flatten_day,
    produce_day,
    unpack_day,
    validate_arg,
)

NS = "http://uptake.com/bhp/1/sensors"


def _signal_xml(i: int, ts: str, site: str, rms: str) -> bytes:
    return (
        f'<NS1:message xmlns:NS1="{NS}"><NS1:messagePayload>'
        f"<NS1:vehicleIdentifier>veh_{i}</NS1:vehicleIdentifier>"
        f"<NS1:typeOfReading>ACOUSTIC</NS1:typeOfReading>"
        f"<NS1:readingTimestampUTC>{ts}</NS1:readingTimestampUTC>"
        f"<NS1:readingCollection>"
        f"<NS1:reading><NS1:attributeName>SiteName</NS1:attributeName>"
        f"<NS1:attributeValue>{site}</NS1:attributeValue></NS1:reading>"
        f"<NS1:reading><NS1:attributeName>RMSTotalDB</NS1:attributeName>"
        f"<NS1:attributeValue>{rms}</NS1:attributeValue>"
        f"<NS1:attributeUoM>db</NS1:attributeUoM></NS1:reading>"
        f"</NS1:readingCollection></NS1:messagePayload></NS1:message>"
    ).encode()


@pytest.fixture()
def lake(tmp_path):
    """unprocessed-raw/ACOUSTIC/year=2022/month=03/day=07/ with 2 tars
    of 3 XML files each."""
    day_dir = tmp_path / "unprocessed-raw" / "ACOUSTIC" / "year=2022" / "month=03" / "day=07"
    day_dir.mkdir(parents=True)
    n = 0
    for a in range(2):
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w") as tf:
            for _ in range(3):
                data = _signal_xml(
                    n, f"2022-03-07T0{n}:00:00", f"site_{n % 2}", f"{100 + n}.5"
                )
                info = tarfile.TarInfo(name=f"reading_{n}.xml")
                info.size = len(data)
                tf.addfile(info, io.BytesIO(data))
                n += 1
        (day_dir / f"archive_{a}.tar").write_bytes(buf.getvalue())
    return tmp_path


def test_unpack_flatten_produce_end_to_end(spark, lake):
    src = str(lake / "unprocessed-raw")
    compacted = str(lake / "unpacked-compacted-raw")
    flattened = str(lake / "flattened-raw")

    unpack_day(spark, src, compacted, "ACOUSTIC", "2022", "03", "07")
    recs = spark.read.json(f"{compacted}/ACOUSTIC/year=2022/month=03/day=07")
    assert recs.count() == 6
    assert set(recs.columns) >= {"payload", "tenant_id", "partition_id"}
    assert recs.select("tenant_id").distinct().collect()[0][0] == "bhp"

    flatten_day(spark, compacted, flattened, "ACOUSTIC", "2022", "03", "07")
    flat = spark.read.option("header", True).csv(
        f"{flattened}/ACOUSTIC/year=2022/month=03/day=07"
    )
    assert flat.count() == 6
    rows = {r["vehicleIdentifier"]: r for r in flat.collect()}
    for i in range(6):
        assert rows[f"veh_{i}"]["RMSTotalDB"] == f"{100 + i}.5"
        assert rows[f"veh_{i}"]["RMSTotalDB_UoM"] == "db"
        assert rows[f"veh_{i}"]["SiteName"] == f"site_{i % 2}"
        assert rows[f"veh_{i}"]["typeOfReading"] == "ACOUSTIC"

    from kinesis_producer_spark.streaming.kinesis_sink import KinesisSink, RecordingTransport

    transports: list[RecordingTransport] = []

    def factory():
        t = RecordingTransport(n_shards=2)
        transports.append(t)
        return t

    sink = KinesisSink(
        stream_name="e2e-stream", transport_factory=factory, max_retries=3, backoff_s=0.0
    )
    acks = produce_day(spark, compacted, "ACOUSTIC", sink, year="2022", month="03", day="07")
    got = acks.collect()
    assert len(got) == 6
    assert all(r["status"] == "ok" for r in got)
    assert all(r["partition_key"] == "ACOUSTIC" for r in got)


def test_validate_arg_rejects_unknown_domain():
    with pytest.raises(ValueError, match="reading_type"):
        validate_arg("SONAR", ["ACOUSTIC"], "reading_type")


def test_unpack_rejects_bad_type(spark, tmp_path):
    with pytest.raises(ValueError):
        unpack_day(spark, str(tmp_path), str(tmp_path), "NOT_A_TYPE", "2022", "01", "01")


def _compacted_slice(root, n_records: int, n_groups: int, n_files: int = 1) -> str:
    """A compacted ACOUSTIC day slice (the unpack stage's output layout):
    ``n_records`` messages over ``n_groups`` event times, in ``n_files``
    JSON-lines files."""
    import json

    day_dir = root / "compacted" / "ACOUSTIC" / "year=2022" / "month=03" / "day=07"
    day_dir.mkdir(parents=True)
    for f in range(n_files):
        with open(day_dir / f"part-{f:05d}.json", "w") as fh:
            for i in range(f, n_records, n_files):
                xml = _signal_xml(i, f"2022-03-07T{i % n_groups:02d}:00:00", f"site_{i % 2}", f"{100 + i}.5")
                fh.write(json.dumps({"payload": xml.decode(), "tenant_id": "bhp", "partition_id": "ACOUSTIC"}) + "\n")
    return str(root / "compacted")


def test_produce_day_jobs_do_not_grow_with_groups(spark, tmp_path, count_jobs):
    """Each event-time group is sent from the driver: 16 groups launch as
    many Spark jobs as 4 (only the sorted scan that forms the groups)."""
    from kinesis_producer_spark.streaming.kinesis_sink import KinesisSink, RecordingTransport

    jobs = {}
    for n_groups in (4, 16):
        src = _compacted_slice(tmp_path / f"groups{n_groups}", 32, n_groups)
        sink = KinesisSink(
            "s", lambda: RecordingTransport(fail_first_attempt_prefix="zz"), backoff_s=0.0
        )
        acks, jobs[n_groups] = count_jobs(
            lambda: produce_day(spark, src, "ACOUSTIC", sink, year="2022", month="03", day="07").collect()
        )
        assert len(acks) == 32 and all(a.status == "ok" for a in acks)
    assert jobs[4] == jobs[16], jobs


def test_signal_flatten_day_runs_at_most_three_jobs(spark, tmp_path, count_jobs):
    """One vocabulary discovery (names, UoM names and envelope keys
    together) plus the CSV write. The slice has a file per core, as an
    unpacked day does, so the parser's fan-out adds no repartition."""
    src = _compacted_slice(tmp_path, 32, 4, n_files=spark.sparkContext.defaultParallelism)
    dst = str(tmp_path / "flattened")
    _, jobs = count_jobs(lambda: flatten_day(spark, src, dst, "ACOUSTIC", "2022", "03", "07"))
    assert jobs <= 3, jobs
    flat = spark.read.option("header", True).csv(f"{dst}/ACOUSTIC/year=2022/month=03/day=07")
    rows = {r["vehicleIdentifier"]: r for r in flat.collect()}
    assert len(rows) == 32
    assert rows["veh_5"]["RMSTotalDB"] == "105.5" and rows["veh_5"]["RMSTotalDB_UoM"] == "db"
    assert "SiteName_UoM" not in flat.columns


def test_key_vocabulary_matches_separate_collects(spark):
    """The shared discovery returns, per tag, exactly what one
    distinct().collect() per vocabulary returned: sorted, nulls dropped,
    UoM names only where a UoM is present, and a row's null array drops
    only that array's keys."""
    from kinesis_producer_spark.operators.eav_pivot import key_vocabulary, reading_keys

    df = spark.createDataFrame(
        [
            ({"b": "1", "a": "2"}, [("x", "1", "kg"), ("y", "2", None), (None, "3", "m"), ("x", "4", None)]),
            ({"c": "1"}, [("z", "5", None), ("w", "6", "s")]),
            (None, [("v", "7", None)]),
            ({"d": "1"}, None),
            ({}, []),
        ],
        "envelope map<string,string>, readings array<struct<name:string,value:string,uom:string>>",
    )

    def separate(keys):
        return sorted(
            r[0]
            for r in df.select(F.explode(keys).alias("k")).where(F.col("k").isNotNull()).distinct().collect()
        )

    keys = {"envelope": F.map_keys("envelope"), **reading_keys(F.col("readings"))}
    vocab = key_vocabulary(df, **keys)
    assert vocab == {tag: separate(k) for tag, k in keys.items()}
    assert vocab == {"envelope": ["a", "b", "c", "d"], "names": ["v", "w", "x", "y", "z"], "uoms": ["w", "x"]}

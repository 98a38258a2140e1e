"""Unit tests for the XML/ETL operator library (SURVEY.md §5.1)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from kinesis_producer_spark.operators.eav_pivot import pivot_declared, pivot_dynamic  # noqa: E402
from kinesis_producer_spark.operators.flatten import flatten_components  # noqa: E402
from kinesis_producer_spark.operators.splitter import split_concatenated  # noqa: E402
from kinesis_producer_spark.sources.xml import (  # noqa: E402
    parse_component_docs,
    parse_signal_messages,
)

NS = "http://uptake.com/bhp/1/sensors"
CNS = "http://www.uptake.com/bhp/1/vehicleComponent"


def _msg(readings: str, envelope: str = "<NS1:siteId>s1</NS1:siteId>") -> str:
    return (
        f'<NS1:message xmlns:NS1="{NS}"><NS1:messagePayload>{envelope}'
        f"<NS1:readingCollection>{readings}</NS1:readingCollection>"
        f"</NS1:messagePayload></NS1:message>"
    )


def _reading(name: str, value: str | None, uom: str | None = None) -> str:
    v = f"<NS1:attributeValue>{value}</NS1:attributeValue>" if value is not None else ""
    u = f"<NS1:attributeUoM>{uom}</NS1:attributeUoM>" if uom is not None else ""
    return f"<NS1:reading><NS1:attributeName>{name}</NS1:attributeName>{v}{u}</NS1:reading>"


def test_signal_parse_and_declared_pivot(spark):
    xml = _msg(_reading("speed", "42", "kph") + _reading("RMSTotalDB", "7.5"))
    df = spark.createDataFrame([(xml,)], "payload string")
    parsed = parse_signal_messages(df)
    wide = pivot_declared(parsed).collect()[0]
    assert wide["speed"] == "42"
    assert wide["speed_UoM"] == "kph"
    assert wide["RMSTotalDB"] == "7.5"
    assert wide["weight"] is None  # declared-but-absent → null
    assert wide["envelope"]["siteId"] == "s1"


def test_duplicate_attribute_last_wins(spark):
    # reference semantics: dict assignment → last write wins
    xml = _msg(_reading("speed", "1") + _reading("speed", "2"))
    df = spark.createDataFrame([(xml,)], "payload string")
    wide = pivot_declared(parse_signal_messages(df)).collect()[0]
    assert wide["speed"] == "2"


def test_undeclared_reading_goes_to_extras(spark):
    xml = _msg(_reading("speed", "1") + _reading("MysteryReading", "9"))
    df = spark.createDataFrame([(xml,)], "payload string")
    wide = pivot_declared(parse_signal_messages(df)).collect()[0]
    assert wide["extras"] == {"MysteryReading": "9"}


def test_dynamic_pivot_accretes_columns(spark):
    rows = [(_msg(_reading("a", "1")),), (_msg(_reading("b", "2", "u")),)]
    df = spark.createDataFrame(rows, "payload string")
    wide = pivot_dynamic(parse_signal_messages(df))
    assert set(wide.columns) >= {"a", "b", "b_UoM"}
    got = {r["a"]: (r["b"], r["b_UoM"]) for r in wide.collect()}
    assert got == {"1": (None, None), None: ("2", "u")}


def test_permissive_routes_corrupt_failfast_raises(spark):
    rows = [(_msg(_reading("a", "1")),), ("<broken", )]
    df = spark.createDataFrame(rows, "payload string")
    out = parse_signal_messages(df, mode="PERMISSIVE").collect()
    corrupt = [r for r in out if r["_corrupt_record"] is not None]
    assert len(corrupt) == 1 and "ParseError" in corrupt[0]["_corrupt_record"]

    with pytest.raises(Exception, match="Malformed XML"):
        parse_signal_messages(df, mode="FAILFAST").collect()


def test_unknown_collection_is_error(spark):
    xml = (
        f'<NS1:message xmlns:NS1="{NS}"><NS1:messagePayload>'
        f"<NS1:weirdCollection><NS1:x>1</NS1:x></NS1:weirdCollection>"
        f"</NS1:messagePayload></NS1:message>"
    )
    df = spark.createDataFrame([(xml,)], "payload string")
    out = parse_signal_messages(df).collect()[0]
    assert "Unknown collection" in out["_corrupt_record"]


def test_firehose_record_lists_envelope_then_each_reading_with_its_uom(spark):
    """``data_out``'s JSON holds the envelope attributes in their declared
    order, then each declared reading followed by its ``_UoM`` companion,
    and the transform adds only ``_corrupt_record``, ``result`` and
    ``data_out`` to the input's columns."""
    import base64
    import json

    from kinesis_producer_spark.operators.eav_pivot import (
        DECLARED_READINGS,
        ENVELOPE_ATTRS,
        READINGS_W_UOM,
    )
    from kinesis_producer_spark.streaming.transform import firehose_transform

    envelope = "".join(f"<NS1:{a}>{a}-v</NS1:{a}>" for a in reversed(ENVELOPE_ATTRS))
    readings = "".join(
        _reading(n, f"{n}-v", "u" if n in READINGS_W_UOM else None)
        for n in reversed(DECLARED_READINGS)
    )
    b64 = base64.b64encode(_msg(readings, envelope).encode()).decode()
    out = firehose_transform(spark.createDataFrame([(7, b64)], "id int, data string"))
    assert out.columns == ["id", "data", "_corrupt_record", "result", "data_out"]
    row = out.collect()[0]
    assert row["result"] == "Ok"
    record = json.loads(base64.b64decode(row["data_out"]), object_pairs_hook=list)
    expected = [(a, f"{a}-v") for a in ENVELOPE_ATTRS]
    for n in DECLARED_READINGS:
        expected.append((n, f"{n}-v"))
        if n in READINGS_W_UOM:
            expected.append((f"{n}_UoM", "u"))
    assert record == expected


def _component(code: str | None, children: str = "", attrs: str = "", name: str = "") -> str:
    c = f"<NS1:componentCode>{code}</NS1:componentCode>" if code is not None else ""
    n = f"<NS1:componentName>{name}</NS1:componentName>" if name else ""
    a = f"<NS1:componentAttributeCollection>{attrs}</NS1:componentAttributeCollection>" if attrs else ""
    s = f"<NS1:subcomponentCollection>{children}</NS1:subcomponentCollection>" if children else ""
    return f"<NS1:component>{c}{n}{a}{s}</NS1:component>"


def _vc_doc(components: str, scalars: str = "<NS1:vehicleIdentifier>v1</NS1:vehicleIdentifier>") -> str:
    return (
        f'<NS1:vehicleComponent xmlns:NS1="{CNS}">{scalars}'
        f"<NS1:componentCollection>{components}</NS1:componentCollection>"
        f"</NS1:vehicleComponent>"
    )


def test_component_flatten_four_levels(spark):
    xml = _vc_doc(
        _component("a", children=_component("b", children=_component("c", children=_component("d"))))
    )
    df = spark.createDataFrame([(xml,)], "payload string")
    flat = flatten_components(parse_component_docs(df), include_depth=True)
    rows = {r["componentCode"]: r for r in flat.collect()}
    assert rows["a"]["parent_code"] is None and rows["a"]["depth"] == 0
    assert rows["b"]["parent_code"] == "a" and rows["b"]["depth"] == 1
    assert rows["c"]["parent_code"] == "b"
    assert rows["d"]["parent_code"] == "c" and rows["d"]["depth"] == 3
    # document scalar broadcast onto every row
    assert all(r["vehicleIdentifier"] == "v1" for r in rows.values())


def test_component_missing_code_and_one_element_attr(spark):
    attr_full = (
        "<NS1:attribute><NS1:attributeName>sn</NS1:attributeName>"
        "<NS1:attributeValue>123</NS1:attributeValue></NS1:attribute>"
    )
    attr_nameonly = "<NS1:attribute><NS1:attributeName>note</NS1:attributeName></NS1:attribute>"
    xml = _vc_doc(_component(None, attrs=attr_full + attr_nameonly, name="anon"))
    df = spark.createDataFrame([(xml,)], "payload string")
    flat = flatten_components(parse_component_docs(df))
    row = flat.collect()[0]
    assert row["componentName"] == "anon"
    assert row["sn"] == "123"
    assert row["note"] is None
    assert row["parent_code"] is None


def test_splitter_drops_blanks_and_reassembles(spark):
    tag = "</NS1:message>"
    blob = f"  <a>1</a>{tag}\n\n<a>2</a>{tag}   \n"
    df = spark.createDataFrame([(blob,)], "blob string")
    out = split_concatenated(df, "blob", tag).select("payload").collect()
    assert sorted(r["payload"] for r in out) == [f"<a>1</a>\n{tag}", f"<a>2</a>\n{tag}"]


def test_sinks_partitioned_roundtrip(spark, tmp_path):
    from kinesis_producer_spark.sinks import write_hive_partitioned_csv, write_jsonlines

    df = spark.createDataFrame(
        [("ACOUSTIC", "2022", "a"), ("IMPACT", "2022", "b")], "reading_type string, year string, v string"
    )
    csv_path = str(tmp_path / "csv")
    write_hive_partitioned_csv(df, csv_path, partition_by=["reading_type", "year"])
    back = spark.read.option("header", True).csv(csv_path)
    assert sorted(r["v"] for r in back.collect()) == ["a", "b"]
    assert {r["reading_type"] for r in back.collect()} == {"ACOUSTIC", "IMPACT"}

    json_path = str(tmp_path / "json")
    write_jsonlines(df, json_path, partition_by=["reading_type"], max_records_per_file=1000)
    assert spark.read.json(json_path).count() == 2


def test_schema_codegen(spark):
    from kinesis_producer_spark.plans.codegen import accessor_code, schema_code, snake_case

    df = spark.createDataFrame([(1, "x")], "MsgId long, vehicleIdentifier string")
    code = schema_code(df)
    assert "T.StructField('MsgId', T.LongType(), True)" in code
    assert snake_case("vehicleIdentifier") == "vehicle_identifier"
    assert "vehicle_identifier = df['vehicleIdentifier']" in accessor_code(df)


def test_pii_redaction(spark):
    from kinesis_producer_spark.operators.text import pii_counts, redact_pii

    rows = [
        ("mail a.b-c_d%x+1@sub.example.co and 212-555-0142 end",),
        ("no pii here",),
        ("twice x@y.org z@w.io; ph 999-000-1234 555-123-4567",),
        ("digits 123-45-6789 are not a phone; 12-345-6789 neither",),
    ]
    df = spark.createDataFrame(rows, "text string")
    pc = pii_counts("text")
    out = df.select(
        pc["n_emails"].alias("e"), pc["n_phones"].alias("p"),
        redact_pii("text").alias("r"),
    ).collect()
    assert [(r["e"], r["p"]) for r in out] == [(1, 1), (0, 0), (2, 2), (0, 0)]
    assert out[0]["r"] == "mail [EMAIL] and [PHONE] end"
    assert out[2]["r"] == "twice [EMAIL] [EMAIL]; ph [PHONE] [PHONE]"
    assert out[3]["r"] == rows[3][0]


def test_word_repetition_model(spark):
    """q96 semantics vs a pure-Python model on a tiny frame."""
    from kinesis_producer_spark.operators.llm_queries import q96_word_repetition  # noqa: F401
    from collections import Counter

    texts = {1: "a a a b", 2: "x y z", 3: "q"}
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    w = df.select("doc_id", F.explode(F.split("text", r"\s+")).alias("word"))
    c = w.groupBy("doc_id", "word").count()
    m = {
        r["doc_id"]: (r["n"], r["d"], r["mx"])
        for r in c.groupBy("doc_id")
        .agg(
            F.sum("count").alias("n"),
            F.count(F.lit(1)).alias("d"),
            F.max("count").alias("mx"),
        )
        .collect()
    }
    for doc_id, text in texts.items():
        cnt = Counter(text.split())
        assert m[doc_id] == (sum(cnt.values()), len(cnt), max(cnt.values()))


def test_png_wav_header_parsers_on_real_bytes(spark):
    """Genuine container bytes (wave module writes a real WAV; PNG built
    per spec with struct) must parse to their true header fields."""
    import io
    import struct
    import wave
    import zlib

    from kinesis_producer_spark.operators.multimodal import (
        _parse_png_ihdr,
        _parse_wav_fmt,
        decode_headers,
    )

    # Real minimal PNG: signature + IHDR + IDAT + IEND with valid CRCs.
    def chunk(ctype: bytes, body: bytes) -> bytes:
        crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + ctype + body + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", 640, 480, 8, 2, 0, 0, 0)
    raw = zlib.compress(b"\x00" + b"\x00\x00\x00" * 640)  # one RGB scanline
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", raw)
        + chunk(b"IEND", b"")
    )
    p = _parse_png_ihdr(png)
    assert p == {
        "media_type": "image/png",
        "width": 640,
        "height": 480,
        "bit_depth": 8,
        "color_type": 2,
        "n_channels": 3,
    }

    # Real WAV via the stdlib wave writer.
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(44100)
        w.writeframes(b"\x00\x00" * 8)
    wav = buf.getvalue()
    q = _parse_wav_fmt(wav)
    assert q == {
        "media_type": "audio/wav",
        "audio_format": 1,
        "n_channels": 2,
        "sample_rate": 44100,
        "bits_per_sample": 16,
    }

    # And through the Spark operator, including an unknown-format row.
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(wav)), (3, bytearray(b"JUNKJUNK"))],
        "media_id long, content binary",
    )
    rows = {r["media_id"]: r.asDict() for r in decode_headers(df).collect()}
    assert rows[1]["width"] == 640 and rows[1]["n_channels"] == 3
    assert rows[2]["sample_rate"] == 44100 and rows[2]["bits_per_sample"] == 16
    assert rows[3]["media_type"] == "application/octet-stream"
    assert rows[3]["width"] is None and rows[3]["sample_rate"] is None


def test_manifest_sink_roundtrip(spark, tmp_path):
    """Manifest entries carry the reference's <type>_<rows>_<bytes>
    naming contract and per-file counts that sum to df.count()."""
    import json
    import os

    from kinesis_producer_spark.sinks import write_with_manifest

    df = spark.range(100).selectExpr(
        "id", "CAST(id % 3 AS STRING) AS bucket", "repeat('x', 10) AS payload"
    )
    path = str(tmp_path / "out")
    entries = write_with_manifest(
        df, path, fmt="json", partition_by=["bucket"], dataset_type="acoustic"
    )
    assert entries, "no part files found"
    assert sum(e["n_rows"] for e in entries) == 100
    for e in entries:
        assert e["name_tag"] == f"acoustic_{e['n_rows']}_{e['n_bytes']}"
        assert os.path.getsize(os.path.join(path, e["file"])) == e["n_bytes"]
    # the manifest on disk matches the returned entries
    with open(os.path.join(path, "_manifest.jsonl")) as fh:
        on_disk = [json.loads(line) for line in fh]
    assert on_disk == entries
    # re-read of the data itself still matches
    assert spark.read.json(path).count() == 100


def test_manifest_rename_on_commit(spark, tmp_path):
    """rename_parts=True embeds the metadata in the filename itself,
    matching reference decompression.py:46-48 naming."""
    from kinesis_producer_spark.sinks import write_with_manifest

    df = spark.range(10).selectExpr("id", "'v' AS v").coalesce(1)
    path = str(tmp_path / "renamed")
    entries = write_with_manifest(
        df, path, fmt="json", dataset_type="impact", rename_parts=True
    )
    assert len(entries) == 1
    e = entries[0]
    assert e["file"] == f"impact_10_{e['n_bytes']}.json"
    assert spark.read.json(path + "/" + e["file"]).count() == 10


def test_jpeg_gif_header_parsers_on_real_bytes():
    """JPEG SOF walk and GIF screen descriptor parse genuine byte
    layouts, including skipping APP0/DQT segments before the frame."""
    import struct

    from kinesis_producer_spark.operators.multimodal import (
        _parse_gif_screen,
        _parse_jpeg_sof,
    )

    # JPEG: SOI + APP0(JFIF) + DQT filler + SOF0 (progressive walk).
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    dqt = b"\xff\xdb" + struct.pack(">H", 67) + bytes(65)
    sof0 = (
        b"\xff\xc0"
        + struct.pack(">H", 17)
        + struct.pack(">BHHB", 8, 1080, 1920, 3)
        + bytes(9)
    )
    jpeg = b"\xff\xd8" + app0 + dqt + sof0 + b"\xff\xd9"
    j = _parse_jpeg_sof(jpeg)
    assert j == {
        "media_type": "image/jpeg",
        "bit_depth": 8,
        "height": 1080,
        "width": 1920,
        "n_channels": 3,
    }
    # progressive SOF2 also matches; truncated-before-SOF returns None
    assert _parse_jpeg_sof(jpeg.replace(b"\xff\xc0", b"\xff\xc2"))["width"] == 1920
    assert _parse_jpeg_sof(b"\xff\xd8" + app0) is None

    # GIF89a: width=320 height=200, 8-bit global palette.
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + bytes([0xF7, 0, 0])
    g = _parse_gif_screen(gif)
    assert g == {
        "media_type": "image/gif",
        "width": 320,
        "height": 200,
        "bit_depth": 8,
        "n_channels": 1,
    }
    assert _parse_gif_screen(b"GIF90a" + bytes(7)) is None


def test_pcm_decode_on_real_wave_file(spark):
    """decode_audio_pcm on a stdlib-wave-written file with known
    samples: peak/mean/RMS must match values computed from the source
    samples, and a non-PCM blob yields null features."""
    import io
    import math
    import struct
    import wave

    from kinesis_producer_spark.operators.multimodal import decode_audio_pcm

    samples = [100, -200, 300, -400, 500]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<5h", *samples))
    df = spark.createDataFrame(
        [(1, bytearray(buf.getvalue())), (2, bytearray(b"OggSjunk"))],
        "media_id long, content binary",
    )
    rows = {r["media_id"]: r.asDict() for r in decode_audio_pcm(df).collect()}
    r = rows[1]
    assert r["n_samples"] == 5
    assert r["sample_rate"] == 8000
    assert r["duration_ms"] == math.floor(5 * 1000 / 8000 + 0.5)
    assert r["peak"] == 500
    assert r["mean_milli"] == math.floor(1000 * sum(samples) / 5 + 0.5)
    assert r["rms"] == math.floor(math.sqrt(sum(s * s for s in samples) / 5) + 0.5)
    assert rows[2]["n_samples"] is None and rows[2]["rms"] is None


def test_bmp_pixel_roundtrip_and_nearest_neighbor_resize(spark):
    """Exact pixel semantics on a patterned bitmap: encode → parse is
    the identity, and NN-resize maps dst (x,y) to src
    (x·w0//w, y·h0//h) pixel-for-pixel."""
    import numpy as np

    from kinesis_producer_spark.operators.multimodal import (
        _encode_bmp,
        _parse_bmp,
        decode_bmp_stats,
        resize_bmp,
    )

    rgb = np.array(
        [[[255, 0, 0], [0, 255, 0], [0, 0, 255]],
         [[10, 20, 30], [40, 50, 60], [70, 80, 90]]],
        dtype=np.uint8,
    )  # 2 rows x 3 cols
    bmp = _encode_bmp(rgb)
    w, h, back = _parse_bmp(bmp)
    assert (w, h) == (3, 2)
    assert np.array_equal(back, rgb), "encode→parse must be the identity"

    df = spark.createDataFrame([(1, bytearray(bmp)), (2, bytearray(b"nope"))],
                               "media_id long, content binary")
    out = {r["media_id"]: r for r in resize_bmp(df, width=6, height=4).collect()}
    assert out[2]["resized"] is None
    rw, rh, resized = _parse_bmp(bytes(out[1]["resized"]))
    assert (rw, rh) == (6, 4)
    expect = rgb[(np.arange(4) * 2) // 4][:, (np.arange(6) * 3) // 6]
    assert np.array_equal(resized, expect), "NN index map must be exact"

    stats = {r["media_id"]: r for r in decode_bmp_stats(df).collect()}
    m = stats[1]
    flat = rgb.reshape(-1, 3).mean(axis=0)
    assert m["mean_r_milli"] == int(np.floor(1000 * flat[0] + 0.5))
    assert m["mean_b_milli"] == int(np.floor(1000 * flat[2] + 0.5))
    assert stats[2]["width"] is None


def test_avi_demux_ordering_alignment_and_stride(spark):
    """Handcrafted AVI: distinct frames, odd lengths (pad bytes), an
    audio '01wb' chunk to ignore, and an hdrl LIST to skip. Sampling
    stride and per-frame identity are exact."""
    import hashlib
    import struct

    from kinesis_producer_spark.operators.multimodal import sample_frames_avi

    frames = [f"FRAME-{i}".encode() + bytes(i % 2) for i in range(5)]  # mixed parity
    movi = b"movi"
    for i, fr in enumerate(frames):
        movi += b"00dc" + struct.pack("<I", len(fr)) + fr + (b"\x00" if len(fr) % 2 else b"")
        if i == 1:  # interleaved audio chunk must be ignored
            movi += b"01wb" + struct.pack("<I", 4) + b"AUDI"
    hdrl = b"LIST" + struct.pack("<I", 4) + b"hdrl"
    avi = b"RIFF" + struct.pack("<I", 4 + len(hdrl) + 8 + len(movi)) + b"AVI " + hdrl
    avi += b"LIST" + struct.pack("<I", len(movi)) + movi

    df = spark.createDataFrame([(1, bytearray(avi))], "media_id long, content binary")
    rows = sorted(
        (r["frame_idx"], r["frame_bytes"], r["frame_md5"])
        for r in sample_frames_avi(df, every_n=2, max_frames=8).collect()
    )
    assert [i for i, _, _ in rows] == [0, 2, 4], "stride must skip odd frames and audio"
    for i, nbytes, md5 in rows:
        assert nbytes == len(frames[i])
        assert md5 == hashlib.md5(frames[i]).hexdigest()
    # non-AVI → no rows
    junk = spark.createDataFrame([(2, bytearray(b"RIFFxxxxWAVE"))], "media_id long, content binary")
    assert sample_frames_avi(junk).count() == 0


def test_compact_small_files(spark, tmp_path):
    """64 tiny files compact into few target-sized files with identical
    data; an already-compact dataset is left untouched."""
    from kinesis_producer_spark.sinks import compact_small_files

    path = str(tmp_path / "ds")
    df = spark.range(10000).selectExpr("id", "id % 7 AS v")
    df.repartition(64).write.parquet(path)
    before = sorted(map(tuple, spark.read.parquet(path).collect()))

    stats = compact_small_files(spark, path, target_bytes=256 * 1024)
    assert stats["files_before"] == 64
    assert stats["files_after"] < 64
    after = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert after == before, "compaction must not change data"

    again = compact_small_files(spark, path, target_bytes=256 * 1024, min_files=1000)
    assert again["files_before"] == again["files_after"], "below min_files → no-op"


def test_truncated_jpeg_header_is_permissive():
    """A JPEG truncated mid-frame-header must parse to None (PERMISSIVE),
    not raise inside the worker."""
    import struct

    from kinesis_producer_spark.operators.multimodal import _parse_jpeg_sof

    # SOF at pos 2; blob ends exactly 5 body bytes after the marker+len
    truncated = b"\xff\xd8" + b"\xff\xc0" + struct.pack(">H", 17) + bytes(5)
    assert _parse_jpeg_sof(truncated) is None
    # one more byte = complete 6-byte frame header → parses
    complete = b"\xff\xd8" + b"\xff\xc0" + struct.pack(">H", 17) + struct.pack(
        ">BHHB", 8, 10, 20, 3
    )
    p = _parse_jpeg_sof(complete)
    assert p["width"] == 20 and p["height"] == 10


def test_manifest_csv_rowcounts_exact(spark, tmp_path):
    """CSV manifest counts must equal df.count() — the read-back must
    not consume a data row as a header."""
    from kinesis_producer_spark.sinks import write_with_manifest

    df = spark.range(30).selectExpr("CAST(id AS STRING) AS id", "'x' AS v").coalesce(3)
    entries = write_with_manifest(df, str(tmp_path / "csvout"), fmt="csv", dataset_type="t")
    assert sum(e["n_rows"] for e in entries) == 30


def test_compaction_crash_recovery(spark, tmp_path):
    """Interrupted-run states heal: a stranded ._old with no live
    dataset is restored; a stale ._old beside a live dataset and a
    stale ._compacting are discarded."""
    import os
    import shutil

    from kinesis_producer_spark.sinks import compact_small_files

    path = str(tmp_path / "ds")
    spark.range(1000).selectExpr("id").repartition(8).write.parquet(path)
    rows = spark.read.parquet(path).count()

    # crash between the two renames: dataset lives only in ._old
    os.rename(path, path + "._old")
    stats = compact_small_files(spark, path, target_bytes=64 * 1024)
    assert spark.read.parquet(path).count() == rows
    assert not os.path.exists(path + "._old")

    # crash after the swap: stale ._old and ._compacting beside live data
    shutil.copytree(path, path + "._old")
    os.makedirs(path + "._compacting")
    compact_small_files(spark, path, target_bytes=64 * 1024)
    assert not os.path.exists(path + "._old")
    assert not os.path.exists(path + "._compacting")
    assert spark.read.parquet(path).count() == rows
    assert stats["files_before"] == 8


def test_bmp_and_flac_header_decode(spark):
    """decode_headers dispatches BMP (via the pixel parser's header
    walk) and FLAC STREAMINFO (packed 20/3/5-bit fields), including a
    FLAC whose STREAMINFO sits behind another metadata block."""
    import numpy as np

    from kinesis_producer_spark.operators.multimodal import (
        _encode_bmp,
        _parse_flac_streaminfo,
        decode_headers,
    )

    bmp = _encode_bmp(np.zeros((4, 6, 3), dtype=np.uint8))

    def flac(rate, channels, bps, prefix_block=False):
        bits = (rate << 12) | ((channels - 1) << 9) | ((bps - 1) << 4)
        body = bytes(10) + bits.to_bytes(4, "big") + bytes(4 + 16)
        stream = b"\x00" + len(body).to_bytes(3, "big") + body
        blocks = (b"\x04" + (3).to_bytes(3, "big") + b"xyz") if prefix_block else b""
        return b"fLaC" + blocks + stream

    f1 = flac(44100, 2, 16)
    f2 = flac(96000, 6, 24, prefix_block=True)
    p = _parse_flac_streaminfo(f2)
    assert p == {
        "media_type": "audio/flac",
        "sample_rate": 96000,
        "n_channels": 6,
        "bits_per_sample": 24,
    }
    df = spark.createDataFrame(
        [(1, bytearray(bmp)), (2, bytearray(f1)), (3, bytearray(f2))],
        "media_id long, content binary",
    )
    rows = {r["media_id"]: r.asDict() for r in decode_headers(df).collect()}
    assert rows[1]["media_type"] == "image/bmp"
    assert (rows[1]["width"], rows[1]["height"], rows[1]["n_channels"]) == (6, 4, 3)
    assert rows[2]["sample_rate"] == 44100 and rows[2]["bits_per_sample"] == 16
    assert rows[3]["n_channels"] == 6


def test_riff_sniff_disambiguates_form_type():
    """RIFF is a container family: the form type at bytes 8-12 decides
    WAV vs AVI vs WebP (a bare 'RIFF' prefix must not read as audio)."""
    from kinesis_producer_spark.operators.multimodal import _sniff

    assert _sniff(b"RIFF\x24\x00\x00\x00WAVEfmt ") == "audio/wav"
    assert _sniff(b"RIFF\x24\x00\x00\x00AVI LIST") == "video/x-msvideo"
    assert _sniff(b"RIFF\x24\x00\x00\x00WEBPVP8 ") == "image/webp"
    assert _sniff(b"RIFF\x24\x00\x00\x00JUNK....") == "application/x-riff"
    assert _sniff(b"RIFF") == "application/x-riff"  # truncated: still RIFF family


def test_jpeg_fill_bytes_before_markers():
    """JPEG permits runs of 0xFF fill bytes before a marker; the SOF
    walk must skip them rather than parse a fill byte as a sized
    segment (which misreads the length field)."""
    import struct

    from kinesis_producer_spark.operators.multimodal import _parse_jpeg_sof

    sof0 = (
        b"\xff\xc0"
        + struct.pack(">H", 17)
        + struct.pack(">BHHB", 8, 480, 640, 3)
        + bytes(9)
    )
    # fill bytes between SOI and SOF0, and a padded APP0 before it
    app0 = b"\xff\xe0" + struct.pack(">H", 4) + b"\x00\x00"
    jpeg = b"\xff\xd8" + b"\xff\xff\xff" + app0 + b"\xff\xff" + sof0 + b"\xff\xd9"
    j = _parse_jpeg_sof(jpeg)
    assert j is not None and (j["width"], j["height"]) == (640, 480)


def test_stereo_wav_duration_counts_frames(spark):
    """Stereo PCM: n_samples counts interleaved samples but duration
    is frames/rate — a 2-channel 8000 Hz file with 8000 interleaved
    samples lasts 500 ms, not 1000 ms."""
    import io
    import struct
    import wave

    from kinesis_producer_spark.operators.multimodal import decode_audio_pcm

    n_frames = 4000
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack(f"<{2 * n_frames}h", *([100, -100] * n_frames)))
    df = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()))], "media_id long, content binary"
    )
    r = decode_audio_pcm(df).collect()[0].asDict()
    assert r["n_samples"] == 2 * n_frames
    assert r["duration_ms"] == 500


def test_malformed_wav_fmt_yields_null_not_crash(spark):
    """A fmt chunk with sample_rate=0, zero channels, or a non-PCM
    audio format must yield the documented null row, not divide by
    zero inside the Spark task."""
    import struct

    from kinesis_producer_spark.operators.multimodal import decode_audio_pcm

    def wav(audio_format=1, channels=1, rate=8000, bps=16):
        fmt = struct.pack("<HHIIHH", audio_format, channels, rate, rate * 2, 2, bps)
        data = struct.pack("<4h", 1, -1, 2, -2)
        body = b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
        body += b"data" + struct.pack("<I", len(data)) + data
        return b"RIFF" + struct.pack("<I", len(body)) + body

    df = spark.createDataFrame(
        [
            (1, bytearray(wav())),  # healthy control
            (2, bytearray(wav(rate=0))),
            (3, bytearray(wav(channels=0))),
            (4, bytearray(wav(audio_format=3))),  # IEEE float, not PCM
        ],
        "media_id long, content binary",
    )
    rows = {r["media_id"]: r.asDict() for r in decode_audio_pcm(df).collect()}
    assert rows[1]["n_samples"] == 4 and rows[1]["duration_ms"] == 1
    for mid in (2, 3, 4):
        assert rows[mid]["n_samples"] is None and rows[mid]["rms"] is None


def test_jpeg_codec_roundtrip_and_rejection():
    """Pure-numpy baseline JPEG codec: bit-exact round-trip on
    block-flat content with the flat-16 quant table, bounded error on
    smooth natural content with the standard Annex K tables, edge
    padding on non-multiple-of-8 dims, and None (not an exception) on
    junk, truncation, and progressive frames."""
    import numpy as np

    from kinesis_producer_spark.operators.jpeg import (
        FLAT16_QUANT,
        decode_baseline_jpeg,
        encode_baseline_jpeg,
    )

    rng = np.random.default_rng(42)
    vals = (rng.integers(0, 64, size=(3, 4)) * 4 + 2).astype(np.uint8)
    img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
    blob = encode_baseline_jpeg(img, luma_quant=FLAT16_QUANT)
    assert np.array_equal(decode_baseline_jpeg(blob), img)

    # gray-valued RGB flat: chroma lands exactly on 128, luma exact
    rgb = np.full((16, 24, 3), 106, np.uint8)
    blob3 = encode_baseline_jpeg(rgb, luma_quant=FLAT16_QUANT, chroma_quant=FLAT16_QUANT)
    assert np.array_equal(decode_baseline_jpeg(blob3), rgb)

    # lossy path with standard tables: smooth gradient, small error
    xs = np.arange(40)
    smooth = (128 + 80 * np.sin(xs[:, None] / 6.0) * np.cos(xs[None, :] / 9.0)).clip(
        0, 255
    ).astype(np.uint8)
    dec = decode_baseline_jpeg(encode_baseline_jpeg(smooth))
    assert dec.shape == smooth.shape
    assert np.abs(dec.astype(int) - smooth.astype(int)).max() <= 16

    # odd dimensions survive the pad-and-crop
    odd = np.full((13, 21), 76, np.uint8)
    assert decode_baseline_jpeg(encode_baseline_jpeg(odd, luma_quant=FLAT16_QUANT)).shape == (13, 21)

    # rejection: junk, truncation, and a progressive (SOF2) frame
    assert decode_baseline_jpeg(b"not a jpeg") is None
    assert decode_baseline_jpeg(blob[:30]) is None
    assert decode_baseline_jpeg(blob.replace(b"\xff\xc0", b"\xff\xc2", 1)) is None
    assert decode_baseline_jpeg(blob, max_bytes=10) is None


def test_decode_and_resize_media_real_jpeg_path(spark):
    """decode_media produces real pixel stats for baseline JPEG (no
    stub involved even in 'fail' mode), and resize_media emits a
    decodable JPEG thumbnail of the requested size."""
    import numpy as np

    from kinesis_producer_spark.operators.jpeg import (
        FLAT16_QUANT,
        decode_baseline_jpeg,
        encode_baseline_jpeg,
    )
    from kinesis_producer_spark.operators.multimodal import decode_media, resize_media

    img = np.repeat(
        np.repeat(np.array([[50, 130], [210, 26]], np.uint8), 8, 0), 8, 1
    )
    blob = encode_baseline_jpeg(img, luma_quant=FLAT16_QUANT)
    df = spark.createDataFrame([(1, bytearray(blob))], "media_id long, content binary")

    r = decode_media(df, decode_stub="fail").collect()[0].asDict()
    assert (r["width"], r["height"], r["n_channels"]) == (16, 16, 1)
    expected_mean = img.mean() / 255.0
    # feature is array<float> — float32 storage, so ~1e-7 precision
    assert abs(r["feature"][0] - expected_mean) < 1e-6

    rz = resize_media(df, width=8, height=8, decode_stub="fail").collect()[0]
    thumb = decode_baseline_jpeg(bytes(rz["resized"]))
    assert thumb.shape == (8, 8)
    # nearest-neighbor of a block-flat image keeps the four quadrant
    # values (re-encode uses the standard tables, so allow quant noise)
    assert abs(int(thumb[0, 0]) - 50) <= 4
    assert abs(int(thumb[0, 7]) - 130) <= 8


def test_html_extraction_hardened_cases(spark):
    """Hand-pinned real-markup hazards through q250's rule chain:
    quoted-attribute '>', stray '<' in prose, unclosed tags,
    script/style/comment content, the full entity set, and the
    one-level double-escape decode (&amp;amp; -> &amp; — pins the
    resume-after-replacement global-replace semantics both engines
    share)."""
    from kinesis_producer_spark.operators.llm_queries import _html_clean

    cases = [
        ('<div class="content" data-note="a>b">hi</div>', "hi"),
        ("<p>1 < 2 and 3 > 2</p>", "1 < 2 and 3 > 2"),
        ("<b>unclosed bold", "unclosed bold"),
        ("<script>var x = 1 > 0 && y;</script>ok", "ok"),
        ("<style>body > p { }</style>ok", "ok"),
        ("<!-- a > b -->ok", "ok"),
        ("x &amp;amp; y", "x &amp; y"),
        ("&lt;tag&gt; stays text", "<tag> stays text"),
        ("&#39;q&#34;&nbsp;z", "'q\" z"),
        ("<a href='/x' title='hi>there'>link</a>", "link"),
        ("<!doctype html><p>t</p>", "t"),
        ("a <notatag", "a <notatag"),  # unterminated: survives as text
        # round-8 hardening: attribute-carrying / mixed-case block
        # tags must drop their CONTENT, not leak JS/CSS as prose
        ('<script src="/x.js" async>var a = 1;</script>ok', "ok"),
        ("<SCRIPT TYPE='text/javascript'>1 > 0 && q</SCRIPT>ok", "ok"),
        ('<style media="screen">p > b { }</style>ok', "ok"),
        ('<NAV class=menu><a href="/">home</a></NAV>ok', "ok"),
        ('<script data-note="a>b">leaky</script>ok', "ok"),
        ("<footer >(c) corp</footer >ok", "ok"),
    ]
    df = spark.createDataFrame(
        [(i, raw) for i, (raw, _) in enumerate(cases)], "i long, raw string"
    )
    got = {
        r.i: r.clean
        for r in df.select("i", _html_clean(F.col("raw")).alias("clean")).collect()
    }
    want = {i: exp for i, (_, exp) in enumerate(cases)}
    assert got == want, (got, want)
    # and the chain is engine-portable: DuckDB's RE2 produces the
    # identical bytes for every case
    import duckdb

    from kinesis_producer_spark.operators.llm_queries import _html_clean_sql

    for raw, exp in cases:
        lit = raw.replace("'", "''")
        out = duckdb.sql(
            f"SELECT {_html_clean_sql('v')} FROM (SELECT '{lit}' AS v)"
        ).fetchone()[0]
        assert out == exp, (raw, out, exp)


def test_html_extraction_never_throws_property(spark):
    """Adversarial random markup: the chain never throws, clean never
    exceeds raw, and the content ratio stays in [0, 1e6] — run as one
    Spark job over the whole generated corpus (a per-example job would
    be minutes)."""
    import random

    from kinesis_producer_spark.operators.llm_queries import _html_clean

    rng = random.Random(7)
    alphabet = list("<>&\"'; #/!=abc xyz-")
    rows = []
    for i in range(400):
        n = rng.randint(1, 60)
        rows.append((i, "".join(rng.choice(alphabet) for _ in range(n))))
    df = spark.createDataFrame(rows, "i long, raw string")
    out = df.select(
        "i",
        F.length("raw").cast("bigint").alias("n_raw"),
        F.length(_html_clean(F.col("raw"))).cast("bigint").alias("n_clean"),
    ).collect()
    assert len(out) == 400
    for r in out:
        assert 0 <= r.n_clean <= r.n_raw, (r.i, r.n_raw, r.n_clean)
        ratio = (1_000_000 * r.n_clean) // r.n_raw
        assert 0 <= ratio <= 1_000_000

"""Seeded, deterministic input generator for the benchmark.

Everything the engine reads is produced here from one ``random.Random``
seeded by ``--seed``; the same seed gives byte-identical files. Each
function returns the ground truth the correctness gates compare against.
Nothing here imports Spark or the engine.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import random
import tarfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIGNAL_TYPES = ("ACOUSTIC", "IMPACT", "TEMPERATURE", "VISUAL")
COMPONENT_TYPE = "vehicleComponent"
SENSOR_NS = "http://uptake.com/bhp/1/sensors"
COMPONENT_NS = "http://www.uptake.com/bhp/1/vehicleComponent"

# Per-type reading vocabulary: (name, UoM or None). Each message carries
# a random subset, so the dynamic pivot's width depends on the input.
READINGS = {
    "ACOUSTIC": [
        ("RMSTotalDB", "db"), ("RMSBandDB", "db"), ("LooseFrettingDB", "db"),
        ("RollerDB", "db"), ("CupDB", "db"), ("ConeDB", "db"), ("NoisyDB", "db"),
        ("RMSBandWheelflatDB", "db"), ("WheelflatDB", "db"), ("TrainAxleNumber", None),
        ("VehicleAxleNumber", None), ("speed", "kph"),
    ],
    "IMPACT": [
        ("weight", "t"), ("vertical_peak", "kN"), ("speed", "kph"), ("TrainAxleNumber", None),
        ("VehicleAxleNumber", None), ("ImpactRatio", None), ("DynamicLoad", "kN"),
        ("PeakLoadLeft", "kN"), ("PeakLoadRight", "kN"), ("WheelDiameter", "mm"),
    ],
    "TEMPERATURE": [
        ("WHEEL_TEMPERATURE", "C"), ("BEARING_TEMPERATURE", "C"), ("AmbientTemperature", "C"),
        ("speed", "kph"), ("TrainAxleNumber", None), ("VehicleAxleNumber", None),
        ("HubDelta", "C"), ("SensorGain", None), ("BrakeTemperature", "C"),
        ("BearingTrend", None), ("HotBoxIndex", None),
    ],
    "VISUAL": [
        ("BrokenSpringDefect", None), ("WheelProfileScore", None), ("FlangeHeight", "mm"),
        ("FlangeThickness", "mm"), ("TreadHollow", "mm"), ("RimThickness", "mm"),
        ("speed", "kph"), ("TrainAxleNumber", None), ("VehicleAxleNumber", None),
        ("ImageCount", None), ("Confidence", None), ("BackToBack", "mm"),
        ("CouplerHeight", "mm"), ("BrakeShoeWear", "mm"),
    ],
}

SITES = ("Hedland", "Newman", "Yandi", "Jimblebar", "Goldsworthy", "Mining Area C")


def _milli(v: int) -> str:
    """An integer count of thousandths as a fixed 3-decimal string, so
    value sums are exact integers on both sides of the check."""
    return f"{v // 1000}.{v % 1000:03d}"


def signal_message(rng: random.Random, rtype: str, rec_id: str, ts: str) -> tuple[str, dict[str, int]]:
    """One signal message (envelope + EAV readings) and its readings as
    ``{name: value in thousandths}``. ``rec_id`` lands in
    ``componentIdentifier`` so every message is unique and traceable."""
    vocab = READINGS[rtype]
    picked = rng.sample(vocab, rng.randint(3, min(12, len(vocab))))
    readings: dict[str, int] = {}
    parts = []
    for name, uom in picked:
        v = rng.randrange(0, 1_000_000)
        readings[name] = v
        u = f"<NS1:attributeUoM>{uom}</NS1:attributeUoM>" if uom else ""
        parts.append(
            f"<NS1:reading><NS1:attributeName>{name}</NS1:attributeName>"
            f"<NS1:attributeValue>{_milli(v)}</NS1:attributeValue>{u}</NS1:reading>"
        )
    xml = (
        f'<NS1:message xmlns:NS1="{SENSOR_NS}"><NS1:messagePayload>'
        f"<NS1:vehicleIdentifier>veh_{rng.randrange(400):03d}</NS1:vehicleIdentifier>"
        f"<NS1:componentIdentifier>{rec_id}</NS1:componentIdentifier>"
        f"<NS1:positionInTrain>{rng.randint(1, 240)}</NS1:positionInTrain>"
        f"<NS1:typeOfReading>{rtype}</NS1:typeOfReading>"
        f"<NS1:readingTimestampUTC>{ts}</NS1:readingTimestampUTC>"
        f"<NS1:readingLocation>{rng.choice(SITES)}</NS1:readingLocation>"
        f"<NS1:sourceSystem>wayside-{rng.randint(1, 9)}</NS1:sourceSystem>"
        f"<NS1:readingCollection>{''.join(parts)}</NS1:readingCollection>"
        f"</NS1:messagePayload></NS1:message>"
    )
    return xml, readings


def component_doc(rng: random.Random, doc_id: str) -> tuple[str, int, int]:
    """One vehicleComponent tree; returns (xml, n_components, sum of
    weightKg over components that carry it)."""
    count = 0
    weight = 0

    def component(depth: int) -> str:
        nonlocal count, weight
        count += 1
        code = f"{doc_id}-c{count}"
        attrs = []
        if rng.random() < 0.8:
            w = rng.randrange(1, 50_000)
            weight += w
            attrs.append(
                f"<NS1:attribute><NS1:name>weightKg</NS1:name><NS1:value>{w}</NS1:value></NS1:attribute>"
            )
        if rng.random() < 0.5:
            attrs.append(
                f"<NS1:attribute><NS1:name>serialNo</NS1:name>"
                f"<NS1:value>SN{rng.randrange(10**6):06d}</NS1:value></NS1:attribute>"
            )
        if rng.random() < 0.2:  # one-element attribute: name only, null value
            attrs.append("<NS1:attribute><NS1:name>inspected</NS1:name></NS1:attribute>")
        subs = ""
        if depth < 3:
            kids = [component(depth + 1) for _ in range(rng.choice((0, 0, 1, 2, 3)))]
            if kids:
                subs = f"<NS1:subcomponentCollection>{''.join(kids)}</NS1:subcomponentCollection>"
        a = f"<NS1:componentAttributeCollection>{''.join(attrs)}</NS1:componentAttributeCollection>" if attrs else ""
        return (
            f"<NS1:component><NS1:componentCode>{code}</NS1:componentCode>"
            f"<NS1:componentName>part-{rng.randrange(60)}</NS1:componentName>{a}{subs}</NS1:component>"
        )

    tops = "".join(component(0) for _ in range(rng.randint(1, 3)))
    xml = (
        f'<NS1:vehicleComponent xmlns:NS1="{COMPONENT_NS}">'
        f"<NS1:vehicleIdentifier>veh_{rng.randrange(400):03d}</NS1:vehicleIdentifier>"
        f"<NS1:docTag>{doc_id}</NS1:docTag>"
        f"<NS1:componentCollection>{tops}</NS1:componentCollection></NS1:vehicleComponent>"
    )
    return xml, count, weight


def tar_bytes(members: list[tuple[str, bytes]]) -> bytes:
    """A byte-deterministic tar archive (zeroed mtime/owner fields)."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        for name, data in members:
            info = tarfile.TarInfo(name=name)
            info.size = len(data)
            info.mtime = 0
            info.uid = info.gid = 0
            info.uname = info.gname = ""
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def md5_hex(data: bytes) -> str:
    return hashlib.md5(data).hexdigest()


# ---------------------------------------------------------------------------
# reference_pipeline: tar archives of signal XML + vehicleComponent trees
# ---------------------------------------------------------------------------


def reference_lake(
    rng: random.Random,
    root: str,
    day: str,
    messages_per_type: int,
    members_per_archive: int,
    groups_per_type: int,
    docs_per_component_slice: int,
) -> dict:
    """Write one day slice per reading type under
    ``root/<type>/year=2024/month=03/day=<day>/archive-NNN.tar``.

    Signal messages of one type spread over ``groups_per_type`` distinct
    event times, so several messages share each replay group. Returns
    per-type ground truth: message count, per-reading value sums and
    UoM presence, and the md5 of every payload (the replay ack key)."""
    truth: dict = {}
    for rtype in SIGNAL_TYPES:
        times = [f"2024-03-{day}T{m // 60:02d}:{m % 60:02d}:00"
                 for m in sorted(rng.sample(range(24 * 60), groups_per_type))]
        sums: dict[str, int] = {}
        counts: dict[str, int] = {}
        md5s = []
        members = []
        for i in range(messages_per_type):
            xml, readings = signal_message(rng, rtype, f"{rtype[:3]}-{day}-{i:06d}", times[i % groups_per_type])
            for k, v in readings.items():
                sums[k] = sums.get(k, 0) + v
                counts[k] = counts.get(k, 0) + 1
            data = xml.encode()
            md5s.append(md5_hex(data))
            members.append((f"msg-{i:06d}.xml", data))
        _write_archives(root, rtype, day, members, members_per_archive)
        truth[rtype] = {"rows": messages_per_type, "sums": sums, "counts": counts,
                        "md5s": md5s, "groups": groups_per_type}
    members = []
    n_components = 0
    weight = 0
    for i in range(docs_per_component_slice):
        xml, n, w = component_doc(rng, f"d{day}-{i:05d}")
        n_components += n
        weight += w
        members.append((f"doc-{i:05d}.xml", xml.encode()))
    _write_archives(root, COMPONENT_TYPE, day, members, members_per_archive)
    truth[COMPONENT_TYPE] = {"rows": n_components, "docs": docs_per_component_slice, "weight": weight}
    return truth


def _write_archives(root: str, rtype: str, day: str, members: list, per_archive: int) -> None:
    d = os.path.join(root, rtype, "year=2024", "month=03", f"day={day}")
    os.makedirs(d, exist_ok=True)
    for a in range(0, len(members), per_archive):
        with open(os.path.join(d, f"archive-{a // per_archive:03d}.tar"), "wb") as fh:
            fh.write(tar_bytes(members[a:a + per_archive]))


# ---------------------------------------------------------------------------
# stream_loop: open-loop JSON-lines files of signal XML
# ---------------------------------------------------------------------------


def stream_files(rng: random.Random, n_files: int, records_per_file: int, tag: str) -> list[dict]:
    """Pre-generated stream files: each is ``{"name", "records": [{rec_id,
    partition_key, data}]}``. Due times are stamped when the file lands
    (they depend on the run's start), not here."""
    files = []
    for f in range(n_files):
        recs = []
        for r in range(records_per_file):
            rtype = rng.choice(SIGNAL_TYPES)
            rec_id = f"{tag}{f:05d}-{r:03d}"
            ts = f"2024-03-07T{rng.randrange(24):02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}"
            xml, _ = signal_message(rng, rtype, rec_id, ts)
            recs.append({"rec_id": rec_id, "partition_key": rtype, "data": xml})
        files.append({"name": f"{tag}{f:05d}", "records": recs})
    return files


def stream_file_bytes(file: dict, due_ms: int) -> bytes:
    """The landed form of one stream file: one JSON object per record,
    each stamped with the file's due time."""
    return "".join(
        json.dumps({**r, "due_ms": due_ms}, sort_keys=True) + "\n" for r in file["records"]
    ).encode()


# ---------------------------------------------------------------------------
# curate_llm: documents with planted duplicates + clustered embeddings
# ---------------------------------------------------------------------------


def _vocabulary(rng: random.Random, size: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < size:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 9))))
    return sorted(words)


def documents(
    rng: random.Random,
    n_docs: int,
    exact_share: float,
    near_share: float,
    max_edits: int,
    vocab_size: int = 6000,
) -> tuple[list[tuple[int, str]], dict]:
    """``n_docs`` documents: originals of random Zipf-weighted words, plus
    planted exact copies and near copies (1..``max_edits`` word
    substitutions) of originals. Ids are shuffled so copies are not
    adjacent. Returns the rows and the plant."""
    vocab = _vocabulary(rng, vocab_size)
    weights = [1.0 / (i + 1) ** 0.8 for i in range(len(vocab))]
    n_exact = int(n_docs * exact_share)
    n_near = int(n_docs * near_share)
    n_orig = n_docs - n_exact - n_near
    texts = [" ".join(rng.choices(vocab, weights, k=rng.randint(40, 90))) for _ in range(n_orig)]
    kinds = [("orig", i) for i in range(n_orig)]
    for _ in range(n_exact):
        src = rng.randrange(n_orig)
        texts.append(texts[src])
        kinds.append(("exact", src))
    for _ in range(n_near):
        src = rng.randrange(n_orig)
        words = texts[src].split(" ")
        for pos in rng.sample(range(len(words)), rng.randint(1, max_edits)):
            repl = rng.choice(vocab)
            while repl == words[pos]:
                repl = rng.choice(vocab)
            words[pos] = repl
        texts.append(" ".join(words))
        kinds.append(("near", src))
    ids = list(range(n_docs))
    rng.shuffle(ids)
    rows = [(ids[i], texts[i]) for i in range(n_docs)]
    orig_id = {i: ids[i] for i in range(n_orig)}
    groups: dict[int, list[int]] = {}
    for i, (kind, src) in enumerate(kinds):
        if kind == "exact":
            groups.setdefault(src, [orig_id[src]]).append(ids[i])
    exact_groups = sorted(sorted(g) for g in groups.values())
    rep = {orig_id[s]: min(g) for s, g in groups.items()}
    near_pairs = sorted(
        tuple(sorted((rep.get(orig_id[src], orig_id[src]), ids[i])))
        for i, (kind, src) in enumerate(kinds)
        if kind == "near"
    )
    return rows, {"exact_groups": exact_groups, "near_pairs": near_pairs}


def embeddings(
    rng: random.Random, n_vectors: int, n_queries: int, dim: int, n_clusters: int, spread: float
) -> tuple[np.ndarray, np.ndarray]:
    """Clustered corpus and queries drawn from the same clusters, rounded
    to 4 decimals so the engine and the numpy reference see the same
    numbers."""
    g = np.random.default_rng(rng.randrange(2**32))
    centers = g.normal(0.0, 1.0, size=(n_clusters, dim))
    corpus = centers[g.integers(0, n_clusters, n_vectors)] + g.normal(0.0, spread, size=(n_vectors, dim))
    queries = centers[g.integers(0, n_clusters, n_queries)] + g.normal(0.0, spread, size=(n_queries, dim))
    return np.round(corpus, 4), np.round(queries, 4)


def write_parquet(path: str, table: pa.Table) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def docs_table(rows: list[tuple[int, str]]) -> pa.Table:
    return pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                     "text": pa.array([r[1] for r in rows], pa.string())})


def vectors_table(ids: list[int], vecs: np.ndarray, id_col: str) -> pa.Table:
    return pa.table({id_col: pa.array(ids, pa.int64()),
                     "embedding": pa.array(vecs.tolist(), pa.list_(pa.float64()))})

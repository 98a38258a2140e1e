"""The generator is deterministic: the same seed gives the same bytes."""

import hashlib
import os
import random

from perfbench import gen, wl_curate, wl_reference, wl_stream


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_reference_lake_is_byte_identical_per_seed(tmp_path):
    a = wl_reference.generate(7, str(tmp_path / "a"), 8)
    b = wl_reference.generate(7, str(tmp_path / "b"), 8)
    c = wl_reference.generate(8, str(tmp_path / "c"), 8)
    da, db, dc = (_tree_digest(x["dir"]) for x in (a, b, c))
    assert da and da == db
    assert da != dc
    assert a["truth"] == b["truth"]


def test_curate_inputs_are_byte_identical_per_seed(tmp_path):
    a = wl_curate.generate(3, str(tmp_path / "a"), 8)
    b = wl_curate.generate(3, str(tmp_path / "b"), 8)
    assert _tree_digest(a["dir"]) == _tree_digest(b["dir"])
    assert a["plant"] == b["plant"]


def test_stream_files_are_byte_identical_per_seed():
    a = wl_stream.generate(5, "unused", 8)
    b = wl_stream.generate(5, "unused", 8)
    for key in ("steady", "burst", "warm"):
        assert [gen.stream_file_bytes(f, 1234) for f in a[key]] == [
            gen.stream_file_bytes(f, 1234) for f in b[key]
        ]


def test_planted_duplicates():
    rows, plant = gen.documents(random.Random(1), 500, 0.1, 0.1, 3, vocab_size=900)
    text = dict(rows)
    assert len(text) == 500
    for group in plant["exact_groups"]:
        assert len({text[i] for i in group}) == 1
    assert sum(len(g) - 1 for g in plant["exact_groups"]) == 50
    assert len(plant["near_pairs"]) == 50
    for a, b in plant["near_pairs"]:
        wa, wb = text[a].split(" "), text[b].split(" ")
        assert len(wa) == len(wb)
        assert 1 <= sum(x != y for x, y in zip(wa, wb)) <= 3

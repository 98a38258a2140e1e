"""curate_llm: closed loop over seeded documents and clustered embeddings.

The measured window has two closed loops. The first runs the curation
pipeline ``text.analyze`` → ``dedup.exact_dedup`` →
``dedup.minhash_dedup`` over the whole corpus, again and again; the
second serves the query sample through ``similarity.ivf_topk_multiprobe``
one small batch per call, cycling over the batches.
``similarity.brute_force_topk`` gives the exact answer the recall and
the numpy gate are measured against.
"""

from __future__ import annotations

import os
import random
import time

import numpy as np
from pyspark.sql import functions as F

from perfbench import gen
from perfbench.harness import Tracer, keep_going
from perfbench.stats import summarize

N_DOCS = 1200
EXACT_SHARE = 0.08
NEAR_SHARE = 0.08
MAX_EDITS = 3
N_VECTORS = 4000
N_QUERIES = 16
QUERY_BATCH = 4
DIM = 32
CLUSTERS = 24
SPREAD = 0.35
TOPK = 10
# Share of the measured window given to the curation loop; the rest
# serves queries. One curation pass takes about three query calls, so
# both loops get several samples for their medians.
CURATE_SHARE = 0.7


def generate(seed: int, work: str, seconds: float) -> dict:
    rng = random.Random(seed)
    rows, plant = gen.documents(rng, N_DOCS, EXACT_SHARE, NEAR_SHARE, MAX_EDITS)
    corpus, queries = gen.embeddings(rng, N_VECTORS, N_QUERIES, DIM, CLUSTERS, SPREAD)
    d = os.path.join(work, "curate")
    gen.write_parquet(f"{d}/docs/part-0.parquet", gen.docs_table(rows))
    gen.write_parquet(f"{d}/corpus/part-0.parquet", gen.vectors_table(list(range(N_VECTORS)), corpus, "vec_id"))
    gen.write_parquet(f"{d}/queries/part-0.parquet", gen.vectors_table(list(range(N_QUERIES)), queries, "query_id"))
    return {"dir": d, "plant": plant, "corpus": corpus, "queries": queries}


def _curate(spark, src: str, out: str, tracer) -> tuple[list, list, dict[str, float]]:
    """One pass of the curation pipeline; returns the duplicate groups,
    the verified near-duplicate pairs, and the time of each call."""
    from kinesis_producer_spark.operators import dedup, text
    from kinesis_producer_spark.sinks import write_hive_partitioned_parquet

    docs = spark.read.parquet(f"{src}/docs")
    t = {}
    with tracer.span("text.analyze") as s:
        write_hive_partitioned_parquet(text.analyze(docs), out)
    t["analyze"] = s["end"] - s["start"]
    with tracer.span("dedup.exact") as s:
        exact = dedup.exact_dedup(docs)
        groups = exact.where(F.col("n_copies") > 1).collect()
    t["exact"] = s["end"] - s["start"]
    with tracer.span("dedup.minhash") as s:
        reps = docs.join(exact.select(F.col("rep_id").alias("doc_id")), "doc_id")
        pairs = dedup.minhash_dedup(reps).collect()
    t["minhash"] = s["end"] - s["start"]
    return groups, pairs, t


def _ann_batch(spark, src: str, lo: int, tracer) -> tuple[dict[int, list[int]], float]:
    """Top-k for the queries ``lo .. lo + QUERY_BATCH - 1`` in one call;
    returns the ids per query and the call's wall time in seconds."""
    from kinesis_producer_spark.operators.similarity import ivf_topk_multiprobe

    corpus = spark.read.parquet(f"{src}/corpus")
    qb = spark.read.parquet(f"{src}/queries").where(F.col("query_id").between(lo, lo + QUERY_BATCH - 1))
    with tracer.span("similarity.ivf") as s:
        rows = ivf_topk_multiprobe(corpus, qb, k=TOPK).collect()
    top: dict[int, list[int]] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        top.setdefault(r["query_id"], []).append(r["vec_id"])
    return top, s["end"] - s["start"]


def warmup(spark, ctx) -> None:
    """Untimed passes over the real inputs: a first pass at full size
    runs well slower than later ones, even after a pass over small
    inputs, and the second curation pass is still a quarter slower than
    the ones after it."""
    d = ctx.inputs["dir"]
    for _ in range(2):
        _curate(spark, d, os.path.join(ctx.work, "curate-out"), Tracer(False))
    for lo in range(0, N_QUERIES, QUERY_BATCH):
        _ann_batch(spark, d, lo, Tracer(False))


def _brute(spark, src: str) -> dict[int, list[int]]:
    from kinesis_producer_spark.operators.similarity import brute_force_topk

    rows = brute_force_topk(spark.read.parquet(f"{src}/corpus"), spark.read.parquet(f"{src}/queries"),
                            k=TOPK).collect()
    out: dict[int, list[int]] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append(r["vec_id"])
    return out


def _numpy_topk_ok(brute: dict[int, list[int]], corpus: np.ndarray, queries: np.ndarray) -> bool:
    """Every returned id is within the numpy top-k (ties at the k-th
    score allowed to 2 micro-units of cosine)."""
    cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    qn = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    cos = qn @ cn.T
    for q in range(len(queries)):
        ids = brute.get(q, [])
        if len(ids) != TOPK or len(set(ids)) != TOPK:
            return False
        kth = np.sort(cos[q])[-TOPK]
        if any(cos[q][i] < kth - 2e-6 for i in ids):
            return False
    return True


def measure(spark, ctx, seconds: float) -> dict:
    d = ctx.inputs["dir"]
    plant = ctx.inputs["plant"]
    stage_s: dict[str, list[float]] = {"analyze": [], "exact": [], "minhash": []}
    group_sets, pair_sets = set(), set()
    calls = 0
    start = time.perf_counter()
    iters: list[float] = []
    while keep_going(start, iters, seconds * CURATE_SHARE):
        t0 = time.perf_counter()
        groups, pairs, t = _curate(spark, d, os.path.join(ctx.work, "curate-out"), ctx.tracer)
        for k, v in t.items():
            stage_s[k].append(v)
        group_sets.add(frozenset((r["rep_id"], r["n_copies"]) for r in groups))
        pair_sets.add(frozenset((r["id_a"], r["id_b"]) for r in pairs))
        calls += 3
        iters.append(time.perf_counter() - t0)

    # the query loop takes the rest of the window, and at least one call
    # per batch so every query has an answer
    batches = list(range(0, N_QUERIES, QUERY_BATCH))
    top: dict[int, list[int]] = {}
    lat: list[float] = []
    call_s: list[float] = []
    ann_start = time.perf_counter()
    ann_window = max(0.0, seconds - (ann_start - start))
    while len(call_s) < len(batches) or keep_going(ann_start, call_s, ann_window):
        lo = batches[len(call_s) % len(batches)]
        got, dt = _ann_batch(spark, d, lo, ctx.tracer)
        top.update(got)
        lat += [dt * 1000.0] * min(QUERY_BATCH, N_QUERIES - lo)
        call_s.append(dt)
    calls += len(call_s)
    with ctx.tracer.span("similarity.brute"):
        brute = _brute(spark, d)

    want_groups = frozenset((min(g), len(g)) for g in plant["exact_groups"])
    found_pairs = next(iter(pair_sets))
    near = plant["near_pairs"]
    gates = {
        "exact_groups_match_plant": group_sets == {want_groups},
        "dedup_repeatable": len(pair_sets) == 1,
        "brute_force_equals_numpy": _numpy_topk_ok(brute, ctx.inputs["corpus"], ctx.inputs["queries"]),
    }
    recall = float(np.mean([len(set(top[q]) & set(brute[q])) / TOPK for q in range(N_QUERIES)]))
    s = summarize(lat)
    # per-stage medians over iterations keep one disturbed call from
    # moving the rate
    rate = N_DOCS / sum(float(np.median(v)) for v in stage_s.values())
    return {
        "gates": gates,
        "attempted": calls,
        "failed": 0,
        "records_per_s": rate,
        "latency": s,
        "layer": {
            "curate_docs_per_s": rate,
            "ann_queries_per_s": len(lat) / sum(call_s),
            "ann_recall_at_10": recall,
            "similarity.ivf.recall_at_10": recall,
            "near_dup_recall": sum(1 for p in near if p in found_pairs) / len(near),
            "dedup.exact.groups": len(next(iter(group_sets))),
        },
    }


def trace_layers(spark, ctx) -> dict[str, float]:
    """Per-call materialized timings and counts for the LLM layers."""
    from kinesis_producer_spark.operators import dedup
    from kinesis_producer_spark.operators.dedup import lsh_candidate_pairs, minhash_signature, shingles

    d = ctx.inputs["dir"]
    docs = spark.read.parquet(f"{d}/docs")
    exact = dedup.exact_dedup(docs)
    reps = docs.join(exact.select(F.col("rep_id").alias("doc_id")), "doc_id")
    sig = reps.select("doc_id", shingles("text", 2).alias("sh"))
    sig = sig.withColumn("signature", minhash_signature(sig, F.col("sh"), k=8))
    candidates = lsh_candidate_pairs(sig, band_size=2).count()
    verified = dedup.minhash_dedup(reps).count()
    tr = ctx.tracer
    return {
        "text.analyze.busy_s": tr.busy("text.analyze"),
        "dedup.exact.busy_s": tr.busy("dedup.exact"),
        "dedup.minhash.busy_s": tr.busy("dedup.minhash"),
        "dedup.minhash.candidate_pairs": candidates,
        "dedup.minhash.precision": verified / candidates if candidates else 0.0,
        "similarity.brute.busy_s": tr.busy("similarity.brute"),
        "similarity.ivf.busy_s": tr.busy("similarity.ivf"),
    }

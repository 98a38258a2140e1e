"""Scale-strategy tests: bucketed co-located joins (exchange
elimination), salted-join equivalence, byte-budget repartitioning."""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_eliminates_exchange(spark, tmp_path):
    """Both sides bucketed+sorted on the join key → sort-merge join with
    zero Exchange nodes: the co-location discipline that makes repeated
    fact⋈fact joins affordable at 100 TB."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey", "l_quantity")
    o = spark.read.parquet(f"{SF}/orders.parquet").select("o_orderkey", "o_totalprice")

    spark.sql("DROP TABLE IF EXISTS b_li")
    spark.sql("DROP TABLE IF EXISTS b_o")
    (
        li.write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", str(tmp_path / "b_li"))
        .saveAsTable("b_li")
    )
    (
        o.write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", str(tmp_path / "b_o"))
        .saveAsTable("b_o")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_li").join(
            spark.table("b_o"), F.col("l_orderkey") == F.col("o_orderkey")
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join must not shuffle"
        # and the result is the plain join's result
        expect = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).count()
        assert joined.count() == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_li")
        spark.sql("DROP TABLE IF EXISTS b_o")


def test_salted_join_handles_synthetic_skew(spark):
    """One key owning 90% of rows: salted join equals the plain join."""
    from kinesis_producer_spark.operators.skew import salted_join

    rows = [(1, i) for i in range(900)] + [(k, 0) for k in range(2, 102)]
    left = spark.createDataFrame(rows, "k int, payload int")
    right = spark.createDataFrame([(k, f"d{k}") for k in range(1, 102)], "k int, dim string")
    got = salted_join(left, right, on="k", salt=8, left_entropy_col="payload")
    expect = left.join(right, "k")
    assert got.count() == expect.count() == 1000
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0


def test_binned_range_join_boundary_exactness(spark):
    """Points exactly on bin and interval boundaries: lo inclusive, hi
    exclusive, no epsilon drift."""
    from kinesis_producer_spark.operators.skew import binned_range_join

    points = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([0.0, 5.0, 10.0, 15.0, 20.0])], "pid int, x double"
    )
    iv = spark.createDataFrame([(1, 5.0, 15.0), (2, 10.0, 10.0)], "iid int, lo double, hi double")
    got = sorted(
        (r["pid"], r["iid"])
        for r in binned_range_join(points, iv, "x", "lo", "hi", bin_width=10.0).collect()
    )
    # interval [5,15): points 5.0 and 10.0; empty interval [10,10): none
    assert got == [(1, 1), (2, 1)]


def test_binned_range_join_bounded_candidate_output(spark):
    """Contract pin for the pair-PRODUCING operator (q28's query path
    now routes aggregates through range_aggregate; this is the reason
    binned_range_join stays in the toolbox). The candidate set a bin
    join can ever examine is sum_b(points_b * intervals_claiming_b) —
    bounded by bin locality — NOT |points| * |intervals|. With 1000
    points spread over 100 bins and 50 single-bin-width intervals, the
    naive cross product is 50,000 compares; the bin-local candidate
    bound must stay well under it, and the emitted pairs must equal
    the exact predicate's answer."""
    from collections import Counter

    from kinesis_producer_spark.operators.skew import binned_range_join

    w = 10.0
    pts = [(i, float(i % 1000)) for i in range(1000)]  # bins 0..99
    ivs = [(j, j * 17.0 % 900.0, j * 17.0 % 900.0 + 10.0) for j in range(50)]
    points = spark.createDataFrame(pts, "pid int, x double")
    iv = spark.createDataFrame(ivs, "iid int, lo double, hi double")

    out = binned_range_join(points, iv, "x", "lo", "hi", bin_width=w).collect()
    expect = sorted(
        (p, j) for p, x in pts for j, lo, hi in ivs if lo <= x < hi
    )
    assert sorted((r["pid"], r["iid"]) for r in out) == expect

    # candidate bound: replicate the bin claim (lo_bin..hi_bin inclusive)
    pts_per_bin = Counter(int(x // w) for _, x in pts)
    candidates = sum(
        pts_per_bin.get(b, 0)
        for _, lo, hi in ivs
        for b in range(int(lo // w), int(hi // w) + 1)
    )
    naive = len(pts) * len(ivs)
    assert candidates <= naive * 0.05, (
        f"bin-local candidate set {candidates} should be a small fraction "
        f"of the naive {naive} compares"
    )
    # and the operator can never emit more than the candidate set
    assert len(out) <= candidates


def test_repartition_by_bytes(spark):
    from kinesis_producer_spark.operators.multimodal import repartition_by_bytes

    df = spark.createDataFrame(
        [(i, b"x" * 1000) for i in range(100)], "media_id int, content binary"
    )
    out = repartition_by_bytes(df, target_bytes=20_000)  # 100 KB total → 5 parts
    assert out.rdd.getNumPartitions() == 5
    assert out.count() == 100
    # every row survives with content intact
    got = {r.media_id: len(r.content) for r in out.collect()}
    assert got == {i: 1000 for i in range(100)}


def _partition_byte_loads(out, content_col="content"):
    from pyspark.sql import functions as F

    sizes = out.select(
        F.spark_partition_id().alias("p"), F.length(content_col).alias("n")
    )
    return {
        r.p: r.total
        for r in sizes.groupBy("p").agg(F.sum("n").alias("total")).collect()
    }


def test_repartition_by_bytes_is_byte_true_under_fat_row_skew(spark):
    """The VERDICT r3 defect: round-robin by row count lets one fat blob
    share a partition with thousands of others. Byte-true bin packing
    must bound every partition at target + one straddling row — i.e.
    ≤ 2× target when no blob exceeds the target."""
    from kinesis_producer_spark.operators.multimodal import repartition_by_bytes

    target = 1 << 20  # 1 MiB
    fat = b"F" * target  # exactly one target-sized blob
    rows = [(0, fat)] + [(i, b"x" * 1024) for i in range(1, 8001)]  # + 8000×1KiB
    # load everything into FEW source partitions so round-robin would
    # definitely mix the fat row with a full share of small rows
    df = spark.createDataFrame(rows, "media_id long, content binary").coalesce(2)

    out = repartition_by_bytes(df, target_bytes=target)
    loads = _partition_byte_loads(out)
    assert sum(loads.values()) == target + 8000 * 1024
    # exact bucket->partition mapping (hash-probe) makes the TRUE bound
    # assertable: target + one straddling row, not just 2x target (the
    # looser bound range-sampling merges used to hide behind)
    assert max(loads.values()) <= target + max(target, 1024), loads
    assert max(loads.values()) <= 2 * target, f"partition over 2x target: {loads}"
    # and the packing is tight: no more than one extra partition vs ideal
    ideal = -(-(target + 8000 * 1024) // target)
    assert len(loads) <= ideal + 1


def test_repartition_by_bytes_isolates_blob_larger_than_target(spark):
    """A blob BIGGER than the target cannot be split; it must sit alone
    (bounded by its own size + at most one boundary-straddling row),
    and the small rows must still pack to ≈target elsewhere."""
    from kinesis_producer_spark.operators.multimodal import repartition_by_bytes

    target = 256 << 10  # 256 KiB
    fat_n = 3 * target  # 3× the target
    rows = [(0, b"F" * fat_n)] + [(i, b"x" * 1024) for i in range(1, 2049)]
    df = spark.createDataFrame(rows, "media_id long, content binary").coalesce(1)

    out = repartition_by_bytes(df, target_bytes=target)
    loads = _partition_byte_loads(out)
    assert sum(loads.values()) == fat_n + 2048 * 1024
    # find the fat row's partition: it may carry at most target extra
    from pyspark.sql import functions as F

    fat_part = (
        out.select(F.spark_partition_id().alias("p"), "media_id")
        .where(F.col("media_id") == 0)
        .collect()[0]
        .p
    )
    assert loads[fat_part] <= fat_n + target
    for p, n in loads.items():
        if p != fat_part:
            assert n <= 2 * target


def test_grouped_heavy_hitters_exact_vs_plain_groupby(spark):
    from kinesis_producer_spark.operators.scale_ops import grouped_heavy_hitters
    from pyspark.sql import functions as F

    # Zipf-ish: user u repeated (20 - u) times per group g
    rows = [
        (g, f"u{u}")
        for g in ("a", "b")
        for u in range(20)
        for _ in range(20 - u)
    ]
    df = spark.createDataFrame(rows, "grp string, item string")
    got = sorted(
        (r.grp, r.item, r.cnt)
        for r in grouped_heavy_hitters(df, ["grp"], "item", 12, n_parts=4).collect()
    )
    exact = sorted(
        (r.grp, r.item, r.cnt)
        for r in df.groupBy("grp", "item")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .where(F.col("cnt") >= 12)
        .collect()
    )
    assert got == exact and len(got) == 2 * 9  # u0..u8 (20-u >= 12) per group


def test_grouped_heavy_hitters_adversarial_all_distinct(spark):
    """The non-Zipfian worst case: every (group, item) distinct. The
    candidate set must stay BOUNDED (empty here, since every local
    count is 1 < ceil(T/P)) and the output correct (also empty) —
    i.e. adversarial data cannot blow up the exchange or executor
    memory beyond the per-partition counter."""
    from kinesis_producer_spark.operators.scale_ops import (
        grouped_heavy_hitters,
        grouped_hh_candidates,
    )

    df = spark.range(0, 50_000).selectExpr(
        "concat('g', id % 7) AS grp", "concat('item-', id) AS item"
    )
    T, P = 64, 16  # T > P => bar = ceil(64/16) = 4 > any all-distinct count
    cands = grouped_hh_candidates(df, ["grp"], "item", T, n_parts=P)
    assert cands.count() == 0
    assert grouped_heavy_hitters(df, ["grp"], "item", T, n_parts=P).count() == 0


def test_grouped_heavy_hitters_boundary_threshold(spark):
    """Items at EXACTLY the threshold survive; threshold-1 does not —
    and the pigeonhole holds even when the repartition scatters a
    key's occurrences as thinly as possible (more partitions than
    occurrences of some keys)."""
    from kinesis_producer_spark.operators.scale_ops import grouped_heavy_hitters

    rows = (
        [("g", "at")] * 10  # exactly T
        + [("g", "under")] * 9  # T - 1
        + [("h", "at")] * 10  # same item, different group
        + [("h", "solo")] * 1
    )
    df = spark.createDataFrame(rows, "grp string, item string")
    got = sorted(
        (r.grp, r.item, r.cnt)
        for r in grouped_heavy_hitters(df, ["grp"], "item", 10, n_parts=8).collect()
    )
    assert got == [("g", "at", 10), ("h", "at", 10)]


def test_media_decode_fail_mode_raises(spark):
    """'fail' is the honest stub: executing the plan surfaces the
    missing codec dependency instead of fabricating data."""
    from pyspark.errors.exceptions.captured import PythonException

    from kinesis_producer_spark.operators.multimodal import decode_media, resize_media

    df = spark.createDataFrame([(1, b"RIFFxxxx")], "media_id long, content binary")
    with pytest.raises(PythonException, match="NotImplementedError"):
        decode_media(df, decode_stub="fail").collect()
    with pytest.raises(PythonException, match="NotImplementedError"):
        resize_media(df, decode_stub="fail").collect()
    with pytest.raises(ValueError):
        decode_media(df, decode_stub="bogus")


def test_frame_sampling_shape(spark):
    from kinesis_producer_spark.operators.multimodal import sample_frames

    df = spark.createDataFrame(
        [(i, bytes([i]) * 10) for i in range(20)], "media_id long, content binary"
    )
    frames = sample_frames(df, every_n=4, max_frames=4, decode_stub="fake")
    rows = frames.collect()
    assert {r["frame_idx"] % 4 for r in rows} == {0}
    per = frames.groupBy("media_id").count().collect()
    assert all(1 <= r["count"] <= 4 for r in per)
    # deterministic across runs
    again = sorted(map(tuple, sample_frames(df, 4, 4, decode_stub="fake").collect()))
    assert sorted(map(tuple, rows)) == again


def test_ivf_cell_as_partition_column_prunes(spark, tmp_path):
    """The IVF coarse cell as a physical partition column: a probe
    reads only its cell's files (PartitionFilters in the scan) and
    returns the same rows as an unpartitioned filter."""
    from kinesis_producer_spark.operators.similarity import ivf_cell

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    cells = e.withColumn("cell", ivf_cell(F.col("embedding"), bits=2))
    path = str(tmp_path / "ivf")
    cells.write.partitionBy("cell").parquet(path)

    probed = spark.read.parquet(path).filter(F.col("cell") == 3)
    plan = _plan(probed)
    assert "PartitionFilters: [isnotnull(cell" in plan
    expect = {r["vec_id"] for r in cells.filter(F.col("cell") == 3).collect()}
    assert {r["vec_id"] for r in probed.collect()} == expect
    # pruning means the probe scan touches only cell=3 files
    files = [f for f in os.listdir(path) if f.startswith("cell=")]
    assert len(files) == 4  # 2 bits → 4 cells materialized


def test_text_and_dedup_ops_handle_null_and_empty(spark):
    """Nulls and empty strings flow through (no crashes, null-safe
    outputs) — corpus data is never that clean."""
    from kinesis_producer_spark.operators.dedup import shingles, simhash16
    from kinesis_producer_spark.operators.text import (
        fingerprint,
        lang_id,
        quality_score_micro,
        token_counts,
    )

    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "   "), (3, "the quick brown fox")],
        "doc_id int, text string",
    )
    tc = token_counts("text")
    out = df.select(
        "doc_id",
        shingles("text", 2).alias("sh"),
        simhash16("text").alias("sim"),
        lang_id("text").alias("lang"),
        quality_score_micro("text").alias("q"),
        fingerprint("text").alias("fp"),
        *[c.alias(n) for n, c in tc.items()],
    ).collect()
    rows = {r["doc_id"]: r for r in out}
    assert rows[0]["sh"] is None and rows[0]["sim"] is None and rows[0]["fp"] is None
    assert rows[1]["sh"] == [] if rows[1]["sh"] is not None else True
    assert rows[3]["lang"] == "en" and rows[3]["ws_tokens"] == 4


def test_approx_count_distinct_error(spark):
    """approx_count_distinct (HLL++) stays inside its configured rsd on
    the fixture keys — the sketch path for 100 TB cardinality estimates
    where exact count_distinct's shuffle is unaffordable."""
    l = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    exact, approx = l.select(
        F.count_distinct("l_orderkey").alias("e"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("a"),
    ).first()
    assert abs(approx - exact) / exact < 0.06  # 3×rsd safety margin


def test_approx_percentile_error(spark):
    """approx_percentile (Greenwald-Khanna) lands within its accuracy
    budget of the exact interpolated percentiles — the sketch path for
    100 TB quantiles where an exact global sort is unaffordable
    (exact per-group percentiles stay oracle-checked in q24)."""
    l = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    acc = 1000  # rank error <= n/acc
    row = l.select(
        F.expr(
            "approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75), 1000)"
        ).alias("a"),
        F.percentile(F.col("l_extendedprice"), F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))).alias("e"),
        F.count(F.lit(1)).alias("n"),
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
    ).first()
    spread = row["hi"] - row["lo"]
    for a, e in zip(row["a"], row["e"]):
        # rank-error guarantee translated loosely to value space: the
        # approximate quantile must sit within 1% of the value range of
        # the exact one on this smooth distribution.
        assert abs(a - e) <= 0.01 * spread


def test_dynamic_partition_pruning(spark, tmp_path):
    """A join against a filtered dim triggers DPP: the fact scan's
    partition filter carries a dynamicpruning subquery, so only the
    matching partitions are read — the 100 TB date-partitioned join
    pattern (Catalyst provides it; this pins the plan evidence)."""
    o = spark.read.parquet(f"{SF}/orders.parquet").withColumn(
        "o_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_year")
    o.write.partitionBy("o_year").parquet(path)
    facts = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [(1995, "keep"), (1996, "drop")], "d_year int, tag string"
    )
    # DPP requires a selective predicate on the dim side whose result
    # can seed the fact scan's partition filter (reused broadcast).
    joined = facts.join(dim.filter(F.col("tag") == "keep"), facts["o_year"] == dim["d_year"])
    plan = _plan(joined)
    assert "dynamicpruning" in plan.lower()


def test_s3_tuning_profile_contract():
    """The s3a preset pins the reference's 50-connection pool
    (aws_utils.py:11) and only emits scheme-scoped spark.hadoop.fs.s3a
    keys — the global-write-scope committer keys live in the separate
    opt-in s3_committer_profile (they require the spark-hadoop-cloud
    jar and govern writes on every filesystem scheme)."""
    from kinesis_producer_spark.session import s3_committer_profile, s3_tuning_profile

    p = s3_tuning_profile()
    assert p["spark.hadoop.fs.s3a.connection.maximum"] == "50"
    assert p["spark.hadoop.fs.s3a.fast.upload.buffer"] == "disk"
    # connection tuning is entirely s3a-scoped: safe on any session
    assert all(k.startswith("spark.hadoop.fs.s3a.") for k in p)
    assert "spark.sql.sources.commitProtocolClass" not in p
    assert s3_tuning_profile(connection_pool=200)[
        "spark.hadoop.fs.s3a.threads.max"
    ] == "200"
    c = s3_committer_profile()
    assert c["spark.hadoop.fs.s3a.committer.name"] == "magic"
    assert "PathOutputCommitProtocol" in c["spark.sql.sources.commitProtocolClass"]


def test_session_sizing_follows_host_and_overrides(monkeypatch):
    """Session defaults fit the host: the cores this process may run on
    and half of physical RAM capped at 16g; an explicit ``cpus``,
    SPARK_GRAFT_CPUS and SPARK_GRAFT_DRIVER_MEM still win."""
    from kinesis_producer_spark.session import _host_driver_memory, _session_sizing

    gib = 2**30
    assert _host_driver_memory(15 * gib) == "7680m"
    assert _host_driver_memory(32 * gib) == "16384m"
    assert _host_driver_memory(256 * gib) == "16384m"

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert _session_sizing() == (len(os.sched_getaffinity(0)), _host_driver_memory())
    assert _session_sizing(3)[0] == 3

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert _session_sizing() == (5, "2g")
    assert _session_sizing(3) == (3, "2g")


def test_multiprobe_recovers_boundary_neighbors(spark):
    """A neighbor one sign-flip across the quantization boundary is
    invisible to single-probe IVF but found by multi-probe."""
    from pyspark.sql import functions as F

    from kinesis_producer_spark.operators.similarity import ivf_topk, ivf_topk_multiprobe

    rows = [
        (0, [0.9, 0.5, 0.5, 0.1]),   # query: cell 111
        (1, [-0.1, 0.5, 0.5, 0.1]),  # near-identical but dim1 flipped: cell 110
        (2, [0.8, 0.4, 0.6, 0.2]),   # same cell as query
        (3, [-0.9, -0.5, -0.5, 0.3]),  # far away, cell 000
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    single = {r["vec_id"] for r in ivf_topk(df, q, k=4, bits=3).collect()}
    multi = {r["vec_id"] for r in ivf_topk_multiprobe(df, q, k=4, bits=3).collect()}
    assert 1 not in single, "boundary vector should be outside the single probe cell"
    assert 1 in multi, "multi-probe must recover the one-flip neighbor"
    assert 2 in single and 2 in multi
    assert 3 not in multi, "distance-2 cell must not be probed"


def test_ordered_item_pairs_matches_bruteforce(spark):
    """The HOF basket-pair expansion equals the self-join semantics,
    including dedup within basket, single-item baskets (no rows),
    and all-null baskets (no crash, no rows)."""
    from itertools import combinations

    from kinesis_producer_spark.operators.baskets import ordered_item_pairs

    rows = [
        (1, 10), (1, 20), (1, 30), (1, 20),   # dup item within basket
        (2, 5),                               # single item
        (3, None), (3, None),                 # all-null basket
        (4, 7), (4, 3),
        (None, 100), (None, 200),             # NULL basket key: self-join
        (None, 300),                          # emits nothing — no merge
    ]
    df = spark.createDataFrame(rows, "ok long, item long")
    got = sorted(
        (r["basket"], r["i_a"], r["i_b"])
        for r in ordered_item_pairs(df, "ok", "item").collect()
    )
    want = []
    baskets = {1: [10, 20, 30], 2: [5], 3: [], 4: [3, 7]}
    for bk, items in baskets.items():
        for a, b in combinations(sorted(set(items)), 2):
            want.append((bk, a, b))
    assert got == sorted(want)


def test_min_label_components_converges_past_any_fixed_round_count(spark):
    """A path graph of diameter 11 needs 11 propagation rounds — a
    fixed 5-round loop under-labels it. The fixpoint loop must label
    every vertex with the component minimum, for both a long path and
    a disjoint triangle, and must raise (not silently under-label)
    when the cap is too small."""
    import pytest
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from kinesis_producer_spark.operators.scale_ops import min_label_components

    # path 0-1-2-...-11 (diameter 11) plus triangle 100-101-102
    path = [(i, i + 1) for i in range(11)]
    tri = [(100, 101), (101, 102), (100, 102)]
    base = spark.createDataFrame(path + tri, "s long, t long")
    verts = base.select(F.col("s").alias("u")).union(base.select("t")).distinct()
    und = (
        base.select(F.col("s").alias("u"), F.col("t").alias("v"))
        .union(base.select(F.col("t"), F.col("s")))
        .union(verts.select("u", F.col("u").alias("v")))
        .repartition("u")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    want = {**{i: 0 for i in range(12)}, **{v: 100 for v in (100, 101, 102)}}
    got = {r["part"]: r["label"] for r in min_label_components(und, verts).collect()}
    assert got == want
    # convergence-check cadence: fewer driver actions, same fixpoint —
    # sound because the label sum is monotone (any change between two
    # checks strictly decreases it, so equal checks prove convergence)
    for k in (1, 3):
        got_k = {
            r["part"]: r["label"]
            for r in min_label_components(und, verts, check_every=k).collect()
        }
        assert got_k == want, f"check_every={k} broke the fixpoint"
    with pytest.raises(RuntimeError, match="did not converge"):
        min_label_components(und, verts, max_rounds=5)
    with pytest.raises(ValueError):
        min_label_components(und, verts, check_every=0)
    und.unpersist()


def test_packed_sequences_is_gapless_and_scale_invariant(spark):
    """q212's distributed prefix sum must produce the same packing a
    single-window cumsum would: offsets gapless (every doc starts where
    the previous ends), budget respected (a doc's sequence span covers
    exactly its tokens), and the result independent of input
    partitioning."""
    from kinesis_producer_spark.suite import load_all
    from pyspark.sql import functions as F

    queries, _ = load_all()
    sf = "/root/testdata/sf0.001"
    out = queries["q212_packed_sequences"](spark, sf).cache()
    rows = sorted(
        (r.token_offset, r.n_tokens, r.doc_id, r.first_seq, r.last_seq)
        for r in out.collect()
    )
    # gapless: each offset == previous offset + previous n_tokens
    acc = 0
    for off, n, _, first_seq, last_seq in rows:
        assert off == acc, f"gap at offset {off} (expected {acc})"
        assert first_seq == off // 512
        assert last_seq == (off + n - 1) // 512
        acc = off + n
    total = out.agg(F.sum("n_tokens")).collect()[0][0]
    assert acc == total
    out.unpersist()


def test_stratified_split_quotas_are_exact(spark):
    """q213's 80/10/10 quotas are integer-exact per stratum: train is
    floor(8n/10), val floor(9n/10)-floor(8n/10), test the rest."""
    from kinesis_producer_spark.suite import load_all

    queries, _ = load_all()
    sf = "/root/testdata/sf0.001"
    got = {}
    for r in queries["q213_stratified_split"](spark, sf).collect():
        got.setdefault((r.source, r.lang), {})[r.split] = r.n_docs
    assert got, "no strata"
    for (src, lang), by_split in got.items():
        n = sum(by_split.values())
        assert by_split.get("train", 0) == (n * 8) // 10, (src, lang, by_split)
        assert by_split.get("val", 0) == (n * 9) // 10 - (n * 8) // 10
        assert by_split.get("test", 0) == n - (n * 9) // 10


def test_zorder_tiles_bound_both_dimensions(spark):
    """The q214 payoff, asserted: every 64-z-value tile spans ≤ 8 in x
    AND ≤ 8 in y (an 8x8 block), so min/max file stats prune box
    predicates in either dimension. A 1-D sort on x gives y-ranges as
    wide as the whole domain — checked as the contrast."""
    from kinesis_producer_spark.operators.scale_ops import morton_z
    from kinesis_producer_spark.suite import load_all
    from pyspark.sql import functions as F

    queries, _ = load_all()
    tiles = queries["q214_zorder_locality"](spark, "/root/testdata/sf0.001").collect()
    assert tiles
    for t in tiles:
        assert t.max_x - t.min_x <= 7, t
        assert t.max_y - t.min_y <= 7, t

    # contrast: tile by x-ranges alone (the 1-D layout) → y unbounded
    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    oned = (
        e.select(F.pmod("user_id", F.lit(256)).alias("x"), F.dayofmonth("ts").alias("y"))
        .groupBy(F.expr("x div 8").alias("tile"))
        .agg((F.max("y") - F.min("y")).alias("y_span"))
    )
    assert oned.agg(F.max("y_span")).collect()[0][0] > 7

    # morton_z is a true bijection on the 16-bit grid
    probe = spark.createDataFrame(
        [(x, y) for x in range(16) for y in range(16)], "x int, y int"
    ).select(morton_z(F.col("x"), F.col("y"), bits=4).alias("z"))
    zs = sorted(r.z for r in probe.collect())
    assert zs == list(range(256))


def test_countmin_sketch_contract(spark):
    """CMS invariants: estimates never UNDERestimate, exact when no
    collision, and partial sketches MERGE by counter addition."""
    from kinesis_producer_spark.operators.scale_ops import countmin_cells
    from kinesis_producer_spark.suite import load_all
    from pyspark.sql import functions as F

    queries, _ = load_all()
    rows = queries["q218_countmin_sketch"](spark, "/root/testdata/sf0.001").collect()
    assert rows, "no heavy tokens in fixture"
    for r in rows:
        assert r.cms_estimate >= r.true_cnt, (r.tok, r.cms_estimate, r.true_cnt)

    # mergeability: sketch(A ∪ B) == merge(sketch(A), sketch(B))
    a = spark.createDataFrame([(w,) for w in "x y z x x".split()], "tok string")
    b = spark.createDataFrame([(w,) for w in "y y q".split()], "tok string")
    whole = {
        (r.r, r.cell): r.counter
        for r in countmin_cells(a.unionByName(b)).collect()
    }
    pa = {(r.r, r.cell): r.counter for r in countmin_cells(a).collect()}
    pb = {(r.r, r.cell): r.counter for r in countmin_cells(b).collect()}
    merged = dict(pa)
    for k, v in pb.items():
        merged[k] = merged.get(k, 0) + v
    assert merged == whole


def test_repartition_by_bytes_bound_property(spark):
    """Property over adversarial size mixes: for ANY blob-size
    distribution, every partition holds ≤ target + max(straddling row)
    bytes and all rows survive intact — the guarantee the exact
    hash-probe bucket→partition mapping provides (range sampling
    violated it for fat-row buckets)."""
    import random

    from kinesis_producer_spark.operators.multimodal import repartition_by_bytes

    rng = random.Random(7)
    target = 64 << 10  # 64 KiB
    for trial in range(3):
        sizes = []
        for _ in range(rng.randint(50, 200)):
            kind = rng.random()
            if kind < 0.1:
                sizes.append(rng.randint(target, 3 * target))  # over-target
            elif kind < 0.4:
                sizes.append(rng.randint(target // 2, target))  # fat
            else:
                sizes.append(rng.randint(1, 2048))  # small
        rows = [(i, b"x" * s) for i, s in enumerate(sizes)]
        df = spark.createDataFrame(
            rows, "media_id long, content binary"
        ).coalesce(rng.randint(1, 3))
        out = repartition_by_bytes(df, target_bytes=target)
        loads = _partition_byte_loads(out)
        assert sum(loads.values()) == sum(sizes), trial
        biggest_row = max(sizes)
        assert max(loads.values()) <= target + biggest_row, (
            trial, max(loads.values()), target, biggest_row,
        )
        got = {r.media_id: len(r.content) for r in out.collect()}
        assert got == {i: s for i, s in enumerate(sizes)}, trial


def test_dynamic_partition_pruning_on_hive_layout(spark, tmp_path):
    """Dynamic partition pruning: a join against a FILTERED dim must
    push a runtime dynamicpruning expression into the partitioned fact
    scan's PartitionFilters — at 100 TB the difference between scanning
    5 partitions and 25. Static pruning (SURVEY §2a row 19) covers
    literal predicates; DPP covers predicates only known at runtime
    through the join."""
    from pyspark.sql import functions as F

    fact = spark.range(0, 200_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 25).alias("part_key"),
        (F.col("id") * 3).alias("v"),
    )
    fact.write.partitionBy("part_key").parquet(str(tmp_path / "fact"))
    spark.range(0, 25).select(
        F.col("id").alias("d_key"), (F.col("id") % 5).alias("d_cat")
    ).write.parquet(str(tmp_path / "dim"))

    f = spark.read.parquet(str(tmp_path / "fact"))
    d = spark.read.parquet(str(tmp_path / "dim")).where(F.col("d_cat") == 1)
    j = f.join(d, f["part_key"] == d["d_key"])
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, "DPP missing from the fact scan"
    assert "PartitionFilters" in plan
    # 5 of 25 dim keys survive the filter → exactly 1/5 of fact rows
    assert j.count() == 200_000 // 5


def test_repartition_by_bytes_composes_with_decode_under_partition_skew(spark):
    """VERDICT r4 item 7 — the composed case the operator exists for:
    ALL the fat blobs start in one source partition (the worst decode
    skew: one task decodes everything while the rest idle). After
    repartition_by_bytes the per-task input bytes feeding the
    decode_media mapInPandas stage must sit near the target, and the
    decode output must be unchanged by the move."""
    import numpy as np

    from kinesis_producer_spark.operators.multimodal import (
        decode_media,
        repartition_by_bytes,
    )
    from kinesis_producer_spark.operators.png import encode_png

    rng = np.random.RandomState(11)
    fat_blobs = [
        encode_png(rng.randint(0, 256, (96, 96, 3)).astype(np.uint8)) for _ in range(6)
    ]
    tiny = encode_png(np.full((4, 4), 7, np.uint8))
    # partition 0: every fat blob; partition 1: 300 thumbnails
    rows = [(i, bytearray(b)) for i, b in enumerate(fat_blobs)] + [
        (100 + i, bytearray(tiny)) for i in range(300)
    ]
    df = (
        spark.createDataFrame(rows, "media_id long, content binary")
        .repartition(2, (F.col("media_id") >= 100).cast("int"))
    )
    skewed = _partition_byte_loads(df)
    fat_total = sum(len(b) for b in fat_blobs)
    assert max(skewed.values()) >= fat_total, "fixture must start skewed"

    target = max(len(b) for b in fat_blobs) + 1024  # ≈ one fat blob per task
    out = repartition_by_bytes(df, target_bytes=target)
    loads = _partition_byte_loads(out)
    # per-task peak input bytes for the decode stage (mapInPandas does
    # not move rows, so these ARE the decode tasks' inputs): bounded by
    # target + one straddling blob, and far below the skewed peak
    assert max(loads.values()) <= 2 * target, loads
    assert max(loads.values()) < fat_total
    assert len(loads) >= 4

    decoded = {r.media_id: r for r in decode_media(out, decode_stub="fail").collect()}
    assert len(decoded) == 306
    for i in range(6):
        assert (decoded[i].width, decoded[i].height) == (96, 96)
    assert all(decoded[100 + i].width == 4 for i in range(300))


def _hll_regs(keys):
    import hashlib

    regs: dict[int, int] = {}
    for k in keys:
        hx = hashlib.md5(k.encode()).hexdigest()
        b = int(hx[:2], 16)
        rest = hx[2:32]
        zeros = len(rest) - len(rest.lstrip("0"))
        if zeros >= 30:
            r = 121
        else:
            nv = int(rest[zeros], 16)
            r = 4 * zeros + (0 if nv >= 8 else 1 if nv >= 4 else 2 if nv >= 2 else 3) + 1
        regs[b] = max(regs.get(b, 0), r)
    return regs


def test_hll_estimate_accuracy_and_merge():
    """hll_estimate stays within 3 sigma (~20% for m=256) across
    independent key domains, and the register sketch merges by
    elementwise max — union(A,B) registers == max(regs(A), regs(B))."""
    from kinesis_producer_spark.operators.scale_ops import hll_estimate

    for seed in ("a", "b", "c", "d", "e"):
        for n in (2000, 20000):
            keys = [f"{seed}:{i}" for i in range(n)]
            est = hll_estimate(_hll_regs(keys))
            assert abs(est - n) / n < 0.20, (seed, n, est)
    a = [f"m:{i}" for i in range(5000)]
    b = [f"m:{i}" for i in range(3000, 9000)]  # overlapping
    ra, rb = _hll_regs(a), _hll_regs(b)
    merged = {j: max(ra.get(j, 0), rb.get(j, 0)) for j in set(ra) | set(rb)}
    assert merged == _hll_regs(set(a) | set(b))
    # small-range linear counting path: near-exact at tiny cardinality
    tiny = hll_estimate(_hll_regs([f"t:{i}" for i in range(30)]))
    assert abs(tiny - 30) < 5


def test_hll_spark_registers_match_reference(spark):
    """The Spark column-expression register build equals the
    straightforward per-key Python reference on the same data — pins
    the hex/conv/regexp expression chain."""
    import duckdb

    from kinesis_producer_spark.suite import load_all

    q, _ = load_all()
    sf = "/root/testdata/sf0.001"
    rows = q["q222_hll_registers"](spark, sf).collect()
    got = {int(r.bucket): int(r.max_rho) for r in rows}
    keys = [
        f"p:{k}"
        for (k,) in duckdb.sql(
            f"SELECT l_partkey FROM read_parquet('{sf}/lineitem.parquet')"
        ).fetchall()
    ]
    assert got == _hll_regs(keys)


def test_range_aggregate_matches_join_semantics(spark):
    """range_aggregate(F(hi)-F(lo)) must equal the materialized
    join+aggregate exactly, including boundary exclusivity (lo <= p <
    hi), empty intervals (n=0), and intervals outside the point
    domain."""
    from kinesis_producer_spark.operators.skew import range_aggregate

    pts = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([0.0, 1.0, 1.0, 2.5, 10.0, 10.0, 99.0])],
        "pid long, x double",
    )
    ivs = spark.createDataFrame(
        [
            (1, 0.0, 1.0),    # [0,1): only the 0.0 point — hi exclusive
            (2, 1.0, 2.5),    # lo inclusive: both 1.0s, not the 2.5
            (3, -5.0, -1.0),  # below everything -> 0
            (4, 100.0, 200.0),# above everything -> 0
            (5, 0.0, 100.0),  # everything
            (6, 10.0, 10.0),  # empty interval -> 0
        ],
        "iid long, lo double, hi double",
    )
    got = {
        r.iid: (r.n_points, int(r.sum_value))
        for r in range_aggregate(
            pts, ivs, "x", "lo", "hi", id_col="iid", bin_width=3.0,
            value=F.floor(F.col("x") * 10),
        ).collect()
    }
    # expected from the naive join
    naive = {
        r.iid: (r.n, int(r.s))
        for r in pts.crossJoin(ivs)
        .where((F.col("x") >= F.col("lo")) & (F.col("x") < F.col("hi")))
        .groupBy("iid")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.floor(F.col("x") * 10)).alias("s"))
        .collect()
    }
    for iid in (1, 2, 5):
        assert got[iid] == naive[iid], iid
    for iid in (3, 4, 6):
        assert got[iid] == (0, 0), iid
    assert got[1][0] == 1 and got[2][0] == 2


def test_range_aggregate_property_matches_naive_join(spark):
    """For ANY point/interval configuration (including duplicates,
    negatives, boundary-exact hits, and NaN points), range_aggregate
    equals the naive join+aggregate. NaN points must be ignored (a NaN
    never satisfies lo <= p < hi), not corrupt the prefix sums."""
    import math
    import random

    from kinesis_producer_spark.operators.skew import range_aggregate

    rnd = random.Random(1234)
    for trial in range(4):
        pts_vals = [
            rnd.choice([rnd.uniform(-50, 50), float(rnd.randrange(-10, 10)), float("nan")])
            for _ in range(rnd.randrange(1, 60))
        ]
        ivs_vals = []
        for i in range(rnd.randrange(1, 12)):
            lo = rnd.uniform(-60, 55)
            ivs_vals.append((i, lo, lo + rnd.uniform(0, 40)))
        pts = spark.createDataFrame(
            [(i, v) for i, v in enumerate(pts_vals)], "pid long, x double"
        )
        ivs = spark.createDataFrame(ivs_vals, "iid long, lo double, hi double")
        got = {
            r.iid: (r.n_points, int(r.sum_value))
            for r in range_aggregate(
                pts, ivs, "x", "lo", "hi", id_col="iid", bin_width=7.0,
                value=F.floor(F.col("x") * 100),
            ).collect()
        }
        naive = {}
        for iid, lo, hi in ivs_vals:
            hits = [v for v in pts_vals if not math.isnan(v) and lo <= v < hi]
            naive[iid] = (len(hits), int(sum(math.floor(v * 100) for v in hits)))
        for iid, want in naive.items():
            assert got.get(iid, (0, 0))[0] == want[0], (trial, iid, got.get(iid), want)
            assert got.get(iid, (0, 0))[1] == want[1], (trial, iid)


def test_kmv_set_ops_estimator_accuracy():
    """The q224 estimator formulas (merged-sketch union, overlap-ratio
    intersection) on synthetic sets with KNOWN partial overlap: both
    estimates within ~3 sigma (k=256 -> ~20%) of truth across
    overlap fractions."""
    import hashlib

    K = 256

    def sketch(keys):
        return sorted(hashlib.md5(f"u:{k}".encode()).hexdigest() for k in keys)[:K]

    def union_est(mk):
        v48 = int(mk[K - 1][:12], 16)
        return (K - 1) * 281474976710656 / v48

    for n_a, n_b, n_shared in ((5000, 5000, 2500), (20000, 5000, 1000), (8000, 8000, 8000)):
        a_keys = [f"a{i}" for i in range(n_a - n_shared)] + [f"s{i}" for i in range(n_shared)]
        b_keys = [f"b{i}" for i in range(n_b - n_shared)] + [f"s{i}" for i in range(n_shared)]
        ka, kb = sketch(a_keys), sketch(b_keys)
        mk = sorted(set(ka) | set(kb))[:K]
        ue = union_est(mk)
        true_u = n_a + n_b - n_shared
        assert abs(ue - true_u) / true_u < 0.20, (n_a, n_b, n_shared, ue)
        # the overlap count is Binomial(K, j): assert within 3 sigma of
        # the model rather than a flat tolerance — at low Jaccard the
        # relative error is dominated by sqrt(j(1-j)/K)/j (the known
        # KMV weakness; q54/q51-style LSH is the low-similarity tool)
        j = n_shared / true_u
        n_overlap = len(set(ka) & set(kb) & set(mk))
        assert abs(n_overlap - j * K) <= 3 * (K * j * (1 - j)) ** 0.5 + 1, (
            n_a, n_b, n_shared, n_overlap, j * K,
        )
        ie = n_overlap * ue / K
        tol = 0.20 + 3 * ((j * (1 - j) / K) ** 0.5) / max(j, 1e-9)
        assert abs(ie - n_shared) / max(n_shared, 1) < tol, (n_a, n_b, n_shared, ie, tol)


def test_range_aggregate_null_and_nan_bounds_match_join(spark):
    """Round-5 review: an interval with a NULL or NaN bound matches
    nothing under the join predicate — it must be ABSENT from the
    result, not report phantom (or negative) counts from an unbalanced
    +-F(x) pair."""
    from kinesis_producer_spark.operators.skew import range_aggregate

    pts = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "pid long, x double"
    )
    ivs = spark.createDataFrame(
        [
            (1, None, 50.0),
            (2, 5.0, None),
            (3, float("nan"), 50.0),
            (4, 10.0, 20.0),  # the one healthy interval
        ],
        "iid long, lo double, hi double",
    )
    got = {
        r.iid: r.n_points
        for r in range_aggregate(
            pts, ivs, "x", "lo", "hi", id_col="iid", bin_width=16.0
        ).collect()
    }
    assert got == {4: 10}, got


def test_kmv_set_ops_unsaturated_sketch_is_exact(spark):
    """Round-5 review (confirmed crash): merged sketches smaller than k
    must not ANSI-crash on element_at — and since unsaturated sketches
    are exact sets, the estimates must EQUAL the exact counts."""
    from kinesis_producer_spark.suite import load_all

    q, _ = load_all()
    rows = q["q224_kmv_set_ops"](spark, "/root/testdata/sf0.001").collect()
    assert rows, "sf0.001 must produce pair rows"
    for r in rows:
        assert r.kmv_union_est == r.exact_union, r
        assert r.kmv_intersect_est == r.exact_intersect, r


def test_logbin_histogram_merges_and_bounds_quantile_error(spark):
    """The log-bin quantile summary (q225): histograms over disjoint
    halves SUM to the full histogram (mergeable), and for any rank the
    bin lower bound is <= the true value < lower bound * (1 + 1/p) —
    the <=10% error the two-leading-digit binning guarantees."""
    import random

    from kinesis_producer_spark.operators.scale_ops import logbin_histogram

    rnd = random.Random(99)
    vals = [rnd.randrange(10, 10_000_000) for _ in range(4000)]
    df = spark.createDataFrame([(v,) for v in vals], "cents long")
    full = {(r.d, r.p): r.cnt for r in logbin_histogram(df).collect()}
    h1 = {
        (r.d, r.p): r.cnt
        for r in logbin_histogram(
            spark.createDataFrame([(v,) for v in vals[:2000]], "cents long")
        ).collect()
    }
    h2 = {
        (r.d, r.p): r.cnt
        for r in logbin_histogram(
            spark.createDataFrame([(v,) for v in vals[2000:]], "cents long")
        ).collect()
    }
    merged = {k: h1.get(k, 0) + h2.get(k, 0) for k in set(h1) | set(h2)}
    assert merged == full

    # quantile read-back error bound against the sorted truth
    svals = sorted(vals)
    bins = sorted(full)
    for q in (0.25, 0.5, 0.9, 0.99):
        r = -(-int(q * 1_000_000) * len(vals) // 1_000_000)
        true = svals[r - 1]
        cs = 0
        for d, p in bins:
            cs += full[(d, p)]
            if cs >= r:
                lb = int(str(p) + "0" * (d - 2)) if d > 2 else p
                assert lb <= true < lb * (1 + 1 / p) + 10 ** (d - 2), (q, lb, true)
                assert (true - lb) / true < 0.10, (q, lb, true)
                break


def test_semdedup_auto_bits_scales_with_corpus(spark):
    """The quantizer width must grow with the corpus so expected cell
    density stays ≤ target_cell (SemDeDup's within-cell compare is
    sum-of-|cell|²) — pins the derivation rule, the default path on
    the batch operator (equal to the explicit-bits run), and the
    streaming guard (a stream cannot be counted)."""
    from kinesis_producer_spark.operators.similarity import (
        semantic_dedup_keep_list,
        semdedup_auto_bits,
    )
    from kinesis_producer_spark.streaming.semantic import (
        streaming_semantic_keep_list,
    )

    # rule pins: expected cell population n / 2^bits ≤ 64
    assert [semdedup_auto_bits(n) for n in (0, 1, 64, 128, 500, 2000, 20000)] == [
        1, 1, 1, 1, 3, 5, 9,
    ]
    assert semdedup_auto_bits(10**12) == 16  # capped
    for n in (500, 2000, 20000, 10**6):
        b = semdedup_auto_bits(n)
        assert n / (1 << b) <= 64 or b == 16, (n, b)

    # operator default == the explicit auto width, row for row
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = e.count()
    auto = {
        (r.vec_id, r.kept, r.dup_of)
        for r in semantic_dedup_keep_list(e).collect()
    }
    explicit = {
        (r.vec_id, r.kept, r.dup_of)
        for r in semantic_dedup_keep_list(e, bits=semdedup_auto_bits(n)).collect()
    }
    assert auto == explicit and auto

    # streaming: state is keyed by cell, so auto needs the provisioned
    # corpus size — neither bits nor expected_corpus is an error
    import tempfile

    stream_dir = tempfile.mkdtemp(prefix="semdedup_stream_")
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .parquet(stream_dir)
    )
    with pytest.raises(ValueError, match="expected_corpus"):
        streaming_semantic_keep_list(stream)
    # with the hint, construction succeeds (lazy — no query started)
    streaming_semantic_keep_list(stream, expected_corpus=2000)


def test_ivf_pq_index_partition_pruning(spark, tmp_path):
    """The persisted IVF×PQ index is partitioned by cell, and serving
    scans ONLY the probed cells' files: the pruned read's inputFiles
    must all live under probe-cell partition dirs and must be a strict
    subset of the index (some cell is never probed by this query set).
    Results must equal the inline q252 path row for row."""
    from kinesis_producer_spark.operators.similarity import (
        ivf_cell,
        ivf_pq_topk,
        ivf_pq_topk_from_index,
        ivf_pq_write_index,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    idx = str(tmp_path / "ivfpq_idx")
    cb = ivf_pq_write_index(e, idx, bits=3)

    qids = [0, 1, 2]
    served = ivf_pq_topk_from_index(e, idx, cb, query_ids=qids, bits=3)
    inline = ivf_pq_topk(e, query_ids=qids, bits=3)
    as_set = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    assert as_set(served) == as_set(inline) and as_set(served)

    # the physical scan: files restricted to probed cell partitions.
    # One query probes 4 of the 8 cells (own + Hamming-1), so the
    # pruned read must touch at most half the index files
    probe_cells = {
        int(r.c) ^ x
        for r in e.filter(F.col("vec_id") == 0)
        .select(ivf_cell(F.col("embedding"), 3).alias("c"))
        .collect()
        for x in (0, 1, 2, 4)
    }
    pruned = spark.read.parquet(idx).filter(
        F.col("cell").isin(sorted(probe_cells))
    )
    # plan-level: the IN list reaches the scan as a PARTITION filter
    # (file pruning before I/O), not a post-scan data filter
    plan = _plan(pruned)
    assert "PartitionFilters: [cell" in plan and " IN (" in plan, plan
    # execution-level: the files actually read are exactly the probed
    # cells' partition dirs, a strict subset of the index
    got_files = {
        r.f for r in pruned.select(F.input_file_name().alias("f")).distinct().collect()
    }
    all_files = set(spark.read.parquet(idx).inputFiles())
    assert got_files, "pruned scan read no files"
    assert got_files < all_files, "probe filter did not prune any partition"
    import re

    for f in got_files:
        m = re.search(r"cell=(\d+)", f)
        assert m and int(m.group(1)) in probe_cells, f


def test_ivf_pq_append_equals_rebuild_under_frozen_codebook(spark, tmp_path):
    """CDC contract for the persisted ANN index: building from the
    base then APPENDING the delta (frozen build-time codebook) serves
    exactly what a from-scratch rebuild over the union with the SAME
    codebook serves — and the delta rows landed inside the existing
    cell= partition dirs (layout preserved, so q254's file pruning
    still applies)."""
    import os

    from kinesis_producer_spark.operators.similarity import (
        _collect_codebook,
        _pq_expr_parts,
        ivf_cell,
        ivf_pq_append_index,
        ivf_pq_topk_from_index,
        ivf_pq_write_index,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    base = e.filter(F.col("vec_id") % 10 != 0)
    delta = e.filter(F.col("vec_id") % 10 == 0)

    inc = str(tmp_path / "idx_inc")
    cb = ivf_pq_write_index(base, inc, bits=3)
    ivf_pq_append_index(delta, inc, cb, bits=3)

    # rebuild over the union, forcing the SAME base codebook by hand
    full = str(tmp_path / "idx_full")
    codes_fn, _, _ = _pq_expr_parts(cb, 8)
    (
        e.select(
            F.col("vec_id"),
            ivf_cell(F.col("embedding"), 3).alias("cell"),
            codes_fn(F.col("embedding")).alias("codes"),
        )
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(full)
    )
    qids = [0, 1, 2]  # query 0 lives in the delta
    as_set = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    got = as_set(ivf_pq_topk_from_index(e, inc, cb, query_ids=qids, bits=3))
    want = as_set(ivf_pq_topk_from_index(e, full, cb, query_ids=qids, bits=3))
    assert got == want and got

    # the index tables themselves are row-identical
    idx_set = lambda p: {  # noqa: E731
        (r.vec_id, tuple(r.codes), r.cell) for r in spark.read.parquet(p).collect()
    }
    assert idx_set(inc) == idx_set(full)
    # and appends reused the existing cell partition dirs
    inc_cells = {d for d in os.listdir(inc) if d.startswith("cell=")}
    full_cells = {d for d in os.listdir(full) if d.startswith("cell=")}
    assert inc_cells == full_cells and inc_cells


def test_trained_ivf_recall_geq_signbit_at_smaller_probe(spark):
    """The round-8 quantizer contract, pinned in BOTH directions at
    sf0.01 AND sf0.1 (direction, not magnitude — the q232 discipline):
    the trained composition's aggregate recall is >= the sign-bit
    composition's, AND its probed candidate total is strictly smaller.
    This is the property that makes training worth the build passes.

    Round 9 adds the FRONTIER pin (verdict #2): at the
    ivf_serving_config default (expected cell population 16,
    nprobe=4) the trained side must reach >= 70% aggregate recall at
    <= 15% probed fraction on BOTH fixtures — the measured operating
    point (79% at 12.9% probed at sf0.01, 77% at 3.3% at sf0.1) with
    headroom for fixture regeneration."""
    from kinesis_producer_spark.operators.llm_queries import (
        q258_ivf_pq_trained_recall,
    )

    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        n = spark.read.parquet(f"{sf}/embeddings.parquet").count()
        rows = q258_ivf_pq_trained_recall(spark, sf).collect()
        assert len(rows) == 30, sf
        hits_tr = sum(r.hits_trained for r in rows)
        hits_sb = sum(r.hits_signbit for r in rows)
        probed_tr = sum(r.probed_trained for r in rows)
        probed_sb = sum(r.probed_signbit for r in rows)
        assert hits_tr >= hits_sb, (sf, hits_tr, hits_sb)
        assert probed_tr < probed_sb, (sf, probed_tr, probed_sb)
        n_truth = sum(r.n_truth for r in rows)
        assert hits_tr * 100 >= 70 * n_truth, (sf, hits_tr, n_truth)
        assert probed_tr * 100 <= 15 * n * len(rows), (sf, probed_tr, n)


def test_residual_recall_geq_raw_space(spark):
    """Round-7 verdict #4 pinned: residual IVFADC encoding (q256) must
    recall at least as much truth as raw-space encoding (q252) on the
    fixture — direction, not magnitude — at sf0.01 AND sf0.1. Same
    cells, same probe set, same shortlist width: the only difference
    is what the code budget quantizes, so residuals' tighter
    clustering has to show up as recall."""
    from pyspark.sql import Window as W

    from kinesis_producer_spark.operators.llm_queries import (
        _RECALL_K,
        _RECALL_QUERIES,
    )
    from kinesis_producer_spark.operators.similarity import (
        brute_force_topk,
        ivf_pq_residual_topk,
        ivf_pq_residual_topk_trained,
        ivf_pq_topk,
        ivf_pq_topk_trained,
        train_ivf_centroids,
    )

    qids = list(range(_RECALL_QUERIES))
    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        e = spark.read.parquet(f"{sf}/embeddings.parquet")
        qs = e.filter(F.col("vec_id") < _RECALL_QUERIES).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        truth = {
            (r.query_id, r.vec_id)
            for r in brute_force_topk(e, qs, k=_RECALL_K + 1)
            .filter(F.col("vec_id") != F.col("query_id"))
            .withColumn(
                "rnk",
                F.row_number().over(
                    W.partitionBy("query_id").orderBy(
                        F.col("cos_micro").desc(), F.col("vec_id")
                    )
                ),
            )
            .filter(F.col("rnk") <= _RECALL_K)
            .select("query_id", "vec_id")
            .collect()
        }
        raw = {
            (r.query_id, r.vec_id)
            for r in ivf_pq_topk(
                e, query_ids=qids, k=_RECALL_K, shortlist=50, bits=3,
                exclude_self=True,
            ).collect()
        }
        resid = {
            (r.query_id, r.vec_id)
            for r in ivf_pq_residual_topk(
                e, query_ids=qids, k=_RECALL_K, shortlist=50, bits=3,
                exclude_self=True,
            ).collect()
        }
        assert len(resid & truth) >= len(raw & truth), (
            sf, len(resid & truth), len(raw & truth), len(truth),
        )
        # and the same direction on TRAINED cells (q262 vs q257 —
        # residuals vs the trained centroids themselves; measured
        # sf0.01 168->169, sf0.1 146->156 hits)
        cent = train_ivf_centroids(e, n_cells=16, rounds=2)
        raw_tr = {
            (r.query_id, r.vec_id)
            for r in ivf_pq_topk_trained(
                e, query_ids=qids, k=_RECALL_K, shortlist=50, n_cells=16,
                nprobe=2, exclude_self=True, centroids=cent,
            ).collect()
        }
        resid_tr = {
            (r.query_id, r.vec_id)
            for r in ivf_pq_residual_topk_trained(
                e, query_ids=qids, k=_RECALL_K, shortlist=50, n_cells=16,
                nprobe=2, exclude_self=True, centroids=cent,
            ).collect()
        }
        assert len(resid_tr & truth) >= len(raw_tr & truth), (
            sf, len(resid_tr & truth), len(raw_tr & truth), len(truth),
        )


def test_trained_ivf_index_partition_pruning(spark, tmp_path):
    """q259's physical contract: an index written with TRAINED cells
    serves row-identically to the inline trained path, the probe
    IN-list reaches the scan as a PartitionFilter, and the files read
    are exactly the probed centroids' partition dirs — training
    changes WHICH partitions exist, never the pruning shape."""
    import re

    from kinesis_producer_spark.operators.similarity import (
        _trained_parts,
        ivf_pq_topk_from_index,
        ivf_pq_topk_trained,
        ivf_pq_write_index,
        train_ivf_centroids,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cent = train_ivf_centroids(e, n_cells=16, rounds=2)
    idx = str(tmp_path / "ivfpq_tr_idx")
    cb = ivf_pq_write_index(e, idx, centroids=cent)

    qids = [0, 1, 2]
    served = ivf_pq_topk_from_index(
        e, idx, cb, query_ids=qids, centroids=cent, nprobe=2
    )
    inline = ivf_pq_topk_trained(
        e, query_ids=qids, n_cells=16, nprobe=2, centroids=cent
    )
    as_set = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    assert as_set(served) == as_set(inline) and as_set(served)

    # probe cells for the query set: 2 nearest trained centroids each
    _, probes_fn = _trained_parts(cent, 2)
    probe_cells = {
        int(r.c)
        for r in e.filter(F.col("vec_id").isin(qids))
        .select(F.explode(probes_fn(F.col("embedding"))).alias("c"))
        .collect()
    }
    pruned = spark.read.parquet(idx).filter(
        F.col("cell").isin(sorted(probe_cells))
    )
    plan = _plan(pruned)
    assert "PartitionFilters: [cell" in plan and " IN (" in plan, plan
    got_files = {
        r.f
        for r in pruned.select(F.input_file_name().alias("f")).distinct().collect()
    }
    all_files = set(spark.read.parquet(idx).inputFiles())
    assert got_files, "pruned scan read no files"
    assert got_files < all_files, "probe filter did not prune any partition"
    for f in got_files:
        m = re.search(r"cell=(\d+)", f)
        assert m and int(m.group(1)) in probe_cells, f


def test_ivf_auto_cells_law_and_auto_training(spark):
    """The corpus-scaled cell-count law: expected cell population stays
    <= target_cell, cells are powers of two in [2, 65536], and the
    probed FRACTION (nprobe/n_cells) shrinks as the corpus grows —
    the property that motivates training. n_cells=None routes
    train_ivf_centroids through the law."""
    from kinesis_producer_spark.operators.similarity import (
        ivf_auto_cells,
        train_ivf_centroids,
    )

    assert ivf_auto_cells(0) == 2
    assert ivf_auto_cells(256) == 2          # n/target == 1 -> clamp min
    assert ivf_auto_cells(1024) == 4
    assert ivf_auto_cells(10_000) == 64
    assert ivf_auto_cells(1_000_000) == 4096
    assert ivf_auto_cells(10**12) == 65_536  # clamp max
    for n in (300, 5_000, 2_000_000):
        c = ivf_auto_cells(n)
        assert c & (c - 1) == 0 and 2 <= c <= 65_536
        assert n / c <= 256 or c == 65_536
    # monotone probed-fraction shrink at fixed nprobe
    fracs = [2 / ivf_auto_cells(n) for n in (1_000, 10_000, 100_000, 1_000_000)]
    assert fracs == sorted(fracs, reverse=True) and fracs[-1] < fracs[0]

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cent = train_ivf_centroids(e, n_cells=None, rounds=1)
    assert len(cent) == ivf_auto_cells(e.count())
    assert all(len(c) == 64 for c in cent)


def test_streaming_index_append_trained_quantizer(spark, tmp_path):
    """The streaming-maintained index composes with the TRAINED
    quantizer: bootstrap + foreachBatch append against frozen trained
    centroids, then committed-epochs serving is row-identical to the
    inline trained path over the same corpus and codebook."""
    from kinesis_producer_spark.operators.similarity import (
        ivf_pq_topk_from_index,
        train_ivf_centroids,
    )
    from kinesis_producer_spark.streaming.ann_index import (
        bootstrap_index,
        index_append_writer,
        read_committed_index,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = e.filter(F.col("vec_id") % 10 != 0)
    delta = e.filter(F.col("vec_id") % 10 == 0)
    cent = train_ivf_centroids(e, n_cells=8, rounds=1)
    idx = str(tmp_path / "tr_stream_idx")
    cb = bootstrap_index(base, idx, n_centroids=16, m_dims=8, centroids=cent)
    writer = index_append_writer(idx, cb, m_dims=8, centroids=cent)
    writer(delta.select("vec_id", "embedding"), 0)
    # writer without a streaming query: commit happened inside
    from kinesis_producer_spark.streaming.ann_index import committed_epochs

    assert committed_epochs(idx) == [-1, 0]
    served = ivf_pq_topk_from_index(
        e, idx, cb, query_ids=[0, 1, 2], centroids=cent, nprobe=2,
        index_df=read_committed_index(spark, idx),
    )
    # row-identity reference: a one-shot rebuild over the union with
    # the SAME frozen centroids and codebook (the q255 contract shape)
    from kinesis_producer_spark.operators.similarity import (
        _pq_expr_parts,
        _trained_parts,
    )

    full = str(tmp_path / "tr_full_idx")
    codes_fn, _, _ = _pq_expr_parts(cb, 8)
    cell_fn, _ = _trained_parts(cent)
    (
        e.select(
            F.col("vec_id"),
            cell_fn(F.col("embedding")).alias("cell"),
            codes_fn(F.col("embedding")).alias("codes"),
        )
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(full)
    )
    want_df = ivf_pq_topk_from_index(
        e, full, cb, query_ids=[0, 1, 2], centroids=cent, nprobe=2
    )
    as_set = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    got, want = as_set(served), as_set(want_df)
    assert got == want and len(got) == 30


def test_sq8_payload_and_recall_dominates_flat_pq(spark):
    """SQ8 contracts: (a) the persisted payload is genuinely 8-bit —
    every code in [0, 255], one per dimension; (b) direction — SQ8's
    64-byte uniform codes recall at least as much truth as flat PQ's
    4-byte trained codes at the same shortlist (finer quantization
    cannot do worse on this fixture), at sf0.01 AND sf0.1. Measured:
    SQ8 recalls 300/300 at both."""
    from pyspark.sql import Window as W

    from kinesis_producer_spark.operators.llm_queries import (
        _RECALL_K,
        _RECALL_QUERIES,
    )
    from kinesis_producer_spark.operators.similarity import (
        brute_force_topk,
        cosine_micro,
        pq_codes_and_adc_topk,
        sq8_codes,
        sq8_topk,
    )

    qids = list(range(_RECALL_QUERIES))
    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        e = spark.read.parquet(f"{sf}/embeddings.parquet")
        c = sq8_codes(e)
        r = c.select(
            F.min(F.array_min("sq8_codes")).alias("lo"),
            F.max(F.array_max("sq8_codes")).alias("hi"),
            F.min(F.size("sq8_codes")).alias("n1"),
            F.max(F.size("sq8_codes")).alias("n2"),
        ).collect()[0]
        assert 0 <= r.lo and r.hi <= 255 and r.n1 == r.n2 == 64, (sf, r)

        qs = e.filter(F.col("vec_id") < _RECALL_QUERIES).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        truth = {
            (x.query_id, x.vec_id)
            for x in brute_force_topk(e, qs, k=_RECALL_K + 1)
            .filter(F.col("vec_id") != F.col("query_id"))
            .withColumn(
                "rnk",
                F.row_number().over(
                    W.partitionBy("query_id").orderBy(
                        F.col("cos_micro").desc(), F.col("vec_id")
                    )
                ),
            )
            .filter(F.col("rnk") <= _RECALL_K)
            .select("query_id", "vec_id")
            .collect()
        }
        sq = {
            (x.query_id, x.vec_id)
            for x in sq8_topk(
                e, query_ids=qids, k=_RECALL_K, shortlist=50,
                exclude_self=True,
            ).collect()
        }
        # flat PQ: ADC shortlist then exact re-rank (q253's flat path)
        short = pq_codes_and_adc_topk(
            e, query_ids=qids, k=50, exclude_self=True
        ).select("query_id", "vec_id")
        qe = e.filter(F.col("vec_id") < _RECALL_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qe")
        )
        ce = e.select("vec_id", F.col("embedding").alias("_ce"))
        pq = {
            (x.query_id, x.vec_id)
            for x in short.join(ce, "vec_id")
            .join(F.broadcast(qe), "query_id")
            .select(
                "query_id",
                "vec_id",
                cosine_micro(F.col("_qe"), F.col("_ce")).alias("cos_micro"),
            )
            .withColumn(
                "rnk",
                F.row_number().over(
                    W.partitionBy("query_id").orderBy(
                        F.col("cos_micro").desc(), F.col("vec_id")
                    )
                ),
            )
            .filter(F.col("rnk") <= _RECALL_K)
            .select("query_id", "vec_id")
            .collect()
        }
        assert len(sq & truth) >= len(pq & truth), (
            sf, len(sq & truth), len(pq & truth), len(truth),
        )


def test_trained_pq_recall_geq_lowid_pq(spark):
    """The round-9 quantizer contract (the q258/q232 discipline —
    direction, not magnitude — at sf0.01 AND sf0.1): per-subspace
    Lloyd training must recall at least as much truth as the
    lowest-id codebook it replaces, under the identical flat-ADC
    shortlist + exact re-rank protocol. Measured: 92 vs 63 hits of
    300 at sf0.01 and 63 vs 47 at sf0.1 on the RAW ADC top-10 (the
    q265 gate's shortlist protocol lifts both, same direction) —
    training decorrelates the M sub-codebooks that lowest-id slicing
    leaves as copies of the same 16 rows."""
    from kinesis_producer_spark.operators.llm_queries import (
        q265_pq_trained_recall,
    )

    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        rows = q265_pq_trained_recall(spark, sf).collect()
        assert len(rows) == 30, sf
        hits_tr = sum(r.hits_trained_pq for r in rows)
        hits_lo = sum(r.hits_lowid_pq for r in rows)
        assert hits_tr >= hits_lo, (sf, hits_tr, hits_lo)


def test_trained_pq_composes_with_trained_cells_and_residuals(spark):
    """The trained codebook drops into every serving composition
    (round-9 verdict #1's composition clause) and the direction
    holds there too: (a) q257's trained-cell path with
    codebook=train_pq_codebooks(...) recalls >= the same path with
    the lowest-id codebook (measured 170 vs 168 at sf0.01, 162 vs
    146 at sf0.1); (b) q262's trained-residual path with
    pq_codebook=train_pq_codebooks(centroids=...) — sub-codebooks
    trained ON RESIDUALS, the Jégou construction — recalls >= the
    lowest-id residual codebook (170 vs 169, 164 vs 156)."""
    from pyspark.sql import Window as W

    from kinesis_producer_spark.operators.llm_queries import (
        _RECALL_K,
        _RECALL_QUERIES,
    )
    from kinesis_producer_spark.operators.similarity import (
        brute_force_topk,
        ivf_pq_residual_topk_trained,
        ivf_pq_topk_trained,
        train_ivf_centroids,
        train_pq_codebooks,
    )

    qids = list(range(_RECALL_QUERIES))
    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        e = spark.read.parquet(f"{sf}/embeddings.parquet")
        qs = e.filter(F.col("vec_id") < _RECALL_QUERIES).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        truth = {
            (r.query_id, r.vec_id)
            for r in brute_force_topk(e, qs, k=_RECALL_K + 1)
            .filter(F.col("vec_id") != F.col("query_id"))
            .withColumn(
                "rnk",
                F.row_number().over(
                    W.partitionBy("query_id").orderBy(
                        F.col("cos_micro").desc(), F.col("vec_id")
                    )
                ),
            )
            .filter(F.col("rnk") <= _RECALL_K)
            .select("query_id", "vec_id")
            .collect()
        }

        def hits(df):
            return len({(r.query_id, r.vec_id) for r in df.collect()} & truth)

        cent = train_ivf_centroids(e, n_cells=16, rounds=2)
        cbt = train_pq_codebooks(e, n_centroids=16, m_dims=8, rounds=2)
        kw = dict(
            query_ids=qids, k=_RECALL_K, shortlist=50, n_cells=16, nprobe=2,
            exclude_self=True, centroids=cent,
        )
        assert hits(ivf_pq_topk_trained(e, codebook=cbt, **kw)) >= hits(
            ivf_pq_topk_trained(e, **kw)
        ), sf
        cbres = train_pq_codebooks(
            e, n_centroids=16, m_dims=8, rounds=2, centroids=cent
        )
        kwr = dict(
            query_ids=qids, k=_RECALL_K, shortlist=50, nprobe=2,
            exclude_self=True, centroids=cent,
        )
        assert hits(
            ivf_pq_residual_topk_trained(e, pq_codebook=cbres, **kwr)
        ) >= hits(ivf_pq_residual_topk_trained(e, **kwr)), sf


def test_staleness_monitor_detects_real_drift(spark, tmp_path):
    """Round-9 verdict #3: the q261 staleness monitor demonstrated
    doing its job. The shipped fixture's delta is mild (base-
    distribution rows), so its q261 reading shows no decay — which 16
    rows seed each codebook is fixture luck. Here the delta is a
    GENUINELY drifted distribution (every vec_id % 10 == 0 row offset
    by +1.0 per dim — far outside the base's [-0.53, 0.46] range, a
    200-row cluster that exceeds the 50-row shortlist so garbage codes
    can no longer be rescued by the exact re-rank, the mechanism the
    500-row fixture masked), and the decay direction is pinned:
    drifted queries (0/10/20 — the delta members of the query sample)
    recall STRICTLY less under the frozen base codebook than under
    the rebuilt one, and the aggregate never favors frozen. Measured:
    drifted-query hits 10 (frozen) vs 21 (rebuilt) of 30; aggregate
    109 vs 112; the no-drift control at the same scale reads 104 vs
    104. q261's oracle is unchanged — this drives the same registered
    query over a constructed fixture dir."""
    import numpy as np

    from kinesis_producer_spark.operators.llm_queries import (
        q261_ivf_pq_codebook_staleness,
    )

    e = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    rows = sorted((r.vec_id, np.array(r.embedding)) for r in e.collect())
    data = [
        (
            int(i),
            [float(x) for x in (v + 1.0 if i % 10 == 0 else v)],
        )
        for i, v in rows
    ]
    d = str(tmp_path / "drifted")
    spark.createDataFrame(
        data, "vec_id long, embedding array<double>"
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    out = {r.query_id: r for r in q261_ivf_pq_codebook_staleness(spark, d).collect()}
    assert len(out) == 30
    drift_f = sum(out[q].hits_frozen for q in (0, 10, 20))
    drift_r = sum(out[q].hits_rebuilt for q in (0, 10, 20))
    assert drift_f < drift_r, (drift_f, drift_r)
    total_f = sum(r.hits_frozen for r in out.values())
    total_r = sum(r.hits_rebuilt for r in out.values())
    assert total_f <= total_r, (total_f, total_r)


def test_sampled_training_covering_sample_bit_identical(spark):
    """The q267 invariant that makes bounded-sample training safe to
    adopt: a sample that covers the corpus (sample_rows >= n) is
    BIT-IDENTICAL to full training for every trainer — the E/M steps
    are order-independent aggregates and the init (lowest ids of the
    sample = lowest ids of the corpus) coincides. Also pins
    train_sample's contract: deterministic, exactly sample_rows rows,
    stable across re-evaluation; and the short-sample guard
    (sample_rows < n_cells) fails loudly through _codebook_rows."""
    from kinesis_producer_spark.operators.similarity import (
        train_ivf_centroids,
        train_pq_codebooks,
        train_sample,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    n = e.count()

    full = train_ivf_centroids(e, n_cells=8, rounds=2)
    cover = train_ivf_centroids(e, n_cells=8, rounds=2, sample_rows=n)
    assert cover == full

    pq_full = train_pq_codebooks(e, rounds=2)
    pq_cover = train_pq_codebooks(e, rounds=2, sample_rows=n)
    assert pq_cover == pq_full

    # residual-space trainer too (the q266 composition)
    cent = train_ivf_centroids(e, n_cells=8, rounds=1)
    res_full = train_pq_codebooks(e, rounds=1, centroids=cent)
    res_cover = train_pq_codebooks(
        e, rounds=1, centroids=cent, sample_rows=n
    )
    assert res_cover == res_full

    s1 = [r.vec_id for r in train_sample(e, 64).select("vec_id").collect()]
    s2 = [r.vec_id for r in train_sample(e, 64).select("vec_id").collect()]
    assert len(s1) == 64 and s1 == s2
    assert len(set(s1)) == 64

    with pytest.raises(ValueError, match="codebook needs"):
        train_ivf_centroids(e, n_cells=16, rounds=1, sample_rows=8)


def test_sampled_training_recall_trade_at_fixture_scale(spark):
    """The q267 measured trade, pinned as a DIRECTION at both fixtures
    (the q232 discipline): at the registered 16x2 point a 256-row
    training sample is 16 points per cell — under FAISS's 39-point
    warn threshold, so sampling variance costs recall at fixture
    scale (measured 168->130 of 300 at sf0.01, 146->82 at sf0.1;
    extra Lloyd rounds don't close it, the sample is converged by
    round 2). The pin is sampled <= full AND sampled still a working
    index (> a third of full's hits) — at production scale the
    sample is 256*cells << n and the variance term vanishes, which
    is the regime the complexity fix exists for (the soak measures
    that axis)."""
    from pyspark.sql import functions as F

    from kinesis_producer_spark.operators.similarity import (
        brute_force_topk,
        ivf_pq_topk_trained,
    )

    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        e = spark.read.parquet(f"{sf}/embeddings.parquet")
        qids = list(range(30))
        qdf = e.filter(F.col("vec_id") < 30).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        truth = brute_force_topk(e, qdf, k=11)
        tset = {
            (r.query_id, r.vec_id)
            for r in truth.collect()
            if r.query_id != r.vec_id
        }

        def hits(sample_rows):
            res = ivf_pq_topk_trained(
                e, query_ids=qids, k=10, shortlist=50, n_cells=16,
                nprobe=2, rounds=2, n_centroids=16, m_dims=8,
                exclude_self=True, sample_rows=sample_rows,
            )
            return sum(
                1 for r in res.collect() if (r.query_id, r.vec_id) in tset
            )

        h_full, h_samp = hits(None), hits(256)
        assert h_samp <= h_full, (sf, h_samp, h_full)
        assert h_samp * 3 > h_full, (sf, h_samp, h_full)


def test_ivf_cell_balance_accounts_every_vector(spark):
    """q268's frame contract: one row PER trained cell (empty cells
    included), populations sum to the corpus exactly, and load_ppm is
    the integer-exact ⌊10⁶·n·C/N⌋ — so Σ load_ppm sits within C of
    C·10⁶ (each floor loses < 1) and an empty cell reads exactly 0.
    The FAISS imbalance factor Σnᵢ²·C/N² computed over the frame must
    be ≥ 1 (Cauchy–Schwarz equality iff perfectly balanced)."""
    from kinesis_producer_spark.operators.similarity import (
        ivf_cell_balance,
        ivf_serving_config,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    n = e.count()
    n_cells, _ = ivf_serving_config(n)
    rows = ivf_cell_balance(e, n_cells=n_cells, rounds=2).collect()
    assert len(rows) == n_cells
    assert sum(r.n_vecs for r in rows) == n
    assert all(r.load_ppm >= 0 for r in rows)
    total_ppm = sum(r.load_ppm for r in rows)
    assert n_cells * 1_000_000 - n_cells <= total_ppm <= n_cells * 1_000_000
    for r in rows:
        if r.n_vecs == 0:
            assert r.load_ppm == 0
    imbalance = sum(r.n_vecs**2 for r in rows) * n_cells / n**2
    assert imbalance >= 1.0


def test_ivf_cell_balance_surfaces_empty_cells(spark):
    """A duplicated centroid can never win an assignment (ties go to
    the lowest cid), so its cell must appear as an EXPLICIT zero row —
    the starved-quantizer signal the diagnostic exists for."""
    from kinesis_producer_spark.operators.similarity import ivf_cell_balance

    df = spark.createDataFrame(
        [(i, [float(i % 3), float((i * 7) % 5) / 10.0]) for i in range(20)],
        "vec_id bigint, embedding array<float>",
    )
    cents = [[0, 0], [0, 0], [2_000_000, 300_000]]  # cid 1 unreachable
    rows = {r.cell: r for r in ivf_cell_balance(df, centroids=cents).collect()}
    assert set(rows) == {0, 1, 2}
    assert rows[1].n_vecs == 0 and rows[1].load_ppm == 0
    assert rows[0].n_vecs + rows[2].n_vecs == 20


def test_nprobe_sweep_equals_single_width_runs(spark):
    """The sweep contract (q269's operator): the rows at sweep value v
    are EXACTLY ivf_pq_topk_trained(nprobe=v) — truncating the
    max-width probe list to its first v entries is the same list the
    v-width run derives, and the shortlist/re-rank tail partitions by
    (nprobe, query) with identical tie rules. Pinned at two widths
    spanning the array-filter fan-out (1 = only the nearest cell,
    4 = the serving default)."""
    from kinesis_producer_spark.operators.similarity import (
        ivf_pq_nprobe_sweep,
        train_ivf_centroids,
    )
    from kinesis_producer_spark.operators.similarity import (
        ivf_pq_topk_trained,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cent = train_ivf_centroids(e, n_cells=16, rounds=2)
    sweep = ivf_pq_nprobe_sweep(
        e, [0, 1, 2], sweep=(1, 4), k=10, shortlist=50, centroids=cent
    ).collect()
    for v in (1, 4):
        got = {
            (r.query_id, r.vec_id, r.rank) for r in sweep if r.nprobe == v
        }
        want = {
            (r.query_id, r.vec_id, r.rank)
            for r in ivf_pq_topk_trained(
                e, [0, 1, 2], k=10, shortlist=50, nprobe=v, centroids=cent
            ).collect()
        }
        assert got == want and got, v


def test_nprobe_sweep_query_probed_monotone_recall_bounded(spark):
    """q269's output laws on the fixture: exactly one row per sweep
    value; the probed candidate count is non-decreasing in nprobe
    (wider probe ⊇ narrower probe by construction); recall_pct stays
    in [0, 100] and n_truth is the full 30-query sample at k=10.
    Recall itself is deliberately NOT pinned monotone — the measured
    frontier law is that past the knee the fixed shortlist fills with
    PQ noise (ivf_serving_config's table)."""
    from kinesis_producer_spark.operators.llm_queries import (
        q269_ivf_nprobe_sweep_recall,
    )

    rows = sorted(
        q269_ivf_nprobe_sweep_recall(spark, "/root/testdata/sf0.01").collect(),
        key=lambda r: r.nprobe,
    )
    assert [r.nprobe for r in rows] == [1, 2, 4, 8]
    assert all(r.n_truth == 300 for r in rows)
    probed = [r.probed for r in rows]
    assert probed == sorted(probed)
    assert probed[0] < probed[-1]
    for r in rows:
        assert 0 <= r.recall_pct <= 100
        assert 0 <= r.hits <= r.n_truth


def test_filtered_ann_prefilter_semantics_and_gate(spark):
    """Filtered-ANN contracts (q270/q271): every pre-filtered result
    row satisfies the predicate with contiguous ranks from 1 — a
    query MAY return fewer than k rows when its probed cells hold
    fewer than k qualifying vectors (measured 5-10 of 10 at the
    default probe width; the production lever is widening nprobe
    ∝ 1/selectivity, which the per-request ``nprobe`` knob provides
    without touching the index). The structural gate, pinned at BOTH
    fixtures (direction, the q232 discipline): pre-filtering recalls
    STRICTLY more filtered truth than post-filtering the unfiltered
    top-k (which at ~10% selectivity keeps ~1 of its 10 slots —
    measured pre/post: 89/21 at sf0.01, 69/30 at sf0.1)."""
    from pyspark.sql import functions as F

    from kinesis_producer_spark.operators.llm_queries import (
        q270_filtered_ann_topk,
        q271_filtered_ann_recall,
    )

    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        e = spark.read.parquet(f"{sf}/embeddings.parquet")
        lab = {r.vec_id for r in e.filter(F.col("label") == 1).collect()}
        res = q270_filtered_ann_topk(spark, sf).collect()
        by_q = {}
        for r in res:
            assert r.vec_id in lab, (sf, r)
            by_q.setdefault(r.query_id, []).append(r.rank)
        assert set(by_q) == {0, 1, 2}
        for ranks in by_q.values():
            assert sorted(ranks) == list(range(1, len(ranks) + 1)), (sf, ranks)
            assert 1 <= len(ranks) <= 10

        rows = q271_filtered_ann_recall(spark, sf).collect()
        assert len(rows) == 30, sf
        assert all(r.n_truth == 10 for r in rows)
        pre = sum(r.hits_prefilter for r in rows)
        post = sum(r.hits_postfilter for r in rows)
        assert pre > post, (sf, pre, post)
        assert pre * 10 >= sum(r.n_truth for r in rows), (sf, pre)


def test_filtered_probe_widening_recovers_recall(spark):
    """The q270/q271 serving lever measured: widening the probe list
    by 1/selectivity (filtered_probe_width — 4/0.1 capped at 32 cells
    probes everything) must recall at least as much filtered truth as
    the default width, and strictly more on the fixture where the
    default leaves probed cells starved of qualifying rows. Also pins
    the function's arithmetic: cap, floor at nprobe, the [0, 1]
    selectivity guard, and the empty-match rule (sel == 0 yields the
    narrowest scan, NOT a crash — the q270 pattern computes
    sel = matched/n and zero matches is a legitimate request;
    round-9 ADVICE)."""
    import pytest

    from kinesis_producer_spark.operators.similarity import (
        brute_force_topk,
        filtered_probe_width,
        ivf_pq_topk_trained,
        ivf_serving_config,
        train_ivf_centroids,
    )

    assert filtered_probe_width(4, 0.1, 32) == 32
    assert filtered_probe_width(4, 0.5, 32) == 8
    assert filtered_probe_width(4, 1.0, 32) == 4
    assert filtered_probe_width(4, 0.001, 32) == 32
    assert filtered_probe_width(4, 0.0, 32) == 4
    assert filtered_probe_width(4, 0.0, 2) == 2
    with pytest.raises(ValueError):
        filtered_probe_width(4, -0.1, 32)
    with pytest.raises(ValueError):
        filtered_probe_width(4, 1.1, 32)

    sf = "/root/testdata/sf0.01"
    e = spark.read.parquet(f"{sf}/embeddings.parquet")
    n = e.count()
    n_cells, nprobe = ivf_serving_config(n)
    cent = train_ivf_centroids(e, n_cells=n_cells, rounds=2)
    sel = e.filter(F.col("label") == 1).count() / n
    wide = filtered_probe_width(nprobe, sel, n_cells)
    assert wide > nprobe

    qids = list(range(30))
    qs = e.filter(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    raw = brute_force_topk(
        e.filter(F.col("label") == 1), qs, k=11, query_id_col="query_id"
    ).collect()
    per_q = {}
    for r in raw:
        if r.vec_id != r.query_id:
            per_q.setdefault(r.query_id, []).append((-r.cos_micro, r.vec_id))
    truth = {
        (qid, vid)
        for qid, lst in per_q.items()
        for _, vid in sorted(lst)[:10]
    }

    def hits(np_):
        res = ivf_pq_topk_trained(
            e, qids, k=10, shortlist=50, nprobe=np_, exclude_self=True,
            centroids=cent, where=F.col("label") == 1,
        )
        return sum(1 for r in res.collect() if (r.query_id, r.vec_id) in truth)

    h_default, h_wide = hits(nprobe), hits(wide)
    assert h_wide >= h_default, (h_wide, h_default)
    assert h_wide > h_default, (h_wide, h_default)


def test_ivf_sq8_recall_geq_ivf_pq_at_same_point(spark):
    """The IVF×SQ8 contract (q273): at the SAME trained cells, probe
    width and shortlist, replacing the 4-byte PQ payload with the
    64-byte SQ8 payload must recall at least as much exact truth —
    SQ8's asymmetric distance is strictly finer-grained, so the only
    recall loss left is the probe ceiling itself. Measured 240 vs 238
    (sf0.01) and 235 vs 232 (sf0.1) of 300 — the ≥ direction is the
    pin (the gap is small BECAUSE trained PQ at the serving point is
    already near the ceiling; the q269 sweep shows where that ceiling
    sits)."""
    from pyspark.sql import functions as F

    from kinesis_producer_spark.operators.similarity import (
        brute_force_topk,
        ivf_pq_topk_trained,
        ivf_serving_config,
        ivf_sq8_topk,
        train_ivf_centroids,
    )

    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        e = spark.read.parquet(f"{sf}/embeddings.parquet")
        qids = list(range(30))
        n_cells, nprobe = ivf_serving_config(e.count())
        cent = train_ivf_centroids(e, n_cells=n_cells, rounds=2)
        qs = e.filter(F.col("vec_id") < 30).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        raw = brute_force_topk(e, qs, k=11).collect()
        per = {}
        for r in raw:
            if r.vec_id != r.query_id:
                per.setdefault(r.query_id, []).append((-r.cos_micro, r.vec_id))
        truth = {
            (q, v) for q, lst in per.items() for _, v in sorted(lst)[:10]
        }

        def hits(fn):
            res = fn(
                e, query_ids=qids, k=10, shortlist=50, nprobe=nprobe,
                exclude_self=True, centroids=cent,
            )
            return sum(
                1 for r in res.collect() if (r.query_id, r.vec_id) in truth
            )

        h_sq8, h_pq = hits(ivf_sq8_topk), hits(ivf_pq_topk_trained)
        assert h_sq8 >= h_pq, (sf, h_sq8, h_pq)
        assert h_sq8 * 2 > 300, (sf, h_sq8)


def test_codebook_artifact_roundtrip_and_guards(tmp_path):
    """The persisted-quantizer artifact (ann_artifacts): round-trip
    is value-identical (the bit-exactness contract — integers in,
    the same integers out), floats are rejected rather than silently
    rounded, an unknown format version fails loudly, at least one
    quantizer is required, and the write is atomic (no .tmp residue,
    and a pre-existing artifact is replaced whole)."""
    import json
    import os

    import pytest

    from kinesis_producer_spark.operators.ann_artifacts import (
        read_codebook,
        write_codebook,
    )

    cent = [[1, -2, 3], [4, 5, -6]]
    cb = [[7, 8, 9], [-10, 11, 12]]
    p = str(tmp_path / "quant.json")
    write_codebook(p, centroids=cent, codebook=cb,
                   meta={"rounds": 2, "m_dims": 1, "sample_rows": None})
    art = read_codebook(p)
    assert art["centroids"] == cent
    assert art["codebook"] == cb
    assert art["meta"] == {"rounds": 2, "m_dims": 1, "sample_rows": None}
    assert not os.path.exists(p + ".tmp")

    # centroids-only and codebook-only artifacts are legal
    write_codebook(p, centroids=cent)
    art = read_codebook(p)
    assert art["centroids"] == cent and art["codebook"] is None

    with pytest.raises(ValueError, match="needs centroids"):
        write_codebook(str(tmp_path / "none.json"))
    with pytest.raises(ValueError, match="micro-ints"):
        write_codebook(str(tmp_path / "f.json"), centroids=[[1.5, 2]])

    # version guard: a future-format artifact fails loudly
    with open(p) as fh:
        doc = json.load(fh)
    doc["format_version"] = 999
    with open(p, "w") as fh:
        json.dump(doc, fh)
    with pytest.raises(ValueError, match="format_version"):
        read_codebook(p)


def test_adaptive_nprobe_dominates_fixed_ceiling(spark):
    """The q278/q279 serving lever gated at BOTH fixtures: per-query
    adaptive probe width (probe while d2 <= 2 * d2_nearest, ceiling 8)
    must recall AT LEAST as much exact truth as the fixed ceiling
    while scanning STRICTLY fewer candidate rows — dominance on both
    axes, not a trade (the far cells the rule skips feed the
    shortlist PQ noise, the ivf_serving_config finding). Also pins
    the probe-list mechanics: the adaptive list is a non-empty prefix
    of the fixed-width list (same (d2, cid) order), so rank 0 is
    always probed."""
    from kinesis_producer_spark.operators.llm_queries import (
        q279_ivf_adaptive_nprobe_recall,
    )
    from kinesis_producer_spark.operators.similarity import (
        _trained_parts,
        train_ivf_centroids,
    )

    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        rows = q279_ivf_adaptive_nprobe_recall(spark, sf).collect()
        assert len(rows) == 30
        hits_ad = sum(r.hits_adaptive for r in rows)
        hits_fx = sum(r.hits_fixed for r in rows)
        probed_ad = sum(r.probed_adaptive for r in rows)
        probed_fx = sum(r.probed_fixed for r in rows)
        assert hits_ad >= hits_fx, (sf, hits_ad, hits_fx)
        assert probed_ad < probed_fx, (sf, probed_ad, probed_fx)
        # per-query: adaptive never probes more rows than fixed
        assert all(r.probed_adaptive <= r.probed_fixed for r in rows)

    # prefix property on the fixture quantizer
    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cent = train_ivf_centroids(e, n_cells=32, rounds=2)
    ap = _trained_parts(cent, 8, adapt=(2, 1))[1]
    fp = _trained_parts(cent, 8)[1]
    both = (
        e.filter(F.col("vec_id") < 30)
        .select(
            ap(F.col("embedding")).alias("a"), fp(F.col("embedding")).alias("f")
        )
        .collect()
    )
    for r in both:
        assert 1 <= len(r.a) <= len(r.f) == 8
        assert list(r.f[: len(r.a)]) == list(r.a)


def test_served_index_pruning_survives_tombstone_antijoin(spark, tmp_path):
    """The read_served_index plan claim pinned: the probe-cell
    partition filter pushes THROUGH the tombstone anti-join to the
    code-row scan (file pruning before I/O, q254's property intact
    under merge-on-read), the suppression side is a BROADCAST anti
    join whose own scan prunes to the reserved tombstone partition,
    and the files actually read on the data side are exactly the
    probed cells'."""
    import re

    from kinesis_producer_spark.streaming.ann_index import (
        bootstrap_index,
        index_upsert_writer,
        read_served_index,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    idx = str(tmp_path / "srv_idx")
    cb = bootstrap_index(e, idx, n_centroids=16, m_dims=8, bits=3)
    w = index_upsert_writer(idx, cb, bits=3, m_dims=8)
    w(
        e.filter(F.col("vec_id").isin(5, 6)).select(
            "vec_id", "embedding", F.lit("delete").alias("op")
        ),
        0,
    )

    probe_cells = [0, 3]
    pruned = read_served_index(spark, idx).filter(
        F.col("cell").isin(probe_cells)
    )
    plan = _plan(pruned)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    # data-side scan: probe IN-list arrived as a PARTITION filter
    assert re.search(r"PartitionFilters:.*cell.*IN \(0,3\)", plan) or re.search(
        r"PartitionFilters:.*cell.* IN \(0, ?3\)", plan
    ), plan
    # tombstone-side scan prunes to the reserved partition
    assert re.search(r"PartitionFilters:.*cell.*=.*-1", plan), plan
    # (input_file_name() can't verify per-side files on a two-source
    # plan — Spark's PreReadCheck forbids it; the PartitionFilters
    # lines above ARE the file-prune evidence, same as plan_audit)
    # and the served rows exclude the takedowns
    assert pruned.filter(F.col("vec_id").isin(5, 6)).count() == 0
    assert pruned.count() > 0


def test_codebook_artifact_composes_with_streaming_index(spark, tmp_path):
    """The train-once / serve-many split end to end across JOBS: a
    trainer writes the artifact; a logically separate streaming
    maintenance job loads it and bootstraps + appends with the frozen
    quantizers; serving over the streamed index is row-identical to
    serving over an index built directly from the in-memory values —
    the artifact is a transport, never a rank change."""
    from kinesis_producer_spark.operators.ann_artifacts import (
        read_codebook,
        write_codebook,
    )
    from kinesis_producer_spark.operators.similarity import (
        _collect_codebook,
        ivf_pq_topk_from_index,
        train_ivf_centroids,
    )
    from kinesis_producer_spark.streaming.ann_index import (
        bootstrap_index,
        index_append_writer,
        read_committed_index,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = e.filter(F.col("vec_id") % 10 != 0)
    delta = e.filter(F.col("vec_id") % 10 == 0)

    # trainer job
    cent = train_ivf_centroids(base, n_cells=8, rounds=2)
    cb = _collect_codebook(base, "vec_id", "embedding", 16)
    art_path = str(tmp_path / "quantizers.json")
    write_codebook(art_path, centroids=cent, codebook=cb,
                   meta={"m_dims": 8, "rounds": 2, "n_cells": 8})

    def build_and_serve(idx, centroids, codebook):
        bootstrap_index(base, idx, m_dims=8, centroids=centroids,
                        codebook=codebook)
        w = index_append_writer(idx, codebook, m_dims=8,
                                centroids=centroids)
        w(delta.select("vec_id", "embedding"), 0)
        return {
            tuple(r)
            for r in ivf_pq_topk_from_index(
                e, idx, codebook, query_ids=[0, 1, 2], k=10, shortlist=50,
                m_dims=8, centroids=centroids, nprobe=2,
                index_df=read_committed_index(spark, idx),
            ).collect()
        }

    art = read_codebook(art_path)
    via_artifact = build_and_serve(
        str(tmp_path / "idx_art"), art["centroids"], art["codebook"]
    )
    direct = build_and_serve(str(tmp_path / "idx_mem"), cent, cb)
    assert via_artifact == direct and via_artifact


def test_sq8_ranges_artifact_bit_identity():
    """sq8_train_ranges through the artifact is the SAME quantizer:
    codes and top-k rows bit-identical to in-run derivation, and the
    ranges row-group validates as integers."""
    import os
    import tempfile
    import uuid

    from pyspark.sql import SparkSession

    from kinesis_producer_spark.operators.ann_artifacts import (
        read_codebook,
        write_codebook,
    )
    from kinesis_producer_spark.operators.similarity import (
        sq8_codes,
        sq8_topk,
        sq8_train_ranges,
    )

    spark = SparkSession.getActiveSession() or (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rng = sq8_train_ranges(e)
    assert all(isinstance(v, int) for part in rng for v in part)
    p = os.path.join(
        tempfile.gettempdir(), f"sq8rt_{uuid.uuid4().hex[:8]}.json"
    )
    try:
        write_codebook(p, sq8_ranges=rng)
        art = read_codebook(p)
        derived = {
            (r.vec_id, tuple(r.sq8_codes)) for r in sq8_codes(e).collect()
        }
        frozen = {
            (r.vec_id, tuple(r.sq8_codes))
            for r in sq8_codes(e, ranges=art["sq8_ranges"]).collect()
        }
        assert derived == frozen and derived
        a = {tuple(r) for r in sq8_topk(e, [0, 1], k=5).collect()}
        b = {
            tuple(r)
            for r in sq8_topk(
                e, [0, 1], k=5, ranges=art["sq8_ranges"]
            ).collect()
        }
        assert a == b and a
    finally:
        try:
            os.remove(p)
        except FileNotFoundError:
            pass


def test_adaptive_width_on_persisted_index_matches_inline(spark, tmp_path):
    """q278's adaptive probe rule on the PRODUCTION read path: serving
    from the persisted cell-partitioned index with adapt_ratio is
    row-identical to the inline adaptive path (training must change
    which partitions are opened, never a rank), and the partition
    IN-list it pushes is the per-query adaptive list — strictly fewer
    probed rows than the fixed ceiling on this fixture."""
    from kinesis_producer_spark.operators.similarity import (
        ivf_pq_topk_from_index,
        ivf_pq_topk_trained,
        ivf_pq_write_index,
        ivf_serving_config,
        train_ivf_centroids,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    n_cells, _ = ivf_serving_config(e.count())
    cent = train_ivf_centroids(e, n_cells=n_cells, rounds=2)
    idx = str(tmp_path / "ad_idx")
    cb = ivf_pq_write_index(e, idx, n_centroids=16, m_dims=8, centroids=cent)

    inline = ivf_pq_topk_trained(
        e, [0, 1, 2], k=10, shortlist=50, nprobe=8, centroids=cent,
        adapt_ratio=(2, 1),
    )
    served = ivf_pq_topk_from_index(
        e, idx, cb, query_ids=[0, 1, 2], k=10, shortlist=50, m_dims=8,
        centroids=cent, nprobe=8, adapt_ratio=(2, 1),
    )
    as_set = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    assert as_set(served) == as_set(inline) and as_set(served)

    # and the streaming query writer accepts the lever end to end
    import os

    from kinesis_producer_spark.streaming.ann_index import (
        ann_query_writer,
        bootstrap_index,
        read_committed_results,
    )

    sidx = str(tmp_path / "ad_sidx")
    res = str(tmp_path / "ad_res")
    cb2 = bootstrap_index(e, sidx, n_centroids=16, m_dims=8, centroids=cent)
    w = ann_query_writer(
        res, sidx, e, cb2, k=10, shortlist=50, m_dims=8, centroids=cent,
        nprobe=8, adapt_ratio=(2, 1),
    )
    w(e.filter(F.col("vec_id").isin(0, 1, 2)).select("vec_id"), 0)
    got = {
        tuple(r)
        for r in read_committed_results(spark, res)
        .select("query_id", "vec_id", "adist_q", "cos_micro", "rank")
        .collect()
    }
    assert got == as_set(inline)


def test_adaptive_probe_width_input_validation(spark):
    """The round-10 ADVICE guards pinned: (a) degenerate adapt ratios
    (den=0 keeps full width, non-positive members corrupt the keep
    mask) fail loudly at _trained_parts / every adapt_ratio seam
    instead of silently diverging from the oracle's predicate; (b)
    adapt_ratio on the sign-bit (centroids=None) persisted-index path
    raises instead of silently serving the fixed xor probe list."""
    import pytest

    from kinesis_producer_spark.operators.similarity import (
        _trained_parts,
        ivf_pq_topk_from_index,
        ivf_pq_topk_trained,
        train_ivf_centroids,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cent = train_ivf_centroids(e, n_cells=8, rounds=1)
    for bad in ((2, 0), (0, 1), (-2, 1), (2, -1), (1.5, 1)):
        with pytest.raises(ValueError, match="adapt"):
            _trained_parts(cent, 8, adapt=bad)
        with pytest.raises(ValueError, match="adapt"):
            ivf_pq_topk_trained(
                e, query_ids=[0], k=3, nprobe=8, centroids=cent,
                adapt_ratio=bad,
            ).collect()
    # a valid ratio still builds
    assert _trained_parts(cent, 8, adapt=(2, 1))[1] is not None

    with pytest.raises(ValueError, match="trained quantizer"):
        ivf_pq_topk_from_index(
            e, "/nonexistent", [[0] * 64] * 4, query_ids=[0],
            centroids=None, adapt_ratio=(2, 1),
        )


def test_cached_artifact_train_once_and_bit_identity(spark, tmp_path):
    """The round-10 verdict #2 seam pinned: (a) cached_artifact runs
    its trainer EXACTLY ONCE per (tag, corpus) and every later call
    deserializes values bit-identical to the retrain; (b) a corpus
    content change (fingerprint) forces a retrain — a cached artifact
    can never outlive its corpus; (c) cached_index_dir builds once,
    returns the same published path after, and a second builder is
    never invoked."""
    import os
    import shutil

    from kinesis_producer_spark.operators.ann_artifacts import (
        cached_artifact,
        cached_index_dir,
        corpus_fingerprint,
    )
    from kinesis_producer_spark.operators.similarity import (
        train_ivf_centroids,
    )

    # private corpus copy so we can touch its mtime
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    shutil.copy(
        "/root/testdata/sf0.001/embeddings.parquet",
        os.path.join(sf, "embeddings.parquet"),
    )
    root = str(tmp_path / "cache")
    e = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
    direct = train_ivf_centroids(e, n_cells=8, rounds=2)
    calls = []

    def trainer():
        calls.append(1)
        return {
            "centroids": train_ivf_centroids(e, n_cells=8, rounds=2),
            "meta": {"rounds": 2, "n_cells": 8},
        }

    a1 = cached_artifact(sf, "t8", trainer, cache_root=root)
    a2 = cached_artifact(sf, "t8", trainer, cache_root=root)
    assert len(calls) == 1  # (a) train once
    assert a1["centroids"] == a2["centroids"] == direct  # bit-identical
    assert a2["meta"]["n_cells"] == 8

    # (b) corpus change -> new fingerprint -> retrain
    fp_before = corpus_fingerprint(sf)
    os.utime(os.path.join(sf, "embeddings.parquet"))
    assert corpus_fingerprint(sf) != fp_before
    cached_artifact(sf, "t8", trainer, cache_root=root)
    assert len(calls) == 2

    # (c) index dir: build once, stable path, complete on publish
    from kinesis_producer_spark.streaming.ann_index import (
        bootstrap_index,
        read_committed_index,
    )

    builds = []

    def builder(p):
        builds.append(p)
        bootstrap_index(e, p, n_centroids=8, m_dims=8, bits=3)

    p1 = cached_index_dir(sf, "idx8", builder, cache_root=root)
    p2 = cached_index_dir(sf, "idx8", builder, cache_root=root)
    assert p1 == p2 and len(builds) == 1
    assert builds[0] != p1  # built at a tmp path, published by rename
    assert read_committed_index(spark, p1).count() == e.count()

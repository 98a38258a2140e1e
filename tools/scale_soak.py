"""sf0.1 → sf1.0 scale soak (VERDICT r4 item 1).

Runs the suite's top shuffle writers plus the round-4 heavy hitters at
BOTH sf0.1 and the generated sf1.0 (tools/gen_scale_data.py — a 10x
key-space translation, so per-copy workloads are exactly the sf0.1
workload and the honest yardstick is LINEAR growth in rows/edges).
For each query it records min-of-2 wall time and measured shuffle
write/read bytes (monitoring REST API, same mechanism as
shuffle_audit.py), then prints the 10x ratios.

What "pass" means: time and shuffle ratios near ~10x (linear) or
below; a ratio trending toward 100x would be the hidden quadratic the
soak exists to catch. Fixpoint loops (connected components, PageRank,
BPE) may exceed 10x by their round count growing with the DATA only
if components span copies — they cannot here (keys are disjoint), so
their round counts must stay FLAT; the tool prints observed rounds
via wall-clock sanity only.

Usage: python tools/scale_soak.py [query ...]   (default: the soak set)
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SOAK = [
    "q129_copurchase_pairs",
    "q144_connected_components",
    "q147_bpe_vocab_induction",
    "q150_pagerank_integer",
    "q158_merge_on_read",
    "q162_frequent_triples",
    "q163_triangle_count",
    "q51_minhash_lsh",
    "q99_common_passages",
    "q212_packed_sequences",
    # round-6 additions (VERDICT r5 items 3 and 6):
    # peak-execution-memory outliers from the shuffle audit's fifth
    # dimension — the soak must show per-task memory NOT scaling with
    # input (the axis that OOMs a 100x run without ever spilling)
    "q63_tfidf",
    "q80_split_contamination",
    "q101_dedup_keep_list",
    "q186_ab_session_metrics",
    # round-5 scale-pattern operators that missed the first soak list
    "q223_range_aggregate_prefix",
    "q224_kmv_set_ops",
    "q225_logbin_quantiles",
    # round-6 span-level substring dedup (q226/q227 family)
    "q226_exact_substring_spans",
    "q227_substring_dedup_apply",
    # round-6 late additions: semantic dedup (fixed-quantizer pair
    # growth is expected to be ~100x at 10x density — see SCALE.md
    # adjudication: production scales bits with log2 n), the LM/DSIR
    # scoring pair (corpus-keyed/broadcast shapes), PQ codes
    # (O(n*M*K) rows), and the bucketed-prefix budget selection
    "q231_semantic_dedup_keep_list",
    "q232_bigram_lm_quality",
    "q233_dsir_importance",
    "q234_pq_ann_adc",
    "q238_token_budget_selection",
    # round-6 extension: curriculum phases (the q238 prefix-sum
    # composition on a second query)
    "q241_curriculum_phases",
    # round-7 (VERDICT r6 items 6 and 7): the eval/serving members
    # that joined after the r6 list froze, the rewired compact-code
    # PQ path (q234 stays above for the before/after), and the
    # composed IVF×PQ index + its recall gate
    "q242_ann_recall_eval",
    "q243_streaming_token_budget",
    "q245_hard_negative_mining",
    "q246_semantic_decontamination",
    "q252_ivf_pq_topk",
    "q253_ivf_pq_recall",
    "q256_ivf_pq_residual_topk",
    # round-8: the trained coarse quantizer family (build passes +
    # nprobe-nearest serving), its recall/probe gate, trained-index
    # and streaming-maintained index serving, and the two re-tuned
    # packed-state streaming queries (15k users at sf1.0 stresses
    # the bucket fan-in)
    "q257_ivf_pq_trained_topk",
    "q258_ivf_pq_trained_recall",
    "q259_ivf_pq_trained_index_serving",
    "q260_streaming_index_append",
    "q261_ivf_pq_codebook_staleness",
    "q262_ivf_pq_trained_residual_topk",
    "q263_sq8_scalar_quantization_topk",
    # round-9: trained per-subspace PQ codebooks (build = M sub-
    # codebooks in ONE (cid, d) aggregate per Lloyd round — the claim
    # to watch is build-pass linearity, NOT M corpus shuffles) and the
    # re-defaulted q257/q259 above (ivf_serving_config: population-16
    # cells × nprobe=4 — probed-cell scan at the new operating point)
    "q264_pq_trained_adc_topk",
    "q265_pq_trained_recall",
    "q266_ivf_pq_fully_trained_topk",
    # bounded-sample training: the Lloyd rounds run over a FIXED
    # 256-row sample at every sf, so the build-pass cost that grows
    # with the corpus is only the single final assignment (the IVF
    # add) — the wall ratio should sit well under the full-training
    # q257's
    "q267_ivf_sampled_training_topk",
    # quantizer-health diagnostics: cell-balance histogram (one
    # assignment pass + a bounded per-cell count — wall should track
    # the corpus linearly, shuffle stays control-sized) and the
    # nprobe sweep (ONE shared scan at the widest width; the claim is
    # that the sweep costs ~one q257 run, not |sweep| of them)
    "q268_ivf_cell_balance",
    "q269_ivf_nprobe_sweep_recall",
    # filtered ANN (candidate-scan predicate ahead of ADC — same plan
    # as q257 plus one pushed-down filter; the gate's truth side is
    # O(|sample|·|filtered corpus|)) and the query-side stream (per
    # trigger: probed cells of that batch's queries only)
    "q270_filtered_ann_topk",
    "q271_filtered_ann_recall",
    "q272_streaming_ann_queries",
    # IVF×SQ8: q257's pruned scan at the 64 B payload — same cells,
    # near-exact in-cell ranking; wall should track q257
    "q273_ivf_sq8_topk",
    # index compaction: fold E epochs to 1 file/cell; reads code rows
    # once (never raw vectors), writes clustered by cell
    "q274_ann_index_compaction",
    # round-10: artifact-path serving (q257's plan plus one bounded
    # JSON round-trip — wall should track q257), tombstone
    # upsert/delete serving and its compaction fold (the suppression
    # anti-join is churn-bounded broadcast: shuffle must NOT grow
    # with corpus, only with the delete/upsert volume), and adaptive
    # probe width (per-query narrower scans — wall should sit AT OR
    # UNDER the fixed-ceiling q257 shape)
    "q275_codebook_artifact_serving",
    "q276_ann_index_upsert_serving",
    "q277_ann_upsert_compaction_serving",
    "q278_ivf_adaptive_nprobe_topk",
    "q279_ivf_adaptive_nprobe_recall",
    # index health under churn: one code-table pass + churn-bounded
    # broadcast tombstone side + per-cell count (serving's plan minus ADC)
    "q280_ann_index_health",
    # SQ8 ranges through the artifact: q273's plan with the range
    # aggregate replaced by frozen control data — wall tracks q273
    "q281_sq8_artifact_serving",
    "q133_stream_version_track",
    "q153_stateful_sessions",
    # round-11: the rebuild runbook (one bounded-train pass + one
    # distributed encode — the initial-build shape, paid on trigger),
    # the auto-compaction policy (the health scan + the q274 fold),
    # the Kinesis consume loop (executor-parallel produce + one
    # partitioned block scan), perceptual image dedup (one decode
    # pass + banded self-join — the MinHash-LSH shuffle shape on 8-
    # byte keys), and the count-trained quality classifier (one
    # token-keyed aggregate to train, broadcast-join to score)
    "q282_ann_index_rebuild_serving",
    "q283_ann_auto_compaction_policy",
    "q284_kinesis_consume_roundtrip",
    "q285_phash_near_dup_pairs",
    "q286_dhash_exact_dedup",
    "q287_nb_quality_train",
    "q288_nb_quality_score",
    "q289_ann_trained_rebuild_serving",
    # round-12: the auto-bits SemDeDup registration (VERDICT r11 #1) —
    # the corpus-count-derived quantizer width is exactly what keeps
    # within-cell pair volume ~linear where the pinned-bits q231 goes
    # quadratic at 100x density; this row is the proof
    "q290_semantic_dedup_auto_bits",
    # round-12: perceptual audio dedup through the real FLAC codec —
    # one Arrow encode+decode pass then the q285 banded-candidate
    # shuffle on 8-byte keys (q291) / the q50 hash-groupBy (q292)
    "q291_audio_fp_near_dup_pairs",
    "q292_audio_fp_exact_dedup",
    # round-12: the stream pipeline closed through the flatten sink
    # (produce -> consume -> pivot -> partitioned sink -> pruned
    # re-read), the in-stream rebuild composition, and the graph-ANN
    # family (build = the q231 cell-join discipline; search = bounded
    # beams whose per-hop work is frontier-sized, not corpus-sized)
    "q293_stream_consume_flatten_sink",
    "q294_streaming_rebuild_maintenance",
    "q295_nsw_graph_build",
    "q296_nsw_beam_search",
    "q298_hnsw_layered_search",
]

# Override the soaked decades with e.g.
#   SOAK_SFS="sf0.1:/root/testdata/sf0.1,sf10:<repo>/.scale/sf10"
# (round-10 verdict #4: a second decade separates O(n log n) from
# O(n^2) tails one decade can hide). Ratios are printed between the
# FIRST and LAST listed sf.
_sfs_env = os.environ.get("SOAK_SFS")
if _sfs_env:
    SF_DIRS = {}
    for part in _sfs_env.split(","):
        label, path = part.split(":", 1)
        SF_DIRS[label] = path
else:
    SF_DIRS = {
        "sf0.1": "/root/testdata/sf0.1",
        "sf1.0": os.path.join(REPO, ".scale", "sf1.0"),
    }


def _rest(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=30) as resp:
        return json.loads(resp.read())


def main() -> int:
    from kinesis_producer_spark.session import get_spark
    from kinesis_producer_spark.suite import load_all

    names = sys.argv[1:] or SOAK
    queries, _ = load_all()
    os.environ["SPARK_GRAFT_UI"] = "true"
    spark = get_spark(
        "scale_soak",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "40000",
            "spark.ui.retainedJobs": "40000",
            # streaming queries return results through a memory sink
            # (harness convenience); at sf10 a corpus-scale result
            # (e.g. near-dup pairs) exceeds the 1g default — the cap
            # is the HARNESS ceiling, not operator state, so the soak
            # raises it to measure the operator
            "spark.driver.maxResultSize": os.environ.get(
                "SOAK_MAX_RESULT", "8g"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    api = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    # {name: {sf: (secs, write, read, spill, rows)}}
    out: dict[str, dict[str, tuple]] = {}
    for name in names:
        fn = queries[name]
        out[name] = {}
        for sf_label, sf_dir in SF_DIRS.items():
            group = f"{name}@{sf_label}"
            best = None
            rows = -1
            for attempt in range(2):
                sc.setJobGroup(group if attempt == 1 else f"{group}#warm", group)
                t0 = time.monotonic()
                # noop sink, NOT .count(): count() lets Catalyst prune
                # whole subtrees (q227's left-join dedup chain collapsed
                # to count(documents) — found in round 6), silently
                # soaking a different plan than the user runs. The noop
                # write materializes every column through the full plan
                # (same discipline as bench.py); rows come from the
                # observed output metric of the last stage via a cheap
                # separate count AFTER timing.
                df = fn(spark, sf_dir)
                df.write.mode("overwrite").format("noop").save()
                dt = time.monotonic() - t0
                sc.setJobGroup("", "")
                best = dt if best is None else min(best, dt)
            rows = fn(spark, sf_dir).count()
            jobs = _rest(api, "/jobs?status=succeeded")
            stage_ids = set()
            for j in jobs:
                if j.get("jobGroup") == group:  # metrics from the timed run
                    stage_ids.update(j.get("stageIds", []))
            w = r = spill = peak = peak_task = 0
            for s in _rest(api, "/stages?status=complete"):
                if s["stageId"] in stage_ids:
                    w += s.get("shuffleWriteBytes", 0)
                    r += s.get("shuffleReadBytes", 0)
                    spill += s.get("diskBytesSpilled", 0) + s.get("memoryBytesSpilled", 0)
                    # executor-sizing axis (round 6): a peak that grows
                    # with the corpus OOMs a 100x run without spilling.
                    # The REST stage peak is SUMMED over the stage's
                    # tasks — more data means more tasks means a bigger
                    # sum even at flat per-task memory — so the
                    # per-task mean (sum / numTasks) is the number the
                    # 100x extrapolation actually needs.
                    p = s.get("peakExecutionMemory", 0)
                    n_tasks = max(1, s.get("numCompleteTasks", s.get("numTasks", 1)))
                    peak = max(peak, p)
                    peak_task = max(peak_task, p // n_tasks)
            out[name][sf_label] = (best, w, r, spill, rows, peak, peak_task)
            print(
                f"{name} {sf_label}: {best:.2f}s rows={rows:,} "
                f"shuffle_w={w:,}B shuffle_r={r:,}B spill={spill:,}B "
                f"peak_exec_mem={peak:,}B peak_per_task={peak_task:,}B",
                flush=True,
            )

    labels = list(SF_DIRS)
    lo, hi = labels[0], labels[-1]
    print(
        f"\n== {lo} -> {hi} ratios (linear = data ratio; "
        "ptask_r ~1x = flat PER-TASK memory — the axis that OOMs a 100x run) =="
    )
    print(
        f"{'query':<32} {'t_lo':>7} {'t_hi':>8} {'t_ratio':>8} {'w_ratio':>8} "
        f"{'rows_ratio':>10} {'spill_hi':>10} {'ptask_lo':>9} {'ptask_hi':>9} {'ptask_r':>8}"
    )
    for name, d in out.items():
        a, b = d[lo], d[hi]
        tr = b[0] / a[0] if a[0] else float("inf")
        wr = b[1] / a[1] if a[1] else float("inf") if b[1] else 1.0
        rr = b[4] / a[4] if a[4] else float("inf")
        pr = b[6] / a[6] if a[6] else (float("inf") if b[6] else 1.0)
        mb = 1024 * 1024
        print(
            f"{name:<32} {a[0]:>6.2f}s {b[0]:>7.2f}s {tr:>7.1f}x {wr:>7.1f}x "
            f"{rr:>9.2f}x {b[3]:>9,}B {a[6] / mb:>8.0f}M {b[6] / mb:>8.0f}M {pr:>7.1f}x"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

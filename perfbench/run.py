"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generates the workload's inputs from the
seed, creates the Spark session several times (reporting the median)
and runs one warm-up pass, measures for ``--seconds``, checks every output against the generator's
ground truth, and prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones in BENCHMARK.json; with ``--trace 1``
the per-layer ones. Exits 1 when a correctness gate fails and 2 when
the engine is not there to run.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

WORKLOADS = {
    "reference_pipeline": "perfbench.wl_reference",
    "stream_loop": "perfbench.wl_stream",
    "curate_llm": "perfbench.wl_curate",
}
N_SETUPS = 3
# Workloads whose layers are traced inside another workload's traced run,
# on its session, instead of being benchmark workloads of their own:
# curate_llm's end-to-end figures do not repeat within the benchmark's
# bounds (see README.md), but its per-layer metrics are still wanted.
TRACED_WITH = {"reference_pipeline": ("curate_llm",)}
# measured window of such a workload inside the traced run
TRACED_WITH_SECONDS = 10.0


class Ctx:
    """What a workload needs besides the session: its generated inputs,
    a scratch directory, the tracer and the run's options."""

    def __init__(self, work: str, trace: bool, tracer, conf: dict):
        self.work = work
        self.trace = trace
        self.tracer = tracer
        self.conf = conf
        self.inputs: dict = {}


def _metric_specs(root: str) -> tuple[dict[str, str], dict[str, str]]:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _stop_jvm() -> None:
    """End the JVM pyspark launched and wait for it: it exits when its
    stdin closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run(args, root: str, work: str) -> dict:
    from kinesis_producer_spark.session import get_spark

    from perfbench import harness

    e2e_units, layer_units = _metric_specs(root)
    wl = importlib.import_module(WORKLOADS[args.workload])
    tmp = os.path.join(work, "tmp")
    conf = harness.session_conf(tmp, bool(args.trace))
    ctx = Ctx(work, bool(args.trace), harness.Tracer(bool(args.trace)), conf)

    with harness.RssSampler() as rss:
        t0 = time.perf_counter()
        ctx.inputs = wl.generate(args.seed, work, args.seconds)
        gen_s = time.perf_counter() - t0
        _log(f"generated inputs in {gen_s:.2f}s")

        # Set-up is session creation + package ship, done N_SETUPS times
        # (the first also starts the JVM; the median is reported), then one
        # warm-up pass of the workload on the last session. A warm-up pass
        # per session would cost more than the measurement itself.
        sessions = []
        spark = None
        try:
            for _ in range(N_SETUPS):
                if spark is not None:
                    spark.stop()
                t0 = time.perf_counter()
                spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=harness.machine_cpus(),
                                  extra_conf=conf)
                sessions.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            wl.warmup(spark, ctx)
            warm_s = time.perf_counter() - t0
            _log(f"sessions took {[round(x, 2) for x in sessions]}s, warm-up {warm_s:.2f}s")

            since_ms = time.time() * 1000.0
            m = wl.measure(spark, ctx, args.seconds)
            until_ms = time.time() * 1000.0
            _log(f"measured for {(until_ms - since_ms) / 1000.0:.2f}s")
            layer = dict(m.get("layer", {}))
            if args.trace:
                layer.update(wl.trace_layers(spark, ctx))
                layer.update(harness.spark_rest_metrics(spark, since_ms, until_ms))
                for name in TRACED_WITH.get(args.workload, ()):
                    sub = importlib.import_module(WORKLOADS[name])
                    sub_ctx = Ctx(work, True, ctx.tracer, conf)
                    sub_ctx.inputs = sub.generate(args.seed, work, TRACED_WITH_SECONDS)
                    sub.warmup(spark, sub_ctx)
                    sm = sub.measure(spark, sub_ctx, TRACED_WITH_SECONDS)
                    _log(f"traced {name} alongside")
                    layer.update(sm["layer"])
                    layer.update(sub.trace_layers(spark, sub_ctx))
                    m["gates"].update({f"{name}.{k}": ok for k, ok in sm["gates"].items()})
                    m["attempted"] += sm["attempted"]
                    m["failed"] += sm["failed"]
        finally:
            if spark is not None:
                spark.stop()
    if args.trace and hasattr(wl, "single_core_baseline"):
        layer.update(wl.single_core_baseline(ctx, get_spark))
    _stop_jvm()

    failed_gates = [k for k, ok in m["gates"].items() if not ok]
    for k in failed_gates:
        print(f"perfbench: correctness gate failed: {k}", file=sys.stderr)
    lat = m["latency"]
    e2e = {
        "setup_s": statistics.median(sessions) + warm_s,
        "records_per_s": m["records_per_s"],
        "latency_p50_ms": lat["p50"],
        "latency_tail_ms": lat["tail"],
    }
    if args.trace:
        layer.update({
            "failed_frac": m["failed"] / m["attempted"],
            "bench.gen_s": gen_s,
            "bench.session_cold_s": sessions[0],
            "bench.warmup_s": warm_s,
            "peak_rss_mb": rss.peak_mb,
            "bench.latency_samples": lat["n"],
            "bench.latency_tail_pct": lat["tail_pct"],
            **{f"traced.{k}": v for k, v in e2e.items()},
        })
        unknown = set(layer) - set(layer_units)
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        # a layer this workload does not exercise did no work: 0
        values = {k: float(layer.get(k, 0.0)) for k in layer_units}
        units = layer_units
        ctx.tracer.dump(os.path.join(root, ".perfbench_work", f"trace-{args.workload}-{args.seed}.jsonl"))
    else:
        values = {k: float(e2e[k]) for k in e2e_units}
        units = e2e_units
    return {
        "correct": not failed_gates,
        "attempted": int(m["attempted"]),
        "failed": int(m["failed"]),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "kinesis_producer_spark", "__init__.py")):
        print("perfbench: kinesis_producer_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2

    # Scratch, JVM temp files and the package zip the session ships all go
    # under a fresh per-run directory inside the checkout; executors import
    # the engine and the benchmark's transport wrapper through PYTHONPATH.
    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = root + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata files
    sys.path.insert(0, root)

    # Keep stdout for the result line only: the JVM and the engine print
    # to fd 1, so point it at stderr for the rest of the run.
    result_fd = os.dup(1)
    os.dup2(2, 1)
    # a terminated run still removes its directory and ends the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args, root, work)
    except Exception:  # noqa: BLE001 — report any failure as a non-zero exit, no result
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.flush()
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

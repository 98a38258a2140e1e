"""Session set-up, tracing and resource sampling shared by the workloads.

The engine is driven only through its public functions; everything
here sits around those calls: how the session is sized to the host,
where scratch files go, how spans, counters and process-tree memory are
recorded, and how Spark's own task metrics are read.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
import urllib.request
import uuid

from kinesis_producer_spark.streaming.kinesis_source import FileStreamTransport
from kinesis_producer_spark.streaming.kinesis_sink import Transport

from perfbench.stats import self_time_by_name


def machine_cpus() -> int:
    return len(os.sched_getaffinity(0))


def physical_ram_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)


def session_conf(tmp_dir: str, trace: bool) -> dict[str, str]:
    """Session settings sized from the host, passed through
    ``get_spark(extra_conf=...)``: ``spark.driver.memory`` well below physical RAM,
    no console progress bar (it redraws with ``\\r`` over stdout), JVM
    scratch inside the run directory, and the status UI (for its REST
    API) only in the traced run."""
    mem_mb = min(2048, physical_ram_mb() // 4)
    conf = {
        "spark.driver.memory": f"{mem_mb}m",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp_dir,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData",
        "spark.ui.enabled": "true" if trace else "false",
    }
    if trace:
        conf.update({
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        })
    return conf


class Tracer:
    """Spans recorded by the benchmark around calls into the engine's
    layers: name, start, end and the enclosing span. Kept in memory and
    written out once at the end."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = getattr(self._stack, "ids", None)
        if stack is None:
            stack = self._stack.ids = []
        sid = uuid.uuid4().hex[:12]
        rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None,
               "start": time.perf_counter(), **attrs}
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            self.spans.append(rec)

    def busy(self, name: str) -> float:
        """Summed self time of the spans with this name."""
        return self_time_by_name(self.spans).get(name, 0.0)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class CountingTransport(Transport):
    """Timing/counting wrapper around ``FileStreamTransport``, injected as
    the sink's ``transport_factory``. Runs on executors, so each call
    appends one line to a per-process span file; the files are merged
    at the end."""

    def __init__(self, stream_dir: str, span_dir: str):
        self.inner = FileStreamTransport(stream_dir)
        self.span_path = os.path.join(span_dir, f"exec-{os.getpid()}.jsonl")

    def put_records(self, stream_name: str, records: list[dict]) -> dict:
        t0 = time.perf_counter()
        resp = self.inner.put_records(stream_name, records)
        t1 = time.perf_counter()
        line = {
            "start": t0, "end": t1, "records": len(records),
            "bytes": sum(len(r["Data"]) + len(r["PartitionKey"].encode()) for r in records),
            "failed": resp["FailedRecordCount"],
        }
        with open(self.span_path, "a") as fh:
            fh.write(json.dumps(line) + "\n")
        return resp


class TransportFactory:
    """Picklable zero-argument factory for the sink (it is shipped to the
    executors inside the ``mapInPandas`` closure)."""

    def __init__(self, stream_dir: str, span_dir: str | None):
        self.stream_dir = stream_dir
        self.span_dir = span_dir

    def __call__(self) -> Transport:
        if self.span_dir is None:
            return FileStreamTransport(self.stream_dir)
        return CountingTransport(self.stream_dir, self.span_dir)


def read_exec_spans(span_dir: str) -> list[dict]:
    out = []
    for path in sorted(glob.glob(os.path.join(span_dir, "exec-*.jsonl"))):
        with open(path) as fh:
            out += [json.loads(line) for line in fh if line.strip()]
    return out


def sink_counts(exec_spans: list[dict], acked_ok: int, dead: int) -> dict[str, float]:
    """The ``kinesis_sink.*`` per-layer metrics from merged transport spans
    and the ack outcome."""
    attempts = sum(s["records"] for s in exec_spans)
    return {
        "kinesis_sink.put_records.calls": len(exec_spans),
        "kinesis_sink.put_records.records": attempts,
        "kinesis_sink.put_records.bytes": sum(s["bytes"] for s in exec_spans),
        "kinesis_sink.put_records.busy_s": sum(s["end"] - s["start"] for s in exec_spans),
        "kinesis_sink.retry_ratio": attempts / acked_ok if acked_ok else 0.0,
        "kinesis_sink.dead_letter": dead,
    }


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc in a thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    @staticmethod
    def tree_rss_kb(root: int) -> int:
        parent: dict[int, int] = {}
        for stat in glob.glob("/proc/[0-9]*/stat"):
            try:
                with open(stat) as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
                parent[int(stat.split("/")[2])] = int(fields[1])
            except (OSError, IndexError, ValueError):
                continue
        tree = {root}
        grew = True
        while grew:
            grew = False
            for pid, ppid in parent.items():
                if ppid in tree and pid not in tree:
                    tree.add(pid)
                    grew = True
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        return total

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self.tree_rss_kb(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _rest_ms(stamp: str | None) -> float:
    """Spark REST timestamps look like 2024-03-07T01:02:03.456GMT."""
    if not stamp:
        return 0.0
    import calendar

    t = time.strptime(stamp[:19], "%Y-%m-%dT%H:%M:%S")
    return calendar.timegm(t) * 1000.0 + float(stamp[20:23])


def _rest(spark, path: str):
    url = f"{spark.sparkContext.uiWebUrl}/api/v1/applications/{spark.sparkContext.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def rest_jobs(spark) -> list[dict]:
    return _rest(spark, "jobs")


def spark_rest_metrics(spark, since_ms: float, until_ms: float) -> dict[str, float]:
    """Job, task, shuffle, spill, GC and skew totals over the jobs and
    stages submitted between ``since_ms`` and ``until_ms`` (epoch ms),
    from Spark's status REST API (the UI is enabled only in the traced
    run)."""
    def get(path: str):
        return _rest(spark, path)

    jobs = [j for j in get("jobs") if since_ms <= _rest_ms(j.get("submissionTime")) <= until_ms]
    stages = [st for st in get("stages?status=complete")
              if since_ms <= _rest_ms(st.get("submissionTime")) <= until_ms]
    skews = []
    for st in stages:
        if st.get("numCompleteTasks", 0) < 4:
            continue
        summ = get(f"stages/{st['stageId']}/{st['attemptId']}/taskSummary?quantiles=0.5,1.0")
        med, mx = summ["executorRunTime"]
        if med > 0:
            skews.append(mx / med)
    skews.sort()
    return {
        "spark.jobs": len(jobs),
        "spark.tasks": sum(st.get("numCompleteTasks", 0) for st in stages),
        "spark.shuffle_write_bytes": sum(st.get("shuffleWriteBytes", 0) for st in stages),
        "spark.shuffle_read_bytes": sum(st.get("shuffleReadBytes", 0) for st in stages),
        "spark.spill_bytes": sum(st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
                                 for st in stages),
        "spark.gc_s": sum(st.get("jvmGcTime", 0) for st in stages) / 1000.0,
        "spark.task_skew": skews[len(skews) // 2] if skews else 1.0,
    }


def keep_going(start: float, durations: list[float], seconds: float) -> bool:
    """Closed-loop pacing: run at least one iteration, then another only
    if it is expected to end within ``seconds`` of ``start``."""
    if not durations:
        return True
    expected = sorted(durations)[len(durations) // 2]
    return time.perf_counter() - start + expected <= seconds


def jobs_in_group(spark, group: str) -> int:
    """Spark jobs run under one job group, from the status tracker."""
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))

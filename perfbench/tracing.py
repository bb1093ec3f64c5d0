"""Spans and per-call Spark accounting for traced runs.

A traced run wraps the workload run, every op and every call into an
engine layer in a span (name, start, end, parent, run id). Each layer call
runs under its own Spark job group; right after it returns, the jobs,
stages and SQL executions it launched are read from Spark's own status
stores (``AppStatusStore`` and ``SQLAppStatusStore``, reachable with the
UI disabled) before the retained-jobs limit can evict them. A call's jobs
are the ones with ids above the newest job seen before the call: the
benchmark is a single closed-loop client, so nothing else launches jobs,
and streaming micro-batch jobs (which Spark files under the query's run id
group, not the caller's) are still counted.

Untraced runs use the same ``Tracer`` with ``enabled=False``: calls are
timed, nothing is read from Spark.
"""

from __future__ import annotations

import contextlib
import itertools
import re
import threading
import time

from py4j.protocol import Py4JJavaError


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.length())]


def _ms(option_date) -> float | None:
    return option_date.get().getTime() / 1000.0 if option_date.isDefined() else None


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SparkStats:
    """Reads the jobs, stages and SQL executions launched since the last
    read from the driver's status stores."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._tracker = self.sc._jsc.statusTracker()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._last_job = self._newest_job()
        self._last_exec = self._newest_execution()

    def _newest_job(self) -> int:
        jobs = self._store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.length() else -1

    def _newest_execution(self) -> int:
        n = self._sql.executionsCount()
        return self._sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    def _job(self, job_id: int):
        # the tracker answers null for an unknown id; the store would throw
        if self._tracker.getJobInfo(job_id) is None:
            return None
        return self._store.job(job_id)

    def _new_jobs(self) -> list:
        """Job ids are dense, so the new jobs are the ids after the last one
        read, up to the first ids the store does not know (two ids of
        look-ahead step over a gap)."""
        jobs = []
        while True:
            for ahead in (1, 2, 3):
                job = self._job(self._last_job + ahead)
                if job is not None:
                    jobs.append(job)
                    self._last_job += ahead
                    break
            else:
                return jobs

    def skip(self) -> None:
        """Forget everything launched so far (untraced work)."""
        self._bus.waitUntilEmpty()
        self._last_job = self._newest_job()
        self._last_exec = self._newest_execution()

    def collect(self, start: float, end: float) -> dict:
        """Totals for everything launched since the previous ``collect``;
        ``start``/``end`` bound the call for the driver-gap measure."""
        self._bus.waitUntilEmpty()
        jobs = self._new_jobs()
        spans, stage_ids = [], set()
        for job in jobs:
            sub, done = _ms(job.submissionTime()), _ms(job.completionTime())
            if sub is not None:
                spans.append((sub, done if done is not None else end))
            stage_ids.update(_seq(job.stageIds()))
        out = {
            "jobs": len(jobs),
            "stages": 0,
            "tasks": 0,
            "executor_run_s": 0.0,
            "executor_cpu_s": 0.0,
            "stage_input_bytes": 0,
            "output_bytes": 0,
            "shuffle_bytes": 0,
            "spill_bytes": 0,
        }
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage the store never saw submitted
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["stage_input_bytes"] += st.inputBytes()
            out["output_bytes"] += st.outputBytes()
            out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["driver_gap_s"] = (end - start) - covered_seconds(spans, start, end)
        out.update(self._sql_metrics())
        return out

    def _sql_metrics(self) -> dict:
        new = []
        while True:
            for ahead in (1, 2, 3):
                ex = self._sql.execution(self._last_exec + ahead)
                if ex.isDefined():
                    new.append(ex.get())
                    self._last_exec += ahead
                    break
            else:
                break
        files, size = 0, 0.0
        for ex in new:
            # one py4j call: SQLPlanMetric(name,accumulatorId,metricType) per line
            wanted = {
                int(acc): name
                for name, acc in _PLAN_METRIC.findall(ex.metrics().mkString("\n"))
            }
            if not wanted:
                continue
            values = self._sql.executionMetrics(ex.executionId())
            for acc, name in wanted.items():
                v = values.get(acc)
                if not v.isDefined():
                    continue
                if name == "number of files read":
                    files += _parse_count(v.get())
                else:
                    size += _parse_size(v.get())
        return {"sql_executions": len(new), "scan_files": files, "scan_bytes": size}


_PLAN_METRIC = re.compile(
    r"SQLPlanMetric\((number of files read|size of files read),(\d+),")


def _parse_count(text: str) -> int:
    m = re.search(r"[\d,]+", text)
    return int(m.group(0).replace(",", "")) if m else 0


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _parse_size(text: str) -> float:
    """First size in a SQL size metric ("total (min, med, max ...)\n1.2 MiB
    (...)" or just "1.2 MiB"): the total, to the metric's 0.1-unit
    precision."""
    m = re.search(r"([\d.]+) (B|KiB|MiB|GiB|TiB)\b", text)
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


class StreamProgress:
    """A ``StreamingQueryListener`` that keeps every progress event and
    notes terminated runs, so a caller can wait until a query's last
    progress has been delivered (listener delivery is asynchronous)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        owner = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with owner._lock:
                    owner._started.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                with owner._lock:
                    owner._progress.append({
                        "run_id": str(p.runId),
                        "batch_id": p.batchId,
                        "duration_ms": dict(p.durationMs),
                        "input_rows": p.numInputRows,
                        "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with owner._lock:
                    owner._terminated.add(str(event.runId))

        self._lock = threading.Lock()
        self._started: list[str] = []
        self._progress: list[dict] = []
        self._terminated: set[str] = set()
        self._listener = _Listener()
        spark.streams.addListener(self._listener)
        self._spark = spark

    def take(self) -> list[dict]:
        """Progress events of the queries started since the last ``take``,
        after waiting (up to 10 s) for each of them to report termination."""
        deadline = time.time() + 10.0
        while time.time() < deadline:
            with self._lock:
                started = set(self._started)
                if started and started <= self._terminated:
                    break
            time.sleep(0.005)
        with self._lock:
            runs = set(self._started)
            taken = [p for p in self._progress if p["run_id"] in runs]
            self._progress = [p for p in self._progress if p["run_id"] not in runs]
            self._started = []
        return taken

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)


class Tracer:
    """Span recorder. Spans stay in memory; ``spans`` is written out by the
    caller when the run ends."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.collect_s = 0.0
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self._spark = spark
        self.stats = SparkStats(spark) if enabled else None
        self.streams: StreamProgress | None = None

    def skip(self) -> None:
        if self.enabled:
            self.stats.skip()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = next(self._ids)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "name": name,
            "start": time.time(),
            **attrs,
        }
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)

    def call(self, layer: str, name: str, fn, *args, **kwargs):
        """Run one call into an engine layer inside a span; returns
        ``(result, span)``. Traced calls run under their own job group and
        carry the Spark totals of the jobs they launched."""
        try:
            with self.span(f"{layer}.{name}", layer=layer) as rec:
                if self.enabled:
                    self._spark.sparkContext.setJobGroup(
                        f"{self.run_id}:{rec['id']}", f"{layer}.{name}"
                    )
                    if layer == "streaming" and self.streams is None:
                        self.streams = StreamProgress(self._spark)
                t0 = time.perf_counter()
                try:
                    result = fn(*args, **kwargs)
                finally:
                    rec["wall_s"] = time.perf_counter() - t0
        finally:
            # a failed call's jobs are still its own, not the next call's
            if self.enabled:
                t1 = time.perf_counter()
                rec["spark"] = self.stats.collect(rec["start"], rec["end"])
                if layer == "streaming":
                    rec["progress"] = self.streams.take()
                self._spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                self.collect_s += time.perf_counter() - t1
        return result, rec


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the time its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered_seconds(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }

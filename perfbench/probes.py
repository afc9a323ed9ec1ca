"""Measurement plumbing shared by the workloads.

* :class:`Tracer` keeps spans (name, start, end, parent, operation id)
  in memory and writes them once at the end. With tracing off it
  records only the operation spans the end-to-end metrics need.
* :func:`instrument` wraps the public entry points of the engine's
  layers (sources, storage, commit log, CLI lookup) in spans; it is
  installed only for a traced run and undone afterwards.
* :class:`SparkCounters` reads Spark's own status stores from outside
  the program: jobs and stages of each operation through the app
  status store, Python-worker and scan metrics through the SQL status
  store, micro-batch phases through a streaming query listener.
* :class:`MemSampler`, :class:`HeapPeak` and :func:`steal_ticks` watch
  the host and the driver JVM.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")
# an operation counts as contaminated when hypervisor steal took more
# than this share of the CPU time the host could have given it
STEAL_SHARE_LIMIT = 0.05


def steal_ticks() -> int:
    """Cumulative steal ticks of all CPUs (/proc/stat, 8th value)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def contaminated(ticks: int, wall_s: float, ncpu: int) -> bool:
    return ticks > STEAL_SHARE_LIMIT * wall_s * ncpu * CLK_TCK


class Tracer:
    """In-memory span recorder. Spans nest by call order on one thread;
    ``op`` opens an operation and every span inside it shares its id."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: str | None = None
        self.overhead_s = 0.0  # time spent recording spans

    @contextmanager
    def op(self, op_id: str, name: str):
        """An operation span. Nested operations (a query inside a pass)
        keep the outermost operation's id."""
        outer = self._op is None
        if outer:
            self._op = op_id
        try:
            with self.span(name, force=True) as s:
                yield s
        finally:
            if outer:
                self._op = None

    @contextmanager
    def span(self, name: str, force: bool = False, **attrs):
        if not (self.enabled or force):
            yield None
            return
        t_in = time.perf_counter()
        rec = {"id": len(self.spans), "op": self._op, "name": name,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - rec["end"]

    def self_times(self, op_id: str) -> dict[str, float]:
        """Per-layer self time within one operation: each span's
        duration minus the part its direct children cover, summed by
        layer (the name's first dotted component)."""
        spans = [s for s in self.spans if s["op"] == op_id and "end" in s]
        child = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in spans:
            out[s["name"].split(".")[0]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _wrap(tracer: Tracer, owner, attr: str, span: str, after=None):
    """Replace ``owner.attr`` by a spanning wrapper; returns the undo."""
    orig = getattr(owner, attr)

    def wrapper(*args, **kwargs):
        with tracer.span(span) as rec:
            out = orig(*args, **kwargs)
        if after is not None:
            after(rec, args, kwargs, out)
        return out

    setattr(owner, attr, wrapper)
    return lambda: setattr(owner, attr, orig)


def instrument(tracer: Tracer) -> list:
    """Span the layer entry points the per-layer metrics name. Returns
    the undo callables."""
    from rialto_airflow_spark import commitlog, storage
    from rialto_airflow_spark.plans import cli
    from rialto_airflow_spark.sources import ingest

    def put_result(rec, _args, _kwargs, ok):
        rec["ok"] = bool(ok)

    def landed_rows(rec, args, kwargs, _out):
        rec["rows"] = _jsonl_records(kwargs.get("path") or args[2])

    T = storage.TableStore
    undo = [
        _wrap(tracer, T, "write", "storage.write"),
        _wrap(tracer, T, "replace_keys_manifest", "storage.keyed_replace"),
        _wrap(tracer, T, "publish_snapshot", "storage.publish_snapshot"),
        _wrap(tracer, T, "read_keys", "storage.read_keys"),
        _wrap(tracer, commitlog.CommitLog, "commit", "commitlog.commit"),
        _wrap(tracer, commitlog.CommitLog, "head", "commitlog.head"),
        _wrap(tracer, commitlog.PosixBackend, "put_if_absent",
              "commitlog.put_if_absent", after=put_result),
        _wrap(tracer, cli, "publications_for_author_from_store", "plans.cli.lookup"),
        _wrap(tracer, ingest, "read_payload_batch", "sources.read_payload_batch",
              after=landed_rows),
    ]
    return undo


def _jsonl_records(landing_dir: str) -> int:
    """Non-empty lines of the files in a landing directory."""
    n = 0
    for f in os.listdir(landing_dir):
        with open(os.path.join(landing_dir, f)) as fh:
            n += sum(1 for line in fh if line.strip())
    return n


# -- Spark status stores ------------------------------------------------

_METRIC_RE = re.compile(r"SQLPlanMetric\(([^,()]+),(\d+),")
_VALUE_RE = re.compile(r"([\d.,]+)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)?")
_UNIT = {None: 1.0, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 1.0,
         "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
# SQL metric name -> (our metric, scale to seconds or MB)
SQL_METRICS = {
    "number of files read": ("storage.files_read_per_lookup", 1.0),
    "time to start Python workers": ("python.boot_s", 1.0),
    "time to initialize Python workers": ("python.init_s", 1.0),
    "time to run Python workers": ("python.total_s", 1.0),
    "data sent to Python workers": ("python.data_sent_mb", 1 / 2**20),
}


def _metric_value(text: str) -> float:
    """The total of a formatted SQL metric: the whole string for a sum
    metric, the first line after the header for timing/size metrics."""
    line = text.split("\n")[1] if "\n" in text else text
    m = _VALUE_RE.search(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)]


class SparkCounters:
    """Per-operation engine counters. Jobs are taken as the contiguous
    job-id range an operation opened (micro-batch jobs of a streaming
    query run on the stream's own thread and job group, so a job-group
    filter would miss them); each stage and SQL execution counts once."""

    def __init__(self, spark):
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self.app = jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.next_job = 0
        self.last_exec = -1
        self.seen_stages: set[int] = set()
        self.stream = _StreamCollector(spark)
        self.mark()

    def _job(self, jid):
        from py4j.protocol import Py4JJavaError

        try:
            return self.app.job(jid)
        except Py4JJavaError:
            return None

    def _probe_next_job(self, start: int) -> int:
        jid = start
        while self._job(jid) is not None:
            jid += 1
        return jid

    def mark(self) -> None:
        """Skip everything that ran so far (set-up, checks between
        operations): the next collect sees only what follows."""
        self.next_job = self._probe_next_job(self.next_job)
        lst = self.sql.executionsList()
        n = lst.size()
        if n:
            self.last_exec = max(self.last_exec, lst.apply(n - 1).executionId())
        self.stream.take()

    def collect(self, t0: float, t1: float) -> dict:
        """Counters for the operation that ran between epoch seconds
        ``t0`` and ``t1`` (job-busy time is clipped to that window)."""
        from py4j.protocol import Py4JJavaError

        out = defaultdict(float)
        intervals = []
        jid = self.next_job
        while (job := self._job(jid)) is not None:
            out["spark.jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                end = done.get().getTime() / 1e3 if done.isDefined() else t1
                s, e = max(sub.get().getTime() / 1e3, t0), min(end, t1)
                if e > s:
                    intervals.append((s, e))
            stages = job.stageIds()
            for k in range(stages.size()):
                sid = stages.apply(k)
                if sid in self.seen_stages:
                    continue
                self.seen_stages.add(sid)
                try:
                    st = self.app.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # skipped: its output was reused
                out["spark.stages"] += 1
                out["spark.tasks"] += st.numTasks()
                out["spark.executor_run_s"] += st.executorRunTime() / 1e3
                out["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["spark.shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
                out["spark.shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                out["spark.jvm_gc_s"] += st.jvmGcTime() / 1e3
                out["spark.spill_mb"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()
                ) / 2**20
            jid += 1
        self.next_job = jid
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in sorted(intervals):
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        out["spark.job_busy_s"] = busy
        out["spark.driver_s"] = (t1 - t0) - busy
        out.update(self._sql_metrics())
        return dict(out)

    def _sql_metrics(self) -> dict:
        out = defaultdict(float)
        lst = self.sql.executionsList()
        k = lst.size() - 1
        newest = self.last_exec
        while k >= 0:
            ex = lst.apply(k)
            eid = ex.executionId()
            if eid <= self.last_exec:
                break
            newest = max(newest, eid)
            # an accumulator can be listed twice (AQE re-plans keep
            # the node's metrics), so count each once
            wanted = {
                int(acc): SQL_METRICS[name.strip()]
                for name, acc in _METRIC_RE.findall(ex.metrics().toString())
                if name.strip() in SQL_METRICS
            }
            if wanted:
                values = self.sql.executionMetrics(eid)
                for acc, (metric, scale) in wanted.items():
                    v = values.get(acc)
                    if v.isDefined():
                        out[metric] += _metric_value(v.get()) * scale
            k -= 1
        self.last_exec = newest
        return out

    def stop(self) -> dict:
        return self.stream.stop()


class _StreamCollector:
    """Streaming query listener summing micro-batch phase durations."""

    PHASES = {"addBatch": "streaming.add_batch_s",
              "walCommit": "streaming.wal_commit_s",
              "triggerExecution": "streaming.trigger_s"}

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        totals = self.totals = defaultdict(float)
        lock = self.lock = threading.Lock()

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                d = event.progress.durationMs
                with lock:
                    totals["streaming.batches"] += 1
                    for phase, metric in _StreamCollector.PHASES.items():
                        totals[metric] += d.get(phase, 0) / 1e3

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark = spark
        self.listener = Listener()
        spark.streams.addListener(self.listener)

    def take(self) -> dict:
        with self.lock:
            out = dict(self.totals)
            self.totals.clear()
        return out

    def stop(self) -> dict:
        self.spark.streams.removeListener(self.listener)
        return self.take()


# -- host ---------------------------------------------------------------


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def _tree_pss_mb(root_pid: int) -> float:
    """Summed proportional set size (PSS) of ``root_pid`` and all its
    descendants. PSS rather than RSS: the JVM forks short-lived helper
    processes that share its whole heap copy-on-write, and summed RSS
    counted such a fork as another JVM (runs read 1.5 GB high)."""
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        children[int(stat[stat.rindex(")") + 2:].split()[1])].append(int(d))
    total, todo = 0, [root_pid]
    while todo:
        p = todo.pop()
        try:
            total += _pss_kb(p)
        except OSError:
            pass  # exited meanwhile
        todo.extend(children.get(p, ()))
    return total / 1024


class MemSampler:
    """Background thread tracking the high-water memory of this process
    tree (driver Python, the JVM it launched, and the Python workers
    the JVM forks)."""

    def __init__(self, interval_s: float = 0.2):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._run, args=(interval_s,), daemon=True
        )
        self._thread.start()

    def _run(self, interval_s: float) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, _tree_pss_mb(pid))
            self._stop.wait(interval_s)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_mb


class HeapPeak:
    """The driver JVM's peak heap use from now on: the sum of its heap
    memory pools' peak usage (an upper bound of the peak total, since
    the pools may peak at different moments)."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self.pools = [p for p in mf.getMemoryPoolMXBeans()
                      if p.getType().name() == "HEAP"]
        for p in self.pools:
            p.resetPeakUsage()

    def mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self.pools) / 2**20


def files_written_since(root: str, t0: float, skip: tuple[str, ...] = ()) -> tuple[int, float]:
    """(count, MB) of parquet data files under ``root`` modified at or
    after epoch ``t0``, ignoring the subtrees named in ``skip``."""
    n, size = 0, 0
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if x not in skip]
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(d, f))
                if st.st_mtime >= t0:
                    n, size = n + 1, size + st.st_size
    return n, size / 2**20

"""The measurement loop shared by every workload: operation records,
output checks, and the reduction of one run to its metrics."""

from __future__ import annotations

import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

import probes

# layers whose self time the traced run reports (first dotted
# component of a span name; "bench" is the harness itself)
SELF_TIME_LAYERS = ("bench", "dag", "plans", "storage", "commitlog")


@dataclass
class OpRecord:
    kind: str
    name: str
    op_id: str
    t0: float = 0.0  # epoch start
    wall_s: float = 0.0
    # traced runs: time spent inside this operation's span collecting
    # its children's counters, left out of wall_s
    collect_s: float = 0.0
    steal: int = 0
    failed: bool = False
    metrics: dict = field(default_factory=dict)
    children: list = field(default_factory=list)


class Bench:
    """One closed-loop client: operations run one at a time, each timed
    by its own span; with tracing on, each also gets engine counters
    read from Spark's status stores after it ends."""

    def __init__(self, spark, tracer: probes.Tracer, ncpu: int):
        self.spark = spark
        self.tracer = tracer
        self.ncpu = ncpu
        self.ops: list[OpRecord] = []
        self.checks_failed: list[str] = []
        self.standalone_checks = 0
        self.standalone_failed = 0
        self.counters = probes.SparkCounters(spark) if tracer.enabled else None
        # traced runs: called with each finished top-level operation,
        # returns extra per-operation metrics
        self.after_op = None
        self._stack: list[OpRecord] = []
        self._seq = 0

    @contextmanager
    def op(self, kind: str, name: str | None = None):
        self._seq += 1
        rec = OpRecord(kind, name or kind, f"{kind}-{self._seq}")
        parent = self._stack[-1] if self._stack else None
        (parent.children if parent else self.ops).append(rec)
        if parent is None and self.counters is not None:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            self.counters.mark()
        self._stack.append(rec)
        span = f"plans.query.{name}" if kind == "query" else f"bench.{kind}"
        s0 = probes.steal_ticks()
        rec.t0 = time.time()
        try:
            with self.tracer.op(rec.op_id, span) as srec:
                try:
                    yield rec
                except Exception as exc:  # counted, the loop goes on
                    rec.failed = True
                    self.checks_failed.append(
                        f"{rec.op_id}: {type(exc).__name__}: {str(exc)[:300]}"
                    )
        finally:
            self._stack.pop()
            span_s = srec["end"] - srec["start"]
            rec.wall_s = span_s - rec.collect_s
            rec.steal = probes.steal_ticks() - s0
            if self.counters is not None and parent is None:
                self._collect(rec, rec.t0, rec.t0 + span_s)
            elif self.counters is not None:
                # a child's counters are read inside its parent's span:
                # that time is tracing overhead, not the parent's work
                with self.tracer.span("trace.collect") as c:
                    self._collect(rec, rec.t0, rec.t0 + span_s)
                parent.collect_s += c["end"] - c["start"]
                self.tracer.overhead_s += c["end"] - c["start"]

    def _collect(self, rec: OpRecord, t0: float, t1: float) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        m = defaultdict(float, self.counters.collect(t0, t1))
        for child in rec.children:
            for k, v in child.metrics.items():
                m[k] += v
        m["spark.driver_s"] = rec.wall_s - m["spark.job_busy_s"]
        if not self._stack:  # a top-level operation
            m.update(self.counters.stream.take())
            if self.after_op is not None:
                m.update(self.after_op(rec))
        rec.metrics = dict(m)

    def check(self, ok: bool, msg: str, rec: OpRecord | None = None) -> None:
        """Count a wrong output against ``rec`` (the operation that
        produced it) or, without one, as a failed set-up check."""
        if rec is None:
            self.standalone_checks += 1
            self.standalone_failed += not ok
        elif not ok:
            rec.failed = True
        if not ok:
            self.checks_failed.append(msg)

    def run_dag(self, dag, ctx: dict) -> None:
        """``Dag.run`` with each task in its own span."""
        for task in dag.topo_order():
            with self.tracer.span(f"dag.task.{dag.name}.{task.name}"):
                task.fn(ctx)

    # -- reduction ---------------------------------------------------------
    def all_ops(self) -> list[OpRecord]:
        out, todo = [], list(self.ops)
        while todo:
            r = todo.pop()
            out.append(r)
            todo.extend(r.children)
        return out

    def tally(self) -> tuple[int, int]:
        ops = self.all_ops()
        attempted = len(ops) + self.standalone_checks
        return attempted, sum(r.failed for r in ops) + self.standalone_failed


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


# -- metrics -----------------------------------------------------------------

END_TO_END = {"setup_s": "s", "op_s": "s", "request_p50_ms": "ms"}
# one value per run
PER_RUN = {"session.get_spark_s": "s", "host.peak_pss_mb": "MB",
           "jvm.heap_peak_mb": "MB"}

# per main operation (a weekly cycle, a query pass): median over the
# run's main operations
PER_MAIN_OP = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.job_busy_s": "s", "spark.driver_s": "s",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "spark.jvm_gc_s": "s",
    "storage.publish_snapshot_s": "s", "storage.keyed_replace_s": "s",
    "storage.files_written": "count", "storage.bytes_written_mb": "MB",
    "storage.space_amp": "ratio",
    "commitlog.commits": "count", "commitlog.commit_s": "s",
    "commitlog.put_success_ratio": "ratio",
    "python.boot_s": "s", "python.init_s": "s", "python.total_s": "s",
    "python.data_sent_mb": "MB",
    "streaming.batches": "count", "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s", "streaming.trigger_s": "s",
}
# per request (a CLI lookup): median over the run's requests
PER_REQUEST = {
    "plans.cli.lookup_s": "s", "storage.read_keys_s": "s",
    "storage.files_read_per_lookup": "count", "commitlog.head_s": "s",
}
# per connector landing: median over the run's landing operations
# (or over its main operations, when the landing runs inside them);
# sources.landing_s is a landing operation's wall time
PER_LANDING = {
    "sources.read_payload_batch_s": "s", "sources.payload_rows": "count",
    "sources.landing_s": "s",
}
# span name -> metric summed per operation
SPAN_SUMS = {
    "sources.read_payload_batch": "sources.read_payload_batch_s",
    "storage.publish_snapshot": "storage.publish_snapshot_s",
    "storage.keyed_replace": "storage.keyed_replace_s",
    "storage.read_keys": "storage.read_keys_s",
    "commitlog.commit": "commitlog.commit_s",
    "commitlog.head": "commitlog.head_s",
    "plans.cli.lookup": "plans.cli.lookup_s",
}


def dag_task_names() -> list[str]:
    from rialto_airflow_spark.dag import build_harvest_dag, build_publish_dag

    return [f"dag.task_s.{d.name}.{t.name}"
            for d in (build_harvest_dag(), build_publish_dag())
            for t in d.topo_order()]


def per_layer_units(queries) -> dict[str, str]:
    units = dict(PER_RUN)
    units.update({n: "s" for n in dag_task_names()})
    units.update(PER_MAIN_OP)
    units.update({f"plans.query_s.{q}": "s" for q in queries})
    units.update(PER_REQUEST)
    units.update(PER_LANDING)
    units.update({"host.steal_ticks": "count", "host.contaminated_ops": "count",
                  "trace.overhead_frac": "ratio"})
    units.update({f"trace.self_s.{layer}": "s" for layer in SELF_TIME_LAYERS})
    return units


def _span_metrics(tracer, op_id: str) -> dict:
    """Span-derived per-operation values for one top-level op."""
    out = defaultdict(float)
    for s in tracer.spans:
        if s["op"] != op_id or "end" not in s:
            continue
        d = s["end"] - s["start"]
        name = s["name"]
        if name in SPAN_SUMS:
            out[SPAN_SUMS[name]] += d
        if name.startswith("dag.task."):
            out["dag.task_s." + name[len("dag.task."):]] += d
        if name == "commitlog.commit":
            out["commitlog.commits"] += 1
        if name == "sources.read_payload_batch":
            out["sources.payload_rows"] += s.get("rows", 0)
        if name == "commitlog.put_if_absent":
            out["_puts"] += 1
            out["_puts_ok"] += s.get("ok", False)
    if out["_puts"]:
        out["commitlog.put_success_ratio"] = out["_puts_ok"] / out["_puts"]
    for layer, v in tracer.self_times(op_id).items():
        if layer in SELF_TIME_LAYERS:
            out[f"trace.self_s.{layer}"] = v
    return out


def summarize(bench: Bench, main_kind: str, request_kind: str,
              setup_s: float, per_run: dict, queries) -> tuple[dict, dict]:
    """(end-to-end metrics, per-layer metrics) of one run, each as
    name -> (value, unit). Per-layer values are empty untraced."""
    ops = bench.all_ops()
    mains = [r for r in bench.ops if r.kind == main_kind]
    requests = [r for r in ops if r.kind == request_kind]
    e2e = {
        "setup_s": setup_s,
        "op_s": median(r.wall_s for r in mains),
        "request_p50_ms": median(r.wall_s for r in requests) * 1e3,
    }
    e2e = {k: (v, END_TO_END[k]) for k, v in e2e.items()}
    if not bench.tracer.enabled:
        return e2e, {}
    units = per_layer_units(queries)
    per_op = [dict(r.metrics, **_span_metrics(bench.tracer, r.op_id)) for r in mains]
    per_req = [dict(r.metrics, **_span_metrics(bench.tracer, r.op_id))
               for r in bench.ops if r.kind == request_kind]
    per_land = [dict(r.metrics, **_span_metrics(bench.tracer, r.op_id),
                     **{"sources.landing_s": r.wall_s})
                for r in bench.ops if r.kind == "landing"] or per_op
    vals = {}
    for name in units:
        if name in PER_REQUEST:
            src = per_req
        elif name in PER_LANDING:
            src = per_land
        elif name.startswith("plans.query_s."):
            q = name[len("plans.query_s."):]
            vals[name] = median(r.wall_s for r in ops if r.kind == "query" and r.name == q)
            continue
        else:
            src = per_op
        vals[name] = median(m.get(name, 0.0) for m in src)
    vals.update(per_run)
    vals["host.steal_ticks"] = float(sum(r.steal for r in bench.ops))
    vals["host.contaminated_ops"] = float(sum(
        probes.contaminated(r.steal, r.wall_s, bench.ncpu) for r in mains))
    busy = sum(r.wall_s for r in bench.ops)
    vals["trace.overhead_frac"] = bench.tracer.overhead_s / busy if busy else 0.0
    return e2e, {k: (v, units[k]) for k, v in vals.items()}

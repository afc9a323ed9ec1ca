"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The fast tests need no Spark. The slow ones run every workload at a
tiny size in a subprocess started from a temporary directory (which also
proves the Python workers can import the engine from there), check
that every metric named in BENCHMARK.json is emitted, and that a
deliberately corrupted output is counted as failed. They take a few
minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT]

import corpus  # noqa: E402
import probes  # noqa: E402
import querydata  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]

# a small corpus and few lookups; the query mix already runs at the
# smallest table scale
TINY = """
import weekly
weekly.N_PUBS = 300
weekly.N_AUTHORS = 60
weekly.LOOKUPS_PER_CYCLE = 3
"""


def _run(tmp_path, workload: str, trace: int, patch: str = ""):
    """Run the benchmark in a subprocess from ``tmp_path``; returns
    (result line, details line), both parsed."""
    script = tmp_path / "bench_tiny.py"
    script.write_text(
        f"import sys\nsys.path[:0] = [{BENCH_DIR!r}, {ROOT!r}]\n"
        + TINY + textwrap.dedent(patch)
        + "import run\nsys.exit(run.main(sys.argv[1:]))\n"
    )
    proc = subprocess.run(
        [sys.executable, str(script), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace)],
        cwd=tmp_path, capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(lines[-1]), json.loads(lines[-2])


# -- fast --------------------------------------------------------------------

def test_spec_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    assert len(SPEC["per_layer"]) <= 128
    assert any(m["name"] == "setup_s" and m["bound"] == max(
        x["bound"] for x in SPEC["end_to_end"]) for m in SPEC["end_to_end"])


def test_spec_lists_every_metric_the_code_reports():
    import harness
    import querymix

    units = harness.per_layer_units(querymix.QUERIES)
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == units
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == harness.END_TO_END


def test_generators_are_seeded(tmp_path):
    a = corpus.generate_corpus(str(tmp_path / "a"), 3, 120, 20)
    b = corpus.generate_corpus(str(tmp_path / "b"), 3, 120, 20)
    c = corpus.generate_corpus(str(tmp_path / "c"), 4, 120, 20)
    read = lambda cp: open(cp.path("pubs.parquet"), "rb").read()  # noqa: E731
    assert read(a) == read(b) != read(c)
    assert a.expected_marts() == b.expected_marts()
    d1 = corpus.write_delta(a, str(tmp_path / "d1"), 3, 0)
    d2 = corpus.write_delta(b, str(tmp_path / "d2"), 3, 0)
    landing = lambda d: open(os.path.join(  # noqa: E731
        d.ctx["landing_dirs"]["openalex"], "batch.jsonl")).read()
    assert landing(d1) == landing(d2)
    assert d1.revised and d1.new_dois and d1.payload_rows == len(
        landing(d1).splitlines())
    new = d1.new_edges
    assert new and a.expected_marts(new)["publications_by_author"] >= \
        a.expected_marts()["publications_by_author"]
    querydata.generate_tables(str(tmp_path / "q1"), 5)
    querydata.generate_tables(str(tmp_path / "q2"), 5)
    for t in querydata.TABLES:
        assert open(tmp_path / "q1" / f"{t}.parquet", "rb").read() == \
            open(tmp_path / "q2" / f"{t}.parquet", "rb").read()


def test_metric_value_parsing():
    assert probes._metric_value("1,234") == 1234
    assert probes._metric_value(
        "total (min, med, max (stageId: taskId))\n1.5 s (0 ms, 2 ms, 3 ms)") == 1.5
    assert probes._metric_value("total (min, med, max)\n2.0 KiB (1 B, 1 B, 1 B)") == 2048


def test_self_time_subtracts_children():
    t = probes.Tracer(True)
    with t.op("op-1", "bench.cycle"):
        with t.span("storage.write"):
            with t.span("commitlog.commit"):
                pass
    st = t.self_times("op-1")
    total = t.spans[0]["end"] - t.spans[0]["start"]
    assert abs(sum(st.values()) - total) < 1e-6
    assert set(st) == {"bench", "storage", "commitlog"}


def test_empty_checkout_exits_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p)
    proc = subprocess.run(
        SPEC["command"] + ["--workload", WORKLOADS[0], "--seed", "1",
                           "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# -- slow: Spark -------------------------------------------------------------

@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_is_emitted(tmp_path, workload, trace):
    result, details = _run(tmp_path, workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, details["errors"]
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    else:
        m = {k: v["value"] for k, v in result["metrics"].items()}
        for name in LIVE[workload]:
            assert m[name] > 0, name
        # job-busy time plus driver time is the operation's wall time
        op_s = details[details["main_op"] + "_s"]
        assert m["spark.job_busy_s"] > 0 and m["spark.driver_s"] > 0
        assert abs(m["spark.job_busy_s"] + m["spark.driver_s"] - op_s) < 1e-6
        if workload == "weekly_cycle":
            # the DAG tasks account for the cycle, up to the tracing
            # overhead and the harness's own loop
            tasks = sum(v for k, v in m.items() if k.startswith("dag.task_s."))
            assert abs(op_s - tasks) <= details["tracing_overhead_s"] + 0.01 * op_s
    # the run directory is gone
    assert not any(d.startswith("run-")
                   for d in os.listdir(os.path.join(ROOT, ".perfbench")))


# per-layer metrics each workload must move (one run at the tiny size)
LIVE = {
    "weekly_cycle": (
        "spark.jobs", "spark.tasks", "spark.executor_run_s",
        "dag.task_s.harvest_incremental.load_authors",
        "dag.task_s.harvest_incremental.link_authors",
        "dag.task_s.harvest_incremental.dedupe",
        "sources.read_payload_batch_s", "sources.payload_rows", "sources.landing_s",
        "storage.keyed_replace_s", "storage.publish_snapshot_s",
        "storage.files_written", "storage.bytes_written_mb", "storage.space_amp",
        "storage.read_keys_s", "storage.files_read_per_lookup",
        "commitlog.commits", "commitlog.commit_s", "commitlog.head_s",
        "commitlog.put_success_ratio", "plans.cli.lookup_s",
    ),
    "query_mix": (
        "spark.jobs", "spark.tasks", "spark.executor_run_s",
        "python.init_s", "python.total_s", "python.data_sent_mb",
        "streaming.batches", "streaming.add_batch_s", "streaming.trigger_s",
        "plans.query_s.q01_pricing_summary", "plans.query_s.q44_stateful_counts",
    ),
}


def test_landing_in_the_harvest_dag(tmp_path):
    """``weekly_landing`` (not in BENCHMARK.json) hands the landing to
    the harvest DAG: the OpenAlex harvest task merges it and the marts
    show the revised payloads."""
    result, details = _run(tmp_path, "weekly_landing", 1)
    assert result["correct"] and result["failed"] == 0, details["errors"]
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["sources.payload_rows"] > 0 and m["sources.read_payload_batch_s"] > 0
    assert m["dag.task_s.harvest_incremental.harvest_openalex"] >= \
        m["sources.read_payload_batch_s"]


CORRUPT = {
    # the school mart loses rows: the generator-predicted count check fails
    "weekly_cycle": """
        from rialto_airflow_spark.plans import marts
        _orig = marts.mart_publications_by_school
        marts.mart_publications_by_school = lambda *a, **k: _orig(*a, **k).limit(1)
    """,
    # q01 returns one row fewer from its second call on, i.e. in the
    # warm-up and timed passes, after set-up recorded the
    # oracle-checked checksum
    "query_mix": """
        from rialto_airflow_spark.plans import queries as Q
        Q.queries()
        _spec = Q.REGISTRY["q01_pricing_summary"]
        _calls = []
        def _bad(spark, d):
            _calls.append(1)
            df = _spec.fn(spark, d)
            return df.limit(df.count() - 1) if len(_calls) > 1 else df
        Q.REGISTRY["q01_pricing_summary"] = type(_spec)(
            fn=_bad, oracle=_spec.oracle, headline=_spec.headline)
    """,
}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_output_is_counted(tmp_path, workload):
    result, details = _run(tmp_path, workload, 0, CORRUPT[workload])
    assert not result["correct"]
    assert result["failed"] >= 1 and details["failed_frac"] > 0

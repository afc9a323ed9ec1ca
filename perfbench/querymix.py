"""``query_mix``: passes over registry queries in a seed-shuffled order,
each sunk to an executor-side checksum. Set-up generates the tables,
runs every query once, recording its checksum and checking its rows
against its DuckDB oracle with the engine's own oracle comparison
(``tests/oracle_util.py``), then runs one discarded warm-up pass;
every timed pass must reproduce the recorded checksums exactly."""

from __future__ import annotations

import inspect
import os
import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import querydata

# The registry holds 50 queries; one warm pass over all of them takes
# ~30 s at the smallest scale on 4 cores and the cold pass ~60 s, more
# than a whole run may take next to a weekly cycle. This subset keeps
# the layers the weekly cycle does not reach: the streaming drains
# (q31, q43, q44), the Python-worker paths (q30, q44), and a plain
# aggregate (q01) as the reference point. The count is odd so that the
# per-query median falls on one query's latency, not halfway across
# the gap between a fast and a slow query.
QUERIES = (
    "q01_pricing_summary",
    "q30_multimodal_meta",
    "q31_streaming_counts",
    "q43_stream_dedup",
    "q44_stateful_counts",
)


def checksum(df: DataFrame) -> tuple[int, int]:
    """(row count, xor of row hashes), reduced on the executors so a
    timed pass measures the plan rather than moving rows to Python."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64(*df.columns)), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


class QueryMix:
    main_op, request_op = "pass", "query"

    def __init__(self, spark, root: str, seed: int, bench):
        self.spark, self.root, self.seed, self.bench = spark, root, seed, bench
        self.rng = random.Random(seed)

    def _plan(self, name):
        from rialto_airflow_spark.plans.queries import REGISTRY

        fn = REGISTRY[name].fn
        kwargs = ({"self_check": False}
                  if "self_check" in inspect.signature(fn).parameters else {})
        return fn(self.spark, self.data, **kwargs)

    def setup(self) -> None:
        from rialto_airflow_spark.plans.queries import REGISTRY, queries
        from tests.oracle_util import compare

        queries()  # loads the extension registries
        self.data = os.path.join(self.root, "tables")
        querydata.generate_tables(self.data, self.seed)
        self.expected = {}
        for name in self._order():
            # one execution feeds the checksum and the oracle comparison
            df = self._plan(name).cache()
            self.expected[name] = checksum(df)
            try:
                compare(df, REGISTRY[name].oracle, self.data, name)
                bad = None
            except AssertionError as exc:
                bad = str(exc)[:300]
            df.unpersist()
            self.bench.check(bad is None, f"{name}: {bad}")
        # a discarded warm-up pass: the first executions after the
        # oracle checks still run up to ~40% slower
        for name in self._order():
            checksum(self._plan(name))

    def _order(self) -> list[str]:
        order = list(QUERIES)
        self.rng.shuffle(order)
        return order

    def run_op(self, k: int) -> None:
        with self.bench.op("pass"):
            for name in self._order():
                with self.bench.op("query", name) as rec:
                    got = checksum(self._plan(name))
                self.bench.check(
                    got == self.expected[name],
                    f"pass {k}: {name} checksum {got} != warm-up {self.expected[name]}",
                    rec,
                )

"""``weekly_cycle``: the reference's real traffic. Set-up bootstraps a
generated corpus through the full harvest and publish DAGs into
manifest ``TableStore``s. Each timed operation restores that state,
brings one weekly delta (refreshed authors, new author links and an
OpenAlex connector landing), runs the incremental harvest
(``pubs_store`` with changed-key tracking) and the publish
(``publish_snapshot``), then serves CLI author lookups against the
store it just wrote.

Where the landing goes differs between the two classes here:

* :class:`WeeklyCycle` (``--workload weekly_cycle``) merges the landing
  in an operation of its own, after the lookups: the OpenAlex harvest
  task's plan (``read_payload_batch`` then the ``upsert_source_batch``
  MERGE) against the stored publications, materialized for the landed
  keys and checked. The cycle itself runs without the landing.
* :class:`WeeklyLanding` (``--workload weekly_landing``) hands the
  landing to the harvest DAG, as a production week does. The DAG then
  merges it before its five dedupe passes, which re-plan the merged
  frame many times over: on 4 cores one such cycle takes ~60-75 s
  (~50 s of it in ``dedupe``), and a run ~2 min, too long for the
  number of runs a benchmark comparison makes. Run it by hand to see
  that cost.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import corpus as C

N_PUBS = 1000
N_AUTHORS = 200
MANIFEST_BUCKETS = 8
LOOKUPS_PER_CYCLE = 9
WARMUP_LOOKUPS = 1
# lookups per cycle re-checked against the full-scan CLI plan, outside
# the timed span
CHECKED_LOOKUPS = 1


class WeeklyCycle:
    main_op, request_op = "cycle", "lookup"
    # hand the OpenAlex landing to the harvest DAG
    land_in_cycle = False

    def __init__(self, spark, root: str, seed: int, bench):
        self.spark, self.root, self.seed, self.bench = spark, root, seed, bench

    # -- set-up ----------------------------------------------------------
    def _harvests(self, n: int):
        t = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(days=7 * n)
        return self.spark.createDataFrame(
            [(n, t, t + dt.timedelta(hours=6), False)],
            "id bigint, created_at timestamp, finished_at timestamp, is_full boolean",
        )

    def _dims(self):
        from rialto_airflow_spark.sources.dims import federal_funders

        return {"federal": federal_funders(
            self.spark.read.parquet(self.corpus.path("federal.parquet"))
        )}

    def setup(self) -> None:
        from rialto_airflow_spark.storage import TableStore

        spark = self.spark
        self.corpus = C.generate_corpus(
            os.path.join(self.root, "corpus"), self.seed, N_PUBS, N_AUTHORS
        )
        # the stores live at one path for the whole run; every cycle
        # starts from a byte-identical copy of the bootstrapped state
        self.state = os.path.join(self.root, "state")
        self.pristine = os.path.join(self.root, "pristine")
        rd = spark.read.parquet
        self.authors = rd(self.corpus.path("authors.parquet"))
        ctx = {
            "spark": spark,
            "pubs": rd(self.corpus.path("pubs.parquet")),
            "authors": self.authors,
            "author_edges": rd(self.corpus.path("author_edges.parquet")),
            "funder_edges": spark.createDataFrame(
                [], "publication_id bigint, funder_id bigint"),
            "funders": spark.createDataFrame(
                [], "grid_id string, name string, federal boolean, "
                    "ror_id string, openalex_id string, id bigint"),
            "harvests": self._harvests(0),
            "landing_dirs": {},
            "dims": self._dims(),
            "pubs_store": TableStore(os.path.join(self.state, "store")),
            "reports_store": TableStore(os.path.join(self.state, "reports")),
            "pubs_manifest_buckets": MANIFEST_BUCKETS,
        }
        self._run_dags(ctx)
        self._check_marts(ctx, "bootstrap", self.corpus.expected_marts())
        self.funders_path = os.path.join(self.root, "funders.parquet")
        ctx["funders"].write.parquet(self.funders_path)
        shutil.copytree(self.state, self.pristine)
        # discarded warm-up lookups: the first lookup of a process runs
        # ~50% slower than the rest
        store = ctx["pubs_store"]
        tables = (store.read(spark, "pub_author_edges"),
                  store.read(spark, "pub_funder_edges"),
                  spark.read.parquet(self.funders_path))
        for sunet in C.draw_authors(self.corpus, WARMUP_LOOKUPS):
            self._lookup(sunet, store, *tables)

    # -- one timed operation --------------------------------------------
    def _run_dags(self, ctx) -> None:
        from rialto_airflow_spark.dag import build_harvest_dag, build_publish_dag

        for dag in (build_harvest_dag(), build_publish_dag()):
            self.bench.run_dag(dag, ctx)

    def _check_marts(self, ctx, what: str, expected: dict, rec=None,
                     delta=None) -> None:
        from pyspark.sql import functions as F

        store, seq = ctx["reports_store"], ctx["reports_snapshot"]
        for name, want in expected.items():
            got = store.read_snapshot(self.spark, name, seq=seq).count()
            self.bench.check(got == want, f"{what}: mart {name} has {got} rows, "
                                          f"generator predicts {want}", rec)
        if delta is None:
            return
        # the landed payloads reached the marts: revised publishers
        # show, orphaned new DOIs do not
        landed = list(delta.revised) + delta.new_dois
        got = {r["doi"]: r["publisher"] for r in
               store.read_snapshot(self.spark, "publications", seq=seq)
               .where(F.col("doi").isin(landed)).select("doi", "publisher").collect()}
        self.bench.check(got == delta.revised,
                         f"{what}: landed payloads gave publishers {got}, "
                         f"expected {delta.revised}", rec)

    def run_op(self, k: int) -> None:
        from rialto_airflow_spark.plans import cli
        from rialto_airflow_spark.storage import TableStore

        spark = self.spark
        shutil.rmtree(self.state)
        shutil.copytree(self.pristine, self.state)
        delta = C.write_delta(
            self.corpus, os.path.join(self.root, f"delta{k}"), self.seed, k)
        store = TableStore(os.path.join(self.state, "store"))
        funders = spark.read.parquet(self.funders_path)
        ctx = {
            "spark": spark,
            "pubs": store.read(spark, "publications"),
            "authors": self.authors,
            "author_edges": store.read(spark, "pub_author_edges"),
            "funder_edges": store.read(spark, "pub_funder_edges"),
            "funders": funders,
            "harvests": self._harvests(k + 1),
            "landing_dirs": delta.ctx["landing_dirs"] if self.land_in_cycle else {},
            "incoming_authors": spark.read.parquet(delta.ctx["incoming_authors"]),
            "incoming_edges": spark.read.parquet(delta.ctx["incoming_edges"]),
            "dims": self._dims(),
            "pubs_store": store,
            "reports_store": TableStore(os.path.join(self.state, "reports")),
            "pubs_manifest_buckets": MANIFEST_BUCKETS,
        }
        with self.bench.op("cycle") as cycle:
            self._run_dags(ctx)
        self._check_marts(ctx, f"cycle {k}",
                          self.corpus.expected_marts(delta.new_edges), cycle,
                          delta if self.land_in_cycle else None)

        edges = store.read(spark, "pub_author_edges")
        fedges = store.read(spark, "pub_funder_edges")
        sunets = C.draw_authors(self.corpus, LOOKUPS_PER_CYCLE)
        results = []
        for sunet in sunets:
            rows = None
            with self.bench.op("lookup") as rec:
                rows = self._lookup(sunet, store, edges, fedges, funders)
            results.append((sunet, rows, rec))
        pubs = store.read(spark, "publications")
        for sunet, rows, rec in results[:CHECKED_LOOKUPS]:
            want = cli.publications_for_author(
                sunet, pubs, edges, self.authors, fedges, funders
            ).collect()
            self.bench.check(
                rows is not None and _rowset(rows) == _rowset(want),
                f"cycle {k}: lookup {sunet} disagrees with the full-scan plan",
                rec,
            )

        if not self.land_in_cycle:
            self._landing(k, store, delta)

    def _landing(self, k: int, store, delta) -> None:
        """The OpenAlex harvest task's MERGE of this week's landing
        against the stored publications, materialized for the landed
        keys: revised DOIs carry the new payload, new DOIs and the
        null-DOI record are inserted."""
        from pyspark.sql import functions as F

        from rialto_airflow_spark.plans.harvest import upsert_source_batch
        from rialto_airflow_spark.sources.ingest import read_payload_batch

        n_stored = store.read(self.spark, "publications").count()
        landed = list(delta.revised) + delta.new_dois
        with self.bench.op("landing") as rec:
            batch = read_payload_batch(
                self.spark, "openalex", delta.ctx["landing_dirs"]["openalex"])
            merged = upsert_source_batch(
                store.read(self.spark, "publications"), batch, "openalex")
            rows = merged.where(F.col("doi").isin(landed)).select(
                "doi", F.get_json_object(
                    "openalex_json", "$.primary_location.source.host_organization_name"
                ).alias("publisher")).collect()
            total = merged.count()
        got = {r["doi"]: r["publisher"] for r in rows}
        # every new DOI and the null-DOI record are inserted
        want_total = n_stored + len(delta.new_dois) + 1
        self.bench.check(
            {d: got.get(d) for d in delta.revised} == delta.revised
            and set(delta.new_dois) <= set(got) and total == want_total,
            f"landing {k}: merged rows {got}, {total} rows in all "
            f"(expected {delta.revised} and {want_total} rows)", rec)

    def _lookup(self, sunet, store, edges, fedges, funders) -> list:
        """The CLI's 'publications for author X' against the store."""
        from rialto_airflow_spark.plans import cli

        return cli.publications_for_author_from_store(
            sunet, self.spark, store, "publications", edges, self.authors,
            fedges, funders,
        ).collect()

    def space_amp(self) -> float:
        """Bytes of every data file in both stores over the bytes the
        head versions reference."""
        from rialto_airflow_spark.storage import TableStore, local_path_from_file_uri

        live = 0
        for name, root in (("publications", "store"), ("pub_author_edges", "store"),
                           ("pub_funder_edges", "store")) + tuple(
                (m, "reports") for m in self.corpus.expected_marts()):
            store = TableStore(os.path.join(self.state, root))
            for uri in store.read(self.spark, name).inputFiles():
                live += os.path.getsize(local_path_from_file_uri(uri))
        total = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _dirs, files in os.walk(self.state)
            for f in files if f.endswith(".parquet")
        )
        return total / live if live else 0.0


# pipe-joined CLI columns: their order follows collect_list, which the
# plan does not fix, so lookups compare them as sets
_PIPED = ("authors", "funders", "sources", "types")


def _rowset(rows) -> list:
    return sorted(
        repr(tuple(
            "|".join(sorted(v.split("|"))) if k in _PIPED and v else v
            for k, v in r.asDict().items()
        ))
        for r in rows
    )


class WeeklyLanding(WeeklyCycle):
    """The weekly cycle with the landing handed to the harvest DAG."""

    land_in_cycle = True

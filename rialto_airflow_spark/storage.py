"""Table storage layer: parquet-backed tables with atomic swap
writes, the durable counterpart of the reference's Postgres tables.

Layout decisions that matter at 100 TB (and cost nothing at test
scale):

  * publications partition by ``pub_year`` — every mart and most
    analyst queries carry a year predicate, so partition pruning
    skips whole directories;
  * big natural-key tables bucket by their merge key (doi) — a
    bucketed MERGE/self-join co-locates both sides and skips the
    shuffle entirely (requires saveAsTable; plain-path writes fall
    back to unbucketed);
  * writes go to a versioned directory then commit to an ordered
    log — readers never see partial output (the TRUNCATE+SERIALIZABLE
    analog, publish/publication.py:91-95, without Delta). The commit
    primitive is pluggable (``commitlog.CommitBackend``): POSIX
    link-based put-if-absent by default, a conditional-PUT object
    store in a cloud deployment — NO rename/replace anywhere on the
    metadata path, because S3/GCS don't have one.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .commitlog import CommitBackend, VersionedStore, _canon, default_backend
from .functions.perf import local_df as _local_df


def local_path_from_file_uri(path: str) -> str | None:
    """The plain filesystem path behind a (possibly ``file:``-scheme,
    possibly percent-encoded) path string, or None when it lives on a
    non-local store (hdfs://, s3a://, file://host/…) that a
    driver-side reader can't open directly. The ONE implementation —
    Spark hands back several spellings (``file:/p``, ``file:///p``,
    percent-encoded) and ad-hoc stripping at each call site has
    already diverged once."""
    from urllib.parse import unquote

    if path.startswith("file:"):
        rest = path[len("file:"):]
        # file:///p and file:/p both mean local /p; file://host/p doesn't
        if rest.startswith("///"):
            return unquote(rest[2:])
        if rest.startswith("//"):
            return None
        return unquote(rest)
    if "://" in path:
        return None
    return path


class TableStore:
    """Versioned parquet tables under a root directory.

    ``write`` lands a new version and atomically commits; ``read``
    follows the commit log. Old versions are retained for time
    travel / debugging until ``vacuum``. Pre-commit-log layouts
    (``{name}.version.json`` pointer files) still resolve, read-only.
    """

    def __init__(self, root: str, backend: CommitBackend | None = None):
        self.root = root
        self.backend = backend
        # URI roots (hdfs://, s3a://, file://) are created lazily by
        # the backend's own puts/writes; os.makedirs would make a
        # literal "s3a:" directory. Scheme-less roots keep the eager
        # create so a first read against an empty store fails with
        # the store's own error, not ENOENT.
        if "://" not in root:
            os.makedirs(root, exist_ok=True)

    def _backend(self) -> CommitBackend:
        """Resolved backend for metadata DECISIONS (existence checks
        and the like) — the same late resolution the per-table
        VersionedStores use, so ``set_default_backend`` covers the
        snapshot/time-travel reads too."""
        return self.backend or default_backend()

    def _store(self, name: str) -> VersionedStore:
        return VersionedStore(
            os.path.join(self.root, name),
            backend=self.backend,
            version_prefix="",
            legacy_pointer=os.path.join(self.root, f"{name}.version.json"),
        )

    def current_version(self, name: str) -> str | None:
        return self._store(name).current_path()

    def write(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
        extra: dict | None = None,
    ) -> str:
        """Materialize ``df`` as a fresh version of ``name`` and
        publish it atomically. ``extra`` lands in the commit payload —
        provenance a maintainer can act on (e.g. the streaming mart
        sink records ``built_from``, the source version the mart was
        derived from, making its refresh replay-idempotent)."""
        store = self._store(name)
        path = store.new_version_path()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        store.commit(path, extra=extra)
        return path

    def current_info(self, name: str) -> dict | None:
        """The head commit's full payload for ``name`` (path plus any
        ``extra`` fields recorded at :meth:`write` time), or None for
        an uncommitted table."""
        return self._store(name).current()

    def version_info(self, name: str, version: str) -> dict | None:
        """The CREATING commit's payload for a retained version (as
        listed by :meth:`versions`) — metadata only, no data read.
        None when the version has no surviving commit entry (a
        demoted carrier or a never-committed dir). Callers use this
        to decide HOW to read a version (e.g. whether it carries a
        manifest to bucket-prune against) without exception-driven
        control flow."""
        return self._payload_for(name, os.path.join(self.root, name, version))

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        info = self.current_info(name)
        if info is None:
            raise FileNotFoundError(f"table {name} has no committed version")
        if "manifest" in info:
            return self._read_manifest(spark, info)
        return spark.read.parquet(info["path"])

    # -- cross-table snapshots --------------------------------------
    def _snapshot_log(self):
        from .commitlog import CommitLog

        return CommitLog(
            os.path.join(self.root, "_snapshots"),
            self.backend,
        )

    def publish_snapshot(
        self,
        dfs: dict[str, DataFrame],
        partition_by: dict[str, list[str]] | None = None,
    ) -> int:
        """Publish several tables as ONE consistent snapshot: each
        table commits individually (normal :meth:`read` sees it as
        soon as its own commit lands), then a single catalog entry in
        ``{root}/_snapshots`` records the full name→version mapping.
        :meth:`read_snapshot` readers therefore never observe table A
        from run N next to table B from run N-1 — the cross-table
        guarantee the reference's per-mart SERIALIZABLE
        TRUNCATE+insert transactions do NOT give (each mart commits
        in its own transaction — publish/publication.py:91-95,
        156-160, 221-225 — so a reader between two of them sees a
        mixed catalog; here the snapshot entry is the LAST write, so
        a writer crash mid-publish leaves some tables individually
        advanced but the snapshot pointing at the previous complete
        set — fail closed).

        Returns the snapshot seq. Retention contract: table-level
        :meth:`vacuum` does not know about snapshots — keep table
        retention ≥ snapshot lookback, and a read of a vacuumed
        snapshot fails loudly (missing path), never serves a wrong
        version.

        A ``None`` value ADOPTS the table's current committed version
        instead of rewriting it — for tables advanced out-of-band
        just before the publish (e.g. an O(changes)
        :meth:`replace_keys_manifest` mart refresh): the snapshot
        stays all-run-N consistent while the big member never
        re-materializes. Manifest versions referenced by a retained
        snapshot keep their carrier dirs pinned through vacuum."""
        paths = {}
        for name, df in dfs.items():
            if df is None:
                cur = self.current_version(name)
                if cur is None:
                    raise FileNotFoundError(
                        f"publish_snapshot: table {name} has no committed "
                        "version to adopt (None member)"
                    )
                paths[name] = cur
            else:
                paths[name] = self.write(
                    df, name, partition_by=(partition_by or {}).get(name)
                )
        return self._snapshot_log().commit({"tables": paths})

    def snapshots(self) -> list[tuple[int, dict]]:
        """All retained snapshot entries, oldest first:
        ``(seq, {table_name: version_path})``."""
        return [
            (seq, payload["tables"])
            for seq, payload in self._snapshot_log().history()
        ]

    def read_snapshot(
        self, spark: SparkSession, name: str, seq: int | None = None
    ) -> DataFrame:
        """Read ``name`` as of snapshot ``seq`` (default: the newest
        snapshot) — consistent with every other table read at the
        same seq."""
        log = self._snapshot_log()
        if seq is None:
            head = log.head()
            if head is None:
                raise FileNotFoundError(f"{self.root} has no snapshots")
            seq, payload = head
        else:
            found = [p for s, p in log.history() if s == seq]
            if not found:
                raise FileNotFoundError(
                    f"{self.root} has no snapshot seq {seq}"
                )
            payload = found[0]
        tables = payload["tables"]
        if name not in tables:
            raise FileNotFoundError(
                f"snapshot {seq} does not include table {name!r} "
                f"(has: {sorted(tables)})"
            )
        p = tables[name]
        # existence check through the backend's data plane (NOT
        # os.path.isdir) so a vacuumed-version read fails loudly on
        # object-store deployments too
        if not self._backend().data_exists(p):
            raise FileNotFoundError(
                f"snapshot {seq}'s version of {name!r} was vacuumed "
                f"({p}); raise table retention above snapshot lookback"
            )
        vp = self._payload_for(name, p)
        if vp and "manifest" in vp:
            # adopted manifest member: resolve its bucket references
            # (vacuum keeps them pinned while this snapshot is retained)
            for k, e in vp["manifest"].items():
                for pth in self._entry_paths(e, k):
                    if not self._backend().data_exists(pth):
                        raise FileNotFoundError(
                            f"snapshot {seq}'s version of {name!r} "
                            f"references bucket {k} in a vacuumed carrier "
                            "— raise table retention above snapshot "
                            "lookback"
                        )
            return self._read_manifest(spark, vp)
        self._assert_not_carrier(name, p)
        return spark.read.parquet(p)

    def versions(self, name: str) -> list[dict]:
        """All retained versions, commit order (first-commit seq from
        the log — authoritative even when two writes share a
        millisecond): ``{version, path, current, committed}``.
        Metadata only (a listing + the log); feeds time travel and
        audit. ``committed: False`` marks an orphan dir — data landed
        but the writer died before its commit."""
        return self._store(name).versions()

    def read_version(
        self, spark: SparkSession, name: str, version: str
    ) -> DataFrame:
        """Time travel: read a specific retained version (as listed by
        :meth:`versions`) without moving the pointer — the
        what-did-the-table-say-yesterday debugging read the reference
        got from Postgres snapshots. Vacuumed versions are gone;
        raise instead of silently reading the current one."""
        p = os.path.join(self.root, name, version)
        if not self._backend().data_exists(p):
            raise FileNotFoundError(
                f"table {name} has no retained version {version!r} "
                f"(vacuumed, or never committed); see versions({name!r})"
            )
        payload = self._payload_for(name, p)
        if payload and "manifest" in payload:
            # a manifest version reads through its bucket references —
            # any reference the bucket-granular vacuum reclaimed makes
            # this version gone, loudly (same contract as a vacuumed
            # whole-dir version)
            backend = self._backend()
            for k, e in payload["manifest"].items():
                for pth in self._entry_paths(e, k):
                    if not backend.data_exists(pth):
                        raise FileNotFoundError(
                            f"table {name} version {version!r} references "
                            f"bucket {k} in a vacuumed version — time "
                            "travel to it is gone"
                        )
            return self._read_manifest(spark, payload)
        self._assert_not_carrier(name, p)
        return spark.read.parquet(p)

    def changes(
        self,
        spark: SparkSession,
        name: str,
        key: str,
        from_version: str,
        to_version: str | None = None,
        compare_cols: list[str] | None = None,
    ) -> DataFrame:
        """Change data feed between two retained versions: every row
        classified ``insert`` / ``delete`` / ``update`` (with the
        changed column names), unchanged rows dropped — the Delta
        CDF / Postgres logical-decoding analog, derived ON READ from
        the two snapshots the commit log already retains rather than
        from change files written at commit time. That trade is
        deliberate for this engine's write profile: versions are
        whole-table republishes (TRUNCATE-analog marts, MERGE
        outputs), so the diff is one full-outer join on the key
        (``operators.merge.snapshot_diff`` — broadcast when either
        side is small, no per-write bookkeeping, and any two retained
        versions can be compared after the fact, not just adjacent
        ones). ``to_version`` defaults to the CURRENT version.

        Feeds incremental consumers of published tables (the
        what-changed-since-my-last-read question) and run audits
        (what did THIS pipeline run touch) — retention is the
        lookback window, the :meth:`vacuum` contract."""
        from rialto_airflow_spark.operators.merge import snapshot_diff

        old = self.read_version(spark, name, from_version)
        if to_version is not None:
            new = self.read_version(spark, name, to_version)
        else:
            new = self.read(spark, name)
        return snapshot_diff(old, new, key, compare_cols=compare_cols)

    def restore(self, name: str, version: str) -> str:
        """Roll back to a retained version — the bad-publish undo.
        The restore is just another commit naming the old path; no
        data is copied, and the rolled-back-from version stays
        retained until vacuum. Restoring a MANIFEST version re-commits
        its full manifest payload, so reads keep resolving the carried
        buckets."""
        p = os.path.join(self.root, name, version)
        payload = self._payload_for(name, p)
        if payload and "manifest" in payload:
            if not self._backend().data_exists(p):
                raise FileNotFoundError(
                    f"table {name} has no retained version {version!r}"
                )
            # a restore re-points, never rewrites — a carried bucket
            # the bucket-granular vacuum already reclaimed makes the
            # target version GONE, same contract as time travel to it
            for k, e in payload["manifest"].items():
                for pth in self._entry_paths(e, k):
                    if not self._backend().data_exists(pth):
                        raise FileNotFoundError(
                            f"table {name} version {version!r} references "
                            f"bucket {k} in a vacuumed carrier — it can "
                            "no longer be restored"
                        )
            # carry the FULL creating payload (schema, provenance
            # fields like built_from) — dropping any of it would make
            # the restored head lie about the data it points at
            carried = {
                k: v
                for k, v in payload.items()
                if k not in ("path", "committed_at")
            }
            self._store(name).commit(p, extra=dict(carried, restored=True))
            return p
        self._assert_not_carrier(name, p)
        try:
            return self._store(name).restore(version)
        except FileNotFoundError:
            raise FileNotFoundError(
                f"table {name} has no retained version {version!r}"
            ) from None

    def compact(
        self,
        spark: SparkSession,
        name: str,
        target_mb: int = 128,
        partition_by: list[str] | None = None,
    ) -> str:
        """Small-files compaction: rewrite the CURRENT version into
        ~``target_mb``-sized files and atomically repoint — the
        maintenance job that keeps a frequently-merged table readable
        (every streaming MERGE / incremental upsert writes a fresh
        small-file version; thousands of tiny files turn scans into
        file-listing storms and starve row-group pruning).

        Sizing uses the on-disk bytes of the current version (driver
        walks the directory listing — metadata only), targeting
        ``ceil(bytes / target_mb)`` output files via coalesce (no
        shuffle — compaction merges, it doesn't redistribute).
        Readers are never disrupted: the rewrite lands as a NEW
        version, the pointer swap is atomic, and ``vacuum`` reclaims
        the old one later.

        The source version's partition LAYOUT is preserved: when
        ``partition_by`` is not given it is inferred from the
        version's ``col=value`` directory chain, so compacting the
        pub_year-partitioned publications table keeps its directory
        pruning (silently flattening the layout would keep the data
        and lose every partition-pruned read)."""
        info = self.current_info(name)
        if info is None:
            raise FileNotFoundError(f"table {name} has no committed version")
        if "manifest" in info:
            # manifest tables compact bucket-preserving: every bucket
            # rewritten into a fresh self-contained version (manifest
            # = all buckets → new dir). For consolidation proportional
            # to the FRAGMENTATION (not the table), see
            # compact_buckets with a max_carriers threshold.
            return self.compact_buckets(spark, name, max_carriers=1)
        src = info["path"]
        backend = self._backend()
        if partition_by is None:
            # infer the col=value directory chain through the
            # backend's data plane (URI-safe — same LIST the version
            # listing uses)
            partition_by = []
            level = src
            while True:
                subs = [d for d in backend.list_data(level) if "=" in d]
                if not subs:
                    break
                partition_by.append(subs[0].split("=", 1)[0])
                level = os.path.join(level, subs[0])
            partition_by = partition_by or None
        total = backend.data_size(src)
        n_files = max(1, -(-total // (target_mb * 1024 * 1024)))
        df = spark.read.parquet(src).coalesce(n_files)
        return self.write(df, name, partition_by=partition_by)

    def vacuum(
        self,
        name: str,
        keep: int = 2,
        older_than_s: float | None = None,
        orphan_grace_s: float = 3600.0,
    ) -> list[str]:
        """Drop all but the newest ``keep`` versions, optionally only
        those committed at least ``older_than_s`` seconds ago — the
        snapshot-lifetime guard: pick it ≥ the longest-running reader
        (the reference retains 30 days of snapshots — README.md:31).
        Never drops the current version, never a NEVER-COMMITTED dir
        younger than ``orphan_grace_s`` (it may be a concurrent
        writer's in-flight version — ``VersionedStore.vacuum``), and
        never a version a RETAINED cross-table snapshot still
        references: snapshot consistency is a guarantee, not a
        keep-your-thresholds-aligned convention. To reclaim
        snapshot-pinned versions, prune the snapshot LOG first
        (:meth:`prune_snapshots`) — then the next vacuum sees them
        unpinned.

        Tables with MANIFEST versions vacuum bucket-granularly: a
        version dir beyond retention whose buckets are still
        referenced by a KEPT version's manifest survives as a carrier
        (only its unreferenced bucket dirs are reclaimed); it is
        deleted outright once nothing kept references it."""
        history = list(self._store(name).log.history())
        if any("manifest" in p for _s, p in history):
            return self._vacuum_manifest(
                name, keep, older_than_s, orphan_grace_s, history
            )
        return self._store(name).vacuum(
            keep=keep,
            older_than_s=older_than_s,
            orphan_grace_s=orphan_grace_s,
            pinned=self._snapshot_pinned(name),
        )

    def _snapshot_pinned(self, name: str) -> set[str]:
        """Version paths of ``name`` that retained snapshot entries
        still reference — one snapshot-log listing, metadata only."""
        return {
            tables[name]
            for _seq, tables in self.snapshots()
            if name in tables
        }

    def prune_snapshots(self, below_seq: int) -> list[int]:
        """Drop snapshot entries with seq < ``below_seq`` (the newest
        entry survives regardless — ``CommitLog.prune`` clamps to the
        head). This is the snapshot LOOKBACK control: versions only
        those dropped snapshots referenced become unpinned, and the
        next per-table :meth:`vacuum` reclaims them."""
        return self._snapshot_log().prune(below_seq)

    # -- bucketed manifest versions: O(changes) writes ----------------
    #
    # A plain ``write`` materializes the WHOLE table per version — the
    # right shape for republish-style marts, the wrong one for a 100 TB
    # table taking a 0.1% weekly delta (the round-9 verdict's biggest
    # scale gap: compute was incremental, the WRITE wasn't). Manifest
    # versions fix the write path Delta/Iceberg-style on the existing
    # commit log: rows hash into ``n_buckets`` stable key-buckets, a
    # version is a COMMIT-PAYLOAD MAPPING {bucket → version dir that
    # holds its files}, and an upsert rewrites only the buckets its
    # batch touches, CARRYING every clean bucket by reference. Bytes
    # written per upsert = O(dirty buckets) ≈ O(batch × table/n_buckets),
    # not O(table). Readers resolve the manifest and union the bucket
    # dirs — unchanged buckets are literally the same files across
    # versions. Time travel, restore, snapshots and vacuum all keep
    # working; vacuum goes bucket-granular (see :meth:`vacuum`).
    #
    # Sizing at 100 TB: pick n_buckets so a bucket is a few GB (e.g.
    # 16 Ki buckets × ~6 GB). The manifest payload is O(n_buckets) JSON
    # (~16k entries ≈ 1 MB per commit) — fine for the commit log; a
    # deployment beyond ~100k buckets would chunk manifests into files
    # the way Iceberg splits manifest lists, deliberately out of scope.

    _BUCKET_COL = "__bucket"

    @staticmethod
    def _bucket_expr(key: str, n_buckets: int):
        """Stable bucket id for a key: pmod(xxhash64(key), n). Null
        keys hash to the seed (42), so they land in one fixed bucket —
        deterministic across writers, which is all bucketing needs."""
        return F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")

    def _manifest_leaf(self, vdir: str, bucket) -> str:
        return os.path.join(vdir, f"{self._BUCKET_COL}={bucket}")

    # -- manifest ENTRY forms -----------------------------------------
    #
    # A manifest maps bucket id → where its rows live, in one of two
    # forms:
    #   * a version-dir string — ALL files under that dir's
    #     ``__bucket=<id>`` leaf (the original, whole-bucket form);
    #   * ``{"files": [[path, min, max], ...]}`` — an explicit file
    #     list with each file's bucket-key range (round 11): the
    #     file-granular copy-on-write form, written whenever the table
    #     declares ``sort_cols`` starting with the bucket key (the
    #     in-file sort that makes per-file ranges tight). An upsert
    #     then rewrites only the files whose range intersects the
    #     batch's keys and CARRIES the rest by reference — bytes per
    #     upsert become O(files containing matched keys), not
    #     O(table/n_buckets × touched buckets). min/max are
    #     JSON-serialized (strings for temporal types) and cast back
    #     through the recorded key type for the pruning join; null
    #     ranges (all-null-key files) never intersect, matching MERGE
    #     semantics (null keys always insert, never match).

    @staticmethod
    def _jval(v):
        """JSON-safe form of a bucket-key value for the manifest
        payload; round-trips through a Spark string cast."""
        if v is None or isinstance(v, (int, float, str, bool)):
            return v
        return str(v)

    @staticmethod
    def _range_proj(col: Column, dtype_simple: str) -> Column | None:
        """ORDER-PRESERVING projection of a bucket-key column into a
        JSON-safe, SESSION-INDEPENDENT domain for file ranges.
        Temporal types must NOT round-trip through session-timezone
        string casts (a later upsert under a different
        spark.sql.session.timeZone would shift the parsed range and
        break the 'a missed overlap is impossible' guarantee):
        timestamps project to epoch micros, dates to epoch days,
        timestamp_ntz to its fixed-format string (lexicographic ==
        chronological). Numerics/strings/booleans pass through.
        Returns None for types with no safe projection (binary) —
        callers skip file pruning there (whole-bucket rewrites,
        correct and coarse)."""
        if dtype_simple == "timestamp":
            return F.unix_micros(col)
        if dtype_simple == "date":
            return F.unix_date(col)
        if dtype_simple == "timestamp_ntz":
            return col.cast("string")
        if dtype_simple == "binary":
            return None
        return col

    @staticmethod
    def _range_cast(dtype_simple: str) -> str:
        """The Spark type the recorded range values cast back to for
        the pruning comparison (must match :meth:`_range_proj`'s
        output domain)."""
        if dtype_simple in ("timestamp", "date"):
            return "long"
        if dtype_simple == "timestamp_ntz":
            return "string"
        if dtype_simple == "boolean":
            return "boolean"
        if dtype_simple in (
            "tinyint", "smallint", "int", "bigint",
        ) or dtype_simple.startswith("decimal"):
            return "decimal(38,18)" if dtype_simple.startswith(
                "decimal"
            ) else "long"
        if dtype_simple in ("float", "double"):
            return "double"
        return "string"

    # -- manifest ENTRY keys ------------------------------------------
    #
    # An entry key is "b" (bucket b under the payload's CURRENT
    # n_buckets) or "b@m" (bucket b under a COARSER modulus m — a
    # not-yet-split remnant of incremental rebucketing, round 11).
    # The refinement property pmod(h, n·f) mod n == pmod(h, n) (true
    # for any integers) means a coarse entry b@m holds exactly the
    # rows whose fine bucket j satisfies j ≡ b (mod m), so fine and
    # coarse entries partition the key space as long as a coarse
    # entry DISSOLVES WHOLE when first touched — which every writer
    # here guarantees (opportunistic split on upsert/replace/compact,
    # bulk split via :meth:`split_buckets`).

    @staticmethod
    def _parse_entry_key(k) -> tuple[int, int | None]:
        """(physical bucket id, coarse modulus or None-for-current)."""
        s = str(k)
        if "@" in s:
            b, m = s.split("@", 1)
            return int(b), int(m)
        return int(s), None

    @staticmethod
    def _moduli(manifest) -> list[int]:
        """Coarse moduli present in a manifest, ascending."""
        return sorted(
            {int(str(k).split("@", 1)[1]) for k in manifest if "@" in str(k)}
        )

    @classmethod
    def _entry_covered_buckets(
        cls, k, n_default: int, n_target: int
    ) -> list[int]:
        """The buckets (at modulus ``n_target``) an entry's rows can
        land in. Requires the entry's modulus to divide or be divided
        by ``n_target`` (the invariant merge/split guard)."""
        b, m = cls._parse_entry_key(k)
        m = m if m is not None else n_default
        if m % n_target == 0:
            return [b % n_target]
        if n_target % m == 0:
            return list(range(b, n_target, m))
        raise ValueError(
            f"entry {k} at modulus {m} is incompatible with modulus "
            f"{n_target}"
        )

    @classmethod
    def _dissolve_closure(
        cls, manifest: dict, seed: set, n_default: int, n_target: int
    ) -> set:
        """Expand a to-be-rewritten entry set to its bucket-sharing
        CLOSURE: a rewrite re-lands rows as fine entries per target
        bucket, so every OTHER entry holding rows of any touched
        bucket must rewrite in the same pass or the new fine entry
        would silently shadow it (after :meth:`merge_buckets`, one
        bucket's rows can legitimately be spread across a fine entry
        plus finer remnants). Fixpoint over the bucket→entries map —
        O(entries), driver-local. The closure can expand a
        caller-bounded pass well past its budget (crossing split and
        merge migrations chain entries transitively); that's required
        for correctness, but surprise-sized rewrites get a WARNING so
        the caller can finish one migration before starting the
        next."""
        by_bucket: dict[int, list] = {}
        for k in manifest:
            for bk in cls._entry_covered_buckets(k, n_default, n_target):
                by_bucket.setdefault(bk, []).append(k)
        closed: set = set()
        frontier = set(seed)
        while frontier:
            k = frontier.pop()
            closed.add(k)
            for bk in cls._entry_covered_buckets(k, n_default, n_target):
                for k2 in by_bucket.get(bk, []):
                    if k2 not in closed:
                        frontier.add(k2)
        if len(closed) > 2 * max(len(seed), 1) and len(closed) > 4:
            import warnings

            warnings.warn(
                f"bucket-sharing closure expanded a {len(seed)}-entry "
                f"rewrite to {len(closed)} entries (crossing "
                "rebucketing migrations share buckets transitively); "
                "the pass stays correct but exceeds its size budget — "
                "finish the outstanding migration (factor=1 calls) "
                "before starting another",
                stacklevel=3,
            )
        return closed

    @classmethod
    def _covering_keys(
        cls, manifest: dict, moduli: list[int], j: int, n: int
    ) -> list[str]:
        """EVERY entry key holding rows of bucket ``j`` at modulus
        ``n``. Entry row-sets are disjoint (each row lives in exactly
        one entry — every rewrite dissolves the entries it touches
        whole), but after a :meth:`merge_buckets` shrink one coarse
        bucket's rows can be SPREAD across several entries: the fine
        key, coarse remnants (``m < n``, unfinished splits), and
        FINER remnants (``m > n``, ``n`` divides ``m`` — unfinished
        merges, each a pure subset of ``j``). The union — in that
        order — is the complete, duplicate-free coverage."""
        out = []
        if str(j) in manifest:
            out.append(str(j))
        for m in moduli:
            if m < n:
                ck = f"{j % m}@{m}"
                if ck in manifest:
                    out.append(ck)
            elif m > n and m % n == 0:
                for b in range(j, m, n):
                    ck = f"{b}@{m}"
                    if ck in manifest:
                        out.append(ck)
        return out

    def _entry_paths(self, entry, bucket) -> list[str]:
        """The parquet paths an entry resolves to (leaf dir for the
        whole-bucket form, explicit files for the file form).
        ``bucket`` may be an entry KEY ("5" / "5@64") or a bare id —
        the physical leaf name is the id part either way."""
        if isinstance(entry, str):
            b, _m = self._parse_entry_key(bucket)
            return [self._manifest_leaf(entry, b)]
        return [f[0] for f in entry["files"]]

    @staticmethod
    def _entry_carriers(entry) -> set[str]:
        """The version dirs an entry references (vacuum/compaction
        bookkeeping). File paths are ``{vdir}/__bucket=N/part-*``."""
        if isinstance(entry, str):
            return {entry}
        return {
            os.path.dirname(os.path.dirname(p))
            for p, _mn, _mx in entry["files"]
        }

    def _manifest_paths(self, payload: dict) -> list[str]:
        return [
            p
            for k, e in sorted(
                payload["manifest"].items(),
                key=lambda kv: (
                    self._parse_entry_key(kv[0])[0],
                    self._parse_entry_key(kv[0])[1] or 0,
                ),
            )
            for p in self._entry_paths(e, k)
        ]

    @staticmethod
    def _file_cow_active(payload: dict) -> bool:
        """File-granular COW requires every row of a key to live in
        files whose recorded range covers it — true exactly when the
        in-file sort leads with the bucket key."""
        sc = payload.get("sort_cols") or []
        return bool(sc) and sc[0] == payload.get("bucket_key")

    def _file_stats(
        self, spark: SparkSession, vdir: str, key: str
    ) -> dict[int, list[list]]:
        """Per-file (path, min(key), max(key)) for a just-written
        version dir, grouped by bucket — ONE column-pruned scan of the
        new files only (O(bytes just written), the write-time cost
        that buys read/write-time file pruning forever after).

        Ranges are recorded in the :meth:`_range_proj` domain (epoch
        micros for timestamps etc.), so pruning is immune to session
        timezone changes. Paths are RECONSTRUCTED from the caller's
        ``vdir`` string + bucket + decoded basename rather than taken
        from ``input_file_name()`` verbatim: Spark returns qualified,
        percent-encoded URIs (``file:/data/my%20tables/…``,
        ``hdfs://host:port/…``) that would never compare equal to the
        store-rooted strings every other path in the commit log uses
        — vacuum's needed-map would miskey and reclaim LIVE files."""
        from urllib.parse import unquote

        if not any(
            d.startswith(f"{self._BUCKET_COL}=")
            for d in self._backend().list_data(vdir)
        ):
            return {}  # the write landed no rows (e.g. a full delete)
        df = spark.read.parquet(vdir)
        dtype = df.schema[key].dataType.simpleString()
        proj = self._range_proj(F.col(key), dtype)
        if proj is None:
            # no order-safe range domain (binary keys): record the
            # file list without ranges — pruning degrades to
            # whole-bucket rewrites, never to a missed overlap
            proj = F.lit(None).cast("string")
        rows = (
            df.select(
                F.col(self._BUCKET_COL).cast("int").alias("b"),
                proj.alias("k"),
                F.input_file_name().alias("f"),
            )
            .groupBy("b", "f")
            .agg(F.min("k").alias("mn"), F.max("k").alias("mx"))
            .collect()
        )
        out: dict[int, list[list]] = {}
        for r in rows:
            fname = unquote(r["f"].rstrip("/").rsplit("/", 1)[-1])
            p = os.path.join(
                self._manifest_leaf(vdir, int(r["b"])), fname
            )
            out.setdefault(int(r["b"]), []).append(
                [p, self._jval(r["mn"]), self._jval(r["mx"])]
            )
        for fs in out.values():
            fs.sort(key=lambda x: x[0])
        return out

    def _rewrite_files(
        self,
        spark: SparkSession,
        keys_df: DataFrame,
        key: str,
        ktype,
        n_buckets: int,
        file_entries: list[tuple[int, list[list]]],
    ) -> set[str]:
        """Which carried files a change set actually touches: join the
        (path, bucket, min, max) ranges (O(dirty-bucket files), a
        local frame) against the change keys on bucket + range
        containment, all in the :meth:`_range_proj` domain.
        Conservative by construction — a missed overlap is impossible,
        a spurious one only costs a rewrite. Files with NULL ranges
        (all-null keys, or a binary key with no safe range domain)
        are returned as hits when the domain is unavailable — see
        callers — and never match a non-null probe otherwise."""
        dtype = ktype.simpleString()
        proj = self._range_proj(F.col("k"), dtype)
        if proj is None:
            # no safe range domain: every file in a dirty bucket is a
            # hit (whole-bucket rewrite — correct, coarse)
            return {p for _b, fs in file_entries for p, _mn, _mx in fs}
        cast_t = self._range_cast(dtype)
        rngs = [
            (p, b, None if mn is None else str(mn),
             None if mx is None else str(mx))
            for b, files in file_entries
            for p, mn, mx in files
        ]
        if not rngs:
            return set()
        rdf = _local_df(
            spark, rngs, "f string, b int, mn string, mx string"
        )
        probe = keys_df.where(F.col(key).isNotNull()).select(
            F.col(key).alias("k"),
            self._bucket_expr(key, n_buckets).alias("b"),
        ).select(proj.alias("k"), "b")
        hits = (
            rdf.join(
                F.broadcast(probe),
                (rdf["b"] == probe["b"])
                & probe["k"].between(
                    rdf["mn"].cast(cast_t), rdf["mx"].cast(cast_t)
                ),
                "left_semi",
            )
            .select("f")
            .collect()
        )
        # the semi-join output is bounded by the dirty buckets' file
        # count; the set() dedupes driver-side, sparing the
        # shuffle-wide distinct exchange the old plan paid (round-12)
        return {r["f"] for r in hits}

    def _present_buckets(self, vdir: str) -> list[int]:
        pre = f"{self._BUCKET_COL}="
        return sorted(
            int(d[len(pre):])
            for d in self._backend().list_data(vdir)
            if d.startswith(pre)
        )

    def _payload_for(self, name: str, path: str) -> dict | None:
        """The payload of the FIRST commit naming ``path`` (its
        creating commit — restores re-commit the same payload)."""
        for _seq, payload in self._store(name).log.history():
            if payload.get("path") == path:
                return payload
        return None

    def _assert_not_carrier(self, name: str, path: str) -> None:
        """Refuse to serve a MANIFEST-SHAPED version dir (``__bucket=``
        leaves) that has no creating payload in the log. Two ways to
        get here, both unservable as a plain read: a demoted CARRIER
        (its commit entries were pruned once nothing resolved it as a
        version — it physically holds only the buckets that were dirty
        at its write, so a plain read returns a silent PARTIAL table),
        or a NEVER-COMMITTED manifest write (a writer crashed between
        parquet and commit — its data may be complete, but without the
        payload there is no schema/manifest to resolve it under, and a
        plain read would leak the synthetic bucket column). Resolvable
        manifest versions always have their payload: vacuum's log
        pruning keeps every retained version's first commit."""
        if any(
            d.startswith(f"{self._BUCKET_COL}=")
            for d in self._backend().list_data(path)
        ):
            raise FileNotFoundError(
                f"table {name}: {path} is manifest-shaped but has no "
                "commit payload — either a carrier demoted out of the "
                "(pruned) log, or a write whose commit never landed. "
                "Neither resolves as a version; a plain read of it "
                "would be partial or mis-schemaed. If this was a "
                "crashed bootstrap, re-run write_manifest."
            )

    @staticmethod
    def _schema_of(payload: dict):
        """The logical table schema a manifest commit recorded, or None
        for pre-schema-tracking commits (read falls back to footer
        inference — correct only while every carrier shares one
        schema)."""
        if "schema" not in payload:
            return None
        import json

        from pyspark.sql.types import StructType

        return StructType.fromJson(json.loads(payload["schema"]))

    @staticmethod
    def _check_schema_evolution(old_st, new_st, name: str) -> None:
        """Adding columns is the supported manifest evolution (carried
        files read them as null under the recorded schema); a TYPE
        change would make the recorded schema lie about carried files
        — fail loudly and point at the rebuild path instead of letting
        a later read error (or a silent parquet coercion) surface it."""
        if old_st is None:
            return
        old = {f.name: f.dataType for f in old_st.fields}
        for f in new_st.fields:
            if f.name in old and f.dataType != old[f.name]:
                raise ValueError(
                    f"manifest table {name}: column {f.name!r} type change "
                    f"{old[f.name].simpleString()} -> "
                    f"{f.dataType.simpleString()} is not supported on the "
                    "O(changes) path (carried buckets keep the old physical "
                    "type) — rebuild with write_manifest"
                )

    def _read_manifest(self, spark: SparkSession, payload: dict) -> DataFrame:
        """Resolve a manifest version to a DataFrame. The scan reads
        the COMMIT-RECORDED schema, not a file footer: carriers written
        before a column was added lack it physically, and without the
        explicit schema Spark picks one arbitrary footer — the added
        column would silently vanish (or flicker) depending on listing
        order. Under the recorded schema those files read the column as
        null, the M2 merge contract's shape."""
        st = self._schema_of(payload)
        paths = self._manifest_paths(payload)
        if not paths:  # a committed empty table
            if st is not None:
                return spark.createDataFrame([], st)
            raise FileNotFoundError(
                "manifest version holds no buckets (empty table with no "
                "recorded schema)"
            )
        reader = spark.read.schema(st) if st is not None else spark.read
        return reader.parquet(*paths)

    def _write_buckets(
        self,
        df: DataFrame,
        bexpr: Column,
        vdir: str,
        sort_cols: list[str] | None,
        max_file_rows: int | None = None,
    ) -> None:
        """The one physical writer for manifest versions: partition by
        the bucket column; when the table declares ``sort_cols``, sort
        WITHIN partitions (bucket first, then the sort columns) so
        every data file carries tight parquet row-group min/max stats
        on those columns — bucket + in-file sort is the Delta
        OPTIMIZE-style layout, and range predicates on the sort
        columns then prune row groups inside whichever buckets a read
        does touch. ``max_file_rows`` splits each bucket into several
        files (sequential split of the sorted partition → contiguous,
        disjoint key ranges per file) — the granularity file-level COW
        rewrites at: a bucket written as one file can only ever
        rewrite whole."""
        out = df.withColumn(self._BUCKET_COL, bexpr).repartition(
            F.col(self._BUCKET_COL)
        )
        if sort_cols:
            out = out.sortWithinPartitions(self._BUCKET_COL, *sort_cols)
        writer = out.write.mode("overwrite")
        if max_file_rows:
            writer = writer.option("maxRecordsPerFile", str(max_file_rows))
        writer.partitionBy(self._BUCKET_COL).parquet(vdir)

    def write_manifest(
        self,
        df: DataFrame,
        name: str,
        key: str,
        n_buckets: int = 64,
        extra: dict | None = None,
        sort_cols: list[str] | None = None,
        max_file_rows: int | None = None,
        auto_compact_files: int | None = None,
    ) -> str:
        """Full (re)write of a bucketed manifest table: every row lands
        in its key-bucket dir inside one new version; the manifest maps
        all buckets to it. The expensive bootstrap/rebuild — after it,
        :meth:`upsert_manifest` keeps writes O(changes).

        ``sort_cols`` declares an in-file sort order recorded in the
        table's payload; every later writer (upsert, replace,
        compaction) preserves it, so row-group min/max pruning on
        those columns survives the table's whole incremental life.
        When it LEADS with ``key``, the manifest records per-FILE key
        ranges and later upserts go file-granular: only the files
        whose range intersects the batch's keys rewrite, the rest of
        even a DIRTY bucket carries by reference — pair with
        ``max_file_rows`` (recorded, preserved by every writer) so a
        bucket spans several files and the pruning has grain to work
        with. The range-recording pass is one column-pruned scan of
        what was just written.

        ``auto_compact_files`` (recorded, preserved) is the table's
        file-tail PRESSURE threshold: whenever an upsert leaves a
        dirty bucket's entry listing more files than this,
        :meth:`upsert_manifest` itself triggers a targeted
        :meth:`compact_buckets` — so an indefinitely-running stream
        bounds its per-bucket tail with no compaction cadence
        configured at all (the compaction cost tracks fragmentation,
        not table size)."""
        store = self._store(name)
        vdir = store.new_version_path()
        self._write_buckets(
            df, self._bucket_expr(key, n_buckets), vdir, sort_cols,
            max_file_rows,
        )
        payload = dict(
            extra or {},
            n_buckets=n_buckets,
            bucket_key=key,
            schema=df.schema.json(),
        )
        if sort_cols:
            payload["sort_cols"] = list(sort_cols)
        if max_file_rows:
            payload["max_file_rows"] = max_file_rows
        if auto_compact_files:
            payload["auto_compact_files"] = auto_compact_files
        if self._file_cow_active(payload):
            stats = self._file_stats(df.sparkSession, vdir, key)
            payload["manifest"] = {
                str(b): {"files": fs} for b, fs in sorted(stats.items())
            }
        else:
            payload["manifest"] = {
                str(k): vdir for k in self._present_buckets(vdir)
            }
        store.commit(vdir, extra=payload)
        return vdir

    def migrate_to_manifest(
        self,
        spark: SparkSession,
        name: str,
        key: str,
        n_buckets: int = 64,
        sort_cols: list[str] | None = None,
        max_file_rows: int | None = None,
        auto_compact_files: int | None = None,
    ) -> str:
        """Upgrade a PLAIN-head table to manifest versions in one call
        ("what's wrong #3", round 10): reads the current head and
        re-publishes it as a bucketed manifest bootstrap. History is
        untouched — the migration is just one more commit, so time
        travel to pre-migration versions, restores and snapshot pins
        all keep working across the boundary; informational payload
        fields on the old head (e.g. a mart's ``built_from``) carry
        into the new one. A head that is ALREADY a manifest version
        returns its path unchanged (idempotent), so callers can use
        this as ensure-manifest."""
        info = self.current_info(name)
        if info is None:
            raise FileNotFoundError(
                f"table {name} has no committed version to migrate"
            )
        if "manifest" in info:
            return info["path"]
        carried = {
            k: v
            for k, v in info.items()
            if k not in ("path", "committed_at", "restored")
        }
        return self.write_manifest(
            spark.read.parquet(info["path"]),
            name,
            key,
            n_buckets=n_buckets,
            extra=dict(carried, migrated_from=info["path"]),
            sort_cols=sort_cols,
            max_file_rows=max_file_rows,
            auto_compact_files=auto_compact_files,
        )

    def read_keys(self, spark: SparkSession, name: str, values) -> DataFrame:
        """Point lookup on a manifest table, O(matching buckets) not
        O(table): hash the requested key values to their buckets (one
        tiny local job — the bucket function is JVM-side xxhash64, so
        it must run through Spark to match the writers bit-for-bit),
        read ONLY those buckets' leaf dirs under the recorded schema,
        and filter to the values. A 100-DOI lookup against a 16 Ki-
        bucket 100 TB table reads ≤100 bucket dirs (~table/16Ki bytes
        each) instead of scanning everything — the WHERE key IN (…)
        plan Spark cannot derive itself, because bucket = f(key) is
        invisible to partition pruning on a path-selected read.

        ``values``: an iterable of key values (driver-small by
        contract — this is the point-read API, not a join; for a big
        probe side use a broadcast semi-join against :meth:`read`).
        Nulls allowed — they resolve to the fixed null bucket. A
        plain (non-manifest) head raises: it has no bucket metadata
        to prune with — use ``read(...).where(isin)`` there."""
        vals = list(values)
        info = self.current_info(name)
        if info is None:
            raise FileNotFoundError(f"table {name} has no committed version")
        if "manifest" not in info:
            raise ValueError(
                f"table {name}'s head is not a manifest version — a plain "
                "head has no bucket metadata to prune with; use "
                "read(...).where(key.isin(...)) there"
            )
        manifest, n, key = (
            info["manifest"], info["n_buckets"], info["bucket_key"]
        )
        st = self._schema_of(info)
        if st is None or key not in st.fieldNames():
            return self._filter_keys(self.read(spark, name), key, vals)
        ktype = st[key].dataType
        probe = _local_df(
            spark, [(v,) for v in vals], f"`{key}` {ktype.simpleString()}"
        )
        # map-only bucket hashing: vals are driver-small by contract,
        # so collect the per-value buckets and dedupe here instead of
        # paying a full shuffle-partition-wide distinct exchange for
        # a handful of rows (round-12: the distinct added a 32-task
        # reduce stage to every point read)
        buckets = sorted(
            {
                r["b"]
                for r in probe.select(
                    self._bucket_expr(key, n).alias("b")
                ).collect()
            }
        )
        paths: list[str] = []
        file_entries: list[tuple[int, list[list]]] = []
        moduli = self._moduli(manifest)
        seen_coarse: set[str] = set()
        for b in buckets:
            for ck in self._covering_keys(manifest, moduli, b, n):
                e = manifest[ck]
                if ck != str(b):
                    # coarse or finer rebucketing remnant: read it
                    # whole (the value filter below keeps the result
                    # exact); file-range pruning resumes once the
                    # entry re-lands at the current modulus
                    if ck not in seen_coarse:
                        seen_coarse.add(ck)
                        paths.extend(self._entry_paths(e, ck))
                elif isinstance(e, str):
                    paths.append(self._manifest_leaf(e, b))
                else:
                    file_entries.append((b, e["files"]))
        if file_entries:
            # file-granular point read: inside each matched bucket,
            # touch only the files whose key range can hold a
            # requested value (nulls resolve via the null bucket's
            # whole entry — a null never falls in a range)
            nn = [v for v in vals if v is not None]
            if any(v is None for v in vals):
                paths.extend(
                    p for _b, fs in file_entries for p, _mn, _mx in fs
                )
            elif nn:
                hit = self._probe_files_point(
                    spark, nn, key, ktype, n, file_entries
                )
                if hit is None:
                    probe_vals = _local_df(
                        spark,
                        [(v,) for v in nn],
                        f"`{key}` {ktype.simpleString()}",
                    )
                    hit = self._rewrite_files(
                        spark, probe_vals, key, ktype, n, file_entries
                    )
                paths.extend(sorted(hit))
        if not paths:
            return spark.createDataFrame([], st)
        df = spark.read.schema(st).parquet(*paths)
        return self._filter_keys(df, key, vals)

    # literal-probe types whose Python → Spark literal round-trip is
    # trivially exact (no timezone / precision semantics involved) —
    # the point-read fast path below is restricted to these
    _POINT_PROBE_TYPES = frozenset(
        {"tinyint", "smallint", "int", "bigint", "string", "boolean"}
    )

    def _probe_files_point(
        self,
        spark: SparkSession,
        nn: list,
        key: str,
        ktype,
        n_buckets: int,
        file_entries: list[tuple[int, list[list]]],
    ) -> set[str] | None:
        """Point-read twin of :meth:`_rewrite_files` for a DRIVER-SMALL
        non-null probe list: the probe values become one literal array
        and the range intersection runs as a single map-only job over
        the (path, bucket, min, max) local frame — no broadcast
        exchange, no join, one job instead of two (round-12; measured
        ~0.5 s off every store point read). The bucket hash and the
        range projection still evaluate IN Spark, so the pruning
        comparison stays bit-for-bit the writers' (the reason this
        never moved to driver-side Python). Returns None when the
        probe is too large for a literal expression or the key type's
        literal round-trip is not trivially exact — callers fall back
        to the general join path; identical hit sets either way
        (pinned by test)."""
        dtype = ktype.simpleString()
        if dtype not in self._POINT_PROBE_TYPES or len(nn) > 1000:
            return None
        # every _POINT_PROBE_TYPES member has a range domain
        # (_range_proj only lacks one for binary), so no None check
        cast_t = self._range_cast(dtype)
        rngs = [
            (p, b, None if mn is None else str(mn),
             None if mx is None else str(mx))
            for b, files in file_entries
            for p, mn, mx in files
        ]
        if not rngs:
            return set()
        # Build the probe-array literal in as few py4j round-trips as
        # possible: the old per-value F.lit(v).cast(...) chain cost
        # two driver↔JVM calls per probe value (~90 values ≈ a few
        # hundred ms of py4j chatter per point read). A 1-D numpy
        # array ships through ONE lit() call; strings (no numpy
        # literal path) keep the array(*lits) form, still one call
        # per value fewer. The element cast semantics are unchanged.
        import numpy as _np

        from pyspark.sql.types import ArrayType

        if dtype == "string":
            probe_arr = F.array(*[F.lit(v) for v in nn]).cast(
                ArrayType(ktype)
            )
        else:
            np_t = _np.bool_ if dtype == "boolean" else _np.int64
            probe_arr = F.lit(_np.array(nn, dtype=np_t)).cast(
                ArrayType(ktype)
            )
        rdf = _local_df(
            spark, rngs, "f string, b int, mn string, mx string"
        )

        def hits_row(v):
            b = F.pmod(F.xxhash64(v), F.lit(n_buckets)).cast("int")
            pv = self._range_proj(v, dtype)
            return (b == F.col("b")) & pv.between(
                F.col("mn").cast(cast_t), F.col("mx").cast(cast_t)
            )

        return {
            r["f"]
            for r in rdf.where(F.exists(probe_arr, hits_row))
            .select("f")
            .collect()
        }

    @staticmethod
    def _filter_keys(df: DataFrame, key: str, vals: list) -> DataFrame:
        nn = [v for v in vals if v is not None]
        cond = F.col(key).isin(nn) if nn else F.lit(False)
        if len(nn) < len(vals):  # a requested null key
            cond = cond | F.col(key).isNull()
        return df.where(cond)

    def batch_buckets(self, name: str, batch: DataFrame) -> list[int]:
        """The bucket ids a batch's keys hash into under ``name``'s
        CURRENT manifest parameters — the bounded collect (≤ n_buckets
        BY CONSTRUCTION) every O(changes) consumer starts from. One
        tiny distinct job over the batch's key column."""
        info = self.current_info(name)
        if info is None or "manifest" not in info:
            raise FileNotFoundError(
                f"table {name} has no manifest version at head"
            )
        key = info["bucket_key"]
        st = self._schema_of(info)
        if st is not None and key in st.fieldNames():
            # recorded-type cast: xxhash64(int) != xxhash64(bigint) —
            # a sibling-typed probe would silently name wrong buckets
            batch = batch.select(F.col(key).cast(st[key].dataType).alias(key))
        bexpr = self._bucket_expr(key, info["n_buckets"])
        return sorted(
            r["b"] for r in batch.select(bexpr.alias("b")).distinct().collect()
        )

    def null_bucket(self, spark: SparkSession, name: str) -> int:
        """The bucket id null keys hash into under ``name``'s CURRENT
        manifest parameters (xxhash64 of a typed NULL — must run
        through Spark to match the writers bit-for-bit). Null rows of
        a manifest table live ONLY here, so a consumer that needs
        them (e.g. the streaming mart's null-group re-fold) reads one
        bucket, never the table."""
        info = self.current_info(name)
        if info is None or "manifest" not in info:
            raise FileNotFoundError(
                f"table {name} has no manifest version at head"
            )
        st = self._schema_of(info)
        key = info["bucket_key"]
        ktype = st[key].dataType if st is not None else None
        lit = F.lit(None).cast(ktype) if ktype is not None else F.lit(None)
        return (
            spark.range(1)
            .select(
                F.pmod(F.xxhash64(lit), F.lit(info["n_buckets"]))
                .cast("int")
                .alias("b")
            )
            .collect()[0]["b"]
        )

    def read_buckets(
        self,
        spark: SparkSession,
        name: str,
        buckets,
        version: str | None = None,
        of_n_buckets: int | None = None,
        prune_keys: DataFrame | None = None,
    ) -> DataFrame:
        """Read ONLY the named buckets of a manifest version (default:
        the head) under its commit-recorded schema — the bucket-pruned
        slice read behind O(changes) change detection: two versions'
        slices for the batch's buckets cost O(dirty buckets) bytes
        regardless of table size, where a full-version read costs
        O(table) per call. Buckets absent from the manifest contribute
        nothing (an empty frame with the recorded schema when none are
        present). ``version`` is a version name as listed by
        :meth:`versions`; a vacuumed version raises, same contract as
        :meth:`read_version`.

        ``of_n_buckets`` names the modulus the ids are EXPRESSED in
        (default: the target version's own). A caller holding
        head-modulus ids but reading an OLDER version must pass the
        head's n_buckets: after :meth:`split_buckets` the version's
        modulus is coarser, and resolving fine ids against a coarse
        manifest directly would silently miss every bucket (the
        streaming change-detection consumer hits exactly this). Ids
        refine down when the moduli divide; otherwise (a rebootstrap
        at an unrelated n) the read falls back to the full version —
        correct, pruning lost for that call. The result is always
        EXACT: rows are filtered to the requested ids at their own
        modulus.

        ``prune_keys`` (a one-column DataFrame named like the bucket
        key — the streaming change detector's changed-key set) prunes
        FILE-form entries further to the files whose recorded key
        range can hold one of those keys, making the slice read
        O(files containing the keys) instead of O(dirty buckets).
        With it the result is complete only FOR THOSE KEYS (other
        rows of the same buckets may be skipped) — callers semi-join
        by the same keys downstream. A NULL in ``prune_keys`` is
        honored: file ranges never cover a null, so the null bucket's
        files are read WHOLE in that case (mirroring ``read_keys``)
        instead of silently returning an incomplete slice."""
        if version is None:
            payload = self.current_info(name)
            if payload is None:
                raise FileNotFoundError(
                    f"table {name} has no committed version"
                )
        else:
            p = os.path.join(self.root, name, version)
            if not self._backend().data_exists(p):
                raise FileNotFoundError(
                    f"table {name} has no retained version {version!r}"
                )
            payload = self._payload_for(name, p)
        if payload is None or "manifest" not in payload:
            raise ValueError(
                f"table {name}: the requested version is not a manifest "
                "version — there is no bucket metadata to prune with"
            )
        manifest = payload["manifest"]
        n_v = payload["n_buckets"]
        st = self._schema_of(payload)
        backend = self._backend()
        moduli = self._moduli(manifest)
        want = sorted(set(int(x) for x in buckets))
        of_n = of_n_buckets or n_v
        if of_n == n_v:
            lookup = want
        elif of_n % n_v == 0:
            # fine ids refine onto the coarser version modulus
            lookup = sorted({b % n_v for b in want})
        elif n_v % of_n == 0:
            # coarse ids expand onto a finer version modulus
            lookup = sorted(
                {b + k * of_n for b in want for k in range(n_v // of_n)}
            )
        else:
            # unrelated moduli (rebootstrap at an arbitrary n): no
            # pruning possible — read the version whole, filter below
            lookup = None
        exact_filter = of_n != n_v or any(
            "@" in str(k) for k in manifest
        )
        if lookup is None:
            out = self._read_manifest(spark, payload)
            return out.where(
                self._bucket_expr(payload["bucket_key"], of_n).isin(want)
            )
        paths = []
        seen: set[str] = set()
        prune_entries: list[tuple[int, list[list]]] = []
        prune_null_b = None
        if prune_keys is not None and st is not None:
            kcol0 = payload["bucket_key"]
            if prune_keys.where(F.col(kcol0).isNull()).limit(1).count():
                # a requested NULL key: file ranges never cover a
                # null, so its bucket's files must read whole
                prune_null_b = (
                    spark.range(1)
                    .select(
                        F.pmod(
                            F.xxhash64(
                                F.lit(None).cast(st[kcol0].dataType)
                            ),
                            F.lit(n_v),
                        ).cast("int").alias("b")
                    )
                    .collect()[0]["b"]
                )
        for b in lookup:
            for ck in self._covering_keys(manifest, moduli, b, n_v):
                if ck in seen:
                    continue
                seen.add(ck)
                e = manifest[ck]
                if (
                    prune_keys is not None
                    and ck == str(b)
                    and b != prune_null_b
                    and not isinstance(e, str)
                    and st is not None
                ):
                    # fine file-form entry + a key set: file-prune below
                    prune_entries.append((b, e["files"]))
                    continue
                for leaf in self._entry_paths(e, ck):
                    if not backend.data_exists(leaf):
                        raise FileNotFoundError(
                            f"table {name}: bucket {b} of the requested "
                            "version was vacuumed — its carrier data is gone"
                        )
                    paths.append(leaf)
        if prune_entries:
            kcol = payload["bucket_key"]
            hit = self._rewrite_files(
                spark, prune_keys, kcol, st[kcol].dataType, n_v,
                prune_entries,
            )
            for _b, fs in prune_entries:
                for p, _mn, _mx in fs:
                    if p in hit:
                        if not backend.data_exists(p):
                            raise FileNotFoundError(
                                f"table {name}: a requested file of the "
                                "version was vacuumed"
                            )
                        paths.append(p)
        if not paths:
            if st is not None:
                return spark.createDataFrame([], st)
            raise FileNotFoundError(
                f"table {name}: none of the requested buckets exist and "
                "the version records no schema"
            )
        reader = spark.read.schema(st) if st is not None else spark.read
        out = reader.parquet(*paths)
        if exact_filter:
            # coarse remnants / modulus translation pull in neighbor
            # buckets — keep the contract exact with a cheap JVM-side
            # hash filter at the CALLER's modulus
            out = out.where(
                self._bucket_expr(payload["bucket_key"], of_n).isin(want)
            )
        return out

    def upsert_manifest(
        self,
        spark: SparkSession,
        name: str,
        batch: DataFrame,
        update_cols: list[str] | None = None,
        updated_at_col: str | None = None,
        delete_keys: DataFrame | None = None,
    ) -> str:
        """MERGE ``batch`` into a manifest table writing ONLY dirty
        buckets — the O(changes) write path. Plan shape: the batch's
        distinct bucket ids collect to the driver (bounded ≤ n_buckets
        BY CONSTRUCTION, not by contract — the bounded-collect kind);
        only those buckets' files are read; the merge is
        ``merge_on_key(broadcast_batch=True)`` (zero shuffle/sort of
        the slice's existing rows); the rewrite repartitions the
        merged slice on the bucket column so each dirty bucket lands
        as one file. Clean buckets: never read, never written —
        carried into the new manifest by reference.

        Concurrency: the commit CASes against the head observed when
        the manifest was resolved, and a conflict RETRIES the whole
        upsert against the new head (a plain ``write`` can publish
        whole versions unconditionally — each is complete — but a
        read-modify-write of the manifest that lost a race would
        silently re-point the loser's clean buckets at data the
        winner superseded, the same lost-update class the index
        append markers closed). The orphaned loser dir is vacuumable.
        Null-key batch rows insert into the fixed null bucket (see
        ``_bucket_expr``). MERGE semantics are merge_on_key's M2
        contract (update_cols / updated_at_col behave identically).

        ``delete_keys`` (one non-null ``key`` column — the streaming
        tombstone path) additionally DELETES those keys' rows in the
        same version: their buckets/files join the dirty set, the
        merged slice anti-joins them out, and a bucket the deletes
        emptied drops from the manifest. A key in both ``batch`` and
        ``delete_keys`` ends deleted (the tombstone is the batch's
        final word — callers collapse duplicates before the call)."""
        from rialto_airflow_spark.operators.merge import merge_on_key

        from .commitlog import CommitConflict

        store = self._store(name)
        while True:
            seq0 = store.current_seq()
            info = self.current_info(name)
            if info is None or "manifest" not in info:
                raise FileNotFoundError(
                    f"table {name} has no manifest version at head — "
                    "bootstrap with write_manifest (a plain write() head "
                    "can't take O(changes) upserts)"
                )
            manifest, n, key = (
                info["manifest"], info["n_buckets"], info["bucket_key"]
            )
            bexpr = self._bucket_expr(key, n)
            st = self._schema_of(info)
            file_cow = self._file_cow_active(info)
            # probe in the RECORDED key type: xxhash64(int) !=
            # xxhash64(bigint), and union coercion would widen the
            # MERGED rows to the recorded type anyway — an uncast
            # sibling-typed probe names buckets the written rows
            # don't land in (their files would miss the manifest)
            kc = F.col(key)
            if st is not None and key in st.fieldNames():
                kc = kc.cast(st[key].dataType)
            probe = batch.select(kc.alias(key))
            if delete_keys is not None:
                probe = probe.unionByName(
                    delete_keys.select(kc.alias(key)).where(
                        F.col(key).isNotNull()
                    )
                )
            dirty = sorted(
                r["b"]
                for r in probe.select(bexpr.alias("b")).distinct().collect()
            )
            # the slice to READ and rewrite: whole leaf dirs for
            # dir-form entries; for file-form entries only the files
            # whose key range intersects the batch (file-granular COW
            # — the round-11 write-amplification fix: a dirty 6 GB
            # bucket with one matched key rewrites ~one file, not 6 GB).
            # A COARSE entry (b@m — a not-yet-split rebucketing
            # remnant) rewrites and DISSOLVES whole: its rows land
            # under the current fine modulus, an opportunistic split.
            moduli = self._moduli(manifest)
            read_paths: list[str] = []
            carried_files: dict[int, list[list]] = {}
            file_entries: list[tuple[int, list[list]]] = []
            dissolved: set[str] = set()
            for k in dirty:
                for ck in self._covering_keys(manifest, moduli, k, n):
                    e = manifest[ck]
                    if ck != str(k):
                        # coarse OR finer rebucketing remnant: rewrite
                        # + dissolve whole (rows re-land at the current
                        # modulus — an opportunistic split/merge)
                        if ck not in dissolved:
                            dissolved.add(ck)
                            read_paths.extend(self._entry_paths(e, ck))
                    elif isinstance(e, str):
                        read_paths.append(self._manifest_leaf(e, k))
                    else:
                        file_entries.append((k, e["files"]))
            if file_entries:
                ktype = st[key].dataType if st is not None else None
                if ktype is None or not file_cow:
                    # no recorded schema to cast ranges through (or the
                    # table config dropped file COW): read the dirty
                    # buckets whole — correct, coarser, self-healing
                    # back to the config's entry form
                    read_paths.extend(
                        p for _b, fs in file_entries for p, _mn, _mx in fs
                    )
                else:
                    hit = self._rewrite_files(
                        spark, probe, key, ktype, n, file_entries
                    )
                    for b, fs in file_entries:
                        keep = [f for f in fs if f[0] not in hit]
                        read_paths.extend(f[0] for f in fs if f[0] in hit)
                        if keep:
                            carried_files[b] = keep
            if read_paths:
                # recorded-schema read: dirty carriers may predate a
                # column the table has since gained (see _read_manifest)
                reader = spark.read.schema(st) if st is not None else spark.read
                existing = reader.parquet(*read_paths)
            elif st is not None:
                # brand-new buckets only (or an empty bootstrap —
                # e.g. a stream whose first micro-batch was empty):
                # empty slice with the recorded table schema
                existing = spark.createDataFrame([], st)
            elif manifest:
                existing = self._read_manifest(spark, info).limit(0)
            else:
                # legacy empty manifest with no recorded schema: the
                # table holds nothing, so the batch defines the shape
                existing = batch.limit(0)
            merged = merge_on_key(
                existing,
                batch,
                key,
                update_cols=update_cols,
                updated_at_col=updated_at_col,
                broadcast_batch=True,
            )
            if delete_keys is not None:
                merged = merged.join(
                    F.broadcast(
                        delete_keys.select(key).where(F.col(key).isNotNull())
                    ),
                    key,
                    "left_anti",
                )
            self._check_schema_evolution(st, merged.schema, name)
            vdir = store.new_version_path()
            self._write_buckets(
                merged, bexpr, vdir, info.get("sort_cols"),
                info.get("max_file_rows"),
            )
            new_manifest = dict(manifest)
            for ck in dissolved:
                new_manifest.pop(ck, None)
            if file_cow:
                stats = self._file_stats(spark, vdir, key)
                for k in dirty:
                    fs = carried_files.get(k, []) + stats.get(k, [])
                    if fs:
                        new_manifest[str(k)] = {"files": fs}
                    else:
                        new_manifest.pop(str(k), None)
                # buckets beyond `dirty` appear only when a dissolved
                # coarse entry's neighbor rows re-land under the fine
                # modulus — give each its fine entry
                for k in stats:
                    if k not in dirty:
                        new_manifest[str(k)] = {"files": stats[k]}
            else:
                present = set(self._present_buckets(vdir))
                for k in dirty:
                    if k in present:
                        new_manifest[str(k)] = vdir
                    else:
                        # the deletes emptied this bucket entirely (a
                        # pure upsert always re-lands its dirty
                        # buckets; only a tombstone can vacate one)
                        new_manifest.pop(str(k), None)
                for k in present:
                    if k not in dirty:
                        new_manifest[str(k)] = vdir
            payload = {
                "manifest": new_manifest,
                "n_buckets": n,
                "bucket_key": key,
                "schema": merged.schema.json(),
            }
            for cfg in (
                "sort_cols", "max_file_rows", "auto_compact_files",
            ):
                if info.get(cfg):
                    payload[cfg] = info[cfg]
            floor = self._carry_floor(info, new_manifest)
            if floor:
                payload["auto_compact_floor"] = floor
            try:
                store.commit(vdir, extra=payload, expected=seq0)
            except CommitConflict:
                continue  # concurrent manifest writer won; redo on new head
            # file-tail pressure release (recorded table policy, see
            # write_manifest): when this upsert left a dirty bucket
            # listing more than `thresh` files BEYOND its recorded
            # post-compaction floor, fold the tail NOW — a targeted
            # compact_buckets, so a stream with no compact_every
            # cadence still bounds what it accretes. The floor map
            # (written by compact_buckets for buckets whose row count
            # legitimately needs more than `thresh` full files) keeps
            # the trigger self-limiting: such a bucket re-fires only
            # after `thresh` NEW tail files accrete — one fold per
            # `thresh` upserts, amortized O(changes) — instead of a
            # whole-bucket rewrite on every later upsert. Runs after
            # the commit (the upsert's version is complete either
            # way) and never consolidates carriers (max_carriers
            # huge) — only the file-count axis.
            thresh = info.get("auto_compact_files")
            if thresh and file_cow:
                floor = floor or {}  # the revalidated carry above

                def _over(k) -> bool:
                    e = new_manifest.get(str(k))
                    if isinstance(e, (str, type(None))):
                        return False
                    return len(e["files"]) > thresh + floor.get(str(k), 0)

                if any(_over(k) for k in dirty):
                    self.compact_buckets(
                        spark, name,
                        max_carriers=1 << 30,
                        max_files_per_bucket=thresh,
                    )
            return vdir

    def replace_keys_manifest(
        self,
        spark: SparkSession,
        name: str,
        affected_keys: DataFrame,
        fragment: DataFrame,
        extra: dict | None = None,
    ) -> str:
        """Delete-then-insert, O(changes): remove every row whose
        bucket key is in ``affected_keys`` (null-safe — a null group
        is replaceable too), insert ``fragment``, rewriting ONLY the
        buckets either side touches. This is the incremental-MART
        write shape (`plans.marts.incremental_mart_publications_by_
        author` recomputes a fragment per affected DOI and the rest
        of the mart must carry) — where :meth:`upsert_manifest` is
        keyed MERGE, this is keyed REPLACE, and together they cover
        both change-feed consumers. ``affected_keys`` is one column
        named like the table's bucket key; it is O(changes) and
        broadcasts into the slice anti-join. Commit CASes + retries on
        a concurrent manifest writer (see :meth:`upsert_manifest`)."""
        from .commitlog import CommitConflict
        from .functions.perf import materialize_cut

        store = self._store(name)
        # read twice below (dirty-bucket collect, bucket write) and
        # once more by the file-range probe: build it once
        fragment = materialize_cut(fragment)
        while True:
            seq0 = store.current_seq()
            info = self.current_info(name)
            if info is None or "manifest" not in info:
                raise FileNotFoundError(
                    f"table {name} has no manifest version at head — "
                    "bootstrap with write_manifest"
                )
            manifest, n, key = (
                info["manifest"], info["n_buckets"], info["bucket_key"]
            )
            bexpr = self._bucket_expr(key, n)
            st = self._schema_of(info)
            file_cow = self._file_cow_active(info)
            # cast the probe to the RECORDED key type: xxhash64 hashes
            # int and bigint differently, so a caller-supplied key
            # frame of a sibling type would silently resolve to the
            # wrong buckets (rows "replaced" elsewhere than they live)
            kc = F.col(key)
            if st is not None and key in st.fieldNames():
                kc = kc.cast(st[key].dataType)
            keys = affected_keys.select(kc.alias(key)).distinct()
            # the fragment probe casts too: the union with kept rows
            # widens the fragment's key to the recorded type, so the
            # LANDING buckets hash the recorded type — an uncast probe
            # would miss them and the stats-not-in-dirty rebuild below
            # would replace those buckets' entries wholesale
            dirty = sorted(
                {
                    r["b"]
                    for r in keys.select(bexpr.alias("b")).distinct().collect()
                }
                | {
                    r["b"]
                    for r in fragment.select(kc.alias(key))
                    .select(bexpr.alias("b"))
                    .distinct()
                    .collect()
                }
            )
            # file-granular REPLACE: inside a dirty bucket, a carried
            # file need only rewrite when an affected key's range test
            # hits it — fragment-side keys count too (their files gain
            # neighbors in the in-file sort order, so the write must
            # merge them; a missed fragment key would be mere file
            # overlap, but we keep ranges disjoint by construction)
            moduli = self._moduli(manifest)
            read_paths: list[str] = []
            carried_files: dict[int, list[list]] = {}
            file_entries: list[tuple[int, list[list]]] = []
            dissolved: set[str] = set()
            for k in dirty:
                for ck in self._covering_keys(manifest, moduli, k, n):
                    e = manifest[ck]
                    if ck != str(k):
                        # coarse OR finer rebucketing remnant: rewrite
                        # + dissolve whole (rows re-land at the current
                        # modulus — an opportunistic split/merge)
                        if ck not in dissolved:
                            dissolved.add(ck)
                            read_paths.extend(self._entry_paths(e, ck))
                    elif isinstance(e, str):
                        read_paths.append(self._manifest_leaf(e, k))
                    else:
                        file_entries.append((k, e["files"]))
            if file_entries:
                ktype = st[key].dataType if st is not None else None
                if ktype is None or not file_cow:
                    read_paths.extend(
                        p for _b, fs in file_entries for p, _mn, _mx in fs
                    )
                else:
                    probe = keys.unionByName(
                        fragment.select(F.col(key))
                    ).distinct()
                    hit = self._rewrite_files(
                        spark, probe, key, ktype, n, file_entries
                    )
                    # REPLACE deletes null-GROUP rows too (eqNullSafe
                    # anti-join), but file ranges ignore nulls — a
                    # null affected key would silently carry the old
                    # null rows past the delete. Rewrite the null
                    # bucket whole whenever the probe contains a null.
                    if probe.where(F.col(key).isNull()).limit(1).count():
                        null_b = (
                            spark.range(1)
                            .select(
                                F.pmod(
                                    F.xxhash64(
                                        F.lit(None).cast(ktype)
                                    ),
                                    F.lit(n),
                                ).cast("int").alias("b")
                            )
                            .collect()[0]["b"]
                        )
                        hit = hit | {
                            f[0]
                            for b, fs in file_entries
                            if b == null_b
                            for f in fs
                        }
                    for b, fs in file_entries:
                        keep = [f for f in fs if f[0] not in hit]
                        read_paths.extend(f[0] for f in fs if f[0] in hit)
                        if keep:
                            carried_files[b] = keep
            if read_paths:
                reader = spark.read.schema(st) if st is not None else spark.read
                slice_df = reader.parquet(*read_paths)
            elif st is not None:
                slice_df = spark.createDataFrame([], st)
            else:
                slice_df = fragment.limit(0)
            kept = slice_df.join(
                F.broadcast(keys.withColumnRenamed(key, "__rk")),
                slice_df[key].eqNullSafe(F.col("__rk")),
                "left_anti",
            )
            # allowMissingColumns: a fragment gaining a column (mart
            # definition evolved) nulls it on kept rows instead of
            # silently DROPPING it from the fragment; the recorded
            # schema widens with the commit below
            out = kept.unionByName(fragment, allowMissingColumns=True)
            self._check_schema_evolution(st, out.schema, name)
            vdir = store.new_version_path()
            self._write_buckets(
                out, bexpr, vdir, info.get("sort_cols"),
                info.get("max_file_rows"),
            )
            new_manifest = dict(manifest)
            for ck in dissolved:
                new_manifest.pop(ck, None)
            if file_cow:
                stats = self._file_stats(spark, vdir, key)
                for k in dirty:
                    fs = carried_files.get(k, []) + stats.get(k, [])
                    if fs:
                        new_manifest[str(k)] = {"files": fs}
                    else:
                        # the replace emptied this bucket entirely
                        new_manifest.pop(str(k), None)
                # dissolved coarse neighbors re-land under the fine
                # modulus beyond `dirty`
                for k in stats:
                    if k not in dirty:
                        new_manifest[str(k)] = {"files": stats[k]}
            else:
                present = set(self._present_buckets(vdir))
                for k in dirty:
                    if k in present:
                        new_manifest[str(k)] = vdir
                    else:
                        # the replace emptied this bucket entirely
                        new_manifest.pop(str(k), None)
                for k in present:
                    if k not in dirty:
                        new_manifest[str(k)] = vdir
            payload = dict(
                extra or {},
                manifest=new_manifest,
                n_buckets=n,
                bucket_key=key,
                schema=out.schema.json(),
            )
            for cfg in (
                "sort_cols", "max_file_rows", "auto_compact_files",
            ):
                if info.get(cfg):
                    payload[cfg] = info[cfg]
            floor = self._carry_floor(info, new_manifest)
            if floor:
                payload["auto_compact_floor"] = floor
            try:
                store.commit(vdir, extra=payload, expected=seq0)
                return vdir
            except CommitConflict:
                continue  # concurrent manifest writer won; redo on new head

    def _carry_floor(
        self, info: dict, new_manifest: dict
    ) -> dict | None:
        """The auto-compaction floor map REVALIDATED against the
        version being committed: a bucket that shrank below its
        recorded post-compaction floor (delete-heavy rewrite) lowers
        it, one that dropped to/below the threshold — or emptied, or
        dissolved — clears it. Carrying floors verbatim would let a
        shrunken bucket re-fragment to ``thresh + stale-floor`` files
        with no trigger, and a phantom floor on a bucket that emptied
        and later re-formed would suppress compaction of brand-new
        data. Driver-side dict work, O(floor entries ≤ n_buckets)."""
        floor = info.get("auto_compact_floor")
        if not floor:
            return None
        thresh = info.get("auto_compact_files") or 0
        out: dict = {}
        for fk, fl in floor.items():
            e = new_manifest.get(fk)
            if e is None:
                continue  # emptied or dissolved: floor gone with it
            if isinstance(e, str):
                # dir-form entry (file counts unknown here): keep —
                # the config is file-COW for floors to exist at all,
                # so this is a legacy carrier about to self-heal
                out[fk] = fl
                continue
            n_files = len(e["files"])
            if n_files <= thresh:
                continue  # back under threshold: no floor needed
            out[fk] = min(fl, n_files)
        return out or None

    def compact_buckets(
        self,
        spark: SparkSession,
        name: str,
        max_carriers: int = 16,
        max_files_per_bucket: int | None = None,
    ) -> str | None:
        """Consolidate fragmentation, O(fragmentation) not O(table),
        along BOTH axes a long-running manifest table fragments on:

          * CARRIER SPREAD — every upsert adds one version dir, so the
            manifest ends up scattered across up to ``n_buckets``
            carrier dirs (read fan-in, listing cost, vacuum's carrier
            bookkeeping). When the spread exceeds ``max_carriers``,
            the buckets homed in the SMALLEST carriers (fewest
            referencing buckets — the single-bucket upsert tail) are
            rewritten together into one new dir until the spread
            fits; big carriers (the bootstrap dir holding the cold
            majority) carry untouched.
          * FILE COUNT — under file-granular COW each upsert can add a
            file to a bucket's entry; ``max_files_per_bucket`` (opt-in)
            additionally rewrites any bucket whose entry lists more
            files than that, folding its file tail back to
            ``max_file_rows``-sized files.

        ``max_carriers=1`` forces the full bucket-preserving rewrite
        (what :meth:`compact` does for manifest heads). Returns the
        new version dir, or None when nothing exceeds the thresholds
        (no commit made). Commit CASes + retries on a concurrent
        manifest writer (see :meth:`upsert_manifest`)."""
        from .commitlog import CommitConflict

        store = self._store(name)
        while True:
            seq0 = store.current_seq()
            info = self.current_info(name)
            if info is None or "manifest" not in info:
                raise FileNotFoundError(
                    f"table {name} has no manifest version at head"
                )
            manifest, n, key = (
                info["manifest"], info["n_buckets"], info["bucket_key"]
            )
            by_carrier: dict[str, list[str]] = {}
            for k, e in manifest.items():
                for vd in self._entry_carriers(e):
                    by_carrier.setdefault(vd, []).append(k)
            # floor-aware selection: a bucket sitting exactly at its
            # recorded post-compaction floor (row count legitimately
            # needs that many full files) gained nothing — rewriting
            # it on every trigger of some OTHER bucket would re-pay
            # whole-bucket rewrites forever; only an accreted tail
            # (len > max(threshold, floor)) is worth folding
            _floor = info.get("auto_compact_floor") or {}
            frag = {
                k
                for k, e in manifest.items()
                if max_files_per_bucket
                and not isinstance(e, str)
                and len(e["files"])
                > max(max_files_per_bucket, _floor.get(k, 0))
            }
            over_spread = (
                len(by_carrier) > max_carriers or max_carriers <= 1
            )
            if not over_spread and not frag:
                return None
            moved_keys = set(frag)
            if over_spread:
                # consolidate the smallest carriers first; the new dir
                # itself becomes one carrier, so keep max_carriers-1
                # largest
                ordered = sorted(
                    by_carrier.items(), key=lambda kv: len(kv[1])
                )
                keep_n = max(max_carriers - 1, 0)
                moved = (
                    ordered[: len(ordered) - keep_n] if keep_n else ordered
                )
                moved_keys |= {k for _vd, ks in moved for k in ks}
            if not moved_keys:
                return None
            # bucket-sharing closure (round-12 review): the rewrite
            # re-lands rows as per-bucket entries, so every other
            # entry holding rows of a touched bucket must move in the
            # same pass — after merge_buckets a fine entry and finer
            # remnants legitimately share a bucket, and moving one
            # without the others would shadow the carried rows
            moved_keys = sorted(
                self._dissolve_closure(manifest, set(moved_keys), n, n)
            )
            st = self._schema_of(info)
            # recorded-schema read: a consolidated carrier predating a
            # column addition must REWRITE with the column (as nulls) —
            # footer inference here would physically drop it from the
            # compacted files
            reader = spark.read.schema(st) if st is not None else spark.read
            rows = reader.parquet(
                *[
                    p
                    for k in moved_keys
                    for p in self._entry_paths(manifest[k], k)
                ]
            )
            vdir = store.new_version_path()
            self._write_buckets(
                rows, self._bucket_expr(key, n), vdir,
                info.get("sort_cols"), info.get("max_file_rows"),
            )
            # every moved entry is re-homed whole (a moved COARSE
            # rebucketing remnant dissolves into fine entries — the
            # rewrite partitions at the current modulus either way)
            new_manifest = dict(manifest)
            for k in moved_keys:
                new_manifest.pop(k, None)
            if self._file_cow_active(info):
                stats = self._file_stats(spark, vdir, key)
                for k, fs in stats.items():
                    new_manifest[str(k)] = {"files": fs}
            else:
                stats = {}
                for k in self._present_buckets(vdir):
                    new_manifest[str(k)] = vdir
            # carry informational payload fields (e.g. the streaming
            # mart's built_from provenance) — compaction changes the
            # layout, not the table's meaning, and dropping them would
            # silently demote the next incremental refresh to a full
            # repair
            carried = {
                k: v
                for k, v in info.items()
                if k
                not in (
                    "path", "committed_at", "manifest", "n_buckets",
                    "bucket_key", "compacted",
                )
            }
            # post-compaction FLOOR map for the auto-compaction
            # trigger: a rewritten bucket that still exceeds the
            # threshold is at its legitimate row-count floor — record
            # it so upsert_manifest re-fires only after `thresh` NEW
            # tail files accrete, not on every later touch
            thresh0 = info.get("auto_compact_files")
            if thresh0:
                floor = dict(info.get("auto_compact_floor") or {})
                for k, fs in stats.items():
                    floor.pop(str(k), None)
                    if len(fs) > thresh0:
                        floor[str(k)] = len(fs)
                if floor:
                    carried["auto_compact_floor"] = floor
                else:
                    carried.pop("auto_compact_floor", None)
            try:
                store.commit(
                    vdir,
                    extra=dict(
                        carried,
                        manifest=new_manifest,
                        n_buckets=n,
                        bucket_key=key,
                        compacted=True,
                    ),
                    expected=seq0,
                )
                return vdir
            except CommitConflict:
                continue  # concurrent manifest writer won; redo on new head

    def split_buckets(
        self,
        spark: SparkSession,
        name: str,
        factor: int = 1,
        max_splits: int | None = None,
    ) -> str | None:
        """Incremental REBUCKETING — grow ``n_buckets`` without a
        full-table rewrite ("what's missing #3", round 10): a table
        sized at 64 buckets that grew 100× can move to 1024 across a
        few bounded calls instead of one write_manifest over
        everything.

        ``factor`` > 1 multiplies the table's bucket modulus (the new
        write/read resolution takes effect IMMEDIATELY — the
        refinement property pmod(h, n·f) mod n == pmod(h, n) lets
        unsplit entries keep serving reads as COARSE remnants keyed
        ``b@old_n``). Each call then rewrites up to ``max_splits``
        remnants (coarsest first, biggest first within a modulus)
        into fine entries; call again with ``factor=1`` until it
        returns None to finish the migration at your own pace. Rows
        rewritten per call = the chosen remnants' rows PLUS their
        bucket-sharing closure — entries a chosen remnant shares a
        target bucket with must move in the same pass (correctness:
        the new fine entry would shadow them). Mid-way through
        crossing split and merge migrations the closure can pull in
        substantially more than ``max_splits`` entries; the expansion
        is logged at WARNING when it exceeds 2× the chosen set.
        Writers touching a remnant meanwhile split it
        opportunistically (upsert/replace/compact all dissolve coarse
        entries whole), so the migration also completes itself under
        write traffic. Time travel across the boundary keeps working:
        old versions carry their own payloads.

        Returns the new version dir, or None when nothing needed
        splitting (every entry already at the current modulus and
        ``factor`` == 1). Commit CASes + retries like every manifest
        writer."""
        if factor < 1:
            raise ValueError("factor must be >= 1")
        from .commitlog import CommitConflict

        store = self._store(name)
        while True:
            seq0 = store.current_seq()
            info = self.current_info(name)
            if info is None or "manifest" not in info:
                raise FileNotFoundError(
                    f"table {name} has no manifest version at head"
                )
            manifest, n, key = (
                info["manifest"], info["n_buckets"], info["bucket_key"]
            )
            n2 = n * factor
            for k in manifest:
                _b, m = self._parse_entry_key(k)
                m = m if m is not None else n
                if m % n2 and n2 % m:
                    raise ValueError(
                        f"table {name}: entry {k} at modulus {m} is "
                        f"incompatible with target modulus {n2} — "
                        "finish the outstanding migration "
                        "(split_buckets/merge_buckets with factor=1) "
                        "before re-sharding"
                    )
            backend = self._backend()

            def _size(k, e) -> int:
                return sum(
                    backend.data_size(p) for p in self._entry_paths(e, k)
                )

            # remnants = entries coarser than the NEW modulus; under
            # factor>1 that includes every currently-fine entry
            remnants = []
            for k, e in manifest.items():
                b, m = self._parse_entry_key(k)
                m = m if m is not None else n
                if m < n2:
                    remnants.append((m, k, e))
            if not remnants:
                return None
            remnants.sort(key=lambda t: (t[0], -_size(t[1], t[2])))
            chosen = remnants[:max_splits] if max_splits else remnants
            # bucket-sharing closure: a chosen remnant's rows re-land
            # at n2 buckets a carried entry (e.g. a finer remnant from
            # merge_buckets re-keyed to fine at n2) may also hold —
            # rewrite those together or the new entry shadows them
            chosen_keys = self._dissolve_closure(
                manifest, {k for _m, k, _e in chosen}, n, n2
            )
            st = self._schema_of(info)
            reader = spark.read.schema(st) if st is not None else spark.read
            rows = reader.parquet(
                *[
                    p
                    for k in sorted(chosen_keys)
                    for p in self._entry_paths(manifest[k], k)
                ]
            )
            vdir = store.new_version_path()
            self._write_buckets(
                rows, self._bucket_expr(key, n2), vdir,
                info.get("sort_cols"), info.get("max_file_rows"),
            )
            new_manifest: dict = {}
            for k, e in manifest.items():
                if k in chosen_keys:
                    continue
                b, m = self._parse_entry_key(k)
                m = m if m is not None else n
                # re-key carried entries against the NEW modulus
                new_manifest[str(b) if m == n2 else f"{b}@{m}"] = e
            if self._file_cow_active(info):
                stats = self._file_stats(spark, vdir, key)
                for k, fs in stats.items():
                    new_manifest[str(k)] = {"files": fs}
            else:
                for k in self._present_buckets(vdir):
                    new_manifest[str(k)] = vdir
            carried = {
                k: v
                for k, v in info.items()
                if k
                not in (
                    "path", "committed_at", "manifest", "n_buckets",
                    "bucket_key", "compacted",
                    # bucket-id-keyed: stale across a modulus change
                    "auto_compact_floor",
                )
            }
            try:
                store.commit(
                    vdir,
                    extra=dict(
                        carried,
                        manifest=new_manifest,
                        n_buckets=n2,
                        bucket_key=key,
                    ),
                    expected=seq0,
                )
                return vdir
            except CommitConflict:
                continue  # concurrent manifest writer won; redo on new head

    def merge_buckets(
        self,
        spark: SparkSession,
        name: str,
        factor: int = 1,
        max_merges: int | None = None,
    ) -> str | None:
        """Incremental bucket SHRINK — :meth:`split_buckets`' inverse
        (round-11 "what's missing #5": the growth story was
        one-directional). A table over-bucketed at bootstrap, or
        hollowed out by deletes, coalesces to ``n_buckets // factor``
        without a full-table rewrite.

        ``factor`` must divide ``n_buckets``; the modulus drops
        IMMEDIATELY (new writes/reads resolve at the coarse modulus),
        and not-yet-merged entries keep serving reads as FINER
        remnants keyed ``b@old_m`` — pmod refinement works in both
        directions when the moduli divide, and a finer remnant is a
        pure subset of exactly one coarse bucket. Each call then
        folds up to ``max_merges`` coarse buckets (all finer entries
        covering one target bucket rewrite TOGETHER, merged with any
        rows the target already holds — most-fragmented first); call
        again with ``factor=1`` until it returns None to finish at
        your own pace. Writers touching a remnant meanwhile dissolve
        it opportunistically, so the migration also completes itself
        under traffic. Time travel across the boundary keeps working
        (old versions carry their own payloads).

        Moduli from an UNFINISHED split that neither divide nor are
        divided by the target modulus are rejected up front — finish
        that migration first (a remnant whose rows straddle two
        coarse buckets could not serve pruned reads correctly).

        Returns the new version dir, or None when nothing needed
        merging (``factor`` == 1 and no finer remnants). Commit CASes
        + retries like every manifest writer."""
        if factor < 1:
            raise ValueError("factor must be >= 1")
        from .commitlog import CommitConflict

        store = self._store(name)
        while True:
            seq0 = store.current_seq()
            info = self.current_info(name)
            if info is None or "manifest" not in info:
                raise FileNotFoundError(
                    f"table {name} has no manifest version at head"
                )
            manifest, n, key = (
                info["manifest"], info["n_buckets"], info["bucket_key"]
            )
            if n % factor:
                raise ValueError(
                    f"factor {factor} does not divide n_buckets {n}"
                )
            n2 = n // factor
            for k in manifest:
                _b, m = self._parse_entry_key(k)
                m = m if m is not None else n
                if m % n2 and n2 % m:
                    raise ValueError(
                        f"table {name}: entry {k} at modulus {m} is "
                        f"incompatible with target modulus {n2} — "
                        "finish the outstanding migration "
                        "(split_buckets/merge_buckets with factor=1) "
                        "before re-sharding"
                    )
            # finer entries grouped by the coarse bucket they refine
            # onto
            groups: dict[int, list[str]] = {}
            for k in manifest:
                b, m = self._parse_entry_key(k)
                m = m if m is not None else n
                if m > n2:
                    groups.setdefault(b % n2, []).append(k)
            if not groups and n2 == n:
                return None
            ordered = sorted(
                groups.items(), key=lambda kv: (-len(kv[1]), kv[0])
            )
            chosen = ordered[:max_merges] if max_merges else ordered
            # bucket-sharing closure: the target bucket's OTHER rows
            # (an entry at n2, or anything else covering it) must
            # merge into the same rewrite or the new fine entry would
            # silently shadow them
            chosen_keys = self._dissolve_closure(
                manifest, {k for _j, ks in chosen for k in ks}, n, n2
            )
            st = self._schema_of(info)
            reader = spark.read.schema(st) if st is not None else spark.read
            vdir = store.new_version_path()
            if chosen_keys:
                rows = reader.parquet(
                    *[
                        p
                        for k in sorted(chosen_keys)
                        for p in self._entry_paths(manifest[k], k)
                    ]
                )
            elif st is not None:
                rows = spark.createDataFrame([], st)
            else:
                return None  # nothing to move, no schema to stamp
            self._write_buckets(
                rows, self._bucket_expr(key, n2), vdir,
                info.get("sort_cols"), info.get("max_file_rows"),
            )
            new_manifest: dict = {}
            for k, e in manifest.items():
                if k in chosen_keys:
                    continue
                b, m = self._parse_entry_key(k)
                m = m if m is not None else n
                # re-key carried entries against the NEW modulus
                new_manifest[str(b) if m == n2 else f"{b}@{m}"] = e
            if self._file_cow_active(info):
                stats = self._file_stats(spark, vdir, key)
                for k, fs in stats.items():
                    new_manifest[str(k)] = {"files": fs}
            else:
                for k in self._present_buckets(vdir):
                    new_manifest[str(k)] = vdir
            carried = {
                k: v
                for k, v in info.items()
                if k
                not in (
                    "path", "committed_at", "manifest", "n_buckets",
                    "bucket_key", "compacted",
                    # bucket-id-keyed: stale across a modulus change
                    "auto_compact_floor",
                )
            }
            try:
                store.commit(
                    vdir,
                    extra=dict(
                        carried,
                        manifest=new_manifest,
                        n_buckets=n2,
                        bucket_key=key,
                    ),
                    expected=seq0,
                )
                return vdir
            except CommitConflict:
                continue  # concurrent manifest writer won; redo on new head

    def _vacuum_manifest(
        self,
        name: str,
        keep: int,
        older_than_s: float | None,
        orphan_grace_s: float,
        history: list[tuple[int, dict]],
    ) -> list[str]:
        """Bucket-granular vacuum for tables with manifest versions.
        Retention DECISIONS mirror ``VersionedStore.vacuum`` (newest
        ``keep`` + current + age/orphan/snapshot protection); the
        difference is what deletion means: a version dir a KEPT
        manifest still references survives as a carrier with only its
        unreferenced bucket dirs reclaimed. Returns fully-deleted
        version dirs (partial bucket reclaims don't count — the dir
        still exists for listings)."""
        import time as _time

        store = self._store(name)
        backend = self._backend()
        first_commit: dict[str, tuple[int, float | None, dict]] = {}
        for seq, payload in history:
            p = payload.get("path")
            if p and p not in first_commit:
                first_commit[p] = (seq, payload.get("committed_at"), payload)

        def committed_at(p: str) -> float | None:
            hit = first_commit.get(p)
            if hit is not None and hit[1] is not None:
                return float(hit[1])
            return store._name_timestamp(p)

        vs = store.versions()
        current = store.current_path()
        pinned = {_canon(p) for p in self._snapshot_pinned(name)}
        now = _time.time()
        cutoff = now - older_than_s if older_than_s is not None else None
        orphan_cutoff = now - max(orphan_grace_s, older_than_s or 0.0)

        deletable = []
        for v in (
            [v for v in vs if _canon(v["path"]) not in pinned][:-keep]
            if keep
            else [v for v in vs if _canon(v["path"]) not in pinned]
        ):
            p = v["path"]
            if current and _canon(p) == _canon(current):
                continue
            ts = committed_at(p)
            if not v["committed"]:
                if orphan_grace_s and (ts is None or ts > orphan_cutoff):
                    continue
            if cutoff is not None and ts is not None and ts > cutoff:
                continue
            deletable.append(v)

        # what every KEPT version still needs, per carrier dir: whole
        # leaf dirs (dir-form entries, value True) or specific files
        # within a leaf (file-form entries, value = filename set) —
        # vacuum granularity matches write granularity
        deletable_paths = {_canon(v["path"]) for v in deletable}
        needed: dict[str, dict[str, object]] = {}
        for v in vs:
            p = v["path"]
            if _canon(p) in deletable_paths:
                continue
            hit = first_commit.get(p)
            payload = hit[2] if hit else None
            if payload and "manifest" in payload:
                for k, e in payload["manifest"].items():
                    if isinstance(e, str):
                        b, _m = self._parse_entry_key(k)
                        needed.setdefault(_canon(e), {})[
                            f"{self._BUCKET_COL}={b}"
                        ] = True
                    else:
                        for fp, _mn, _mx in e["files"]:
                            carrier = os.path.dirname(os.path.dirname(fp))
                            leaf = os.path.basename(os.path.dirname(fp))
                            byleaf = needed.setdefault(_canon(carrier), {})
                            cur = byleaf.get(leaf)
                            if cur is True:
                                continue
                            if cur is None:
                                cur = set()
                                byleaf[leaf] = cur
                            cur.add(os.path.basename(fp))

        removed = []
        for v in deletable:
            p = v["path"]
            need = needed.get(_canon(p), {})
            if not need:
                backend.delete_data(p)
                removed.append(p)
                continue
            for leaf in backend.list_data(p):
                if not leaf.startswith(f"{self._BUCKET_COL}="):
                    continue
                lv = need.get(leaf)
                if lv is True:
                    continue  # whole leaf still referenced
                leafpath = os.path.join(p, leaf)
                if lv is None:
                    backend.delete_data(leafpath)
                else:
                    # file-granular reclaim: only this leaf's
                    # unreferenced data files go
                    for f in backend.list_data_files(leafpath):
                        if f not in lv and not f.startswith(("_", ".")):
                            backend.delete_data(os.path.join(leafpath, f))

        # bound the log: keep entries from the first commit of the
        # oldest RETAINED-AS-VERSION dir onward. Anchoring at surviving
        # DIRS would be wrong here: a carrier (the bootstrap dir whose
        # cold buckets every head references — compact_buckets
        # deliberately leaves the biggest carrier in place) survives
        # indefinitely, and anchoring at its seq (~1) makes pruning a
        # permanent no-op — a 10-second-trigger stream would accrete
        # one commit entry per micro-batch forever, the unbounded
        # object-store LIST retention exists to prevent. Demoted
        # carriers need no payload: nothing resolves them as versions
        # (enforced by _assert_not_carrier), and their buckets are
        # pinned by the KEPT versions' manifests, whose entries this
        # keeps.
        if removed or deletable:
            demoted = {_canon(v["path"]) for v in deletable}
            kept_seqs = [
                seq
                for p, (seq, _ts, _pl) in first_commit.items()
                if _canon(p) not in demoted and backend.data_exists(p)
            ]
            if kept_seqs:
                store.log.prune(min(kept_seqs))
        return removed


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 64,
    path: str | None = None,
) -> None:
    """Bucketed saveAsTable for merge-key co-location: both sides of
    a MERGE/self-join on ``bucket_col`` read pre-shuffled data, so
    Catalyst plans a shuffle-free SortMergeJoin. Use for the
    publication table keyed by doi at real scale. ``path`` makes the
    table external at that location (bucketing metadata still lives
    in the catalog — bucketed reads require reading via the table
    name, not the path)."""
    writer = (
        df.write.mode("overwrite")
        .bucketBy(num_buckets, bucket_col)
        .sortBy(bucket_col)
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    num_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Range-clustered layout for min/max data skipping: global
    ``repartitionByRange`` on ``sort_cols`` (disjoint value ranges per
    output file, via a sampled range exchange — no single-task global
    sort) + ``sortWithinPartitions`` so every parquet row group's
    min/max statistics cover a narrow slice.

    Why this matters at 100 TB: parquet readers (Spark included) skip
    whole row groups whose column statistics exclude the predicate.
    After this layout, a time- or key-range query touches only the
    files whose range intersects it — the poor man's Z-order, and the
    right clustering for the dominant predicate column (pub_year,
    event ts, doc_id). Combine with ``partitionBy`` for the coarse
    directory level and this for the fine row-group level.
    """
    (
        df.repartitionByRange(num_files, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode(mode)
        .parquet(path)
    )


def _zorder_numeric(col, dtype: str):
    """Project a column to an ORDER-PRESERVING double for quantile
    bucketing (order preservation is what makes the clustered files'
    min/max footers prunable on the original column — a hash would
    cluster fine but spread every file's min/max across the whole
    domain, silently killing pruning):

      * numerics/booleans/timestamps cast directly;
      * date via ``unix_date`` and timestamp_ntz via a timestamp hop
        (neither casts to double directly — Spark rejects both);
      * strings/binary order by their first-8-byte prefix: hex-encode,
        right-pad the hex to 16 with '0' (so shorter strings sort
        before their extensions, matching byte order), and read it as
        a base-16 number. Values sharing an 8-byte prefix land in the
        same bucket — exact order within a bucket doesn't matter for
        clustering.
    """
    from pyspark.sql import functions as F

    if dtype == "date":
        return F.unix_date(col).cast("double")
    if dtype == "timestamp_ntz":
        return col.cast("timestamp").cast("double")
    numericish = (
        dtype.startswith(("decimal", "tinyint", "smallint", "int", "bigint"))
        or dtype in ("float", "double", "timestamp", "boolean")
    )
    if numericish:
        return col.cast("double")
    raw = col if dtype == "binary" else F.encode(col.cast("string"), "UTF-8")
    return F.conv(
        F.rpad(F.substring(F.hex(raw), 1, 16), 16, "0"), 16, 10
    ).cast("double")


def zorder_key(df: DataFrame, cols: list, bits: int = 10, relative_error: float | None = None):
    """Morton (Z-order) key over 2+ rank-normalized columns: each
    column is quantile-bucketed into ``2**bits`` levels, then the
    bucket bits are interleaved so points close in EVERY dimension get
    close keys. Returns a Column (bigint) to attach to ``df``.

    Rank normalization is SAMPLED, not windowed: one
    ``approxQuantile`` pass over all columns at once (Greenwald-Khanna
    on the executors; the driver holds ~``2**bits`` doubles per
    column), then bucket assignment runs map-side as a single
    size(filter(boundaries, b -> b <= value)) over the boundary array
    literal — no window, no ``Exchange SinglePartition``, no shuffle.
    This is the same trick Delta's OPTIMIZE ZORDER uses for its
    range-partition ids: sampled boundaries, never a global sort.
    Total key width = len(cols)·bits ≤ 63. NULLs land in bucket 0.

    COST SCALES WITH 2**bits (quantile probs computed, boundary
    literals embedded in the plan, comparisons per row) — the default
    10 (1024 buckets ≈ Delta's 1000-way range split) is the sane
    ceiling; raising it past ~12 buys no extra file pruning (you
    can't have more buckets than output files benefit from) and
    bloats codegen.
    """
    from pyspark.sql import functions as F

    n = len(cols)
    assert n * bits <= 63, "z-key must fit a signed bigint"
    levels = 1 << bits
    if relative_error is None:
        # a quarter-bucket: adjacent bucket boundaries stay distinct,
        # and the GK sketch stays small on the executors
        relative_error = 0.25 / levels

    def _dtype(col) -> str:
        # schema analysis only — no job
        return df.select(col.alias("__zt")).schema[0].dataType.simpleString()

    raw = [F.col(c) if isinstance(c, str) else c for c in cols]
    dtypes = [_dtype(c) for c in raw]

    # one projected frame + ONE approxQuantile job for every column
    proj_names = [f"__zq{i}" for i in range(n)]
    proj = df.select(
        *[
            _zorder_numeric(raw[i], dtypes[i]).alias(proj_names[i])
            for i in range(n)
        ]
    )
    probs = [i / levels for i in range(1, levels)]
    all_bounds = proj.stat.approxQuantile(proj_names, probs, relative_error)

    key = F.lit(0).cast("long")
    for ci in range(n):
        val = _zorder_numeric(raw[ci], dtypes[ci])
        bounds = all_bounds[ci]
        # strictly increasing boundary array (duplicate quantile
        # values collapse into one — empty buckets are harmless)
        uniq = []
        for b in bounds:
            if not uniq or b > uniq[-1]:
                uniq.append(b)
        arr = F.array(*[F.lit(float(b)) for b in uniq])
        # bucket = #(boundaries <= value): a single higher-order
        # filter over the boundary array literal — O(2**bits) cheap
        # JVM-side double comparisons per row, constant expression
        # size (a binary-search formulation would duplicate the array
        # literal exponentially in the expression tree)
        pos = F.size(F.filter(arr, lambda x: x <= val))
        bucket = F.when(val.isNull(), F.lit(0)).otherwise(pos).cast("long")
        for b in range(bits):
            src_bit = F.shiftright(bucket, b).bitwiseAND(F.lit(1))
            dst = b * n + ci
            key = key.bitwiseOR(F.shiftleft(src_bit, dst))
    return key


def zordered_plan(
    df: DataFrame,
    cols: list,
    num_files: int = 8,
    bits: int = 10,
) -> DataFrame:
    """The pre-write Z-order clustering plan (exposed so tests can pin
    its shape): key → sampled range exchange → within-partition sort.
    Contains NO ``Exchange SinglePartition`` and no Window — the key
    is a pure map-side expression over driver-collected boundaries."""
    return (
        df.withColumn("__z", zorder_key(df, cols, bits))
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list,
    num_files: int = 8,
    bits: int = 10,
    mode: str = "overwrite",
) -> None:
    """Multi-column data-skipping layout: cluster rows by their
    Z-order key so parquet min/max statistics prune on EVERY clustered
    column, not just the first sort key — the practical difference
    between ``write_sorted(a)`` (perfect pruning on a, none on b) and
    Z-order (good pruning on both).

    Scale shape: one extra ``approxQuantile`` scan at write time
    (fully parallel, mergeable GK sketches; driver receives only
    ~``2**bits`` doubles per clustered column), then the write itself
    pays exactly what ``write_sorted`` pays — a sampled range
    exchange. No step funnels the data through a single task.
    """
    zordered_plan(df, cols, num_files, bits).write.mode(mode).parquet(path)

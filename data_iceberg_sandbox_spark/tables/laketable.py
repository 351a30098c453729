"""Snapshot-versioned lakehouse tables over parquet ("LakeTable").

Re-expresses the reference's Iceberg table lifecycle (SURVEY §2.1-2.8;
reference: etl/src/apps/load_people/create_table.py:92-104 partitioned
create + mergeInto; etl/src/apps/analytics/count_clients.py:29-44 keyed
upsert + identifier fields; infra/README.md:85 snapshots & compaction;
etl/dbtrisingwave/models/finance/sink_iceberg_fraud_alerts_client.sql:23-26
compaction cadence + retain-last-5 snapshot expiry) as a self-contained
Spark-first layer — the image ships no Iceberg runtime jar (when one is
present, session.py wires the real `SparkCatalog` instead).

Design — a deliberately small subset of the Iceberg spec:

    <warehouse>/<namespace>/<table>/
        data/<commit-uuid>/...parquet      immutable data files
        _manifests/v<N>.json               immutable snapshot manifests
        _manifests/.lock                   the table lock (flock)
        _current                           pointer file, atomic os.replace
        tags.json                          tag refs

A manifest lists the *complete* file set of its snapshot plus schema,
partition spec, properties, operation and parent version. Readers resolve
``_current`` (or an explicit version / timestamp → time travel, D6) and
hand the file list to ``spark.read.parquet(*files)`` — listing is
O(manifest), not O(directory). Partition values are recovered via
``basePath`` so Catalyst still prunes hive-style partition directories;
a partitioned table scans once per commit dir (see ``_scan_base``).

Commits are optimistic: writers stage data files under a fresh uuid
dir, in parallel and unlocked. Then, holding the table lock (``_lock``,
an ``flock`` on ``_manifests/.lock``), a commit checks that ``_current``
still names the version it read, writes manifest v(N+1) and swings
``_current`` to it. A commit whose parent moved raises
``CommitConflict`` (retry at the caller, same contract as Iceberg's
catalog swap). The lock covers metadata steps only, never a Spark job,
and the kernel releases a dead holder's lock at once. So a v(N+1).json
ahead of the pointer is a dead writer's debris: readers never see it
and the next commit overwrites it.

Scale notes (100 TB): data-file writes are plain distributed parquet
writes (no driver data path); MERGE is copy-on-write implemented as ONE
full outer join of target and source shuffled on the merge key — the
shape Spark's ``RewriteMergeIntoTable`` plans for Iceberg's COW MERGE —
so the source is read once. Manifest JSON on the driver holds file
paths only; at 100 TB with ~1 GB files that's ~10^5 entries — fine. Compaction
(D7) and snapshot expiry (D8) mirror ``rewrite_data_files`` /
``expire_snapshots`` procedures.
"""

from __future__ import annotations

import fcntl
import functools
import json
import math
import os
import shutil
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field, replace as _dc_replace

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


# How long a writer waits for the table lock before raising
# CommitConflict (module-level so tests can shrink it).
LOCK_WAIT_SEC = 10.0


class CommitConflict(RuntimeError):
    """Another writer committed since this snapshot was read."""


class NoSuchTable(RuntimeError):
    pass


class MergeCardinalityError(RuntimeError):
    """MERGE source matched a target row more than once (Iceberg
    cardinality contract: each target row may match at most one source
    row; duplicate source keys would silently fan out the target)."""


class IncrementalReadError(RuntimeError):
    """The snapshot range contains a non-append commit: its file delta
    rewrites existing rows, so it is not an append changelog (Iceberg's
    incremental scan has the same appends-only restriction)."""


def _scan_base(f: str) -> str:
    """The ``basePath`` (relative to the table root) a data file scans
    under. Unpartitioned files all share ``data``. A partitioned file
    (hive ``k=v`` dirs below its commit dir ``data/<commit>/``) scans
    under its commit dir: Spark's partition discovery rejects a
    non-``k=v`` level between basePath and the partition dirs
    (CONFLICTING_DIRECTORY_STRUCTURES). One commit writes one partition
    layout, so grouping by base also keeps the mixed layouts of a
    partition-spec evolution in separate scans."""
    parts = f.split("/")
    return "/".join(parts[:2]) if any("=" in p for p in parts[2:-1]) else parts[0]


@dataclass
class Manifest:
    version: int
    parent: int | None
    operation: str
    timestamp_ms: int
    schema_json: str
    partition_by: list[str]
    files: list[str]  # relative to table root
    properties: dict[str, str] = field(default_factory=dict)
    # per-file column ranges for scan pruning: path → col → [min, max]
    # (numeric/string columns; Iceberg manifest-stats analog)
    file_stats: dict[str, dict[str, list]] = field(default_factory=dict)
    # merge-on-read equality deletes (Iceberg v2 analog): sidecar path →
    # sequence number; a sidecar suppresses matching rows in every data
    # file whose own sequence is STRICTLY BELOW the sidecar's — so rows
    # appended after the delete, or written by the sidecar's own
    # upsert commit, are never suppressed by it
    delete_files: dict[str, int] = field(default_factory=dict)
    # data file → sequence (the version that first added it); files from
    # manifests predating this field default to their manifest's version
    file_seq: dict[str, int] = field(default_factory=dict)

    def to_json(self) -> str:
        return json.dumps(self.__dict__, sort_keys=True)

    @staticmethod
    def from_json(s: str) -> "Manifest":
        d = json.loads(s)
        d.pop("writer", None)  # per-commit fence of older manifests
        return Manifest(**d)


class LakeTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    # ---- paths -----------------------------------------------------------
    @property
    def _manifest_dir(self) -> str:
        return os.path.join(self.root, "_manifests")

    @property
    def _current_path(self) -> str:
        return os.path.join(self.root, "_current")

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._manifest_dir, f"v{version}.json")

    # ---- snapshot access -------------------------------------------------
    def exists(self) -> bool:
        return os.path.exists(self._current_path)

    def current_version(self) -> int:
        if not self.exists():
            raise NoSuchTable(self.root)
        with open(self._current_path, encoding="utf-8") as f:
            return int(f.read().strip())

    def manifest(self, version: int | None = None) -> Manifest:
        """The manifest of snapshot ``version`` (default: current). A
        version above the pointer was never committed (see
        :meth:`snapshots`) and raises NoSuchTable like an expired one."""
        cur = self.current_version()
        v = cur if version is None else version
        path = self._manifest_path(v)
        if v > cur or not os.path.exists(path):
            raise NoSuchTable(f"snapshot v{v} of {self.root} (expired or absent)")
        with open(path, encoding="utf-8") as f:
            return Manifest.from_json(f.read())

    def snapshots(self) -> list[Manifest]:
        """D6 snapshot metadata (like Iceberg's `t.snapshots` table).

        Only versions at or below the current pointer are snapshots: a
        v(N+1).json with the pointer still at N is the debris of a
        writer that died between the manifest write and the pointer
        swing. It was never committed, so it is not time-travel-visible
        and does not count toward expire_snapshots' retain window; the
        next commit overwrites it."""
        if not self.exists():
            return []
        cur = self.current_version()
        out = []
        for fn in os.listdir(self._manifest_dir):
            if fn.startswith("v") and fn.endswith(".json") and int(fn[1:-5]) <= cur:
                with open(os.path.join(self._manifest_dir, fn), encoding="utf-8") as f:
                    out.append(Manifest.from_json(f.read()))
        return sorted(out, key=lambda m: m.version)

    def version_as_of_timestamp(self, ts_ms: int) -> int:
        """D6 `TIMESTAMP AS OF` resolution."""
        eligible = [m.version for m in self.snapshots() if m.timestamp_ms <= ts_ms]
        if not eligible:
            raise NoSuchTable(f"no snapshot of {self.root} at/before {ts_ms}")
        return max(eligible)

    # ---- read ------------------------------------------------------------
    def read(
        self,
        version: int | None = None,
        as_of_timestamp_ms: int | None = None,
        prune: list[tuple[str, str, object]] | None = None,
    ) -> DataFrame:
        """S1 scan / D6 time travel.

        `prune` = [(col, op, value), ...] with op in <,<=,>,>=,= —
        manifest-stats file skipping (the Iceberg min/max-pruning
        analog): files whose [min,max] range cannot satisfy every
        predicate are dropped from the scan BEFORE Spark lists them.
        Purely an optimization — callers still apply the real filter;
        a file without stats is conservatively kept."""
        if as_of_timestamp_ms is not None:
            version = self.version_as_of_timestamp(as_of_timestamp_ms)
        man = self.manifest(version)
        return self._scan_manifest(man, prune)

    def _scan_manifest(
        self,
        man: "Manifest",
        prune: list[tuple[str, str, object]] | None = None,
    ) -> DataFrame:
        """Shared scan body for read() and read_branch(): file pruning
        and merge-on-read delete application."""
        schema = T.StructType.fromJson(json.loads(man.schema_json))
        files = man.files
        if prune:
            files = [
                f for f in files if _file_may_match(man.file_stats.get(f), prune)
            ]
        if not files:
            return self.spark.createDataFrame([], schema)
        if not man.delete_files:
            return self._scan_files(schema, files)
        cols = [f.name for f in schema.fields]
        # Merge-on-read: group data files by the equality-delete
        # sidecars that apply to them (file seq < sidecar seq) and LEFT
        # ANTI join each group with its sidecars — the Iceberg v2 read
        # shape. The anti-join is unhinted: the sidecar is a plain
        # parquet scan Spark sizes from its files, so a usual (tiny) one
        # broadcasts and a bulk delete/upsert's huge one is planned as a
        # shuffle join instead of blowing the broadcast limit. Files
        # appended after a delete carry a higher seq, so re-inserted
        # keys are never suppressed by older deletes.
        groups: dict[tuple, list[str]] = {}
        for f in files:
            fseq = man.file_seq.get(f, man.version)
            dels = tuple(sorted(d for d, ds in man.delete_files.items() if fseq < ds))
            groups.setdefault(dels, []).append(f)
        parts = []
        for dels, flist in groups.items():
            df = self._scan_files(schema, flist)
            for d in dels:
                keys = self.spark.read.parquet(os.path.join(self.root, d))
                missing = [c for c in keys.columns if c not in cols]
                if missing:
                    raise RuntimeError(
                        f"equality-delete sidecar {d} references dropped "
                        f"column(s) {missing}; compact() before dropping "
                        "delete-key columns"
                    )
                df = df.join(keys, on=list(keys.columns), how="left_anti")
            parts.append(df)
        return functools.reduce(DataFrame.unionByName, parts)

    def read_incremental(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Iceberg-style incremental append scan: the rows ADDED by the
        snapshots in ``(from_version, to_version]`` (to defaults to
        current) — the CDC feed a downstream consumer reads to catch up
        from a checkpointed version.

        Scans ONLY each snapshot's newly-added files (set difference vs
        its parent manifest), never the table history — at 100 TB a
        catch-up of 3 appends reads 3 appends' worth of data, not the
        table. A commit counts as an append by what it did, not by its
        name (:func:`_only_adds`): appends, branch fast-forwards and
        WAP publishes, and metadata-only commits (schema evolution,
        property changes), which add no files and pass through. Raises
        :class:`IncrementalReadError` if the range holds any other
        commit: one that drops files (merge/overwrite/delete/compact
        rewrite rows in place) or changes the delete sidecars (a
        merge-on-read delete or upsert suppresses existing rows) — its
        delta is not an append changelog, and Iceberg's incremental
        scan has the same restriction. Raises :class:`NoSuchTable` if a
        manifest in the range was expired."""
        to_v = self.current_version() if to_version is None else to_version
        if to_v < from_version:
            raise ValueError(f"to_version {to_v} < from_version {from_version}")
        prev = self.manifest(from_version)
        new_files: list[str] = []
        for v in range(from_version + 1, to_v + 1):
            man = self.manifest(v)
            if not _only_adds(man, prev):
                raise IncrementalReadError(
                    f"snapshot v{v} is a '{man.operation}' commit; "
                    "incremental read supports appends only"
                )
            new_files.extend(_added_files(man, prev))
            prev = man
        return self._scan_file_subset(prev, new_files)

    def _scan_files(self, schema: T.StructType, flist: list[str]) -> DataFrame:
        """Distributed scan over a concrete file list, one parquet scan
        per :func:`_scan_base` (a single one for an unpartitioned
        table); column order pinned to the table schema."""
        groups: dict[str, list[str]] = {}
        for f in flist:
            groups.setdefault(_scan_base(f), []).append(f)
        parts = [
            self.spark.read.schema(schema)
            .option("basePath", os.path.join(self.root, base))
            .parquet(*[os.path.join(self.root, f) for f in fs])
            .select([f.name for f in schema.fields])
            for base, fs in groups.items()
        ]
        return functools.reduce(DataFrame.unionByName, parts)

    def _scan_file_subset(self, man: "Manifest", files: list[str]) -> DataFrame:
        """Scan a manifest file subset without applying its delete
        sidecars (file-delta diffs and COW rewrites of chosen files)."""
        schema = T.StructType.fromJson(json.loads(man.schema_json))
        if not files:
            return self.spark.createDataFrame([], schema)
        return self._scan_files(schema, files)

    # Commits whose rewrite is row-identical by construction: they
    # re-shape files (clustering, sizing, partition layout) or
    # materialize already-visible deletes without changing table
    # CONTENT, so they contribute no changelog rows.
    _REWRITE_OPS = frozenset(
        {"compact", "rewrite-sorted", "rewrite-zorder", "evolve-partition"}
    )

    def changes_between(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Row-level CDC changelog for ``(from_version, to_version]`` —
        the Iceberg ``create_changelog_view`` / Delta Change Data Feed
        analog: every table column plus ``_change_type``
        ('insert' | 'delete'; an update surfaces as its delete+insert
        pair) and ``_commit_version``. Unlike :meth:`read_incremental`
        (appends only), this replays EVERY commit kind.

        Cost model, per commit in the range — sized for 100 TB tables.
        A commit is classified by its file delta, not its name:
        - compact / clustering rewrites / partition-spec evolution
          (``_REWRITE_OPS``): row-identical by construction — skipped,
          no scan at all.
        - commits that only add files (:func:`_only_adds`: create,
          append, branch fast-forward, WAP publish; metadata-only
          commits add nothing): scans ONLY the added files.
        - any other commit with no live equality sidecars on either
          side (copy-on-write merge/delete/overwrite, rollback): net
          multiset diff (``exceptAll``) of the commit's FILE DELTA —
          unchanged files are never read, and rewritten-but-identical
          rows cancel out of the changelog.
        - the rest (merge-on-read commits, COW under live sidecars):
          multiset diff of the two adjacent snapshot reads. Equality
          sidecars store KEYS, not rows — recovering deleted row
          content inherently re-reads the rows they erased (Iceberg's
          changelog for equality deletes pays the same).

        Raises :class:`IncrementalReadError` if the range crosses a
        schema change (one frame cannot carry two schemas — split the
        range at that version) and :class:`NoSuchTable` if a manifest
        in the range was expired."""
        to_v = self.current_version() if to_version is None else to_version
        if to_v < from_version:
            raise ValueError(
                f"to_version {to_v} < from_version {from_version}"
            )
        if from_version == 0:
            # versions start at 1 (create); from=0 means "from the
            # empty table", so the create commit itself is in range.
            # Schema/partitioning for the synthetic empty base come from
            # the FIRST LIVE manifest ≤ to_v (v1 itself may be expired;
            # r12 review — the old expression was an obfuscated
            # manifest(1) that failed after expiry).
            first = next(
                (m for m in self.snapshots() if m.version <= to_v),
                None,
            ) or self.manifest(to_v)
            base = Manifest(
                version=0,
                parent=None,
                operation="empty",
                timestamp_ms=0,
                schema_json=first.schema_json,
                partition_by=first.partition_by,
                files=[],
            )
        else:
            base = self.manifest(from_version)
        schema = T.StructType.fromJson(json.loads(base.schema_json))
        out_schema = T.StructType(
            list(schema.fields)
            + [
                T.StructField("_change_type", T.StringType(), False),
                T.StructField("_commit_version", T.IntegerType(), False),
            ]
        )

        def _tag(df: DataFrame, kind: str, v: int) -> DataFrame:
            return df.select(
                *[f.name for f in schema.fields],
                F.lit(kind).alias("_change_type"),
                F.lit(v).cast("int").alias("_commit_version"),
            )

        parts: list[DataFrame] = []
        prev_man = base
        for v in range(from_version + 1, to_v + 1):
            man = self.manifest(v)
            if man.schema_json != base.schema_json:
                raise IncrementalReadError(
                    f"snapshot v{v} ({man.operation}) changes the table "
                    "schema; a changelog across schema versions is not "
                    f"representable as one frame — split the range at v{v}"
                )
            if man.operation in self._REWRITE_OPS:
                pass  # row-identical: no changelog rows, no scan
            elif _only_adds(man, prev_man):
                adds = _added_files(man, prev_man)
                if adds:
                    parts.append(
                        _tag(self._scan_file_subset(man, adds), "insert", v)
                    )
            elif not (man.delete_files or prev_man.delete_files):
                # the file delta: man's added files against the dropped
                # ones (the files prev_man "adds" over man)
                a = self._scan_file_subset(man, _added_files(man, prev_man))
                d = self._scan_file_subset(prev_man, _added_files(prev_man, man))
                parts.append(_tag(a.exceptAll(d), "insert", v))
                parts.append(_tag(d.exceptAll(a), "delete", v))
            else:
                cur_df = self._scan_manifest(man)
                old_df = self._scan_manifest(prev_man)
                parts.append(_tag(cur_df.exceptAll(old_df), "insert", v))
                parts.append(_tag(old_df.exceptAll(cur_df), "delete", v))
            prev_man = man
        if not parts:
            return self.spark.createDataFrame([], out_schema)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def snapshot_diff(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Candidate rows for a version-to-version content diff, tagged
        ``_src`` = +1 (rows scanned from to-version-only files) / −1
        (from-version-only files). Files present in BOTH manifests carry
        identical rows, contribute zero net under any keyed/multiset
        netting, and are NEVER read — on a 100 TB table where a few
        commits touched a few files, the diff scans the file delta, not
        two table snapshots. Callers net by key (Σ_src = 0 drops) or by
        whole row. Falls back to two full version reads only under live
        equality-delete sidecars (suppression is version-dependent
        per-row, not per-file), unless the to-version only adds files
        to the from-version (:func:`_only_adds`). Raises
        IncrementalReadError across a schema change, like
        :meth:`changes_between`."""
        to_v = self.current_version() if to_version is None else to_version
        m_from, m_to = self.manifest(from_version), self.manifest(to_v)
        if m_from.schema_json != m_to.schema_json:
            raise IncrementalReadError(
                f"snapshot v{from_version}→v{to_v} crosses a schema "
                "change; diff each schema era separately"
            )
        if _only_adds(m_to, m_from) or not (
            m_from.delete_files or m_to.delete_files
        ):
            plus = self._scan_file_subset(m_to, _added_files(m_to, m_from))
            minus = self._scan_file_subset(m_from, _added_files(m_from, m_to))
        else:
            plus = self._scan_manifest(m_to)
            minus = self._scan_manifest(m_from)
        return plus.withColumn("_src", F.lit(1)).unionByName(
            minus.withColumn("_src", F.lit(-1))
        )

    def remove_orphan_files(self, older_than_ms: int | None = None) -> list[str]:
        """Iceberg ``remove_orphan_files`` analog: delete data files on
        disk that no live snapshot references — the debris of writes
        whose commit lost a race or crashed between the data write
        and the manifest commit.

        ``older_than_ms`` (epoch millis) protects in-flight writers: a
        file younger than the cutoff is kept even if unreferenced,
        because its commit may simply not have happened yet (Iceberg's
        ``older_than`` has the same role; default keeps only files older
        than the newest live snapshot's timestamp).

        Live set = committed snapshots ∪ branch refs: an unlanded branch
        (a write-audit-publish stage is a one-batch branch) is
        referenced metadata (Iceberg treats wap/branch snapshots the
        same way), so its data files are NOT orphans regardless of
        cutoff. To GC an abandoned branch or stage, drop it first via
        ``drop_branch``."""
        mans = self.snapshots()
        if not mans:
            return []
        if older_than_ms is None:
            older_than_ms = mans[-1].timestamp_ms
        live = self._referenced_files(mans + self._branches())
        removed: list[str] = []
        for rel in _parquet_files(self.root, "data"):
            full = os.path.join(self.root, rel)
            if rel in live or os.path.getmtime(full) * 1000 >= older_than_ms:
                continue  # live, or possibly an in-flight commit's data
            os.remove(full)
            removed.append(rel)
        # a commit dir with no parquet left holds only write sidecars
        # (_SUCCESS, .crc) — debris; age-guarded like the files above
        self._prune_empty_commit_dirs(older_than_ms)
        return removed

    def _referenced_files(self, mans: list["Manifest"]) -> set:
        """Every file the given snapshots and branch refs point at: data
        files AND merge-on-read delete sidecars (r12 review: the first
        cut omitted delete sidecars, so GC could delete a live MoR
        sidecar and every later read would crash — or, worse, resurrect
        the deleted rows)."""
        live: set = set()
        for m in mans:
            live.update(m.files)
            for d in m.delete_files:
                # an equality-delete sidecar is a parquet DIRECTORY —
                # expand it so the per-file GC walk sees its parts
                live.update(_parquet_files(self.root, d))
                live.add(d)
        return live

    def files_scanned(self, prune: list[tuple[str, str, object]]) -> int:
        """How many current files a pruned scan would touch (test/metrics
        hook)."""
        man = self.manifest()
        return sum(
            1 for f in man.files if _file_may_match(man.file_stats.get(f), prune)
        )

    # ---- commit machinery ------------------------------------------------
    def _write_data_files(
        self,
        df: DataFrame,
        partition_by: list[str],
        properties: dict[str, str] | None = None,
    ) -> list[str]:
        """Write a commit's data files. The ``bloom.columns`` table
        property (comma-separated) turns on parquet-native split-block
        bloom filters for those columns — the point-lookup complement to
        manifest min/max stats: min/max skips whole FILES when the key
        is clustered (rewrite_sorted/rewrite_zorder layouts), blooms let
        the scan skip row groups for a pushed ``=`` predicate even when
        the key is scattered across every file (the GDPR / CDC
        single-key probe on an unclustered 100 TB table). Sizing comes
        from ``bloom.ndv.<col>`` (expected distinct keys per file;
        parquet defaults to 1M / ~1% FPR when absent). Bloom bytes live
        in the parquet footers, NOT the JSON manifest — manifests stay
        O(files), and readers that ignore blooms still read the files
        normally. The footers' min/max, by contrast, are copied into the
        manifest by ``_collect_file_stats``."""
        commit_dir = f"data/{uuid.uuid4().hex[:12]}"
        out = os.path.join(self.root, commit_dir)
        writer = df.write.mode("overwrite")
        props = properties or {}
        bloom_cols = [
            c.strip()
            for c in props.get("bloom.columns", "").split(",")
            if c.strip()
        ]
        if bloom_cols:
            missing = [c for c in bloom_cols if c not in df.columns]
            if missing:
                raise ValueError(
                    f"bloom.columns {missing} not in table schema "
                    f"{df.columns}"
                )
            # partitionBy strips partition columns from the data files, so
            # a bloom on one would validate here but write zero bloom
            # bytes — the point lookup is already served by partition
            # pruning anyway, so this is always a config mistake
            shadowed = [c for c in bloom_cols if c in (partition_by or [])]
            if shadowed:
                raise ValueError(
                    f"bloom.columns {shadowed} are partition columns: "
                    "partition values never reach the parquet column "
                    "chunks (partition pruning already serves equality "
                    "probes on them)"
                )
            for c in bloom_cols:
                writer = writer.option(
                    f"parquet.bloom.filter.enabled#{c}", "true"
                )
                ndv = props.get(f"bloom.ndv.{c}")
                if ndv:
                    writer = writer.option(
                        f"parquet.bloom.filter.expected.ndv#{c}", ndv
                    )
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(out)
        files = _parquet_files(self.root, commit_dir)
        if not files:  # zero rows into a partitioned layout: no debris dir
            shutil.rmtree(out)
        return files

    def _collect_file_stats(
        self, files: list[str], schema_json: str, partition_by: list[str]
    ) -> dict[str, dict[str, list]]:
        """Per-file min/max for numeric and string columns, read on the
        driver from the footers the parquet writer produced (as Iceberg
        takes its manifest metrics from the writer): no Spark job.
        Partition columns are skipped (directory pruning covers them).
        Every file gets an entry, ``{}`` when nothing is bounded."""
        schema = T.StructType.fromJson(json.loads(schema_json))
        stat_cols = {
            f.name
            for f in schema.fields
            if f.name not in partition_by
            and f.dataType.typeName()
            in ("integer", "long", "short", "byte", "float", "double", "string")
        }
        return {
            f: _footer_ranges(os.path.join(self.root, f), stat_cols)
            for f in files
        }

    @contextmanager
    def _lock(self):
        """The table lock: an exclusive ``flock`` on ``_manifests/.lock``,
        polled for at most ``LOCK_WAIT_SEC`` before raising
        CommitConflict. It serializes every metadata read-modify-write
        (commit, tag, expiry) and is never held across a Spark job. Each
        call opens its own file, so threads of one process exclude each
        other too; the kernel drops the lock when its holder dies."""
        os.makedirs(self._manifest_dir, exist_ok=True)
        fd = os.open(os.path.join(self._manifest_dir, ".lock"), os.O_RDWR | os.O_CREAT)
        try:
            deadline = time.monotonic() + LOCK_WAIT_SEC
            while True:
                try:
                    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    break
                except BlockingIOError:
                    if time.monotonic() > deadline:
                        raise CommitConflict(f"{self.root}: table lock held") from None
                    time.sleep(0.005)
            yield
        finally:
            os.close(fd)  # releases the flock

    def _commit(
        self,
        operation: str,
        files: list[str],
        parent_man: Manifest | None,
        schema_json: str | None = None,
        partition_by: list[str] | None = None,
        properties: dict[str, str] | None = None,
        delete_files: dict[str, int] | None = None,
        file_seq: dict[str, int] | None = None,
    ) -> Manifest:
        """Commit ``files`` as the snapshot after ``parent_man`` (the
        manifest the caller read; None only for create). Schema,
        partition spec and properties default to the parent's."""
        if parent_man is not None:
            schema_json = schema_json or parent_man.schema_json
            if partition_by is None:
                partition_by = parent_man.partition_by
            if properties is None:
                properties = parent_man.properties
        expected_parent = parent_man.version if parent_man else None
        new_version = (expected_parent or 0) + 1
        # carry forward stats for retained files; read the footers of the
        # rest (new files, and files of manifests written without stats)
        inherited = parent_man.file_stats if parent_man else {}
        fset = set(files)
        stats = {f: s for f, s in inherited.items() if f in fset}
        stats.update(
            self._collect_file_stats(
                [f for f in files if f not in inherited], schema_json, partition_by
            )
        )
        # Sequence threading (Iceberg v2): retained files keep the seq of
        # the commit that added them; new files get this commit's. A
        # delete sidecar is inherited only while at least one data file
        # it applies to survives — a full content rewrite (compact/COW
        # delete/merge/overwrite, whose input came from read() with
        # deletes applied) therefore drops materialized sidecars
        # automatically.
        if file_seq is None:
            parent_seq = (parent_man.file_seq if parent_man else {}) or {}
            pv = parent_man.version if parent_man else new_version
            parent_files = set(parent_man.files) if parent_man else set()
            file_seq = {
                f: parent_seq.get(f, pv) if f in parent_files else new_version
                for f in files
            }
        if delete_files is None:
            delete_files = {}
            if parent_man and parent_man.delete_files:
                delete_files = {
                    d: seq
                    for d, seq in parent_man.delete_files.items()
                    if any(
                        f in fset and file_seq.get(f, new_version) < seq
                        for f in parent_man.files
                    )
                }
        man = Manifest(
            version=new_version,
            parent=expected_parent,
            operation=operation,
            timestamp_ms=int(time.time() * 1000),
            schema_json=schema_json,
            partition_by=partition_by,
            files=files,
            properties=properties,
            file_stats=stats,
            delete_files=delete_files,
            file_seq=file_seq,
        )
        # Under the lock the pointer cannot move, so a v(N+1).json already
        # there is a dead writer's debris and is overwritten.
        with self._lock():
            cur = self.current_version() if self.exists() else None
            if cur != expected_parent:
                raise CommitConflict(
                    f"{self.root}: expected parent v{expected_parent}, found v{cur}"
                )
            _atomic_write(self._manifest_path(new_version), man.to_json())
            _atomic_write(self._current_path, str(new_version))
        return man

    # ---- write operations ------------------------------------------------
    def create(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        properties: dict[str, str] | None = None,
        if_not_exists: bool = False,
    ) -> "LakeTable":
        """S2 partitioned create (`writeTo(t).partitionedBy(col).create()`,
        reference create_table.py:92-94) / D2 create-if-not-exists."""
        if self.exists():
            if if_not_exists:
                return self
            raise RuntimeError(f"table exists: {self.root}")
        partition_by = partition_by or []
        files = self._write_data_files(df, partition_by, properties or {})
        self._commit(
            "create",
            files,
            None,
            json.dumps(df.schema.jsonValue()),
            partition_by,
            properties or {},
        )
        return self

    def append(
        self, df: DataFrame, extra_properties: dict[str, str] | None = None
    ) -> "LakeTable":
        """S3 append (`df.writeTo(t).append()` / INSERT INTO).

        ``extra_properties`` commit atomically with the data — e.g. a
        streaming sink's last-applied epoch marker, which is what makes a
        foreachBatch append idempotent under micro-batch retry."""
        cur = self.manifest()
        new_files = self._write_data_files(
            _align(df, cur.schema_json), cur.partition_by, cur.properties
        )
        self._commit(
            "append",
            sorted(cur.files + new_files),
            cur,
            properties={**cur.properties, **(extra_properties or {})},
        )
        return self

    def overwrite(self, df: DataFrame) -> "LakeTable":
        cur = self.manifest()
        files = self._write_data_files(
            _align(df, cur.schema_json), cur.partition_by, cur.properties
        )
        self._commit("overwrite", files, cur)
        return self

    def merge(
        self,
        source: DataFrame,
        on: list[str] | None = None,
        update_exclude: tuple[str, ...] = (),
        insert_not_matched: bool = True,
        assume_unique_source: bool = False,
    ) -> "LakeTable":
        """S4/S5 MERGE upsert, copy-on-write.

        Semantics follow the reference merge builder (create_table.py:
        63-69,96-104): matched target rows take every source column except
        ``update_exclude`` (those keep target values, e.g. ``id``,
        ``created_at``); unmatched source rows are inserted whole. ``on``
        defaults to the table's ``identifier.fields`` property (D10,
        count_clients.py:43-44 analog).

        Plan shape: ONE full outer join of target and source on the
        merge keys (a left outer join when ``insert_not_matched=False``)
        projected into the COW rewrite — the shape Spark's
        ``RewriteMergeIntoTable`` plans for Iceberg. The source is read
        once, which matters when it is a ``foreachBatch`` micro-batch:
        every read of it re-runs the stream's stateful aggregate.

        Duplicate merge-key rows in the source raise MergeCardinalityError
        (Iceberg's "multiple matching rows" contract) instead of silently
        fanning out matched target rows; the check is one grouped count
        over the source keys. Callers whose source is unique-keyed BY
        CONSTRUCTION (e.g. a foreachBatch upsert of a groupBy aggregate,
        where the merge keys ARE the grouping keys) pass
        ``assume_unique_source=True`` to skip that extra per-commit job —
        a micro-batch loop pays it once per batch otherwise.
        """
        cur = self.manifest()
        keys = on or [
            k.strip()
            for k in cur.properties.get("identifier.fields", "").split(",")
            if k.strip()
        ]
        return self._cow_merge(
            cur,
            source,
            keys,
            update_exclude,
            insert_when=insert_not_matched,
            check_unique=not assume_unique_source,
        )

    def merge_conditional(
        self,
        source: DataFrame,
        on: list[str],
        delete_when=None,
        update_when=None,
        insert_when=None,
        update_exclude: tuple[str, ...] = (),
    ) -> "LakeTable":
        """Multi-clause conditional MERGE (the full Iceberg/Delta
        ``MERGE ... WHEN MATCHED AND <cond> THEN DELETE / WHEN MATCHED
        THEN UPDATE / WHEN NOT MATCHED [AND <cond>] THEN INSERT`` form;
        :meth:`merge` is the unconditional-upsert special case).

        Clause order follows the SQL contract: for a matched pair,
        ``delete_when`` is evaluated FIRST (TRUE → the target row is
        dropped); otherwise ``update_when`` (None → always) gates the
        update, failing clauses keep the target row unchanged.
        Unmatched source rows insert when ``insert_when`` (None →
        always) holds. ``delete_when``/``update_when`` are Column
        expressions over the joined row (target columns as ``t.<col>``,
        source as ``s.<col>``); ``insert_when`` sees only the source
        row (plain column names — there is no target side). NULL
        conditions count as not-matched-by-the-clause (SQL three-valued
        logic), never as TRUE.

        Plan shape: identical to :meth:`merge` — one full outer join on
        the keys; the clause conditions are row-local projections on
        the joined frame, adding no extra shuffle. Duplicate source keys
        raise MergeCardinalityError."""
        return self._cow_merge(
            self.manifest(),
            source,
            on,
            update_exclude,
            delete_when=delete_when,
            update_when=update_when,
            insert_when=True if insert_when is None else insert_when,
        )

    def _check_keys(self, cur: "Manifest", keys: list[str], source: DataFrame) -> None:
        """The key check of every keyed DML, before any job: each key is a
        table and ``source`` column (``_align`` null-fills a missing one)."""
        if not keys:
            raise ValueError("no merge keys: pass them or set identifier.fields")
        table_cols = {f["name"] for f in json.loads(cur.schema_json)["fields"]}
        bad = [k for k in keys if k not in table_cols or k not in source.columns]
        if bad:
            raise ValueError(f"key columns {bad} must be in the table and the source")

    def _write_eq_delete(self, keys: DataFrame) -> str:
        """Write ``keys``' distinct rows as an equality-delete sidecar dir."""
        rel = f"data/{uuid.uuid4().hex[:12]}-eqdelete"
        keys.distinct().write.mode("overwrite").parquet(os.path.join(self.root, rel))
        return rel

    def _cow_merge(
        self,
        cur: "Manifest",
        source: DataFrame,
        keys: list[str],
        update_exclude: tuple[str, ...] = (),
        delete_when=None,
        update_when=None,
        insert_when=True,
        check_unique: bool = True,
    ) -> "LakeTable":
        """The copy-on-write MERGE both public forms share: one outer
        join of target and source on ``keys``, each side tagged with a
        presence marker, projected column by column into the rewrite.

        - target-only rows are kept as they are;
        - source-only rows are inserted when ``insert_when`` holds — a
          Column over the source row, or a bool (False: no inserts, so
          the join is a left outer join);
        - matched rows are dropped when ``delete_when`` is TRUE, else
          take ``s.<col>`` for every non-key, non-``update_exclude``
          column when ``update_when`` (None → always) is TRUE.

        Keys join with ``=``, so NULL keys never match: a NULL-keyed
        target row survives untouched and a NULL-keyed source row is an
        insert."""
        self._check_keys(cur, keys, source)
        target = self._scan_manifest(cur)
        source = _align(source, cur.schema_json)
        cols = target.columns

        if check_unique and (dup := _duplicate_key(source, keys)):
            raise MergeCardinalityError(f"source has multiple rows for merge key {dup}")

        # markers: non-NULL exactly on the rows the side contributed; the
        # source's also carries the (non-NULL) insert decision
        t_mark, s_mark = "__merge_target", "__merge_source"
        ins = (
            F.lit(True)
            if isinstance(insert_when, bool)
            else insert_when.eqNullSafe(F.lit(True))
        )
        joined = target.withColumn(t_mark, F.lit(True)).alias("t").join(
            source.withColumn(s_mark, ins).alias("s"),
            functools.reduce(
                lambda a, b: a & b, [F.col(f"t.{k}") == F.col(f"s.{k}") for k in keys]
            ),
            "left_outer" if insert_when is False else "full_outer",
        )
        in_t = F.col(f"t.{t_mark}").isNotNull()
        matched = in_t & F.col(f"s.{s_mark}").isNotNull()
        is_del = (
            delete_when.eqNullSafe(F.lit(True))
            if delete_when is not None
            else F.lit(False)
        )
        is_upd = (
            update_when.eqNullSafe(F.lit(True))
            if update_when is not None
            else F.lit(True)
        )
        keep = F.when(matched, ~is_del).when(in_t, F.lit(True)).otherwise(
            F.col(f"s.{s_mark}")
        )
        # a column takes the target value on target-only rows, and on
        # matched rows unless it is an updated (non-key, non-excluded)
        # column of a row whose update clause holds
        fixed = set(keys) | set(update_exclude)
        updated = matched & is_upd
        merged = joined.filter(keep).select(
            *[
                F.when(in_t if c in fixed else in_t & ~updated, F.col(f"t.{c}"))
                .otherwise(F.col(f"s.{c}"))
                .alias(c)
                for c in cols
            ]
        )

        files = self._write_data_files(merged, cur.partition_by, cur.properties)
        self._commit("merge", files, cur)
        return self

    def delete_where(self, condition) -> "LakeTable":
        """DELETE (D5-adjacent DML; OPA op list allow_table.rego:73-80),
        copy-on-write with FILE-LEVEL pruning: one column-pruned
        discovery pass finds the files that actually contain matches
        (``input_file_name`` groupBy — the predicate columns are the
        only data read); files with no match are RETAINED untouched (no
        rewrite, they keep their sequence), and only the blast radius is
        rewritten — the Iceberg COW-delete shape; a selective DELETE on
        a 100 TB table rewrites its matched files, not the table. Under
        live equality-delete sidecars the rewrite falls back to a full
        pass of ``read()`` (which materializes the sidecars, exactly as
        ``compact`` does).

        SQL DELETE semantics: only rows where the predicate is TRUE are
        deleted — rows where it evaluates to NULL are RETAINED (a plain
        ``filter(~cond)`` would silently drop them)."""
        cur = self.manifest()
        cond_true = condition.eqNullSafe(F.lit(True))
        if cur.delete_files:
            remaining = self.read().filter(~cond_true)
            files = sorted(
                self._write_data_files(remaining, cur.partition_by, cur.properties)
            )
        else:
            hit_uris = [
                r["_file"]
                for r in self._scan_file_subset(cur, cur.files)
                .withColumn("_file", F.input_file_name())
                .filter(cond_true)
                .select("_file")
                .distinct()
                .collect()  # bounded by the file count (manifest-grade)
            ]
            # index each hit by its trailing path components, one key per
            # file depth: a basename alone repeats across the partition
            # dirs of one write (every task names its file part-NNNNN in
            # each dir), and a suffix scan is O(files×hits)
            depths = {f.count("/") + 1 for f in cur.files}
            hits = {"/".join(u.split("/")[-d:]) for u in hit_uris for d in depths}
            matched = [f for f in cur.files if f in hits]
            kept = [f for f in cur.files if f not in hits]
            if matched:
                remaining = self._scan_file_subset(cur, matched).filter(~cond_true)
                new_files = self._write_data_files(
                    remaining, cur.partition_by, cur.properties
                )
            else:  # nothing matched: metadata-only commit, zero rewrites
                new_files = []
            files = sorted(kept + new_files)
        self._commit("delete", files, cur)
        return self

    def delete_keys_mor(self, keys: DataFrame) -> "LakeTable":
        """Merge-on-read DELETE by equality keys (Iceberg v2 equality-
        delete analog). Writes the distinct key rows as a parquet
        sidecar and commits METADATA ONLY — no data file is rewritten,
        so a delete of k keys costs O(k) regardless of table size (the
        CDC/GDPR-erasure shape at 100 TB). ``read()`` suppresses
        matching rows in every data file whose sequence predates the
        sidecar's via an anti-join; rows appended AFTER the
        delete carry a higher sequence and are never suppressed.
        ``compact()`` (or any full rewrite) materializes the deletes and
        drops the sidecar. The sidecar is the distinct rows of ``keys``,
        whose columns must be table columns (``ValueError`` before any
        job); NULL key values match nothing (SQL equality never matches
        NULL — use delete_where for predicate deletes). An empty key
        frame commits nothing: its sidecar's footers hold no rows."""
        cur = self.manifest()
        self._check_keys(cur, keys.columns, keys)
        rel = self._write_eq_delete(keys)
        if not _footer_rows(self.root, _parquet_files(self.root, rel)):
            shutil.rmtree(os.path.join(self.root, rel))
            return self
        new_seq = cur.version + 1  # _commit's parent check guarantees it
        self._commit(
            "delete-mor",
            cur.files,
            cur,
            delete_files={**cur.delete_files, rel: new_seq},
        )
        return self

    def evolve_partition_spec(
        self, new_partition_by: list[str]
    ) -> "LakeTable":
        """Partition-spec evolution (Iceberg `REPLACE PARTITION FIELD`
        analog): a METADATA-ONLY commit — zero data files rewritten.
        Existing files keep their old hive layout; writes after this
        commit use the new spec; ``read()`` groups files by layout and
        scans each group with its own partition recovery, so mixed
        layouts coexist indefinitely. ``compact()`` (any full rewrite)
        unifies everything under the current spec. At 100 TB this is
        how a table follows its query patterns (e.g. daily → hourly
        partitioning) without an O(table) migration."""
        cur = self.manifest()
        schema = T.StructType.fromJson(json.loads(cur.schema_json))
        cols = {f.name for f in schema.fields}
        bad = [c for c in new_partition_by if c not in cols]
        if bad:
            raise ValueError(f"partition columns {bad} not in table schema")
        self._commit(
            "evolve-partition", cur.files, cur, partition_by=new_partition_by
        )
        return self

    def upsert_keys_mor(
        self, df: DataFrame, key_cols: list[str]
    ) -> "LakeTable":
        """Merge-on-read UPSERT (Iceberg v2 CDC write shape): ONE commit
        of the source rows as new data files plus an equality-delete
        sidecar of their keys. The sidecar hides older rows with those
        keys at read (files of a lower sequence); this commit's files
        share its sequence and are exempt, so no existing file is
        rewritten. The O(batch) streaming-CDC ingest path; `merge()` is
        the copy-on-write form.

        The source is read once, by the data write. The sidecar is the
        distinct key tuples of the new files (read by key column, so
        partition keys come from the paths). Footer row counts decide
        the rest: an empty source commits nothing; fewer keys than rows
        is a duplicate key (NULLs included, as in GROUP BY), so both new
        dirs are removed and MergeCardinalityError is raised."""
        cur = self.manifest()
        self._check_keys(cur, key_cols, df)
        new_files = self._write_data_files(
            _align(df, cur.schema_json), cur.partition_by, cur.properties
        )
        new_dirs = {"/".join(f.split("/")[:2]) for f in new_files}  # data/<commit>
        n_rows = _footer_rows(self.root, new_files)
        if not n_rows:
            for d in new_dirs:
                shutil.rmtree(os.path.join(self.root, d))
            return self
        keys = self._scan_file_subset(cur, new_files).select(*key_cols)
        rel = self._write_eq_delete(keys)
        if _footer_rows(self.root, _parquet_files(self.root, rel)) < n_rows:
            dup = _duplicate_key(keys, key_cols)
            for d in new_dirs | {rel}:
                shutil.rmtree(os.path.join(self.root, d))
            raise MergeCardinalityError(f"source has multiple rows for merge key {dup}")
        new_seq = cur.version + 1  # _commit's parent check guarantees it
        self._commit(
            "upsert-mor",
            sorted(cur.files + new_files),
            cur,
            delete_files={**cur.delete_files, rel: new_seq},
        )
        return self

    # ---- maintenance (D7, D8) -------------------------------------------
    def _rewrite(
        self,
        operation: str,
        target_file_size_bytes: int,
        reshape,
        sort_order: str | None = None,
    ) -> "LakeTable":
        """The content-preserving rewrite compact() and the clustering
        rewrites share: scan the current snapshot (delete sidecars
        applied), ``reshape(df, n, partition_by)`` it into n =
        ceil(bytes/target) output partitions, write, and commit — with
        ``sort.order`` set when the layout has one."""
        if target_file_size_bytes < 1:
            raise ValueError(
                f"target_file_size_bytes must be >= 1, got {target_file_size_bytes}"
            )
        cur = self.manifest()
        total = sum(
            os.path.getsize(os.path.join(self.root, f)) for f in cur.files
        )
        n = int(max(1, -(-total // target_file_size_bytes)))
        df = reshape(self._scan_manifest(cur), n, cur.partition_by)
        files = self._write_data_files(df, cur.partition_by, cur.properties)
        props = dict(cur.properties)
        if sort_order is not None:
            props["sort.order"] = sort_order
        self._commit(operation, files, cur, properties=props)
        return self

    def compact(self, target_file_size_bytes: int = 128 * 1024 * 1024) -> "LakeTable":
        """D7 small-files compaction (`rewrite_data_files`; reference sink
        compaction cadence sink_iceberg_fraud_alerts_client.sql:23-24).
        Content-preserving: coalesces to ceil(bytes/target) files."""
        return self._rewrite(
            "compact",
            target_file_size_bytes,
            lambda df, n, partition_by: df.repartition(n, *partition_by),
        )

    def rewrite_sorted(
        self, by: list[str], target_file_size_bytes: int = 128 * 1024 * 1024
    ) -> "LakeTable":
        """Sort-based clustering rewrite (the Iceberg `sort_order` /
        `rewrite_data_files(strategy => 'sort')` analog): range-partition
        on `by` then sort within files, so per-file min/max stats become
        DISJOINT ranges and manifest-stats file skipping (`read(prune=)`)
        can drop most files for a selective predicate. Content-preserving
        like compact(); at scale this is the scan-amplification fix for
        point/range-heavy tables."""
        return self._rewrite(
            "rewrite-sorted",
            target_file_size_bytes,
            lambda df, n, _: df.repartitionByRange(
                n, *[F.col(c) for c in by]
            ).sortWithinPartitions(*by),
            sort_order=",".join(by),
        )

    def rewrite_zorder(
        self,
        by: list[str],
        bits: int = 16,
        target_file_size_bytes: int = 128 * 1024 * 1024,
    ) -> "LakeTable":
        """Z-order clustering rewrite (the Iceberg
        `rewrite_data_files(strategy => 'sort', sort_order => zorder(...))`
        analog): each column is min-max scaled to `bits` bits, the bit
        planes are interleaved into one z-value, and files are
        range-partitioned + sorted by it. Every file then covers a
        compact k-D tile, so per-file min/max stats shrink on EVERY
        z-ordered column and `read(prune=)` skips files for predicates
        on any of them — where a 1-D sort only serves its leading
        column. The z-value is a pure generated column expression
        (2·bits·k shift/mask terms, whole-stage-codegen'd, no UDF);
        min/max normalization bounds come from one aggregate job
        (2k scalars to the driver — bounded by construction).
        Content-preserving like compact()/rewrite_sorted()."""

        def zorder(df: DataFrame, n: int, _) -> DataFrame:
            bounds = df.agg(
                *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in by],
                *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in by],
            ).collect()[0]
            top = (1 << bits) - 1
            scaled = []
            for c in by:
                mn, mx = bounds[f"mn_{c}"], bounds[f"mx_{c}"]
                rng = mx - mn if mx is not None and mn is not None and mx > mn else 1.0
                scaled.append(
                    F.least(
                        F.lit(top).cast("bigint"),
                        F.greatest(
                            F.lit(0).cast("bigint"),
                            (
                                (F.col(c).cast("double") - F.lit(mn or 0.0))
                                / F.lit(rng)
                                * F.lit(float(top))
                            ).cast("bigint"),
                        ),
                    )
                )
            k = len(by)
            z = F.lit(0).cast("bigint")
            for b in range(bits):
                for j, s in enumerate(scaled):
                    z = z.bitwiseOR(
                        F.shiftleft(F.shiftright(s, b).bitwiseAND(F.lit(1)), b * k + j)
                    )
            return (
                df.withColumn("__z", z)
                .repartitionByRange(n, F.col("__z"))
                .sortWithinPartitions("__z")
                .drop("__z")
            )

        return self._rewrite(
            "rewrite-zorder",
            target_file_size_bytes,
            zorder,
            sort_order=f"zorder({','.join(by)})",
        )

    # ---- tags (Iceberg refs analog) --------------------------------------
    @property
    def _tags_path(self) -> str:
        return os.path.join(self.root, "tags.json")

    def tags(self, strict: bool = False) -> dict[str, int]:
        """Tag refs. ``strict=True`` (tag, drop_tag, expire_snapshots)
        raises on a corrupt/unreadable tags.json instead of returning
        {}: failing open there would write {} back or let expiry delete
        every tagged snapshot."""
        if not os.path.exists(self._tags_path):
            return {}
        try:
            with open(self._tags_path, encoding="utf-8") as f:
                return {k: int(v) for k, v in json.load(f).items()}
        except (OSError, ValueError):
            if strict:
                raise
            return {}

    def _write_tags(self, t: dict[str, int]) -> None:
        _atomic_write(self._tags_path, json.dumps(t, sort_keys=True))

    def tag(self, name: str, version: int | None = None) -> "LakeTable":
        """Pin a named, immutable ref to a snapshot (Iceberg tag analog).
        Tagged snapshots survive expire_snapshots."""
        with self._lock():
            v = self.manifest(version).version  # NoSuchTable if absent
            t = self.tags(strict=True)
            t[name] = v
            self._write_tags(t)
        return self

    def drop_tag(self, name: str) -> "LakeTable":
        with self._lock():
            t = self.tags(strict=True)
            t.pop(name, None)
            self._write_tags(t)
        return self

    def read_tag(self, name: str) -> DataFrame:
        try:
            version = self.tags()[name]
        except KeyError:
            raise NoSuchTable(f"{self.root}: no tag {name!r}") from None
        return self.read(version=version)

    def expire_snapshots(self, retain_last: int = 5) -> list[int]:
        """D8 snapshot expiration (`expire_snapshots(retain_last => 5)`,
        reference sink options :25-26). Deletes expired manifests and any
        data file referenced only by them. Tagged snapshots (refs) are
        always retained, as in Iceberg."""
        if retain_last < 1:
            raise ValueError(f"retain_last must be >= 1, got {retain_last}")
        # Under the lock the pin reads and the manifest removals are one
        # step, so a concurrent tag() cannot pin a manifest this call is
        # about to delete. The dead data files are deleted after the
        # lock is released, once no manifest names them.
        with self._lock():
            mans = self.snapshots()
            if len(mans) <= retain_last:
                return []
            # strict: a corrupt tags.json must abort expiry (fail-open
            # would un-pin every tagged snapshot and delete it — r12
            # review), unlike read paths where {} is a fine degrade
            tagged = set(self.tags(strict=True).values())
            # branch refs (WAP stages included) pin their PARENT
            # manifests too: read_branch and fast_forward need the fork
            # point's manifest until the ref lands or is dropped
            refs = self._branches()
            pinned = {b.parent for b in refs}
            keep = mans[-retain_last:] + [
                m
                for m in mans[:-retain_last]
                if m.version in tagged or m.version in pinned
            ]
            drop = [
                m
                for m in mans[:-retain_last]
                if m.version not in tagged and m.version not in pinned
            ]
            # referenced set includes branch files + delete sidecars —
            # same rule as remove_orphan_files
            live = self._referenced_files(keep + refs)
            for m in drop:
                os.remove(self._manifest_path(m.version))
        dead = {f for m in drop for f in [*m.files, *m.delete_files]} - live
        for f in dead:
            p = os.path.join(self.root, f)
            if os.path.isdir(p):  # equality-delete sidecar dir
                shutil.rmtree(p)
            elif os.path.exists(p):
                os.remove(p)
        # prune empty commit dirs (age-guarded: a dir newer than the
        # newest kept snapshot may be another writer's in-flight output
        # whose first part file hasn't landed yet — r12 review)
        self._prune_empty_commit_dirs(mans[-1].timestamp_ms)
        return [m.version for m in drop]

    def _prune_empty_commit_dirs(self, older_than_ms: int) -> None:
        """Remove commit dirs holding zero parquet files — write debris
        (_SUCCESS, .crc) — but only dirs older than the cutoff, so a
        concurrent writer's just-created output dir is never deleted."""
        data_dir = os.path.join(self.root, "data")
        if not os.path.isdir(data_dir):
            return
        for d in os.listdir(data_dir):
            full = os.path.join(data_dir, d)
            if not os.path.isdir(full):
                continue
            if os.path.getmtime(full) * 1000 >= older_than_ms:
                continue
            if not _parquet_files(data_dir, d):
                shutil.rmtree(full)

    # ---- metadata tables (D6: `t.snapshots` / `t.files` analogs) --------
    def snapshots_df(self) -> DataFrame:
        """Snapshot history as a queryable DataFrame."""
        rows = [
            (
                m.version,
                m.parent,
                m.operation,
                m.timestamp_ms,
                len(m.files),
                json.dumps(m.properties, sort_keys=True),
            )
            for m in self.snapshots()
        ]
        return self.spark.createDataFrame(
            rows,
            "version: int, parent: int, operation: string, "
            "timestamp_ms: long, n_files: int, properties: string",
        )

    def files_df(self, version: int | None = None) -> DataFrame:
        """Current (or historical) data-file inventory with sizes."""
        man = self.manifest(version)
        rows = [
            (f, os.path.getsize(os.path.join(self.root, f)))
            for f in man.files
        ]
        return self.spark.createDataFrame(rows, "path: string, size_bytes: long")

    # ---- rollback --------------------------------------------------------
    def rollback(self, version: int) -> "LakeTable":
        """Restore a past snapshot as the new current version (history is
        retained — the rollback is itself a new commit, Iceberg
        `rollback_to_snapshot` semantics)."""
        cur = self.manifest()
        past = self.manifest(version)
        self._commit(
            f"rollback_to_v{version}",
            past.files,
            cur,
            past.schema_json,
            past.partition_by,
            past.properties,
            # restore the past snapshot's MoR state verbatim — content
            # fidelity requires its sidecars and sequences, not cur's
            delete_files=dict(past.delete_files),
            file_seq=dict(past.file_seq) or {f: past.version for f in past.files},
        )
        return self

    # ---- branches (Iceberg branch-ref analog) -----------------------------
    # A branch is a NAMED, MULTI-COMMIT staging line: it forks from a main
    # snapshot, accumulates its own appends invisible to main readers, and
    # lands via fast_forward — a CAS that succeeds only if main has not
    # moved past the fork point (git/Iceberg fast-forward semantics; a
    # diverged main raises CommitConflict and the caller re-branches or
    # rebases by hand). Single-writer per branch (the branch pointer file
    # is overwritten, not CAS'd) — the documented contract, matching
    # Iceberg where concurrent commits to ONE branch also serialize.
    # Write-audit-publish is the one-batch case (`stage_append`), as
    # Iceberg's `spark.wap.branch` is.

    def _branch_path(self, name: str) -> str:
        if not name or not all(c.isalnum() or c in "_-" for c in name):
            raise ValueError(f"invalid branch name: {name!r}")
        return os.path.join(self._manifest_dir, f"branch_{name}.json")

    def _branch_manifest(self, name: str) -> Manifest:
        """Branch ``name``'s ref; NoSuchTable if absent or crash debris."""
        path = self._branch_path(name)
        try:
            with open(path, encoding="utf-8") as f:
                return Manifest.from_json(f.read())
        except (OSError, ValueError):
            raise NoSuchTable(f"no branch {name!r} on {self.root}") from None

    def _branches(self) -> list[Manifest]:
        """Every branch ref's manifest. A truncated or corrupt ref is
        crash debris from a writer that never returned (branch updates
        are tmp+rename, so no completed operation produced it): its
        files cannot be enumerated and were never referenced by a
        completed operation, so it is skipped and GC keeps working —
        the age cutoff still protects anything genuinely in flight."""
        refs = []
        for fn in sorted(os.listdir(self._manifest_dir)):
            if fn.startswith("branch_") and fn.endswith(".json"):
                try:
                    refs.append(self._branch_manifest(fn[len("branch_") : -len(".json")]))
                except NoSuchTable:
                    continue
        return refs

    def create_branch(self, name: str) -> "LakeTable":
        """Fork a branch from the CURRENT snapshot. An existing ref of
        that name raises CommitConflict; the ref is written atomically."""
        cur = self.manifest()
        bm = Manifest(
            version=-1,  # assigned at fast_forward
            parent=cur.version,
            operation="branch_create",
            timestamp_ms=int(time.time() * 1000),
            schema_json=cur.schema_json,
            partition_by=cur.partition_by,
            files=list(cur.files),
            properties=cur.properties,
            delete_files=dict(cur.delete_files),
            file_seq=dict(cur.file_seq) or {f: cur.version for f in cur.files},
        )
        path = self._branch_path(name)
        with self._lock():
            if os.path.exists(path):
                raise CommitConflict(f"branch {name!r} already exists on {self.root}")
            _atomic_write(path, bm.to_json())
        return self

    def branch_append(self, name: str, df: DataFrame) -> "LakeTable":
        """Append a batch to the branch (invisible to main readers).
        Data files write through normal distributed jobs; only the
        branch pointer update is driver-side."""
        bm = self._branch_manifest(name)
        new_files = self._write_data_files(
            _align(df, bm.schema_json), bm.partition_by, bm.properties
        )
        updated = _dc_replace(
            bm,
            operation="branch_append",
            timestamp_ms=int(time.time() * 1000),
            files=sorted(bm.files + new_files),
        )
        # atomic, so a crash mid-write never leaves a truncated branch ref
        _atomic_write(self._branch_path(name), updated.to_json())
        return self

    def read_branch(self, name: str) -> DataFrame:
        """Scan the branch head: fork-point content (with the fork
        snapshot's MoR delete sidecars applied, as read() would) plus
        every branch append."""
        bm = self._branch_manifest(name)
        fork = self.manifest(bm.parent)
        branch_seq = fork.version + 1
        fork_set = set(fork.files)
        file_seq = {
            f: fork.file_seq.get(f, fork.version)
            if f in fork_set
            else branch_seq
            for f in bm.files
        }
        view = _dc_replace(
            bm,
            version=branch_seq,
            file_seq=file_seq,
            file_stats=dict(fork.file_stats),
        )
        return self._scan_manifest(view)

    def fast_forward(self, name: str) -> "LakeTable":
        """Land the branch on main: CAS against the fork point. If main
        advanced past the fork, the branch has DIVERGED and fast-forward
        is impossible (CommitConflict) — same contract as Iceberg's
        fast_forward procedure. The branch's commits land as ONE main
        snapshot (squash); the branch ref is deleted on success."""
        bm = self._branch_manifest(name)
        cur = self.manifest()
        if cur.version != bm.parent:
            raise CommitConflict(
                f"{self.root}: branch {name!r} forked at v{bm.parent}, "
                f"main is at v{cur.version} — cannot fast-forward"
            )
        self._commit(
            f"fast_forward_branch:{name}",
            bm.files,
            cur,
            delete_files=dict(bm.delete_files),
        )
        os.remove(self._branch_path(name))
        return self

    def drop_branch(self, name: str) -> "LakeTable":
        """Abandon a branch; its unpublished data files become orphans
        (collected by remove_orphan_files). Raises NoSuchTable for an
        unknown name, like read_branch."""
        try:
            os.remove(self._branch_path(name))
        except FileNotFoundError:
            raise NoSuchTable(f"no branch {name!r} on {self.root}") from None
        return self

    def stage_append(self, df: DataFrame) -> str:
        """Write-audit-publish step 1: write ``df`` to a fresh one-batch
        branch, invisible to main readers while other writers commit
        freely, and return its name (the stage token). Audit with
        ``read_branch(token)``; publish with ``fast_forward(token)``, a
        CAS against the snapshot the branch forked from; abandon with
        ``drop_branch(token)``."""
        token = uuid.uuid4().hex[:12]
        self.create_branch(token)
        try:
            self.branch_append(token, df)
        except BaseException:
            self.drop_branch(token)  # no token escapes: leave no ref
            raise
        return token

    # ---- schema evolution (D5) ------------------------------------------
    def add_column(self, name: str, dtype: str) -> "LakeTable":
        cur = self.manifest()
        schema = T.StructType.fromJson(json.loads(cur.schema_json))
        if name in schema.fieldNames():
            raise ValueError(f"column exists: {name}")
        new = T.StructType(
            schema.fields + [T.StructField(name, _parse_type(dtype), True)]
        )
        # metadata-only commit: rewrite no data, reads project/null-fill
        self._commit(f"add_column:{name}", cur.files, cur, json.dumps(new.jsonValue()))
        return self

    def drop_column(self, name: str) -> "LakeTable":
        cur = self.manifest()
        schema = T.StructType.fromJson(json.loads(cur.schema_json))
        new = T.StructType([f for f in schema.fields if f.name != name])
        if len(new.fields) == len(schema.fields):
            raise ValueError(f"no such column: {name}")
        self._commit(f"drop_column:{name}", cur.files, cur, json.dumps(new.jsonValue()))
        return self

    def alter_column_type(self, name: str, dtype: str) -> "LakeTable":
        """Type widening (e.g. int→long, float→double). Narrowing is
        rejected — it would corrupt existing data.

        Divergence note: Iceberg does this metadata-only because its
        readers promote types per file; plain-parquet Spark scans error on
        mixed footers, so this implementation rewrites the data files with
        the cast (a compaction-sized COW job, not a pointer flip)."""
        _WIDENINGS = {
            "integer": {"long", "double", "decimal"},
            "long": {"double", "decimal"},
            "float": {"double"},
        }
        cur = self.manifest()
        schema = T.StructType.fromJson(json.loads(cur.schema_json))
        if name not in schema.fieldNames():
            raise ValueError(f"no such column: {name}")
        old_t = schema[name].dataType.typeName()
        new_type = _parse_type(dtype)
        new_t = new_type.typeName()
        if new_t != old_t and new_t not in _WIDENINGS.get(old_t, set()):
            raise ValueError(f"cannot narrow {name}: {old_t} → {new_t}")
        new_schema = T.StructType(
            [
                T.StructField(
                    f.name,
                    new_type if f.name == name else f.dataType,
                    f.nullable,
                )
                for f in schema.fields
            ]
        )
        recast = self.read().withColumn(name, F.col(name).cast(new_type))
        files = self._write_data_files(recast, cur.partition_by, cur.properties)
        self._commit(
            f"alter_column:{name}:{dtype}",
            files,
            cur,
            json.dumps(new_schema.jsonValue()),
        )
        return self


def _atomic_write(path: str, text: str) -> None:
    """Write ``text`` to a tmp file and ``os.replace`` it onto ``path``:
    readers and crashes see the old file or the new one, never a part."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(text)
    os.replace(tmp, path)


def _parquet_files(root: str, rel: str) -> list[str]:
    """The parquet files under ``root/rel``, sorted, relative to ``root``."""
    return sorted(
        os.path.relpath(os.path.join(dirpath, fn), root)
        for dirpath, _, fns in os.walk(os.path.join(root, rel))
        for fn in fns
        if fn.endswith(".parquet")
    )


def _duplicate_key(df: DataFrame, keys: list[str]) -> dict | None:
    """A key tuple ``df`` holds more than once (NULLs group, as in GROUP BY)."""
    dup = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__rows")).filter("__rows > 1").first()
    return dict(zip(keys, dup)) if dup else None


def _footer_rows(root: str, files: list[str]) -> int:
    """The row count of ``files`` from their footers: no Spark job."""
    return sum(pq.read_metadata(os.path.join(root, f)).num_rows for f in files)


def _added_files(man: Manifest, parent: Manifest) -> list[str]:
    """The data files ``man`` lists that ``parent`` does not."""
    prev = set(parent.files)
    return [f for f in man.files if f not in prev]


def _only_adds(man: Manifest, parent: Manifest) -> bool:
    """Whether ``man`` keeps every data file and exactly the delete
    sidecars of ``parent``, so its rows are the parent's plus those of
    its added files: an append, a branch fast-forward or WAP publish, or
    a metadata-only commit — whatever the operation is named."""
    keeps_files = set(parent.files) <= set(man.files)
    return keeps_files and man.delete_files == parent.delete_files


def _is_nan(v: object) -> bool:
    return isinstance(v, float) and math.isnan(v)


def _footer_ranges(path: str, stat_cols: set[str]) -> dict[str, list]:
    """[min, max] per ``stat_cols`` column from one parquet footer. A
    column gets no range when a row group holding values has no min/max
    (parquet drops large binary bounds) or a NaN bound (Spark orders NaN
    above every number, so it bounds nothing), nor when the file has no
    such column (it predates ``add_column``)."""
    md = pq.read_metadata(path)
    ranges: dict[str, list] = {}
    for i in range(md.num_columns):
        col = md.schema.column(i)
        if col.path not in stat_cols:
            continue
        bounds = []
        for g in range(md.num_row_groups):
            chunk = md.row_group(g).column(i)
            st = chunk.statistics
            if st is not None and st.null_count == chunk.num_values:
                continue  # all-null row group: nothing to bound
            if st is None or not st.has_min_max or _is_nan(st.min) or _is_nan(st.max):
                break
            bounds += [st.min, st.max]
        else:
            if bounds:
                ranges[col.path] = [min(bounds), max(bounds)]
    return ranges


def _file_may_match(
    stats: dict[str, list] | None, prune: list[tuple[str, str, object]]
) -> bool:
    """Range-intersection check: can a file with these column ranges hold
    a row satisfying ALL predicates? Missing stats → conservatively yes;
    so is a NaN bound, which manifests written by the per-commit Spark
    stats job still hold (``max()`` of a column with NaN is NaN)."""
    if not stats:
        return True
    for col, op, value in prune:
        rng = stats.get(col)
        if not rng:
            continue
        lo, hi = rng
        if lo is None or hi is None or _is_nan(lo) or _is_nan(hi):
            continue
        if op == "=" and not (lo <= value <= hi):
            return False
        if op in ("<", "<=") and not (lo < value or (op == "<=" and lo <= value)):
            return False
        if op in (">", ">=") and not (hi > value or (op == ">=" and hi >= value)):
            return False
    return True


def _parse_type(dtype: str) -> T.DataType:
    return T._parse_datatype_string(dtype)


def _align(df: DataFrame, schema_json: str) -> DataFrame:
    """Project/cast a frame to the table schema (null-fill added columns)."""
    schema = T.StructType.fromJson(json.loads(schema_json))
    cols = []
    for f in schema.fields:
        if f.name in df.columns:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(cols)


class LakeCatalog:
    """Namespace → table catalog over a warehouse directory (D1-D4).

    Mirrors the reference's catalog→namespace→table hierarchy
    (infra/README.md:60-63; nested namespaces in 01-Management.ipynb)
    with filesystem directories; `spark.table`-style access via
    ``catalog.table("ns.t").read()``.
    """

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    def _path(self, ident: str) -> str:
        parts = ident.split(".")
        return os.path.join(self.warehouse, *parts)

    def table(self, ident: str) -> LakeTable:
        return LakeTable(self.spark, self._path(ident))

    def table_exists(self, ident: str) -> bool:  # D2
        return self.table(ident).exists()

    def create_namespace(self, ns: str) -> None:  # D3
        os.makedirs(os.path.join(self.warehouse, *ns.split(".")), exist_ok=True)

    def list_namespaces(self, parent: str = "") -> list[str]:  # D4
        base = os.path.join(self.warehouse, *parent.split(".")) if parent else self.warehouse
        if not os.path.isdir(base):
            return []
        return sorted(
            d
            for d in os.listdir(base)
            if os.path.isdir(os.path.join(base, d))
            and not LakeTable(self.spark, os.path.join(base, d)).exists()
        )

    def list_tables(self, ns: str) -> list[str]:  # D4
        base = os.path.join(self.warehouse, *ns.split(".")) if ns else self.warehouse
        if not os.path.isdir(base):
            return []
        return sorted(
            d
            for d in os.listdir(base)
            if LakeTable(self.spark, os.path.join(base, d)).exists()
        )

    def drop_table(self, ident: str) -> None:
        path = self._path(ident)
        if not os.path.isdir(path):
            return
        # only ever delete a TABLE directory — an identifier that
        # resolves to a namespace (no table pointer inside) would
        # recursively destroy every table under it on a one-segment
        # typo (r12 review)
        if not os.path.exists(os.path.join(path, "_current")):
            raise ValueError(
                f"{ident!r} is not a table (no _current pointer at "
                f"{path}); refusing to recursively delete a namespace"
            )
        shutil.rmtree(path)

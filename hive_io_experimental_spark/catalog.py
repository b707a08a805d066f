"""Mini-metastore: a JSON sidecar catalog over a warehouse directory.

The reference talks Thrift to a Hive metastore for get_table /
get_partitions_by_filter / add_partition (common/MetastoreDesc.java:67-78;
input/HiveApiInputFormat.java:290-309; output/HiveApiOutputCommitter.java:
125-166). Here the catalog is a local JSON document per warehouse directory —
the same logical operations, no RPC. A real deployment would swap this for the
Spark catalog / Hive metastore / Glue; the interface is kept narrow so that
swap is one class.

Also provides:
- HiveStats (numRows/rawSize/totalSize summed over filtered partitions —
  common/HiveStats.java:34-108, HiveUtils.java:122-140)
Catalog file I/O runs under retry.backoff_retry (BackoffRetryTask parity,
common/BackoffRetryTask.java:91-129) and mutations take an exclusive flock
so concurrent writers can't lose updates (the Thrift metastore serializes
these server-side).
"""

from __future__ import annotations

import json
import os
from contextlib import contextmanager
from dataclasses import dataclass, field, replace
from typing import Iterator

try:  # POSIX file locking; absent on some platforms -> single-writer only
    import fcntl
except ImportError:  # pragma: no cover
    fcntl = None  # type: ignore[assignment]

from hive_io_experimental_spark.errors import (
    PartitionSpecError,
    SnapshotError,
    TableNotFoundError,
)
from hive_io_experimental_spark.retry import RetryPolicy, backoff_retry
from hive_io_experimental_spark.schema import HiveTableSchema

CATALOG_FILE = "_catalog.json"


@dataclass(frozen=True)
class TableDesc:
    """(database, table) pair — HiveTableDesc parity (common/HiveTableDesc.java)."""

    database: str
    table: str

    @classmethod
    def parse(cls, dotted: str) -> "TableDesc":
        if "." in dotted:
            db, tbl = dotted.split(".", 1)
        else:
            db, tbl = "default", dotted
        return cls(db, tbl)

    def __str__(self) -> str:
        return f"{self.database}.{self.table}"


@dataclass
class HiveStats:
    """numRows / rawSize / totalSize counters (common/HiveStats.java:34-108).

    ``num_files`` extends the reference trio with Hive's own numFiles
    statistic: data files under the partition location, recorded at
    commit time by the writer's existing file walk (output._stats_for).
    Maintenance paths (compaction audits, small-file detection) read it
    from the manifest instead of re-listing directories — at warehouse
    partition counts a post-hoc listing walk is the expensive part.
    Defaults to 0 so manifests persisted before the field existed load
    unchanged (0 = unknown, never "no files")."""

    num_rows: int = 0
    raw_size: int = 0
    total_size: int = 0
    num_files: int = 0

    def add(self, other: "HiveStats") -> None:
        # HiveStats.add sums the counters (HiveStats.java:90-94).
        self.num_rows += other.num_rows
        self.raw_size += other.raw_size
        self.total_size += other.total_size
        self.num_files += other.num_files


@dataclass
class PartitionInfo:
    """One Hive-style partition: ordered string values + location + stats.

    ``ranges`` is the optional zone map: {column: [min, max]} over the
    partition's DATA columns (nulls excluded), written by
    analyze.analyze_partition_ranges and consulted by the scan's
    range-predicate pruning (input.zone_prune). Absent = never prune.

    ``blooms`` is the optional per-partition bloom index:
    {column: {"m": bits, "k": probes, "words": {word: bits}}}, written by
    analyze.analyze_partition_blooms and consulted by equality-predicate
    pruning (input.bloom_prune) — point-lookup skipping where a [min,max]
    range is too wide to exclude anything. Absent = never prune.
    """

    values: dict[str, str]
    location: str
    stats: HiveStats = field(default_factory=HiveStats)
    ranges: dict = field(default_factory=dict)
    blooms: dict = field(default_factory=dict)


# Catalog I/O retry: the reference's BackoffRetryTask shape (retry.py), but
# with a short initial delay — it fronts a local/NFS file, not a remote
# Thrift service with its 10 s default.
_CATALOG_RETRY = RetryPolicy(initial_delay_s=0.1)


class Catalog:
    """Table/partition/stats registry stored as JSON in the warehouse dir.

    Logical operations mirror the metastore calls the reference makes:
    get_table, get_partitions_by_filter (filtering happens engine-side here,
    over partition tuples), add_partition (idempotent wrt AlreadyExists,
    HiveApiOutputCommitter.java:145-160), drop_partition.
    """

    def __init__(self, warehouse_dir: str, max_tries: int = 5) -> None:
        self.warehouse_dir = warehouse_dir
        self.retry_policy = replace(_CATALOG_RETRY, max_tries=max_tries)
        os.makedirs(warehouse_dir, exist_ok=True)

    # -- persistence ---------------------------------------------------------

    @property
    def _path(self) -> str:
        return os.path.join(self.warehouse_dir, CATALOG_FILE)

    @contextmanager
    def _exclusive(self) -> Iterator[None]:
        """Cross-process lock around a load-mutate-save cycle.

        Two concurrent writers (e.g. two jobs registering different
        partitions of one table) would otherwise silently lose one writer's
        update — the reference's Thrift metastore serializes mutations
        server-side; a file catalog must do it with an flock on a sidecar.
        Reads need no lock: ``_save`` publishes atomically via os.replace.
        """
        if fcntl is None:  # pragma: no cover - non-POSIX: document + degrade
            yield
            return
        with open(self._path + ".lock", "a") as lockf:
            fcntl.flock(lockf, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(lockf, fcntl.LOCK_UN)

    def _load(self) -> dict:
        def read() -> dict:
            if not os.path.exists(self._path):
                return {"tables": {}}
            with open(self._path) as f:
                return json.load(f)

        return backoff_retry(read, self.retry_policy)

    def _save(self, doc: dict) -> None:
        def write() -> None:
            tmp = self._path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(doc, f, indent=1, sort_keys=True)
            os.replace(tmp, self._path)

        backoff_retry(write, self.retry_policy)

    # -- tables --------------------------------------------------------------

    def create_table(
        self,
        desc: TableDesc | str,
        schema: HiveTableSchema,
        if_not_exists: bool = False,
        storage_format: str = "parquet",
        versioned: bool = False,
        sort_cols: tuple[str, ...] = (),
    ) -> None:
        """Register a table. ``storage_format`` is the per-table serde
        analog (the reference stores input/output format classes + serde in
        the table storage descriptor, output/OutputInfo.java:51-111):
        parquet (default), orc, csv, or json — honored by BOTH the read and
        write paths.

        ``versioned=True`` makes the table snapshot-tracked: every committed
        write produces an immutable file set recorded as a numbered snapshot
        manifest, readable as-of any retained version (time travel).

        ``sort_cols`` declares a clustered layout: every write sorts rows by
        these columns WITHIN each task file (no extra shuffle), so parquet
        row-group min/max statistics become selective and scans with
        predicates on the sort columns skip row groups — the data-layout
        lever that matters at 100 TB (a z-order-lite; the reference's
        metastore rejects sort-cols entirely, HiveApiOutputFormat
        sanityCheck, which is a gap this engine closes)."""
        desc = TableDesc.parse(desc) if isinstance(desc, str) else desc
        with self._exclusive():
            doc = self._load()
            key = str(desc)
            if key in doc["tables"]:
                if if_not_exists:
                    return
                raise ValueError(f"table already exists: {key}")
            entry = {
                "schema": schema.to_json(),
                "location": self.table_location(desc),
                "storage_format": storage_format.lower(),
                "partitions": [],
            }
            if versioned:
                entry["versioned"] = True
                entry["current_version"] = 0
                entry["snapshots"] = []
            if sort_cols:
                unknown = set(sort_cols) - {n for n, _ in schema.data_fields}
                if unknown:
                    raise ValueError(
                        f"sort_cols {sorted(unknown)} are not data columns"
                    )
                entry["sort_cols"] = list(sort_cols)
            doc["tables"][key] = entry
            self._save(doc)

    @staticmethod
    def _entry_or_raise(doc: dict, desc: TableDesc) -> dict:
        # Mutators surface a missing table as TableNotFoundError, matching
        # get_table / the reference's spec-check contract
        # (output/CheckOutputSpecsTest.java:48-67) — not a raw KeyError.
        entry = doc["tables"].get(str(desc))
        if entry is None:
            raise TableNotFoundError(f"no such table: {desc}")
        return entry

    def list_tables(self, database: str | None = None) -> list[str]:
        """All registered ``db.table`` keys (metastore get_all_tables
        parity), optionally filtered to one database, sorted."""
        doc = self._load()
        keys = sorted(doc["tables"])
        if database is not None:
            keys = [k for k in keys if k.split(".", 1)[0] == database]
        return keys

    def get_table(self, desc: TableDesc | str) -> dict:
        desc = TableDesc.parse(desc) if isinstance(desc, str) else desc
        doc = self._load()
        entry = doc["tables"].get(str(desc))
        if entry is None:
            # Reference: missing table -> IOException at spec-check time
            # (output/CheckOutputSpecsTest.java:48-67).
            raise TableNotFoundError(f"no such table: {desc}")
        return entry

    def table_exists(self, desc: TableDesc | str) -> bool:
        try:
            self.get_table(desc)
            return True
        except TableNotFoundError:
            return False

    def get_schema(self, desc: TableDesc | str) -> HiveTableSchema:
        return HiveTableSchema.from_json(self.get_table(desc)["schema"])

    def table_location(self, desc: TableDesc | str) -> str:
        desc = TableDesc.parse(desc) if isinstance(desc, str) else desc
        return os.path.join(self.warehouse_dir, desc.database, desc.table)

    def table_format(self, desc: TableDesc | str) -> str:
        """Per-table storage format; parquet for catalogs written before the
        field existed."""
        return self.get_table(desc).get("storage_format", "parquet")

    def set_column_stats(
        self, desc: TableDesc | str, stats: dict[str, dict]
    ) -> None:
        """Store ANALYZE output ({column: {n_nonnull, n_distinct, min,
        max, ...}}) in the table entry. The reference's stats surface
        stops at table-level counters (common/HiveStats.java:34-108);
        column-level stats are the engine's extension — driver-sized
        metadata, same durability as the schema."""
        desc = TableDesc.parse(desc) if isinstance(desc, str) else desc
        with self._exclusive():
            doc = self._load()
            entry = self._entry_or_raise(doc, desc)
            entry["column_stats"] = stats
            self._save(doc)

    def get_column_stats(self, desc: TableDesc | str) -> dict[str, dict]:
        """ANALYZE output previously stored; {} if never analyzed."""
        return self.get_table(desc).get("column_stats", {})

    def table_sort_cols(self, desc: TableDesc | str) -> tuple[str, ...]:
        """Declared clustered-layout columns (empty = unsorted writes)."""
        return tuple(self.get_table(desc).get("sort_cols", ()))

    # -- schema evolution ----------------------------------------------------
    #
    # add/drop are metadata-only: no data files are rewritten. Reads resolve
    # columns BY NAME against the catalog schema (input.py passes it to the
    # scan), so files written before an add_column surface NULL for the new
    # column, and files still carrying a dropped column simply stop
    # projecting it — the by-name contract every columnar format here
    # (parquet/orc/json) honors, and csv honors positionally because columns
    # are only ever appended at the tail. Widening an existing column's type
    # is intentionally NOT offered: Spark's vectorized parquet reader
    # refuses file-vs-schema physical type mismatches, so a widen would be a
    # rewrite, not metadata (the reference's widening, HiveType.java:242-249,
    # applies to incoming WRITE values — that path already works via
    # output._conform).

    def add_column(
        self, desc: TableDesc | str, name: str, data_type
    ) -> None:
        """Append a nullable data column to the table schema."""
        desc = TableDesc.parse(desc) if isinstance(desc, str) else desc
        with self._exclusive():
            doc = self._load()
            entry = self._entry_or_raise(doc, desc)
            schema = HiveTableSchema.from_json(entry["schema"])
            taken = {n for n, _ in schema.data_fields} | set(
                schema.partition_keys
            )
            if name in taken:
                raise ValueError(f"column already exists: {name}")
            entry.pop("stamp", None)  # a schema change voids the vouch
            entry["schema"] = HiveTableSchema(
                schema.data_fields + ((name, data_type),),
                schema.partition_keys,
            ).to_json()
            self._save(doc)

    def drop_column(self, desc: TableDesc | str, name: str) -> None:
        """Remove a data column from the table schema (files keep the bytes;
        scans stop projecting them)."""
        desc = TableDesc.parse(desc) if isinstance(desc, str) else desc
        with self._exclusive():
            doc = self._load()
            entry = self._entry_or_raise(doc, desc)
            schema = HiveTableSchema.from_json(entry["schema"])
            if entry.get("storage_format", "parquet") == "csv":
                # csv maps columns POSITIONALLY: dropping any column would
                # silently shift old files' remaining fields into the wrong
                # names — a rewrite, not metadata. By-name formats only.
                raise ValueError(
                    "drop_column is unsupported on csv tables (positional "
                    "serde); rewrite the table instead"
                )
            if name in schema.partition_keys:
                raise ValueError(f"cannot drop partition key: {name}")
            if name in entry.get("sort_cols", ()):
                raise ValueError(
                    f"cannot drop sort column {name}; clear the clustered "
                    f"layout first"
                )
            remaining = tuple(
                (n, t) for n, t in schema.data_fields if n != name
            )
            if len(remaining) == len(schema.data_fields):
                raise ValueError(f"no such data column: {name}")
            if not remaining:
                raise ValueError("cannot drop the last data column")
            entry.pop("stamp", None)  # a schema change voids the vouch
            entry["schema"] = HiveTableSchema(
                remaining, schema.partition_keys
            ).to_json()
            self._save(doc)

    # -- partitions ----------------------------------------------------------

    @staticmethod
    def partition_path(location: str, values: dict[str, str]) -> str:
        # Hive-style key=value directory layout (Warehouse.makePartName parity,
        # common/HiveUtils.java:219-224).
        parts = [f"{k}={v}" for k, v in values.items()]
        return os.path.join(location, *parts)

    def list_partitions(self, desc: TableDesc | str) -> list[PartitionInfo]:
        entry = self.get_table(desc)
        return [
            PartitionInfo(
                values=p["values"],
                location=p["location"],
                stats=HiveStats(**p.get("stats", {})),
                ranges=p.get("ranges", {}),
                blooms=p.get("blooms", {}),
            )
            for p in entry["partitions"]
        ]

    def add_partition(
        self,
        desc: TableDesc | str,
        values: dict[str, str],
        stats: HiveStats | None = None,
    ) -> None:
        """Register a partition; idempotent if it already exists.

        Reference tolerates AlreadyExistsException on add_partition
        (output/HiveApiOutputCommitter.java:145-160).
        """
        desc = TableDesc.parse(desc) if isinstance(desc, str) else desc
        with self._exclusive():
            doc = self._load()
            entry = self._entry_or_raise(doc, desc)
            entry.pop("stamp", None)  # new data voids the vouch
            for p in entry["partitions"]:
                if p["values"] == values:
                    if stats is not None:
                        p["stats"] = vars(stats)
                        self._save(doc)
                    return
            entry["partitions"].append(
                {
                    "values": values,
                    "location": self.partition_path(entry["location"], values),
                    "stats": vars(stats) if stats else vars(HiveStats()),
                }
            )
            self._save(doc)

    def set_partition_ranges(
        self,
        desc: TableDesc | str,
        values: dict[str, str],
        ranges: dict,
    ) -> None:
        """Store a partition's zone map ({column: [min, max]}, nulls
        excluded at computation time). Stale ranges after new writes are
        the caller's concern — re-run analyze_partition_ranges, exactly
        like rerunning ANALYZE after a load."""
        desc = TableDesc.parse(desc) if isinstance(desc, str) else desc
        with self._exclusive():
            doc = self._load()
            entry = self._entry_or_raise(doc, desc)
            for p in entry["partitions"]:
                if p["values"] == values:
                    p["ranges"] = ranges
                    self._save(doc)
                    return
            raise PartitionSpecError(
                f"no partition {values} on {desc} to set ranges for"
            )

    def set_partition_blooms(
        self,
        desc: TableDesc | str,
        values: dict[str, str],
        blooms: dict,
    ) -> None:
        """Store a partition's bloom index ({column: {m, k, words}}).
        Same staleness contract as zone maps: re-run
        analyze_partition_blooms after new writes."""
        desc = TableDesc.parse(desc) if isinstance(desc, str) else desc
        with self._exclusive():
            doc = self._load()
            entry = self._entry_or_raise(doc, desc)
            for p in entry["partitions"]:
                if p["values"] == values:
                    p["blooms"] = blooms
                    self._save(doc)
                    return
            raise PartitionSpecError(
                f"no partition {values} on {desc} to set blooms for"
            )

    def drop_partition(self, desc: TableDesc | str, values: dict[str, str]) -> bool:
        desc = TableDesc.parse(desc) if isinstance(desc, str) else desc
        with self._exclusive():
            doc = self._load()
            entry = self._entry_or_raise(doc, desc)
            before = len(entry["partitions"])
            entry.pop("stamp", None)  # dropped data voids the vouch
            entry["partitions"] = [
                p for p in entry["partitions"] if p["values"] != values
            ]
            self._save(doc)
            return len(entry["partitions"]) < before

    def partition_exists(self, desc: TableDesc | str, values: dict[str, str]) -> bool:
        return any(p.values == values for p in self.list_partitions(desc))

    def drop_table(self, desc: TableDesc | str, delete_data: bool = False) -> None:
        """Unregister a table (metastore drop_table parity); optionally
        delete its data directory — used by staging-table workflows
        (operators/merge.py)."""
        import shutil

        desc = TableDesc.parse(desc) if isinstance(desc, str) else desc
        with self._exclusive():
            doc = self._load()
            entry = self._entry_or_raise(doc, desc)
            location = entry["location"]
            del doc["tables"][str(desc)]
            self._save(doc)
        if delete_data:
            shutil.rmtree(location, ignore_errors=True)

    # -- snapshots / time travel --------------------------------------------
    #
    # Versioned tables follow the public Iceberg/Delta model, scaled down to
    # the JSON catalog: a snapshot is an immutable manifest (full partition
    # list with per-partition data locations), the version counter advances
    # by optimistic concurrency, and old file sets stay on disk until
    # expire_snapshots. No reference analog (the Thrift metastore has none);
    # this is the capability a 100 TB training-data pipeline needs for
    # reproducible dataset versions.

    def is_versioned(self, desc: TableDesc | str) -> bool:
        return bool(self.get_table(desc).get("versioned"))

    def current_version(self, desc: TableDesc | str) -> int:
        entry = self.get_table(desc)
        if not entry.get("versioned"):
            raise SnapshotError(f"table {desc} is not versioned")
        return entry["current_version"]

    def next_version(self, desc: TableDesc | str) -> int:
        """The version a new commit WOULD get. Writers bake this into their
        snapshot directory names before writing; commit_snapshot then
        enforces that nobody else took the number in the meantime."""
        return self.current_version(desc) + 1

    def commit_snapshot(
        self,
        desc: TableDesc | str,
        version: int,
        partitions: list[dict],
        note: str = "",
    ) -> int:
        """Atomically publish snapshot ``version`` with the given manifest.

        ``partitions`` is the FULL partition list of the new version
        ([{values, location, stats}]) — unchanged partitions repeat their
        prior locations, so any retained version fully describes its file
        set. Optimistic concurrency: raises SnapshotError if ``version`` is
        not current+1 (a concurrent writer won; the caller's written files
        are orphans that expire_snapshots will never see — safe to retry).
        The live "partitions" field is synced to the new manifest so every
        unversioned code path (stats, partition_exists, partition filters)
        sees the current snapshot.
        """
        import time

        desc = TableDesc.parse(desc) if isinstance(desc, str) else desc
        with self._exclusive():
            doc = self._load()
            entry = self._entry_or_raise(doc, desc)
            if not entry.get("versioned"):
                raise SnapshotError(f"table {desc} is not versioned")
            if version != entry["current_version"] + 1:
                raise SnapshotError(
                    f"snapshot conflict on {desc}: tried to commit v{version} "
                    f"but current is v{entry['current_version']} "
                    f"(concurrent writer won; retry from next_version)"
                )
            entry["snapshots"].append(
                {
                    "version": version,
                    "committed_at": time.time(),
                    "note": note,
                    "partitions": partitions,
                }
            )
            entry["current_version"] = version
            entry["partitions"] = partitions
            self._save(doc)
        return version

    # -- artifact stamps ------------------------------------------------------
    #
    # A stamped artifact set (operators/artifacts.py) carries one build_id
    # in every row of every table. The catalog vouches for that stamp so a
    # reader can fence the set from metadata, the way the reference takes
    # table metadata from the metastore and never from the data. The vouch
    # holds for one data state only: the current_version of a versioned
    # table, or the entry itself of an unversioned one (which a rewrite
    # must drop and recreate). Any other commit, or a recreate, leaves the
    # table unvouched, and readers fall back to probing the data.

    def set_stamp(
        self, desc: TableDesc | str, build_id: str, nonempty: bool,
        version: int | None = None,
    ) -> bool:
        """Vouch that ``desc``'s current data is build ``build_id`` and
        whether it holds any row. ``version`` pins the snapshot the
        caller committed: if another commit has landed since, nothing is
        recorded (the table stays unvouched) and False is returned. One
        record per table entry, replaced on every call."""
        desc = TableDesc.parse(desc) if isinstance(desc, str) else desc
        with self._exclusive():
            doc = self._load()
            entry = self._entry_or_raise(doc, desc)
            current = entry.get("current_version")
            if version is not None and version != current:
                return False
            entry["stamp"] = {
                "build_id": build_id, "nonempty": bool(nonempty),
                "version": current,
            }
            self._save(doc)
        return True

    def stamp(self, desc: TableDesc | str) -> tuple | None:
        """(build_id, nonempty, version) while the state set_stamp
        vouched for is still current, else None. ``version`` is the
        vouched snapshot (None for an unversioned table)."""
        entry = self.get_table(desc)
        got = entry.get("stamp")
        if got is None or got["version"] != entry.get("current_version"):
            return None
        return got["build_id"], got["nonempty"], got["version"]

    def snapshot_manifest(
        self, desc: TableDesc | str, version: int | None = None
    ) -> list[PartitionInfo]:
        """The immutable partition list of ``version`` (default: current)."""
        entry = self.get_table(desc)
        if not entry.get("versioned"):
            raise SnapshotError(f"table {desc} is not versioned")
        if version is None:
            version = entry["current_version"]
        if version == 0:
            return []
        for snap in entry["snapshots"]:
            if snap["version"] == version:
                return [
                    PartitionInfo(
                        values=p["values"],
                        location=p["location"],
                        stats=HiveStats(**p.get("stats", {})),
                    )
                    for p in snap["partitions"]
                ]
        raise SnapshotError(
            f"no snapshot v{version} on {desc} (expired or never committed)"
        )

    def version_at(self, desc: TableDesc | str, timestamp: float) -> int:
        """The snapshot version visible at ``timestamp`` (unix seconds):
        the largest retained version committed at or before it. Returns 0
        (the empty pre-first-commit view) for timestamps before the first
        retained snapshot — note that after expire_snapshots, timestamps
        inside the expired range also resolve to 0 and read as empty
        rather than silently resolving to a LATER version's content."""
        entry = self.get_table(desc)
        if not entry.get("versioned"):
            raise SnapshotError(f"table {desc} is not versioned")
        best = 0
        for snap in entry["snapshots"]:
            if snap["committed_at"] <= timestamp:
                best = max(best, snap["version"])
        return best

    def list_snapshots(self, desc: TableDesc | str) -> list[dict]:
        """Version history: [{version, committed_at, note, n_partitions}]."""
        entry = self.get_table(desc)
        if not entry.get("versioned"):
            raise SnapshotError(f"table {desc} is not versioned")
        return [
            {
                "version": s["version"],
                "committed_at": s["committed_at"],
                "note": s["note"],
                "n_partitions": len(s["partitions"]),
            }
            for s in entry["snapshots"]
        ]

    def rollback_to_version(
        self, desc: TableDesc | str, version: int
    ) -> int:
        """Restore an earlier snapshot's content as a NEW version.

        Iceberg rollback semantics: history is append-only — rolling back
        to v does not delete v+1..current, it commits a new snapshot
        whose manifest is a copy of v's partition list (file locations
        are immutable snap dirs, so the copy re-references the same
        files; nothing is rewritten or moved). Time travel keeps seeing
        every version including the rolled-past ones, expire_snapshots
        reclaims them on the normal schedule, and a concurrent writer's
        commit_snapshot CAS still arbitrates races. Returns the NEW
        current version. Raises SnapshotError for unknown/expired
        ``version`` (metadata-only check; version 0 = the empty
        pre-first-commit state, restorable like any other).
        """
        desc = TableDesc.parse(desc) if isinstance(desc, str) else desc
        if version == 0:
            manifest: list[dict] = []
        else:
            manifest = [
                {
                    "values": p.values,
                    "location": p.location,
                    "stats": vars(p.stats),
                }
                for p in self.snapshot_manifest(desc, version)
            ]
        return self.commit_snapshot(
            desc,
            self.next_version(desc),
            manifest,
            note=f"rollback to v{version}",
        )

    def expire_snapshots(
        self, desc: TableDesc | str, keep_last: int = 1,
        clean_orphans: bool = False,
        orphan_min_age_s: float = 3 * 3600.0,
    ) -> list[str]:
        """Drop all but the last ``keep_last`` snapshots and delete data
        directories no retained snapshot references. Returns deleted paths.

        The deletion set is (locations of expired snapshots) minus
        (locations of retained ones) — a location shared with any retained
        version survives, so time travel over the retained window stays
        intact while storage stops growing without bound.

        ``clean_orphans=True`` additionally reclaims ``snap-*`` /
        ``_staging-*`` directories under the table tree that NO retained
        snapshot references — the file sets of write attempts that lost
        the optimistic-concurrency race or crashed before commit (every
        attempt writes to a unique directory; only commit makes one
        visible). An IN-FLIGHT attempt (written but not yet committed)
        looks identical to a lost one, so orphan candidates younger than
        ``orphan_min_age_s`` (directory mtime; default 3h, Iceberg's
        remove-orphan-files convention of an age threshold) are left
        alone — a live writer commits long before that. Pass 0 only when
        no concurrent writers can exist (single-writer maintenance
        windows).
        """
        import shutil

        desc = TableDesc.parse(desc) if isinstance(desc, str) else desc
        if keep_last < 1:
            raise SnapshotError("keep_last must be >= 1")
        with self._exclusive():
            doc = self._load()
            entry = self._entry_or_raise(doc, desc)
            if not entry.get("versioned"):
                raise SnapshotError(f"table {desc} is not versioned")
            location = entry["location"]
            snaps = entry["snapshots"]
            if len(snaps) <= keep_last and not clean_orphans:
                return []
            expired = snaps[:-keep_last] if len(snaps) > keep_last else []
            retained = snaps[-keep_last:] if len(snaps) > keep_last else snaps
            keep_locs = {
                os.path.normpath(p["location"])
                for s in retained
                for p in s["partitions"]
            }
            drop_locs = {
                os.path.normpath(p["location"])
                for s in expired
                for p in s["partitions"]
            } - keep_locs
            if clean_orphans:
                drop_locs |= self._orphan_snapshot_dirs(
                    location, keep_locs, min_age_s=orphan_min_age_s
                )
            entry["snapshots"] = retained
            self._save(doc)
        for loc in sorted(drop_locs):
            shutil.rmtree(loc, ignore_errors=True)
        return sorted(drop_locs)

    @staticmethod
    def _orphan_snapshot_dirs(
        location: str, keep_locs: set[str], min_age_s: float = 0.0
    ) -> set[str]:
        """snap-*/_staging-* dirs under ``location`` that no retained
        snapshot references (driver-sized directory walk; snap dirs are
        leaves, so the walk never descends into data files). Dirs whose
        mtime is within ``min_age_s`` of now are skipped: they may belong
        to an in-flight write attempt that has not committed yet."""
        import time

        orphans: set[str] = set()
        if not os.path.isdir(location):
            return orphans
        cutoff = time.time() - min_age_s
        stack = [location]
        while stack:
            d = stack.pop()
            for name in sorted(os.listdir(d)):
                sub = os.path.join(d, name)
                if not os.path.isdir(sub):
                    continue
                if name.startswith(("snap-", "_staging-")):
                    if os.path.normpath(sub) in keep_locs:
                        continue
                    try:
                        if os.path.getmtime(sub) > cutoff:
                            continue  # too young — possible in-flight writer
                    except OSError:
                        continue  # raced with its writer/cleaner: leave it
                    orphans.add(os.path.normpath(sub))
                elif not name.startswith(("_", ".")):
                    stack.append(sub)
        return orphans

    # -- stats ---------------------------------------------------------------

    def stats_of(
        self, desc: TableDesc | str, partitions: list[PartitionInfo] | None = None
    ) -> HiveStats:
        """Sum stats over (possibly filtered) partitions.

        Parity with HiveUtils.statsOf (common/HiveUtils.java:122-140).
        """
        if partitions is None:
            partitions = self.list_partitions(desc)
        total = HiveStats()
        for p in partitions:
            total.add(p.stats)
        return total

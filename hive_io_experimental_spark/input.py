"""Scan API: ScanSpec -> DataFrame.

The reference's read surface (input/HiveInput.java:66-100,
input/HiveInputDescription.java:41-51) is
    readTable(db.table, columns?, partitionFilter?, numSplits?) -> records.
Spark-first translation: the spec compiles to ``spark.read.parquet`` +
``select`` + ``filter`` and Catalyst does partition pruning, column pruning
and split planning (the reference hand-rolls all three —
HiveApiInputFormat.java:226-279, 290-309). ``num_splits`` maps to an optional
repartition, only honored when the caller really wants to override Spark's
task planning.

The partition filter keeps the reference's restriction: it may reference
*partition columns only* (the metastore evaluates it server-side —
HiveApiInputFormat.java:300-303). We validate by resolving the expression
against a schema containing only the partition columns.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hive_io_experimental_spark.catalog import Catalog, HiveStats, TableDesc
from hive_io_experimental_spark.errors import (
    HiveIOError,
    PartitionFilterError,
    SnapshotError,
)
from hive_io_experimental_spark.schema import HiveTableSchema


@dataclass(frozen=True)
class ScanSpec:
    """HiveInputDescription parity (input/HiveInputDescription.java:41-51).

    table: "db.table" in a warehouse catalog, or a bare parquet path/dir.
    columns: projection; empty = all columns (reference semantics).
    partition_filter: boolean SQL over partition columns only.
    num_splits: optional parallelism override (0 = let Spark decide).
    limit: row limit (the tailer's --limit, TailerCmd.java:251-265).
    """

    table: str
    columns: tuple[str, ...] = ()
    partition_filter: str = ""
    num_splits: int = 0
    limit: int | None = None
    # Time travel: read a versioned table as of this snapshot version
    # (None = current). Only valid for catalog tables created with
    # versioned=True; see catalog.py's snapshot section.
    as_of_version: int | None = None
    # Or as of a wall-clock instant (unix seconds): resolves to the largest
    # snapshot committed at or before it. Mutually exclusive with
    # as_of_version.
    as_of_timestamp: float | None = None
    # Zone-map pruning: conjunction of (column, op, literal) comparisons
    # over DATA columns, e.g. (("value", ">=", 350.0),). The predicate is
    # ALWAYS applied to the scan (semantics never change); when the
    # catalog carries partition ranges (analyze_partition_ranges), whole
    # partitions whose [min, max] cannot satisfy a term are skipped at
    # plan time — stats-driven skipping on non-partition columns, which
    # directory pruning cannot do. Structured terms (not a SQL string) so
    # the interval check needs no expression parsing. Ops: < <= > >= =.
    range_predicates: tuple = ()
    # Skip unreadable files instead of failing the scan — parity with the
    # reference simple-API iterator, which logs and skips a split whose
    # reader cannot be created (input/HiveInput.java:150-199). Maps to the
    # file-source ignoreCorruptFiles option so the skip happens per-file
    # in the tasks, not as a session-wide conf mutation. Fully effective
    # for catalog tables (schema pinned by the catalog, like the
    # reference's metastore, so no footer is read at plan time); a bare
    # path must still infer its schema from footers, and a corrupt footer
    # can fail that inference before the option applies.
    ignore_corrupt_files: bool = False


def validate_partition_filter(
    spark: SparkSession, filter_expr: str, partition_keys: tuple[str, ...]
) -> None:
    """Raise PartitionFilterError unless the filter resolves using only
    partition columns (all STRING, per the reference invariant).

    Implemented by resolving against an empty DataFrame whose schema is just
    the partition keys — any reference to a data column fails analysis, which
    is exactly the metastore-side restriction the reference relies on.
    """
    if not filter_expr:
        return
    if not partition_keys:
        raise PartitionFilterError(
            "partition filter given but table has no partition columns"
        )
    probe_schema = T.StructType(
        [T.StructField(k, T.StringType(), True) for k in partition_keys]
    )
    probe = spark.createDataFrame([], probe_schema)
    try:
        probe.filter(F.expr(filter_expr)).schema  # force analysis
    except Exception as exc:  # AnalysisException / ParseException
        raise PartitionFilterError(
            f"invalid partition filter {filter_expr!r}: {exc}"
        ) from exc


class HiveInput:
    """Read-side entry point (HiveInput parity, input/HiveInput.java)."""

    def __init__(self, spark: SparkSession, catalog: Catalog | None = None) -> None:
        self.spark = spark
        self.catalog = catalog

    # -- core scan -----------------------------------------------------------

    def read_table(self, spec: ScanSpec) -> DataFrame:
        """ScanSpec -> DataFrame with projection/pruning pushed to the scan.

        Order of operations matters for pushdown: filter and select are
        applied directly on the scan so Catalyst pushes them into the parquet
        reader (PushedFilters / ReadSchema); limit stays logical so
        CollectLimit can short-circuit.
        """
        as_of = spec.as_of_version
        if spec.as_of_timestamp is not None:
            if as_of is not None:
                raise SnapshotError(
                    "as_of_version and as_of_timestamp are mutually exclusive"
                )
            if self.catalog is None or not self.catalog.table_exists(spec.table):
                raise SnapshotError(
                    f"as_of_timestamp requires a versioned catalog table; "
                    f"{spec.table} is not in the catalog"
                )
            # version 0 (an instant before the first retained commit) reads
            # as the empty view — _load returns the empty-manifest frame
            as_of = self.catalog.version_at(spec.table, spec.as_of_timestamp)
        from hive_io_experimental_spark import conf as _conf

        ignore_corrupt = spec.ignore_corrupt_files or (
            _conf.IGNORE_CORRUPT_FILES.get(self.spark)
        )
        df, partition_keys = self._load(spec.table, as_of, ignore_corrupt)

        if spec.partition_filter:
            validate_partition_filter(
                self.spark, spec.partition_filter, partition_keys
            )
            df = df.filter(F.expr(spec.partition_filter))

        if spec.range_predicates:
            df = self._apply_range_predicates(spec, as_of, df, partition_keys)

        if spec.columns:
            missing = [c for c in spec.columns if c not in df.columns]
            if missing:
                # Reference: column name -> id resolution fails fast
                # (HiveApiInputFormat.java:264-279).
                raise HiveIOError(f"no such columns: {missing}")
            df = df.select(*spec.columns)

        if spec.num_splits and spec.num_splits > 0:
            df = df.repartition(spec.num_splits)

        if spec.limit is not None:
            df = df.limit(spec.limit)
        return df

    def read_records(self, spec: ScanSpec):
        """Pull-based iterator of typed records (simple-API parity).

        The reference's simple API returns Iterable<HiveReadableRecord>
        (HiveInput.java:66-100). ``toLocalIterator`` streams partitions to
        the driver one at a time — same lazy, one-reader-at-a-time shape.
        """
        from hive_io_experimental_spark.records import HiveReadableRecord

        df = self.read_table(spec)
        schema = HiveTableSchema.from_struct_type(df.schema)
        for row in df.toLocalIterator():
            yield HiveReadableRecord(row, schema)

    def read_beans(self, spec: ScanSpec, bean_class: type):
        """Record -> POJO mapping (HiveInput.readTable(desc, rowClass) parity,
        input/HiveInput.java:110-145; bean/UnsafeRowToBean.java:46-72)."""
        from hive_io_experimental_spark.records import row_to_bean

        df = self.read_table(spec)
        for row in df.toLocalIterator():
            yield row_to_bean(row, bean_class)

    # -- stats ---------------------------------------------------------------

    def stats_of(self, spec: ScanSpec) -> HiveStats:
        """Stats summed over partitions matching the filter
        (HiveUtils.statsOf parity, common/HiveUtils.java:122-140)."""
        if self.catalog is None or not self.catalog.table_exists(spec.table):
            df = self.read_table(ScanSpec(table=spec.table))
            if spec.partition_filter:
                # bare paths have no catalog to validate against, but
                # Spark's partition discovery supplies the key columns —
                # apply the filter directly on the discovered frame
                df = df.filter(F.expr(spec.partition_filter))
            return HiveStats(num_rows=df.count())
        parts = self.catalog.list_partitions(spec.table)
        if spec.partition_filter:
            schema = self.catalog.get_schema(spec.table)
            validate_partition_filter(
                self.spark, spec.partition_filter, schema.partition_keys
            )
            rows = [p.values for p in parts]
            if rows:
                pdf = self.spark.createDataFrame(rows)
                kept = {
                    tuple(sorted(r.asDict().items()))
                    for r in pdf.filter(F.expr(spec.partition_filter)).collect()
                }
                parts = [
                    p for p in parts if tuple(sorted(p.values.items())) in kept
                ]
        return self.catalog.stats_of(spec.table, parts)

    # -- helpers -------------------------------------------------------------

    def _apply_range_predicates(
        self, spec: ScanSpec, as_of, df: DataFrame,
        partition_keys: tuple[str, ...],
    ) -> DataFrame:
        """Apply range predicates; prune zone-map-excluded partitions.

        The data filter is unconditional (pruning never changes
        semantics). Pruning compiles to a partition-value filter, which
        Catalyst turns into directory pruning — no bespoke file-listing
        machinery, the skip rides the same path as partition_filter.
        Versioned as-of reads skip pruning (ranges describe the CURRENT
        content) — conservative, never wrong.
        """
        cond = None
        for c, op, v in spec.range_predicates:
            term = _range_term(c, op, v)
            cond = term if cond is None else (cond & term)
        # (read_table resolves as_of_timestamp to a version before calling,
        # so `as_of is None` alone excludes every time-travel read)
        if (
            partition_keys
            and as_of is None
            and self.catalog is not None
            and self.catalog.table_exists(spec.table)
        ):
            parts = self.catalog.list_partitions(spec.table)
            kept = bloom_prune(
                zone_prune(parts, spec.range_predicates),
                spec.range_predicates,
            )
            if len(kept) < len(parts):
                # EXCLUDE the provably-skippable registered partitions,
                # never whitelist the kept ones: rows from a directory the
                # catalog doesn't know about (crashed write before
                # add_partition — the state fsck/vacuum exists for) must
                # survive pruning exactly as they survive an unpruned scan
                kept_ids = {id(p) for p in kept}
                drop = F.lit(False)
                for p in parts:
                    if id(p) in kept_ids:
                        continue
                    term = F.lit(True)
                    for k, v in p.values.items():
                        term = term & (F.col(k) == F.lit(v))
                    drop = drop | term
                df = df.filter(~drop)
        return df.filter(cond)

    def _load(
        self,
        table: str,
        as_of_version: int | None = None,
        ignore_corrupt_files: bool = False,
    ) -> tuple[DataFrame, tuple[str, ...]]:
        if self.catalog is not None and self.catalog.table_exists(table):
            from hive_io_experimental_spark.sources.formats import reader_options

            schema = self.catalog.get_schema(table)
            location = self.catalog.table_location(table)
            fmt = self.catalog.table_format(table)
            reader = self.spark.read.options(**reader_options(fmt))
            if ignore_corrupt_files:
                reader = reader.option("ignoreCorruptFiles", "true")
            if self.catalog.is_versioned(table):
                # Time travel: the scan's file set is the chosen snapshot's
                # manifest. All leaf snap dirs feed ONE FileScan; basePath
                # recovers the partition columns from the k=v path segments
                # (the snap-NNNNN component is not k=v, so discovery skips
                # it), and the explicit schema pins them to string.
                manifest = self.catalog.snapshot_manifest(table, as_of_version)
                if not manifest:
                    df = self.spark.createDataFrame(
                        [], schema.to_struct_type()
                    )
                    return df, schema.partition_keys
                if schema.partition_keys:
                    reader = reader.option("basePath", location)
                reader = reader.schema(schema.to_struct_type()).format(fmt)
                # Spark lists more root paths than the discovery
                # threshold with a Spark job while it builds the plan;
                # chunks at the threshold, unioned, list on the driver
                step = max(1, int(self.spark.conf.get(
                    "spark.sql.sources.parallelPartitionDiscovery.threshold"
                )))
                locs = [p.location for p in manifest]
                df = reader.load(locs[:step])
                for i in range(step, len(locs), step):
                    df = df.union(reader.load(locs[i:i + step]))
                return df, schema.partition_keys
            if as_of_version is not None:
                raise SnapshotError(
                    f"as_of_version given but table {table} is not versioned"
                )
            if not os.path.exists(location):
                # created but never written (e.g. a rewrite that crashed
                # between create and write): empty, like an empty manifest
                df = self.spark.createDataFrame([], schema.to_struct_type())
                return df, schema.partition_keys
            if schema.partition_keys:
                # Hive-style key=value dirs; keep partition values as strings
                # (reference invariant, HiveReadableRecord.java:140-146).
                reader = reader.option("basePath", location)
            df = reader.schema(schema.to_struct_type()).format(fmt).load(location)
            return df, schema.partition_keys
        if as_of_version is not None:
            raise SnapshotError(
                f"as_of_version requires a versioned catalog table; "
                f"{table} is not in the catalog"
            )
        # Bare path mode: read parquet directly; partition columns are
        # whatever Hive-style dirs Spark discovers.
        reader = self.spark.read
        if ignore_corrupt_files:
            reader = reader.option("ignoreCorruptFiles", "true")
        df = reader.parquet(table)
        return df, ()


def register_catalog_views(
    spark, catalog, database: str | None = None,
    as_of: dict[str, int] | None = None,
) -> list[str]:
    """Register every catalog table as a Spark temp view named after the
    table (``db.table`` -> view ``table``), reading through the engine's
    own scan path — per-table serde, partition columns, and (optionally)
    snapshot versions are honored, which a raw ``spark.read.parquet``
    over the directory would get wrong for csv/json/versioned tables.

    ``as_of`` pins named tables to historical versions so plain SQL can
    query time travel; keys may be the full ``db.table`` string (always
    unambiguous) or the bare table name. Returns the view names
    registered; plain ``spark.sql(...)`` then works over them (the
    engine's catalog-backed SQL surface — the reference has no SQL at
    all, SURVEY §2.2).

    Two tables with the same bare name in different databases would
    silently shadow each other (last registered wins), so that case
    raises — pass ``database=`` to disambiguate.
    """
    from hive_io_experimental_spark.catalog import TableDesc

    inp = HiveInput(spark, catalog)
    names: list[str] = []
    sources: dict[str, str] = {}  # view name -> full db.table it came from
    for key in catalog.list_tables():
        desc = TableDesc.parse(key)
        if database is not None and desc.database != database:
            continue
        if desc.table in sources:
            raise HiveIOError(
                f"duplicate view name {desc.table!r}: both "
                f"{sources[desc.table]!r} and {key!r} map to it — pass "
                f"database= to register one database's tables"
            )
        sources[desc.table] = key
        version = (as_of or {}).get(key, (as_of or {}).get(desc.table))
        df = inp.read_table(
            ScanSpec(table=key, as_of_version=version)
            if version is not None
            else ScanSpec(table=key)
        )
        df.createOrReplaceTempView(desc.table)
        names.append(desc.table)
    return names


def _range_term(col: str, op: str, v):
    c = F.col(col)
    if op == ">":
        return c > F.lit(v)
    if op == ">=":
        return c >= F.lit(v)
    if op == "<":
        return c < F.lit(v)
    if op == "<=":
        return c <= F.lit(v)
    if op in ("=", "=="):
        return c == F.lit(v)
    raise HiveIOError(f"unsupported range predicate op: {op!r}")


def _range_excludes(rng, op: str, v) -> bool:
    """Can NO value in [lo, hi] satisfy (x op v)? Conservative: unknown
    range or incomparable types keep the partition."""
    if not rng or len(rng) != 2:
        return False
    lo, hi = rng
    try:
        if op == ">":
            return hi <= v
        if op == ">=":
            return hi < v
        if op == "<":
            return lo >= v
        if op == "<=":
            return lo > v
        if op in ("=", "=="):
            return v < lo or hi < v
    except TypeError:
        return False
    return False


def zone_prune(partitions, predicates) -> list:
    """Partitions whose zone maps cannot rule out the conjunction.

    A partition is skipped iff SOME term is provably unsatisfiable over
    that partition's stored [min, max] (NULLs never satisfy a comparison,
    so null-excluded ranges are safe). Partitions without ranges for a
    referenced column always survive — staleness or missing ANALYZE can
    only cost performance, never rows.
    """
    kept = []
    for p in partitions:
        ranges = getattr(p, "ranges", {}) or {}
        if any(
            _range_excludes(ranges.get(c), op, v) for c, op, v in predicates
        ):
            continue
        kept.append(p)
    return kept


def _bloom_excludes(bloom: dict, v) -> bool:
    """True iff the partition bloom PROVES value ``v`` absent.

    Reproduces the stamp side's probe positions exactly: md5 of
    'bloom<i>:<value-as-string>', first 15 hex chars as an integer, mod
    m (functions/hashing.portable_hash64's construction), 32-bit words.
    A missing word or an unset bit at any probe is a definitive miss.

    Only int and str probe values are eligible: their Python str() form
    matches the Spark string cast the stamp side hashed. Anything else
    (float 42.0 -> '42.0' vs '42', bool True -> 'True' vs 'true') could
    "prove" a miss for a value the partition actually holds — so those
    types never prune (the zone_prune safety convention: unknown keeps
    the partition).
    """
    import hashlib

    if isinstance(v, bool) or not isinstance(v, (int, str)):
        return False
    try:
        m, k, words = bloom["m"], bloom["k"], bloom["words"]
    except (KeyError, TypeError):
        return False
    if not isinstance(m, int) or m <= 0 or not isinstance(k, int) or k <= 0:
        return False  # corrupt geometry: keep the partition, never crash
    for i in range(k):
        digest = hashlib.md5(f"bloom{i}:{v}".encode()).hexdigest()
        pos = int(digest[:15], 16) % m
        word, bit = divmod(pos, 32)
        if not (int(words.get(str(word), 0)) >> bit) & 1:
            return True
    return False


def bloom_prune(partitions, predicates) -> list:
    """Partitions whose bloom indexes cannot rule out the conjunction.

    Complements zone_prune for EQUALITY predicates: a [min, max] range
    rarely excludes a point probe (ids span every partition's range),
    but the per-partition bloom of distinct values usually does. Same
    safety contract: a partition is skipped only on a PROVEN miss (bloom
    false positives keep partitions, never drop them), partitions
    without a bloom for a referenced column always survive, and NULL
    probes never prune (NULL satisfies no equality).
    """
    eq = [
        (c, v)
        for c, op, v in predicates
        if op in ("=", "==") and v is not None
    ]
    if not eq:
        return list(partitions)
    kept = []
    for p in partitions:
        blooms = getattr(p, "blooms", {}) or {}
        if any(
            c in blooms and _bloom_excludes(blooms[c], v) for c, v in eq
        ):
            continue
        kept.append(p)
    return kept

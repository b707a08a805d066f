"""Stamped artifact sets: how a persisted index, model or vocab is
written, fenced, appended and compared.

Every persisted artifact here (the LSH, PQ and IVF-PQ indexes, the NB
model, the BPE vocab) is a SET of catalog tables that only make sense
together, and rewriting a set is not atomic (drop, create, write per
table). Each set therefore carries one ``build_id`` stamp in every
table, and every reader refuses a set that cannot be one build:

- a table without the ``build_id`` column predates the stamp;
- an EMPTY table is a rebuild torn between create and write (every
  build writes >= 1 row per table, except where the meta row records a
  legitimately empty table);
- mixed stamps across the tables are a rebuild torn mid-way.

Appends keep the stored stamp (geometry is the artifact's identity), so
only a rebuild changes it — which is also how a serving stream notices
that the set it planned against is gone (``expect_build_id``).

The catalog vouches for the stamp (Catalog.set_stamp): every write and
append through this module records, per table, the build and whether
the table holds rows, for the exact data state it committed. A set whose
tables are all vouched, non-empty and at one build is fenced from
metadata alone, with no Spark job, and its geometry comes from a memo
keyed on the build. Any other state (a raw write, a recreate, a crash
before the vouch, a set built before vouching existed) falls back to
probing the data, which is also where every fence message comes from.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hive_io_experimental_spark.functions.reuse import run_concurrently

__all__ = [
    "Part",
    "ArtifactSet",
    "write_set",
    "read_set",
    "append_fresh",
    "append_stamped",
    "mismatch_count",
]


@dataclass(frozen=True)
class Part:
    """One table of a set. ``read`` says what readers get and how the
    fallback probe fences it:

    - ``"meta"``: the one-row authority table's Row (probe: first());
    - ``"rows"``: a KB-sized geometry table as dicts, for the caller's
      driver-side math (probe: one collect). Vouched sets answer
      ``meta`` and ``rows`` from a memo keyed on the build;
    - ``"stamp"``: a corpus-sized table as a frame (probe: one sampled
      stamp). A vouched set's frame reads the vouched snapshot.

    ``empty_if`` names a meta count column: when it is 0 the table is
    empty by construction, and a non-empty table is a torn rebuild."""

    label: str
    suffix: str
    read: str
    versioned: bool = False
    empty_if: str | None = None


@dataclass(frozen=True)
class ArtifactSet:
    """A declared table set. ``build`` is the verb every fence message
    tells the user to re-run; ``meta_first`` commits the first part
    before the rest (the sets whose readers treat meta as the
    authority); ``change`` names what trips a serving stream."""

    kind: str
    build: str
    parts: tuple
    meta_first: bool = False
    change: str = "REBUILT"


def write_set(spark, catalog, artifact: ArtifactSet, name: str,
              tables: dict) -> str:
    """Drop, create, stamp and write every table of the set under one
    fresh build_id and return it. ``tables`` maps each part label to
    (columns, frame or row tuples): the data columns without build_id,
    in table order. Each table is vouched in the catalog after its write
    commits. Any crash between the drops and the last write leaves an
    empty table or mixed stamps, unvouched, which read_set refuses."""
    import uuid

    from pyspark.sql import types as T

    from hive_io_experimental_spark.output import HiveOutput, WriteSpec
    from hive_io_experimental_spark.schema import HiveTableSchema

    bid = uuid.uuid4().hex
    frames = []
    for part in artifact.parts:
        tbl = name + part.suffix
        cols, frame = tables[part.label]
        if isinstance(frame, list):
            frame = spark.createDataFrame(
                frame, T.StructType([T.StructField(n, t) for n, t in cols])
            )
        frames.append((tbl, frame.withColumn("build_id", F.lit(bid))))
        if catalog.table_exists(tbl):
            catalog.drop_table(tbl, delete_data=True)
        catalog.create_table(
            tbl, HiveTableSchema((*cols, ("build_id", T.StringType()))),
            versioned=part.versioned,
        )
    def write(tbl, frame, versioned):
        # one HiveOutput per write: its last_write_stats is per-instance
        # state, which concurrent writes through a shared one would race
        # on. A fresh versioned table commits v1.
        out = HiveOutput(spark, catalog)
        out.write_table(WriteSpec(table=tbl), frame)
        catalog.set_stamp(tbl, bid, out.last_write_stats.n_rows > 0,
                          version=1 if versioned else None)

    writes = [
        (lambda t=tbl, fr=fr, v=part.versioned: write(t, fr, v))
        for part, (tbl, fr) in zip(artifact.parts, frames)
    ]
    if artifact.meta_first:
        writes.pop(0)()
    # the remaining tables are independent, so small writes ride the
    # big ones' task tails
    run_concurrently(*writes)
    return bid


def _fence_error(op, artifact, name, label, what) -> ValueError:
    return ValueError(
        f"{op}: {artifact.kind} {name}'s {label} table {what}. Re-run "
        f"{artifact.build} before using it."
    )


def read_set(spark, catalog, artifact: ArtifactSet, name: str, op: str,
             expect_build_id: str | None = None,
             first: dict | None = None) -> tuple[str, dict]:
    """Fence the stored set and return (build_id, parts): per part
    label, the meta Row, the rows (dicts) or the table's frame, plus the
    results of the caller's ``first`` thunks under their keys.

    The catalog vouches first: when every table is vouched non-empty
    at one build (and ``expect_build_id``, which pins a stream to the
    build it was planned against, matches), the set is fenced with no
    Spark job. Stamp parts then read the vouched snapshot, meta and rows
    parts come from the build memo, and the ``first`` thunks run inline.

    Otherwise the data is probed: every table is read and probed inside
    its own thunk, all thunks run concurrently, and errors surface in
    call order: the ``first`` thunks, then the parts in declared order —
    so the meta table's diagnostic wins over any table it is the
    authority for."""
    first = first or {}
    vouched = _vouched(catalog, artifact, name, expect_build_id)
    if vouched is not None:
        got = _read_vouched(spark, catalog, artifact, name, first, *vouched)
        if got is not None:
            return got
    return _probe_set(spark, catalog, artifact, name, op, expect_build_id,
                      first)


# (warehouse, table) -> (build_id, version, session, part): the last
# vouched state read per table in this process, with its meta Row, rows or
# frame. Geometry cannot change without a new build_id and a snapshot
# never changes, so a hit needs no Spark job and no plan-time file
# listing. A frame belongs to its session, so a hit needs that too.
_MEMO: dict = {}
_MEMO_LOCK = threading.Lock()


def _own(found):
    """A caller-owned copy of a memoized part: meta Rows and frames are
    immutable; each row dict and each of its list values are copied, so
    a caller that edits its geometry cannot edit the memo."""
    if isinstance(found, list):
        return [
            {k: list(v) if isinstance(v, list) else v for k, v in r.items()}
            for r in found
        ]
    return found


def _memo_key(catalog, tbl: str) -> tuple:
    from hive_io_experimental_spark.catalog import TableDesc

    return os.path.abspath(catalog.warehouse_dir), str(TableDesc.parse(tbl))


def _vouched(catalog, artifact, name, expect_build_id):
    """(build_id, per-part vouched versions) when the catalog vouches
    every table of the set as non-empty and of one build, else None."""
    from hive_io_experimental_spark.errors import TableNotFoundError

    try:
        stamps = [catalog.stamp(name + p.suffix) for p in artifact.parts]
    except TableNotFoundError:
        return None
    if any(s is None or not s[1] for s in stamps):
        return None
    bids = {s[0] for s in stamps}
    if len(bids) > 1 or (expect_build_id is not None
                         and expect_build_id not in bids):
        return None
    return bids.pop(), [s[2] for s in stamps]


def _read_vouched(spark, catalog, artifact, name, first, bid, versions):
    """read_set's answer for a vouched set, or None when a memo miss
    reads rows of another build (a rebuild raced the read): the probe
    then decides."""
    from hive_io_experimental_spark.input import HiveInput, ScanSpec

    inp = HiveInput(spark, catalog)
    parts, misses = {}, []
    for part, version in zip(artifact.parts, versions):
        with _MEMO_LOCK:
            hit = _MEMO.get(_memo_key(catalog, name + part.suffix))
        if hit is not None and hit[:3] == (bid, version, spark):
            parts[part.label] = _own(hit[3])
        else:
            misses.append((part, version))

    def fetch(part, version):
        df = inp.read_table(
            ScanSpec(table=name + part.suffix, as_of_version=version)
        )
        if part.read == "stamp":
            return df
        if part.read == "meta":
            row = df.first()
            return row if row is not None and row["build_id"] == bid \
                else None
        rows = [r.asDict() for r in df.collect()]
        return rows if rows and all(r["build_id"] == bid for r in rows) \
            else None

    got = run_concurrently(
        *first.values(), *((lambda m=m: fetch(*m)) for m in misses)
    )
    for (part, version), found in zip(misses, got[len(first):]):
        if found is None:
            return None
        with _MEMO_LOCK:
            _MEMO[_memo_key(catalog, name + part.suffix)] = (
                bid, version, spark, found
            )
        parts[part.label] = _own(found)
    return bid, {**dict(zip(first, got)), **parts}


def _probe_set(spark, catalog, artifact, name, op, expect_build_id, first):
    """read_set's fallback: fence the set by probing its data."""
    from hive_io_experimental_spark.input import HiveInput, ScanSpec

    inp = HiveInput(spark, catalog)

    def _probe(part):
        df = inp.read_table(ScanSpec(table=name + part.suffix))
        if part.read == "meta":
            row = df.first()
            if row is None:
                raise ValueError(
                    f"{op}: empty meta table {name}{part.suffix} — run "
                    f"{artifact.build} first"
                )
            return df, row
        if "build_id" not in df.columns:
            return df, df.first()
        if part.read == "rows":
            return df, [r.asDict() for r in df.collect()]
        return df, df.select("build_id").first()

    got = run_concurrently(
        *first.values(),
        *((lambda p=part: _probe(p)) for part in artifact.parts),
    )
    parts = dict(zip(first, got))
    meta = None
    stamps = {}
    for part, (df, found) in zip(artifact.parts, got[len(first):]):
        if part.read == "meta":
            meta = found
        if part.empty_if is not None and int(meta[part.empty_if]) == 0:
            if found:
                raise ValueError(
                    f"{op}: meta records {part.empty_if} = 0 for {name} "
                    f"but the {part.label} table is non-empty — a rebuild "
                    f"was torn mid-way and stale {part.label} rows "
                    f"survive from the previous build. Re-run "
                    f"{artifact.build}."
                )
            parts[part.label] = [] if part.read == "rows" else df
            continue
        if "build_id" not in df.columns:
            raise _fence_error(
                op, artifact, name, part.label,
                "has no build_id column — it predates the torn-rebuild "
                "stamp",
            )
        if not found:
            raise _fence_error(
                op, artifact, name, part.label,
                "is EMPTY — a rebuild was torn between create and write",
            )
        row = found[0] if part.read == "rows" else found
        stamps[part.label] = row["build_id"]
        parts[part.label] = df if part.read == "stamp" else found
    if len(set(stamps.values())) > 1:
        listing = ", ".join(f"{k} {v!r}" for k, v in stamps.items())
        raise ValueError(
            f"{op}: {artifact.kind} {name} has mixed build_id stamps "
            f"across its tables ({listing}) — a torn REBUILD: a rebuild "
            f"crashed mid-way. Re-run {artifact.build} before using it."
        )
    bid = next(iter(stamps.values()))
    if expect_build_id is not None and bid != expect_build_id:
        raise ValueError(
            f"{op}: {artifact.kind} {name} was {artifact.change} "
            f"mid-stream (planned against build {expect_build_id!r}, now "
            f"{bid!r}) — the stream's plan is bound to the old build. "
            f"Restart the stream to serve the new {artifact.kind}."
        )
    return bid, parts


def append_fresh(new: DataFrame, stored: DataFrame, bid: str) -> tuple:
    """(fresh rows, their count): the batch rows whose id the stored
    table lacks, stamped with the stored build. The anti-join makes a
    re-delivered batch append nothing. localCheckpoint cuts lineage
    because the append rewrites the very table this plan scans (the
    same-path-scan rule, operators/ingestion.py); eager=False plus
    count() materializes it and answers the emptiness probe in one
    job."""
    fresh = (
        new.join(stored.select("id"), "id", "left_anti")
        .withColumn("build_id", F.lit(bid))
        .localCheckpoint(eager=False)
    )
    return fresh, fresh.count()


def append_stamped(spark, catalog, table: str, fresh: DataFrame, bid: str,
                   note: str) -> int:
    """Commit ``fresh`` (rows stamped ``bid``) as one snapshot append to
    the versioned ``table`` and return the committed version. The
    catalog vouches for that version only when it vouched for the one
    the append built on, at the same build: every row of a vouched
    table then came through a stamped write. A table left unvouched (a
    raw append, a crash before the vouch) stays so until a rebuild, and
    its readers keep probing."""
    from hive_io_experimental_spark.output import HiveOutput, WriteSpec

    prior = catalog.stamp(table)
    version = HiveOutput(spark, catalog).append_table(
        WriteSpec(table=table), fresh, note=note
    )
    if prior is not None and prior[0] == bid and prior[2] == version - 1:
        rows = catalog.stats_of(
            table, catalog.snapshot_manifest(table, version)
        ).num_rows
        catalog.set_stamp(table, bid, rows > 0, version=version)
    return version


def mismatch_count(served: DataFrame, direct: DataFrame,
                   name: str = "n_mismatch") -> DataFrame:
    """One-row (``name``) count of rows in either frame but not the
    other, multiset-exact: the consistency checks' proof that serving
    from the stored set equals computing directly."""
    return served.exceptAll(direct).unionAll(direct.exceptAll(served)).agg(
        F.count(F.lit(1)).cast("long").alias(name)
    )

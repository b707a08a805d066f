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
"""

from __future__ import annotations

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
    "mismatch_count",
]


@dataclass(frozen=True)
class Part:
    """One table of a set. ``read`` says how readers fence it:

    - ``"meta"``: the one-row authority table, fetched with first();
    - ``"rows"``: a KB-sized geometry table, collected once (the rows
      serve the fence and the caller's driver-side math);
    - ``"stamp"``: a corpus-sized table, one sampled stamp; the caller
      gets the frame that was probed.

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
    in table order. Any crash between the drops and the last write
    leaves an empty table or mixed stamps, which read_set refuses."""
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
    # one HiveOutput per write: its last_write_stats is per-instance
    # state, which concurrent writes through a shared one would race on
    writes = [
        (lambda t=tbl, fr=fr: HiveOutput(spark, catalog).write_table(
            WriteSpec(table=t), fr
        ))
        for tbl, fr in frames
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
    label, the meta Row, the collected rows (dicts) or the probed frame.

    Every table is read and probed inside its own thunk, all thunks run
    concurrently, and errors surface in call order: the caller's
    ``first`` thunks (their results join ``parts`` under their keys),
    then the parts in declared order — so the meta table's diagnostic
    wins over any table it is the authority for. ``expect_build_id``
    pins the stamp to the build a stream was planned against."""
    from hive_io_experimental_spark.input import HiveInput, ScanSpec

    inp = HiveInput(spark, catalog)
    first = first or {}

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


def mismatch_count(served: DataFrame, direct: DataFrame,
                   name: str = "n_mismatch") -> DataFrame:
    """One-row (``name``) count of rows in either frame but not the
    other, multiset-exact: the consistency checks' proof that serving
    from the stored set equals computing directly."""
    return served.exceptAll(direct).unionAll(direct.exceptAll(served)).agg(
        F.count(F.lit(1)).cast("long").alias(name)
    )

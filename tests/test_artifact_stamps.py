"""Catalog-vouched artifact sets: job counts, committed row counts, the
states that void a vouch, and the job-free versioned scan."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from hive_io_experimental_spark.catalog import Catalog
from hive_io_experimental_spark.input import HiveInput, ScanSpec
from hive_io_experimental_spark.operators import artifacts, similarity
from hive_io_experimental_spark.output import HiveOutput, WriteSpec


def _jobs(spark, fn):
    """(fn's result, jobs it ran, jobs that ran outside its job group).
    Jobs a thread drops from the group are counted too, as the new ids
    among the ungrouped jobs."""
    sc = spark.sparkContext
    tracker, bus = sc.statusTracker(), sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup(None))
    gid = uuid.uuid4().hex
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    bus.waitUntilEmpty()
    stray = set(tracker.getJobIdsForGroup(None)) - before
    return out, len(tracker.getJobIdsForGroup(gid)) + len(stray), len(stray)


def _index(spark, sf_dir, cat, name="default.ix"):
    """An IVF-PQ index over 150 vectors plus one 20-vector append; returns
    (embeddings, queries)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    similarity.ivf_pq_build_index(
        spark, cat, name, emb.filter(F.col("vec_id") < 150)
    )
    similarity.ivf_pq_append_to_index(
        spark, cat, name, emb.filter(F.col("vec_id").between(150, 169))
    )
    return emb, emb.filter(F.col("vec_id") < 5)


def _served(spark, cat, queries, name="default.ix"):
    return sorted(
        tuple(r) for r in similarity.ivf_pq_query_index(
            spark, cat, name, queries
        ).collect()
    )


def test_vouched_sets_are_fenced_without_jobs(spark, sf_dir, warehouse):
    """A healthy vouched set is fenced from the catalog: the served
    IVF-PQ query runs only its query collect before the scoring plan,
    an append runs no fence job, and the LSH and PQ query verbs run
    none either."""
    cat = Catalog(warehouse)
    emb, queries = _index(spark, sf_dir, cat)
    served, n_query, _ = _jobs(spark, lambda: similarity.ivf_pq_query_index(
        spark, cat, "default.ix", queries
    ))
    assert n_query <= 1
    rows, n_collect, _ = _jobs(spark, served.collect)
    assert len(rows) == 25
    assert n_query + n_collect <= 5
    _, n_append, _ = _jobs(spark, lambda: similarity.ivf_pq_append_to_index(
        spark, cat, "default.ix", emb.filter(F.col("vec_id").between(170, 189))
    ))
    assert n_append <= 5

    similarity.lsh_build_index(spark, cat, "default.lsh", emb)
    similarity.lsh_query_index(spark, cat, "default.lsh", emb, queries)
    _, n_lsh, _ = _jobs(spark, lambda: similarity.lsh_query_index(
        spark, cat, "default.lsh", emb, queries
    ))
    assert n_lsh == 0
    similarity.pq_build_index(spark, cat, "default.pq", emb)
    similarity.pq_query_index(spark, cat, "default.pq", queries)
    _, n_pq, _ = _jobs(spark, lambda: similarity.pq_query_index(
        spark, cat, "default.pq", queries
    ))
    # what is left is the small-query guard, not a fence
    _, n_guard, _ = _jobs(spark, lambda: similarity._require_small_query_side(
        queries.select("vec_id"), "guard"
    ))
    assert n_pq == n_guard


def test_committed_row_counts_equal_readback(spark, sf_dir, warehouse):
    """The catalog's committed num_rows of each versioned index table
    (what an append's vouch reads to say the table is non-empty) equals
    a readback count after a build and two appends, and every table is
    vouched non-empty at the build."""
    cat = Catalog(warehouse)
    emb, _ = _index(spark, sf_dir, cat)
    similarity.ivf_pq_append_to_index(
        spark, cat, "default.ix", emb.filter(F.col("vec_id").between(170, 199))
    )
    inp = HiveInput(spark, cat)
    bids = set()
    for part in similarity._IVF_PQ_INDEX.parts:
        tbl = "default.ix" + part.suffix
        bid, nonempty, version = cat.stamp(tbl)
        bids.add(bid)
        assert nonempty
        n = inp.read_table(ScanSpec(table=tbl)).count()
        if part.versioned:
            assert version == cat.current_version(tbl) == 3
            assert cat.stats_of(tbl).num_rows == n
    assert len(bids) == 1


@pytest.mark.parametrize(
    "state", ["raw_append", "crash_before_vouch", "rebuild_elsewhere"]
)
def test_vouch_is_void_outside_stamped_writes(spark, sf_dir, warehouse,
                                              monkeypatch, state):
    """Each state a vouch must not survive: a raw append leaves the codes
    table unvouched, so the probe runs and serves the same rows; a crash
    between an append's commit and its vouch is served exactly as the
    probe serves it; a rebuild through another Catalog on the same
    warehouse makes this process's memo miss."""
    cat = Catalog(warehouse)
    emb, queries = _index(spark, sf_dir, cat)
    before = _served(spark, cat, queries)
    probes = []
    probe = artifacts._probe_set
    monkeypatch.setattr(
        artifacts, "_probe_set",
        lambda *a, **kw: probes.append(1) or probe(*a, **kw),
    )
    if state == "raw_append":
        # codes rows of ids the lists table lacks: unserved either way
        stray = HiveInput(spark, cat).read_table(
            ScanSpec(table="default.ix")
        ).withColumn("id", F.col("id") + 10_000).localCheckpoint()
        HiveOutput(spark, cat).append_table(
            WriteSpec(table="default.ix"), stray
        )
        assert cat.stamp("default.ix") is None
        assert _served(spark, cat, queries) == before
        assert probes
        return
    if state == "crash_before_vouch":
        def crash(*a, **kw):
            raise RuntimeError("crash before the vouch")

        monkeypatch.setattr(Catalog, "set_stamp", crash)
        with pytest.raises(RuntimeError, match="crash before the vouch"):
            similarity.ivf_pq_append_to_index(
                spark, cat, "default.ix",
                emb.filter(F.col("vec_id").between(170, 189)),
            )
        monkeypatch.undo()
        # torn append: lists committed, unvouched; codes untouched
        assert cat.stamp("default.ix_lists") is None
        assert cat.stamp("default.ix") is not None
        monkeypatch.setattr(
            artifacts, "_probe_set",
            lambda *a, **kw: probes.append(1) or probe(*a, **kw),
        )
        served = _served(spark, cat, queries)
        assert probes
        monkeypatch.setattr(artifacts, "_vouched", lambda *a: None)
        assert served == _served(spark, cat, queries) == before
        return
    old = cat.stamp("default.ix_centroids")[0]
    similarity.ivf_pq_build_index(
        spark, Catalog(warehouse), "default.ix",
        emb.filter(F.col("vec_id") < 300), centroid_stride=25,
    )
    bid, p = artifacts.read_set(
        spark, cat, similarity._IVF_PQ_INDEX, "default.ix", "test"
    )
    assert bid != old and not probes
    stored = HiveInput(spark, cat).read_table(
        ScanSpec(table="default.ix_centroids")
    ).collect()
    assert sorted(r["cid"] for r in p["centroids"]) == sorted(
        r["cid"] for r in stored
    )
    assert {r["build_id"] for r in p["centroids"]} == {bid}


def test_versioned_scan_over_many_snapshots_runs_no_job(spark, warehouse):
    """A versioned table with more snapshot directories than Spark's
    parallel-discovery threshold (32) is planned without a listing job
    and reads every row."""
    from pyspark.sql import types as T

    from hive_io_experimental_spark.schema import HiveTableSchema

    cat = Catalog(warehouse)
    cat.create_table("default.many", HiveTableSchema(
        (("id", T.LongType()),)
    ), versioned=True)
    out = HiveOutput(spark, cat)
    for i in range(40):
        out.append_table(
            WriteSpec(table="default.many"),
            spark.createDataFrame([(i,)], "id long"),
        )
    df, n, _ = _jobs(spark, lambda: HiveInput(spark, cat).read_table(
        ScanSpec(table="default.many")
    ))
    assert n == 0
    assert sorted(r["id"] for r in df.collect()) == list(range(40))


def test_run_concurrently_keeps_the_callers_job_group(spark):
    from hive_io_experimental_spark.functions.reuse import run_concurrently

    df = spark.range(10)
    got, n, stray = _jobs(spark, lambda: run_concurrently(
        df.count, lambda: df.filter("id > 4").count()
    ))
    assert got == (10, 5)
    assert n >= 2 and stray == 0

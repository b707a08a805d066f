"""Physical-plan shape tests — the scale properties the engine promises.

The reference hand-implements projection pushdown (read-column ids into
RCFile) and partition pruning (metastore filter); our engine delegates both
to Catalyst. These tests assert the delegation actually happens: the parquet
scan reads only projected columns, filters reach PushedFilters, dimension
joins broadcast, and single-pass aggregates produce exactly one shuffle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hive_io_experimental_spark import HiveInput, ScanSpec
from hive_io_experimental_spark.operators import dedup, relational
from hive_io_experimental_spark.plans.inspect import scan_plan_report


def test_scan_projection_prunes_read_schema(spark, sf_dir):
    df = HiveInput(spark).read_table(
        ScanSpec(
            table=f"{sf_dir}/lineitem.parquet",
            columns=("l_orderkey", "l_quantity"),
        )
    )
    rep = scan_plan_report(df)
    assert sorted(rep["read_columns"]) == ["l_orderkey", "l_quantity"]


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = (
        HiveInput(spark)
        .read_table(ScanSpec(table=f"{sf_dir}/lineitem.parquet"))
        .filter(F.col("l_quantity") >= 45.0)
        .select("l_orderkey")
    )
    rep = scan_plan_report(df)
    assert any("l_quantity" in f for f in rep["pushed_filters"])
    # column pruning composes with the filter: only the 2 needed columns read
    assert sorted(rep["read_columns"]) == ["l_orderkey", "l_quantity"]


def test_dimension_join_broadcasts(spark, sf_dir):
    out = relational.nation_revenue(
        spark.read.parquet(f"{sf_dir}/region.parquet"),
        spark.read.parquet(f"{sf_dir}/nation.parquet"),
        spark.read.parquet(f"{sf_dir}/customer.parquet"),
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
    )
    rep = scan_plan_report(out, execute=True)
    assert rep["num_broadcasts"] >= 2  # nation/region/dim all broadcast
    assert rep["wholestage_codegen"]


def test_single_groupby_single_shuffle(spark, sf_dir):
    df = relational.pricing_summary(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    )
    rep = scan_plan_report(df)
    # one shuffle for the groupBy, one for the final orderBy range partition;
    # no hidden extra exchanges.
    assert rep["num_exchanges"] <= 2


def test_simhash_single_aggregation_shuffle(spark, sf_dir):
    df = dedup.simhash(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    rep = scan_plan_report(df)
    # exactly two exchanges: the spread() round-robin widening (narrow, input
    # rows only) and the single groupBy(id) aggregation shuffle.
    assert rep["num_exchanges"] == 2
    assert sorted(rep["read_columns"]) == ["doc_id", "text"]


def test_exact_dedup_reads_minimal_columns(spark, sf_dir):
    df = dedup.exact_dedup(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    rep = scan_plan_report(df)
    assert sorted(rep["read_columns"]) == ["doc_id", "text"]
    assert rep["num_exchanges"] == 1


def test_partition_filter_prunes_directories(spark, warehouse):
    """The partition_filter must reach the scan as a PartitionFilter
    (directory pruning at plan time — the reference's metastore-side
    get_partitions_by_filter), not as a post-scan row filter."""
    from pyspark.sql import types as T

    from hive_io_experimental_spark import (
        Catalog, HiveInput, HiveOutput, HiveTableSchema, ScanSpec, WriteSpec,
    )
    from hive_io_experimental_spark.plans.inspect import partition_filters

    cat = Catalog(warehouse)
    cat.create_table(
        "default.pt",
        HiveTableSchema((("i1", T.IntegerType()),), ("ds",)),
    )
    out = HiveOutput(spark, cat)
    df = spark.createDataFrame([(1,), (2,)], "i1 int")
    out.write_table(WriteSpec("default.pt", {"ds": "a"}), df)
    out.write_table(WriteSpec("default.pt", {"ds": "b"}), df)

    scan = HiveInput(spark, cat).read_table(
        ScanSpec(table="default.pt", partition_filter="ds = 'a'")
    )
    pf = partition_filters(scan)
    assert any("ds" in f for f in pf), f"no partition pruning in plan: {pf}"
    assert scan.count() == 2


def test_join_advisor_broadcast_shuffle_and_salt(spark, warehouse):
    """Advisor reads only catalog metadata: broadcast for a small side,
    shuffle otherwise, salting when ANALYZE shows hot keys."""
    from pyspark.sql import types as T

    from hive_io_experimental_spark.analyze import analyze_table
    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.output import HiveOutput, WriteSpec
    from hive_io_experimental_spark.plans.advisor import (
        suggest_join_strategy,
    )
    from hive_io_experimental_spark.schema import HiveTableSchema

    cat = Catalog(warehouse)
    out = HiveOutput(spark, cat)
    for name in ("dim", "fact"):
        cat.create_table(
            f"default.{name}",
            HiveTableSchema((("k", T.LongType()), ("v", T.StringType()))),
        )
    out.write_table(
        WriteSpec("default.dim"),
        spark.createDataFrame([(i, "d") for i in range(10)],
                              "k long, v string"),
    )
    # fact: 3000 rows over 2 distinct keys -> 1500 rows/key (hot)
    out.write_table(
        WriteSpec("default.fact"),
        spark.createDataFrame([(i % 2, "f") for i in range(3000)],
                              "k long, v string"),
    )

    adv = suggest_join_strategy(cat, "default.dim", "default.fact", "k")
    assert adv.strategy == "broadcast_left"
    assert not adv.salt_recommended and 0 < adv.left_bytes < adv.right_bytes

    # force the shuffle path with a 1-byte threshold; no column stats yet
    adv = suggest_join_strategy(cat, "default.dim", "default.fact", "k",
                                broadcast_bytes=1)
    assert adv.strategy == "shuffle" and adv.rows_per_key is None
    assert "analyze_table" in adv.reason

    analyze_table(spark, cat, "default.fact")
    adv = suggest_join_strategy(cat, "default.dim", "default.fact", "k",
                                broadcast_bytes=1)
    assert adv.strategy == "shuffle" and adv.salt_recommended
    assert adv.rows_per_key == 1500.0


def test_distmatch_kept_path_broadcasts_thresholds(spark, sf_dir):
    """The kept-rows path must join the (state-sized) per-bucket threshold
    table via broadcast — no shuffle of the corpus."""
    from hive_io_experimental_spark.operators.sampling import (
        distribution_matched_sample,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "len_bucket", F.expr("n_chars div 100")
    )
    out = distribution_matched_sample(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        "len_bucket",
    )
    from hive_io_experimental_spark.plans.inspect import explain_str

    rep = scan_plan_report(out)
    assert rep["num_broadcasts"] >= 1
    assert "CartesianProduct" not in explain_str(out)


def test_cdc_chunking_no_shuffle_before_group(spark, sf_dir):
    """Chunk extraction itself is shuffle-free (Arrow map stage); the only
    exchanges in cdc_chunks' plan are none at all."""
    from hive_io_experimental_spark.operators import multimodal

    ch = multimodal.cdc_chunks(
        multimodal.attach_binary_payload(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
        )
    )
    # spread() may add one round-robin exchange to widen a single-file
    # input; beyond that the chunk extraction is exchange-free
    rep = scan_plan_report(ch)
    assert rep["num_exchanges"] <= 1


def test_span_pipeline_no_cartesian(spark, sf_dir):
    """The span stats plan joins on the high-cardinality span hash and the
    (id, pos) pair — never a cartesian product."""
    from hive_io_experimental_spark.operators import dedup

    out = dedup.span_dedup_stats(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), window_tokens=16
    )
    from hive_io_experimental_spark.plans.inspect import explain_str

    assert "CartesianProduct" not in explain_str(out)


def test_zone_map_scan_prunes_partitions_and_keeps_rows(spark, warehouse):
    """Zone maps skip partitions on a NON-partition column: after ANALYZE,
    a range-predicate scan reads strictly fewer files (the excluded
    partition's directory is gone from the plan) and still returns
    exactly the rows a plain filter returns."""
    from pyspark.sql import types as T

    from hive_io_experimental_spark.analyze import analyze_partition_ranges
    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.input import (
        HiveInput,
        ScanSpec,
        zone_prune,
    )
    from hive_io_experimental_spark.output import HiveOutput

    from hive_io_experimental_spark.schema import HiveTableSchema

    cat = Catalog(warehouse)
    cat.create_table(
        "default.zm",
        HiveTableSchema(
            (("id", T.LongType()), ("v", T.DoubleType())),
            partition_keys=("p",),
        ),
    )
    df = spark.createDataFrame(
        [(1, 10.0, "low"), (2, 20.0, "low"), (3, 900.0, "high"),
         (4, 950.0, "high")],
        "id long, v double, p string",
    )
    HiveOutput(spark, cat).write_dynamic("default.zm", df)
    analyze_partition_ranges(spark, cat, "default.zm", ("v",))

    parts = cat.list_partitions("default.zm")
    assert all(p.ranges.get("v") for p in parts)
    preds = (("v", ">", 100.0),)
    assert {p.values["p"] for p in zone_prune(parts, preds)} == {"high"}

    inp = HiveInput(spark, cat)
    pruned = inp.read_table(ScanSpec(table="default.zm",
                                     range_predicates=preds))
    assert sorted(r.id for r in pruned.collect()) == [3, 4]
    # the pruning compiled to a real PartitionFilter (the scan excludes
    # the provably-skippable partition), so the low partition's FILES
    # never enter the scan — asserted on the actual file list, which is
    # formulation-independent (the filter is NOT(p = low): exclusion of
    # proven-out partitions, so unregistered orphan dirs keep their rows)
    from hive_io_experimental_spark.plans.inspect import explain_str

    txt = explain_str(pruned)
    assert "PartitionFilters" in txt and "p#" in txt
    # the NOT-exclusion term names the proven-out partition; Catalyst
    # evaluates PartitionFilters against the partition values at plan
    # time, so p=low's files never enter the scan
    assert "NOT" in txt and "low" in txt
    # impossible predicate -> zero partitions, zero rows, no error
    none = inp.read_table(
        ScanSpec(table="default.zm", range_predicates=(("v", ">", 99999.0),))
    )
    assert none.count() == 0
    # stale/missing ranges only cost performance, never rows
    cat.set_partition_ranges("default.zm", {"p": "high"}, {})
    again = inp.read_table(
        ScanSpec(table="default.zm", range_predicates=preds)
    )
    assert sorted(r.id for r in again.collect()) == [3, 4]


def test_dynamic_partition_pruning_through_engine_scan(spark, warehouse):
    """Catalyst's dynamic partition pruning fires through the engine's own
    catalog-backed scan: a selective broadcast dim join on the partition
    column injects a runtime IN-subquery PartitionFilter, so only the
    matching partition directories are read — the join-time counterpart
    of static directory pruning, free because the scan is a plain
    FileScan Catalyst understands."""
    from pyspark.sql import types as T

    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.input import HiveInput, ScanSpec
    from hive_io_experimental_spark.output import HiveOutput
    from hive_io_experimental_spark.plans.inspect import explain_str
    from hive_io_experimental_spark.schema import HiveTableSchema

    cat = Catalog(warehouse)
    cat.create_table(
        "default.ev_dpp",
        HiveTableSchema(
            (("event_id", T.LongType()), ("value", T.DoubleType())),
            partition_keys=("event_type",),
        ),
    )
    ev = spark.createDataFrame(
        [(i, float(i), t) for i, t in enumerate(["a", "b", "c"] * 10)],
        "event_id long, value double, event_type string",
    )
    HiveOutput(spark, cat).write_dynamic("default.ev_dpp", ev)
    fact = HiveInput(spark, cat).read_table(ScanSpec(table="default.ev_dpp"))
    dim = spark.createDataFrame(
        [("a", 1.5), ("zzz", 0.1)], "event_type string, boost double"
    ).filter(F.col("boost") > 1.0)
    j = fact.join(dim, "event_type").agg(F.count(F.lit(1)).alias("n"))
    assert "dynamicpruning" in explain_str(j).lower()
    assert j.collect()[0].n == 10


def test_bloom_membership_broadcasts_state(spark, sf_dir):
    from hive_io_experimental_spark.operators import incremental as inc

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    state = inc.bloom_state(ev, "user_id", m_bits=4096, k_hashes=3)
    mem = inc.bloom_membership(
        state, ev.select("user_id").distinct(), "user_id",
        m_bits=4096, k_hashes=3,
    )
    rep = scan_plan_report(mem, execute=True)
    # the filter-sized state joins as a broadcast; probes never shuffle
    # for the join itself (their only exchanges are the two aggregates)
    assert rep["num_broadcasts"] >= 1
    assert rep["wholestage_codegen"]


def test_keyword_search_filters_before_shuffle(spark, sf_dir):
    from hive_io_experimental_spark.operators import text as T

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = T.keyword_search(docs, ["data", "join"])
    rep = scan_plan_report(out)
    # candidate volume is postings-sized: explode -> filter -> ONE
    # aggregate shuffle (+ the top-k sort); no join exchanges
    assert rep["num_exchanges"] <= 3
    assert sorted(rep["read_columns"]) == ["doc_id", "text"]


def test_quota_cap_single_shuffle(spark, sf_dir):
    from hive_io_experimental_spark.operators import sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = sampling.quota_cap_sample(docs, cap=5).select("source", "doc_id")
    rep = scan_plan_report(out)
    # one hash shuffle on the group for the rank window, nothing else
    assert rep["num_exchanges"] == 1


def test_series_correlation_broadcasts_type_grid(spark, sf_dir):
    from hive_io_experimental_spark.operators import profile as prof

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    rep = scan_plan_report(prof.series_correlation(ev), execute=True)
    # the tiny type list broadcasts into the grid completion; the pair
    # join is hour-keyed — no cartesian over event rows
    assert rep["num_broadcasts"] >= 1
    assert "CartesianProduct" not in str(rep)


def test_bloom_index_prunes_point_lookups(spark, warehouse):
    """Per-partition bloom indexes skip partitions on EQUALITY probes a
    [min, max] zone map cannot exclude (ids interleave across partitions
    so every range covers every probe). The pruned scan returns exactly
    the plain-filter rows, missing keys prune everything (modulo bloom
    false positives — none at this size), and NULL/absent blooms never
    prune."""
    from pyspark.sql import types as T

    from hive_io_experimental_spark.analyze import analyze_partition_blooms
    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.input import (
        HiveInput,
        ScanSpec,
        bloom_prune,
    )
    from hive_io_experimental_spark.output import HiveOutput
    from hive_io_experimental_spark.schema import HiveTableSchema

    cat = Catalog(warehouse)
    cat.create_table(
        "default.bx",
        HiveTableSchema(
            (("id", T.LongType()), ("v", T.LongType())),
            partition_keys=("p",),
        ),
    )
    # ids interleave: both partitions span [1, 1000] so zone maps are
    # useless for any point probe; blooms are not
    df = spark.createDataFrame(
        [(1, 10, "a"), (1000, 11, "a"), (2, 20, "b"), (999, 21, "b")],
        "id long, v long, p string",
    )
    HiveOutput(spark, cat).write_dynamic("default.bx", df)
    analyze_partition_blooms(spark, cat, "default.bx", ("id",),
                             m_bits=4096, k_hashes=3)

    parts = cat.list_partitions("default.bx")
    assert all(p.blooms.get("id") for p in parts)
    assert {p.values["p"] for p in bloom_prune(parts, (("id", "=", 2),))} == {
        "b"
    }
    assert bloom_prune(parts, (("id", "=", 123456),)) == []
    # non-equality and NULL probes never consult the bloom
    assert len(bloom_prune(parts, (("id", ">", 0),))) == 2
    assert len(bloom_prune(parts, (("id", "=", None),))) == 2

    inp = HiveInput(spark, cat)
    got = inp.read_table(
        ScanSpec(table="default.bx", range_predicates=(("id", "=", 2),))
    ).collect()
    assert [(r.id, r.v, r.p) for r in got] == [(2, 20, "b")]
    # missing key: zero partitions survive, zero rows, no error
    assert (
        inp.read_table(
            ScanSpec(
                table="default.bx", range_predicates=(("id", "=", 123456),)
            )
        ).count()
        == 0
    )


def test_zone_pruning_keeps_orphan_directory_rows(spark, warehouse):
    """Pruning excludes only partitions the catalog PROVED out: rows in a
    directory the catalog never registered (crashed write before
    add_partition) survive a pruned scan exactly as they survive an
    unpruned one — the review finding was a kept-partition whitelist that
    silently dropped them."""
    import os

    from pyspark.sql import types as T

    from hive_io_experimental_spark.analyze import analyze_partition_ranges
    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.input import HiveInput, ScanSpec
    from hive_io_experimental_spark.output import HiveOutput, WriteSpec
    from hive_io_experimental_spark.schema import HiveTableSchema

    cat = Catalog(warehouse)
    cat.create_table(
        "default.zo",
        HiveTableSchema(
            (("id", T.LongType()), ("v", T.DoubleType())),
            partition_keys=("p",),
        ),
    )
    out = HiveOutput(spark, cat)
    out.write_table(
        WriteSpec("default.zo", {"p": "low"}),
        spark.createDataFrame([(1, 10.0)], "id long, v double"),
    )
    out.write_table(
        WriteSpec("default.zo", {"p": "high"}),
        spark.createDataFrame([(2, 900.0)], "id long, v double"),
    )
    analyze_partition_ranges(spark, cat, "default.zo", ("v",))
    # orphan: a directory written but never registered
    loc = cat.table_location("default.zo")
    spark.createDataFrame(
        [(3, 950.0)], "id long, v double"
    ).write.parquet(os.path.join(loc, "p=orphan"))

    got = HiveInput(spark, cat).read_table(
        ScanSpec(table="default.zo", range_predicates=(("v", ">", 100.0),))
    )
    # the registered 'low' partition prunes; the orphan's matching row
    # survives alongside the registered 'high' row
    assert sorted(r.id for r in got.collect()) == [2, 3]


def test_ivf_assignment_is_map_side_by_default(spark, sf_dir):
    """The IVF corpus->centroid assignment must not shuffle the corpus:
    the BLAS mapInPandas pass against broadcast centroids plans as a pure
    map stage. Exchanges in the whole query: the spread() round-robin
    widening (x2: corpus + query sides) and the final rank window on
    query_id — and, critically, NO hashpartitioning on neighbor_id, which
    is the signature of the relational crossJoin+window assignment
    shuffling corpus x n_centroids rows (r5 audit)."""
    from hive_io_experimental_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    df = ivf_topk(emb, queries, k=5)
    rep = scan_plan_report(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(neighbor_id" not in plan
    assert rep["num_exchanges"] <= 3

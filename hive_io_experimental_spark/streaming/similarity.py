"""Streaming ANN serving: query vectors arrive as a stream, candidates come
from the PERSISTED LSH bucket index via stream-static equi-joins.

The batch serving path (operators/similarity.py:lsh_query_index) is already
all lazy shuffle equi-joins; this module is its Structured Streaming twin —
the online half of the index lifecycle (build/append offline, serve online):

  queries (readStream)
    -> row-local bucket hash into the STORED plane family (one map, the
       exact lsh_bucket_expr the index was built with)
    -> Hamming-probe fan-out CARRYING the query vector (a stream-stream
       self-join would need watermarks and unbounded state; carrying the
       vector through the bounded x(1+planes[+C(planes,2)]) fan-out keeps
       the whole plan stream-static)
    -> equi-join against the static bucket table (candidates)
    -> equi-join against the static corpus (candidate vectors only)
    -> exact round-6 cosine rescore

Per-query top-k needs a rank, which Structured Streaming cannot express on
an unbounded stream (no window functions in append mode) — but each query's
candidate rows are confined to its arrival micro-batch by construction (the
fan-out never crosses batches), so the rank is exact per batch:
``lsh_topk_foreach_batch`` ranks inside foreachBatch with the same
(cosine desc, neighbor_id) total order as the batch operator, making
stream output row-identical to lsh_query_index over the same closed input
(the test strategy every streaming module here uses).

Scale notes: per micro-batch work is |batch| x num_planes dot products
(map-side), one shuffle join against the bucket table keyed by bucket, one
id-join to fetch candidate vectors, and a batch-local rank — the static
sides are re-read per trigger but never re-projected (the plane projection
lives in the stored index; Spark caches static-side file listings across
triggers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_io_experimental_spark.functions.vectors import l2_norm
from hive_io_experimental_spark.operators.similarity import (
    _as_double,
    _hamming_probe_buckets,
    _pair_cosine,
    lsh_bucket_expr,
)


def _validate_index_stamps(
    spark: SparkSession,
    catalog,
    index_table: str,
    expect_build_id: str | None,
    op: str = "lsh_candidates_stream",
):
    """The batch path's empty/pre-stamp/torn-rebuild fences over the
    stored LSH index, as a reusable probe: returns (meta_row, buckets_df)
    or raises. Two 1-row jobs (meta first(), one sampled bucket stamp) —
    cheap enough to run per micro-batch. ``expect_build_id`` additionally
    pins the stamps to the build the stream was PLANNED against: an index
    rebuilt mid-stream (even cleanly) must stop the stream, because the
    stored plane family changed under the query-side bucket hash baked
    into the plan. ``op`` names the raising entry point in every error."""
    from hive_io_experimental_spark.input import HiveInput, ScanSpec
    from hive_io_experimental_spark.operators.similarity import _index_stamp

    inp = HiveInput(spark, catalog)
    meta = inp.read_table(ScanSpec(table=f"{index_table}_meta")).first()
    if meta is None:
        raise ValueError(f"{op}: empty meta table {index_table}_meta")
    buckets = inp.read_table(ScanSpec(table=index_table))
    b_stamp = _index_stamp(
        op, index_table, "buckets", buckets, rebuild="lsh_build_index",
    )
    if b_stamp != meta["build_id"]:
        raise ValueError(
            f"{op}: index {index_table} has mixed "
            f"build_id stamps (meta {meta['build_id']!r} vs buckets "
            f"{b_stamp!r}) — a rebuild was torn mid-way. "
            f"Re-run lsh_build_index before serving."
        )
    if expect_build_id is not None and b_stamp != expect_build_id:
        raise ValueError(
            f"{op}: index {index_table} was REBUILT "
            f"mid-stream (planned against build {expect_build_id!r}, "
            f"now {b_stamp!r}) — the stream's query-side bucket hash is "
            f"bound to the old plane family. Restart the stream to serve "
            f"the new index."
        )
    return meta, buckets


def lsh_candidates_stream(
    spark: SparkSession,
    catalog,
    index_table: str,
    query_stream: DataFrame,
    corpus: DataFrame,
    probe_bits: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    _meta=None,
) -> DataFrame:
    """Streaming (query_id, neighbor_id, cosine): multiprobe candidates
    from the stored bucket table, exact-rescored — everything EXCEPT the
    per-query rank (see lsh_topk_foreach_batch / serve_lsh_topk_stream).

    The stored geometry (num_planes, dim, build_id) is probed once at
    plan-construction time from the meta table; a torn rebuild (mixed
    build_id stamps between meta and buckets) is refused exactly like the
    batch path. Snapshot semantics: the versioned read pins the PLANNED
    snapshot's manifest, so every micro-batch scans that snapshot's
    files — an APPEND mid-stream never changes (or tears) the served
    candidate set (pytest-pinned; restart to serve appended vectors),
    while a REBUILD deletes the planned files out from under the scan.
    Use serve_lsh_topk_stream (which re-validates the stamps around
    every batch) for long-running serving; a raw candidates stream has
    no mid-stream rebuild detection of its own.
    ``corpus`` supplies candidate vectors for the rescore and must be the
    corpus the index was built over (static frame).
    """
    if probe_bits not in (0, 1, 2):
        raise ValueError(f"probe_bits must be 0, 1 or 2, got {probe_bits}")
    if not query_stream.isStreaming:
        raise ValueError(
            "lsh_candidates_stream: query_stream is a batch frame — use "
            "lsh_query_index for batch serving"
        )
    if _meta is None:
        _meta, buckets = _validate_index_stamps(
            spark, catalog, index_table, expect_build_id=None
        )
    else:
        # caller (serve_lsh_topk_stream) already validated and passes its
        # meta snapshot through, so geometry and the pinned build_id come
        # from ONE read — a rebuild between two separate meta reads would
        # bake the old plane count into the plan while pinning the new
        # build_id, and every per-batch check would then pass while
        # serving wrong-geometry candidates
        from hive_io_experimental_spark.input import HiveInput, ScanSpec

        buckets = HiveInput(spark, catalog).read_table(
            ScanSpec(table=index_table)
        )
    meta = _meta
    num_planes, dim = int(meta["num_planes"]), int(meta["dim"])
    q = query_stream.select(
        F.col(id_col).alias("query_id"),
        _as_double(vec_col).alias("qv"),
        lsh_bucket_expr(num_planes, dim, vec_col).alias("bucket"),
    ).withColumn("qnrm", l2_norm(F.col("qv")))
    probes = q.select(
        "query_id", "qv", "qnrm",
        F.explode(
            F.array(*_hamming_probe_buckets(num_planes, probe_bits))
        ).alias("bucket"),
    )
    cand = (
        buckets.select(F.col("id").alias("neighbor_id"), "bucket")
        .join(probes, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    ).withColumn("cnrm", l2_norm(F.col("cv")))
    return cand.join(c, "neighbor_id").select(
        "query_id", "neighbor_id",
        _pair_cosine("qv", "qnrm", "cv", "cnrm").alias("cosine"),
    )


def lsh_topk_foreach_batch(k: int, sink_fn):
    """The per-micro-batch rank step: returns a foreachBatch function that
    ranks the scored candidates with the batch operator's exact total
    order ((cosine desc, neighbor_id asc), rank <= k) and hands
    (ranked_df, epoch_id) to ``sink_fn``. Correct because a query's
    candidates never span micro-batches (the fan-out is row-local to the
    query's arrival batch)."""

    def _batch(df: DataFrame, epoch_id: int) -> None:
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id").asc()
        )
        ranked = df.withColumn(
            "rank", F.row_number().over(w).cast("long")
        ).filter(F.col("rank") <= k)
        sink_fn(ranked, epoch_id)

    return _batch


def serve_lsh_topk_stream(
    spark: SparkSession,
    catalog,
    index_table: str,
    query_stream: DataFrame,
    corpus: DataFrame,
    sink_fn,
    k: int = 10,
    probe_bits: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Wire the full online-serving pipeline and return the (unstarted)
    DataStreamWriter — callers pick the trigger/checkpoint and .start().
    Output rows are (query_id, neighbor_id, cosine, rank), row-identical
    to lsh_query_index over the same closed input.

    The stored index's stamps are re-validated INSIDE every micro-batch,
    both BEFORE the batch's rank+sink and again AFTER the sink returns
    (two fresh 1-row probes each side): the candidates plan pins the
    PLANNED snapshot's manifest, so a mid-stream REBUILD (drop +
    recreate) deletes the planned files out from under the scan — a
    plan-construction-time check alone would surface that as an opaque
    missing-file error at best, or stale-cache wrong-plane candidates
    at worst (r11 ADVICE). An APPEND, by contrast, keeps the build_id
    AND leaves the planned snapshot's files intact: the stream serves
    through it on the planned snapshot (snapshot isolation,
    pytest-pinned) and appended vectors become servable on restart. The pre-check alone
    was check-then-use: the bucket table is actually READ while the sink
    materializes the batch, so a rebuild landing between the check and
    the read could still serve one batch from the new plane family
    (r12 ADVICE). Stamps unchanged across the batch prove the read was
    consistent; a post-sink stamp change fails the streaming query
    loudly AND names the epoch whose already-sunk output must be
    discarded — at most one batch is exposed, never silently. Restart
    to serve the new build."""
    # ONE meta read supplies BOTH the plan geometry and the pinned
    # build_id (two separate reads left a window where a rebuild between
    # them baked the old plane count into the plan while pinning the NEW
    # build_id — the per-batch checks would then pass forever while
    # serving wrong-geometry candidates)
    meta, _ = _validate_index_stamps(
        spark, catalog, index_table, expect_build_id=None,
        op="serve_lsh_topk_stream",
    )
    scored = lsh_candidates_stream(
        spark, catalog, index_table, query_stream, corpus,
        probe_bits=probe_bits, vec_col=vec_col, id_col=id_col,
        _meta=meta,
    )
    planned_build = meta["build_id"]
    ranked = lsh_topk_foreach_batch(k, sink_fn)

    def _checked_batch(df: DataFrame, epoch_id: int) -> None:
        _validate_index_stamps(
            spark, catalog, index_table, expect_build_id=planned_build,
            op="serve_lsh_topk_stream",
        )
        ranked(df, epoch_id)
        # post-sink revalidation: the pre-check was check-then-use (the
        # bucket table is re-read while ranked() materializes the batch),
        # so a rebuild landing mid-batch could serve THIS batch from the
        # wrong plane family with the pre-check green. Unchanged stamps
        # across the batch prove the read was consistent; a change here
        # fails loudly naming the epoch whose sunk output is suspect.
        try:
            _validate_index_stamps(
                spark, catalog, index_table,
                expect_build_id=planned_build,
                op="serve_lsh_topk_stream",
            )
        except ValueError as exc:
            raise ValueError(
                f"serve_lsh_topk_stream: index {index_table} changed "
                f"WHILE micro-batch {epoch_id} was being served — the "
                f"output already sunk for this epoch may mix plane "
                f"families and should be discarded. ({exc})"
            ) from exc

    return scored.writeStream.foreachBatch(_checked_batch)


def _validate_adc_stamps(
    spark: SparkSession,
    catalog,
    index_table: str,
    parts: tuple,
    expect_build_id: str | None,
    op: str,
    rebuild: str,
) -> str:
    """The quantized tiers' torn-rebuild/mid-stream-rebuild probe: one
    FRESH sampled build_id per index table (PQ: codebooks+codes, IVF-PQ:
    centroids+codebooks+lists+codes — len(parts) 1-row jobs, no full
    scans), all required equal, and equal to the PLANNED build when
    ``expect_build_id`` is pinned. Fresh reads are the point: the serve
    plan's pinned static frames always show the planned files, so
    detection must re-resolve the CURRENT snapshot each call (the
    _validate_index_stamps discipline). An APPEND keeps the stored
    build_id (pq/ivf_pq_append_to_index stamp appended rows with the
    planned build), so ingestion ticks keep streams alive; only a
    rebuild — clean or torn — trips this."""
    from hive_io_experimental_spark.input import HiveInput, ScanSpec
    from hive_io_experimental_spark.operators.similarity import _index_stamp

    inp = HiveInput(spark, catalog)
    stamps = {}
    for label, suffix in parts:
        df = inp.read_table(ScanSpec(table=f"{index_table}{suffix}"))
        stamps[label] = _index_stamp(
            op, index_table, label, df, rebuild=rebuild
        )
    if len(set(stamps.values())) > 1:
        raise ValueError(
            f"{op}: index {index_table} has mixed build_id stamps across "
            f"its tables ({stamps}) — a rebuild was torn mid-way. Re-run "
            f"{rebuild} before serving."
        )
    stamp = next(iter(stamps.values()))
    if expect_build_id is not None and stamp != expect_build_id:
        raise ValueError(
            f"{op}: index {index_table} was REBUILT mid-stream (planned "
            f"against build {expect_build_id!r}, now {stamp!r}) — the "
            f"stream's plan is bound to the old codebooks. Restart the "
            f"stream to serve the new index."
        )
    return stamp


def _serve_adc_stream(
    query_stream: DataFrame,
    planned_build: str,
    validate_fn,
    rank_fn,
    sink_fn,
    op: str,
    batch_hint: str = "the batch *_query_index operator",
    taint_hint: str = "may mix codebook families",
):
    """The shared foreachBatch skeleton for the quantized serving tiers —
    the serve_lsh_topk_stream check-rank-sink-recheck contract: stamps
    validated against the planned build BEFORE the batch is scored and
    again AFTER the sink returns (the scoring reads the pinned snapshot's
    files while the sink materializes, so a rebuild landing mid-batch
    deletes them out from under the scan; unchanged stamps across the
    batch prove the read was consistent, and a post-sink change fails
    loudly naming the epoch whose already-sunk output is suspect)."""
    if not query_stream.isStreaming:
        raise ValueError(
            f"{op}: query_stream is a batch frame — use "
            f"{batch_hint} for batch serving"
        )

    def _checked_batch(df: DataFrame, epoch_id: int) -> None:
        validate_fn(expect_build_id=planned_build)
        sink_fn(rank_fn(df), epoch_id)
        try:
            validate_fn(expect_build_id=planned_build)
        except ValueError as exc:
            raise ValueError(
                f"{op}: the stored artifact changed WHILE micro-batch "
                f"{epoch_id} was being served — the output already sunk "
                f"for this epoch {taint_hint} and should be discarded. "
                f"({exc})"
            ) from exc

    return query_stream.writeStream.foreachBatch(_checked_batch)


def serve_pq_topk_stream(
    spark: SparkSession,
    catalog,
    index_table: str,
    query_stream: DataFrame,
    sink_fn,
    k: int = 5,
    num_subspaces: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Streaming ADC top-k served ENTIRELY from a persisted PQ index —
    the online half of the pq_build_index/pq_append_to_index lifecycle,
    and the strongest-recall sibling of serve_lsh_topk_stream. Returns
    the (unstarted) DataStreamWriter; output rows are (query_id,
    neighbor_id, adc_score, rank), row-identical to pq_query_index over
    the same closed input.

    Why the scoring lives in foreachBatch rather than the streaming
    plan: per-query ADC LUTs are a groupBy-collect_list reassembly and
    the final top-k is a rank — neither is expressible in append-mode
    streaming — but BOTH are exact per micro-batch because a query's
    candidate rows never cross batches (every query is scored against
    the full codes table in its arrival batch). foreachBatch hands a
    batch frame, so the batch helper ranks it with the exact
    pq_query_index total order ((adc_score desc, neighbor_id asc)) —
    the _require_small_query_side streaming contract (similarity.py):
    micro-batches are bounded, so the per-batch LUT broadcast honors
    the same cap as the batch path, enforced per batch.

    Index-lifecycle semantics (the serve_lsh_topk_stream contract):
    geometry (codebooks) and codes are read ONCE at plan time — the
    versioned read pins the planned snapshot's manifest, so every
    micro-batch scores against exactly the planned codes (an APPEND
    mid-stream never changes or tears the served set; appended vectors
    become servable on restart, no rebuild — pq_append_to_index stamps
    appended rows with the stored build_id so the per-batch checks keep
    the stream alive). A REBUILD changes the build_id: caught by the
    fresh-read stamp probes before every batch and re-checked after the
    sink returns, failing loudly and naming the epoch whose sunk output
    is suspect if it landed mid-batch. Torn rebuilds (mixed stamps) are
    refused at plan time and per batch.

    Per micro-batch cost: |batch| x m x ksub LUT dots (map-side), one
    broadcast of the batch LUTs over the pinned codes scan, a
    batch-local rank, plus four 1-row stamp probes (two tables x
    pre/post)."""
    from hive_io_experimental_spark.input import HiveInput, ScanSpec
    from hive_io_experimental_spark.operators.similarity import (
        _pq_adc_topk,
        _require_small_query_side,
        _unit_vectors,
    )

    parts = (("codebooks", "_codebooks"), ("codes", ""))

    def _validate(expect_build_id=None):
        return _validate_adc_stamps(
            spark, catalog, index_table, parts, expect_build_id,
            op="serve_pq_topk_stream", rebuild="pq_build_index",
        )

    planned_build = _validate()
    # pinned snapshot reads: these frames are what every batch scores
    # against, resolved once — the same read the stamp probe just
    # validated (one consistent planned build)
    inp = HiveInput(spark, catalog)
    codebooks = inp.read_table(
        ScanSpec(table=f"{index_table}_codebooks")
    ).select("j", "code", "cv")
    codes = inp.read_table(ScanSpec(table=index_table)).select(
        "id", "codes"
    )
    probe = codebooks.agg(
        F.first(F.size("cv")).alias("d"),
        (F.max("j") + 1).alias("m"),
    ).first()
    if probe is None or probe["d"] is None:
        raise ValueError(
            f"serve_pq_topk_stream: empty codebook table "
            f"{index_table}_codebooks"
        )
    if probe["m"] != num_subspaces:
        raise ValueError(
            f"serve_pq_topk_stream: num_subspaces={num_subspaces} does "
            f"not match the stored index ({index_table}_codebooks holds "
            f"{probe['m']} subspaces). Pass num_subspaces={probe['m']} — "
            f"a mismatch would misindex the stored codes."
        )
    dsub = probe["d"]

    def _rank(batch_df: DataFrame) -> DataFrame:
        _require_small_query_side(
            batch_df.select(F.col(id_col)),
            "serve_pq_topk_stream (per-micro-batch LUT broadcast)",
        )
        return _pq_adc_topk(
            codes, _unit_vectors(batch_df, vec_col, id_col), codebooks,
            k, num_subspaces, dsub,
        )

    return _serve_adc_stream(
        query_stream.select(F.col(id_col), F.col(vec_col)),
        planned_build, _validate, _rank, sink_fn,
        op="serve_pq_topk_stream",
    )


def serve_ivf_pq_topk_stream(
    spark: SparkSession,
    catalog,
    index_table: str,
    query_stream: DataFrame,
    sink_fn,
    k: int = 5,
    nprobe: int = 2,
    num_subspaces: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Streaming IVF-PQ top-k from the persisted four-table index —
    serve_pq_topk_stream with the coarse quantizer in front: each
    micro-batch's queries are assigned to their nprobe nearest stored
    centroids and get their ADC lookup tables on the driver (from the
    few-KB centroid and codebook rows collected once at plan time), then
    are ADC-scored against only the probed lists' pinned codes. Output
    rows are (query_id, neighbor_id, adc_score, rank), row-identical to
    ivf_pq_query_index over the same closed input — the rank runs inside
    foreachBatch through the SAME _ivf_pq_adc_rank plan the batch path
    serves with. Query ids must be unique within a micro-batch.

    Lifecycle semantics are serve_pq_topk_stream's, over four tables:
    plan-time torn-rebuild refusal, per-batch pre+post stamp probes
    pinned to the planned build (eight 1-row jobs per batch), snapshot
    isolation across the two-table ivf_pq_append_to_index (appended
    rows carry the planned build_id; the pinned lists/codes manifests
    never see a half-landed append — serve-through on the planned
    snapshot, restart to serve appended vectors, loud stop on
    rebuild)."""
    from hive_io_experimental_spark.input import HiveInput, ScanSpec
    from hive_io_experimental_spark.operators.similarity import (
        _check_ivf_pq_codebooks,
        _collect_ivf_pq_queries,
        _ivf_pq_adc_rank,
    )

    parts = (
        ("centroids", "_centroids"), ("codebooks", "_codebooks"),
        ("lists", "_lists"), ("codes", ""),
    )

    def _validate(expect_build_id=None):
        return _validate_adc_stamps(
            spark, catalog, index_table, parts, expect_build_id,
            op="serve_ivf_pq_topk_stream", rebuild="ivf_pq_build_index",
        )

    planned_build = _validate()
    inp = HiveInput(spark, catalog)
    lists = inp.read_table(ScanSpec(table=f"{index_table}_lists")).select(
        "cid", "id"
    )
    codes = inp.read_table(ScanSpec(table=index_table)).select(
        "id", "codes"
    )
    # both geometry tables are nlist/ksub-bounded: collected once
    cent_rows = inp.read_table(
        ScanSpec(table=f"{index_table}_centroids")
    ).select("cid", "cv").collect()
    cb_rows = inp.read_table(
        ScanSpec(table=f"{index_table}_codebooks")
    ).select("j", "code", "cv").collect()
    if not cent_rows:
        raise ValueError(
            f"serve_ivf_pq_topk_stream: empty centroid table "
            f"{index_table}_centroids"
        )
    _check_ivf_pq_codebooks(
        "serve_ivf_pq_topk_stream", index_table, cb_rows, num_subspaces
    )

    def _rank(batch_df: DataFrame) -> DataFrame:
        qid_type, q_rows = _collect_ivf_pq_queries(
            batch_df,
            "serve_ivf_pq_topk_stream (per-micro-batch probes + LUTs)",
            vec_col, id_col,
        )
        return _ivf_pq_adc_rank(
            lists, codes, qid_type, q_rows, cent_rows, cb_rows, k,
            nprobe, num_subspaces, op="serve_ivf_pq_topk_stream",
        )

    return _serve_adc_stream(
        query_stream.select(F.col(id_col), F.col(vec_col)),
        planned_build, _validate, _rank, sink_fn,
        op="serve_ivf_pq_topk_stream",
    )

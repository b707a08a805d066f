"""Streaming ANN serving: query vectors arrive as a stream and are served
from a PERSISTED index — the online half of the index lifecycle
(build/append offline, serve online).

Every serve stream here runs the same check–rank–sink skeleton
(``_serve_checked_stream``): the stored set is fenced once at plan time
(operators/artifacts.py read_set), which pins its frames and build_id;
each micro-batch is then checked against that build, ranked with the
batch operator's own plan over the pinned frames, sunk, and checked
again. Per-query top-k needs a rank, which Structured Streaming cannot
express on an unbounded stream (no window functions in append mode) —
but each query's candidate rows are confined to its arrival micro-batch
by construction, so the rank is exact per batch and stream output is
row-identical to the batch operator over the same closed input (the
test strategy every streaming module here uses).

``lsh_candidates_stream`` is the one raw streaming plan: the LSH
candidates with the bucket join inside the stream (no rank, no
mid-stream rebuild detection).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_io_experimental_spark.functions.vectors import l2_norm
from hive_io_experimental_spark.operators.artifacts import read_set
from hive_io_experimental_spark.operators.similarity import (
    _IVF_PQ_INDEX,
    _LSH_INDEX,
    _PQ_INDEX,
    _as_double,
    _check_stored_codebooks,
    _collect_ivf_pq_queries,
    _hamming_probe_buckets,
    _ivf_pq_adc_rank,
    _lsh_rank,
    _pair_cosine,
    _pq_adc_topk,
    _pq_served,
    _require_small_query_side,
    _unit_vectors,
    lsh_bucket_expr,
)


def lsh_candidates_stream(
    spark: SparkSession,
    catalog,
    index_table: str,
    query_stream: DataFrame,
    corpus: DataFrame,
    probe_bits: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Streaming (query_id, neighbor_id, cosine): multiprobe candidates
    from the stored bucket table, exact-rescored — everything EXCEPT the
    per-query rank (see serve_lsh_topk_stream).

    The stored set is fenced once at plan construction (the batch
    path's torn-rebuild refusals), and its meta row supplies the plane
    geometry. Snapshot semantics: the versioned read pins the PLANNED
    snapshot's manifest, so every micro-batch scans that snapshot's
    files — an APPEND mid-stream never changes (or tears) the served
    candidate set (restart to serve appended vectors), while a REBUILD
    deletes the planned files out from under the scan. Use
    serve_lsh_topk_stream for long-running serving; a raw candidates
    stream has no mid-stream rebuild detection of its own.
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
    _bid, p = read_set(
        spark, catalog, _LSH_INDEX, index_table, "lsh_candidates_stream"
    )
    num_planes, dim = int(p["meta"]["num_planes"]), int(p["meta"]["dim"])
    # the fan-out CARRIES the query vector: a stream-stream self-join
    # would need watermarks and unbounded state, so the plan stays
    # stream-static
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
        p["buckets"].select(F.col("id").alias("neighbor_id"), "bucket")
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


def _serve_checked_stream(
    spark: SparkSession,
    catalog,
    artifact,
    name: str,
    planned_build: str,
    query_stream: DataFrame,
    rank_fn,
    sink_fn,
    op: str,
    batch_hint: str,
    taint_hint: str,
):
    """The shared foreachBatch skeleton of every serve stream. The
    stored set is re-fenced against the planned build BEFORE the batch
    is ranked and again AFTER the sink returns: ``rank_fn`` reads the
    pinned snapshot's files while the sink materializes, so a rebuild
    landing mid-batch deletes them out from under the scan. Unchanged
    stamps across the batch prove the read was consistent; a post-sink
    change fails loudly naming the epoch whose already-sunk output is
    suspect. The streaming plan itself holds only the query stream, so
    no stored file is read before the pre-check."""
    if not query_stream.isStreaming:
        raise ValueError(
            f"{op}: query_stream is a batch frame — use "
            f"{batch_hint} for batch serving"
        )

    def _check():
        read_set(spark, catalog, artifact, name, op,
                 expect_build_id=planned_build)

    def _checked_batch(df: DataFrame, epoch_id: int) -> None:
        _check()
        sink_fn(rank_fn(df), epoch_id)
        try:
            _check()
        except ValueError as exc:
            raise ValueError(
                f"{op}: the stored artifact changed WHILE micro-batch "
                f"{epoch_id} was being served — the output already sunk "
                f"for this epoch {taint_hint} and should be discarded. "
                f"({exc})"
            ) from exc

    return query_stream.writeStream.foreachBatch(_checked_batch)


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
    to lsh_query_index over the same closed input: each micro-batch runs
    lsh_query_index's own plan over the bucket frame pinned at plan
    time.

    ONE plan-time read supplies both the plane geometry and the pinned
    build_id, so a rebuild can never bake one build's plane count into
    a plan pinned to another. An APPEND keeps the build_id and leaves
    the planned snapshot's files intact: the stream serves through it
    on the planned snapshot, and appended vectors become servable on
    restart. A REBUILD stops the stream at the next pre-batch check, or
    at the post-sink check naming the tainted epoch if it lands
    mid-batch. Restart to serve the new build."""
    if probe_bits not in (0, 1, 2):
        raise ValueError(f"probe_bits must be 0, 1 or 2, got {probe_bits}")
    op = "serve_lsh_topk_stream"
    bid, p = read_set(spark, catalog, _LSH_INDEX, index_table, op)
    return _serve_checked_stream(
        spark, catalog, _LSH_INDEX, index_table, bid,
        query_stream.select(F.col(id_col), F.col(vec_col)),
        lambda batch_df: _lsh_rank(
            p["meta"], p["buckets"], corpus, batch_df, k, probe_bits,
            vec_col, id_col,
        ),
        sink_fn, op,
        batch_hint="lsh_query_index",
        taint_hint="may mix plane families",
    )


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
    codebooks and codes are read ONCE at plan time — the versioned read
    pins the planned snapshot's manifest, so every micro-batch scores
    against exactly the planned codes (an APPEND mid-stream never
    changes or tears the served set; appended vectors become servable
    on restart, no rebuild — pq_append_to_index stamps appended rows
    with the stored build_id so the per-batch checks keep the stream
    alive). A REBUILD changes the build_id and stops the stream. Torn
    rebuilds (mixed stamps) are refused at plan time and per batch.

    Per micro-batch cost: |batch| x m x ksub LUT dots (map-side), one
    broadcast of the batch LUTs over the pinned codes scan, a
    batch-local rank, plus the pre/post fences: no job while the
    catalog vouches for the set, four probe jobs otherwise."""
    op = "serve_pq_topk_stream"
    bid, codes, codebooks, dsub = _pq_served(
        spark, catalog, index_table, op, num_subspaces
    )

    def _rank(batch_df: DataFrame) -> DataFrame:
        _require_small_query_side(
            batch_df.select(F.col(id_col)),
            "serve_pq_topk_stream (per-micro-batch LUT broadcast)",
        )
        return _pq_adc_topk(
            codes, _unit_vectors(batch_df, vec_col, id_col), codebooks,
            k, num_subspaces, dsub,
        )

    return _serve_checked_stream(
        spark, catalog, _PQ_INDEX, index_table, bid,
        query_stream.select(F.col(id_col), F.col(vec_col)), _rank,
        sink_fn, op,
        batch_hint="pq_query_index",
        taint_hint="may mix codebook families",
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
    plan-time torn-rebuild refusal, per-batch pre+post fences pinned to
    the planned build (job-free while the catalog vouches for the set,
    eight probe jobs per batch otherwise), snapshot isolation
    across the two-table ivf_pq_append_to_index (appended rows carry
    the planned build_id; the pinned lists/codes manifests never see a
    half-landed append — serve-through on the planned snapshot, restart
    to serve appended vectors, loud stop on rebuild)."""
    op = "serve_ivf_pq_topk_stream"
    bid, p = read_set(spark, catalog, _IVF_PQ_INDEX, index_table, op)
    _check_stored_codebooks(op, index_table, p["codebooks"], num_subspaces)
    lists = p["lists"].select("cid", "id")
    codes = p["codes"].select("id", "codes")

    def _rank(batch_df: DataFrame) -> DataFrame:
        qid_type, q_rows = _collect_ivf_pq_queries(
            batch_df,
            "serve_ivf_pq_topk_stream (per-micro-batch probes + LUTs)",
            vec_col, id_col,
        )
        return _ivf_pq_adc_rank(
            lists, codes, qid_type, q_rows, p["centroids"],
            p["codebooks"], k, nprobe, num_subspaces, op=op,
        )

    return _serve_checked_stream(
        spark, catalog, _IVF_PQ_INDEX, index_table, bid,
        query_stream.select(F.col(id_col), F.col(vec_col)), _rank,
        sink_fn, op,
        batch_hint="ivf_pq_query_index",
        taint_hint="may mix codebook families",
    )

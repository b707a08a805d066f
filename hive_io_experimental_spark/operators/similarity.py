"""Similarity search over embedding columns (array<float>).

Two tiers, matching how real vector pipelines scale:

  cosine_topk             exact brute-force top-k: queries x corpus theta-join,
                          cosine JVM-side, window rank. The correctness
                          baseline; cost O(|Q| * |corpus|), fine when |Q| is
                          small or the corpus fits a broadcast.
  hyperplane_lsh_buckets  random-hyperplane LSH bucketing: the scale path.
                          Bucket key = sign bits of dot(v, plane_i). Search
                          within buckets only -> candidate set shrinks by
                          ~2^planes; planes are derived deterministically
                          from md5 so results are portable/oracle-checkable.
  cosine_topk_bucketed    top-k restricted to LSH-bucket collisions.

At 100 TB: broadcast the query set (it is always the small side), never the
corpus; bucket join keys are (plane-bits), evenly distributed by
construction. The IVF/PQ tiers assign vectors to centroids and codewords in
Arrow/BLAS batches (mapInPandas against broadcast geometry); their DuckDB
twins are the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hive_io_experimental_spark.functions.partitioning import spread
from hive_io_experimental_spark.functions.reuse import reuse, run_concurrently
from hive_io_experimental_spark.functions.vectors import dot_product, l2_norm
from hive_io_experimental_spark.operators.artifacts import (
    ArtifactSet,
    Part,
    append_fresh,
    append_stamped,
    mismatch_count,
    read_set,
    write_set,
)


def _as_double(vec_col: str):
    return F.transform(F.col(vec_col), lambda x: x.cast("double"))


def _pair_cosine(a_vec: str, a_nrm: str, b_vec: str, b_nrm: str):
    """Cosine from precomputed norms: per-pair work is one fold (the cross
    dot); norms are computed once per vector, with the same sequential fold
    the oracle uses, so results stay bit-identical. try_divide: a zero-norm
    vector yields NULL cosine instead of an ANSI divide-by-zero error."""
    return F.round(
        F.try_divide(
            dot_product(F.col(a_vec), F.col(b_vec)),
            F.col(a_nrm) * F.col(b_nrm),
        ),
        6,
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k nearest corpus vectors per query vector, by cosine.

    Returns (query_id, neighbor_id, cosine, rank), self-matches excluded.
    The join broadcasts the query side explicitly — queries << corpus is
    the contract, ENFORCED (> _MAX_BROADCAST_QUERIES raises, pointing at
    cosine_topk_bucketed), and it keeps the corpus scan shuffle-free.
    The guard makes construction EAGER (one bounded limit+count job runs
    before the plan is returned) and incompatible with a streaming
    ``queries`` frame — see _require_small_query_side; use
    cosine_topk_bucketed (lazy, no broadcast) where that matters.
    """
    c = spread(corpus).select(F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv"))
    q = queries.select(F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv"))
    _require_small_query_side(q, "cosine_topk")
    c = c.withColumn("cnrm", l2_norm(F.col("cv")))
    q = q.withColumn("qnrm", l2_norm(F.col("qv")))
    cos = _pair_cosine("qv", "qnrm", "cv", "cnrm")
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


# Cap on driver-collected/broadcast query vectors for EVERY broadcast
# top-k path — driver collects AND the JVM F.broadcast(q) joins. An explicit
# broadcast hint bypasses autoBroadcastJoinThreshold, so without this check
# a large query side turns into an executor OOM instead of a helpful error
# (~64 KB/vector at dim 64 -> ~4 GB worst case is already too big).
# Reference discipline: strict precondition checks before work
# (output/HiveApiOutputFormat.java:240-262).
_MAX_BROADCAST_QUERIES = 65_536
_NO_BROADCAST_ESCAPE = "cosine_topk_bucketed or quantized_cosine_topk_bucketed"


def _require_small_query_side(
    q: DataFrame,
    caller: str,
    cap: int | None = None,
    escape: str = _NO_BROADCAST_ESCAPE,
) -> None:
    """Enforce the queries-<<-corpus contract before broadcasting.

    limit(cap+1).count() stops the scan as soon as the cap is disproved,
    so the guard costs one bounded job, never a full count of a large
    query frame. NOTE: that one job makes every caller EAGER — building
    the plan runs Spark work, and a streaming query frame (which cannot
    be counted) is rejected outright. That is deliberate: the guarded
    paths collect/broadcast the query side, which is equally impossible
    on a stream. Streaming callers route per-microbatch frames through
    these operators inside foreachBatch, or use the *_bucketed variants
    (no broadcast, no guard, fully lazy).

    ``cap`` overrides the default limit for callers whose broadcast
    payload is a MULTIPLE of the query row count (multi-probe fan-out
    broadcasts queries x (1 + probes) rows, so its effective cap is the
    default divided by the fan-out); ``escape`` names the no-broadcast
    operator the error should route large query sets to."""
    limit = _MAX_BROADCAST_QUERIES if cap is None else max(1, cap)
    n_q = q.limit(limit + 1).count()
    if n_q > limit:
        raise _too_many_queries(caller, limit, escape)


def _too_many_queries(caller: str, limit: int, escape: str) -> ValueError:
    return ValueError(
        f"{caller} broadcasts the query side to every task; got > "
        f"{limit} query vectors. Use {escape} "
        f"(LSH candidate generation, no broadcast) for large query "
        f"sets."
    )


# ---------------------------------------------------------------------------
# LSH bucketing
# ---------------------------------------------------------------------------

def _plane_component(plane: int, dim: int) -> float:
    """Deterministic pseudo-random +-1 for (plane, dim) from one md5 bit.

    Portable: DuckDB computes the identical value from the same formula, so
    bucket assignments are oracle-checkable. Bit source: low bit of the
    first hex char of md5('<plane>:<dim>').
    """
    import hashlib

    nib = int(hashlib.md5(f"{plane}:{dim}".encode()).hexdigest()[0], 16)
    return 1.0 if nib & 1 == 1 else -1.0


# Auto-sized LSH: with a FIXED plane count, bucket occupancy grows
# linearly with the corpus, so within-bucket pair work grows as
# n^2 / 2^planes — quietly quadratic at scale (measured: knn_label_accuracy
# was the worst gate at 100x data before auto-sizing, BENCH_SCALING_100X).
_LSH_MIN_PLANES = 8        # floor: never fewer buckets than the r7 dial
_LSH_TARGET_BUCKET_SIZE = 64  # ~64 bucket-mates: plenty of candidates for
#   k<=10 top-k / k-NN votes, and within-bucket pair work stays ~64n
#   (e.g. n=1e9 -> 24 planes, 16M buckets, 6.4e10 distributed pairs —
#   versus n^2/256 = 3.9e15 at the old fixed dial)


def resolve_num_planes(n: int, min_planes: int = _LSH_MIN_PLANES,
                       target_bucket_size: int = _LSH_TARGET_BUCKET_SIZE) -> int:
    """Scale-aware hyperplane count: max(min_planes, ceil(log2(n/target))).

    Keeps expected bucket occupancy near ``target_bucket_size`` as the
    corpus grows, so within-bucket pair work stays ~n * target instead of
    n^2 / 2^min_planes. Clamped at 30 planes (2^30 buckets is beyond any
    realistic corpus/target ratio; the clamp just guards the int shift).
    """
    import math

    if n <= target_bucket_size:
        return min_planes
    return min(30, max(min_planes, math.ceil(math.log2(n / target_bucket_size))))


def hyperplane_lsh_buckets(
    df: DataFrame,
    num_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """(id, bucket) — sign-of-dot-product LSH bucket per vector.

    bucket = sum over planes of 2^i * [dot(v, plane_i) >= 0]. The plane
    matrix is derived ONCE on the driver (a few KB of +-1 literals baked
    into the plan — an earlier formulation computed the md5-derived
    component inside the per-element lambda: |corpus| x planes x dim
    interpreted md5 calls, 6x slower) and the per-vector work is just the
    fold; at 100 TB this is a pure map over the corpus with zero shuffle.
    The fold is left-to-right, bit-identical to the oracle's
    list_dot_product. Vector dim is probed from the first row (embedding
    columns are fixed-width by contract) unless the caller passes ``dim``
    — operators that bucket two frames with one shared layout probe once
    and pass it to both calls, saving a scheduled job per call.
    """
    df = spread(df)
    if dim is None:
        dim = df.select(F.size(F.col(vec_col))).first()[0]
    return df.select(
        F.col(id_col).alias("id"),
        lsh_bucket_expr(num_planes, dim, vec_col).alias("bucket"),
    )


def lsh_bucket_expr(num_planes: int, dim: int, vec_col: str = "embedding"):
    """The LSH bucket as a single column EXPRESSION — the reusable core of
    hyperplane_lsh_buckets, exposed so stream-side bucketing (which must
    keep the vector column alongside and cannot probe/repartition) hashes
    queries into the exact same family.

    One literal plane array per plane + a zip_with/aggregate fold. (Two
    rejected alternatives, measured at sf0.1: md5-per-(plane,dim) inside
    the lambda = 1M interpreted md5 calls, 6x slower; fully unrolled
    512-term element_at expression = codegen blowup, 3x slower than the
    fold. The fold's 1M interpreted multiply-adds are the cheapest seat.)
    """
    v = _as_double(vec_col)
    bucket = None
    for p in range(num_planes):
        plane = F.array(*[F.lit(_plane_component(p, d)) for d in range(dim)])
        dot = F.aggregate(
            F.zip_with(v, plane, lambda x, c: x * c),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        bit = F.when(dot >= 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bit if bucket is None else bucket + bit
    return bucket


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    centroid_stride: int = 50,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-flat approximate top-k: inverted-file search with a deterministic
    coarse quantizer.

    Index structure (the FAISS IVF shape, built relationally):
      1. centroids = corpus vectors with id % centroid_stride == 0 — a
         deterministic sample as the coarse quantizer (a trained KMeans
         would drop in here; the sampled quantizer keeps the whole operator
         oracle-checkable in SQL and needs no iterative fit).
      2. every corpus vector is assigned to its nearest centroid (max
         cosine, ties to the lowest centroid id) -> the inverted lists.
      3. each query probes its ``nprobe`` nearest centroids and scores only
         those lists -> candidates shrink by ~ncentroids/nprobe.

    Scale notes: the assignment step is |corpus| x |centroids| — it runs
    as a mapInPandas BLAS pass against broadcast centroids (same shape as
    embedding_neardup's candidate stage, zero corpus-side shuffle); the
    DuckDB twin's relational assignment is the reference. Search is an
    equi-join on centroid id: no theta join anywhere. A quantizer with
    no centroid (no id hits the stride) returns the empty contract frame.
    """
    cents = corpus.filter(F.col(id_col) % centroid_stride == 0).select(
        F.col(id_col).alias("cid"), _as_double(vec_col).alias("cv")
    )
    return _ivf_search(corpus, queries, cents, k, nprobe, vec_col, id_col)


def ivf_topk_trained(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    seed: int = 7,
    max_iter: int = 10,
    sample_per_centroid: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-flat with a KMeans-TRAINED coarse quantizer (the quality path).

    ``sample_per_centroid`` defaults from the session conf
    (hiveio.similarity.sample_per_centroid).

    Same index/search shape as :func:`ivf_topk`, but the centroids come from
    spherical k-means trained on a bounded, deterministic corpus sample.
    Iterative fitting is not SQL-expressible, so this operator has NO DuckDB
    oracle — tests bound its recall against the brute-force baseline instead
    (the honest check for an ANN index).

    Training design (the FAISS shape, and the right one at 100 TB): the
    quantizer is fit on at most ``sample_per_centroid * n_centroids``
    vectors — pulled with a deterministic hash-stride filter (one narrow
    scan), trained DRIVER-LOCAL with numpy, and the resulting few-KB
    centroid table broadcast back. Coarse quantizers converge on tiny
    samples; running the Lloyd iterations as cluster jobs (the previous
    formulation, via pyspark.ml) pays per-iteration job-scheduling overhead
    that dwarfs the arithmetic at any sample size (54 s -> sub-second).
    Spherical (unit-normalized, cosine-assignment) k-means matches the
    cosine search metric.
    """
    cent_df = fit_spherical_kmeans(
        corpus, n_centroids, seed, max_iter, sample_per_centroid,
        vec_col, id_col,
    )
    return _ivf_search(corpus, queries, cent_df, k, nprobe, vec_col, id_col)


def fit_spherical_kmeans(
    corpus: DataFrame,
    n_centroids: int = 8,
    seed: int = 7,
    max_iter: int = 10,
    sample_per_centroid: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Train the IVF coarse quantizer; returns (cid, cv array<double>).

    Bounded, deterministic: at most ``sample_per_centroid * n_centroids``
    vectors reach the driver (hash-stride sample, id-sorted so the fit is
    independent of scan order), Lloyd iterations run driver-local in
    numpy, and the output is a few-KB DataFrame ready to broadcast or
    persist (see ivf_build_index). See ivf_topk_trained for the design
    rationale.
    """
    import numpy as np

    from hive_io_experimental_spark import conf as _conf

    if sample_per_centroid is None:
        sample_per_centroid = _conf.IVF_SAMPLE_PER_CENTROID.get(
            corpus.sparkSession
        )

    n = corpus.count()  # one probe job (metadata-cheap only on a raw scan)
    target = sample_per_centroid * n_centroids
    stride = max(1, n // max(target, 1))
    train = corpus
    if stride > 1:
        # deterministic pseudo-random sample: ~n/stride rows, no shuffle
        train = train.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(stride)) == 0
        )
    pdf = (
        train.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("v"))
        .toPandas()
        .sort_values("id")  # row order independence -> deterministic fit
    )
    mat = np.array(list(pdf["v"]), dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    unit = np.divide(mat, norms, out=np.zeros_like(mat), where=norms != 0)

    rng = np.random.RandomState(seed)
    cents = unit[rng.choice(len(unit), size=min(n_centroids, len(unit)),
                            replace=False)].copy()
    for _ in range(max_iter):
        assign = np.argmax(unit @ cents.T, axis=1)
        for c in range(len(cents)):
            members = unit[assign == c]
            if len(members) == 0:  # dead centroid: reseed deterministically
                cents[c] = unit[rng.randint(len(unit))]
                continue
            m = members.mean(axis=0)
            nm = np.linalg.norm(m)
            if nm > 0:
                cents[c] = m / nm

    spark = corpus.sparkSession
    return spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cid long, cv array<double>",
    )


def ivf_build_index(
    spark,
    catalog,
    index_table: str,
    corpus: DataFrame,
    n_centroids: int = 8,
    seed: int = 7,
    max_iter: int = 10,
    sample_per_centroid: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Train and PERSIST an IVF coarse quantizer as a catalog table.

    The index lifecycle a warehouse needs: train once (expensive-ish scan
    + driver fit), store the few-KB centroid table under the catalog's
    write policies, then serve any number of queries from the stored
    quantizer without refitting (ivf_query_index). Rebuilding after
    corpus drift is just calling this again with drop semantics — the
    snapshot/versioning machinery applies to index tables like any other
    table. (FAISS persists its quantizer inside the index file; a
    catalog-registered table is this engine's equivalent, and keeps the
    index queryable AS DATA — auditable with plain SQL.)

    Deliberately NO append sibling (unlike lsh/pq/ivf_pq_append_to_
    index): this tier's only persisted artifact is the quantizer, and
    serving (ivf_query_index) takes the corpus as data — corpus growth
    costs nothing here. What ages is quantizer QUALITY as the
    distribution drifts; embedding_centroid_drift monitors that, and
    the answer is an explicit retrain, not an append.
    """
    from pyspark.sql import types as T

    from hive_io_experimental_spark.output import HiveOutput, WriteSpec
    from hive_io_experimental_spark.schema import HiveTableSchema

    cents = fit_spherical_kmeans(
        corpus, n_centroids, seed, max_iter, sample_per_centroid,
        vec_col, id_col,
    )
    # rebuild = drop + recreate: the unpartitioned write path enforces the
    # reference's table-must-be-empty precondition, so index refreshes go
    # through an explicit drop — never a silent in-place overwrite
    if catalog.table_exists(index_table):
        catalog.drop_table(index_table, delete_data=True)
    catalog.create_table(
        index_table,
        HiveTableSchema((
            ("cid", T.LongType()),
            ("cv", T.ArrayType(T.DoubleType())),
        )),
    )
    HiveOutput(spark, catalog).write_table(WriteSpec(table=index_table), cents)


def ivf_query_index(
    spark,
    catalog,
    index_table: str,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k search against a quantizer persisted by ivf_build_index."""
    from hive_io_experimental_spark.input import HiveInput, ScanSpec

    cents = HiveInput(spark, catalog).read_table(ScanSpec(table=index_table))
    return _ivf_search(corpus, queries, cents, k, nprobe, vec_col, id_col)


def ivf_recall_check(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    seed: int = 7,
    max_iter: int = 10,
    min_avg_recall: float = 0.5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Cross-engine invariant for the trained-IVF path: k-means centroids
    are not SQL-expressible, but the index's QUALITY CONTRACT is — the
    IVF top-k must recover at least ``min_avg_recall`` of the exact
    brute-force top-k. Returns ONE row an exact-SQL oracle reproduces:

      n_queries       — query vectors (exact, both engines);
      n_exact_results — n_queries * k, the recall denominator (exact —
                        the brute-force path always fills k for any
                        corpus with >= k non-self vectors);
      recall_ok       — TRUE iff micro-averaged recall@k >= the floor
                        (invariant; a degraded quantizer flips it and
                        the gate hash-fails).

    Runs BOTH the approximate and the exact search, so the gate times the
    full quality-audit workload, not a toy.
    """
    approx = ivf_topk_trained(
        corpus, queries, k, n_centroids, nprobe, seed, max_iter,
        vec_col=vec_col, id_col=id_col,
    ).select("query_id", "neighbor_id")
    exact = cosine_topk(corpus, queries, k, vec_col, id_col).select(
        "query_id", "neighbor_id"
    )
    joined = exact.join(
        approx.withColumn("_hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    return joined.agg(
        F.countDistinct("query_id").cast("long").alias("n_queries"),
        F.count(F.lit(1)).cast("long").alias("n_exact_results"),
        (
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            / F.count(F.lit(1))
            >= F.lit(min_avg_recall)
        ).alias("recall_ok"),
    )


def ivf_sq8_recall_check(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    centroid_stride: int = 50,
    nprobe: int = 2,
    min_avg_recall: float = 0.5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall audit for the COMPOSED IVF-SQ8 path (ivf_quantized_topk)
    against the fp32 exact brute-force top-k — the number the int8
    brute/bucketed tier already has (quantization_quality_report) but
    for the tier that stacks IVF pruning on top of quantization, so a
    recall loss from EITHER stage (too-narrow nprobe, quantizer drift)
    shows up in one row.

    Unlike ivf_recall_check (trained k-means, invariant-only oracle),
    every stage here is SQL-expressible — sampled coarse quantizer,
    deterministic assignment, exact int64 code scoring — so the DuckDB
    twin reproduces the EXACT hit count, not just the pass/fail bit:

      n_queries       — query vectors (exact);
      n_exact_results — n_queries * k, the recall denominator (exact);
      n_hits          — exact-top-k slots the IVF-SQ8 path recovered
                        (exact — both engines compute the identical
                        candidate set and ranking);
      recall_ok       — n_hits / n_exact_results >= the floor.

    Runs BOTH searches, so the gate times the full audit workload.
    tools/quantization_report.py commits this number at sf1 next to the
    brute-tier quality record (r8 verdict task 6).
    """
    approx = ivf_quantized_topk(
        corpus, queries, k, centroid_stride, nprobe, vec_col, id_col
    ).select("query_id", "neighbor_id")
    exact = cosine_topk(corpus, queries, k, vec_col, id_col).select(
        "query_id", "neighbor_id"
    )
    joined = exact.join(
        approx.withColumn("_hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    hits = F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
    return joined.agg(
        F.countDistinct("query_id").cast("long").alias("n_queries"),
        F.count(F.lit(1)).cast("long").alias("n_exact_results"),
        hits.cast("long").alias("n_hits"),
        (hits / F.count(F.lit(1)) >= F.lit(min_avg_recall)).alias(
            "recall_ok"
        ),
    )


def ivf_index_consistency_check(
    spark,
    catalog,
    index_table: str,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    seed: int = 7,
    max_iter: int = 10,
    sample_per_centroid: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Cross-engine invariant for the PERSISTED index lifecycle: after
    ivf_build_index, the stored quantizer must be bit-identical to a
    deterministic refit (parquet round-trips doubles exactly), and
    serving from the stored index must return exactly what the in-memory
    trained path returns. Returns ONE row of integers:

      n_vectors           — corpus size (exact, both engines);
      n_centroids         — stored centroid rows (the build parameter);
      n_centroid_mismatch — stored vs refit centroid vectors that differ
                            (invariant: 0 — persistence fidelity);
      n_serve_mismatch    — (query_id, rank) slots where stored-index
                            serving disagrees with the in-memory path
                            (invariant: 0 — read-path fidelity).
    """
    from hive_io_experimental_spark.input import HiveInput, ScanSpec

    stored = HiveInput(spark, catalog).read_table(
        ScanSpec(table=index_table)
    )
    refit = fit_spherical_kmeans(
        corpus, n_centroids, seed, max_iter, sample_per_centroid,
        vec_col, id_col,
    )
    cent_mismatch = (
        stored.select("cid", F.col("cv").alias("cv_stored"))
        .join(refit.select("cid", F.col("cv").alias("cv_refit")), "cid",
              "full")
        .filter(
            F.col("cv_stored").isNull()
            | F.col("cv_refit").isNull()
            | (F.col("cv_stored") != F.col("cv_refit"))
        )
    )
    served = ivf_query_index(
        spark, catalog, index_table, corpus, queries, k, nprobe,
        vec_col, id_col,
    ).select("query_id", "rank", F.col("neighbor_id").alias("n_stored"))
    mem = ivf_topk_trained(
        corpus, queries, k, n_centroids, nprobe, seed, max_iter,
        sample_per_centroid, vec_col, id_col,
    ).select("query_id", "rank", F.col("neighbor_id").alias("n_mem"))
    serve_mismatch = served.join(mem, ["query_id", "rank"], "full").filter(
        F.col("n_stored").isNull()
        | F.col("n_mem").isNull()
        | (F.col("n_stored") != F.col("n_mem"))
    )

    nv = corpus.agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    nc = stored.agg(F.count(F.lit(1)).cast("long").alias("n_centroids"))
    cm = cent_mismatch.agg(
        F.count(F.lit(1)).cast("long").alias("n_centroid_mismatch")
    )
    sm = serve_mismatch.agg(
        F.count(F.lit(1)).cast("long").alias("n_serve_mismatch")
    )
    return (
        nv.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(cm))
        .crossJoin(F.broadcast(sm))
    )


def _centroid_matrix(cent_rows: list) -> tuple:
    """(cids, C, c_norms) over the cid-sorted centroid rows: the geometry
    every cosine assignment closes over. A zero-norm centroid gets an
    infinite norm, so it never wins."""
    import numpy as np

    cent_rows = sorted(cent_rows, key=lambda r: r["cid"])
    cids = np.array([r["cid"] for r in cent_rows], dtype=np.int64)
    C = np.array([r["cv"] for r in cent_rows], dtype=np.float64)
    c_norms = np.linalg.norm(C, axis=1)
    c_norms[c_norms == 0] = np.inf
    return cids, C, c_norms


def _assign_pandas(
    side: DataFrame, sid: str, vname: str, nrmname: str,
    cent_rows: list, keep: int,
) -> DataFrame:
    """Nearest-centroid assignment as one Arrow/BLAS matmul per batch.

    The centroid matrix (KBs) is closed over. Ordering matches the
    DuckDB twins' window assignment, which is the reference: cosine
    descending, ties to the lowest centroid id (stable argsort over
    cid-sorted centroids). BLAS summation order can differ from the
    sequential fold at the last ulp — irrelevant for assignment, where
    centroid separation dwarfs float noise. ``cent_rows`` must be
    non-empty; callers return their empty contract frame first.
    """
    import numpy as np

    cids, C, c_norms = _centroid_matrix(cent_rows)

    # bound the per-chunk cosine matrix to ~16 MB so a WIDE centroid set
    # (semantic_dedup's stride quantizer grows its cluster count with
    # the corpus — 10k+ centroids at sf10) neither materializes a
    # rows x centroids giant nor pays a full argsort when only the
    # argmax is needed
    chunk_rows = max(1, 2_000_000 // max(len(cids), 1))

    def assign(batches):
        for pdf in batches:
            for lo in range(0, len(pdf), chunk_rows):
                part = pdf.iloc[lo:lo + chunk_rows]
                if len(part) == 0:
                    continue
                M = np.array(list(part[vname]), dtype=np.float64)
                m_norms = part[nrmname].to_numpy(dtype=np.float64).copy()
                m_norms[m_norms == 0] = np.inf
                cos = (M @ C.T) / (m_norms[:, None] * c_norms[None, :])
                if keep == 1:
                    # np.argmax returns the FIRST max: ties to the
                    # lowest cid (C is cid-sorted) — same tie rule as
                    # the stable argsort, at O(k) per row not O(k log k)
                    order = np.argmax(cos, axis=1)[:, None]
                else:
                    # stable sort: primary -cos desc, ties keep cid order
                    order = np.argsort(-cos, axis=1, kind="stable")[:, :keep]
                n = len(part)
                reps = order.shape[1]
                out = part.iloc[np.repeat(np.arange(n), reps)].copy()
                out["cid"] = cids[order.ravel()]
                yield out

    sid_type = dict(side.dtypes)[sid]
    schema = (
        f"{sid} {sid_type}, {vname} array<double>, {nrmname} double, cid long"
    )
    return side.mapInPandas(assign, schema)


def _ivf_assign(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    vec_col: str,
    id_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Shared assign/probe stage: returns (inverted, probes).

    inverted: (neighbor_id, nv, nnrm, cid) — every corpus vector in its
    nearest-centroid list; probes: (query_id, qv, qnrm, cid) — each
    query replicated to its ``nprobe`` nearest lists. Assignment is the
    Arrow/BLAS map-side pass (_assign_pandas: broadcast centroid matrix,
    zero corpus-side exchange); the DuckDB twins' relational assignment
    is the reference. Both scoring tiers — fp32 (_ivf_search) and int8
    (ivf_quantized_topk) — build on this. An empty quantizer yields
    empty lists and probes, so every caller returns its empty contract
    frame.

    The probe table (queries x nprobe) is broadcast by the scoring
    joins, so the queries-<<-corpus contract is enforced here once for
    every IVF path — same strict-precondition discipline as the exact
    broadcast top-ks. The guard's bounded limit+count job makes every
    IVF constructor EAGER and unusable on a streaming query frame
    (_require_small_query_side documents why); stream callers invoke
    per-microbatch inside foreachBatch.
    """
    _require_small_query_side(
        queries.select(F.col(id_col)), "IVF top-k (broadcast probes)"
    )
    # ONE centroid collect serves both assignment closures — the corpus
    # and query sides each collected the same (often corpus-derived)
    # centroid frame, i.e. one redundant scan job per IVF call (r15
    # optimization round, guide §1.2)
    cent_rows = [r.asDict() for r in centroids.collect()]

    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("nv")
    ).withColumn("nnrm", l2_norm(F.col("nv")))
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    ).withColumn("qnrm", l2_norm(F.col("qv")))
    if not cent_rows:
        # no id hits the stride: no lists to probe (limit(0) plans as an
        # empty local relation, no job)
        no_list = F.lit(None).cast("long").alias("cid")
        return c.select("*", no_list).limit(0), q.select("*", no_list).limit(0)

    inverted = _assign_pandas(c, "neighbor_id", "nv", "nnrm", cent_rows, keep=1)
    probes = _assign_pandas(q, "query_id", "qv", "qnrm", cent_rows, keep=nprobe)
    return inverted, probes


def _ivf_search(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int,
    nprobe: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Shared IVF machinery: assign -> probe -> list-equi-join -> rank.

    ``centroids`` must have columns (cid, cv: array<double>).

    Assignment is the Arrow/BLAS map-side pass (broadcast centroid
    matrix, one matmul + argmax per batch, ZERO corpus-side exchanges).
    A relational crossJoin of the corpus against the centroids, ranked
    by a window, would shuffle corpus x n_centroids rows — an 8-64x
    amplification for an argmax at 100 TB (r5 audit); that form lives
    only in the DuckDB twins, which are the reference.
    """
    inverted, probes = _ivf_assign(
        corpus, queries, centroids, nprobe, vec_col, id_col
    )
    cos = _pair_cosine("qv", "qnrm", "nv", "nnrm")
    scored = (
        inverted.join(F.broadcast(probes), "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def cosine_topk_bucketed(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_planes: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: candidates limited to same-LSH-bucket vectors.

    Recall < 1 by construction (that is the approximation); the equi-join on
    bucket replaces the all-pairs product, turning an O(n^2) scan into a
    bucketed join both Catalyst and AQE know how to distribute.

    ``num_planes=None`` (default) auto-sizes the bucket count from the
    corpus cardinality (see resolve_num_planes) so bucket occupancy —
    and with it within-bucket pair work — stays flat as the corpus grows
    instead of going quadratic at a fixed dial. Pass an explicit int to
    pin the bucket layout (oracle twins do). Corpus count and vector dim
    come from ONE probe job, shared by both bucketing passes.
    """
    corpus = spread(corpus)
    probe = corpus.agg(
        F.count(F.lit(1)).alias("n"),
        F.first(F.size(F.col(vec_col))).alias("dim"),
    ).first()
    if num_planes is None:
        num_planes = resolve_num_planes(probe["n"])
    cb = hyperplane_lsh_buckets(
        corpus, num_planes, vec_col, id_col, dim=probe["dim"]
    )
    qb = hyperplane_lsh_buckets(
        queries, num_planes, vec_col, id_col, dim=probe["dim"]
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")).join(
        cb.withColumnRenamed("id", "neighbor_id"), "neighbor_id"
    ).withColumn("cnrm", l2_norm(F.col("cv")))
    q = queries.select(F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")).join(
        qb.withColumnRenamed("id", "query_id"), "query_id"
    ).withColumn("qnrm", l2_norm(F.col("qv")))
    cos = _pair_cosine("qv", "qnrm", "cv", "cnrm")
    scored = (
        c.join(
            F.broadcast(q),
            (c["bucket"] == q["bucket"]) & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def ivf_quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    centroid_stride: int = 50,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-SQ8: inverted-file candidate pruning + int8 in-list scoring —
    the memory-lean serving tier (the FAISS "IVF,SQ8" shape).

    Assignment and probing run on fp32 against the deterministic sampled
    coarse quantizer (identical candidate structure to :func:`ivf_topk`,
    BLAS map-side); the FINAL scoring pass reads only the
    4x-smaller int8 codes and runs the same exact int64 arithmetic as
    quantized_cosine_topk (per-vector scales cancel in cosine). Both
    stages are deterministic, so the DuckDB twin composes the IVF
    assignment SQL with the quantizer SQL and checks values with zero
    tolerance. At 100 TB the wins stack: candidates shrink by
    ~ncentroids/nprobe AND the scored payload shrinks 4x.

    Returns (query_id, neighbor_id, qcosine, rank).
    """
    cents = corpus.filter(F.col(id_col) % centroid_stride == 0).select(
        F.col(id_col).alias("cid"), _as_double(vec_col).alias("cv")
    )
    inverted, probes = _ivf_assign(
        corpus, queries, cents, nprobe, vec_col, id_col
    )
    return _ivf_quantized_score(
        corpus, queries, inverted, probes, k, vec_col, id_col
    )


def _ivf_quantized_score(
    corpus: DataFrame,
    queries: DataFrame,
    inverted: DataFrame,
    probes: DataFrame,
    k: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Shared IVF-SQ8 scoring: join the int8 codes onto the inverted
    lists / probe table and rank by the exact int64 quantized cosine.
    Used by both the sampled-quantizer and trained-quantizer tiers."""
    cq = (
        quantize_embeddings(spread(corpus), vec_col, id_col)
        .select(F.col(id_col).alias("neighbor_id"), F.col("codes").alias("cc"))
        .withColumn("cn", _int64_fold(F.transform(F.col("cc"), lambda x: x * x)))
    )
    qq = (
        quantize_embeddings(queries, vec_col, id_col)
        .select(F.col(id_col).alias("query_id"), F.col("codes").alias("qc"))
        .withColumn("qn", _int64_fold(F.transform(F.col("qc"), lambda x: x * x)))
    )
    inv = inverted.select("cid", "neighbor_id").join(cq, "neighbor_id")
    prb = probes.select("cid", "query_id").join(qq, "query_id")
    scored = (
        inv.join(F.broadcast(prb), "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _quantized_cosine().alias("qcosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def ivf_quantized_topk_trained(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    seed: int = 7,
    max_iter: int = 10,
    sample_per_centroid: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-SQ8 with the KMeans-TRAINED coarse quantizer — the quality
    path of :func:`ivf_quantized_topk`, same relationship
    :func:`ivf_topk_trained` has to :func:`ivf_topk`.

    The quantizer is fit driver-local on a bounded deterministic sample
    (fit_spherical_kmeans); candidates come from the trained lists;
    scoring reads only the int8 codes (exact int64, scales cancel).
    Iterative fitting is not SQL-expressible, so like ivf_topk_trained
    this has NO DuckDB oracle — tests bound recall against the
    brute-force baseline instead.
    """
    cents = fit_spherical_kmeans(
        corpus, n_centroids, seed, max_iter, sample_per_centroid,
        vec_col, id_col,
    )
    inverted, probes = _ivf_assign(
        corpus, queries, cents, nprobe, vec_col, id_col
    )
    return _ivf_quantized_score(
        corpus, queries, inverted, probes, k, vec_col, id_col
    )


def cosine_topk_auto(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quantized: bool = False,
) -> DataFrame:
    """Route top-k by MEASURED query-side size — the serving entry point
    that never OOMs and never errors on shape.

    <= _MAX_BROADCAST_QUERIES query vectors -> the exact broadcast path
    (cosine_topk / quantized_cosine_topk: corpus scan stays
    shuffle-free); larger -> the LSH-bucketed path (cosine_topk_bucketed
    / quantized_cosine_topk_bucketed: equi-join on auto-sized buckets,
    recall < 1 by construction — the documented trade for unbounded
    query sets). The size probe is the same bounded
    limit(cap+1).count() the guards use, so routing costs one early-stop
    job. ``quantized=True`` serves from int8 codes on either route
    (score column ``qcosine``; fp32 routes emit ``cosine``).
    """
    n_q = queries.limit(_MAX_BROADCAST_QUERIES + 1).count()
    if n_q <= _MAX_BROADCAST_QUERIES:
        fn = quantized_cosine_topk if quantized else cosine_topk
        return fn(corpus, queries, k, vec_col, id_col)
    fn = (
        quantized_cosine_topk_bucketed if quantized else cosine_topk_bucketed
    )
    return fn(corpus, queries, k, None, vec_col, id_col)


def label_centroid_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Per-label centroid profile + nearest-centroid self-classification.

    The embedding-space health check every labeled corpus needs: for each
    label, the centroid (elementwise mean), how tight the cluster is (mean
    cosine of members to their own centroid) and how separable it is (how
    many members' NEAREST centroid — over all labels, by cosine — is their
    own).

    Plan shape, sized for 100 TB: posexplode to (label, dim, value) and
    aggregate — ONE shuffle whose volume is rows x dims scalar pairs, with
    map-side partial aggregation collapsing each partition to at most
    |labels| x dims rows; the resulting centroid table (|labels| rows) is
    collected into a broadcast join, so the scoring pass is a pure map over
    the corpus scan. No corpus-sized state ever sits on one node.

    Determinism across engines: each component is rounded to 6 then summed
    as exact DECIMAL(18,6) (order-independent — double-sum drift cannot
    flip a value hash); centroids are therefore bit-identical, and the
    member-to-centroid cosine is the usual sequential fold both engines
    share. Ties in the nearest-centroid argmax break toward the smaller
    label. Returns (label, n_vectors, centroid_norm, avg_cos_centroid,
    n_nearest_own).
    """
    v = spread(df).select(
        F.col(id_col).alias("_id"),
        F.col(label_col).alias("_lbl"),
        _as_double(vec_col).alias("_v"),
    )
    dims = (
        v.select("_lbl", F.posexplode("_v").alias("_dim", "_x"))
        .groupBy("_lbl", "_dim")
        .agg(
            (
                F.sum(F.round(F.col("_x"), 6).cast("decimal(18,6)"))
                .cast("double")
                / F.count(F.lit(1))
            ).alias("_c")
        )
    )
    centroids = (
        dims.groupBy(F.col("_lbl").alias("_clbl"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_dim"), F.col("_c")))
            ).alias("_pairs")
        )
        .select(
            "_clbl",
            F.transform(F.col("_pairs"), lambda s: s["_c"]).alias("_cv"),
        )
        .withColumn("_cnrm", l2_norm(F.col("_cv")))
    )
    member = v.withColumn("_nrm", l2_norm(F.col("_v")))
    scored = member.crossJoin(F.broadcast(centroids)).select(
        "_id",
        "_lbl",
        "_clbl",
        "_cnrm",
        _pair_cosine("_v", "_nrm", "_cv", "_cnrm").alias("_cos"),
    )
    w = Window.partitionBy("_id").orderBy(
        F.col("_cos").desc(), F.col("_clbl").asc()
    )
    ranked = scored.withColumn("_rn", F.row_number().over(w))
    own = ranked.filter(F.col("_lbl") == F.col("_clbl"))
    return (
        own.groupBy(F.col("_lbl").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.first("_cnrm"), 6).alias("centroid_norm"),
            (
                F.sum(F.col("_cos").cast("decimal(10,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_cos_centroid"),
            F.sum(F.when(F.col("_rn") == 1, 1).otherwise(0)).alias(
                "n_nearest_own"
            ),
        )
    )


def knn_label_accuracy(
    df: DataFrame,
    k: int = 5,
    num_planes: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Leave-one-out kNN self-classification over LSH-bucketed candidates:
    every vector is classified by majority label of its k nearest
    bucket-mates, and accuracy is reported per label — the standard "are
    these embeddings any good" evaluation, at the scale-safe candidate set.

    NO all-pairs product: candidates come from the same equi-join on the
    hyperplane bucket that backs cosine_topk_bucketed, so cost scales with
    bucket occupancy, not n^2 — and ``num_planes=None`` (default)
    auto-sizes the bucket count from the corpus cardinality
    (resolve_num_planes) so occupancy stays near-constant as the corpus
    grows; pass an int to pin the layout (oracle twins do). Vectors alone
    in their bucket are unclassifiable and excluded (reported coverage =
    n_classified). Majority ties break toward the smaller label; neighbor
    ties toward the smaller id. Returns (label, n_classified, n_correct,
    accuracy).
    """
    base = spread(df).select(
        F.col(id_col).alias("_id"),
        F.col(label_col).alias("_lbl"),
        _as_double(vec_col).alias("_v"),
    )
    probe = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.first(F.size(F.col("_v"))).alias("dim"),
    ).first()
    if num_planes is None:
        num_planes = resolve_num_planes(probe["n"])
    bk = hyperplane_lsh_buckets(
        base.withColumnRenamed("_v", vec_col), num_planes, vec_col, "_id",
        dim=probe["dim"],
    ).withColumnRenamed("id", "_id")
    v = (
        base.join(bk, "_id")
        .withColumn("_nrm", l2_norm(F.col("_v")))
        .select("_id", "_lbl", "_v", "_nrm", "bucket")
    )
    a = v.select(
        F.col("_id").alias("qid"), F.col("_lbl").alias("qlbl"),
        F.col("_v").alias("qv"), F.col("_nrm").alias("qnrm"),
        F.col("bucket"),
    )
    b = v.select(
        F.col("_id").alias("nid"), F.col("_lbl").alias("nlbl"),
        F.col("_v").alias("cv"), F.col("_nrm").alias("cnrm"),
        F.col("bucket").alias("_b2"),
    )
    pairs = a.join(
        b, (F.col("bucket") == F.col("_b2")) & (F.col("qid") != F.col("nid"))
    ).select(
        "qid", "qlbl", "nid", "nlbl",
        _pair_cosine("qv", "qnrm", "cv", "cnrm").alias("cos"),
    )
    w_rank = Window.partitionBy("qid").orderBy(
        F.col("cos").desc(), F.col("nid").asc()
    )
    topk = pairs.withColumn("_rn", F.row_number().over(w_rank)).filter(
        F.col("_rn") <= k
    )
    votes = topk.groupBy("qid", "qlbl", "nlbl").agg(
        F.count(F.lit(1)).alias("_c")
    )
    w_vote = Window.partitionBy("qid").orderBy(
        F.col("_c").desc(), F.col("nlbl").asc()
    )
    pred = votes.withColumn("_vr", F.row_number().over(w_vote)).filter(
        F.col("_vr") == 1
    )
    return (
        pred.groupBy(F.col("qlbl").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_classified"),
            F.sum(
                F.when(F.col("nlbl") == F.col("qlbl"), 1).otherwise(0)
            ).alias("n_correct"),
        )
        .select(
            "label",
            "n_classified",
            "n_correct",
            F.round(F.col("n_correct") / F.col("n_classified"), 6).alias(
                "accuracy"
            ),
        )
    )


def embedding_centroid_drift(
    ref: DataFrame,
    cur: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Embedding-space drift monitor: per label, the L2 distance between
    the reference corpus's centroid and the current one's.

    The vector-space counterpart of the PSI value monitor
    (profile.histogram_drift): an embedding pipeline re-checks that each
    class's representation hasn't moved between snapshots/batches before
    trusting thresholds tuned on the reference. Plan: one posexplode +
    (label, dim) aggregate per side — shuffle volume is rows × dims
    scalar pairs with map-side partials, centroid tables are |labels| ×
    dims rows.

    Determinism: per-dim means use the decimal-exact sum trick
    (label_centroid_stats); squared dim deltas round to 6 and sum as
    DECIMAL(18,6), so the final sqrt sees a bit-identical total in any
    partitioning/engine. Returns (label, n_ref, n_cur, l2_shift).
    """
    def dims(df: DataFrame) -> DataFrame:
        v = spread(df).select(
            F.col(label_col).alias("label"), _as_double(vec_col).alias("_v")
        )
        return (
            v.select("label", F.posexplode("_v").alias("dim", "x"))
            .groupBy("label", "dim")
            .agg(
                (
                    F.sum(F.round(F.col("x"), 6).cast("decimal(18,6)"))
                    .cast("double")
                    / F.count(F.lit(1))
                ).alias("c")
            )
        )

    a = dims(ref).withColumnRenamed("c", "ca")
    b = dims(cur).withColumnRenamed("c", "cb")
    shift = (
        a.join(b, ["label", "dim"])
        .select(
            "label",
            F.round(
                (F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb")), 6
            ).cast("decimal(18,6)").alias("sq"),
        )
        .groupBy("label")
        .agg(F.round(F.sqrt(F.sum("sq").cast("double")), 6).alias("l2_shift"))
    )
    nr = ref.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_ref")
    )
    nc = cur.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_cur")
    )
    return (
        nr.join(nc, "label", "full")
        .join(shift, "label", "left")
        .select(
            "label",
            F.coalesce("n_ref", F.lit(0)).cast("long").alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).cast("long").alias("n_cur"),
            "l2_shift",
        )
    )


# ---------------------------------------------------------------------------
# random projection (Johnson-Lindenstrauss dimensionality reduction)
# ---------------------------------------------------------------------------

def _rp_component(j: int, d: int) -> float:
    """Deterministic ±1 for projection row j, input dim d — the
    _plane_component md5-bit family under its own 'rp:' namespace (so a
    projection composed with LSH bucketing is not correlated with the
    plane matrix). Portable: DuckDB derives the identical value from
    md5('rp:<j>:<d>')."""
    import hashlib

    nib = int(hashlib.md5(f"rp:{j}:{d}".encode()).hexdigest()[0], 16)
    return 1.0 if nib & 1 == 1 else -1.0


# literal sign-matrix plan budget: the literal path bakes out_dim × dim
# F.lit nodes into ONE Select — fine at the gate's 64→16 (1,024 cells),
# but 1024→64 (a real encoder output) is 65,536 literal nodes, the same
# Catalyst plan-size ceiling _MAX_LITERAL_MERGES fences on the BPE
# applier. Past the budget the broadcast sign-TABLE path carries the
# matrix as data (one 1-row broadcast), plan-size-independent and
# bit-identical (same zip_with products, same sequential fold).
_MAX_RP_LITERAL_CELLS = 8192


def random_projection(
    corpus: DataFrame,
    out_dim: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
    out_col: str = "projected",
    method: str = "auto",
) -> DataFrame:
    """Johnson-Lindenstrauss sign projection: embed ``vec_col`` (dim d)
    into ``out_dim`` components, y_j = Σ_d x_d · s(j, d), s ∈ {±1} from
    the deterministic md5 family (_rp_component).

    Why it exists at 100 TB: every downstream per-vector cost here —
    LSH plane dots, IVF centroid dots, exact rescores, pairwise MMR sims
    — is linear in dimension, so projecting 64→16 (or 1024→64 for real
    encoder outputs) cuts the ANN tiers' arithmetic and shuffle widths
    4-16x while JL keeps angles approximately intact (sign/Achlioptas
    projections carry the same guarantee as Gaussian ones, Achlioptas
    JCSS 2003). Compose: project → any tier (the tiers only assume an
    array column).

    Determinism/oracle: each y_j is the engine-standard sequential fold
    over the same ±1.0 doubles (md5 computed driver-side), so components
    are bit-identical in Spark, Python and the DuckDB twin — on BOTH
    methods (the sign values enter zip_with identically whether they are
    plan literals or broadcast data). The conventional 1/sqrt(out_dim)
    JL scale is intentionally OMITTED: consumers are cosine/angle-based
    (uniform scales cancel), and leaving it off keeps components exact
    ± sums with no irrational factor.

    Two plan shapes, routed by ``method``:
      * ``"literal"`` — the sign matrix as out_dim × dim plan-time
        literals, pure codegen, the fastest shape at gate-sized dims but
        capped at ``_MAX_RP_LITERAL_CELLS`` cells (the BPE applier's
        Catalyst plan-size lesson: 1024→64 would be 65,536 literal nodes
        in one Select);
      * ``"table"`` — the matrix as ONE broadcast row of
        array<array<double>> cross-joined in (the module's 1-row
        broadcast idiom), components via transform over the sign rows —
        plan-size-independent, for encoder-scale dims.
      * ``"auto"`` (default) routes literal under the budget, table past
        it — parity is pytest-pinned bit-for-bit.

    Fail-loud contract (r12 ADVICE): rows whose ``vec_col`` is NULL or
    whose length differs from ``dim`` raise IN-PLAN (zip_with would
    otherwise NULL-pad them into silently-NULL components). Both methods
    stay one map-side projection over the corpus scan — no shuffle, no
    UDF, no state. Returns (id_col, out_col) with ``out_dim``
    components.
    """
    if out_dim < 1:
        raise ValueError(f"out_dim must be >= 1, got {out_dim}")
    if method not in ("auto", "literal", "table"):
        raise ValueError(
            f"random_projection: method must be 'auto', 'literal' or "
            f"'table', got {method!r}"
        )
    if dim is None:
        probe = corpus.select(
            F.first(F.size(F.col(vec_col)), ignorenulls=True).alias("d")
        ).first()
        if probe is None or probe["d"] is None:
            raise ValueError(
                "random_projection: empty corpus (or every embedding is "
                "NULL) — cannot probe the input dimension"
            )
        dim = int(probe["d"])
    if out_dim >= dim:
        raise ValueError(
            f"random_projection: out_dim ({out_dim}) must be < input dim "
            f"({dim}) — projecting up is never what you want"
        )
    cells = out_dim * dim
    if method == "auto":
        method = "literal" if cells <= _MAX_RP_LITERAL_CELLS else "table"
    if method == "literal" and cells > _MAX_RP_LITERAL_CELLS:
        raise ValueError(
            f"random_projection: out_dim × dim = {cells} literal sign "
            f"cells exceeds the plan-size budget "
            f"({_MAX_RP_LITERAL_CELLS}) — a Select this wide stalls "
            f"Catalyst planning/codegen regardless of data volume. Use "
            f"method='table' (or 'auto'): the identical projection with "
            f"the sign matrix as one broadcast row."
        )
    from hive_io_experimental_spark.functions.vectors import dot_product

    # in-plan fail-loud guard: a NULL or wrong-length vector must raise,
    # not NULL-pad through zip_with into all-NULL components (the
    # mmr_diversified_topk raise_error discipline)
    vec = F.when(
        F.col(vec_col).isNull() | (F.size(F.col(vec_col)) != dim),
        F.raise_error(
            F.concat(
                F.lit("random_projection: row "),
                F.col(id_col).cast("string"),
                F.lit(
                    f" has a NULL embedding or length != dim ({dim}) — "
                    f"the sign matrix is sized to dim, so this row would "
                    f"project to silently-NULL components. Filter or fix "
                    f"the vector column first."
                ),
            )
        ).cast("array<double>"),
    ).otherwise(_as_double(vec_col))
    if method == "literal":
        comps = [
            dot_product(
                vec,
                F.array(*[F.lit(_rp_component(j, d)) for d in range(dim)]),
            )
            for j in range(out_dim)
        ]
        return corpus.select(
            F.col(id_col), F.array(*comps).alias(out_col)
        )
    # table path: the whole sign matrix as ONE broadcast row — the plan
    # holds a single column reference however large out_dim × dim gets.
    # The internal column name must not collide with a corpus column
    # (a prior projection stage could legitimately carry one — r13
    # ADVICE); fail loud rather than risk ambiguous resolution.
    if "_rp_signs" in corpus.columns:
        raise ValueError(
            "random_projection: corpus already has a `_rp_signs` column "
            "— it collides with the internal broadcast sign-matrix "
            "column. Rename or drop it first."
        )
    signs = corpus.sparkSession.createDataFrame(
        [([[
            _rp_component(j, d) for d in range(dim)
        ] for j in range(out_dim)],)],
        "_rp_signs array<array<double>>",
    )
    return (
        corpus.crossJoin(F.broadcast(signs))
        .select(
            F.col(id_col),
            F.transform(
                F.col("_rp_signs"), lambda s: dot_product(vec, s)
            ).alias(out_col),
        )
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization (memory-bound ANN at corpus scale)
# ---------------------------------------------------------------------------

def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: (id, scale, codes).

    The memory lever for corpus-scale ANN: float32 embeddings quantized
    to int8 codes are 4x smaller in cache/shuffle/storage, and quantized
    COSINE needs no dequantization at all — per-vector scales cancel in
    the normalization, so similarity is computed on raw integer codes
    (see quantized_cosine_topk).

      scale   = max_i |v_i| / 127          (0.0 for the zero vector)
      code_i  = floor(v_i / scale + 0.5)   in [-127, 127]

    Every step is IEEE-exact arithmetic (float->double widening, one
    division, one multiply-free floor — no pow/exp/rounding-mode
    ambiguity), so codes are bit-identical across engines and the DuckDB
    oracle checks them EXACTLY, unlike typical quantizer implementations
    whose banker's-rounding differs per library. Pure column expressions;
    narrow map over the scan, no shuffle, no Python.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = (
        F.aggregate(v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))
        / F.lit(127.0)
    )
    return spread(df).select(
        F.col(id_col),
        scale.alias("scale"),
        F.when(scale == 0, F.transform(v, lambda x: F.lit(0).cast("int")))
        .otherwise(
            F.transform(
                v,
                lambda x: F.floor(x / scale + F.lit(0.5)).cast("int"),
            )
        )
        .alias("codes"),
    )


def dequantize_embeddings(
    qdf: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Inverse of quantize_embeddings: (id, embedding array<double>).

    v̂_i = code_i * scale; reconstruction error per component is bounded
    by scale/2 = max|v|/254."""
    return qdf.select(
        F.col(id_col),
        F.transform(
            F.col("codes"), lambda c: c.cast("double") * F.col("scale")
        ).alias("embedding"),
    )


def quantized_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine over int8-quantized vectors.

    cos(s_a * a, s_b * b) = cos(a, b): the per-vector scales cancel, so
    similarity runs directly on the integer codes — the dot product and
    squared norms are exact int64 sums (max |code| = 127 -> a 4096-dim
    dot stays < 2^37, nowhere near overflow), and the final
    divide+sqrt are correctly-rounded IEEE ops, making the ranking
    bit-reproducible across engines (exact DuckDB twin, no tolerance).
    Same broadcast-queries shape as cosine_topk — and the same ENFORCED
    queries << corpus contract (> _MAX_BROADCAST_QUERIES raises before
    any work; broadcast hints bypass autoBroadcastJoinThreshold, so an
    unchecked large query side would OOM executors): the corpus scan
    stays shuffle-free; at 100 TB the win is the 4x smaller corpus-side
    payload in memory and in the broadcast. The guard's bounded
    limit+count job makes construction EAGER and rejects streaming
    query frames — quantized_cosine_topk_bucketed is the lazy,
    no-broadcast alternative.

    Returns (query_id, neighbor_id, qcosine, rank), self-matches
    excluded, rank by (qcosine desc, neighbor_id asc).
    """
    _require_small_query_side(
        queries.select(F.col(id_col)), "quantized_cosine_topk"
    )
    c = quantize_embeddings(spread(corpus), vec_col, id_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("codes").alias("cc")
    )
    q = quantize_embeddings(queries, vec_col, id_col).select(
        F.col(id_col).alias("query_id"), F.col("codes").alias("qc")
    )
    c = c.withColumn(
        "cn", _int64_fold(F.transform(F.col("cc"), lambda x: x * x))
    )
    q = q.withColumn(
        "qn", _int64_fold(F.transform(F.col("qc"), lambda x: x * x))
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id", _quantized_cosine().alias("qcosine")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def _int64_fold(col):
    """Exact int64 sum fold over an int array column (codes fit: max
    |code| = 127, so even 4096-dim dots stay < 2^37)."""
    return F.aggregate(
        col, F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long")
    )


def _quantized_cosine():
    """Cosine from int64 code dot/norm columns (qc/cc/qn/cn): the
    per-vector quantization scales cancel, so this is exact integer
    arithmetic up to the final correctly-rounded divide+sqrt."""
    dot = _int64_fold(
        F.zip_with(F.col("qc"), F.col("cc"), lambda a, b: a * b)
    )
    return F.round(
        F.try_divide(
            dot.cast("double"),
            F.sqrt(F.col("qn").cast("double"))
            * F.sqrt(F.col("cn").cast("double")),
        ),
        6,
    )


def quantized_cosine_topk_bucketed(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_planes: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_bits: int = 0,
) -> DataFrame:
    """Approximate top-k over int8 codes with LSH-bucketed candidates —
    the production ANN shape for LARGE query sets at corpus scale.

    This is where the guarded broadcast paths (cosine_topk,
    quantized_cosine_topk) send callers whose query side exceeds the
    broadcast cap: candidates come from an equi-join on the hyperplane
    bucket (no query-side broadcast, no cap — Catalyst/AQE distribute
    the join), the corpus payload is the 4x-smaller int8 codes, planes
    auto-size with the corpus (resolve_num_planes) so bucket occupancy
    stays flat as data grows, and within-bucket scoring is the same
    exact int64 arithmetic as quantized_cosine_topk — scales cancel in
    cosine, so the DuckDB twin checks values with zero tolerance.

    ``probe_bits`` (0/1/2, default 0 = single-probe) turns on multi-probe
    candidate generation (Lv et al. VLDB 2007): each query also searches
    every bucket within that Hamming distance — the cosine_topk_multiprobe
    recall fix composed with the int8 payload shrink, completing the
    LSH x {fp32, int8} x {single, multi} matrix. Only the query side fans
    out (x(1 + planes [+ C(planes, 2)])); the corpus-side bucket layout
    and codes are untouched, and the join stays a shuffle equi-join —
    no broadcast, no guard, candidate volume grows by ~the probe factor.

    Returns (query_id, neighbor_id, qcosine, rank); recall < 1 by
    bucket construction, like cosine_topk_bucketed.
    """
    if probe_bits not in (0, 1, 2):
        raise ValueError(f"probe_bits must be 0, 1 or 2, got {probe_bits}")
    corpus = spread(corpus)
    probe = corpus.agg(
        F.count(F.lit(1)).alias("n"),
        F.first(F.size(F.col(vec_col))).alias("dim"),
    ).first()
    if num_planes is None:
        num_planes = resolve_num_planes(probe["n"])
    cb = hyperplane_lsh_buckets(
        corpus, num_planes, vec_col, id_col, dim=probe["dim"]
    ).withColumnRenamed("id", "neighbor_id")
    qb = hyperplane_lsh_buckets(
        queries, num_planes, vec_col, id_col, dim=probe["dim"]
    )
    if probe_bits:
        qb = qb.select(
            "id",
            F.explode(
                F.array(*_hamming_probe_buckets(num_planes, probe_bits))
            ).alias("bucket"),
        )
    qb = qb.withColumnRenamed("id", "query_id").withColumnRenamed(
        "bucket", "_qbucket"
    )
    c = (
        quantize_embeddings(corpus, vec_col, id_col)
        .select(F.col(id_col).alias("neighbor_id"), F.col("codes").alias("cc"))
        .join(cb, "neighbor_id")
        .withColumn("cn", _int64_fold(F.transform(F.col("cc"), lambda x: x * x)))
    )
    q = (
        quantize_embeddings(queries, vec_col, id_col)
        .select(F.col(id_col).alias("query_id"), F.col("codes").alias("qc"))
        .join(qb, "query_id")
        .withColumn("qn", _int64_fold(F.transform(F.col("qc"), lambda x: x * x)))
    )
    scored = c.join(
        q,
        (F.col("bucket") == F.col("_qbucket"))
        & (F.col("query_id") != F.col("neighbor_id")),
    ).select("query_id", "neighbor_id", _quantized_cosine().alias("qcosine"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def quantization_quality_report(
    df: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_mod: int = 50,
) -> DataFrame:
    """One-row audit: recall@k of int8-quantized cosine vs exact fp32.

    The pre-flight check before switching a serving path to quantized
    vectors: every ``query_mod``-th vector queries both rankings and the
    report gives the overlap@k hit count plus the corpus-wide max
    per-component reconstruction error bound (max scale / 2, from
    quantize_embeddings). All-integer overlap counting; one row out of
    ONE action — n_queries rides the same aggregation as the hit total
    (left join from the query-id set, so zero-hit queries still count),
    and the error bound is a broadcast-crossJoined 1-row aggregate, not
    a separate driver count() job.
    """
    queries = df.filter(F.col(id_col) % query_mod == 0)
    exact = cosine_topk(df, queries, k, vec_col, id_col).select(
        "query_id", "neighbor_id"
    )
    quant = quantized_cosine_topk(df, queries, k, vec_col, id_col).select(
        "query_id", "neighbor_id"
    )
    overlap = (
        exact.join(quant, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    per_query = queries.select(F.col(id_col).alias("query_id")).join(
        overlap, "query_id", "left"
    )
    err_bound = quantize_embeddings(df, vec_col, id_col).agg(
        (F.max("scale") / F.lit(2.0)).alias("max_err_bound")
    )
    return (
        per_query.agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.coalesce(F.sum("hits"), F.lit(0))
            .cast("long")
            .alias("total_hits"),
        )
        .crossJoin(F.broadcast(err_bound))
        .select(
            "n_queries",
            F.lit(k).cast("long").alias("k"),
            "total_hits",
            "max_err_bound",
        )
    )


# ---------------------------------------------------------------------------
# product quantization (PQ / ADC)
# ---------------------------------------------------------------------------

def _unit_vectors(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """(id, v) unit-normalized with the sequential JVM fold (bit-identical
    to the DuckDB twin's list_dot_product); zero-norm vectors are dropped
    on both sides, so ADC inner products ARE cosines."""
    nrm = l2_norm(_as_double(vec_col))
    return (
        df.select(
            F.col(id_col).alias("id"),
            _as_double(vec_col).alias("_raw"),
            nrm.alias("_nrm"),
        )
        .filter(F.col("_nrm") > 0)
        .select(
            "id",
            F.transform(
                F.col("_raw"), lambda x: x / F.col("_nrm")
            ).alias("v"),
        )
    )


def pq_codebooks_sampled(
    corpus: DataFrame,
    num_subspaces: int = 4,
    centroid_stride: int = 50,
    max_codes: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic-sample PQ codebooks: (j, code, cv array<double>).

    Product quantization (Jégou, Douze, Schmid, "Product quantization
    for nearest neighbor search", TPAMI 2011): split the d-dim space
    into ``num_subspaces`` contiguous subspaces and quantize each
    independently. The codewords here are the SUBVECTORS of every
    ``centroid_stride``-th vector — the same deterministic sampled
    quantizer ivf_topk uses, which keeps the whole PQ pipeline
    SQL-expressible and the gate twin an exact hash oracle
    (pq_codebooks_trained is the k-means quality tier). Codes are dense
    per-subspace indices (row_number over the sampled ids), so the code
    value is a position in the LUT row, independent of the sample's id
    gaps. Codebook size: num_subspaces * (n / centroid_stride) rows of
    d / num_subspaces doubles — KBs, always the broadcast side.

    ``max_codes`` caps the codebook at the FIRST max_codes sampled ids
    per subspace (code < max_codes — still pure SQL). Set it for any
    corpus whose size grows: a stride-only codebook grows with n, which
    makes the n x ksub encode pass quadratic at scale; a capped
    codebook keeps encode linear (the same fixed-work-per-row rule the
    r8 gate reshape enforced on query sets).
    """
    u = _unit_vectors(
        corpus.filter(F.col(id_col) % centroid_stride == 0), vec_col, id_col
    )
    dsub_probe = u.select(F.size("v").alias("d")).first()
    if dsub_probe is None:
        raise ValueError(
            "pq_codebooks_sampled: no vector id hits the centroid_stride "
            f"({centroid_stride}); lower the stride"
        )
    d = dsub_probe["d"]
    if d % num_subspaces != 0:
        raise ValueError(
            f"embedding dim {d} is not divisible by num_subspaces="
            f"{num_subspaces}"
        )
    dsub = d // num_subspaces
    w = Window.partitionBy("j").orderBy(F.col("id").asc())
    cb = (
        u.select(
            "id",
            F.explode(F.sequence(F.lit(0), F.lit(num_subspaces - 1))).alias("j"),
            "v",
        )
        .select(
            "j",
            (F.row_number().over(w) - 1).cast("int").alias("code"),
            F.slice(F.col("v"), F.col("j") * dsub + 1, dsub).alias("cv"),
        )
    )
    if max_codes is not None:
        cb = cb.filter(F.col("code") < max_codes)
    return cb


def pq_codebooks_trained(
    corpus: DataFrame,
    num_subspaces: int = 4,
    codes_per_subspace: int = 16,
    seed: int = 7,
    max_iter: int = 10,
    sample_rows: int = 4096,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """K-means PQ codebooks (the quality tier): per-subspace Lloyd
    iterations on a bounded deterministic sample, driver-local numpy —
    the fit_spherical_kmeans design (hash-stride sample, id-sorted for
    scan-order independence, centroid table back as a few-KB DataFrame).
    Iterative fitting is not SQL-expressible, so operators built on this
    tier are recall-bound tested (pq_recall_check), not hash-oracled —
    the ivf_topk_trained discipline. Returns (j, code, cv)."""
    import numpy as np

    n = corpus.count()
    stride = max(1, n // max(sample_rows, 1))
    train = corpus
    if stride > 1:
        train = train.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(stride)) == 0
        )
    pdf = (
        _unit_vectors(train, vec_col, id_col)
        .toPandas()
        .sort_values("id")
    )
    if len(pdf) == 0:
        raise ValueError("pq_codebooks_trained: empty training sample")
    mat = np.array(list(pdf["v"]), dtype=np.float64)
    d = mat.shape[1]
    if d % num_subspaces != 0:
        raise ValueError(
            f"embedding dim {d} is not divisible by num_subspaces="
            f"{num_subspaces}"
        )
    dsub = d // num_subspaces
    rng = np.random.RandomState(seed)
    rows = []
    for j in range(num_subspaces):
        sub = mat[:, j * dsub:(j + 1) * dsub]
        ksub = min(codes_per_subspace, len(sub))
        cents = sub[rng.choice(len(sub), size=ksub, replace=False)].copy()
        for _ in range(max_iter):
            # squared-L2 assignment: argmin ||x-c||^2 = argmax x.c - .5c.c
            score = sub @ cents.T - 0.5 * (cents * cents).sum(axis=1)
            assign = np.argmax(score, axis=1)
            for c in range(ksub):
                members = sub[assign == c]
                if len(members) == 0:
                    cents[c] = sub[rng.randint(len(sub))]
                else:
                    cents[c] = members.mean(axis=0)
        rows.extend(
            (j, c, [float(x) for x in cents[c]]) for c in range(ksub)
        )
    return corpus.sparkSession.createDataFrame(
        rows, "j int, code int, cv array<double>"
    )


def _codebook_matrices(cb_rows: list, num_subspaces: int) -> list:
    """Per-subspace codeword matrices, rows ordered by code: the encode
    argmax position and the ADC LUT position of each codeword."""
    import numpy as np

    return [
        np.array(
            [r["cv"] for r in sorted(
                (r for r in cb_rows if r["j"] == j), key=lambda r: r["code"]
            )],
            dtype=np.float64,
        )
        for j in range(num_subspaces)
    ]


def _pq_encode_pandas(
    u: DataFrame, cb_rows: list, num_subspaces: int, dsub: int
) -> DataFrame:
    """Arrow/BLAS encode: one matmul per (batch, subspace) against the
    closed-over codebook matrices; squared-L2 assignment with stable
    ties to the lowest code — matches the DuckDB twin's window encode,
    the reference, the same way _assign_pandas matches its twin
    (last-ulp BLAS summation differences cannot flip assignments whose
    codeword separation dwarfs float noise)."""
    import numpy as np

    mats = _codebook_matrices(cb_rows, num_subspaces)
    biases = [0.5 * (C * C).sum(axis=1) for C in mats]

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.array(list(pdf["v"]), dtype=np.float64)
            codes = np.empty((len(pdf), num_subspaces), dtype=np.int64)
            for j in range(num_subspaces):
                sub = M[:, j * dsub:(j + 1) * dsub]
                score = sub @ mats[j].T - biases[j]
                # np.argmax returns the FIRST max: ties to the lowest code
                codes[:, j] = score.argmax(axis=1)
            out = pdf[["id"]].copy()
            out["codes"] = list(codes)
            yield out

    sid_type = dict(u.dtypes)["id"]
    return u.mapInPandas(encode, f"id {sid_type}, codes array<long>")


def _ivf_pq_kernel(
    cent_rows: list, cb_rows: list, num_subspaces: int, dsub: int
):
    """The IVF-PQ encode/assign math as one pure-NumPy closure,
    ``kernel(M, norms) -> (cids, codes)`` over raw vectors M (rows x d
    doubles) and their JVM l2_norm values: the coarse nearest-centroid
    assignment (_assign_pandas keep=1 math, cosine over raw vectors)
    and the PQ codes (_pq_encode_pandas math, squared-L2 over the
    unit-normalized rows). Rows with a zero (or NULL -> nan) norm keep
    their assignment but carry codes=None — mirroring _unit_vectors
    dropping them from the encode.

    The closure references only NumPy and the captured geometry, so it
    pickles by value into Arrow workers (which cannot import this
    package) and runs unchanged on the driver: the build, repair,
    ivf_pq_topk and both ivf_pq_append_to_index branches share it."""
    import numpy as np

    cids, C, c_norms = _centroid_matrix(cent_rows)
    mats = _codebook_matrices(cb_rows, num_subspaces)
    biases = [0.5 * (Cb * Cb).sum(axis=1) for Cb in mats]
    # bounds the rows x centroids cosine matrix per chunk
    chunk_rows = max(1, 2_000_000 // max(len(cids), 1))

    def kernel(M, raw_norms):
        out_cids = np.empty(len(M), dtype=np.int64)
        codes_col: list = [None] * len(M)
        for lo in range(0, len(M), chunk_rows):
            part = M[lo:lo + chunk_rows]
            nrm = raw_norms[lo:lo + chunk_rows]
            m_norms = nrm.copy()
            m_norms[m_norms == 0] = np.inf
            cos = (part @ C.T) / (m_norms[:, None] * c_norms[None, :])
            # np.argmax returns the FIRST max: ties to the lowest cid
            # (C is cid-sorted) — _assign_pandas keep=1 rule
            out_cids[lo:lo + len(part)] = cids[np.argmax(cos, axis=1)]
            nz = nrm > 0  # NULL norm -> nan -> False, like
            # _unit_vectors' _nrm > 0 filter
            if not nz.any():
                continue
            U = part[nz] / nrm[nz][:, None]
            codes = np.empty((int(nz.sum()), num_subspaces), dtype=np.int64)
            for j in range(num_subspaces):
                score = U[:, j * dsub:(j + 1) * dsub] @ mats[j].T - biases[j]
                # FIRST max: ties to the lowest code
                codes[:, j] = score.argmax(axis=1)
            for i, row in zip(np.flatnonzero(nz), codes):
                codes_col[lo + i] = row
        return out_cids, codes_col

    return kernel


def _ivf_pq_encode_assign_pandas(
    c: DataFrame,
    cent_rows: list,
    cb_rows: list,
    num_subspaces: int,
    dsub: int,
) -> DataFrame:
    """ONE Arrow pass over the raw vectors producing BOTH the IVF-PQ
    index halves: (id, cid, codes), computed by _ivf_pq_kernel.
    ivf_pq_build_index / ivf_pq_append_to_index previously ran the
    assignment and the encode as separate passes, i.e. two full reads
    of the raw embedding column — at 100 TB the dominant build cost
    (r14 optimization round, guide §1.2: remove unnecessary passes).

    Bit-identity with the two single-purpose functions: the centroid
    cosine and the per-subspace scores are the same BLAS expressions on
    the same doubles (IEEE division x/nrm matches _unit_vectors' JVM
    per-element division exactly), argmax tie rules identical, and both
    are row-independent so batching/partitioning differences cannot
    change any row's result. ``c`` must be (id, _v array<double>,
    _nrm); spread it first (single-row-group inputs otherwise serialize
    the whole pass into one task)."""
    import numpy as np

    kernel = _ivf_pq_kernel(cent_rows, cb_rows, num_subspaces, dsub)

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cid, codes = kernel(
                np.array(list(pdf["_v"]), dtype=np.float64),
                pdf["_nrm"].to_numpy(dtype=np.float64),
            )
            out = pdf[["id"]].copy()
            out["cid"] = cid
            out["codes"] = codes
            yield out

    sid_type = dict(c.dtypes)["id"]
    return c.mapInPandas(
        run, f"id {sid_type}, cid long, codes array<long>"
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame | None = None,
    num_subspaces: int = 4,
    centroid_stride: int = 50,
    max_codes: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode every vector as ``num_subspaces`` dense codebook indices:
    (id, codes array<long>) — the m-byte-per-vector representation that
    makes a 100 TB embedding corpus a ~1 TB codes table (64-dim fp32 =
    256 B -> 4 codes; the codebook rides along in KBs). Assignment is
    squared-L2 per subspace (argmax x.c - 0.5*c.c, ties to the lowest
    code). Map-side BLAS against the closure codebooks — zero
    corpus-side exchange; the DuckDB twin (explode by subspace, join the
    codebook, window argmax) is the reference."""
    if codebooks is None:
        codebooks = pq_codebooks_sampled(
            corpus, num_subspaces, centroid_stride, max_codes,
            vec_col, id_col,
        )
    u = _unit_vectors(spread(corpus), vec_col, id_col)
    # the subvector width comes from the codebook rows the encoder
    # collects anyway, so no corpus-side size probe job runs
    cb_rows = [r.asDict() for r in codebooks.collect()]
    if not cb_rows:
        raise ValueError("pq_encode: empty codebook frame")
    dsub = len(cb_rows[0]["cv"])
    return _pq_encode_pandas(u, cb_rows, num_subspaces, dsub)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_subspaces: int = 4,
    centroid_stride: int = 50,
    max_codes: int | None = None,
    codebooks: DataFrame | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ top-k by asymmetric distance computation (ADC): queries stay
    fp32, the corpus is scanned as codes, and each candidate's score is
    m LUT lookups + adds instead of a d-term dot product — O(m) per
    pair, reading m bytes per vector instead of 4d.

    Pipeline: encode the corpus (pq_encode — map-side, zero exchange) ->
    build each query's LUT (query subvector . codeword, the exact JVM
    fold, grouped into an m x ksub array) -> broadcast the LUT table ->
    score = ordered fold over subspaces of lut[j][codes[j]], rounded to
    6 like every cosine in this module. Both sides unit-normalized, so
    the ADC score approximates cosine and ranks against the exact
    brute-force path (pq_recall_check grades the loss).

    Everything is SQL-expressible with sampled codebooks, so the gate
    twin reproduces scores and ranks exactly. Queries are guarded small
    (the broadcast-LUT contract — same eager probe as the other exact
    paths; stream callers go per-microbatch)."""
    _require_small_query_side(
        queries.select(F.col(id_col)), "pq_topk (broadcast query LUTs)"
    )
    if codebooks is None:
        codebooks = pq_codebooks_sampled(
            corpus, num_subspaces, centroid_stride, max_codes,
            vec_col, id_col,
        )
    codes = pq_encode(
        corpus, codebooks, num_subspaces, centroid_stride, max_codes,
        vec_col, id_col,
    )
    qu = _unit_vectors(queries, vec_col, id_col)
    probe = qu.select(F.size("v").alias("d")).first()
    if probe is None:
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, adc_score double, rank long"
        )
    dsub = probe["d"] // num_subspaces
    return _pq_adc_topk(codes, qu, codebooks, k, num_subspaces, dsub)


def _pq_query_luts(
    qu: DataFrame, codebooks: DataFrame, num_subspaces: int, dsub: int
) -> DataFrame:
    """Per-query ADC lookup tables: (query_id, _lut array<array<double>>)
    where _lut[j][code] = query subvector j . codeword — the m x ksub
    table ADC scoring folds over. Codebooks are KBs (broadcast); the LUT
    table is queries x m x ksub doubles, broadcast by callers under the
    same small-query-side contract as the exact top-k paths."""
    ql = (
        qu.select(
            F.col("id").alias("query_id"),
            F.explode(
                F.sequence(F.lit(0), F.lit(num_subspaces - 1))
            ).alias("j"),
            "v",
        )
        .select(
            "query_id", "j",
            F.slice(F.col("v"), F.col("j") * dsub + 1, dsub).alias("_qsub"),
        )
        .join(F.broadcast(codebooks), "j")
        .select(
            "query_id", "j", "code",
            dot_product(F.col("_qsub"), F.col("cv")).alias("_pdot"),
        )
    )
    lut_rows = ql.groupBy("query_id", "j").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("code", "_pdot"))),
            lambda s: s["_pdot"],
        ).alias("_row")
    )
    return lut_rows.groupBy("query_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("j", "_row"))),
            lambda s: s["_row"],
        ).alias("_lut")
    )


def _adc_score(num_subspaces: int):
    """ADC score expression over (_lut, codes): the ordered left fold
    sum_j lut[j][codes[j]], rounded to 6 like every cosine here (the
    DuckDB twin's list_reduce is the same sequential fold)."""
    return F.round(
        F.aggregate(
            F.sequence(F.lit(0), F.lit(num_subspaces - 1)),
            F.lit(0.0),
            lambda acc, j: acc
            + F.element_at(
                F.element_at(F.col("_lut"), j.cast("int") + 1),
                F.element_at(F.col("codes"), j.cast("int") + 1).cast("int")
                + 1,
            ),
        ),
        6,
    )


def _pq_adc_topk(
    codes: DataFrame,
    qu: DataFrame,
    codebooks: DataFrame,
    k: int,
    num_subspaces: int,
    dsub: int,
) -> DataFrame:
    """Shared ADC scoring stage: (id, codes) x unit queries -> ranked
    top-k. Used by pq_topk (fresh encode) and pq_query_index (codes
    served from the persisted index — the 100 TB path, where the raw
    embedding column is never rescanned)."""
    luts = _pq_query_luts(qu, codebooks, num_subspaces, dsub)
    scored = (
        codes.crossJoin(F.broadcast(luts))
        .filter(F.col("query_id") != F.col("id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            _adc_score(num_subspaces).alias("adc_score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_score").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= k)


def resolve_ivf_stride(n: int, min_stride: int = 50) -> int:
    """Scale-aware IVF coarse-quantizer stride: max(min_stride, ceil(sqrt(n))).

    nlist = n/stride = sqrt(n) is the FAISS sizing rule: assignment work
    is n * nlist = n^1.5 and per-query in-list candidates are
    nprobe * stride = nprobe * sqrt(n) — both the honest sub-quadratic
    contract (a FIXED stride leaves assignment quietly quadratic at
    scale, the exact trap resolve_semantic_stride closed for SemDeDup).
    The floor keeps small corpora on the oracle twins' constant (50),
    the resolve_num_planes discipline.
    """
    import math

    return max(min_stride, math.ceil(math.sqrt(max(n, 1))))


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    centroid_stride: int | None = None,
    nprobe: int = 2,
    num_subspaces: int = 4,
    pq_stride: int = 5,
    max_codes: int | None = 128,
    codebooks: DataFrame | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ: inverted-file candidate pruning + PQ-ADC in-list scoring —
    the billion-scale serving composition (the FAISS "IVFx,PQy" index,
    Jégou et al. TPAMI 2011 §V), and the last cell of this module's ANN
    matrix (exact/LSH/IVF x fp32/int8/PQ).

    Assignment and probing run on fp32 against the deterministic sampled
    coarse quantizer — the identical candidate structure to
    :func:`ivf_topk` and :func:`ivf_quantized_topk` (Arrow/BLAS map-side,
    zero corpus-side exchange). The FINAL scoring pass never
    touches raw vectors: each candidate costs m LUT lookups + adds over
    its m-byte PQ codes (pq_stride/max_codes-capped sampled codebooks, so
    encode stays linear — the r8 gate-shape rule). At 100 TB the wins
    stack: candidates shrink by ~ncentroids/nprobe AND the scored payload
    shrinks 32-64x (4 code bytes vs 256 fp32 bytes at dim 64).

    Every stage is deterministic and SQL-expressible, so the DuckDB twin
    composes the IVF assignment CTEs with the PQ codebook/encode/LUT CTEs
    and checks scores with zero tolerance (trained coarse quantizers /
    codebooks drop in via ``codebooks=`` + fit_spherical_kmeans for the
    recall-bound quality tier, the ivf_topk_trained discipline).

    Returns (query_id, neighbor_id, adc_score, rank). Queries are guarded
    small (broadcast probe + LUT contract; large query sets belong on
    quantized_cosine_topk_bucketed, as the guard's error says).
    ``centroid_stride=None`` (default) auto-sizes the coarse quantizer at
    sqrt(n) lists via resolve_ivf_stride. That dial costs one count JOB
    over the corpus frame (metadata-cheap only when the frame is a raw
    parquet scan; a filtered/derived frame pays a real pass — the
    probe-once discipline, same as the other auto-dials) so assignment
    work stays n^1.5, not n^2/stride; the floor resolves to the twins'
    constant (50) at fixture scales.
    """
    if centroid_stride is None:
        centroid_stride = resolve_ivf_stride(corpus.count())
    if centroid_stride < 1:
        raise ValueError(
            f"centroid_stride must be >= 1, got {centroid_stride}"
        )
    cents = corpus.filter(F.col(id_col) % centroid_stride == 0).select(
        F.col(id_col).alias("cid"), _as_double(vec_col).alias("cv")
    )
    if codebooks is None:
        codebooks = pq_codebooks_sampled(
            corpus, num_subspaces, pq_stride, max_codes, vec_col, id_col
        )
    qu = _unit_vectors(queries, vec_col, id_col)
    # ONE fused Arrow pass over the raw corpus yields BOTH the coarse
    # assignment and the PQ codes — the _ivf_pq_encode_assign_pandas
    # pass the persisted-index build/append/repair paths use — so the
    # embedding column is read once and the geometry collected once
    _require_small_query_side(
        queries.select(F.col(id_col)), "IVF top-k (broadcast probes)"
    )
    cent_rows, cb_rows = run_concurrently(
        lambda: [r.asDict() for r in cents.collect()],
        lambda: [r.asDict() for r in codebooks.collect()],
    )
    if not cent_rows:
        # no id hits the stride: no lists to probe
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, adc_score double, rank long"
        )
    if not cb_rows:
        raise ValueError("ivf_pq_topk: empty codebook frame")
    dsub = len(cb_rows[0]["cv"])
    c = spread(corpus).select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("_v")
    ).withColumn("_nrm", l2_norm(F.col("_v")))
    # the fused rows already carry (cid, codes) per id, so the scored
    # side is one filter of the single pass — no reuse() and no
    # self-join back on id
    inv = _ivf_pq_encode_assign_pandas(
        c, cent_rows, cb_rows, num_subspaces, dsub
    ).filter(F.col("codes").isNotNull()).select(
        "cid", F.col("id").alias("neighbor_id"), "codes"
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    ).withColumn("qnrm", l2_norm(F.col("qv")))
    probes = _assign_pandas(
        q, "query_id", "qv", "qnrm", cent_rows, keep=nprobe
    )
    luts = _pq_query_luts(
        qu, _local_codebooks(corpus.sparkSession, cb_rows),
        num_subspaces, dsub,
    )
    prb = probes.select("cid", "query_id").join(luts, "query_id")
    scored = (
        inv.join(F.broadcast(prb), "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            _adc_score(num_subspaces).alias("adc_score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_score").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= k)


def ivf_pq_recall_check(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    centroid_stride: int | None = None,
    nprobe: int = 2,
    num_subspaces: int = 4,
    pq_stride: int = 5,
    max_codes: int | None = 128,
    codebooks: DataFrame | None = None,
    min_avg_recall: float = 0.1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall audit for the composed IVF-PQ path against the fp32 exact
    top-k — the same one-row exact-hit-count contract as
    ivf_sq8_recall_check / pq_recall_check (n_queries, n_exact_results,
    n_hits, recall_ok). The composition loses recall BOTH ways (pruned
    lists AND lossy codes), so its floor sits below either tier's own —
    the honest number a serving team reads before picking this index
    shape. With sampled codebooks every stage is SQL-expressible and the
    DuckDB twin reproduces the EXACT hit count; with trained codebooks
    pass ``codebooks=`` and read the row as a recall-bound invariant.
    Runs BOTH searches, so the gate times the full audit workload."""
    approx = ivf_pq_topk(
        corpus, queries, k, centroid_stride, nprobe, num_subspaces,
        pq_stride, max_codes, codebooks, vec_col, id_col,
    ).select("query_id", "neighbor_id")
    exact = cosine_topk(corpus, queries, k, vec_col, id_col).select(
        "query_id", "neighbor_id"
    )
    joined = exact.join(
        approx.withColumn("_hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    hits = F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
    return joined.agg(
        F.countDistinct("query_id").cast("long").alias("n_queries"),
        F.count(F.lit(1)).cast("long").alias("n_exact_results"),
        hits.cast("long").alias("n_hits"),
        (hits / F.count(F.lit(1)) >= F.lit(min_avg_recall)).alias(
            "recall_ok"
        ),
    )


def pq_recall_check(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_subspaces: int = 4,
    centroid_stride: int = 50,
    max_codes: int | None = None,
    codebooks: DataFrame | None = None,
    min_avg_recall: float = 0.2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall audit for the PQ-ADC path against the fp32 exact top-k —
    the same one-row exact-hit-count contract as ivf_sq8_recall_check
    (n_queries, n_exact_results, n_hits, recall_ok). With sampled
    codebooks every stage is SQL-expressible, so the DuckDB twin
    reproduces the EXACT hit count; with trained codebooks pass the
    codebook frame and treat the row as a recall-bound invariant. Runs
    BOTH searches, so the gate times the full audit workload."""
    approx = pq_topk(
        corpus, queries, k, num_subspaces, centroid_stride, max_codes,
        codebooks, vec_col, id_col,
    ).select("query_id", "neighbor_id")
    exact = cosine_topk(corpus, queries, k, vec_col, id_col).select(
        "query_id", "neighbor_id"
    )
    joined = exact.join(
        approx.withColumn("_hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    hits = F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
    return joined.agg(
        F.countDistinct("query_id").cast("long").alias("n_queries"),
        F.count(F.lit(1)).cast("long").alias("n_exact_results"),
        hits.cast("long").alias("n_hits"),
        (hits / F.count(F.lit(1)) >= F.lit(min_avg_recall)).alias(
            "recall_ok"
        ),
    )


_CODEBOOK_COLS = (
    ("j", T.IntegerType()),
    ("code", T.IntegerType()),
    ("cv", T.ArrayType(T.DoubleType())),
)
# the persisted index sets (operators/artifacts.py): geometry tables are
# KB-sized and memoized per build; corpus-sized tables are versioned
# (appends land as snapshots). The catalog vouches for a healthy set, and
# any other state is probed (one collect or sampled stamp per table)
_LSH_INDEX = ArtifactSet("index", "lsh_build_index", (
    Part("meta", "_meta", "meta"),
    Part("buckets", "", "stamp", versioned=True),
))
_PQ_INDEX = ArtifactSet("index", "pq_build_index", (
    Part("codebooks", "_codebooks", "rows"),
    Part("codes", "", "stamp", versioned=True),
))
_IVF_PQ_INDEX = ArtifactSet("index", "ivf_pq_build_index", (
    Part("centroids", "_centroids", "rows"),
    Part("codebooks", "_codebooks", "rows"),
    Part("lists", "_lists", "stamp", versioned=True),
    Part("codes", "", "stamp", versioned=True),
))


def pq_build_index(
    spark,
    catalog,
    index_table: str,
    corpus: DataFrame,
    num_subspaces: int = 4,
    centroid_stride: int = 50,
    max_codes: int | None = None,
    codebooks: DataFrame | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Encode and PERSIST a PQ index as two catalog tables: the codes
    table ``{index_table}`` (id, codes array<long> — m longs per vector,
    the 32-64x-smaller stand-in for the embedding column) and the
    codebook table ``{index_table}_codebooks`` (j, code, cv). The
    ivf_build_index lifecycle: build once per corpus snapshot, serve any
    number of query batches from the stored tables (pq_query_index)
    without rescanning the raw embeddings; rebuild = explicit drop +
    recreate under the catalog's strict write preconditions (reference
    OutputConf parity — never a silent in-place overwrite). Pass a
    trained codebook frame (pq_codebooks_trained) for the quality tier;
    default is the sampled SQL-checkable tier.

    The codes table is VERSIONED (pq_append_to_index folds new vectors
    in as snapshot appends); the codebooks are the immutable geometry.
    Both carry one shared build_id (operators/artifacts.py), so a crash
    between the two rewrites is refused by every read path instead of
    serving new codebooks over old codes."""
    if codebooks is None:
        codebooks = pq_codebooks_sampled(
            corpus, num_subspaces, centroid_stride, max_codes,
            vec_col, id_col,
        )
    # collect the KB-sized codebooks once: the rows feed both the
    # encoder's closure and the codebook-table write (doubles round-trip
    # py4j exactly, so the written rows are bit-identical)
    codebooks = _local_codebooks(spark, codebooks.collect())
    codes = pq_encode(
        corpus, codebooks, num_subspaces, centroid_stride, max_codes,
        vec_col, id_col,
    )
    write_set(spark, catalog, _PQ_INDEX, index_table, {
        "codebooks": (_CODEBOOK_COLS, codebooks),
        "codes": (
            (("id", corpus.schema[id_col].dataType),
             ("codes", T.ArrayType(T.LongType()))),
            codes,
        ),
    })


def pq_append_to_index(
    spark,
    catalog,
    index_table: str,
    new_vectors: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> int:
    """Incremental PQ index maintenance — lsh/ivf_pq_append_to_index's
    sibling for the flat-ADC tier: encode NEW vectors with the STORED
    codebooks and commit them as one snapshot APPEND to the codes table.
    No retrain, no re-encode of the existing corpus; per tick the work
    is |batch| × ksub encode dots plus one narrow anti-join against the
    stored ids (idempotent — a re-delivered batch appends nothing and
    the version does not advance). The codebooks are the index identity
    and are untouched, so every consumer keeps serving mid-append; only
    ONE table moves, so there is no torn-APPEND state at all (unlike
    IVF-PQ's two-table append). A torn REBUILD (crash between the
    codebook and codes rewrites) is a different tear — stamp-fenced:
    appending onto mixed build_id stamps is refused, as is serving them
    (pq_query_index). Returns the committed snapshot version (or the
    current one on a no-op).

    The IVF tier needs no sibling: its persisted artifact is only the
    trained coarse quantizer (ivf_build_index) — serving takes the
    corpus as data, so corpus growth costs nothing there (quantizer
    DRIFT is a quality question, monitored by embedding_centroid_drift,
    answered by an explicit rebuild)."""
    op = "pq_append_to_index"
    bid, p = read_set(spark, catalog, _PQ_INDEX, index_table, op)
    m, dsub = _check_stored_codebooks(op, index_table, p["codebooks"])
    if not _check_append_batch(op, new_vectors, m * dsub, vec_col, id_col):
        return catalog.current_version(index_table)  # empty batch: no-op
    new_codes = pq_encode(
        new_vectors, _local_codebooks(spark, p["codebooks"]), m,
        vec_col=vec_col, id_col=id_col,
    )
    fresh, n = append_fresh(new_codes, p["codes"], bid)
    if n == 0:
        return catalog.current_version(index_table)
    return append_stamped(spark, catalog, index_table, fresh, bid, op)


def _pq_served(spark, catalog, index_table: str, op: str,
               num_subspaces: int) -> tuple:
    """(build_id, codes, codebooks, dsub) of a fenced stored PQ index
    whose subspace count matches ``num_subspaces`` — the served side of
    pq_query_index and serve_pq_topk_stream."""
    bid, p = read_set(spark, catalog, _PQ_INDEX, index_table, op)
    _m, dsub = _check_stored_codebooks(
        op, index_table, p["codebooks"], num_subspaces
    )
    return (
        bid, p["codes"].select("id", "codes"),
        _local_codebooks(spark, p["codebooks"]), dsub,
    )


def _check_append_batch(
    op: str,
    new_vectors: DataFrame,
    expect_dim: int,
    vec_col: str,
    id_col: str,
) -> bool:
    """One-job batch-hygiene fence shared by the index appends; returns
    False for an empty batch (callers no-op). The counts feed
    _batch_hygiene, which raises on a dirty batch."""
    row = new_vectors.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(F.col(id_col)).alias("n_ids"),
        F.count(F.when(F.col(id_col).isNull(), 1)).alias("n_null_ids"),
        F.count(
            F.when(F.size(F.col(vec_col)) == expect_dim, 1)
        ).alias("n_good"),
    ).first()
    return _batch_hygiene(
        op, id_col, expect_dim, row["n"], row["n_ids"], row["n_null_ids"],
        row["n_good"],
    )


def _batch_hygiene(
    op: str, id_col: str, expect_dim: int, n: int, n_ids: int,
    n_null_ids: int, n_good: int,
) -> bool:
    """The index appends' batch-hygiene verdict from the batch's counts
    (rows, distinct non-NULL ids, NULL ids, rows whose embedding has
    ``expect_dim`` elements); False for an empty batch. A batch holding
    the SAME id twice would commit duplicate index rows (the anti-join
    dedups only against STORED ids — idempotency is cross-batch, not
    within-batch), and a NULL or wrong-dimension embedding would be
    silently dropped by the unit-vector stage or mis-sliced by the
    encoder. Both are upstream delivery bugs; both raise here naming
    the row counts (the random_projection fail-loud discipline)."""
    if n == 0:
        return False
    # NULL ids first, with their own message: distinct counts skip
    # NULLs, so a NULL-id batch would otherwise reach the duplicate
    # branch with a wrong diagnosis
    if n_null_ids > 0:
        raise ValueError(
            f"{op}: {n_null_ids} of {n} batch rows have a "
            f"NULL {id_col} — index rows need a stable id for the "
            f"anti-join idempotency fence. Fix the batch's id column "
            f"first."
        )
    if n_ids < n:
        raise ValueError(
            f"{op}: the batch holds {n - n_ids} duplicate "
            f"{id_col} rows — within-batch duplicates would commit twice "
            f"(the anti-join dedups only against stored ids). Dedup the "
            f"batch first."
        )
    if n_good < n:
        raise ValueError(
            f"{op}: {n - n_good} of {n} batch rows "
            f"have a NULL embedding or length != {expect_dim} — they "
            f"would be silently dropped or mis-encoded. Fix or filter "
            f"the batch first."
        )
    return True


def pq_query_index(
    spark,
    catalog,
    index_table: str,
    queries: DataFrame,
    k: int = 5,
    num_subspaces: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k served ENTIRELY from a persisted PQ index: the corpus
    side reads only the codes table (m longs per vector) plus the few-KB
    codebooks — the raw embedding column is never rescanned, which is
    the point of the index at 100 TB. Same small-query broadcast
    contract as pq_topk.

    Serving preconditions (raise, never silently-wrong scores — the
    ivf_pq_query_index fence): the two tables' ``build_id`` stamps must
    agree (a crash between the codebook and codes rewrites leaves NEW
    codebooks scoring OLD-codebook codes), and ``num_subspaces`` must
    match the stored codebooks' subspace count (a mismatch sums the
    wrong LUT cells — truncated or NULL scores, no error, with ANSI
    off)."""
    _require_small_query_side(
        queries.select(F.col(id_col)), "pq_query_index (broadcast LUTs)"
    )
    _bid, codes, codebooks, dsub = _pq_served(
        spark, catalog, index_table, "pq_query_index", num_subspaces
    )
    qu = _unit_vectors(queries, vec_col, id_col)
    return _pq_adc_topk(codes, qu, codebooks, k, num_subspaces, dsub)


def pq_index_consistency_check(
    spark,
    catalog,
    index_table: str,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_subspaces: int = 4,
    centroid_stride: int = 50,
    max_codes: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """One-row proof the persisted index serves EXACTLY what the direct
    operator computes (same sampled codebooks -> same codes -> same
    ranked rows): n_queries, n_served (ranked rows from the stored
    index), n_mismatch (full-row anti-join both ways, must be 0). The
    ivf_index_consistency_check contract, for PQ."""
    cols = ["query_id", "neighbor_id", "adc_score", "rank"]
    return _consistency_row(
        queries, id_col,
        lambda: pq_query_index(
            spark, catalog, index_table, queries, k, num_subspaces,
            vec_col, id_col,
        ).select(cols),
        lambda: pq_topk(
            corpus, queries, k, num_subspaces, centroid_stride, max_codes,
            None, vec_col, id_col,
        ).select(cols),
    )


def _consistency_row(queries: DataFrame, id_col: str, served_fn,
                     direct_fn) -> DataFrame:
    """(n_queries, n_served, n_mismatch) of the ANN index consistency
    checks as ONE lazy plan. Each leg is reuse()d so the counts read it
    once; the legs are independent and reuse() blocks while AQE runs a
    leg's stages, so they are built concurrently."""
    served, direct = run_concurrently(
        lambda: reuse(served_fn()), lambda: reuse(direct_fn())
    )
    n_q = queries.select(F.col(id_col)).distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_queries")
    )
    n_served = served.agg(
        F.count(F.lit(1)).cast("long").alias("n_served")
    )
    return n_q.crossJoin(F.broadcast(n_served)).crossJoin(
        F.broadcast(mismatch_count(served, direct))
    )


def ivf_pq_build_index(
    spark,
    catalog,
    index_table: str,
    corpus: DataFrame,
    centroid_stride: int | None = None,
    num_subspaces: int = 4,
    pq_stride: int = 5,
    max_codes: int | None = 128,
    codebooks: DataFrame | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Persist the full IVF-PQ serving structure as four catalog tables:
    the codes table ``{index_table}`` (id, codes array<long>), the
    codebook table ``{index_table}_codebooks`` (j, code, cv), the coarse
    quantizer ``{index_table}_centroids`` (cid, cv), and the inverted
    lists ``{index_table}_lists`` (cid, id). The ivf/pq_build_index
    lifecycle completed for the composed tier: build once per corpus
    snapshot, then serve any number of query batches
    (ivf_pq_query_index) touching only codes + lists (m longs + one long
    per vector — the raw embedding column is never rescanned, which is
    the point at 100 TB). Rebuild = explicit drop + recreate under the
    catalog's strict write preconditions (reference OutputConf parity —
    never a silent in-place overwrite). ``centroid_stride=None``
    auto-sizes nlist at sqrt(n) (resolve_ivf_stride); pass trained
    centroids/codebooks frames for the quality tier.

    The four tables are COUPLED (codes only make sense against the
    codebooks they were encoded with; lists against their centroids), and
    the drop-then-write sequence is not atomic: a mid-rebuild crash
    leaves mixed geometry. Every table therefore carries a shared
    ``build_id`` stamp, and ivf_pq_query_index REFUSES to serve a set of
    tables whose stamps disagree — a torn rebuild is a loud error, never
    silently-wrong scores. (The same crash-visible-not-crash-silent rule
    as the ingestion artifacts' commit order, operators/ingestion.py.)
    Lists and codes are VERSIONED (ivf_pq_append_to_index folds new
    vectors in as snapshot appends); centroids and codebooks are the
    immutable geometry."""
    if centroid_stride is None:
        centroid_stride = resolve_ivf_stride(corpus.count())
    cents = corpus.filter(F.col(id_col) % centroid_stride == 0).select(
        F.col(id_col).alias("cid"), _as_double(vec_col).alias("cv")
    )
    if codebooks is None:
        codebooks = pq_codebooks_sampled(
            corpus, num_subspaces, pq_stride, max_codes, vec_col, id_col
        )
    # one collect per geometry table serves both its consumers (the
    # Arrow closures and the table write); doubles round-trip py4j
    # exactly, so the written rows are bit-identical
    cent_rows, cb_rows = run_concurrently(
        lambda: [r.asDict() for r in cents.collect()],
        lambda: [r.asDict() for r in codebooks.collect()],
    )
    if not cent_rows:
        raise ValueError(
            "ivf_pq_build_index: no vector id hits the centroid_stride "
            f"({centroid_stride}); lower the stride"
        )
    if not cb_rows:
        raise ValueError("ivf_pq_build_index: empty codebook frame")
    id_type = corpus.schema[id_col].dataType
    # ONE corpus pass yields both index halves: reuse() materializes the
    # narrow fused rows once and both table writes read the blocks;
    # spread() first, or a single-row-group input runs in one task
    c = spread(corpus).select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("_v")
    ).withColumn("_nrm", l2_norm(F.col("_v")))
    fused = reuse(_ivf_pq_encode_assign_pandas(
        c, cent_rows, cb_rows, num_subspaces, len(cb_rows[0]["cv"])
    ))
    write_set(spark, catalog, _IVF_PQ_INDEX, index_table, {
        "centroids": (
            (("cid", id_type), ("cv", T.ArrayType(T.DoubleType()))),
            [(r["cid"], r["cv"]) for r in cent_rows],
        ),
        "codebooks": (_CODEBOOK_COLS, _local_codebooks(spark, cb_rows)),
        "lists": (
            (("cid", id_type), ("id", id_type)),
            fused.select("cid", "id"),
        ),
        "codes": (
            (("id", id_type), ("codes", T.ArrayType(T.LongType()))),
            fused.filter(F.col("codes").isNotNull()).select("id", "codes"),
        ),
    })


def ivf_pq_query_index(
    spark,
    catalog,
    index_table: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    num_subspaces: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ top-k served ENTIRELY from a persisted index: queries are
    assigned to their ``nprobe`` nearest stored centroids and their ADC
    lookup tables are built on the driver (the query side is small by
    contract, and the few-KB centroid and codebook tables are collected
    anyway), then scored against only the probed lists' stored codes.
    The corpus-side scan reads the lists table (one long per vector) and
    the codes table (m longs) — never the raw embeddings. Same
    small-query broadcast contract as ivf_pq_topk; each query id must be
    unique.

    Serving preconditions (raise, never silently-wrong scores): the four
    tables' ``build_id`` stamps must agree (a torn rebuild is refused),
    and ``num_subspaces`` must match the stored codebooks' subspace
    count (a mismatch would index past the stored codes/LUT arrays and,
    with ANSI off, surface as silent NULL scores). The catalog vouches
    for the stamps of a healthy index, so the fence runs no Spark job
    and the geometry comes from the build memo: the query collect is
    the one job before the scoring plan. Any other state falls back to
    probing the data (two geometry collects and two limit-1 probes, no
    full scans) — see operators/artifacts.py read_set."""
    op = "ivf_pq_query_index"
    # the bounded query collect (the small-query guard) overlaps the
    # fence probes and stays first in call order, so its error wins
    _bid, p = read_set(
        spark, catalog, _IVF_PQ_INDEX, index_table, op,
        first={"queries": lambda: _collect_ivf_pq_queries(
            queries, "ivf_pq_query_index (broadcast probes + LUTs)",
            vec_col, id_col,
        )},
    )
    _check_stored_codebooks(op, index_table, p["codebooks"], num_subspaces)
    qid_type, q_rows = p["queries"]
    return _ivf_pq_adc_rank(
        p["lists"].select("cid", "id"), p["codes"].select("id", "codes"),
        qid_type, q_rows, p["centroids"], p["codebooks"], k, nprobe,
        num_subspaces, op=op,
    )


def _check_stored_codebooks(
    op: str, index_table: str, cb_rows: list,
    num_subspaces: int | None = None,
) -> tuple:
    """(m, dsub) of the collected stored codebook rows: a non-empty
    table whose subspace count matches ``num_subspaces`` when given."""
    if not cb_rows or cb_rows[0]["cv"] is None:
        raise ValueError(
            f"{op}: empty codebook table {index_table}_codebooks"
        )
    m = int(max(r["j"] for r in cb_rows) + 1)
    if num_subspaces is not None and m != num_subspaces:
        raise ValueError(
            f"{op}: num_subspaces={num_subspaces} does not match the "
            f"stored index ({index_table}_codebooks holds {m} "
            f"subspaces). Pass num_subspaces={m} — a mismatch would "
            f"misindex the stored codes."
        )
    return m, len(cb_rows[0]["cv"])


def _collect_ivf_pq_queries(
    queries: DataFrame, caller: str, vec_col: str, id_col: str
) -> tuple:
    """(query_id type, [(query_id, qv)]) of a served query side. The
    collect is bounded at cap+1 rows, so it is also the small-query
    guard, with _require_small_query_side's error."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    )
    rows = q.limit(_MAX_BROADCAST_QUERIES + 1).collect()
    if len(rows) > _MAX_BROADCAST_QUERIES:
        raise _too_many_queries(
            caller, _MAX_BROADCAST_QUERIES, _NO_BROADCAST_ESCAPE
        )
    return q.schema["query_id"].dataType, rows


def _ivf_pq_adc_rank(
    lists: DataFrame,
    codes: DataFrame,
    qid_type,
    q_rows: list,
    cent_rows: list,
    cb_rows: list,
    k: int,
    nprobe: int,
    num_subspaces: int,
    op: str,
) -> DataFrame:
    """The IVF-PQ serving plan proper: the driver-side query side
    (_ivf_pq_probe_luts over the collected query rows and the
    collected centroid/codebook rows) broadcast onto the probed lists'
    codes, then the exact rank. Shared by ivf_pq_query_index and the
    streaming twin's foreachBatch (streaming/similarity.py), so stream
    output is batch output by construction."""
    prb = _ivf_pq_probe_luts(
        lists.sparkSession, op, qid_type, q_rows, cent_rows, cb_rows,
        nprobe, num_subspaces,
    )
    inv = lists.withColumnRenamed("id", "neighbor_id").join(
        codes.withColumnRenamed("id", "neighbor_id"), "neighbor_id"
    )
    scored = (
        inv.join(F.broadcast(prb), "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            _adc_score(num_subspaces).alias("adc_score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_score").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= k)


def _ivf_pq_probe_luts(
    spark,
    op: str,
    qid_type,
    q_rows: list,
    cent_rows: list,
    cb_rows: list,
    nprobe: int,
    num_subspaces: int,
) -> DataFrame:
    """(cid, query_id, _lut) for every query and each of its ``nprobe``
    nearest centroids, computed on the driver and returned as a local
    Arrow relation — no Python-worker stage and no shuffle for a side
    that holds at most _MAX_BROADCAST_QUERIES rows.

    The rows equal the relational query side ivf_pq_topk builds
    (_assign_pandas probes joined with _pq_query_luts), which
    ivf_pq_index_consistency_check anti-joins the served rows against:

    - norms and LUT dots are sequential folds over the dimension axis,
      the IEEE order l2_norm/dot_product compile to, so every double is
      bit-identical;
    - LUT rows are ordered by code per subspace, as _pq_query_luts'
      sort_array(collect_list(...)) orders them;
    - assignment is _assign_pandas' math: the same matmul over
      cid-sorted centroids and a stable argsort (ties to the lowest
      cid);
    - NULL and zero-norm queries are dropped, as _unit_vectors drops
      them.

    Duplicate query ids raise: the rows are keyed by query id, so the
    copies could not be told apart downstream (the relational LUT
    grouping merges them into one double-length table)."""
    from collections import Counter

    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    ids = Counter(r[0] for r in q_rows if r[0] is not None)
    dups = sorted(i for i, n in ids.items() if n > 1)
    if dups:
        raise ValueError(
            f"{op}: duplicate query ids {dups[:5]} — each query's ADC "
            f"lookup table is keyed by its id, so copies would be "
            f"scored as one merged query. Send each query id once."
        )
    cids, C, c_norms = _centroid_matrix(cent_rows)
    mats = _codebook_matrices(cb_rows, num_subspaces)
    dim, dsub = C.shape[1], mats[0].shape[1]
    rows = [
        r for r in q_rows
        if r[0] is not None and r[1] is not None and None not in r[1]
    ]
    for r in rows:
        if len(r[1]) != dim:
            raise ValueError(
                f"{op}: query {r[0]} has {len(r[1])} dimensions; the "
                f"index holds {dim}-dimensional vectors"
            )
    V = np.array([r[1] for r in rows], dtype=np.float64).reshape(-1, dim)
    sq = np.zeros(len(V))
    for x in V.T:
        sq = sq + x * x
    nrm = np.sqrt(sq)
    keep = nrm > 0  # NaN norms fail it too, like _unit_vectors' filter
    V, nrm = V[keep], nrm[keep]
    qids = [r[0] for r, kept in zip(rows, keep) if kept]

    cos = (V @ C.T) / (nrm[:, None] * c_norms[None, :])
    order = np.argsort(-cos, axis=1, kind="stable")[:, :nprobe]
    U = V / nrm[:, None]
    luts = []
    for j, Cb in enumerate(mats):
        lut = np.zeros((len(U), len(Cb)))
        for t in range(dsub):
            lut = lut + U[:, j * dsub + t, None] * Cb[None, :, t]
        luts.append(lut)

    # one output row per (query, probed centroid), each carrying the
    # query's m x ksub table as array<array<double>>
    sel = np.repeat(np.arange(len(qids)), order.shape[1])
    sizes = np.tile([len(Cb) for Cb in mats], len(sel))
    inner = pa.ListArray.from_arrays(
        pa.array(np.concatenate([[0], np.cumsum(sizes)]), pa.int32()),
        pa.array(np.concatenate(luts, axis=1)[sel].ravel()),
    )
    table = pa.table({
        "cid": pa.array(cids[order.ravel()]),
        "query_id": pa.array([qids[i] for i in sel]),
        "_lut": pa.ListArray.from_arrays(
            pa.array(
                np.arange(0, len(sizes) + 1, num_subspaces), pa.int32()
            ),
            inner,
        ),
    })
    return spark.createDataFrame(table, T.StructType([
        T.StructField("cid", T.LongType()),
        T.StructField("query_id", qid_type),
        T.StructField("_lut", T.ArrayType(T.ArrayType(T.DoubleType()))),
    ]))


def ivf_pq_index_consistency_check(
    spark,
    catalog,
    index_table: str,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    centroid_stride: int | None = None,
    num_subspaces: int = 4,
    pq_stride: int = 5,
    max_codes: int | None = 128,
    codebooks: DataFrame | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """One-row proof the persisted IVF-PQ index serves EXACTLY what the
    direct operator computes (same coarse lists -> same candidates; same
    codebooks -> same codes -> same ranked rows): n_queries, n_served,
    n_mismatch (full-row anti-join both ways, must be 0). The
    ivf/pq_index_consistency_check contract, for the composed tier.
    Build-parity parameters must mirror the ivf_pq_build_index call that
    produced the index — including ``codebooks=`` when the index was
    built with trained codebooks (the direct path would otherwise
    recompute sampled ones and report spurious mismatches)."""
    cols = ["query_id", "neighbor_id", "adc_score", "rank"]
    return _consistency_row(
        queries, id_col,
        lambda: ivf_pq_query_index(
            spark, catalog, index_table, queries, k, nprobe,
            num_subspaces, vec_col, id_col,
        ).select(cols),
        lambda: ivf_pq_topk(
            corpus, queries, k, centroid_stride, nprobe, num_subspaces,
            pq_stride, max_codes, codebooks, vec_col, id_col,
        ).select(cols),
    )


def ivf_pq_append_to_index(
    spark,
    catalog,
    index_table: str,
    new_vectors: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> int:
    """Incremental IVF-PQ index maintenance — the lsh_append_to_index
    sibling for the strongest-recall persisted tier: encode NEW vectors
    with the STORED codebooks and assign them to the STORED centroids,
    then commit them as snapshot APPENDs to the lists and codes tables.
    No corpus rescan, no retrain: at 100 TB this is the difference
    between a nightly delta job (|batch| × nlist assignment dots +
    |batch| × ksub encode dots) and a full re-encode of the corpus.

    Geometry is the index identity and appends never change it: the
    centroid and codebook tables are untouched, and appended rows carry
    the ORIGINAL ``build_id`` — the torn-REBUILD fence stays valid, and
    time-travel reads serve the index as-of any tick. Appending onto an
    index whose stamps already disagree is refused (fix the rebuild
    first; appending would entrench the tear).

    Two tables move, and the two appends are not atomic — the torn-
    APPEND story is therefore designed to be harmless-and-repairable
    rather than fenced: serving inner-joins lists ⋈ codes, so a vector
    present in only one table is simply not served yet (a consistent
    subset — never a wrong score), and each append anti-joins its OWN
    table's stored ids, so re-running the same batch completes whichever
    half is missing and appends nothing twice (idempotent re-delivery,
    same as the artifact appends). Lists append first, codes second;
    returns the committed snapshot version of the codes table (or the
    current one on a no-op).

    A batch of at most _MAX_BROADCAST_QUERIES rows (the small-side cap)
    appends on the driver: one bounded collect of the batch, overlapped
    with the fence probes, is also the hygiene check; the kernel the
    Arrow pass runs (_ivf_pq_kernel) encodes and assigns it in NumPy;
    one semi-join job finds the ids each stored table already holds;
    and each fresh half is written from a local frame as one file — no
    Python worker and no checkpoint. A larger batch discards that
    collect and takes the distributed path (spread Arrow pass, one
    checkpointed anti-join per table). Both commit the same rows.
    """
    op = "ivf_pq_append_to_index"

    def vectors(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("id"), _as_double(vec_col).alias("_v")
        ).withColumn("_nrm", l2_norm(F.col("_v")))

    batch = vectors(new_vectors)
    # the bounded batch collect overlaps the fence probes; hygiene is
    # judged after them, so a fence error still wins
    bid, p = read_set(
        spark, catalog, _IVF_PQ_INDEX, index_table, op,
        first={"batch": lambda: batch.limit(
            _MAX_BROADCAST_QUERIES + 1
        ).toArrow()},
    )
    m, dsub = _check_stored_codebooks(op, index_table, p["codebooks"])
    if p["batch"].num_rows <= _MAX_BROADCAST_QUERIES:
        halves = _ivf_pq_fresh_local(
            spark, op, bid, p, batch.schema["id"].dataType, m, dsub, id_col
        )
    elif _check_append_batch(op, new_vectors, m * dsub, vec_col, id_col):
        # ONE batch pass yields both halves; spread() first, or a
        # single-file batch runs the whole pass in one task
        fused = reuse(_ivf_pq_encode_assign_pandas(
            vectors(spread(new_vectors)), p["centroids"], p["codebooks"],
            m, dsub,
        ))
        # per-table anti-joins (not one shared id set): after a torn
        # append the two tables disagree on which ids they hold, and
        # each half must complete on its own on retry. The two
        # checkpoint+count chains run concurrently
        halves = run_concurrently(
            lambda: append_fresh(fused.select("cid", "id"), p["lists"], bid),
            lambda: append_fresh(
                fused.filter(F.col("codes").isNotNull()).select(
                    "id", "codes"
                ),
                p["codes"], bid,
            ),
        )
    else:
        halves = None
    if halves is None:
        return catalog.current_version(index_table)  # empty batch: no-op
    (fresh_lists, n_lists), (fresh_codes, n_codes) = halves
    # the APPENDS stay strictly ordered (lists first, codes second — the
    # documented torn-append direction)
    if n_lists > 0:
        append_stamped(spark, catalog, f"{index_table}_lists", fresh_lists,
                       bid, op)
    if n_codes == 0:
        return catalog.current_version(index_table)
    return append_stamped(spark, catalog, index_table, fresh_codes, bid, op)


def _ivf_pq_fresh_local(
    spark, op: str, bid: str, p: dict, id_type, m: int, dsub: int,
    id_col: str,
):
    """ivf_pq_append_to_index's driver branch over the collected batch
    ``p["batch"]``, an Arrow table of (id, _v, _nrm): ((fresh lists,
    n), (fresh codes, n)), or None for an empty batch.

    The table gives _batch_hygiene the counts _check_append_batch
    aggregates, and gives _ivf_pq_kernel the doubles the Arrow pass
    would see (_v is cast to double by the JVM and _nrm is its
    l2_norm). One semi-join job finds which batch ids each stored table
    already holds, so each half stays idempotent on its own (the torn-
    append retry). The fresh halves are local Arrow frames of one
    partition: they do not scan the table they append to, so they need
    no checkpoint, and each is written as one file."""
    import pyarrow as pa
    import pyarrow.compute as pc

    tab = p["batch"]
    dim = m * dsub
    ids = tab.column("id").to_pylist()
    known = [i for i in ids if i is not None]
    lengths = pc.list_value_length(tab.column("_v")).fill_null(-1)
    if not _batch_hygiene(
        op, id_col, dim, len(ids), len(set(known)), len(ids) - len(known),
        pc.sum(pc.equal(lengths, dim), min_count=0).as_py(),
    ):
        return None
    id_field = T.StructField("id", id_type)
    batch_ids = spark.createDataFrame(
        pa.table({"id": ids}), T.StructType([id_field])
    )
    tagged = p["lists"].select("id", F.lit("lists").alias("_t")).unionByName(
        p["codes"].select("id", F.lit("codes").alias("_t"))
    )
    stored, (cids, codes) = run_concurrently(
        lambda: tagged.join(
            F.broadcast(batch_ids), "id", "left_semi"
        ).collect(),
        lambda: _ivf_pq_kernel(p["centroids"], p["codebooks"], m, dsub)(
            pc.list_flatten(tab.column("_v")).to_numpy().reshape(-1, dim),
            tab.column("_nrm").to_numpy(),
        ),
    )
    held = {"lists": set(), "codes": set()}
    for r in stored:
        held[r["_t"]].add(r["id"])
    new_l = [i for i, x in enumerate(ids) if x not in held["lists"]]
    new_c = [
        i for i, x in enumerate(ids)
        if x not in held["codes"] and codes[i] is not None
    ]
    build_id = T.StructField("build_id", T.StringType())

    def local(cols: dict, fields: list, n: int) -> tuple:
        frame = spark.createDataFrame(
            pa.table({**cols, "build_id": [bid] * n}),
            T.StructType([*fields, build_id]),
        )
        return frame.coalesce(1), n

    return (
        local(
            {"cid": cids[new_l], "id": [ids[i] for i in new_l]},
            [T.StructField("cid", T.LongType()), id_field], len(new_l),
        ),
        local(
            {"id": [ids[i] for i in new_c],
             "codes": pa.array([codes[i] for i in new_c],
                               pa.list_(pa.int64()))},
            [id_field, T.StructField("codes", T.ArrayType(T.LongType()))],
            len(new_c),
        ),
    )


def ivf_pq_index_repair(
    spark,
    catalog,
    index_table: str,
    corpus: DataFrame | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Detect — and, given the corpus, complete — a torn IVF-PQ append
    WITHOUT the original batch (the operational gap ivf_pq_append_to_
    index documents: its re-delivery repair needs the batch back).

    The two-table append (lists first, codes second) is not atomic; a
    crash between them leaves ids present in one table only. Serving
    inner-joins lists ⋈ codes, so the torn rows are invisible (a
    consistent subset, never a wrong score) — but silently unserved
    until repaired. The torn set is DERIVABLE: anti-join the two
    tables' ids both ways. Completion needs only the raw vectors for
    those ids, which the corpus (the system of record the batch came
    from) still holds: encode/assign them under the STORED geometry —
    deterministic functions of (vector, codebooks/centroids), so the
    result is bit-identical to what a re-delivered batch would have
    appended — and commit the missing halves with the stored build_id.

    Returns a one-row report (n_missing_codes, n_missing_lists,
    n_repaired_codes, n_repaired_lists): with ``corpus=None`` this is a
    pure detection verb (repaired counts 0 — the CLI ``index repair``
    dry default); with the corpus, both diffs are healed and a second
    run reports all zeros (idempotent). Raises if the corpus no longer
    holds a torn id (the tear predates a corpus erasure — rebuild), and
    refuses mixed build_id stamps (a torn REBUILD is geometry damage
    this verb must not paper over; re-run ivf_pq_build_index).

    Scale: two id-projection anti-joins (one long per indexed vector)
    plus |torn| × (nlist + ksub) repair dots — nightly-maintenance
    shaped, no corpus rescan beyond one semi-join on the torn ids."""
    op = "ivf_pq_index_repair"
    bid, p = read_set(spark, catalog, _IVF_PQ_INDEX, index_table, op)
    list_ids = p["lists"].select("id")
    code_ids = p["codes"].select("id")

    # localCheckpoint: the repair appends to the very tables these
    # diffs scan (the same-path-scan rule, operators/ingestion.py);
    # eager=False + count() materializes and counts in one job
    def _diff(a, b):
        need = a.join(b, "id", "left_anti").distinct() \
            .localCheckpoint(eager=False)
        return need, need.count()

    (need_codes, n_need_codes), (need_lists, n_need_lists) = (
        run_concurrently(
            lambda: _diff(list_ids, code_ids),
            lambda: _diff(code_ids, list_ids),
        )
    )

    def _report(rc: int, rl: int) -> DataFrame:
        return spark.createDataFrame(
            [(n_need_codes, n_need_lists, rc, rl)],
            "n_missing_codes long, n_missing_lists long, "
            "n_repaired_codes long, n_repaired_lists long",
        )

    if corpus is None or (n_need_codes == 0 and n_need_lists == 0):
        return _report(0, 0)
    num_subspaces, dsub = _check_stored_codebooks(
        op, index_table, p["codebooks"]
    )
    src = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("_vec")
    )

    def _encode_assign(vecs: DataFrame) -> DataFrame:
        # the fused pass the build/append paths use: each repaired half
        # projects the column it needs, and the fence above guarantees
        # every row is encodable, so the output is row-identical to the
        # single-purpose encoders
        c = spread(vecs.select(
            "id", _as_double("_vec").alias("_v")
        ).withColumn("_nrm", l2_norm(F.col("_v"))))
        return _ivf_pq_encode_assign_pandas(
            c, p["centroids"], p["codebooks"], num_subspaces, dsub
        )

    def _vectors_for(ids: DataFrame, n_ids: int, half: str) -> DataFrame:
        # eager=False: the hygiene aggregate below materializes the
        # checkpoint in the same job
        vecs = src.join(ids, "id").localCheckpoint(eager=False)
        probe = vecs.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(
                F.when(
                    F.col("_vec").isNull()
                    | (F.size("_vec") != num_subspaces * dsub)
                    | (l2_norm(_as_double("_vec")) == 0),
                    1,
                )
            ).alias("n_bad"),
        ).first()
        n_found = int(probe["n"])
        if probe["n_bad"] > 0:
            # the encode/assign stages silently DROP such rows
            # (_unit_vectors filters zero-norm; the encoder mis-slices
            # wrong widths), so without this fence the repair would
            # report them repaired while leaving the index torn forever
            raise ValueError(
                f"ivf_pq_index_repair: {probe['n_bad']} of {n_ids} "
                f"corpus rows for ids missing their {half} half have a "
                f"NULL, zero-norm or wrong-length (!= "
                f"{num_subspaces * dsub}) embedding — they cannot be "
                f"re-encoded under the stored geometry and would be "
                f"silently dropped, leaving the tear in place. Fix the "
                f"corpus rows or rebuild with ivf_pq_build_index."
            )
        if n_found < n_ids:
            raise ValueError(
                f"ivf_pq_index_repair: {n_ids - n_found} of {n_ids} ids "
                f"missing their {half} half are no longer in the corpus "
                f"— the tear predates a corpus erasure, so the exact "
                f"vectors are gone. Re-run ivf_pq_build_index over the "
                f"current corpus."
            )
        if n_found > n_ids:
            raise ValueError(
                f"ivf_pq_index_repair: the corpus holds "
                f"{n_found - n_ids} duplicate rows for the {n_ids} ids "
                f"missing their {half} half — repairing from an "
                f"ambiguous corpus would commit duplicate index rows. "
                f"Dedup the corpus first."
            )
        return vecs

    repaired_codes = repaired_lists = 0
    if n_need_codes > 0:
        vecs = _vectors_for(need_codes, n_need_codes, "codes")
        fresh_codes = _encode_assign(vecs).select(
            "id", "codes"
        ).withColumn("build_id", F.lit(bid)).localCheckpoint(eager=False)
        # report what was ACTUALLY committed, never echo the need — the
        # two must be equal now that unencodable rows raise above, and a
        # divergence here is a bug worth failing loud over
        repaired_codes = fresh_codes.count()
        if repaired_codes != n_need_codes:
            raise AssertionError(
                f"ivf_pq_index_repair: encoded {repaired_codes} of "
                f"{n_need_codes} missing-codes rows — the encoder "
                f"dropped rows the corpus fence passed"
            )
        append_stamped(spark, catalog, index_table, fresh_codes, bid, op)
    if n_need_lists > 0:
        vecs = _vectors_for(need_lists, n_need_lists, "lists")
        fresh_lists = (
            _encode_assign(vecs)
            .select("cid", "id")
            .withColumn("build_id", F.lit(bid))
            .localCheckpoint(eager=False)
        )
        repaired_lists = fresh_lists.count()
        if repaired_lists != n_need_lists:
            raise AssertionError(
                f"ivf_pq_index_repair: assigned {repaired_lists} of "
                f"{n_need_lists} missing-lists rows — the assigner "
                f"dropped rows the corpus fence passed"
            )
        append_stamped(spark, catalog, f"{index_table}_lists", fresh_lists,
                       bid, op)
    return _report(repaired_codes, repaired_lists)


def cosine_topk_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_planes: int | None = None,
    probe_bits: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Multi-probe LSH top-k (Lv et al., "Multi-probe LSH", VLDB 2007):
    each query searches its own bucket PLUS every bucket within Hamming
    distance ``probe_bits`` of it — the classic fix for single-probe
    sign-LSH's recall ceiling. A true near neighbor that disagrees with
    the query on one plane's sign (probability rising with the angle)
    lands one bit away; probing those buckets recovers it without
    touching the corpus-side layout at all.

    Cost model: the corpus side is UNCHANGED (same one-long bucket per
    vector — the persisted artifact stays valid); only the broadcast
    query side fans out, to 1 + planes probes at probe_bits=1 (plus
    C(planes,2) at 2). Candidate volume grows by roughly the same
    factor, still a bucket-equi-join — no theta join, no corpus
    rescan. Every probe bucket is distinct, so a (query, candidate)
    pair appears at most once: no dedup stage needed before the exact
    rescore. SQL-expressible end to end (XOR on the bucket long), so
    the gate twin is an exact hash oracle.

    ``num_planes=None`` auto-sizes like cosine_topk_bucketed; with
    multiprobe the auto-dial can afford MORE planes (smaller buckets)
    for the same recall, trading candidate volume against probe count.

    The broadcast payload is queries x the probe fan-out (1 + planes at
    probe_bits=1, + C(planes, 2) at 2 — up to 466x at the 30-plane
    auto-dial ceiling), each row carrying the full fp32 vector, so the
    small-query guard is ENFORCED with a fan-out-scaled cap
    (_MAX_BROADCAST_QUERIES // fan_out). Query sets past the cap belong
    on :func:`cosine_topk_multiprobe_bucketed` — the identical probe
    set over a shuffle equi-join, no broadcast, no guard.
    """
    return _multiprobe_topk(
        corpus, queries, k, num_planes, probe_bits, vec_col, id_col,
        broadcast_queries=True,
    )


def cosine_topk_multiprobe_bucketed(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_planes: int | None = None,
    probe_bits: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Multi-probe LSH top-k for LARGE query sets: the identical Hamming
    fan-out (same buckets, same probes, same exact rescore — row-for-row
    equal output to :func:`cosine_topk_multiprobe`) but the probe-bucket
    join is a plain shuffle equi-join on the bucket long instead of a
    query-side broadcast. No size guard, no eager probe of the query
    frame's cardinality: both sides hash-partition on ``bucket``, so a
    100 M-query batch costs one shuffle of (id, vector, bucket) rows —
    the cosine_topk_bucketed scaling story, with multiprobe recall.
    Prefer the broadcast sibling when queries are guard-small (it keeps
    the corpus scan exchange-free)."""
    return _multiprobe_topk(
        corpus, queries, k, num_planes, probe_bits, vec_col, id_col,
        broadcast_queries=False,
    )


def _hamming_probe_buckets(num_planes: int, probe_bits: int) -> list:
    """The multi-probe bucket set as column expressions over ``bucket``:
    the bucket itself, every Hamming-1 XOR flip, and (probe_bits=2) every
    Hamming-2 flip. All probes are distinct, so a (query, candidate) pair
    appears at most once downstream — no dedup stage needed.
    probe_bits=0 is the single-probe (bucketed) special case."""
    flips = [F.col("bucket")]
    if probe_bits >= 1:
        flips += [
            F.col("bucket").bitwiseXOR(F.lit(1 << i)).cast("long")
            for i in range(num_planes)
        ]
    if probe_bits == 2:
        flips += [
            F.col("bucket")
            .bitwiseXOR(F.lit((1 << i) | (1 << j)))
            .cast("long")
            for i in range(num_planes)
            for j in range(i + 1, num_planes)
        ]
    return flips


def _multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    num_planes: int | None,
    probe_bits: int,
    vec_col: str,
    id_col: str,
    broadcast_queries: bool,
) -> DataFrame:
    """Shared multi-probe pipeline; the two public entry points differ
    ONLY in the final probe-bucket join strategy (guarded broadcast vs
    shuffle equi-join), so their outputs are row-identical by
    construction — asserted by tests/test_operators.py parity."""
    if probe_bits not in (1, 2):
        raise ValueError(f"probe_bits must be 1 or 2, got {probe_bits}")
    corpus = spread(corpus)
    probe = corpus.agg(
        F.count(F.lit(1)).alias("n"),
        F.first(F.size(F.col(vec_col))).alias("dim"),
    ).first()
    if num_planes is None:
        num_planes = resolve_num_planes(probe["n"])
    fan_out = 1 + num_planes
    if probe_bits == 2:
        fan_out += num_planes * (num_planes - 1) // 2
    if broadcast_queries:
        _require_small_query_side(
            queries.select(F.col(id_col)),
            f"cosine_topk_multiprobe (x{fan_out} probe fan-out)",
            cap=_MAX_BROADCAST_QUERIES // fan_out,
            escape="cosine_topk_multiprobe_bucketed (same probe set, "
            "shuffle equi-join)",
        )
    cb = hyperplane_lsh_buckets(
        corpus, num_planes, vec_col, id_col, dim=probe["dim"]
    )
    qb = hyperplane_lsh_buckets(
        queries, num_planes, vec_col, id_col, dim=probe["dim"]
    )
    qp = qb.select(
        "id",
        F.explode(
            F.array(*_hamming_probe_buckets(num_planes, probe_bits))
        ).alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    ).join(
        cb.withColumnRenamed("id", "neighbor_id"), "neighbor_id"
    ).withColumn("cnrm", l2_norm(F.col("cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    ).join(
        qp.withColumnRenamed("id", "query_id"), "query_id"
    ).withColumn("qnrm", l2_norm(F.col("qv")))
    cos = _pair_cosine("qv", "qnrm", "cv", "cnrm")
    q_side = F.broadcast(q) if broadcast_queries else q
    scored = c.join(
        q_side,
        (c["bucket"] == q["bucket"])
        & (F.col("query_id") != F.col("neighbor_id")),
    ).select("query_id", "neighbor_id", cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= k)


def multiprobe_recall_report(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_planes: int = 8,
    probe_bits: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """One-row audit of what multi-probing buys: exact-top-k slots
    recovered by single-probe vs multi-probe LSH at the SAME plane
    layout (n_queries, n_exact_results, hits_single, hits_multi).
    Every stage is SQL-expressible, so the twin checks both hit counts
    EXACTLY — and hits_multi >= hits_single holds by construction (the
    probe set is a superset). Runs all three searches: this gate times
    the full audit workload."""
    exact = cosine_topk(corpus, queries, k, vec_col, id_col).select(
        "query_id", "neighbor_id"
    )
    single = cosine_topk_bucketed(
        corpus, queries, k, num_planes, vec_col, id_col
    ).select("query_id", "neighbor_id")
    multi = cosine_topk_multiprobe(
        corpus, queries, k, num_planes, probe_bits, vec_col, id_col
    ).select("query_id", "neighbor_id")
    joined = (
        exact.join(
            single.withColumn("_hs", F.lit(1)),
            ["query_id", "neighbor_id"], "left",
        )
        .join(
            multi.withColumn("_hm", F.lit(1)),
            ["query_id", "neighbor_id"], "left",
        )
    )
    return joined.agg(
        F.countDistinct("query_id").cast("long").alias("n_queries"),
        F.count(F.lit(1)).cast("long").alias("n_exact_results"),
        F.sum(F.coalesce(F.col("_hs"), F.lit(0)))
        .cast("long")
        .alias("hits_single"),
        F.sum(F.coalesce(F.col("_hm"), F.lit(0)))
        .cast("long")
        .alias("hits_multi"),
    )


def _local_codebooks(spark, cb_rows: list):
    """Rebuild the codebook frame from collected rows (exact: doubles
    round-trip py4j bit-identically) so downstream broadcasts read a
    LocalRelation instead of re-scanning the stored table."""
    from pyspark.sql import types as _T

    return spark.createDataFrame(
        [(r["j"], r["code"], r["cv"]) for r in cb_rows],
        _T.StructType([
            _T.StructField("j", _T.IntegerType()),
            _T.StructField("code", _T.IntegerType()),
            _T.StructField("cv", _T.ArrayType(_T.DoubleType())),
        ]),
    )


def lsh_build_index(
    spark,
    catalog,
    index_table: str,
    corpus: DataFrame,
    num_planes: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Persist the hyperplane-LSH bucket structure as catalog tables —
    the last cell of the persisted-index matrix (IVF, PQ, IVF-PQ already
    have build/query/consistency lifecycles; the LSH tier's bucket
    artifact was recomputed per call until now).

    Two tables: the bucket table ``{index_table}`` (id, bucket — one
    long per corpus vector) and ``{index_table}_meta`` (num_planes, dim,
    n_vectors — one row), the geometry serving needs to hash query
    vectors into the SAME plane family. At serve time the corpus-side
    plane projection (num_planes dot products per vector over the whole
    corpus, the dominant probe cost at 100 TB) is never recomputed: a
    query batch touches its probed buckets' rows plus an id-equi-join to
    fetch only CANDIDATE vectors for the exact rescore.

    The plane family is the deterministic md5 family
    (hyperplane_lsh_buckets), so stored buckets are bit-identical to a
    recompute — serving from the index equals the direct operator
    row-for-row (lsh_index_consistency_check), and the DuckDB twin stays
    an exact hash oracle. Both tables carry a shared ``build_id`` stamp;
    lsh_query_index refuses mixed stamps (the ivf_pq torn-rebuild
    fence). Rebuild = explicit drop + recreate under the catalog's
    strict write preconditions (reference OutputConf parity,
    output/HiveApiOutputFormat.java:240-262). The bucket table is
    VERSIONED (lsh_append_to_index folds new vectors in as snapshots);
    meta is the immutable build-time record of the plane family."""
    probe = corpus.agg(
        F.count(F.lit(1)).alias("n"),
        F.first(F.size(F.col(vec_col))).alias("dim"),
    ).first()
    if probe is None or probe["n"] == 0 or probe["dim"] is None:
        raise ValueError("lsh_build_index: empty corpus")
    if num_planes is None:
        num_planes = resolve_num_planes(probe["n"])
    write_set(spark, catalog, _LSH_INDEX, index_table, {
        "meta": (
            (("num_planes", T.IntegerType()), ("dim", T.IntegerType()),
             ("n_vectors", T.LongType())),
            [(num_planes, int(probe["dim"]), int(probe["n"]))],
        ),
        "buckets": (
            (("id", corpus.schema[id_col].dataType),
             ("bucket", T.LongType())),
            hyperplane_lsh_buckets(
                corpus, num_planes, vec_col, id_col, dim=probe["dim"]
            ),
        ),
    })


def lsh_append_to_index(
    spark,
    catalog,
    index_table: str,
    new_vectors: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> int:
    """Incremental LSH index maintenance: bucket NEW vectors with the
    STORED plane family and commit them as a snapshot APPEND to the
    versioned bucket table — the ingestion-tick move for the ANN serving
    index, mirroring append_to_artifacts for the dedup artifacts. No
    corpus rescan, no rebuild: per tick the work is |batch| x num_planes
    dot products plus one narrow anti-join against the stored ids
    (idempotent — a re-delivered batch appends nothing and the table
    version does not advance). The appended rows carry the ORIGINAL
    build_id (the plane family is the index identity; appends never
    change geometry), so the torn-rebuild fence stays valid, and
    time-travel reads serve the index as-of any tick. Appending onto
    mixed stamps is refused. Returns the committed snapshot version (or
    the current one on a no-op)."""
    op = "lsh_append_to_index"
    bid, p = read_set(spark, catalog, _LSH_INDEX, index_table, op)
    meta = p["meta"]
    if not _check_append_batch(
        op, new_vectors, int(meta["dim"]), vec_col, id_col
    ):
        return catalog.current_version(index_table)  # empty batch: no-op
    qb = hyperplane_lsh_buckets(
        new_vectors, int(meta["num_planes"]), vec_col, id_col,
        dim=int(meta["dim"]),
    )
    fresh, n = append_fresh(qb, p["buckets"], bid)
    if n == 0:
        return catalog.current_version(index_table)
    return append_stamped(spark, catalog, index_table, fresh, bid, op)


def _lsh_rank(meta, buckets: DataFrame, corpus: DataFrame,
              queries: DataFrame, k: int, probe_bits: int, vec_col: str,
              id_col: str) -> DataFrame:
    """The LSH serving plan over a fenced (meta row, bucket frame):
    hash the queries into the stored plane family, fan out to the
    Hamming probe set, equi-join the stored buckets, rescore candidates
    exactly and rank. Shared by lsh_query_index and the streaming twin's
    foreachBatch (streaming/similarity.py), so stream output is batch
    output by construction."""
    num_planes = int(meta["num_planes"])
    qb = hyperplane_lsh_buckets(
        queries, num_planes, vec_col, id_col, dim=int(meta["dim"])
    )
    qp = qb.select(
        F.col("id").alias("query_id"),
        F.explode(
            F.array(*_hamming_probe_buckets(num_planes, probe_bits))
        ).alias("bucket"),
    )
    cand = (
        buckets.select(F.col("id").alias("neighbor_id"), "bucket")
        .join(qp, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    ).withColumn("cnrm", l2_norm(F.col("cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    ).withColumn("qnrm", l2_norm(F.col("qv")))
    scored = (
        cand.join(c, "neighbor_id")
        .join(q, "query_id")
        .select(
            "query_id", "neighbor_id",
            _pair_cosine("qv", "qnrm", "cv", "cnrm").alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= k)


def lsh_query_index(
    spark,
    catalog,
    index_table: str,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    probe_bits: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Multi-probe LSH top-k served from a PERSISTED bucket table: query
    vectors are hashed into the stored plane family (num_planes from the
    meta table), fanned out to their Hamming-``probe_bits`` probe set
    (probe_bits=0 = single-probe), and equi-joined against the stored
    buckets — the corpus-side plane projection never reruns. The exact
    rescore then fetches only candidate vectors via an id join into
    ``corpus``. Everything is a shuffle equi-join (no broadcast, no
    size guard, fully lazy) — large query batches are the design
    point, like cosine_topk_multiprobe_bucketed.

    Returns (query_id, neighbor_id, cosine, rank), row-identical to the
    direct multiprobe operators at the same plane count."""
    if probe_bits not in (0, 1, 2):
        raise ValueError(f"probe_bits must be 0, 1 or 2, got {probe_bits}")
    _bid, p = read_set(
        spark, catalog, _LSH_INDEX, index_table, "lsh_query_index"
    )
    return _lsh_rank(
        p["meta"], p["buckets"], corpus, queries, k, probe_bits, vec_col,
        id_col,
    )


def lsh_index_consistency_check(
    spark,
    catalog,
    index_table: str,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    probe_bits: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """One-row proof the persisted bucket table serves EXACTLY what the
    direct multiprobe operator computes (deterministic plane family ->
    stored buckets == recomputed buckets -> same candidates -> same
    ranked rows): n_queries, n_served, n_mismatch (full-row anti-join
    both ways, must be 0). The ivf/pq/ivf_pq_index_consistency_check
    contract, for the LSH tier."""
    _bid, p = read_set(
        spark, catalog, _LSH_INDEX, index_table,
        "lsh_index_consistency_check",
    )
    num_planes = int(p["meta"]["num_planes"])
    cols = ["query_id", "neighbor_id", "cosine", "rank"]

    def _direct():
        if probe_bits == 0:
            return cosine_topk_bucketed(
                corpus, queries, k, num_planes, vec_col, id_col
            ).select(cols)
        return _multiprobe_topk(
            corpus, queries, k, num_planes, probe_bits, vec_col, id_col,
            broadcast_queries=False,
        ).select(cols)

    return _consistency_row(
        queries, id_col,
        lambda: _lsh_rank(
            p["meta"], p["buckets"], corpus, queries, k, probe_bits,
            vec_col, id_col,
        ).select(cols),
        _direct,
    )

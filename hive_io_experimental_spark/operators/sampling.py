"""Deterministic sampling operators for corpus curation.

Training-data pipelines sample by stratum (language balancing, source
mixing, quality tiers) and must be REPRODUCIBLE — a rerun on the same
input has to pick the same rows, and two engines must agree on the pick.
So sampling here is hash-gated, not RNG-gated: a row is kept iff a
portable content hash of its key falls under the stratum's rate. That
makes the operator a pure per-row filter (no shuffle, no state, trivially
parallel at any scale) and bit-reproducible across engines — the md5
family has an exact DuckDB twin, so sampled sets are oracle-checkable.

The reference has no sampling surface (it is an I/O library, SURVEY §2.2);
this is a training-data-pipeline extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hive_io_experimental_spark.functions.hashing import portable_hash64

# Rate granularity: rates are applied as integer thresholds out of 10_000
# (0.01% steps) so the gate is exact integer math in every engine.
RATE_DENOM = 10_000


def hash_stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str = "lang",
    key_col: str = "doc_id",
    default_rate: float = 0.0,
    salt: str = "sample:",
) -> DataFrame:
    """Keep each row with its stratum's probability, deterministically.

    gate = md5-hash(salt || key) mod 10000 < rate * 10000. The hash is on
    the stable row KEY (not the stratum), so membership is independent
    across strata redefinitions and stable under reruns; ``salt`` gives
    independent draws for independent sampling stages. Rows in strata not
    listed in ``rates`` get ``default_rate``. Returns the input rows that
    pass (all columns).
    """
    bucket = F.pmod(
        portable_hash64(F.concat(F.lit(salt), F.col(key_col).cast("string"))),
        F.lit(RATE_DENOM),
    )
    threshold = None
    for stratum, rate in sorted(rates.items()):
        t = F.when(
            F.col(strata_col) == stratum,
            F.lit(int(round(rate * RATE_DENOM))),
        )
        threshold = t if threshold is None else threshold.when(
            F.col(strata_col) == stratum,
            F.lit(int(round(rate * RATE_DENOM))),
        )
    threshold = (
        threshold.otherwise(F.lit(int(round(default_rate * RATE_DENOM))))
        if threshold is not None
        else F.lit(int(round(default_rate * RATE_DENOM)))
    )
    return df.filter(bucket < threshold)


def hash_split(
    df: DataFrame,
    fractions: dict[str, float] | None = None,
    key_col: str = "doc_id",
    salt: str = "split:",
    split_col: str = "split",
) -> DataFrame:
    """Assign every row a deterministic train/val/test split label.

    The reproducibility contract training pipelines need: the split is a
    pure function of (salt, row key) — re-runs, re-partitions, and other
    engines (the DuckDB oracle) assign the IDENTICAL label; adding rows
    never reassigns existing ones (no RNG, no global state, no shuffle —
    one codegen projection at any scale). Fractions are applied as exact
    integer thresholds out of RATE_DENOM on the same md5 bucket the
    sampling gate uses; labels are assigned in sorted-name order over
    cumulative ranges so the mapping is unambiguous. Fractions must sum
    to 1 within 1/RATE_DENOM.
    """
    if fractions is None:
        fractions = {"test": 0.01, "train": 0.98, "val": 0.01}
    total = sum(fractions.values())
    if abs(total - 1.0) > 1.0 / RATE_DENOM:
        raise ValueError(f"split fractions sum to {total}, expected 1.0")
    bucket = F.pmod(
        portable_hash64(F.concat(F.lit(salt), F.col(key_col).cast("string"))),
        F.lit(RATE_DENOM),
    )
    expr = None
    cum = 0
    items = sorted(fractions.items())
    for name, frac in items[:-1]:
        cum += int(round(frac * RATE_DENOM))
        cond = bucket < F.lit(cum)
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn(split_col, expr)


def hash_weighted_sample(
    df: DataFrame,
    weight_col: str,
    key_col: str = "doc_id",
    salt: str = "wsample:",
) -> DataFrame:
    """Keep each row with probability = its OWN weight, deterministically.

    Per-row acceptance sampling for quality-weighted corpus construction
    (keep probability = quality score in [0,1]): the same hash-gate
    contract as hash_stratified_sample, with the threshold taken from the
    row's weight column instead of a stratum table. Weights are clamped
    to [0,1] and applied at RATE_DENOM granularity; same key+salt =>
    same verdict on every rerun and every engine.
    """
    bucket = F.pmod(
        portable_hash64(F.concat(F.lit(salt), F.col(key_col).cast("string"))),
        F.lit(RATE_DENOM),
    )
    threshold = F.round(
        F.least(F.lit(1.0), F.greatest(F.lit(0.0),
                                       F.col(weight_col).cast("double")))
        * RATE_DENOM
    ).cast("int")
    return df.filter(bucket < threshold)


def distribution_matched_sample(
    df: DataFrame,
    ref: DataFrame,
    bucket_col: str,
    key_col: str = "doc_id",
    salt: str = "distmatch:",
) -> DataFrame:
    """Resample ``df`` so ``bucket_col``'s distribution matches ``ref``'s.

    The domain/length-balancing operator: given a reference corpus whose
    bucketed feature distribution (length decile, quality band, domain)
    is the target, keep the LARGEST deterministic subset of ``df`` whose
    bucket proportions match it. Per bucket b the acceptance is

        a_b = (ref_n_b / src_n_b) / (ref_n_M / src_n_M)

    where M is the bucket maximizing ref_n/src_n (its acceptance is 1 —
    the binding constraint). Thresholds are computed with INTEGER
    arithmetic only — floor(10000 * ref_n_b * src_n_M / (src_n_b *
    ref_n_M)) — so both engines agree bit-for-bit; the per-row gate is
    the same salted md5 hash-mod used by every sampler here. Buckets
    absent from ``ref`` are dropped (target mass 0); buckets absent from
    ``df`` simply can't contribute. The count aggregation and the
    threshold table are state-sized (one row per bucket) and broadcast
    back onto the scan — one partial-agg shuffle over each input, zero
    shuffles on the kept-rows path.

    Note: the integer product 10000 * ref_n_b * src_n_M must fit int64 —
    fine up to ~10^7-row buckets on both sides; switch the threshold
    arithmetic to DECIMAL(38,0) beyond that.
    """
    src_counts = df.groupBy(bucket_col).agg(
        F.count(F.lit(1)).alias("src_n")
    )
    ref_counts = ref.groupBy(bucket_col).agg(
        F.count(F.lit(1)).alias("ref_n")
    )
    j = src_counts.join(ref_counts, bucket_col)
    # pivot bucket M = argmax ref_n/src_n: double ratio order with bucket
    # tiebreak — deterministic, and both engines compute the same binary64
    pivot = (
        j.orderBy(
            (F.col("ref_n") / F.col("src_n")).desc(),
            F.col(bucket_col).asc(),
        )
        .limit(1)
        .select(
            F.col("src_n").alias("piv_src"), F.col("ref_n").alias("piv_ref")
        )
    )
    thresholds = (
        j.crossJoin(F.broadcast(pivot))
        .select(
            bucket_col,
            (
                F.lit(RATE_DENOM)
                * F.col("ref_n").cast("long")
                * F.col("piv_src").cast("long")
            ).alias("num"),
            (
                F.col("src_n").cast("long") * F.col("piv_ref").cast("long")
            ).alias("den"),
        )
        .select(bucket_col, F.expr("num div den").alias("thr"))
    )
    bucket = F.pmod(
        portable_hash64(
            F.concat(F.lit(salt), F.col(key_col).cast("string"))
        ),
        F.lit(RATE_DENOM),
    )
    return (
        df.join(F.broadcast(thresholds), bucket_col)
        .filter(bucket < F.col("thr"))
        .select(*df.columns)
    )


def quota_cap_sample(
    df: DataFrame,
    group_col: str = "source",
    cap: int = 50,
    key_col: str = "doc_id",
    salt: str = "quota:",
) -> DataFrame:
    """Cap each group at ``cap`` rows, picked deterministically.

    The per-domain/per-source cap every web-corpus pipeline applies so a
    single crawl host cannot dominate the training mix. Selection is a
    hash lottery, not "first N seen": rows rank within their group by
    (md5-hash(salt || key), key) and ranks > cap drop — the SAME rows
    survive under any partitioning, any engine (exact DuckDB twin), and
    any input order, and the kept set is a uniform without-replacement
    draw per group. One shuffle on group_col for the rank window; groups
    above ~10^7 rows would want a pre-filter by hash threshold first
    (cap/|group| estimate) before the exact rank — noted, not needed at
    cap sizes quotas use. Returns surviving rows (all columns) plus the
    in-group rank ``quota_rk``.
    """
    w = Window.partitionBy(group_col).orderBy(
        F.col("_quota_h"), F.col(key_col)
    )
    return (
        df.withColumn(
            "_quota_h",
            portable_hash64(
                F.concat(F.lit(salt), F.col(key_col).cast("string"))
            ),
        )
        .withColumn("quota_rk", F.row_number().over(w).cast("long"))
        .filter(F.col("quota_rk") <= cap)
        .drop("_quota_h")
    )


def temperature_mixture_sample(
    df: DataFrame,
    group_col: str = "lang",
    temperature: float = 0.5,
    key_col: str = "doc_id",
    salt: str = "temp:",
) -> DataFrame:
    """Resample so group shares follow n^temperature (mixture flattening).

    THE multilingual/source-balancing operator: with natural group sizes
    n_b, the target mixture gives group b a share proportional to
    n_b^tau. Keeping the maximum possible rows, the smallest group is
    kept whole and every other group accepts rows with probability

        a_b = (n_min / n_b)^(1 - tau)

    (tau = 1 keeps the natural mixture, tau = 0 equalizes all groups —
    the same temperature knob used for multilingual sampling in the
    mBERT/XLM-R lineage of corpus recipes).

    Determinism and cross-engine exactness: the per-row gate is the same
    salted md5 hash-mod every sampler here uses. For the DEFAULT
    tau = 0.5 the acceptance test is evaluated in pure int64 arithmetic —
    keep iff bucket^2 * n_b < RATE_DENOM^2 * n_min, which is algebraically
    bucket < RATE_DENOM * sqrt(n_min/n_b) with no floating point anywhere,
    so any engine agrees bit-for-bit (the DuckDB oracle twin uses the
    same product comparison). tau = 0 uses exact integer division. Other
    temperatures go through pow(), whose last-ulp rounding is not
    IEEE-pinned across libm implementations — fine in production, but an
    exact cross-engine oracle should stick to {0, 0.5, 1}.

    Plan shape: one state-sized count aggregation (rows = groups), its
    1-row min crossJoined back as a broadcast, then a broadcast join of
    the per-group counts onto the scan and a per-row filter — zero
    shuffles on the kept-rows path, same as distribution_matched_sample.
    Returns surviving rows (all input columns).
    """
    if not 0.0 <= temperature <= 1.0:
        raise ValueError(
            f"temperature must be in [0, 1], got {temperature}"
        )
    if temperature == 1.0:
        return df
    # collision-proof helper names: a caller column literally named _n or
    # _n_min would make the broadcast-join references ambiguous and break
    # the final select(*df.columns)
    nc, mc = "_tms_n", "_tms_n_min"
    while nc in df.columns or mc in df.columns:
        nc, mc = nc + "_", mc + "_"
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias(nc))
    n_min = counts.agg(F.min(nc).alias(mc))
    sized = counts.crossJoin(F.broadcast(n_min))
    bucket = F.pmod(
        portable_hash64(
            F.concat(F.lit(salt), F.col(key_col).cast("string"))
        ),
        F.lit(RATE_DENOM),
    )
    joined = df.join(F.broadcast(sized), group_col)
    if temperature == 0.5:
        # integer-exact: bucket^2 * n_b < RATE_DENOM^2 * n_min
        keep = (
            bucket * bucket * F.col(nc)
            < F.lit(RATE_DENOM) * F.lit(RATE_DENOM) * F.col(mc)
        )
    elif temperature == 0.0:
        keep = bucket < F.expr(
            f"CAST({RATE_DENOM} * {mc} AS BIGINT) div {nc}"
        )
    else:
        thr = F.floor(
            F.lit(float(RATE_DENOM))
            * F.pow(
                F.col(mc).cast("double") / F.col(nc).cast("double"),
                F.lit(1.0 - temperature),
            )
        )
        keep = bucket < thr
    return joined.filter(keep).select(*df.columns)


def _dsir_gram_buckets(
    df: DataFrame,
    n_buckets: int,
    text_col: str,
    id_col: str,
    salt: str,
) -> DataFrame:
    """(doc_id, bucket) — one row per word unigram AND bigram occurrence,
    hashed into ``n_buckets`` with the portable md5 family.

    The hashed bag-of-ngrams feature map of DSIR (Xie et al., 2023,
    "Data Selection for Language Models via Importance Resampling"):
    unigrams + bigrams, counted (not distinct — repetition is signal for
    a bag-of-ngrams model). One tokenization pass per document; the
    bigram array is built from the materialized token column so the
    tokenizer is not re-evaluated per shingle position.
    """
    from hive_io_experimental_spark.functions.partitioning import spread
    from hive_io_experimental_spark.functions.textfns import (
        word_shingles_from_tokens,
        word_tokens,
    )

    toks = spread(df).select(
        F.col(id_col).alias("doc_id"),
        word_tokens(F.col(text_col)).alias("toks"),
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.concat(
                F.col("toks"), word_shingles_from_tokens(F.col("toks"), 2)
            )
        ).alias("gram"),
    )
    return grams.select(
        "doc_id",
        F.pmod(
            portable_hash64(F.concat(F.lit(salt), F.col("gram"))),
            F.lit(n_buckets),
        ).alias("bucket"),
    )


def dsir_importance_weights(
    df: DataFrame,
    target: DataFrame,
    n_buckets: int = 4096,
    smoothing: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "dsir:",
) -> DataFrame:
    """Per-document importance weight toward a TARGET text distribution —
    hashed-n-gram importance resampling (DSIR, Xie et al., 2023).

    THE data-selection operator for pretraining pipelines: given a small
    high-quality ``target`` sample (a domain, a curated corpus) and the
    raw pool ``df``, score every raw document by how much more likely its
    hashed n-gram bag is under the target distribution than under the
    pool's own:

        weight(d) = sum over gram occurrences g in d of
                    log( p_target[bucket(g)] / p_pool[bucket(g)] )

    with Laplace ``smoothing`` pseudo-counts per bucket. High-weight
    documents look like the target; resampling by weight shifts the
    pool's mixture toward it without training a classifier.

    Cross-engine exactness: the per-BUCKET log-ratio is computed once
    (<= n_buckets rows) from exactly-representable integer counts — the
    two divisions and the multiply are IEEE-pinned, only ln() carries a
    last-ulp libm caveat — then quantized to an e6-scaled BIGINT. The
    per-DOCUMENT weight is a pure int64 SUM of those quantized ratios,
    so it is independent of partitioning/accumulation order and the
    DuckDB twin matches hash-exact (same discipline as the e6 trick in
    source_mix and the tau=0.5 integer gate above).

    Plan shape (100 TB): the pool's tokenize+explode stream is produced
    TWICE — once for the distribution count, once for scoring — and
    recomputed by lineage rather than materialized, deliberately: the
    gram stream is strictly larger than the input text, so two cheap
    codegen'd scans beat persisting it (the span-dedup memory trade,
    functions/reuse.py notes). Both bucket-count aggregations collapse
    to <= n_buckets rows; the ratio table is broadcast back onto the
    gram stream; the final groupBy(doc_id) runs with map-side partial
    aggregation. No shuffle ever carries document text — only
    (doc_id, bucket) pairs. The reference has no selection surface
    (SURVEY §2.2); extension operator.

    Returns (doc_id, n_feats, weight_e6): gram-occurrence count and the
    e6-scaled integer log-weight (weight = weight_e6 / 1e6).
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    if smoothing < 1:
        raise ValueError(
            f"smoothing must be a positive integer pseudo-count, got {smoothing}"
        )
    a = int(smoothing)
    src = _dsir_gram_buckets(df, n_buckets, text_col, id_col, salt)
    tgt = _dsir_gram_buckets(target, n_buckets, text_col, id_col, salt)
    sc = src.groupBy("bucket").agg(F.count(F.lit(1)).alias("cs"))
    tc = tgt.groupBy("bucket").agg(F.count(F.lit(1)).alias("ct"))
    totals = sc.agg(
        F.coalesce(F.sum("cs"), F.lit(0)).alias("ns")
    ).crossJoin(
        F.broadcast(tc.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("nt")))
    )
    # p_t and p_s as divisions of exactly-representable integers: both
    # engines produce bit-identical doubles, so the only cross-engine
    # freedom is ln()'s last ulp — absorbed by the e6 quantization.
    p_t = (F.col("ct") + F.lit(a)).cast("double") / (
        F.col("nt") + F.lit(a * n_buckets)
    ).cast("double")
    p_s = (F.col("cs") + F.lit(a)).cast("double") / (
        F.col("ns") + F.lit(a * n_buckets)
    ).cast("double")
    ratio = (
        sc.join(tc, "bucket", "left")
        .na.fill({"ct": 0})
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.round(F.log(p_t / p_s) * F.lit(1000000.0), 0)
            .cast("long")
            .alias("lr_e6"),
        )
    )
    return (
        src.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum("lr_e6").alias("weight_e6"),
        )
    )


def dsir_select(
    df: DataFrame,
    target: DataFrame,
    n: int = 100,
    n_buckets: int = 4096,
    smoothing: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "dsir:",
) -> DataFrame:
    """The selection half of DSIR: the ``n`` pool documents whose hashed
    n-gram bags score highest against the target distribution.

    Deterministic top-n (weight desc, doc_id asc — id breaks weight
    ties), not Gumbel-perturbed sampling: reruns and engines agree
    bit-for-bit, which is the repo-wide sampler contract. The global
    order-by-limit compiles to TakeOrderedAndProject — every task keeps
    a local n-row heap and the driver merges heaps, no full sort, no
    single-partition shuffle — and the rank window then runs over the
    <= n surviving rows only.

    Returns (doc_id, n_feats, weight_e6, rank), rank 1 = best match.
    """
    w = dsir_importance_weights(
        df, target, n_buckets, smoothing, text_col, id_col, salt
    )
    top = w.orderBy(F.col("weight_e6").desc(), F.col("doc_id").asc()).limit(n)
    rank_w = Window.orderBy(F.col("weight_e6").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(rank_w).cast("long"))


def token_budget_sample(
    df: DataFrame,
    budget_tokens: int = 100_000,
    group_col: str = "source",
    text_col: str = "text",
    key_col: str = "doc_id",
    salt: str = "tokbudget:",
) -> DataFrame:
    """Keep a deterministic per-group prefix whose cumulative TOKEN count
    fits ``budget_tokens`` — the training-mixture dial in the unit that
    actually matters. Source quotas in rows (quota_cap_sample) misstate
    the mix when document lengths differ by source; an LLM data recipe
    is specified in tokens ("300B tokens: 60% web, 20% code, ..."), so
    the sampler must cut on cumulative tokens.

    Selection: rows order within their group by (md5-hash(salt || key),
    key) — the same hash lottery as every sampler here, so the kept set
    is a uniform without-replacement draw, identical under any
    partitioning, input order, or engine — and a row survives iff the
    running token total INCLUDING it is <= the budget. (A group whose
    first drawn doc alone exceeds the budget keeps nothing — the strict
    contract; loosen by raising the budget, not by special-casing.)

    Exactness: token counts and the running sum are pure int64; the
    ordering key is unique (hash ties broken by key), so the window's
    default RANGE frame equals a ROWS frame and both engines agree
    bit-for-bit. Plan: one shuffle on group_col for the window sort —
    no joins, no second pass; a skewed group sorts within its own
    partitions spill-aware. Returns the surviving rows with n_tokens
    and cum_tokens (both BIGINT) appended.
    """
    from hive_io_experimental_spark.functions.textfns import word_tokens

    if budget_tokens < 1:
        raise ValueError(
            f"budget_tokens must be a positive token count, got {budget_tokens}"
        )
    # the appended columns are part of the CONTRACT (unlike the _tbs_h
    # helper, which is collision-proofed away) — withColumn would
    # silently REPLACE a caller column of the same name, so refuse loudly
    taken = {"n_tokens", "cum_tokens"} & set(df.columns)
    if taken:
        raise ValueError(
            f"token_budget_sample appends output columns {sorted(taken)} "
            "which already exist on the input — rename or drop them first"
        )
    hc = "_tbs_h"
    while hc in df.columns:
        hc = hc + "_"
    w = Window.partitionBy(group_col).orderBy(F.col(hc), F.col(key_col))
    return (
        df.withColumn(
            "n_tokens", F.size(word_tokens(F.col(text_col))).cast("long")
        )
        .withColumn(
            hc,
            portable_hash64(
                F.concat(F.lit(salt), F.col(key_col).cast("string"))
            ),
        )
        .withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("long"))
        .filter(F.col("cum_tokens") <= budget_tokens)
        .drop(hc)
    )


def cluster_balanced_sample(
    df: DataFrame,
    centroid_stride: int | None = None,
    min_per_cluster: int = 1,
    max_per_cluster: int | None = None,
    salt: str = "cbal:",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Cluster-balanced selection: keep ~sqrt(n_c) rows from each semantic
    cluster — the curation move that stops dense near-duplicate regions
    from dominating a training mix (the cluster-proportional reweighting
    used by SemDeDup-style pipelines and DataComp baselines: dedup removes
    copies, this rebalances what remains).

    Pipeline (every stage deterministic and SQL-expressible, so the gate
    twin is an exact hash oracle):

      1. coarse clusters: the deterministic stride quantizer semantic_dedup
         and ivf_topk use (centroids = vectors with id % stride == 0;
         ``centroid_stride=None`` auto-balances at sqrt(2n) via
         resolve_semantic_stride — assignment stays the dominant, linear
         term). Assignment is Arrow/BLAS map-side against the broadcast
         centroid matrix (zero corpus-side exchange); the DuckDB twin's
         window assignment is the reference.
      2. per-cluster quota = clamp(ceil(sqrt(n_c)), min_per_cluster,
         max_per_cluster) — sqrt is IEEE-correctly-rounded in both engines,
         so the integer quota is engine-identical (pow is NOT guaranteed
         correctly rounded, which is why the rule is sqrt, not n^alpha).
      3. within each cluster keep the ``quota`` rows with the lowest
         portable md5 lottery hash (ties by id) — the same hash-gate
         discipline as every sampler here: reruns and other engines pick
         the identical rows, and adding clusters never reshuffles picks
         inside untouched ones.

    Plan shape: one narrow groupBy(cid) for counts (broadcast back — the
    cluster table is ~n/stride rows), one window sort partitioned by cid
    for the lottery rank. No joins carry vectors past assignment.

    Returns one row per KEPT vector: (id_col, cid, n_cluster, quota).
    """
    from hive_io_experimental_spark.functions.vectors import l2_norm
    from hive_io_experimental_spark.operators.dedup import (
        resolve_semantic_stride,
    )
    from hive_io_experimental_spark.operators.similarity import (
        _as_double,
        _assign_pandas,
    )

    if min_per_cluster < 0:
        raise ValueError(
            f"min_per_cluster must be >= 0, got {min_per_cluster}"
        )
    if max_per_cluster is not None and max_per_cluster < min_per_cluster:
        raise ValueError(
            f"max_per_cluster ({max_per_cluster}) < min_per_cluster "
            f"({min_per_cluster})"
        )
    if centroid_stride is None:
        centroid_stride = resolve_semantic_stride(df.count())
    if centroid_stride < 1:
        raise ValueError(
            f"centroid_stride must be >= 1, got {centroid_stride}"
        )

    spark = df.sparkSession
    s = df.select(
        F.col(id_col).alias("_cb_id"), _as_double(vec_col).alias("_cb_v")
    ).withColumn("_cb_nrm", l2_norm(F.col("_cb_v")))
    cents = df.filter(F.col(id_col) % centroid_stride == 0).select(
        F.col(id_col).alias("cid"), _as_double(vec_col).alias("cv")
    )
    cent_rows = [r.asDict() for r in cents.collect()]
    if not cent_rows:
        return spark.createDataFrame(
            [], f"{id_col} long, cid long, n_cluster long, quota long"
        )
    assigned = _assign_pandas(
        s, "_cb_id", "_cb_v", "_cb_nrm", cent_rows, keep=1
    ).select("_cb_id", "cid")
    quota = F.ceil(F.sqrt(F.count(F.lit(1)))).cast("long")
    quota = F.greatest(quota, F.lit(min_per_cluster).cast("long"))
    if max_per_cluster is not None:
        quota = F.least(quota, F.lit(max_per_cluster).cast("long"))
    counts = assigned.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_cluster"),
        quota.alias("quota"),
    )
    lottery = portable_hash64(
        F.concat(F.lit(salt), F.col("_cb_id").cast("string"))
    )
    w = Window.partitionBy("cid").orderBy(F.col("_cb_h"), F.col("_cb_id"))
    return (
        assigned.withColumn("_cb_h", lottery)
        .join(F.broadcast(counts), "cid")
        .withColumn("_cb_rn", F.row_number().over(w))
        .filter(F.col("_cb_rn") <= F.col("quota"))
        .select(
            F.col("_cb_id").alias(id_col), "cid", "n_cluster", "quota"
        )
    )

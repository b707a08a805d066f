"""Deduplication operators for large-scale text/embedding corpora.

Five families, each a pure DataFrame -> DataFrame transform built from
JVM-side built-ins (whole-stage codegen; no Python in the hot path):

  exact_dedup            hash-groupBy on normalized text
  ngram_jaccard_pairs    shingle-join candidate pairs + exact Jaccard
  minhash_signatures/..  MinHash + banded LSH candidate generation
  simhash_*              64-bit-ish SimHash + hamming-distance pairs
  embedding_neardup      cosine-threshold pairs over embedding vectors

Scale notes (the 100 TB design point):
  * Everything is groupBy/join on keys — shuffles are on (shingle), (band
    key), (doc pair): all high-cardinality, well-distributed keys. Hot
    shingles (stopword-only shingles) are the classic skew source; shingles
    are distinct-ed per doc before the join and ultra-frequent shingles can
    be dropped via ``max_shingle_freq`` (standard df-cut used by web-scale
    dedup pipelines).
  * MinHash/LSH replaces the quadratic all-pairs join with O(docs x bands)
    — the only all-pairs product is within a band bucket.
  * Hashes default to md5 (portable across engines → DuckDB-oracle
    checkable, see functions/hashing.py). At raw 100 TB scale pass
    ``hash_family='xxhash64'`` (or set the ``hiveio.hash.family`` conf) —
    same operator shape, ~2x faster, not cross-engine portable.

The reference has no dedup (it is an I/O library — SURVEY §2.2); these
implement the training-data-pipeline extensions the engine adds on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hive_io_experimental_spark.functions.hashing import (
    content_hash64,
    md5_minhash_token,
    minhash_token,
    portable_hash64,
    resolve_family,
)
from hive_io_experimental_spark.functions.partitioning import spread
from hive_io_experimental_spark.functions.reuse import reuse
from hive_io_experimental_spark.functions.textfns import (
    normalize_text,
    word_shingles,
    word_shingles_from_tokens,
    word_tokens,
)


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    hash_family: str | None = None,
) -> DataFrame:
    """Keep the min-id representative per exact (normalized) text.

    One shuffle on the text hash; map-side partial aggregation applies.
    Returns (kept_id, dup_count) per distinct text — dup_count > 1 marks
    groups that had duplicates.

    Both families key on >= 128 hash bits: md5 uses the full digest, and
    xxhash64 concatenates two independent seeds. A single 64-bit key would
    silently merge distinct documents at the stated multi-billion-doc scale
    (birthday bound: ~50% chance of one collision near 5B docs).
    """
    from hive_io_experimental_spark.functions.hashing import fast_hash64

    family = resolve_family(df, hash_family)
    norm = normalize_text(F.col(text_col))
    if family == "md5":
        key = F.md5(norm).alias("text_hash")
    else:
        key = F.concat(
            F.lpad(F.hex(fast_hash64(norm, seed=42)), 16, "0"),
            F.lpad(F.hex(fast_hash64(norm, seed=1337)), 16, "0"),
        ).alias("text_hash")
    return (
        df.select(key, F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("kept_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def dedup_against_corpus(
    incoming: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str | None = None,
) -> DataFrame:
    """Incremental exact dedup: the shape a LIVE ingestion pipeline runs.

    A 100 TB corpus is never re-deduped whole; each new batch is checked
    against the fingerprints of what is already stored. Two steps, both
    bounded by the BATCH size on the probe side:

      1. batch-internal: keep the min-id representative per normalized
         text within ``incoming`` (one shuffle on the fingerprint);
      2. corpus-exclusion: anti-join the survivors against the corpus's
         DISTINCT fingerprint set on the same 128-bit key.

    At scale the corpus side is a stored fingerprint table (exact_dedup's
    output persisted per batch — no full-corpus rescan); here it is
    derived inline so the operator is self-contained. The anti-join
    shuffles only fingerprints (32-hex strings), never document text.
    Returns surviving (id, fp) rows of ``incoming``.

    Reference analog: none (the reference has no dedup at all, SURVEY
    §2.2); this is the training-data extension surface.
    """
    family = resolve_family(incoming, hash_family)
    batch_reps = (
        _content_fps(incoming, text_col, id_col, family)
        .groupBy("fp")
        .agg(F.min("id").alias("id"))
    )
    seen = _content_fps(corpus, text_col, id_col, family).select("fp").distinct()
    return (
        batch_reps.join(seen, "fp", "left_anti")
        .select("id", "fp")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------

def shingle_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id, shingle) exploded distinct k-word shingles per document.

    ``spread`` first: tokenization is the dominant per-row cost and single-file
    inputs arrive as one partition (see functions/partitioning.py).
    """
    return (
        spread(df).select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(word_shingles(F.col(text_col), k))).alias(
                "shingle"
            ),
        )
    )


# Document-frequency cut applied to the shingle self-join by default: a
# shingle shared by D documents emits D^2/2 pair rows, so one stop-phrase
# shingle ("of the and", boilerplate headers) turns the join quadratic at
# corpus scale while carrying near-zero similarity signal. 1000 docs is far
# above any discriminative shingle's frequency and far below stop-phrase
# frequency at 100 TB. Pass max_shingle_freq=None to ngram_jaccard_pairs for
# the exact unbounded semantics.
DEFAULT_MAX_SHINGLE_FREQ = 1000

# sentinel: "not passed" — resolves to the hiveio.dedup.max_shingle_freq
# session conf (default 1000); None stays the explicit exact/unbounded opt-out
_FROM_CONF = object()


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = _FROM_CONF,  # type: ignore[assignment]
) -> DataFrame:
    """All pairs with shingle-set Jaccard >= threshold.

    Plan shape: explode shingles -> df-cut -> self-equi-join on shingle ->
    count intersections per pair -> join sizes -> filter. The self-join is
    the scale hazard; ``max_shingle_freq`` (default-ON, see
    DEFAULT_MAX_SHINGLE_FREQ) drops shingles that appear in more than N docs
    BEFORE both the size and intersection computations, so jaccard is
    computed over the reduced shingle space — the standard df-cut semantics.
    ``None`` opts out (exact, unbounded). Returns (a_id, b_id, jaccard)
    with a_id < b_id.
    """
    if max_shingle_freq is _FROM_CONF:
        from hive_io_experimental_spark import conf as _conf

        freq = _conf.SHINGLE_MAX_FREQ.get(df.sparkSession)
        max_shingle_freq = freq if freq > 0 else None
    sh = shingle_sets(df, text_col, id_col, k)
    if max_shingle_freq is not None:
        freq_ok = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_shingle_freq)
            .select("shingle")
        )
        sh = sh.join(freq_ok, "shingle")
    # sh feeds three plan branches (sizes + both self-join sides). The
    # self-join sides are identical subplans (ReuseExchange shares one
    # shuffle), but the sizes groupBy shuffles on a different key, so it
    # would re-run the whole shingling map pass — measured 1.5-3x on the
    # family (BENCH_r06). reuse() localCheckpoints the shingle table so it
    # materializes once; blocks are ContextCleaner-freed when the caller
    # drops the result (functions/reuse.py; hiveio.reuse.strategy).
    sh = reuse(sh)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("a_id") == F.col("sa.id"))
        .join(sb, F.col("b_id") == F.col("sb.id"))
        .select(
            "a_id",
            "b_id",
            F.round(
                F.col("inter")
                / (F.col("sa.n") + F.col("sb.n") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    k: int = 3,
    hash_family: str | None = None,
) -> DataFrame:
    """(id, sig_0..sig_{P-1}) MinHash signature per document.

    Signature component i = min over shingles of md5('<i>:'+shingle) — the
    lexicographic min over a uniform hash family is a valid MinHash
    permutation (see functions/hashing.py). Computed as P aggregates in ONE
    groupBy: a single shuffle regardless of P, with map-side partial mins.
    """
    family = resolve_family(df, hash_family)
    sh = shingle_sets(df, text_col, id_col, k)
    aggs = [
        F.min(minhash_token(F.col("shingle"), i, family)).alias(f"sig_{i}")
        for i in range(num_perm)
    ]
    return sh.groupBy("id").agg(*aggs)


def minhash_band_keys(
    signatures: DataFrame, num_perm: int = 16, bands: int = 4
) -> DataFrame:
    """(id, band, band_key): hash each band's slice of the signature.

    Standard banding: P/bands rows per band; docs agreeing on ALL rows of a
    band share the band key. Output is exploded (one row per doc x band) so
    the candidate join is a plain equi-join on (band, band_key).
    """
    rows = num_perm // bands
    band_cols = []
    for b in range(bands):
        slice_cols = [F.col(f"sig_{b * rows + r}") for r in range(rows)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", *slice_cols)).alias("band_key"),
            )
        )
    return signatures.select(
        "id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    k: int = 3,
    hash_family: str | None = None,
    max_bucket_size: int | None = _FROM_CONF,  # type: ignore[assignment]
) -> DataFrame:
    """Distinct candidate pairs (a_id < b_id) sharing >= 1 LSH band.

    Two shuffles total (signature groupBy + band-key join). At 100 TB the
    band-key join is the skew point — identical boilerplate docs all land
    in one bucket, and a bucket of B docs emits B^2/2 pairs. AQE skew-join
    splitting handles moderate cases; the pathological case (a template
    bucket holding a double-digit share of the corpus) is bounded by
    ``max_bucket_size`` (default from the hiveio.dedup.max_lsh_bucket
    conf): oversized buckets are dropped BEFORE the self-join, exactly the
    shingle df-cut semantics — candidate volume per bucket is capped at
    max_bucket_size^2/2, and the dropped bucket's members remain pairable
    through their other bands. Pass ``max_bucket_size=None`` for unbounded
    semantics. The cap's bucket-size aggregation shuffles on the same
    (band, band_key) key as the join, so ReuseExchange serves it from the
    join's shuffle output — the bound is close to free.
    """
    if max_bucket_size is _FROM_CONF:
        from hive_io_experimental_spark import conf as _conf

        cap = _conf.LSH_MAX_BUCKET.get(df.sparkSession)
        max_bucket_size = cap if cap > 0 else None
    sigs = minhash_signatures(df, text_col, id_col, num_perm, k, hash_family)
    # band keys feed the bucket-cap aggregation plus both self-join sides;
    # the cap's groupBy keys match the join but its post-join subplans
    # diverge, so the signature groupBy re-ran per branch after the r5
    # persist removal (2.93x, BENCH_r06). reuse() materializes the band
    # keys once, operator-scoped (functions/reuse.py).
    bk = reuse(minhash_band_keys(sigs, num_perm, bands))
    if max_bucket_size is not None:
        ok = (
            bk.groupBy("band", "band_key")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_bucket_size)
            .select("band", "band_key")
        )
        bk = bk.join(ok, ["band", "band_key"])
    a = bk.alias("a")
    b = bk.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .distinct()
    )


def lsh_bucket_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    k: int = 3,
    hash_family: str | None = None,
    max_bucket_size: int | None = _FROM_CONF,  # type: ignore[assignment]
) -> DataFrame:
    """Audit twin of minhash_lsh_candidates' hot-bucket cap.

    The cap silently changes recall (dropped buckets emit no candidate
    pairs; members stay pairable only through their other bands), so this
    reports exactly what the cap would drop at the SAME parameters — run
    it before/alongside a capped candidate pass to make the drop visible
    instead of probabilistic folklore. One row, all integers:

      n_buckets            distinct (band, band_key) buckets
      max_bucket           largest bucket's member count
      n_dropped_buckets    buckets over ``max_bucket_size`` (0 if uncapped)
      dropped_member_rows  (doc x band) rows inside dropped buckets

    Cost: the signature groupBy plus one bucket-count shuffle — the same
    aggregation the cap itself runs, no candidate join.
    """
    if max_bucket_size is _FROM_CONF:
        from hive_io_experimental_spark import conf as _conf

        cap = _conf.LSH_MAX_BUCKET.get(df.sparkSession)
        max_bucket_size = cap if cap > 0 else None
    sigs = minhash_signatures(df, text_col, id_col, num_perm, k, hash_family)
    sizes = (
        minhash_band_keys(sigs, num_perm, bands)
        .groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    if max_bucket_size is None:
        over = F.lit(False)
    else:
        over = F.col("n") > max_bucket_size
    return sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("n").cast("long").alias("max_bucket"),
        F.sum(F.when(over, 1).otherwise(0)).cast("long").alias(
            "n_dropped_buckets"
        ),
        F.sum(F.when(over, F.col("n")).otherwise(0)).cast("long").alias(
            "dropped_member_rows"
        ),
    )


def duplicate_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    k: int = 3,
    max_iter: int = 20,
    hash_family: str | None = None,
) -> DataFrame:
    """Assign every document to a duplicate cluster: connected components
    over the MinHash-LSH candidate graph, cluster id = min doc id reachable.

    The stage real dedup pipelines run after candidate generation — pairs
    alone can't answer "keep one per group" when duplicates chain
    (A~B, B~C but not A~C). Iterative min-label propagation: each round
    every node takes the min label among itself and its neighbors; converges
    in O(graph diameter) rounds (duplicate clusters are shallow — a handful
    of rounds in practice; ``max_iter`` bounds adversarial chains).

    Scale shape: per round one equi-join (edges x labels) + one groupBy —
    all key-partitioned shuffles, no driver materialization; lineage is
    truncated each round (localCheckpoint) so plans don't grow with
    iteration count. For deep chains swap in label_components_star
    (O(log^2 n) rounds, equivalence-tested) — same (pairs, ids)
    contract.

    Oracle-checked despite being iterative: DuckDB computes the same
    labels as a recursive-CTE reachability closure (min reachable id per
    component == this propagation's fixpoint); chained-duplicate unit
    tests pin the semantics besides. Returns (doc_id, cluster_id).
    """
    pairs = minhash_lsh_candidates(
        df, text_col, id_col, num_perm, bands, k, hash_family
    )
    return label_components(
        pairs, df.select(F.col(id_col).alias("id")), max_iter
    ).withColumnsRenamed({"id": "doc_id", "label": "cluster_id"})


def label_components(
    pairs: DataFrame, ids: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Connected components by min-label propagation (the shared engine
    behind duplicate_clusters and embedding_dup_clusters).

    ``pairs``: (a_id, b_id) undirected edges; ``ids``: single-column
    ``id`` frame naming every node (isolated nodes label themselves).
    Per round: one edges-x-labels equi-join + one groupBy — key-partitioned
    shuffles only, lineage truncated per round (localCheckpoint). Returns
    (id, label) with label = min id reachable.
    """
    edges = pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    edges = (
        edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .persist()
    )
    labels = ids.withColumn("label", F.col("id"))
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = (
            labels.join(nbr, labels["id"] == nbr["src"], "left")
            .select(
                labels["id"],
                labels["label"],
                F.least(
                    labels["label"],
                    F.coalesce(F.col("nbr_label"), labels["label"]),
                ).alias("new_label"),
            )
            .localCheckpoint()  # materialize + truncate lineage
        )
        changed = stepped.filter(F.col("new_label") != F.col("label")).count()
        labels = stepped.select("id", F.col("new_label").alias("label"))
        if changed == 0:
            break
    edges.unpersist()
    return labels


def embedding_dup_clusters(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.97,
    max_iter: int = 20,
) -> DataFrame:
    """Semantic duplicate clusters: connected components over the
    embedding-cosine near-dup graph (embedding_neardup pairs). The
    embedding-space twin of duplicate_clusters — text near-dups catch
    copies, embedding clusters catch paraphrases/translations. Returns
    (vec_id, cluster_id), cluster id = min vec id reachable.
    """
    pairs = embedding_neardup(df, vec_col, id_col, threshold).select(
        "a_id", "b_id"
    )
    return label_components(
        pairs, df.select(F.col(id_col).alias("id")), max_iter
    ).withColumnsRenamed({"id": "vec_id", "label": "cluster_id"})


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 60,
    hash_family: str | None = None,
) -> DataFrame:
    """(id, simhash) — 60-bit SimHash over word tokens.

    Plan shape: explode tokens -> hash once per token -> ONE groupBy(id) with
    ``bits`` literal-shift bit-count sums (+ token count). A single shuffle
    whose map side partially aggregates, so shuffle volume is docs x 61 longs
    regardless of corpus size. (A previous array-lambda formulation scanned
    the token array once per bit — 60x the work, and outside codegen.)

    bit j of the simhash is the majority vote of token-hash bit j over all
    token INSTANCES (duplicates count). 60 bits (not 64) keeps the value
    positive in both Spark's and DuckDB's signed longs; hash is the portable
    md5 prefix so the oracle matches bit-for-bit.
    """
    family = resolve_family(df, hash_family)
    tok = spread(df).select(
        F.col(id_col).alias("id"),
        # explode_outer keeps zero-token docs (simhash = 0, like the oracle)
        F.explode_outer(word_tokens(F.col(text_col))).alias("t"),
    ).select("id", content_hash64(F.col("t"), family).alias("h"))
    aggs = [
        F.sum(
            F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1).cast("long"))
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    votes = tok.groupBy("id").agg(F.count(F.col("h")).alias("n"), *aggs)
    sim = None
    for j in range(bits):
        bit = (
            F.when(F.col(f"v{j}") * 2 > F.col("n"), F.lit(1 << j).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
        sim = bit if sim is None else sim + bit
    return votes.select("id", sim.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 60,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.

    Candidate generation via bit-banding (pigeonhole: pairs within hamming
    d < bands must agree on >= 1 of the ``bands`` bit-chunks), then exact
    hamming via bit_count(xor). Avoids the all-pairs product entirely —
    the joins are equi-joins on 15-bit chunk values.
    """
    sims = simhash(df, text_col, id_col, bits)
    chunk_bits = bits // bands
    mask = (1 << chunk_bits) - 1
    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright(F.col("simhash"), c * chunk_bits)
                .bitwiseAND(F.lit(mask).cast("long"))
                .alias("val"),
            )
            for c in range(bands)
        ]
    )
    # both self-join sides read the chunks; reuse() materializes the
    # simhash+chunk frame once so the token-vote aggregation behind it
    # does not re-run per branch (functions/reuse.py, r6 regression fix).
    exploded = reuse(sims.select(
        "id", "simhash", F.explode(chunks).alias("ck")
    ).select(
        "id", "simhash", F.col("ck.chunk").alias("chunk"), F.col("ck.val").alias("val")
    ))
    a = exploded.alias("a")
    b = exploded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    # long, matching the DuckDB oracle's BIGINT cast exactly
    hamming = F.bit_count(
        F.col("sim_a").bitwiseXOR(F.col("sim_b"))
    ).cast("long").alias("hamming")
    return pairs.select("a_id", "b_id", hamming).filter(
        F.col("hamming") <= max_hamming
    )


# ---------------------------------------------------------------------------
# embedding near-dup
# ---------------------------------------------------------------------------

def embedding_neardup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.97,
    block_rows: int | None = None,
    max_blocks: int | None = None,
) -> DataFrame:
    """Exact pairs of vectors with cosine similarity >= threshold.

    ``block_rows`` / ``max_blocks`` default from the session conf
    (hiveio.dedup.block_rows / hiveio.dedup.max_blocks) so a deployment
    tunes the blocking without touching call sites.

    Blocked all-pairs — the distributed-exact shape:

      1. each vector is hashed into one of B blocks
         (B = ceil(n / block_rows), floored so B·(B+1)/2 covers the
         cluster's parallelism);
      2. each row is replicated to the B block-pairs its block belongs to
         (one ``explode`` of a B-element array — shuffle volume n·B rows,
         no cartesian row explosion);
      3. one ``applyInPandas`` task per block-pair multiplies the two
         blocks with BLAS and keeps pairs whose approximate cosine clears
         ``threshold - 1e-6`` (margin ~9 orders of magnitude wider than
         float64 summation-order noise, so no true pair can be missed);
      4. the few survivors are rescored in-task with a sequential
         left-to-right IEEE-double fold (bit-identical to DuckDB's
         list_dot_product and Spark's aggregate() fold), rounded JVM-side
         (Spark ROUND == HALF_UP == DuckDB's), and filtered at the real
         threshold.

    Exactness: every unordered vector pair shares exactly one block-pair
    group, so recall is 1.0 *by construction*. An LSH prefilter cannot give
    that guarantee — at threshold t a random-hyperplane bucket collision
    has probability (1 - arccos(t)/pi)^P per pair (~3% at t=0.45, P=8) —
    so LSH stays the *approximate* corpus-scale prefilter
    (similarity.hyperplane_lsh_buckets), not the exact operator.

    Scale: compute is inherently O(n²·d) — that is the operator's contract,
    same as the oracle — but fully distributed: per-task memory is two
    blocks (~block_rows·d·8 bytes each), there is no driver
    materialization, no closure-shipped corpus matrix, and candidate pairs
    only materialize as rows *after* the in-task threshold filter.
    Raising ``block_rows`` trades shuffle volume (n·B rows) against task
    count (B·(B+1)/2) and per-task memory. ``max_blocks`` is the ENFORCED
    contract bound: past it the n² compute (and the n·B shuffle) stops
    being a sane plan no matter how it is distributed — prefilter with
    similarity.hyperplane_lsh_buckets and run this operator within buckets
    instead of raising the cap.
    """
    import math

    from hive_io_experimental_spark import conf as _conf

    if block_rows is None:
        block_rows = _conf.DEDUP_BLOCK_ROWS.get(df.sparkSession)
    if max_blocks is None:
        max_blocks = _conf.DEDUP_MAX_BLOCKS.get(df.sparkSession)

    n = df.count()  # one probe job (metadata-cheap only on a raw scan)
    if n == 0:
        return df.sparkSession.createDataFrame(
            [], "a_id long, b_id long, cosine double"
        )
    sc = df.sparkSession.sparkContext
    # enough block-pairs to fill the cluster, but never more blocks than rows
    min_blocks = math.ceil((math.sqrt(8 * sc.defaultParallelism + 1) - 1) / 2)
    num_blocks = max(math.ceil(n / block_rows), min_blocks)
    num_blocks = min(num_blocks, n)
    if num_blocks > max_blocks:
        raise ValueError(
            f"embedding_neardup is exact all-pairs: {n} rows need "
            f"{num_blocks} blocks (> max_blocks={max_blocks}), i.e. "
            f"~{num_blocks * (num_blocks + 1) // 2} block-pair tasks. "
            f"LSH-bucket first (similarity.hyperplane_lsh_buckets) and run "
            f"within buckets, or raise block_rows/max_blocks explicitly."
        )
    margin = threshold - 1e-6

    import numpy as np
    import pandas as pd

    def _seq_dot(x, y) -> float:
        # left-to-right IEEE-double fold: bit-identical to DuckDB's
        # list_dot_product and Spark's aggregate() fold.
        s = 0.0
        for xi, yi in zip(x, y):
            s += float(xi) * float(yi)
        return s

    def _side(pdf):
        ids = pdf["id"].to_numpy(dtype=np.int64)
        mat = np.array(list(pdf["v"]), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        unit = np.divide(mat, norms, out=np.zeros_like(mat), where=norms != 0)
        return ids, mat, unit

    _EMPTY = pd.DataFrame({
        "a_id": pd.Series(dtype="int64"),
        "b_id": pd.Series(dtype="int64"),
        "cosine": pd.Series(dtype="float64"),
    })

    def block_pair(key, pdf):
        bi, bj = int(key[0]), int(key[1])
        left = pdf[pdf["blk"] == bi]
        if len(left) == 0:
            return _EMPTY
        a_ids, a_mat, a_unit = _side(left)
        if bi == bj:
            b_ids, b_mat, b_unit = a_ids, a_mat, a_unit
        else:
            right = pdf[pdf["blk"] == bj]
            if len(right) == 0:
                return _EMPTY
            b_ids, b_mat, b_unit = _side(right)
        sims = a_unit @ b_unit.T  # |block_i| x |block_j|  (BLAS)
        mask = sims >= margin
        if bi == bj:
            mask &= a_ids[:, None] < b_ids[None, :]
        ai, bidx = np.nonzero(mask)
        if not len(ai):
            return _EMPTY
        rows = []
        for r, c in zip(ai, bidx):
            lo_id, hi_id = a_ids[r], b_ids[c]
            lo_v, hi_v = a_mat[r], b_mat[c]
            if hi_id < lo_id:
                lo_id, hi_id, lo_v, hi_v = hi_id, lo_id, hi_v, lo_v
            cos = _seq_dot(lo_v, hi_v) / (
                np.sqrt(_seq_dot(lo_v, lo_v)) * np.sqrt(_seq_dot(hi_v, hi_v))
            )
            rows.append((int(lo_id), int(hi_id), cos))
        return pd.DataFrame(rows, columns=["a_id", "b_id", "cosine"])

    v = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    ).withColumn("blk", F.pmod(F.xxhash64(F.col("id")), F.lit(num_blocks)))
    # replicate each row to every block-pair containing its block:
    # block b participates in pairs (min(b,o), max(b,o)) for o in [0, B)
    replicated = v.select(
        "id", "v", "blk",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(num_blocks - 1)),
                lambda o: F.struct(
                    F.least(F.col("blk"), o).alias("bi"),
                    F.greatest(F.col("blk"), o).alias("bj"),
                ),
            )
        ).alias("bp"),
    ).select("id", "v", "blk", F.col("bp.bi").alias("bi"), F.col("bp.bj").alias("bj"))
    return (
        replicated.groupBy("bi", "bj")
        .applyInPandas(block_pair, "a_id long, b_id long, cosine double")
        # round JVM-side: Spark ROUND is HALF_UP like DuckDB's (Python's
        # round() is banker's — would diverge on exact .5 boundaries).
        .select("a_id", "b_id", F.round("cosine", 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def lsh_quality_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    num_perm: int = 16,
    bands: int = 4,
    hash_family: str | None = None,
) -> DataFrame:
    """One-row precision/recall audit of the MinHash-LSH candidate set.

    LSH trades exactness for the banded equi-join; this report quantifies
    the trade on the corpus at hand: candidates (minhash_lsh_candidates)
    vs truth (ngram_jaccard_pairs >= threshold, default df-cut), joined
    full-outer so one aggregate yields candidate count, true-pair count,
    hits, candidate_precision and candidate_recall. Run it on a sample
    before committing band/permutation parameters for a 100 TB dedup pass
    — the plan is two bounded pair-sets and one join, nothing quadratic.

    Returns (n_candidates, n_true, n_hits, candidate_precision,
    candidate_recall); precision/recall NULL when the denominator is 0.
    """
    cand = minhash_lsh_candidates(
        df, text_col, id_col, num_perm, bands, k, hash_family
    ).select("a_id", "b_id", F.lit(1).alias("_c"))
    truth = ngram_jaccard_pairs(
        df, text_col, id_col, k, threshold
    ).select("a_id", "b_id", F.lit(1).alias("_t"))
    joined = cand.join(truth, ["a_id", "b_id"], "full_outer")
    hits = F.sum(
        F.when(F.col("_c").isNotNull() & F.col("_t").isNotNull(), 1)
        .otherwise(0)
    )
    return joined.agg(
        F.count("_c").alias("n_candidates"),
        F.count("_t").alias("n_true"),
        hits.alias("n_hits"),
        F.round(F.try_divide(hits, F.count("_c")), 6).alias(
            "candidate_precision"
        ),
        F.round(F.try_divide(hits, F.count("_t")), 6).alias(
            "candidate_recall"
        ),
    )


def dedup_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    k: int = 3,
    max_iter: int = 20,
    hash_family: str | None = None,
) -> DataFrame:
    """End-to-end near-dedup: keep one representative per duplicate cluster.

    The one-call pipeline a corpus build actually runs: MinHash-LSH
    candidates -> connected components (duplicate_clusters) -> keep the
    min-id member of each cluster. Exact duplicates collapse through the
    same path (identical texts share every band). Returns the surviving
    rows of ``df`` (all columns) — the deduplicated corpus, ready to feed
    curation/packing.

    Plan: the cluster labels are (doc_id, cluster_id) metadata; survivors
    are selected with one aggregate on cluster_id and a semi join back to
    the corpus — no row payloads move through the clustering itself.
    """
    clusters = duplicate_clusters(
        df, text_col, id_col, num_perm, bands, k, max_iter, hash_family
    )
    keep = (
        clusters.groupBy("cluster_id")
        .agg(F.min("doc_id").alias("keep_id"))
        .select(F.col("keep_id").alias(id_col))
    )
    return df.join(keep, id_col, "left_semi")


def label_components_star(
    pairs: DataFrame, ids: DataFrame, max_iter: int = 50
) -> DataFrame:
    """Connected components by alternating large-star / small-star.

    The documented upgrade path from label_components: min-label
    propagation converges in O(diameter) rounds, which hurts when
    duplicate chains run long; the alternating-star algorithm (Kiveris et
    al., "Connected Components in MapReduce and Beyond") contracts paths
    toward each component's minimum in O(log^2 n) rounds regardless of
    diameter.

      large-star: every node points its LARGER neighbors at the minimum
                  of its closed neighborhood;
      small-star: every node and its smaller neighbors re-attach to that
                  minimum.

    Both steps are one groupBy + one join over the edge list — the same
    shuffle shape as a propagation round, just fewer rounds. Same output
    contract as label_components: (id, label), label = component min.
    """
    sym = pairs.select(
        F.col("a_id").alias("u"), F.col("b_id").alias("v")
    ).union(
        pairs.select(F.col("b_id").alias("u"), F.col("a_id").alias("v"))
    ).filter(F.col("u") != F.col("v")).distinct()

    edges = sym.persist()
    for _ in range(max_iter):
        # large-star over the symmetric closure
        m_large = edges.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            edges.join(m_large, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # keep (u, m) self-attachment so isolated-after-large nodes survive
        large = large.union(
            m_large.select(F.col("u"), F.col("m").alias("v"))
        ).filter(F.col("u") != F.col("v")).distinct()

        sym2 = large.union(
            large.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()
        # small-star: neighbors <= u (plus u) re-attach to the minimum
        small_n = sym2.filter(F.col("v") < F.col("u"))
        m_small = small_n.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            small_n.join(m_small, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m_small.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        new_edges = small.union(
            small.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct().localCheckpoint()

        # converged when the canonical (undirected) edge set is stable —
        # both early-stopped diff legs probed in ONE job (r14
        # optimization round; was two limit(1).count() jobs per round)
        before = edges.filter(F.col("u") < F.col("v"))
        after = new_edges.filter(F.col("u") < F.col("v"))
        changed = (
            before.exceptAll(after).limit(1)
            .unionAll(after.exceptAll(before).limit(1))
            .count()
        )
        edges.unpersist()
        edges = new_edges.persist()
        if changed == 0:
            break

    roots = edges.filter(F.col("v") < F.col("u")).groupBy("u").agg(
        F.min("v").alias("label")
    ).select(F.col("u").alias("id"), "label")
    out = ids.join(roots, "id", "left").select(
        "id", F.coalesce(F.col("label"), F.col("id")).alias("label")
    )
    edges.unpersist()
    return out


# ---------------------------------------------------------------------------
# Exact substring (span) duplication — overlapping token windows
# ---------------------------------------------------------------------------
#
# Doc-level dedup (exact/minhash/simhash above) removes documents that are
# near-copies of each other, but leaves VERBATIM SPANS that recur inside
# otherwise-distinct documents: quoted passages, licenses, syndicated
# paragraphs. Public results on web corpora show such repeated substrings
# are a large fraction of training tokens and measurably hurt models
# ("Deduplicating Training Data Makes Language Models Better", Lee et al.
# 2022 — their suffix-array ExactSubstr pass). A distributed suffix array
# is a poor fit for Spark; the standard scale-out equivalent is the
# stride-1 sliding token-window fingerprint: every duplicated substring of
# length >= W contains at least one duplicated W-token window, so window
# granularity gives the same detection guarantee with plain groupBy/join
# shuffles. This differs from repeated_paragraphs (text.py) in exactly one
# way that matters: windows overlap (stride 1, not W), so a span repeated
# at ARBITRARY offsets in two documents is still caught.
#
# Scale shape: the occurrence table is O(total tokens) rows of
# (id, start, 32-char hash); the only shuffles are a groupBy on the
# high-cardinality span hash and a join back on the same key — both
# uniformly distributed by construction. The W-factor position explode
# happens ONLY on occurrences already known duplicated (post-join), so the
# worst case is bounded by W x duplicated-occurrences, not W x corpus.


def span_occurrences(
    df: DataFrame,
    window_tokens: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_text: bool = False,
) -> DataFrame:
    """(id, start, span_hash[, span_text]) for every stride-1 window.

    ``start`` is the 0-based token offset. Documents shorter than
    ``window_tokens`` emit nothing. ``keep_text=False`` (default) ships
    only the md5 through the shuffle — at 100 TB the window text is ~100
    bytes vs a 32-byte hash, and nothing downstream needs the text except
    human-facing samples. ``window_tokens=None`` resolves the
    ``hiveio.dedup.span_window_tokens`` session conf (default 16).
    """
    if window_tokens is None:
        from hive_io_experimental_spark import conf as _conf

        window_tokens = _conf.SPAN_WINDOW_TOKENS.get(df.sparkSession)
    spans = spread(df).select(
        F.col(id_col).alias("id"),
        F.posexplode(word_shingles(F.col(text_col), window_tokens)).alias(
            "start", "span_text"
        ),
    )
    cols = ["id", "start", F.md5("span_text").alias("span_hash")]
    if keep_text:
        cols.append(F.col("span_text"))
    return spans.select(*cols)


def duplicated_spans(
    df: DataFrame,
    window_tokens: int | None = None,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Window fingerprints recurring in >= ``min_docs`` distinct documents.

    Returns (span_hash, n_docs, n_occurrences, sample_span) ordered by
    n_docs desc, hash asc; ``sample_span`` is the lexicographically-min
    occurrence text (deterministic in any engine). Join back to
    span_occurrences on the hash to locate offsets.
    """
    occ = span_occurrences(
        df, window_tokens, text_col, id_col, keep_text=True
    )
    return (
        occ.groupBy("span_hash")
        .agg(
            F.countDistinct("id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("span_text").alias("sample_span"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def _resolve_window(df: DataFrame, window_tokens: int | None) -> int:
    if window_tokens is None:
        from hive_io_experimental_spark import conf as _conf

        window_tokens = _conf.SPAN_WINDOW_TOKENS.get(df.sparkSession)
    return window_tokens


def _span_base(
    df: DataFrame,
    window_tokens: int,
    text_col: str,
    id_col: str,
    extra_cols: tuple[tuple[str, str], ...] = (),
) -> tuple[DataFrame, DataFrame]:
    """Shared (token table, occurrence table) for the span operators.

    ``base`` is (id[, extras], toks) — ONE tokenization pass, reuse()'d so
    every downstream branch (occurrence windows, per-doc token counts, the
    token re-explode in strip) reads the materialized arrays instead of
    re-running the regex split per branch (the span ops previously
    tokenized 2-3x). ``occ`` is (id, start, span_hash), derived from base
    by LINEAGE, deliberately not checkpointed: the exploded window table
    is ~W/2 x larger than the token arrays (every stride-1 window as a
    row), so materializing it trades a cheap recompute (slice+concat+md5
    over stored arrays, no tokenize) for multi-GB executor blocks that
    linger until GC — measured as run-order-dependent noise at sf10.
    Only the compact token table is worth the residency.
    """
    cols = [F.col(id_col).alias("id")]
    cols += [F.col(src).alias(dst) for src, dst in extra_cols]
    cols.append(word_tokens(F.col(text_col)).alias("toks"))
    base = reuse(spread(df).select(*cols))
    occ = base.select(
        "id",
        F.posexplode(
            word_shingles_from_tokens(F.col("toks"), window_tokens)
        ).alias("start", "span_text"),
    ).select("id", "start", F.md5("span_text").alias("span_hash"))
    return base, occ


def _dup_positions_from_occ(
    occ: DataFrame, window_tokens: int, min_docs: int
) -> DataFrame:
    """(id, pos) distinct token positions covered by a duplicated window."""
    dup = (
        occ.groupBy("span_hash")
        .agg(F.countDistinct("id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("span_hash")
    )
    # join BEFORE the position explode: only duplicated occurrences pay
    # the W-factor fan-out
    return (
        occ.join(dup, "span_hash")
        .select(
            "id",
            F.explode(
                F.sequence(
                    F.col("start"),
                    F.col("start") + F.lit(window_tokens - 1),
                )
            ).alias("pos"),
        )
        .distinct()
    )


def _dup_positions(
    df: DataFrame,
    window_tokens: int | None,
    min_docs: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """(id, pos) covered positions, building its own occurrence table."""
    window_tokens = _resolve_window(df, window_tokens)
    _, occ = _span_base(df, window_tokens, text_col, id_col)
    return _dup_positions_from_occ(occ, window_tokens, min_docs)


def span_dedup_stats(
    df: DataFrame,
    window_tokens: int | None = None,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Per-group duplicated-span token accounting (all-integer output).

    For each ``group_col`` value: document count, documents containing at
    least one duplicated span, total tokens, and tokens covered by some
    duplicated W-window (the fraction ExactSubstr-style trimming would
    remove). Integer columns only, so cross-engine comparison is exact.
    """
    window_tokens = _resolve_window(df, window_tokens)
    base, occ = _span_base(
        df, window_tokens, text_col, id_col,
        extra_cols=((group_col, "grp"),),
    )
    cov = _dup_positions_from_occ(occ, window_tokens, min_docs)
    per_doc = cov.groupBy("id").agg(F.count(F.lit(1)).alias("dup_tokens"))
    # n_tokens from the SHARED token table — no second tokenization pass
    toks = base.select("id", "grp", F.size("toks").alias("n_tokens"))
    return (
        toks.join(per_doc, "id", "left")
        .select(
            "grp",
            "n_tokens",
            F.coalesce(F.col("dup_tokens"), F.lit(0)).alias("dup_tokens"),
        )
        .groupBy(F.col("grp").alias(group_col))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("dup_tokens") > 0).cast("long")).alias("dup_docs"),
            F.sum(F.col("n_tokens").cast("long")).alias("total_tokens"),
            F.sum(F.col("dup_tokens").cast("long")).alias("dup_tokens"),
        )
    )


def strip_duplicated_spans(
    df: DataFrame,
    window_tokens: int | None = None,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove every token covered by a cross-document duplicated window.

    The actionable half of span_dedup_stats: returns
    (doc_id, clean_text, n_tokens, n_removed) where ``clean_text`` is the
    surviving tokens rejoined in order (tokenizer-normalized — lowercase,
    punctuation-split — like every hash path in this module). Documents
    whose tokens are ALL duplicated come back with an empty clean_text
    rather than disappearing, so the caller can apply a min-length filter
    explicitly.
    """
    window_tokens = _resolve_window(df, window_tokens)
    tok_table, occ = _span_base(df, window_tokens, text_col, id_col)
    cov = _dup_positions_from_occ(occ, window_tokens, min_docs)
    # both the position explode and the n_tokens branch read the SHARED
    # token table (one tokenization pass for the whole operator)
    toks = tok_table.select(
        "id", F.posexplode("toks").alias("pos", "tok")
    )
    kept = toks.join(cov, ["id", "pos"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    base = tok_table.select("id", F.size("toks").alias("n_tokens"))
    return base.join(rebuilt, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
    )


# ---------------------------------------------------------------------------
# candidate -> verify: exact confirmation of LSH candidates
# ---------------------------------------------------------------------------

def verified_near_duplicates(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    k: int = 3,
    max_chars: int = 2000,
    hash_family: str | None = None,
) -> DataFrame:
    """LSH candidates confirmed by exact normalized edit similarity.

    The standard two-stage near-dup pipeline: a cheap recall-oriented
    candidate generator (banded MinHash LSH) followed by an exact,
    precision-oriented verifier that runs ONLY on candidate pairs —
    edit_sim = 1 - levenshtein(a, b) / max(len(a), len(b)) over the
    normalized text. Returns (a_id, b_id, edit_sim) with edit_sim >=
    ``threshold``, a_id < b_id.

    Scale shape: the verifier's cost is O(candidates x max_chars^2), NOT
    O(corpus^2) — ``max_chars`` truncates the comparison window so one
    pathological mega-doc pair cannot stall a task (at 100 TB the
    candidate set is the LSH output, already banded and bounded). The
    levenshtein is a JVM built-in; no Python in the loop. Both-empty
    texts count as identical (edit_sim 1.0).
    """
    cands = minhash_lsh_candidates(
        df, text_col, id_col, num_perm, bands, k, hash_family
    )
    texts = spread(df).select(
        F.col(id_col).alias("id"),
        F.substring(normalize_text(F.col(text_col)), 1, max_chars).alias(
            "norm"
        ),
    )
    ta = texts.alias("ta")
    tb = texts.alias("tb")
    joined = cands.join(ta, F.col("a_id") == F.col("ta.id")).join(
        tb, F.col("b_id") == F.col("tb.id")
    )
    denom = F.greatest(
        F.length(F.col("ta.norm")), F.length(F.col("tb.norm"))
    )
    sim = F.when(denom == 0, F.lit(1.0)).otherwise(
        F.lit(1.0)
        - F.levenshtein(F.col("ta.norm"), F.col("tb.norm")) / denom
    )
    return (
        joined.select(
            "a_id", "b_id", F.round(sim, 6).alias("edit_sim")
        )
        .filter(F.col("edit_sim") >= threshold)
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.9,
    max_shingle_freq: int | None = _FROM_CONF,  # type: ignore[assignment]
) -> DataFrame:
    """All pairs where the smaller document's shingle set is >=
    ``threshold`` contained in the other's: containment = |A∩B| /
    min(|A|, |B|).

    The asymmetric sibling of ngram_jaccard_pairs: a short document
    quoted whole inside a long one has low Jaccard (the union is large)
    but containment ~1 — the quote-inclusion / boilerplate-wrapper case
    symmetric dedup misses. Same plan shape and df-cut bound as the
    Jaccard operator (shingle explode -> df-cut -> self-equi-join ->
    per-pair counts); only the final ratio differs. Returns
    (a_id, b_id, containment) with a_id < b_id, rounded to 6.
    """
    if max_shingle_freq is _FROM_CONF:
        from hive_io_experimental_spark import conf as _conf

        freq = _conf.SHINGLE_MAX_FREQ.get(df.sparkSession)
        max_shingle_freq = freq if freq > 0 else None
    sh = shingle_sets(df, text_col, id_col, k)
    if max_shingle_freq is not None:
        freq_ok = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_shingle_freq)
            .select("shingle")
        )
        sh = sh.join(freq_ok, "shingle")
    # reuse() — same multi-branch rationale as ngram_jaccard_pairs above
    sh = reuse(sh)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    cont = F.round(
        F.col("inter") / F.least(F.col("sa.n"), F.col("sb.n")), 6
    )
    return (
        inter.join(sa, F.col("a_id") == F.col("sa.id"))
        .join(sb, F.col("b_id") == F.col("sb.id"))
        .select("a_id", "b_id", cont.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


# ---------------------------------------------------------------------------
# Bloom-filter corpus membership (incremental-ingestion pre-filter)
# ---------------------------------------------------------------------------
#
# The bitmap machinery itself lives in operators/incremental.py
# (bloom_state / merge_bloom_states / bloom_membership — the mergeable
# sketch tier, with geometry carried in the state and a bounded state
# broadcast). This section is the DEDUP integration: content
# fingerprints as keys, definite-new routing in front of the exact
# anti-join, and the sizing/accounting audit.


def _content_fps(
    df: DataFrame, text_col: str, id_col: str, family: str
) -> DataFrame:
    """(id, fp) content fingerprints — the dedup_against_corpus key.

    md5 keys on the full 128-bit digest (portable, oracle-checkable);
    xxhash64 concatenates two independent seeds (see exact_dedup's
    birthday-bound note).
    """
    from hive_io_experimental_spark.functions.hashing import fast_hash64

    norm = normalize_text(F.col(text_col))
    if family == "md5":
        key = F.md5(norm).alias("fp")
    else:
        key = F.concat(
            F.lpad(F.hex(fast_hash64(norm, seed=42)), 16, "0"),
            F.lpad(F.hex(fast_hash64(norm, seed=1337)), 16, "0"),
        ).alias("fp")
    return df.select(F.col(id_col).alias("id"), key)


def _validate_bloom_geometry(m_bits: int, k: int) -> None:
    if m_bits < 2:
        raise ValueError(f"m_bits must be >= 2, got {m_bits}")
    if k < 1:
        raise ValueError(f"k must be >= 1 hash function, got {k}")


def dedup_against_corpus_bloom(
    incoming: DataFrame,
    corpus: DataFrame,
    m_bits: int | None = None,
    k: int = 5,
    bits_per_key: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str | None = None,
) -> DataFrame:
    """dedup_against_corpus semantics with a Bloom pre-filter in front of
    the exact anti-join — EXACT output (bit-identical to the plain
    operator) at any false-positive rate, because the Bloom has no false
    negatives: a batch key the filter rejects is definitively new and
    skips the anti-join; only "maybe" keys (true dups + ~1% false
    positives at 10 bits/key) pay the corpus-side join.

    Why this matters at 100 TB: the stored corpus's fingerprint set is
    billions of 32-hex keys, and a plain anti-join shuffles the FULL
    batch against it every ingestion tick. With a PERSISTED bitmap
    (incremental.bloom_state output, <= m/32 rows ~ MBs — and mergeable
    across corpus shards/batches with merge_bloom_states), the
    batch-side scan + a bounded bitmap join classifies most of the
    batch as definitely-new without touching corpus data at all, and
    the anti-join's probe side shrinks to the maybe set. Inline (as
    here, for the self-contained gate) the corpus is still scanned once
    to build the bitmap — the win is real only when the bitmap is
    reused across batches, which is why the state builder stays a
    separate composable operator.

    m_bits=None auto-sizes from the corpus's distinct-key count (one
    count job on the reused frame): next power of two >= n * bits_per_key
    (10 bits/key + k=5 ~ 0.9% FP) — same auto-dial discipline as the LSH
    plane count (similarity.py). Position hashing is always the portable
    md5 family (incremental._bloom_pos) regardless of ``hash_family``,
    which selects only the CONTENT fingerprint; a Bloom probe is k cheap
    hashes over a 32-hex string either way.

    Returns surviving (id, fp) rows of ``incoming`` —
    dedup_against_corpus's exact contract.
    """
    from hive_io_experimental_spark.operators.incremental import (
        bloom_membership,
        bloom_state,
    )

    family = resolve_family(incoming, hash_family)
    batch_reps = (
        _content_fps(incoming, text_col, id_col, family)
        .groupBy("fp")
        .agg(F.min("id").alias("id"))
        .select("id", "fp")
    )
    # seen feeds three non-identical consumers (bitmap agg, anti-join,
    # optional sizing count) — the reuse() pattern (functions/reuse.py)
    seen = reuse(
        _content_fps(corpus, text_col, id_col, family).select("fp").distinct()
    )
    if m_bits is None:
        if bits_per_key < 1:
            raise ValueError(
                f"bits_per_key must be >= 1, got {bits_per_key}"
            )
        n = seen.count()
        m_bits = max(1024, 1 << max(1, (n * bits_per_key - 1).bit_length()))
    _validate_bloom_geometry(m_bits, k)
    state = bloom_state(seen, key_col="fp", m_bits=m_bits, k_hashes=k)
    member = bloom_membership(
        state, batch_reps, probe_col="fp", m_bits=m_bits, k_hashes=k
    ).select(F.col("key").alias("fp"), "maybe_member")
    # probed feeds both routing branches -> reuse()
    probed = reuse(batch_reps.join(member, "fp"))
    definite_new = probed.filter(F.col("maybe_member") == 0).select("id", "fp")
    maybe = probed.filter(F.col("maybe_member") == 1).select("id", "fp")
    survivors = maybe.join(seen, "fp", "left_anti").select("id", "fp")
    return definite_new.unionByName(survivors)


def bloom_prefilter_report(
    incoming: DataFrame,
    corpus: DataFrame,
    m_bits: int = 1 << 16,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str | None = None,
) -> DataFrame:
    """One-row audit of what a Bloom pre-filter buys for this batch:
    the pre-flight check before committing a corpus to a bitmap size.

    Columns (all BIGINT, hash-exact cross-engine): m_bits, k,
    n_corpus_keys (distinct corpus fps), n_words / n_bits_set (bitmap
    occupancy — load factor = n_bits_set / m_bits), n_batch (distinct
    batch fps), n_definite_new (skip the anti-join entirely),
    n_maybe (pay it), n_true_dup (actually in the corpus),
    n_false_pos (= n_maybe - n_true_dup; the measured FP count — the
    bits_per_key dial made observable instead of trusted). Same
    audit-op discipline as lsh_bucket_report / lsh_quality_report.

    Single action: every scalar is a 1-row aggregate cross-joined
    broadcast (no driver-side count() jobs — the ADVICE r7 lesson on
    quantization_quality_report).
    """
    from hive_io_experimental_spark.operators.incremental import (
        bloom_membership,
        bloom_state,
    )

    _validate_bloom_geometry(m_bits, k)
    family = resolve_family(incoming, hash_family)
    batch_reps = reuse(
        _content_fps(incoming, text_col, id_col, family)
        .select("fp")
        .distinct()
    )
    seen = reuse(
        _content_fps(corpus, text_col, id_col, family).select("fp").distinct()
    )
    state = reuse(bloom_state(seen, key_col="fp", m_bits=m_bits, k_hashes=k))
    member = bloom_membership(
        state, batch_reps, probe_col="fp", m_bits=m_bits, k_hashes=k
    )
    bstats = state.agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.coalesce(F.sum(F.bit_count("bits")), F.lit(0))
        .cast("long")
        .alias("n_bits_set"),
    )
    cstats = seen.agg(F.count(F.lit(1)).cast("long").alias("n_corpus_keys"))
    pstats = member.agg(
        F.count(F.lit(1)).cast("long").alias("n_batch"),
        F.coalesce(F.sum("maybe_member"), F.lit(0))
        .cast("long")
        .alias("n_maybe"),
    )
    tstats = (
        batch_reps.join(seen, "fp", "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_true_dup"))
    )
    return (
        cstats.crossJoin(F.broadcast(bstats))
        .crossJoin(F.broadcast(pstats))
        .crossJoin(F.broadcast(tstats))
        .select(
            F.lit(int(m_bits)).cast("long").alias("m_bits"),
            F.lit(int(k)).cast("long").alias("k"),
            "n_corpus_keys",
            "n_words",
            "n_bits_set",
            "n_batch",
            (F.col("n_batch") - F.col("n_maybe")).alias("n_definite_new"),
            "n_maybe",
            "n_true_dup",
            (F.col("n_maybe") - F.col("n_true_dup")).alias("n_false_pos"),
        )
    )


def minhash_lsh_against_corpus(
    incoming: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    k: int = 3,
    hash_family: str | None = None,
    max_bucket_size: int | None = _FROM_CONF,  # type: ignore[assignment]
    threshold: float | None = None,
) -> DataFrame:
    """Near-duplicate candidates of an incoming batch AGAINST a stored
    corpus — the fuzzy sibling of dedup_against_corpus, completing the
    live-ingestion pair: Bloom/anti-join catches exact re-crawls,
    this catches boilerplate rewrites and near-copies.

    Both sides are MinHash-banded with the SAME permutations and band
    hashing as minhash_lsh_candidates, but the candidate join is
    batch-bands x corpus-bands instead of a self-join: cost is bounded
    by the BATCH size, never corpus^2. At 100 TB the corpus band-key
    table (bands rows per stored doc, two small columns) is the
    persisted artifact — built once per corpus snapshot exactly like
    the Bloom bitmap, so an ingestion tick scans only the batch. Here
    it is derived inline for the self-contained gate.

    ``max_bucket_size`` caps CORPUS-side bucket sizes (a boilerplate
    template bucket holding millions of stored docs would multiply
    every matching batch doc by the bucket size): oversized corpus
    buckets are dropped before the join, the lsh_bucket_report
    semantics. ``threshold=None`` returns raw candidates
    (batch_id, corpus_id); with a threshold, candidates are VERIFIED by
    exact shingle Jaccard computed only on candidate docs — the corpus
    side is row-pruned by a semi-join on candidate ids BEFORE
    tokenization, so the expensive explode never runs over non-candidate
    corpus text. Returns (batch_id, corpus_id, jaccard) then.
    """
    if max_bucket_size is _FROM_CONF:
        from hive_io_experimental_spark import conf as _conf

        cap = _conf.LSH_MAX_BUCKET.get(incoming.sparkSession)
        max_bucket_size = cap if cap > 0 else None
    family = resolve_family(incoming, hash_family)
    inc_bk = minhash_band_keys(
        minhash_signatures(incoming, text_col, id_col, num_perm, k, family),
        num_perm,
        bands,
    ).select(
        F.col("id").alias("batch_id"), "band", "band_key"
    )
    cor_bk = minhash_band_keys(
        minhash_signatures(corpus, text_col, id_col, num_perm, k, family),
        num_perm,
        bands,
    ).select(
        F.col("id").alias("corpus_id"), "band", "band_key"
    )
    if max_bucket_size is not None:
        cor_bk = reuse(cor_bk)
        ok = (
            cor_bk.groupBy("band", "band_key")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_bucket_size)
            .select("band", "band_key")
        )
        cor_bk = cor_bk.join(ok, ["band", "band_key"])
    cands = (
        inc_bk.join(cor_bk, ["band", "band_key"])
        .select("batch_id", "corpus_id")
        .distinct()
    )
    if threshold is None:
        return cands
    # verify stage: exact Jaccard on candidate docs only. cands feeds
    # the pair join plus both id-pruning semi-joins -> reuse().
    cands = reuse(cands)
    q_sh = reuse(
        shingle_sets(
            incoming.join(
                cands.select(F.col("batch_id").alias(id_col)).distinct(),
                id_col,
                "left_semi",
            ),
            text_col,
            id_col,
            k,
        ).select(F.col("id").alias("batch_id"), "shingle")
    )
    c_sh = reuse(
        shingle_sets(
            corpus.join(
                cands.select(F.col("corpus_id").alias(id_col)).distinct(),
                id_col,
                "left_semi",
            ),
            text_col,
            id_col,
            k,
        ).select(F.col("id").alias("corpus_id"), "shingle")
    )
    inter = (
        cands.join(q_sh, "batch_id")
        .join(c_sh, ["corpus_id", "shingle"])
        .groupBy("batch_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    nq = q_sh.groupBy("batch_id").agg(F.count(F.lit(1)).alias("n_q"))
    nc = c_sh.groupBy("corpus_id").agg(F.count(F.lit(1)).alias("n_c"))
    jac = F.round(
        F.col("inter")
        / (F.col("n_q") + F.col("n_c") - F.col("inter")),
        6,
    )
    return (
        inter.join(nq, "batch_id")
        .join(nc, "corpus_id")
        .select("batch_id", "corpus_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def embedding_neardup_against_corpus(
    incoming: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.97,
    num_planes: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding near-dups of an incoming batch AGAINST a stored corpus —
    the third modality of the incremental-ingestion trilogy (exact
    fingerprints -> Bloom/anti-join, text near-dup -> MinHash bands,
    semantic near-dup -> this). Paraphrased re-crawls that texture past
    both text passes still collide in embedding space.

    Candidate generation is single-probe sign-LSH: both sides bucket with
    the SAME md5-derived hyperplane matrix (similarity.
    hyperplane_lsh_buckets — one bucket per vector, a pure zero-shuffle
    map), candidates are cross-side bucket collisions, and survivors are
    rescored with the exact JVM cosine fold and filtered at
    ``threshold``. APPROXIMATE by contract, exactly like the LSH tier it
    composes: a pair at cosine t collides with probability
    (1 - arccos(t)/pi)^P — choose ``num_planes`` for the recall/cost
    point (None = resolve_num_planes(corpus count), the scale-aware
    default), or run the exact-but-O(n^2) embedding_neardup when recall
    must be 1. At scale the corpus-side bucket table is the persisted
    artifact (one long per stored vector, rebuilt only when the plane
    count steps); ``max_bucket_size`` caps hot corpus buckets exactly
    like minhash_lsh_against_corpus. Returns
    (batch_id, corpus_id, cosine) pairs with cosine >= threshold.
    """
    from hive_io_experimental_spark.operators.similarity import (
        _as_double,
        hyperplane_lsh_buckets,
        resolve_num_planes,
    )

    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    probe = incoming.select(F.size(F.col(vec_col)).alias("_d")).first()
    if probe is None:
        # empty incoming batch — legitimate from streaming/batch
        # ingestion ticks. Return the contract's empty frame (id types
        # from the inputs) instead of crashing on the dim probe, and
        # skip the corpus-count job entirely.
        from pyspark.sql.types import DoubleType, StructField, StructType

        return incoming.sparkSession.createDataFrame(
            [],
            StructType(
                [
                    StructField("batch_id", incoming.schema[id_col].dataType),
                    StructField("corpus_id", corpus.schema[id_col].dataType),
                    StructField("cosine", DoubleType()),
                ]
            ),
        )
    dim = probe[0]
    if num_planes is None:
        num_planes = resolve_num_planes(corpus.count())
    bk_b = hyperplane_lsh_buckets(
        incoming, num_planes, vec_col, id_col, dim=dim
    ).select(F.col("id").alias("batch_id"), "bucket")
    bk_c = hyperplane_lsh_buckets(
        corpus, num_planes, vec_col, id_col, dim=dim
    ).select(F.col("id").alias("corpus_id"), "bucket")
    if max_bucket_size is not None:
        bk_c = reuse(bk_c)
        ok = (
            bk_c.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_bucket_size)
            .select("bucket")
        )
        bk_c = bk_c.join(ok, "bucket")
    # one bucket per vector -> cross-side pairs are already unique, no
    # distinct needed (unlike the multi-band MinHash join)
    cands = bk_b.join(bk_c, "bucket").select("batch_id", "corpus_id")
    inc_v = incoming.select(
        F.col(id_col).alias("batch_id"), _as_double(vec_col).alias("_bv")
    )
    cor_v = corpus.select(
        F.col(id_col).alias("corpus_id"), _as_double(vec_col).alias("_cv")
    )
    from hive_io_experimental_spark.functions.vectors import (
        cosine_similarity,
    )

    cos = F.round(cosine_similarity(F.col("_bv"), F.col("_cv")), 6)
    return (
        cands.join(inc_v, "batch_id")
        .join(cor_v, "corpus_id")
        .select("batch_id", "corpus_id", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def resolve_semantic_stride(n: int, min_stride: int = 50) -> int:
    """Balanced SemDeDup stride: max(min_stride, ceil(sqrt(2n))).

    With stride s the two cost terms are assignment (n centroids-scans:
    n * n/s) and within-cluster pairs (~n * s / 2); they balance at
    s = sqrt(2n), making total work ~sqrt(2) * n^1.5 — SemDeDup's
    honest cost contract (the paper's fixed-k regime has the same
    n^1.5 optimum). A FIXED stride is quietly quadratic in the
    assignment term — measured: dedup_semantic was 240x wall at 100x
    data on the stride-50 dial before auto-sizing
    (BENCH_SCALING_100X). The floor keeps small corpora on the oracle
    twins' constant (50), exactly the resolve_num_planes discipline.
    """
    import math

    return max(min_stride, math.ceil(math.sqrt(2 * max(n, 1))))


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.65,
    centroid_stride: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cluster_rows: int | None = None,
) -> DataFrame:
    """SemDeDup-style cluster-partitioned semantic dedup (Abbas et al.,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication", arXiv:2303.09540): partition the embedding space with
    a coarse quantizer, then dedup ONLY within clusters — the published
    recipe for making embedding dedup tractable at web scale, and the
    linear-work alternative to both the exact O(n^2) blocked all-pairs
    (embedding_neardup) and the recall-lossy single-probe LSH tier.

    Returns one row per DROPPED document: (doc_id, kept_id, cosine) where
    ``kept_id`` is the strongest lower-id in-cluster neighbor at
    cosine >= threshold (ties to the lowest kept_id). SemDeDup's keep
    rule — every document with any higher-priority semantic duplicate in
    its cluster is dropped, priority = ascending id — applied in one
    relational pass. Survivors = anti-join (semantic_dedup_survivors).

    Structure (all SQL-expressible, so the gate twin is an exact hash
    oracle — same discipline as ivf_topk vs ivf_topk_trained):

      1. coarse quantizer: centroids = vectors with id % centroid_stride
         == 0 — the deterministic sample quantizer ivf_topk uses (a
         trained k-means drops in via fit_spherical_kmeans when oracle
         checkability is not required);
      2. every vector map-side assigned to its nearest centroid (max
         cosine, ties to lowest cid) — Arrow/BLAS against the broadcast
         centroid matrix, zero corpus-side exchange (the DuckDB twin's
         window assignment is the reference);
      3. within-cluster pair scoring: equi-join on cid, lower-id side is
         the keep candidate, exact JVM cosine fold rounded to 6 (the
         bit-identical-to-DuckDB fold embedding_neardup documents),
         threshold applied to the ROUNDED value in both engines;
      4. per dropped doc keep the strongest anchor (row_number over
         cosine desc, kept_id asc).

    Scale: two cost terms — assignment (n vectors x n/stride centroids)
    and within-cluster pairs (~n * stride / 2). ``centroid_stride=None``
    (default) balances them at sqrt(2n) via resolve_semantic_stride, so
    total work is ~sqrt(2) * n^1.5, SemDeDup's honest cost contract; a
    fixed stride leaves the assignment term quietly quadratic (measured
    240x wall at 100x data on the fixed-50 dial, BENCH_SCALING_100X).
    The auto floor resolves to the oracle twins' constant (50) at
    fixture scales, so hash checks pin the same plan the dial serves.
    Geometry skew (dense regions pulling oversized clusters) is the one
    way the pair bound breaks; ``max_cluster_rows`` makes it ENFORCED
    (one narrow count-by-cid aggregation, then raise naming the
    offender — the embedding_neardup max_blocks discipline). None skips
    that extra aggregation job.
    """
    from pyspark.sql import Window

    from hive_io_experimental_spark.functions.vectors import l2_norm
    from hive_io_experimental_spark.operators.similarity import (
        _as_double,
        _assign_pandas,
        _pair_cosine,
    )

    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if centroid_stride is None:
        # one count job (metadata-cheap only on a raw parquet scan; a
        # filtered/derived frame pays a real pass) — the probe-once
        # discipline of cosine_topk_bucketed's auto-planes
        centroid_stride = resolve_semantic_stride(df.count())
    if centroid_stride < 1:
        raise ValueError(f"centroid_stride must be >= 1, got {centroid_stride}")

    spark = df.sparkSession
    s = spread(df).select(
        F.col(id_col).alias("_sd_id"), _as_double(vec_col).alias("_sd_v")
    ).withColumn("_sd_nrm", l2_norm(F.col("_sd_v")))

    cents = df.filter(F.col(id_col) % centroid_stride == 0).select(
        F.col(id_col).alias("cid"), _as_double(vec_col).alias("cv")
    )
    cent_rows = [r.asDict() for r in cents.collect()]
    if not cent_rows:
        # no id hits the stride (empty or sparse-id input): the
        # contract's empty frame, not a crash
        return spark.createDataFrame(
            [], "doc_id long, kept_id long, cosine double"
        )
    assigned = _assign_pandas(s, "_sd_id", "_sd_v", "_sd_nrm",
                              cent_rows, keep=1)

    if max_cluster_rows is not None:
        assigned = reuse(assigned)
        worst = (
            assigned.groupBy("cid")
            .agg(F.count(F.lit(1)).alias("_n"))
            .orderBy(F.col("_n").desc(), F.col("cid").asc())
            .first()
        )
        if worst is not None and worst["_n"] > max_cluster_rows:
            raise ValueError(
                f"semantic_dedup cluster {worst['cid']} holds "
                f"{worst['_n']} rows (> max_cluster_rows="
                f"{max_cluster_rows}): embedding geometry is skewed past "
                f"the stride-sized bound. Lower centroid_stride (more, "
                f"smaller clusters) or raise max_cluster_rows explicitly."
            )

    a = assigned.select(
        F.col("_sd_id").alias("kept_id"), F.col("_sd_v").alias("_av"),
        F.col("_sd_nrm").alias("_anrm"), "cid",
    )
    b = assigned.select(
        F.col("_sd_id").alias("doc_id"), F.col("_sd_v").alias("_bv"),
        F.col("_sd_nrm").alias("_bnrm"), "cid",
    )
    hits = (
        a.join(b, "cid")
        .filter(F.col("kept_id") < F.col("doc_id"))
        .select(
            "doc_id", "kept_id",
            _pair_cosine("_av", "_anrm", "_bv", "_bnrm").alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("cosine").desc(), F.col("kept_id").asc()
    )
    return (
        hits.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def semantic_dedup_survivors(
    df: DataFrame,
    threshold: float = 0.65,
    centroid_stride: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cluster_rows: int | None = None,
) -> DataFrame:
    """The kept side of semantic_dedup: input rows minus the dropped set
    (anti-join on id). Same parameters; see semantic_dedup."""
    dropped = semantic_dedup(
        df, threshold, centroid_stride, vec_col, id_col, max_cluster_rows,
    )
    return df.join(
        dropped.select(F.col("doc_id").alias(id_col)), id_col, "left_anti"
    )


def semantic_dedup_against_corpus(
    incoming: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.65,
    centroid_stride: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cluster_rows: int | None = None,
) -> DataFrame:
    """Incremental SemDeDup: semantic near-dups of an incoming batch
    AGAINST a stored corpus, compared only within shared
    coarse-quantizer cells — the cluster-partitioned sibling of
    embedding_neardup_against_corpus's sign-LSH probe (same
    (batch_id, corpus_id, cosine) contract, strongest corpus anchor per
    batch doc). Centroids come from the CORPUS (the stored side — the
    quantizer is part of the corpus snapshot, exactly like the
    ingestion artifacts' stored bucket tables), deterministic stride
    sample, so the whole path is SQL-expressible and hash-oracled.

    vs the LSH probe: sign-LSH is single-probe approximate (a pair at
    cosine t collides with probability (1-arccos(t)/pi)^P); the
    quantizer cell fence loses only pairs that straddle a cell
    boundary, which for duplicate-grade cosines (near-parallel vectors)
    is far rarer — the SemDeDup paper's argument. Costs: batch
    assignment is |batch| x n_cents map-side BLAS; the join touches
    only same-cell corpus rows. ``centroid_stride=None`` auto-sizes
    from the CORPUS count (resolve_semantic_stride — the balanced
    n^1.5 dial, floor = the oracle twins' 50).

    ``max_cluster_rows`` ports the batch variant's skew fence: a dense
    embedding region pulls an oversized quantizer cell, and the
    same-cell join goes quadratic IN THAT CELL with no error. The bound
    is checked on the CORPUS side (one narrow count-by-cid aggregation
    before any pair work — the stored side is where skew accumulates
    across ingestion ticks); past it the call raises naming the
    offending cell and the stride remedy, exactly like semantic_dedup's
    enforced raise. None (default) skips the extra aggregation job.
    """
    from pyspark.sql import Window

    from hive_io_experimental_spark.operators.similarity import (
        _as_double,
        _assign_pandas,
        _pair_cosine,
    )

    from hive_io_experimental_spark.functions.vectors import l2_norm

    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if centroid_stride is None:
        centroid_stride = resolve_semantic_stride(corpus.count())

    spark = incoming.sparkSession
    empty = spark.createDataFrame(
        [], "batch_id long, corpus_id long, cosine double"
    )
    cents = corpus.filter(F.col(id_col) % centroid_stride == 0).select(
        F.col(id_col).alias("cid"), _as_double(vec_col).alias("cv")
    )
    cent_rows = [r.asDict() for r in cents.collect()]
    if not cent_rows:
        return empty

    def side(df: DataFrame, out_id: str) -> DataFrame:
        s = spread(df).select(
            F.col(id_col).alias("_sd_id"), _as_double(vec_col).alias("_sd_v")
        ).withColumn("_sd_nrm", l2_norm(F.col("_sd_v")))
        a = _assign_pandas(s, "_sd_id", "_sd_v", "_sd_nrm", cent_rows, keep=1)
        return a.select(
            F.col("_sd_id").alias(out_id),
            F.col("_sd_v").alias(f"_{out_id}_v"),
            F.col("_sd_nrm").alias(f"_{out_id}_n"),
            "cid",
        )

    if incoming.select(F.col(id_col)).first() is None:
        # empty batch: a legitimate ingestion tick — contract frame, and
        # skip the batch-side assignment job entirely
        return empty
    b = side(incoming, "batch_id")
    c = side(corpus, "corpus_id")
    if max_cluster_rows is not None:
        c = reuse(c)
        worst = (
            c.groupBy("cid")
            .agg(F.count(F.lit(1)).alias("_n"))
            .orderBy(F.col("_n").desc(), F.col("cid").asc())
            .first()
        )
        if worst is not None and worst["_n"] > max_cluster_rows:
            raise ValueError(
                f"semantic_dedup_against_corpus corpus cluster "
                f"{worst['cid']} holds {worst['_n']} rows (> "
                f"max_cluster_rows={max_cluster_rows}): embedding "
                f"geometry is skewed past the stride-sized bound. Lower "
                f"centroid_stride (more, smaller clusters) or raise "
                f"max_cluster_rows explicitly."
            )
    hits = (
        b.join(c, "cid")
        .select(
            "batch_id", "corpus_id",
            _pair_cosine(
                "_batch_id_v", "_batch_id_n", "_corpus_id_v", "_corpus_id_n"
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    w = Window.partitionBy("batch_id").orderBy(
        F.col("cosine").desc(), F.col("corpus_id").asc()
    )
    return (
        hits.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

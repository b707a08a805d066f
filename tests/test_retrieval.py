"""Retrieval composition: hybrid RRF fusion and MMR diversification."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from hive_io_experimental_spark.operators import retrieval, similarity


# ---------------------------------------------------------------------------
# cosine_topk_literal
# ---------------------------------------------------------------------------


def test_cosine_topk_literal_ranks_against_fixed_query(spark):
    corpus = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 1.0]),
            (3, [-1.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    got = retrieval.cosine_topk_literal(corpus, [1.0, 0.0], k=4).collect()
    order = [r.neighbor_id for r in sorted(got, key=lambda r: r.rank)]
    assert order == [0, 1, 2, 3]
    by_id = {r.neighbor_id: r.cosine for r in got}
    assert by_id[0] == 1.0
    assert by_id[2] == 0.0
    assert by_id[3] == -1.0


def test_cosine_topk_literal_limit_and_tiebreak(spark):
    # ids 1 and 2 tie exactly — the lower id must win the last slot
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    got = retrieval.cosine_topk_literal(corpus, [1.0, 0.0], k=2).collect()
    assert sorted(r.neighbor_id for r in got) == [0, 1]


# ---------------------------------------------------------------------------
# hybrid_topk_rrf
# ---------------------------------------------------------------------------


def _hybrid_fixture(spark):
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma"),
            (1, "alpha alpha delta"),
            (2, "epsilon zeta eta"),
            (3, "beta beta beta"),
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [
            (0, [0.0, 1.0]),
            (1, [1.0, 0.0]),
            (2, [0.9, 0.4]),
            (3, [-1.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    return docs, emb


def test_hybrid_rrf_fuses_both_legs(spark):
    docs, emb = _hybrid_fixture(spark)
    got = retrieval.hybrid_topk_rrf(
        docs, emb, ["alpha"], [1.0, 0.0], k=4, candidate_k=4
    ).collect()
    by_id = {r.doc_id: r for r in got}
    # lexical leg hits docs 0 and 1 only ('alpha'); doc 1 has higher tf
    assert by_id[1].lex_rank == 1
    assert by_id[0].lex_rank == 2
    # semantic leg ranks all four by cosine vs [1, 0]
    assert by_id[1].sem_rank == 1
    assert by_id[3].sem_rank == 4
    # doc 1 tops both legs -> highest fused score
    top = max(got, key=lambda r: r.rrf_score)
    assert top.doc_id == 1
    assert top.rrf_score == pytest.approx(1 / 61 + 1 / 61, abs=1e-6)
    # docs the lexical leg missed carry a NULL lex_rank but still fuse
    assert by_id[2].lex_rank is None
    assert by_id[2].sem_rank == 2
    assert by_id[2].rrf_score == pytest.approx(1 / 62, abs=1e-6)


def test_hybrid_rrf_single_leg_term_when_other_misses(spark):
    docs, emb = _hybrid_fixture(spark)
    # restrict the semantic corpus so doc 3 exists only in the lexical leg
    got = retrieval.hybrid_topk_rrf(
        docs,
        emb.filter(F.col("vec_id") != 3),
        ["beta"],
        [1.0, 0.0],
        k=4,
        candidate_k=4,
    ).collect()
    by_id = {r.doc_id: r for r in got}
    assert by_id[3].lex_rank == 1  # 'beta beta beta'
    assert by_id[3].sem_rank is None
    assert by_id[3].cosine is None
    assert by_id[3].rrf_score == pytest.approx(1 / 61, abs=1e-6)


def test_rrf_score_exact_on_reachable_rounding_boundary(spark):
    """rank 68 on one leg gives 1/(60+68) = 1/128 = 0.0078125 — exactly
    ON a .5e-6 rounding boundary. The integer-HALF_UP scoring must land
    on 0.007813 (never the half-even 0.007812), independent of any
    engine's float-rounding mood (the r11 ADVICE class)."""
    import math

    n = 80
    # distinct cosines: vectors fan out in a quarter circle, doc i gets
    # sem_rank i+1 against query [1, 0]; terms hit nothing -> no lex leg
    emb = spark.createDataFrame(
        [
            (i, [math.cos(0.01 * (i + 1)), math.sin(0.01 * (i + 1))])
            for i in range(n)
        ],
        "vec_id long, embedding array<double>",
    )
    docs = spark.createDataFrame(
        [(i, "filler words only") for i in range(n)],
        "doc_id long, text string",
    )
    got = retrieval.hybrid_topk_rrf(
        docs, emb, ["nosuchterm"], [1.0, 0.0], k=n, candidate_k=n
    ).collect()
    by_rank = {r.sem_rank: r.rrf_score for r in got}
    assert by_rank[68] == 0.007813  # HALF_UP of 0.0078125, exactly
    assert by_rank[1] == 0.016393   # 1/61 = 0.01639344... plain case


def test_rrf_default_dial_has_no_near_boundary_scores():
    """Exhaustive reachability audit for the default dial (rrf_k=60,
    candidate_k=50): every exact reachable score is >= 2e-10 from any
    .5e-6 boundary, so the e12 quantization (error <= 1e-12) cannot
    change any reported value vs true-real arithmetic — the committed
    argument that swapping ROUND(double) for integer HALF_UP left the
    gate's values untouched."""
    from fractions import Fraction

    K, R = 60, 50

    def dist(s: Fraction) -> Fraction:
        t = s * 2_000_000
        n = round(t)
        odd1 = n if n % 2 == 1 else n - 1
        odd2 = n + 1 if n % 2 == 0 else n + 2
        return min(abs(t - odd1), abs(t - odd2)) / 2_000_000

    reachable = [Fraction(1, K + r) for r in range(1, R + 1)]
    reachable += [
        Fraction(1, K + a) + Fraction(1, K + b)
        for a in range(1, R + 1)
        for b in range(a, R + 1)
    ]
    assert min(dist(s) for s in reachable) > Fraction(2, 10**10)


def test_hybrid_rrf_rejects_candidate_k_below_k(spark):
    docs, emb = _hybrid_fixture(spark)
    with pytest.raises(ValueError, match="candidate_k"):
        retrieval.hybrid_topk_rrf(
            docs, emb, ["alpha"], [1.0, 0.0], k=10, candidate_k=5
        )


# ---------------------------------------------------------------------------
# random_projection (JL dimensionality reduction)
# ---------------------------------------------------------------------------


def test_random_projection_matches_python_recompute(spark):
    from hive_io_experimental_spark.operators.similarity import (
        _rp_component,
        random_projection,
    )

    vec = [1.5, -2.0, 0.25, 4.0]
    corpus = spark.createDataFrame(
        [(0, vec)], "vec_id long, embedding array<double>"
    )
    got = random_projection(corpus, out_dim=2).first()
    for j in range(2):
        acc = 0.0
        for d, x in enumerate(vec):
            acc += x * _rp_component(j, d)
        assert got.projected[j] == acc  # exact, same sequential fold


def test_random_projection_preserves_cosine_approximately(spark, sf_dir):
    """The JL property at the default 64->16 dial: pairwise cosines in
    the projected space track the originals (sign projections carry the
    Gaussian guarantee, Achlioptas 2003). Loose tolerance — 16 dims has
    ~1/sqrt(16) per-pair noise; the assert is on the MEAN."""
    from hive_io_experimental_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 120
    )
    proj = similarity.random_projection(emb, out_dim=16)
    a = emb.filter(F.col("vec_id") < 60)
    b = emb.filter(F.col("vec_id") >= 60)
    orig = similarity.cosine_topk(emb, a, k=3).select(
        "query_id", "neighbor_id", F.col("cosine").alias("c_orig")
    )
    pa = proj.withColumnRenamed("projected", "embedding")
    # compare cosines of the SAME pairs (join on the original top-3 pairs)
    pv = pa.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    qv = pa.select(F.col("vec_id").alias("query_id"),
                   F.col("embedding").alias("qe"))
    from hive_io_experimental_spark.functions.vectors import (
        cosine_similarity,
    )

    both = (
        orig.join(pv, "neighbor_id")
        .join(qv, "query_id")
        .select(
            "c_orig",
            cosine_similarity("embedding", "qe").alias("c_proj"),
        )
    )
    row = both.agg(
        F.avg(F.abs(F.col("c_orig") - F.col("c_proj"))).alias("mae"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    assert row.n > 0
    assert row.mae < 0.25, f"mean |Δcosine| {row.mae}"


def test_random_projection_validates_dims(spark):
    from hive_io_experimental_spark.operators.similarity import (
        random_projection,
    )

    corpus = spark.createDataFrame(
        [(0, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="out_dim"):
        random_projection(corpus, out_dim=0)
    with pytest.raises(ValueError, match="must be < input dim"):
        random_projection(corpus, out_dim=2)


def test_random_projection_rejects_rp_signs_collision(spark):
    """The table path crossJoins a broadcast column named `_rp_signs`;
    a corpus already carrying that name (e.g. output of an earlier
    projection pipeline stage) must fail loud, not resolve ambiguously
    (r13 ADVICE)."""
    from hive_io_experimental_spark.operators.similarity import (
        random_projection,
    )

    corpus = spark.createDataFrame(
        [(0, [float(d) for d in range(8)], "x")],
        "vec_id long, embedding array<double>, _rp_signs string",
    )
    with pytest.raises(ValueError, match="_rp_signs"):
        random_projection(corpus, out_dim=4, method="table")
    # the literal path never references the internal name — unaffected
    assert random_projection(
        corpus, out_dim=4, method="literal"
    ).count() == 1


def test_random_projection_composes_with_ann_tiers(spark, sf_dir):
    from hive_io_experimental_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    proj = similarity.random_projection(emb, out_dim=16).withColumnRenamed(
        "projected", "embedding"
    )
    got = similarity.cosine_topk_bucketed(
        proj, proj.filter(F.col("vec_id") % 200 == 0), k=5
    )
    assert got.count() > 0


def test_random_projection_table_path_matches_literal_bitwise(spark):
    """The broadcast sign-table path is the literal path with the matrix
    as data: same zip_with products, same sequential fold — components
    must be BIT-identical at the gate dims (r12 verdict task 4)."""
    from hive_io_experimental_spark.operators.similarity import (
        random_projection,
    )

    corpus = spark.createDataFrame(
        [(i, [float(i * 7 + d) * 0.125 - 3.0 for d in range(64)])
         for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    lit = {
        r["vec_id"]: list(r["projected"])
        for r in random_projection(
            corpus, out_dim=16, method="literal"
        ).collect()
    }
    tab = {
        r["vec_id"]: list(r["projected"])
        for r in random_projection(
            corpus, out_dim=16, method="table"
        ).collect()
    }
    assert lit == tab  # exact float equality, not approx


def test_random_projection_literal_cap_raises_naming_table(spark):
    """Past _MAX_RP_LITERAL_CELLS the literal Select is a Catalyst
    plan-size hazard (the BPE _MAX_LITERAL_MERGES class): method=
    'literal' must raise naming the table remediation, and 'auto' must
    route to the table path and still produce the exact fold values."""
    from hive_io_experimental_spark.operators.similarity import (
        _MAX_RP_LITERAL_CELLS,
        _rp_component,
        random_projection,
    )

    dim = 1024
    vec = [((d * 37) % 101) * 0.0625 - 3.0 for d in range(dim)]
    corpus = spark.createDataFrame(
        [(0, vec)], "vec_id long, embedding array<double>"
    )
    assert 16 * dim > _MAX_RP_LITERAL_CELLS
    with pytest.raises(ValueError, match="method='table'"):
        random_projection(corpus, out_dim=16, method="literal")
    got = random_projection(corpus, out_dim=16).first()  # auto -> table
    for j in range(16):
        acc = 0.0
        for d, x in enumerate(vec):
            acc += x * _rp_component(j, d)
        assert got.projected[j] == acc  # exact, same sequential fold


def test_random_projection_raises_on_null_or_mismatched_vectors(spark):
    """Fail-loud contract (r12 ADVICE): a NULL embedding or one whose
    length differs from the probed dim must raise in-plan, not NULL-pad
    through zip_with into silently-NULL components."""
    from hive_io_experimental_spark.operators.similarity import (
        random_projection,
    )

    mixed = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0]), (1, [1.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="length != dim"):
        random_projection(mixed, out_dim=2, dim=4).collect()
    withnull = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0]), (1, None)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="NULL embedding"):
        random_projection(withnull, out_dim=2).collect()
    # the dim probe itself must skip NULL rows (ignorenulls), so a NULL
    # in row order position 0 cannot blind it
    nullfirst = spark.createDataFrame(
        [(0, None), (1, [1.0, 2.0, 3.0, 4.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="NULL embedding"):
        random_projection(nullfirst, out_dim=2).collect()


# ---------------------------------------------------------------------------
# bm25_prf_search (pseudo-relevance-feedback expansion)
# ---------------------------------------------------------------------------


def test_bm25_prf_surfaces_vocabulary_mismatch_docs(spark):
    """The PRF point: a doc that never says the seed term but shares the
    feedback docs' vocabulary must enter the final ranking."""
    from hive_io_experimental_spark.operators import text as T

    docs = spark.createDataFrame(
        [
            (0, "join merge merge"),
            (1, "join merge qqq"),
            (2, "merge merge zzz"),
            (3, "alpha beta gamma"),
        ],
        "doc_id long, text string",
    )
    base = T.bm25_prf_search(docs, ["join"], fb_docs=2, fb_terms=0, top_k=4)
    assert 2 not in {r.doc_id for r in base.collect()}
    got = T.bm25_prf_search(
        docs, ["join"], fb_docs=2, fb_terms=2, top_k=4
    ).collect()
    by_id = {r.doc_id: r for r in got}
    assert 2 in by_id  # surfaced via the expansion term 'merge'
    assert by_id[2].n_terms_hit == 1
    assert 3 not in by_id  # noise doc shares no seed/expansion term
    # seed-hitting docs now also count their expansion hits
    assert by_id[0].n_terms_hit >= 2


def test_bm25_prf_zero_expansion_equals_plain_bm25(spark):
    from hive_io_experimental_spark.operators import text as T

    docs, _ = _hybrid_fixture(spark)
    plain = {
        (r.doc_id, r.n_terms_hit, r.score)
        for r in T.bm25_search(docs, ["alpha", "beta"], top_k=4).collect()
    }
    prf = {
        (r.doc_id, r.n_terms_hit, r.score)
        for r in T.bm25_prf_search(
            docs, ["alpha", "beta"], fb_docs=2, fb_terms=0, top_k=4
        ).collect()
    }
    assert prf == plain


def test_bm25_prf_expansion_prefers_rare_terms(spark):
    """Weight = tf_fb · (N − df + 0.5)/(df + 0.5): a corpus-rare term in
    the feedback docs must out-rank a corpus-common one with equal
    feedback tf."""
    from hive_io_experimental_spark.operators import text as T

    docs = spark.createDataFrame(
        [
            (0, "seedterm rare common"),
            (1, "common filler one"),
            (2, "common filler two"),
            (3, "common filler three"),
        ],
        "doc_id long, text string",
    )
    # fb doc = doc 0; candidates: rare (df 1) vs common (df 4), tf 1 each
    got = T.bm25_prf_search(
        docs, ["seedterm"], fb_docs=1, fb_terms=1, top_k=4
    ).collect()
    # 'rare' (df 1) must be the single expansion pick — docs 1-3 (which
    # only say 'common') stay out of the ranking
    assert {r.doc_id for r in got} == {0}


def test_bm25_prf_validates_parameters(spark):
    from hive_io_experimental_spark.operators import text as T

    docs, _ = _hybrid_fixture(spark)
    with pytest.raises(ValueError, match="fb_docs"):
        T.bm25_prf_search(docs, ["alpha"], fb_docs=0)


# ---------------------------------------------------------------------------
# batch-query hybrid search (cosine_topk_batch / bm25_search_batch /
# hybrid_topk_rrf_batch)
# ---------------------------------------------------------------------------


def test_cosine_topk_batch_matches_literal_per_query(spark):
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [-1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    probes = {10: [1.0, 0.0], 11: [0.0, 1.0]}
    queries = spark.createDataFrame(
        [(qid, v) for qid, v in probes.items()],
        "query_id long, embedding array<double>",
    )
    batch = retrieval.cosine_topk_batch(corpus, queries, k=3).collect()
    for qid, v in probes.items():
        single = {
            (r.neighbor_id, r.cosine, r.rank)
            for r in retrieval.cosine_topk_literal(corpus, v, k=3).collect()
        }
        got = {
            (r.neighbor_id, r.cosine, r.rank)
            for r in batch
            if r.query_id == qid
        }
        assert got == single, f"query {qid}"


def test_cosine_topk_batch_keeps_id_collisions(spark):
    # query_id 0 collides with corpus vec_id 0 — the batch op's query
    # namespace is external, so vec 0 must STILL be a neighbor (the
    # difference from similarity.cosine_topk's self-exclusion)
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0])], "query_id long, embedding array<double>"
    )
    got = retrieval.cosine_topk_batch(corpus, queries, k=2).collect()
    by_rank = {r.rank: r.neighbor_id for r in got}
    assert by_rank == {1: 0, 2: 1}


def test_bm25_search_batch_parity_with_single(spark):
    from hive_io_experimental_spark.operators import text as T

    docs, _ = _hybrid_fixture(spark)
    per_query_terms = {1: ["alpha"], 2: ["beta", "epsilon"]}
    qt = spark.createDataFrame(
        [(qid, t) for qid, terms in per_query_terms.items() for t in terms],
        "query_id long, term string",
    )
    batch = T.bm25_search_batch(docs, qt, top_k=4).collect()
    for qid, terms in per_query_terms.items():
        single = {
            (r.doc_id, r.n_terms_hit, r.score)
            for r in T.bm25_search(docs, terms, top_k=4).collect()
        }
        got = {
            (r.doc_id, r.n_terms_hit, r.score)
            for r in batch
            if r.query_id == qid
        }
        assert got == single, f"query {qid}"


def test_bm25_search_batch_normalizes_terms_like_single(spark):
    from hive_io_experimental_spark.operators import text as T

    docs, _ = _hybrid_fixture(spark)
    # mixed case + punctuation split, duplicates collapse — the JVM-side
    # normalization must match the single-query driver-side normalizer
    qt = spark.createDataFrame(
        [(1, "Alpha"), (1, "beta,ALPHA")], "query_id long, term string"
    )
    batch = {
        (r.doc_id, r.n_terms_hit, r.score)
        for r in T.bm25_search_batch(docs, qt, top_k=4).collect()
    }
    single = {
        (r.doc_id, r.n_terms_hit, r.score)
        for r in T.bm25_search(
            docs, ["Alpha", "beta,ALPHA"], top_k=4
        ).collect()
    }
    assert batch == single


def test_hybrid_rrf_batch_parity_with_single(spark):
    docs, emb = _hybrid_fixture(spark)
    queries = spark.createDataFrame(
        [(7, ["alpha"], [1.0, 0.0])],
        "query_id long, terms array<string>, embedding array<double>",
    )
    batch = retrieval.hybrid_topk_rrf_batch(
        docs, emb, queries, k=4, candidate_k=4
    ).collect()
    assert all(r.query_id == 7 for r in batch)
    got = {
        (r.doc_id, r.lex_rank, r.sem_rank, r.cosine, r.rrf_score)
        for r in batch
    }
    single = {
        (r.doc_id, r.lex_rank, r.sem_rank, r.cosine, r.rrf_score)
        for r in retrieval.hybrid_topk_rrf(
            docs, emb, ["alpha"], [1.0, 0.0], k=4, candidate_k=4
        ).collect()
    }
    assert got == single


def test_hybrid_rrf_batch_two_queries_fuse_independently(spark):
    docs, emb = _hybrid_fixture(spark)
    queries = spark.createDataFrame(
        [
            (1, ["alpha"], [1.0, 0.0]),
            (2, ["beta"], [0.0, 1.0]),
        ],
        "query_id long, terms array<string>, embedding array<double>",
    )
    got = retrieval.hybrid_topk_rrf_batch(
        docs, emb, queries, k=2, candidate_k=4
    ).collect()
    for qid, terms, vec in [(1, ["alpha"], [1.0, 0.0]),
                            (2, ["beta"], [0.0, 1.0])]:
        single = {
            (r.doc_id, r.lex_rank, r.sem_rank, r.cosine, r.rrf_score)
            for r in retrieval.hybrid_topk_rrf(
                docs, emb, terms, vec, k=2, candidate_k=4
            ).collect()
        }
        per_q = {
            (r.doc_id, r.lex_rank, r.sem_rank, r.cosine, r.rrf_score)
            for r in got
            if r.query_id == qid
        }
        assert per_q == single, f"query {qid}"


def test_hybrid_rrf_batch_accepts_ann_sem_candidates(spark, sf_dir):
    # the semantic leg composes with an ANN tier past the broadcast cap:
    # feeding bucketed candidates keyed by the same query ids works and
    # every emitted row stays within per-query k
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    probe = emb.filter(F.col("vec_id") < 3)
    cands = similarity.cosine_topk_bucketed(emb, probe, k=8)
    queries = probe.select(
        F.col("vec_id").alias("query_id"),
        F.array(F.lit("data"), F.lit("join")).alias("terms"),
        "embedding",
    )
    got = retrieval.hybrid_topk_rrf_batch(
        docs, emb, queries, k=5, candidate_k=8, sem_candidates=cands
    ).collect()
    assert len(got) > 0
    from collections import Counter

    per_q = Counter(r.query_id for r in got)
    assert all(n <= 5 for n in per_q.values())


def test_hybrid_rrf_batch_rejects_candidate_k_below_k(spark):
    docs, emb = _hybrid_fixture(spark)
    queries = spark.createDataFrame(
        [(1, ["alpha"], [1.0, 0.0])],
        "query_id long, terms array<string>, embedding array<double>",
    )
    with pytest.raises(ValueError, match="candidate_k"):
        retrieval.hybrid_topk_rrf_batch(
            docs, emb, queries, k=10, candidate_k=5
        )


# ---------------------------------------------------------------------------
# mmr_diversified_topk
# ---------------------------------------------------------------------------


def test_mmr_prefers_diverse_second_pick(spark):
    # candidate 1 is most relevant; candidate 2 is a near-copy of 1;
    # candidate 3 is less relevant but orthogonal to 1. Plain top-2 takes
    # (1, 2); MMR at λ=0.5 must take (1, 3).
    corpus = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),      # the query
            (1, [0.9, 0.1, 0.0]),      # most relevant
            (2, [0.9, 0.11, 0.0]),     # near-duplicate of 1
            (3, [0.5, 0.0, 0.8]),      # diverse
        ],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.filter(F.col("vec_id") == 0)
    got = retrieval.mmr_diversified_topk(
        corpus, queries, k=2, fetch_k=3, mmr_lambda=0.5
    ).collect()
    picks = [r.neighbor_id for r in sorted(got, key=lambda r: r.mmr_rank)]
    assert picks == [1, 3]
    # and the plain relevance top-2 would have been (1, 2)
    rel = similarity.cosine_topk(corpus, queries, k=2).collect()
    assert sorted(r.neighbor_id for r in rel) == [1, 2]


def test_mmr_lambda_one_is_plain_relevance_order(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 200 == 0)
    got = retrieval.mmr_diversified_topk(
        emb, queries, k=4, fetch_k=8, mmr_lambda=1.0
    ).collect()
    rel = similarity.cosine_topk(emb, queries, k=4).collect()
    mmr_order = {
        (r.query_id, r.mmr_rank): r.neighbor_id for r in got
    }
    rel_order = {(r.query_id, r.rank): r.neighbor_id for r in rel}
    assert mmr_order == rel_order


def test_mmr_single_candidate_query_survives(spark):
    # a query whose candidate list has exactly one entry must still emit it
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.5, 0.5])],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.filter(F.col("vec_id") == 0)
    got = retrieval.mmr_diversified_topk(
        corpus, queries, k=3, fetch_k=3, mmr_lambda=0.5
    ).collect()
    assert len(got) == 1
    assert got[0].neighbor_id == 1
    assert got[0].mmr_rank == 1


def test_mmr_accepts_external_candidates(spark, sf_dir):
    # the rerank composes with any ANN tier: feeding it bucketed
    # candidates gives the same picks as feeding the identical frame
    # from the exact path restricted to those candidates
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 200 == 0)
    cands = similarity.cosine_topk_bucketed(emb, queries, k=8)
    got = retrieval.mmr_diversified_topk(
        emb, queries, k=3, fetch_k=8, candidates=cands
    ).collect()
    assert len(got) > 0
    for r in got:
        assert 1 <= r.mmr_rank <= 3


def test_mmr_over_ann_equals_exact_when_probes_cover_corpus(spark, sf_dir):
    """Parity fence for the composed path (r12 verdict task 8): at
    num_planes=1 / probe_bits=1 the multiprobe set is BOTH buckets, so
    the served candidates are exactly the exact top-fetch_k — the
    composed MMR must then equal exact-candidate MMR row for row. At
    the gate dials (8 planes) the candidate sets genuinely differ; this
    pins that every difference comes from candidate RECALL, never from
    the rerank."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 150
    )
    queries = emb.filter(F.col("vec_id") < 30)
    served = similarity.cosine_topk_multiprobe(
        emb, queries, k=10, num_planes=1, probe_bits=1
    ).select("query_id", "neighbor_id", "cosine")
    composed = retrieval.mmr_diversified_topk(
        emb, queries, k=4, fetch_k=10, candidates=served
    )
    exact = retrieval.mmr_diversified_topk(
        emb, queries, k=4, fetch_k=10
    )
    assert composed.exceptAll(exact).isEmpty()
    assert exact.exceptAll(composed).isEmpty()
    assert exact.count() > 0


def test_mmr_stale_candidates_fail_loudly(spark):
    """A candidates frame referencing vectors absent from the corpus
    (stale ANN index / wrong corpus) must raise at execution, not
    silently shrink the top-k (ADVICE r11)."""
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.5, 0.5]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.filter(F.col("vec_id") == 0)
    cands = spark.createDataFrame(
        [(0, 1, 0.9), (0, 99, 0.8)],  # 99 is not in the corpus
        "query_id long, neighbor_id long, cosine double",
    )
    with pytest.raises(Exception, match="stale or built against"):
        retrieval.mmr_diversified_topk(
            corpus, queries, k=2, fetch_k=2, candidates=cands
        ).collect()


def test_mmr_null_embedding_gets_its_own_message(spark):
    """A candidate that EXISTS in the corpus but has a NULL embedding is
    a different user error than a stale candidates frame — the raise
    must say so (code-review r12)."""
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.filter(F.col("vec_id") == 0)
    cands = spark.createDataFrame(
        [(0, 1, 0.9), (0, 2, 0.8)],
        "query_id long, neighbor_id long, cosine double",
    )
    with pytest.raises(Exception, match="NULL embedding"):
        retrieval.mmr_diversified_topk(
            corpus, queries, k=2, fetch_k=2, candidates=cands
        ).collect()


def test_mmr_integer_id_check_covers_all_frames(spark):
    """The integer-id fence applies to the candidates and queries frames
    too, not only corpus[id_col] (ADVICE r11)."""
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.5, 0.5])],
        "vec_id long, embedding array<double>",
    )
    str_cands = spark.createDataFrame(
        [("q0", 1, 0.9)], "query_id string, neighbor_id long, cosine double"
    )
    with pytest.raises(ValueError, match=r"candidates\.query_id"):
        retrieval.mmr_diversified_topk(
            corpus, corpus, k=1, fetch_k=1, candidates=str_cands
        )
    str_queries = spark.createDataFrame(
        [("q0", [1.0, 0.0])], "vec_id string, embedding array<double>"
    )
    with pytest.raises(ValueError, match=r"queries\.vec_id"):
        retrieval.mmr_diversified_topk(corpus, str_queries, k=1, fetch_k=1)


def test_mmr_validates_parameters(spark):
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="mmr_lambda"):
        retrieval.mmr_diversified_topk(corpus, corpus, mmr_lambda=1.5)
    with pytest.raises(ValueError, match="exact-binary grid"):
        retrieval.mmr_diversified_topk(corpus, corpus, mmr_lambda=0.7)
    with pytest.raises(ValueError, match="fetch_k"):
        retrieval.mmr_diversified_topk(corpus, corpus, k=5, fetch_k=3)


# ---------------------------------------------------------------------------
# BPE vocabulary induction (operators/text.py)
# ---------------------------------------------------------------------------


def test_bpe_train_hand_checked_merges(spark):
    from hive_io_experimental_spark.operators import text as T

    docs = spark.createDataFrame(
        [(0, "the cat and the hat"), (1, "the bat and a cat"),
         (2, "that cat sat")],
        "doc_id long, text string",
    )
    got = [
        (r.merge_rank, r.left, r.right, r.merged)
        for r in T.bpe_train(docs, num_merges=5).collect()
    ]
    # counts: (a,t) x8 wins rank 1; then (t,h) x5; the merged 'at' then
    # pairs with c (cat x3 -> (c,at)); 'th' pairs with e (the x3);
    # (a,n) x2 from 'and'
    assert sorted(got) == [
        (1, "a", "t", "at"),
        (2, "t", "h", "th"),
        (3, "c", "at", "cat"),
        (4, "th", "e", "the"),
        (5, "a", "n", "an"),
    ]


def test_bpe_train_stops_when_pairs_exhaust(spark):
    from hive_io_experimental_spark.operators import text as T

    docs = spark.createDataFrame(
        [(0, "ab ab ab")], "doc_id long, text string"
    )
    got = T.bpe_train(docs, num_merges=10).collect()
    # one pair exists; after merging it nothing remains
    assert len(got) == 1
    assert (got[0].left, got[0].right) == ("a", "b")


def test_bpe_train_vocab_guard(spark, sf_dir):
    from hive_io_experimental_spark.operators import text as T

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with pytest.raises(ValueError, match="max_vocab"):
        T.bpe_train(docs, num_merges=2, max_vocab=3)


def test_bpe_segment_counts_reproduces_trainer_states(spark, sf_dir):
    """On the training corpus, the single-forward-pass applier must land
    on exactly the trainer's end states: total BPE tokens == sum over the
    trainer's final symbol counts weighted by occurrences."""
    from hive_io_experimental_spark.operators import text as T

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    trained = T.bpe_train(docs, num_merges=12)
    merges = [(r.left, r.right) for r in trained.collect()]
    seg = T.bpe_segment_counts(docs, merges)
    row = seg.agg(
        F.sum("n_words").alias("w"), F.sum("n_bpe_tokens").alias("t")
    ).first()
    assert row["t"] >= row["w"] > 0  # merged tokens never below word count

    # merging MORE must never increase the token count
    merges_more = [
        (r.left, r.right)
        for r in T.bpe_train(docs, num_merges=24).collect()
    ]
    row2 = (
        T.bpe_segment_counts(docs, merges_more)
        .agg(F.sum("n_bpe_tokens").alias("t"))
        .first()
    )
    assert row2["t"] <= row["t"]


def test_bpe_segment_counts_no_merges_counts_chars(spark):
    from hive_io_experimental_spark.operators import text as T

    docs = spark.createDataFrame(
        [(0, "abc de")], "doc_id long, text string"
    )
    row = T.bpe_segment_counts(docs, []).first()
    assert row.n_words == 2
    assert row.n_bpe_tokens == 5  # 3 chars + 2 chars


def test_bpe_segment_counts_rejects_bad_symbols(spark):
    from hive_io_experimental_spark.operators import text as T

    docs = spark.createDataFrame(
        [(0, "abc")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="closed alphabet"):
        T.bpe_segment_counts(docs, [("a|b", "c")])
    with pytest.raises(ValueError, match="closed alphabet"):
        T.bpe_segment_counts(docs, [("a", "b c")])
    # the Arrow applier shares the closed-alphabet fence
    with pytest.raises(ValueError, match="closed alphabet"):
        T.bpe_segment_counts_arrow(docs, [("a|b", "c")])


def test_bpe_segment_counts_literal_chain_cap(spark):
    """The literal-replace applier raises past _MAX_LITERAL_MERGES (its
    plan grows one expression node per merge — a 30k-merge tokenizer
    would choke Catalyst, not the data path) and points at the Arrow
    applier; the Arrow applier accepts the same list."""
    from hive_io_experimental_spark.operators import text as T

    docs = spark.createDataFrame(
        [(0, "abc abd")], "doc_id long, text string"
    )
    too_many = [("a", "b")] * (T._MAX_LITERAL_MERGES + 1)
    with pytest.raises(ValueError, match="bpe_segment_counts_arrow"):
        T.bpe_segment_counts(docs, too_many)
    row = T.bpe_segment_counts_arrow(docs, too_many).first()
    # "abc" -> |ab| |c|, "abd" -> |ab| |d| (duplicate merges are no-ops)
    assert row.n_words == 2
    assert row.n_bpe_tokens == 4


def test_bpe_vocab_lifecycle_build_load_segment(spark, sf_dir, tmp_path):
    """Persisted tokenizer artifact: build -> load returns the trainer's
    exact merge list; segment_from_vocab == the inline applier; the
    consistency check reports zero mismatches."""
    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.operators import text as T

    cat = Catalog(str(tmp_path / "wh"))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    T.bpe_build_vocab(spark, cat, "default.bpe_v", docs, num_merges=12)
    loaded = T.bpe_load_vocab(spark, cat, "default.bpe_v")
    trained = [
        (r.left, r.right)
        for r in T.bpe_train(docs, num_merges=12).collect()
    ]
    assert loaded == trained
    served = T.bpe_segment_from_vocab(spark, cat, "default.bpe_v", docs)
    direct = T.bpe_segment_counts(docs, trained)
    assert served.exceptAll(direct).isEmpty()
    assert direct.exceptAll(served).isEmpty()
    row = T.bpe_vocab_consistency_check(
        spark, cat, "default.bpe_v", docs
    ).first()
    assert row.n_merges == 12
    assert row.n_merge_mismatch == 0
    assert row.n_segment_mismatch == 0
    assert row.n_docs > 0


def test_bpe_vocab_refuses_torn_rebuild(spark, sf_dir, tmp_path):
    from pyspark.sql import types as T_

    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.operators import text as T
    from hive_io_experimental_spark.output import HiveOutput, WriteSpec
    from hive_io_experimental_spark.schema import HiveTableSchema

    cat = Catalog(str(tmp_path / "wh"))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    T.bpe_build_vocab(spark, cat, "default.bpe_torn", docs, num_merges=5)
    # meta got a new stamp, the merges table still carries the old one
    schema = HiveTableSchema((
        ("num_merges", T_.IntegerType()),
        ("n_merges", T_.LongType()),
        ("build_id", T_.StringType()),
    ))
    cat.drop_table("default.bpe_torn_meta", delete_data=True)
    cat.create_table("default.bpe_torn_meta", schema)
    HiveOutput(spark, cat).write_table(
        WriteSpec(table="default.bpe_torn_meta"),
        spark.createDataFrame(
            [(5, 5, "torn-stamp")], schema.to_struct_type()
        ),
    )
    with pytest.raises(ValueError, match="mixed build_id"):
        T.bpe_load_vocab(spark, cat, "default.bpe_torn")


def test_bpe_segment_from_vocab_routes_large_lists_to_arrow(
    spark, tmp_path, monkeypatch
):
    """Past _MAX_LITERAL_MERGES the stored-vocab applier must route to
    the Arrow applier instead of raising (the whole point of having
    two)."""
    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.operators import text as T

    cat = Catalog(str(tmp_path / "wh"))
    docs = spark.createDataFrame(
        [(0, "the cat and the hat sat on a mat with a bat")],
        "doc_id long, text string",
    )
    T.bpe_build_vocab(spark, cat, "default.bpe_rt", docs, num_merges=6)
    # force the routing threshold below the stored list size
    monkeypatch.setattr(T, "_MAX_LITERAL_MERGES", 3)
    served = T.bpe_segment_from_vocab(spark, cat, "default.bpe_rt", docs)
    merges = T.bpe_load_vocab(spark, cat, "default.bpe_rt")
    direct = T.bpe_segment_counts_arrow(docs, merges)
    assert [tuple(r) for r in served.collect()] == [
        tuple(r) for r in direct.collect()
    ]


def test_bpe_segment_counts_arrow_accepts_string_doc_ids(spark):
    """The Arrow applier's mapInPandas schema must follow the INPUT id
    type — string doc ids are first-class in the literal applier and the
    documented contract is 'identical results' (code-review r12)."""
    from hive_io_experimental_spark.operators import text as T

    docs = spark.createDataFrame(
        [("docA", "the cat"), ("docB", "the hat")],
        "doc_id string, text string",
    )
    merges = [("t", "h"), ("th", "e")]
    lit = {tuple(r) for r in T.bpe_segment_counts(docs, merges).collect()}
    arrow = {
        tuple(r)
        for r in T.bpe_segment_counts_arrow(docs, merges).collect()
    }
    assert arrow == lit and len(lit) == 2


def test_bpe_vocab_zero_merges_is_not_torn(spark, tmp_path):
    """A corpus with no repeated adjacent pair learns 0 merges — the
    empty merges table is BY CONSTRUCTION, not a torn rebuild; load
    returns [] and the lifecycle stays usable (code-review r12)."""
    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.operators import text as T

    cat = Catalog(str(tmp_path / "wh"))
    docs = spark.createDataFrame(
        [(0, "a b c d e")], "doc_id long, text string"
    )
    T.bpe_build_vocab(spark, cat, "default.bpe_zero", docs, num_merges=4)
    assert T.bpe_load_vocab(spark, cat, "default.bpe_zero") == []
    row = T.bpe_segment_from_vocab(
        spark, cat, "default.bpe_zero", docs
    ).first()
    assert row.n_words == 5 and row.n_bpe_tokens == 5
    chk = T.bpe_vocab_consistency_check(
        spark, cat, "default.bpe_zero", docs
    ).first()
    assert chk.n_merges == 0
    assert chk.n_merge_mismatch == 0 and chk.n_segment_mismatch == 0


def test_bpe_segment_counts_arrow_parity_with_literal(spark, sf_dir):
    """Row-identical parity of the Arrow applier vs the literal-replace
    chain on the gate's own 30 trained merges (the verdict's parity
    contract for the second applier)."""
    from hive_io_experimental_spark.operators import text as T

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = [
        (r.left, r.right)
        for r in T.bpe_train(docs, num_merges=30).collect()
    ]
    lit = T.bpe_segment_counts(docs, merges)
    arrow = T.bpe_segment_counts_arrow(docs, merges)
    assert lit.exceptAll(arrow).isEmpty()
    assert arrow.exceptAll(lit).isEmpty()


# ---------------------------------------------------------------------------
# ranking_quality_report (NDCG / MRR / recall)
# ---------------------------------------------------------------------------


def test_ranking_quality_hand_checked(spark):
    exact = spark.createDataFrame(
        [(7, 100, 1), (7, 101, 2), (7, 102, 3)],
        "query_id long, neighbor_id long, rank long",
    )
    approx = spark.createDataFrame(
        [(7, 100, 1), (7, 102, 2), (7, 999, 3)],
        "query_id long, neighbor_id long, rank long",
    )
    row = retrieval.ranking_quality_report(approx, exact, k=3).first()
    # w = [1.0, 0.630930, 0.5]; hits at approx ranks 1 and 2
    assert row.n_exact == 3 and row.n_hits == 2
    assert row.ndcg == pytest.approx((1.0 + 0.630930) / 2.130930, abs=1e-6)
    assert row.mrr == 1.0
    assert row.recall == pytest.approx(2 / 3, abs=1e-6)


def test_ranking_quality_no_hits_is_zero(spark):
    exact = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)],
        "query_id long, neighbor_id long, rank long",
    )
    approx = spark.createDataFrame(
        [(1, 98, 1), (1, 99, 2)],
        "query_id long, neighbor_id long, rank long",
    )
    row = retrieval.ranking_quality_report(approx, exact, k=2).first()
    assert row.n_hits == 0 and row.ndcg == 0.0
    assert row.mrr == 0.0 and row.recall == 0.0


def test_ranking_quality_perfect_ranking_is_one(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 200 == 0)
    exact = similarity.cosine_topk(emb, queries, k=5)
    rows = retrieval.ranking_quality_report(exact, exact, k=5).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.ndcg == 1.0 and r.mrr == 1.0 and r.recall == 1.0


# ---------------------------------------------------------------------------
# mine_contrastive_negatives
# ---------------------------------------------------------------------------


def test_contrastive_negatives_hard_excludes_near_dups(spark):
    from hive_io_experimental_spark.operators.retrieval import (
        mine_contrastive_negatives,
    )

    corpus = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),   # anchor
            (1, [1.0, 0.001, 0.0]),  # near-duplicate (cosine ~1) -> excluded
            (2, [0.7, 0.7, 0.0]),   # hard negative (cosine ~0.7)
            (3, [0.0, 1.0, 0.0]),   # orthogonal
            (4, [-1.0, 0.0, 0.0]),  # opposite
        ],
        "vec_id long, embedding array<double>",
    )
    anchors = corpus.filter(F.col("vec_id") == 0)
    got = mine_contrastive_negatives(
        corpus, anchors, k_hard=2, k_rand=0, fetch_k=4, max_sim=0.95
    ).collect()
    assert all(r.kind == "hard" for r in got)
    ids = [r.neighbor_id for r in sorted(got, key=lambda r: r.rank)]
    assert ids == [2, 3]  # near-dup 1 skipped by the ceiling
    assert all(r.cosine < 0.95 for r in got)


def test_contrastive_negatives_rand_deterministic_and_exclusive(spark, sf_dir):
    from hive_io_experimental_spark.operators.retrieval import (
        mine_contrastive_negatives,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    anchors = emb.filter(F.col("vec_id") < 40)
    a = mine_contrastive_negatives(emb, anchors, k_hard=3, k_rand=2,
                                   num_buckets=16)
    b = mine_contrastive_negatives(emb, anchors, k_hard=3, k_rand=2,
                                   num_buckets=16)
    ra = sorted(tuple(r) for r in a.collect())
    rb = sorted(tuple(r) for r in b.collect())
    assert ra == rb and len(ra) > 0  # pure function of ids
    per_anchor: dict = {}
    for r in ra:
        per_anchor.setdefault(r[0], []).append(r)
    for aid, rows in per_anchor.items():
        ids = [r[1] for r in rows]
        assert aid not in ids            # never the anchor itself
        assert len(ids) == len(set(ids))  # hard and rand never overlap
        kinds = {r[2] for r in rows}
        assert kinds <= {"hard", "rand"}


def test_contrastive_negatives_param_validation(spark):
    from hive_io_experimental_spark.operators.retrieval import (
        mine_contrastive_negatives,
    )

    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="k_hard"):
        mine_contrastive_negatives(corpus, corpus, k_hard=0, k_rand=0)


# ---------------------------------------------------------------------------
# bigram_lm_scores
# ---------------------------------------------------------------------------


def test_bigram_lm_scores_penalizes_scrambled_transitions(spark):
    from hive_io_experimental_spark.operators import text as T

    # docs 0/1 share the frequent transition; doc 2 uses the same words
    # in unseen-elsewhere orders -> its average transition is rarer
    docs = spark.createDataFrame(
        [
            (0, "the cat sat the cat sat the cat sat"),
            (1, "the cat sat the cat sat"),
            (2, "cat the sat cat the sat"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in T.bigram_lm_scores(docs).collect()}
    assert rows[0].avg_bits < rows[2].avg_bits
    # and every doc with >= 2 tokens is scored
    assert set(rows) == {0, 1, 2}


def test_bigram_lm_scores_skips_short_docs(spark):
    from hive_io_experimental_spark.operators import text as T

    docs = spark.createDataFrame(
        [(0, "single"), (1, "two tokens")],
        "doc_id long, text string",
    )
    rows = T.bigram_lm_scores(docs).collect()
    assert [r.doc_id for r in rows] == [1]
    assert rows[0].n_bigrams == 1
    assert rows[0].avg_bits == 0.0  # the only transition is certain


def test_decimal_mean_half_boundary_is_half_up(spark):
    """The in-the-wild boundary case: 68.661789 / 14 = 4.9044135 exactly
    — HALF_UP must give 4.904414 in Spark AND the SQL twin (a raw-double
    ROUND disagreed across engines here)."""
    from hive_io_experimental_spark.operators.text import _decimal_mean_6

    df = spark.createDataFrame(
        [("68.661789", 14)], "s string, n long"
    ).select(
        F.col("s").cast("decimal(18,6)").alias("s"), "n"
    )
    got = df.select(_decimal_mean_6("s", "n").alias("avg")).first()["avg"]
    assert got == 4.904414
    import duckdb

    want = duckdb.sql(
        "SELECT CAST((2 * CAST(CAST('68.661789' AS DECIMAL(18,6)) "
        "* 1000000 AS BIGINT) + 14) // (2 * 14) AS DOUBLE) "
        "/ CAST(1000000 AS DOUBLE)"
    ).fetchone()[0]
    assert want == got


# ---------------------------------------------------------------------------
# code-review hardening (r11): torn-index fences, NaN and id-type guards
# ---------------------------------------------------------------------------


_TIERS = ("lsh", "pq", "ivf_pq", "nb", "bpe")


def _smallest_artifact(spark, cat, sf_dir, tier, name):
    """Build ``tier``'s persisted artifact as ``name`` at its smallest
    size and return a thunk calling the tier's read verb. Every tier
    keeps its corpus-sized table under the bare name."""
    from hive_io_experimental_spark.operators import text as T

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    docs = spark.createDataFrame(
        [(0, "alpha beta alpha beta", "a"), (1, "gamma delta", "b")],
        "doc_id long, text string, lang string",
    )
    if tier == "lsh":
        similarity.lsh_build_index(spark, cat, name, emb, num_planes=4)
        return lambda: similarity.lsh_query_index(spark, cat, name, emb, q)
    if tier == "pq":
        similarity.pq_build_index(
            spark, cat, name, emb, centroid_stride=50, max_codes=128
        )
        return lambda: similarity.pq_query_index(spark, cat, name, q)
    if tier == "ivf_pq":
        similarity.ivf_pq_build_index(
            spark, cat, name, emb, centroid_stride=50, num_subspaces=4
        )
        return lambda: similarity.ivf_pq_query_index(
            spark, cat, name, q, num_subspaces=4
        )
    if tier == "nb":
        T.nb_build_model(spark, cat, name, docs, label_col="lang")
        return lambda: T.nb_score_from_model(spark, cat, name, docs)
    T.bpe_build_vocab(spark, cat, name, docs, num_merges=3)
    return lambda: T.bpe_load_vocab(spark, cat, name)


@pytest.mark.parametrize("tier", _TIERS)
def test_lsh_serving_refuses_empty_bucket_table(spark, sf_dir, tmp_path,
                                                tier):
    """A rebuild torn between create and write leaves an EMPTY
    corpus-sized table (LSH buckets, PQ/IVF-PQ codes, NB likelihoods,
    BPE merges); every tier's read verb must raise, not serve zero
    candidates silently."""
    from hive_io_experimental_spark.catalog import Catalog

    cat = Catalog(str(tmp_path / "wh"))
    read = _smallest_artifact(spark, cat, sf_dir, tier, "default.torn")
    # simulate the torn rebuild: the table recreated, never written
    schema = cat.get_schema("default.torn")
    versioned = cat.is_versioned("default.torn")
    cat.drop_table("default.torn", delete_data=True)
    cat.create_table("default.torn", schema, versioned=versioned)
    with pytest.raises(ValueError, match="EMPTY"):
        read()


@pytest.mark.parametrize("tier", _TIERS)
def test_ivf_pq_serving_refuses_unstamped_codes_table(spark, sf_dir,
                                                      tmp_path, tier):
    """An artifact persisted before the build_id stamp existed (no
    build_id column on its corpus-sized table) must get the
    rebuild-to-migrate error on every tier, not an opaque
    unresolved-column AnalysisException."""
    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.input import HiveInput, ScanSpec
    from hive_io_experimental_spark.output import HiveOutput, WriteSpec
    from hive_io_experimental_spark.schema import HiveTableSchema

    cat = Catalog(str(tmp_path / "wh"))
    read = _smallest_artifact(spark, cat, sf_dir, tier, "default.tpq")
    # simulate a pre-stamp artifact: the same rows without build_id
    rows = HiveInput(spark, cat).read_table(
        ScanSpec(table="default.tpq")
    ).drop("build_id").localCheckpoint()
    schema = HiveTableSchema(tuple(
        f for f in cat.get_schema("default.tpq").data_fields
        if f[0] != "build_id"
    ))
    cat.drop_table("default.tpq", delete_data=True)
    cat.create_table("default.tpq", schema)
    HiveOutput(spark, cat).write_table(WriteSpec(table="default.tpq"), rows)
    with pytest.raises(ValueError, match="no build_id column"):
        read()


@pytest.mark.parametrize("tier", ("lsh", "nb", "bpe"))
def test_torn_first_build_reports_the_meta_table(spark, tmp_path, tier):
    """A build torn after creating its tables and before writing any
    leaves every table empty. The meta table is the authority, so the
    read verb must name it ("empty meta table ... run the build
    first"), not a table meta vouches for."""
    from pyspark.sql import types as T_

    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.operators import text as T
    from hive_io_experimental_spark.schema import HiveTableSchema

    cat = Catalog(str(tmp_path / "wh"))
    artifact, read = {
        "lsh": (similarity._LSH_INDEX, lambda f: similarity.lsh_query_index(
            spark, cat, "default.t0", f, f)),
        "nb": (T._NB_MODEL, lambda f: T.nb_score_from_model(
            spark, cat, "default.t0", f)),
        "bpe": (T._BPE_VOCAB, lambda f: T.bpe_load_vocab(
            spark, cat, "default.t0")),
    }[tier]
    for part in artifact.parts:
        cat.create_table(
            f"default.t0{part.suffix}",
            HiveTableSchema((
                ("x", T_.LongType()), ("build_id", T_.StringType()),
            )),
        )
    frame = spark.createDataFrame(
        [(0, [1.0, 0.0], "a")], "vec_id long, embedding array<double>, "
        "text string",
    )
    with pytest.raises(ValueError, match="empty meta table default.t0_meta"):
        read(frame)


def test_mmr_raises_loudly_on_zero_norm_vectors(spark):
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.filter(F.col("vec_id") == 0)
    with pytest.raises(Exception, match="zero-norm"):
        retrieval.mmr_diversified_topk(
            corpus, queries, k=2, fetch_k=2, mmr_lambda=0.5
        ).collect()


def test_mmr_rejects_string_ids(spark):
    corpus = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])],
        "vec_id string, embedding array<double>",
    )
    with pytest.raises(ValueError, match="integer ids"):
        retrieval.mmr_diversified_topk(corpus, corpus, k=1, fetch_k=1)


# ---------------------------------------------------------------------------
# Naive Bayes classifier (nb_train / nb_score)
# ---------------------------------------------------------------------------


def test_nb_separable_corpus_is_perfectly_classified(spark):
    from hive_io_experimental_spark.operators import text as T

    train = spark.createDataFrame(
        [
            (0, "apfel birne kirsche", "de"),
            (1, "birne apfel apfel", "de"),
            (2, "apple pear cherry", "en"),
            (3, "pear apple apple", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    test = spark.createDataFrame(
        [(10, "kirsche birne"), (11, "cherry pear"), (12, "apple cherry")],
        "doc_id long, text string",
    )
    pri, lik = T.nb_train(train, label_col="lang")
    got = {r.doc_id: r.label for r in T.nb_score(test, pri, lik).collect()}
    assert got == {10: "de", 11: "en", 12: "en"}


def test_nb_beats_chance_on_held_out_documents(spark, sf_dir):
    """Deterministic held-out split on the synthetic corpus: the lang
    signal is weak by construction (the committed lang_id heuristic
    itself only agrees 0.386 with the labels at sf0.001), so the floor
    is beats-5-class-chance-with-margin, not high accuracy."""
    from hive_io_experimental_spark.operators import text as T

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    pri, lik = T.nb_train(train, label_col="lang")
    pred = T.nb_score(test, pri, lik)
    j = pred.join(
        test.select("doc_id", F.col("lang").alias("truth")), "doc_id"
    )
    row = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("label") == F.col("truth"), 1).otherwise(0)
        ).alias("ok"),
    ).first()
    assert row.n == test.count()
    assert row.ok / row.n > 0.28, f"accuracy {row.ok}/{row.n}"


def test_nb_scores_are_partitioning_invariant(spark, sf_dir):
    """total_bits are decimal-exact sums of round-6 values — identical
    under any repartitioning (the LM-scorer order-independence
    contract)."""
    from hive_io_experimental_spark.operators import text as T

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 120
    )
    pri, lik = T.nb_train(docs, label_col="lang")
    a = {
        (r.doc_id, r.label, r.total_bits)
        for r in T.nb_score(docs, pri, lik).collect()
    }
    b = {
        (r.doc_id, r.label, r.total_bits)
        for r in T.nb_score(
            docs.repartition(17), pri.repartition(3), lik.repartition(5)
        ).collect()
    }
    assert a == b


def test_nb_zero_token_doc_falls_back_to_prior(spark):
    from hive_io_experimental_spark.operators import text as T

    train = spark.createDataFrame(
        [
            (0, "alpha beta", "big"),
            (1, "alpha gamma", "big"),
            (2, "delta beta", "big"),
            (3, "zeta zeta", "small"),
        ],
        "doc_id long, text string, lang string",
    )
    test = spark.createDataFrame(
        [(10, "...")], "doc_id long, text string"  # no tokens at all
    )
    pri, lik = T.nb_train(train, label_col="lang")
    row = T.nb_score(test, pri, lik).first()
    assert row.label == "big"  # the majority prior
    assert row.n_tokens == 0


def test_nb_tokenless_class_survives_training(spark):
    """A class whose training docs hold zero tokens keeps a prior row
    (N_c = 0, unseen cost -log2(1/V)) instead of vanishing from the
    model (code-review r12)."""
    from hive_io_experimental_spark.operators import text as T

    train = spark.createDataFrame(
        [(0, "...", "empty"), (1, "alpha beta", "full"),
         (2, "alpha gamma", "full")],
        "doc_id long, text string, lang string",
    )
    pri, lik = T.nb_train(train, label_col="lang")
    rows = {r.label: r for r in pri.collect()}
    assert set(rows) == {"empty", "full"}
    assert rows["empty"].n_docs == 1
    assert rows["empty"].unseen_bits is not None


def test_nb_score_keeps_null_text_docs(spark):
    """NULL-text docs rank on the prior alone — never silently dropped
    from a routing pipeline (code-review r12)."""
    from hive_io_experimental_spark.operators import text as T

    train = spark.createDataFrame(
        [(0, "alpha beta", "big"), (1, "alpha gamma", "big"),
         (2, "zeta", "small")],
        "doc_id long, text string, lang string",
    )
    test = spark.createDataFrame(
        [(10, None), (11, "alpha")], "doc_id long, text string"
    )
    pri, lik = T.nb_train(train, label_col="lang")
    got = {r.doc_id: r for r in T.nb_score(test, pri, lik).collect()}
    assert set(got) == {10, 11}
    assert got[10].label == "big" and got[10].n_tokens == 0


def test_nb_model_lifecycle_build_score_check(spark, sf_dir, tmp_path):
    """Persisted classifier artifact: stored-model scoring equals
    in-memory train+score row for row; consistency check reports zero
    mismatches; a torn rebuild is refused."""
    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.operators import text as T

    cat = Catalog(str(tmp_path / "wh"))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 200
    )
    T.nb_build_model(spark, cat, "default.nb_m", docs, label_col="lang")
    served = T.nb_score_from_model(spark, cat, "default.nb_m", docs)
    pri, lik = T.nb_train(docs, label_col="lang")
    direct = T.nb_score(docs, pri, lik)
    assert served.exceptAll(direct).isEmpty()
    assert direct.exceptAll(served).isEmpty()
    chk = T.nb_model_consistency_check(
        spark, cat, "default.nb_m", docs, label_col="lang"
    ).first()
    assert chk.n_labels > 0 and chk.n_model_rows > 0
    assert chk.n_prior_mismatch == 0
    assert chk.n_likelihood_mismatch == 0
    assert chk.n_score_mismatch == 0


def test_nb_model_refuses_torn_rebuild(spark, tmp_path):
    from pyspark.sql import types as T_

    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.operators import text as T
    from hive_io_experimental_spark.output import HiveOutput, WriteSpec
    from hive_io_experimental_spark.schema import HiveTableSchema

    cat = Catalog(str(tmp_path / "wh"))
    docs = spark.createDataFrame(
        [(0, "alpha beta", "a"), (1, "gamma delta", "b")],
        "doc_id long, text string, lang string",
    )
    T.nb_build_model(spark, cat, "default.nb_torn", docs, label_col="lang")
    # meta re-stamped, priors/likelihoods keep the old stamp
    schema = HiveTableSchema((
        ("n_labels", T_.LongType()),
        ("n_model_rows", T_.LongType()),
        ("build_id", T_.StringType()),
    ))
    cat.drop_table("default.nb_torn_meta", delete_data=True)
    cat.create_table("default.nb_torn_meta", schema)
    HiveOutput(spark, cat).write_table(
        WriteSpec(table="default.nb_torn_meta"),
        spark.createDataFrame(
            [(2, 4, "torn-stamp")], schema.to_struct_type()
        ),
    )
    with pytest.raises(ValueError, match="mixed build_id"):
        T.nb_score_from_model(spark, cat, "default.nb_torn", docs)
    # folding a batch into a torn model would entrench the tear
    with pytest.raises(ValueError, match="mixed build_id"):
        T.nb_update_model(
            spark, cat, "default.nb_torn", docs, label_col="lang"
        )


def test_nb_model_refuses_zero_meta_with_stale_likelihoods(spark, tmp_path):
    """The n_model_rows = 0 escape hatch in _nb_load_model (a
    legitimately tokenless training corpus) must NOT trust meta blindly:
    a torn rebuild that wrote new meta/priors but crashed before
    dropping the OLD likelihoods would otherwise silently feed the
    previous build's likelihood rows into scoring (r12 ADVICE)."""
    from pyspark.sql import types as T_

    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.input import HiveInput, ScanSpec
    from hive_io_experimental_spark.operators import text as T
    from hive_io_experimental_spark.output import HiveOutput, WriteSpec
    from hive_io_experimental_spark.schema import HiveTableSchema

    cat = Catalog(str(tmp_path / "wh"))
    docs = spark.createDataFrame(
        [(0, "alpha beta", "a"), (1, "gamma delta", "b")],
        "doc_id long, text string, lang string",
    )
    T.nb_build_model(spark, cat, "default.nb_zero", docs, label_col="lang")
    bid = HiveInput(spark, cat).read_table(
        ScanSpec(table="default.nb_zero_meta")
    ).first()["build_id"]
    # meta rewritten to claim an empty model under the SAME stamp —
    # the likelihoods table still holds the (now officially absent) rows
    schema = HiveTableSchema((
        ("n_labels", T_.LongType()),
        ("n_model_rows", T_.LongType()),
        ("build_id", T_.StringType()),
    ))
    cat.drop_table("default.nb_zero_meta", delete_data=True)
    cat.create_table("default.nb_zero_meta", schema)
    HiveOutput(spark, cat).write_table(
        WriteSpec(table="default.nb_zero_meta"),
        spark.createDataFrame([(2, 0, bid)], schema.to_struct_type()),
    )
    with pytest.raises(ValueError, match="non-empty"):
        T.nb_score_from_model(spark, cat, "default.nb_zero", docs)


def test_nb_update_model_equals_full_retrain_exactly(
    spark, sf_dir, tmp_path
):
    """The incremental-fold contract: build(b1) then update(b2) equals
    build(b1 ∪ b2) on ALL THREE stored tables bit-identically (modulo
    build_id) — counts merge as integers, bits re-derive through the
    same expressions. The corpus split crosses label boundaries so the
    merge exercises add-to-existing, and the consistency check against
    the union corpus is the end-to-end proof."""
    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.input import HiveInput, ScanSpec
    from hive_io_experimental_spark.operators import text as T

    cat = Catalog(str(tmp_path / "wh"))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 300
    )
    b1 = docs.filter(F.col("doc_id") % 3 != 0)
    b2 = docs.filter(F.col("doc_id") % 3 == 0)
    T.nb_build_model(spark, cat, "default.nb_inc", b1, label_col="lang")
    bid = T.nb_update_model(
        spark, cat, "default.nb_inc", b2, label_col="lang"
    )
    assert bid
    T.nb_build_model(spark, cat, "default.nb_full", docs, label_col="lang")
    inp = HiveInput(spark, cat)
    for suffix in ("", "_priors", "_meta"):
        a = inp.read_table(
            ScanSpec(table=f"default.nb_inc{suffix}")
        ).drop("build_id", "last_update_fp")
        b = inp.read_table(
            ScanSpec(table=f"default.nb_full{suffix}")
        ).drop("build_id", "last_update_fp")
        assert a.exceptAll(b).isEmpty(), f"extra rows in updated{suffix}"
        assert b.exceptAll(a).isEmpty(), f"missing rows in updated{suffix}"
    chk = T.nb_model_consistency_check(
        spark, cat, "default.nb_inc", docs, label_col="lang"
    ).first()
    assert chk.n_prior_mismatch == 0
    assert chk.n_likelihood_mismatch == 0
    assert chk.n_score_mismatch == 0


def test_nb_update_model_new_label_and_empty_batch(spark, tmp_path):
    """A batch introducing an UNSEEN label grows the model exactly like
    a full retrain (the full-outer merge side); an empty batch is a
    no-op returning None and leaving the stored version untouched."""
    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.input import HiveInput, ScanSpec
    from hive_io_experimental_spark.operators import text as T

    cat = Catalog(str(tmp_path / "wh"))
    b1 = spark.createDataFrame(
        [(0, "apfel birne", "de"), (1, "apple pear", "en"),
         (2, "pear apple apple", "en")],
        "doc_id long, text string, lang string",
    )
    b2 = spark.createDataFrame(
        [(3, "pomme poire", "fr"), (4, "apple birne", "en")],
        "doc_id long, text string, lang string",
    )
    T.nb_build_model(spark, cat, "default.nb_grow", b1, label_col="lang")
    T.nb_update_model(spark, cat, "default.nb_grow", b2, label_col="lang")
    T.nb_build_model(
        spark, cat, "default.nb_growf", b1.unionAll(b2), label_col="lang"
    )
    inp = HiveInput(spark, cat)
    for suffix in ("", "_priors", "_meta"):
        a = inp.read_table(
            ScanSpec(table=f"default.nb_grow{suffix}")
        ).drop("build_id", "last_update_fp")
        b = inp.read_table(
            ScanSpec(table=f"default.nb_growf{suffix}")
        ).drop("build_id", "last_update_fp")
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
    before = inp.read_table(
        ScanSpec(table="default.nb_grow_meta")
    ).first()["build_id"]
    assert T.nb_update_model(
        spark, cat, "default.nb_grow", b2.filter(F.col("doc_id") < 0),
        label_col="lang",
    ) is None
    after = inp.read_table(
        ScanSpec(table="default.nb_grow_meta")
    ).first()["build_id"]
    assert before == after


def test_nb_update_model_refuses_pre_count_schema(spark, tmp_path):
    """A model persisted before the count-carrying schema holds only
    derived bits — the exact fold is impossible and the update must
    point at a one-time rebuild, not fold garbage."""
    from pyspark.sql import types as T_

    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.input import HiveInput, ScanSpec
    from hive_io_experimental_spark.operators import text as T
    from hive_io_experimental_spark.output import HiveOutput, WriteSpec
    from hive_io_experimental_spark.schema import HiveTableSchema

    cat = Catalog(str(tmp_path / "wh"))
    docs = spark.createDataFrame(
        [(0, "alpha beta", "a"), (1, "gamma delta", "b")],
        "doc_id long, text string, lang string",
    )
    T.nb_build_model(spark, cat, "default.nb_old", docs, label_col="lang")
    # rewrite all three tables to the round-13 column set under one
    # consistent stamp (the legacy-model layout)
    inp = HiveInput(spark, cat)
    out = HiveOutput(spark, cat)
    meta0 = inp.read_table(ScanSpec(table="default.nb_old_meta")).first()
    legacy = {
        "default.nb_old_meta": (
            HiveTableSchema((
                ("n_labels", T_.LongType()),
                ("n_model_rows", T_.LongType()),
                ("build_id", T_.StringType()),
            )),
            spark.createDataFrame(
                [(meta0["n_labels"], meta0["n_model_rows"],
                  meta0["build_id"])],
                "n_labels long, n_model_rows long, build_id string",
            ),
        ),
        "default.nb_old_priors": (
            HiveTableSchema((
                ("label", T_.StringType()),
                ("n_docs", T_.LongType()),
                ("prior_bits", T_.DoubleType()),
                ("unseen_bits", T_.DoubleType()),
                ("build_id", T_.StringType()),
            )),
            inp.read_table(ScanSpec(table="default.nb_old_priors")).select(
                "label", "n_docs", "prior_bits", "unseen_bits", "build_id"
            ).localCheckpoint(),
        ),
        "default.nb_old": (
            HiveTableSchema((
                ("label", T_.StringType()),
                ("token", T_.StringType()),
                ("bits", T_.DoubleType()),
                ("build_id", T_.StringType()),
            )),
            inp.read_table(ScanSpec(table="default.nb_old")).select(
                "label", "token", "bits", "build_id"
            ).localCheckpoint(),
        ),
    }
    for tbl, (schema, frame) in legacy.items():
        cat.drop_table(tbl, delete_data=True)
        cat.create_table(tbl, schema)
        out.write_table(WriteSpec(table=tbl), frame)
    # scoring still works on the legacy layout ...
    assert T.nb_score_from_model(
        spark, cat, "default.nb_old", docs
    ).count() == 2
    # ... but the incremental fold refuses it
    with pytest.raises(ValueError, match="count-carrying"):
        T.nb_update_model(spark, cat, "default.nb_old", docs,
                          label_col="lang")


def test_random_projection_straddles_literal_cap_at_encoder_width(spark):
    """The dial that matters at real encoder width (r13 verdict task 7):
    at dim=1024, out_dim=8 is EXACTLY _MAX_RP_LITERAL_CELLS (literal
    still allowed) and out_dim=9 is one step past it (table only) — the
    two methods must be BIT-identical at the straddle point, and 'auto'
    must route literal at the cap / table past it (probed behaviorally:
    only the table path trips the `_rp_signs` collision fence)."""
    from hive_io_experimental_spark.operators.similarity import (
        _MAX_RP_LITERAL_CELLS,
        random_projection,
    )

    dim = 1024
    assert 8 * dim == _MAX_RP_LITERAL_CELLS
    corpus = spark.createDataFrame(
        [(i, [((i * 31 + d * 37) % 101) * 0.0625 - 3.0
              for d in range(dim)])
         for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    lit = {
        r["vec_id"]: list(r["projected"])
        for r in random_projection(
            corpus, out_dim=8, method="literal"
        ).collect()
    }
    tab = {
        r["vec_id"]: list(r["projected"])
        for r in random_projection(
            corpus, out_dim=8, method="table"
        ).collect()
    }
    assert lit == tab  # exact float equality at encoder width
    # auto routing, probed without reading plans: a corpus carrying
    # `_rp_signs` passes the literal path and is refused by the table
    # path, so auto@cap must succeed and auto@cap+1 must raise
    tagged = corpus.withColumn("_rp_signs", F.lit("x"))
    assert random_projection(tagged, out_dim=8).count() == 20
    with pytest.raises(ValueError, match="_rp_signs"):
        random_projection(tagged, out_dim=9)


def test_nb_update_model_redelivery_is_noop(spark, tmp_path):
    """At-least-once retry of the SAME delivery must not double-count
    (counting is not idempotent — unlike the index appends' anti-joins):
    meta fingerprints the last folded batch, a bit-identical re-delivery
    returns None leaving the stored version untouched, and a genuinely
    NEW batch still folds."""
    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.input import HiveInput, ScanSpec
    from hive_io_experimental_spark.operators import text as T

    cat = Catalog(str(tmp_path / "wh"))
    b1 = spark.createDataFrame(
        [(0, "apfel birne", "de"), (1, "apple pear", "en")],
        "doc_id long, text string, lang string",
    )
    b2 = spark.createDataFrame(
        [(2, "pear apple apple", "en")],
        "doc_id long, text string, lang string",
    )
    T.nb_build_model(spark, cat, "default.nb_rd", b1, label_col="lang")
    bid = T.nb_update_model(spark, cat, "default.nb_rd", b2,
                            label_col="lang")
    assert bid
    inp = HiveInput(spark, cat)

    def meta():
        return inp.read_table(ScanSpec(table="default.nb_rd_meta")).first()

    m1 = meta()
    assert m1["n_docs_total"] == 3
    # the same batch re-delivered (even reordered/repartitioned): no-op
    assert T.nb_update_model(
        spark, cat, "default.nb_rd", b2.repartition(4), label_col="lang"
    ) is None
    m2 = meta()
    assert m2["build_id"] == m1["build_id"]
    assert m2["n_docs_total"] == 3
    # a distinct batch still folds (fingerprint differs)
    b3 = spark.createDataFrame(
        [(3, "pomme", "fr")], "doc_id long, text string, lang string",
    )
    assert T.nb_update_model(spark, cat, "default.nb_rd", b3,
                             label_col="lang")
    assert meta()["n_docs_total"] == 4

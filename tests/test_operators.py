"""Semantic edge-case tests for the extension operators.

The DuckDB oracle (tools/check_oracle.py, driver CORRECTNESS gate) covers
value parity on the synthetic tables; these tests pin the operators' *own*
semantics on constructed corner cases: exact duplicates, empty/short texts,
unicode, known-similar pairs, self-similarity.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hive_io_experimental_spark.operators import dedup, incremental, multimodal, relational, similarity, text


def docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def test_exact_dedup_groups_normalized_duplicates(spark):
    df = docs_df(
        spark,
        ["Hello  World", "hello world", "HELLO\tWORLD", "something else"],
    )
    got = {r.kept_id: r.dup_count for r in dedup.exact_dedup(df).collect()}
    # three normalize-equal variants collapse to min doc_id 0 with count 3
    assert got[0] == 3 and got[3] == 1


def test_ngram_jaccard_identical_docs_score_one(spark):
    t = "the quick brown fox jumps over the lazy dog"
    df = docs_df(spark, [t, t, "completely different words here entirely now"])
    pairs = dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert [(r.a_id, r.b_id, r.jaccard) for r in pairs] == [(0, 1, 1.0)]


def test_minhash_lsh_finds_identical_docs(spark):
    t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = docs_df(spark, [t, t, "unrelated totally different text goes right here"])
    cands = {(r.a_id, r.b_id) for r in dedup.minhash_lsh_candidates(df).collect()}
    assert (0, 1) in cands
    assert (0, 2) not in cands and (1, 2) not in cands


def test_simhash_identical_and_empty(spark):
    t = "one two three four five six seven eight nine ten"
    df = docs_df(spark, [t, t, ""])
    got = {r.id: r.simhash for r in dedup.simhash(df).collect()}
    assert got[0] == got[1]           # identical text -> identical simhash
    assert got[2] == 0                # zero tokens -> simhash 0
    assert 0 <= got[0] < (1 << 60)    # fits positive signed long


def test_simhash_pairs_hamming(spark):
    t = "one two three four five six seven eight nine ten"
    df = docs_df(spark, [t, t])
    pairs = dedup.simhash_pairs(df, max_hamming=0).collect()
    assert [(r.a_id, r.b_id, r.hamming) for r in pairs] == [(0, 1, 0)]


def test_embedding_neardup_detects_parallel_vectors(spark):
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [2.0, 0.0, 0.0]),   # same direction as 0 -> cosine 1.0
            (2, [0.0, 1.0, 0.0]),   # orthogonal
        ],
        "vec_id long, embedding array<double>",
    )
    pairs = dedup.embedding_neardup(df, threshold=0.99).collect()
    assert [(r.a_id, r.b_id, r.cosine) for r in pairs] == [(0, 1, 1.0)]


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------

def test_cosine_topk_ranks_by_similarity(spark):
    corpus = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 1.0]),
            (3, [-1.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.filter(F.col("vec_id") == 0)
    got = similarity.cosine_topk(corpus, queries, k=3).collect()
    order = [r.neighbor_id for r in sorted(got, key=lambda r: r.rank)]
    assert order == [1, 2, 3]  # descending cosine: ~0.994, 0, -1


def test_lsh_bucket_recall_on_identical_vectors(spark):
    # identical vectors must share a bucket under any hyperplane set
    df = spark.createDataFrame(
        [(0, [0.5, -1.0, 2.0]), (1, [0.5, -1.0, 2.0]), (2, [-3.0, 1.0, 0.1])],
        "vec_id long, embedding array<double>",
    )
    b = {r.id: r.bucket for r in similarity.hyperplane_lsh_buckets(df).collect()}
    assert b[0] == b[1]


# ---------------------------------------------------------------------------
# text
# ---------------------------------------------------------------------------

def test_text_metrics_counts(spark):
    df = docs_df(spark, ["The cat sat on the mat.", ""])
    m = {r.doc_id: r for r in text.text_metrics(df).collect()}
    assert m[0].n_tokens == 6
    assert m[0].n_uniq_tokens == 5          # 'the' twice (lowercased)
    assert m[0].n_chars == 23
    # empty doc: no tokens; ratios NULL (0/0), not a crash
    assert m[1].n_tokens == 0


def test_lang_id_markers(spark):
    df = docs_df(
        spark,
        [
            "the cat and the dog of a house is in the garden",
            "der hund und die katze ist nicht ein tier",
            "el perro y la casa que los gatos una vez",
            "你好世界",  # CJK -> zh
        ],
    )
    got = {r.doc_id: r.lang_pred for r in text.lang_id(df).collect()}
    assert got == {0: "en", 1: "de", 2: "es", 3: "zh"}


def test_fingerprint_stable_under_whitespace(spark):
    df = docs_df(spark, ["Hello   World", "hello world", "other"])
    fps = {r.doc_id: r.fp for r in text.fingerprint(df).collect()}
    assert fps[0] == fps[1] != fps[2]


def test_token_histogram_top1(spark):
    df = docs_df(spark, ["a a a b b c", "a b"])
    top = text.token_histogram(df, top_n=2).collect()
    assert [(r.token, r.cnt) for r in top] == [("a", 4), ("b", 3)]


# ---------------------------------------------------------------------------
# relational edge semantics
# ---------------------------------------------------------------------------

def test_sessionize_gap_boundary(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: gap exactly 30min -> NOT a new session (> comparison)
        (1, base, 1),
        (1, base + dt.timedelta(minutes=30), 2),
        # then 30min + 1s -> new session
        (1, base + dt.timedelta(minutes=60, seconds=1), 3),
        # user 2: single event
        (2, base, 4),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    got = {r.user_id: (r.n_sessions, r.n_events)
           for r in relational.sessionize(df).collect()}
    assert got == {1: (2, 3), 2: (1, 1)}


def test_pricing_summary_exact_decimal(spark):
    df = spark.createDataFrame(
        [("A", "F", 1.0, 10.00, 0.10, 0.05),
         ("A", "F", 2.0, 20.00, 0.00, 0.00)],
        "l_returnflag string, l_linestatus string, l_quantity double, "
        "l_extendedprice double, l_discount double, l_tax double",
    )
    r = relational.pricing_summary(df).collect()[0]
    assert r.sum_qty == 3.0
    assert r.sum_base_price == 30.0
    assert r.sum_disc_price == 9.0 + 20.0          # 10*0.9 + 20*1.0
    assert r.sum_charge == pytest.approx(9.0 * 1.05 + 20.0, abs=1e-9)
    assert r.count_order == 2


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------

def test_multimodal_decode_roundtrip(spark):
    df = docs_df(spark, ["abcd", "x" * 100])
    decoded = multimodal.decode_media_metadata(
        multimodal.attach_binary_payload(df)
    ).collect()
    by_id = {r.doc_id: r for r in decoded}
    assert by_id[0].n_bytes == 4
    assert by_id[0].width == 4 % 64 + 16
    assert by_id[1].n_bytes == 100
    assert by_id[1].format == "png"  # even byte count


def test_frame_sample_plan_rows(spark):
    df = multimodal.attach_binary_payload(docs_df(spark, ["some video bytes"]))
    rows = multimodal.frame_sample_plan(df, n_frames=4).collect()
    assert len(rows) == 4
    assert [r.frame_slot for r in rows] == [0, 1, 2, 3]


def test_winnowing_shared_substring_guarantee(spark):
    """MOSS guarantee: a shared substring of length >= k + window - 1 (= 8)
    produces at least one shared fingerprint; short docs emit nothing."""
    from hive_io_experimental_spark.operators.text import winnowing_fingerprints

    shared = "identical stretch of text here"
    df = spark.createDataFrame(
        [
            (1, f"prefix one {shared} suffix alpha"),
            (2, f"other beginning {shared} different tail"),
            (3, "completely unrelated content with nothing in common xyz"),
            (4, "abc"),  # shorter than k=5 -> no grams -> no fingerprints
        ],
        "doc_id long, text string",
    )
    fps = winnowing_fingerprints(df).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "shared substring must share a fingerprint"
    assert 4 not in by_doc
    # doc 3 shares far fewer (likely zero) fingerprints with doc 1
    assert len(by_doc.get(3, set()) & by_doc[1]) < len(by_doc[1] & by_doc[2])


def test_token_counts_hand_checked(spark):
    from hive_io_experimental_spark.operators.text import token_counts

    df = spark.createDataFrame(
        [(1, "Hello, world! AI")], "doc_id long, text string"
    )
    r = token_counts(df).collect()[0]
    assert r.n_ws_tokens == 3        # "Hello,", "world!", "AI"
    assert r.n_word_tokens == 3      # hello, world, ai
    assert r.n_sym_chars == 2        # ',' '!'
    # ceil(5/4)+ceil(5/4)+ceil(2/4) = 2+2+1 = 5 word pieces + 2 symbols
    assert r.est_bpe_tokens == 7


def test_ivf_trained_recall_vs_brute(spark, sf_dir):
    """The trained-quantizer IVF has no SQL oracle (iterative KMeans);
    bound its recall against the exact brute-force top-k instead."""
    from pyspark.sql import functions as F

    from hive_io_experimental_spark.operators.similarity import (
        cosine_topk,
        ivf_topk_trained,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    k = 5
    brute = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=k).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk_trained(
            emb, queries, k=k, n_centroids=4, nprobe=2
        ).collect()
    }
    assert brute, "brute-force baseline must not be empty"
    recall = len(brute & approx) / len(brute)
    # nprobe/n_centroids = half the corpus scanned; random near-orthogonal
    # synthetic vectors make ANN recall weak by nature — bound loosely.
    assert recall >= 0.3, f"recall {recall:.2f}"
    # every returned neighbor must be a genuine corpus vector, ranked 1..k
    ranks = [
        r.rank for r in ivf_topk_trained(
            emb, queries, k=k, n_centroids=4, nprobe=2
        ).collect()
    ]
    assert ranks and all(1 <= r <= k for r in ranks)


def test_multimodal_feature_extraction(spark):
    """Byte-feature stage: golden values on known payloads."""
    import math

    from hive_io_experimental_spark.operators.multimodal import (
        attach_binary_payload,
        extract_features,
    )

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "ab"), (3, "")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in extract_features(attach_binary_payload(df)).collect()}
    # 'aaaa': 4 identical bytes -> entropy 0
    assert rows[1].n_bytes == 4 and rows[1].n_distinct_bytes == 1
    assert rows[1].byte_entropy == 0.0
    assert rows[1].mean_byte == float(ord("a"))
    # 'ab': two equiprobable bytes -> entropy exactly 1 bit
    assert rows[2].n_distinct_bytes == 2
    assert abs(rows[2].byte_entropy - 1.0) < 1e-12
    assert rows[2].mean_byte == (ord("a") + ord("b")) / 2
    # empty payload -> NULL mean (no bytes to average)
    assert rows[3].n_bytes == 0 and rows[3].mean_byte is None


def test_redact_pii_masks_and_counts(spark):
    from hive_io_experimental_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@example.co.uk or call +1 555-123-4567."),
            (2, "server at 10.0.255.1 answered"),
            (3, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in redact_pii(df).collect()}
    assert "[EMAIL]" in rows[1].redacted and "[PHONE]" in rows[1].redacted
    assert "jane" not in rows[1].redacted and "555" not in rows[1].redacted
    assert rows[1].n_email == 1 and rows[1].n_phone == 1 and rows[1].n_ipv4 == 0
    assert rows[2].redacted == "server at [IP] answered"
    assert rows[2].n_ipv4 == 1
    assert rows[3].redacted == "nothing sensitive here"
    assert rows[3].n_email == rows[3].n_phone == rows[3].n_ipv4 == 0


def test_quality_filter_drops_degenerate_docs(spark):
    from hive_io_experimental_spark.operators.text import quality_filter

    long_varied = " ".join(f"word{i} thing{i}" for i in range(40))
    repetitious = " ".join(["spam"] * 80)
    df = spark.createDataFrame(
        [(1, long_varied), (2, repetitious), (3, "too short"), (4, "")],
        "doc_id long, text string",
    )
    kept = {r.doc_id for r in quality_filter(df).collect()}
    assert kept == {1}  # repetition fails uniq_ratio, short fails floor,
    # empty has NULL ratios (dropped)


def test_duplicate_clusters_chain(spark):
    """A~B and B~C near-dups must land in ONE cluster even if A and C never
    share a band (transitive closure), and unrelated docs stay singletons."""
    from hive_io_experimental_spark.operators.dedup import duplicate_clusters

    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base.upper()),          # exact dup of 1 after normalization
            (3, base + " extra tail"),  # near-dup bridging 1/2 to itself
            (4, "a completely different document about query engines"),
        ],
        "doc_id long, text string",
    )
    clusters = {r.doc_id: r.cluster_id for r in duplicate_clusters(df).collect()}
    assert clusters[1] == clusters[2] == 1
    assert clusters[4] == 4
    # doc 3 joins the cluster iff LSH bands link it; either way doc 4 alone
    assert clusters[3] in (1, 3)


def test_embedding_neardup_enforces_block_cap(spark):
    """The exact all-pairs contract is bounded: past max_blocks the
    operator must refuse with guidance, not emit a quadratic plan."""
    import pytest as _pytest

    from hive_io_experimental_spark.operators.dedup import embedding_neardup

    df = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    with _pytest.raises(ValueError, match="LSH-bucket first"):
        embedding_neardup(df, block_rows=1, max_blocks=4)


def test_hash_stratified_sample_deterministic_and_rated(spark, sf_dir):
    from hive_io_experimental_spark.operators.sampling import (
        hash_stratified_sample,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rates = {"de": 1.0, "en": 0.5}
    kept1 = {r.doc_id for r in hash_stratified_sample(docs, rates).collect()}
    kept2 = {r.doc_id for r in hash_stratified_sample(docs, rates).collect()}
    assert kept1 == kept2  # bit-reproducible, no RNG
    by_lang = {
        r.lang: r.n
        for r in hash_stratified_sample(docs, rates)
        .groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    totals = {
        r.lang: r.n
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert by_lang.get("de") == totals["de"]        # rate 1.0 keeps all
    assert 0 < by_lang.get("en", 0) < totals["en"]  # rate 0.5 keeps a strict subset
    assert "zh" not in by_lang                      # default rate 0 drops others
    # a different salt draws an independent sample
    other = {
        r.doc_id
        for r in hash_stratified_sample(docs, rates, salt="other:").collect()
    }
    assert other != kept1


def test_funnel_counts_ordering_semantics(spark):
    """First-touch funnel: a user whose purchase precedes the click must not
    count as completing the 3-step funnel."""
    import datetime as dt

    from hive_io_experimental_spark.operators.relational import funnel_counts

    def t(h):
        return dt.datetime(2024, 1, 1, h)

    rows = [
        # user 1: signup -> click -> purchase (completes all 3)
        (1, t(1), 1, "signup", 1.0), (2, t(2), 1, "click", 1.0),
        (3, t(3), 1, "purchase", 5.0),
        # user 2: purchase BEFORE click (completes only 2 steps)
        (4, t(1), 2, "signup", 1.0), (5, t(3), 2, "click", 1.0),
        (6, t(2), 2, "purchase", 5.0),
        # user 3: only signup
        (7, t(1), 3, "signup", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = {r.step: r.n_users for r in funnel_counts(df).collect()}
    assert got == {"signup": 3, "click": 2, "purchase": 1}


def test_trailing_purchase_window(spark):
    """RANGE frame: only purchases within the trailing horizon count."""
    import datetime as dt

    from hive_io_experimental_spark.operators.relational import (
        trailing_purchase_stats,
    )

    def d(day):
        return dt.datetime(2024, 1, day)

    rows = [
        (1, d(1), 7, "purchase", 10.0),
        (2, d(10), 7, "purchase", 20.0),   # day 1 within 30d -> n=2
        (3, d(25), 7, "purchase", 30.0),   # days 1,10 within -> n=3
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = {r.event_id: (r.n_trailing, r.sum_trailing)
           for r in trailing_purchase_stats(df, days=30).collect()}
    assert got == {1: (1, 10.0), 2: (2, 30.0), 3: (3, 60.0)}

    tight = {r.event_id: r.n_trailing
             for r in trailing_purchase_stats(df, days=5).collect()}
    assert tight == {1: 1, 2: 1, 3: 1}  # horizon excludes earlier purchases


def test_numeric_outliers_flags_extremes(spark):
    from hive_io_experimental_spark.operators.profile import numeric_outliers

    rows = [(i, float(i % 7)) for i in range(100)] + [(100, 1000.0)]
    df = spark.createDataFrame(rows, "event_id long, value double")
    out = numeric_outliers(df, "value", "event_id").collect()
    assert [r.id for r in out] == [100]
    assert out[0].zscore > 3


def test_event_props_stats_extracts_json(spark):
    from hive_io_experimental_spark.operators import relational

    df = spark.createDataFrame(
        [
            (1, "click", '{"k": 10}'),
            (2, "click", '{"k": 20}'),
            (3, "click", "{}"),
            (4, "view", '{"k": 7}'),
            (5, "view", None),
        ],
        "event_id long, event_type string, props string",
    )
    rows = {
        r["event_type"]: r
        for r in relational.event_props_stats(df).collect()
    }
    assert rows["click"]["n_events"] == 3
    assert rows["click"]["n_with_key"] == 2  # missing key -> NULL, not counted
    assert rows["click"]["sum_key"] == 30
    assert rows["view"]["n_with_key"] == 1 and rows["view"]["max_key"] == 7


def test_retention_cohorts_week_offsets(spark):
    from hive_io_experimental_spark.operators import relational

    wk = 7 * 86_400_000_000  # one week of microseconds
    def ts(week, off=0):
        return (week * wk + off) // 1000  # epoch millis for timestamp_millis

    df = spark.createDataFrame(
        [
            # user 1 signs up week 0, active weeks 0 and 2
            (1, 1, "signup", ts(0)),
            (2, 1, "click", ts(2)),
            # user 2 signs up week 0, active week 0 only (pre-signup event
            # in week-(-1) territory must not count)
            (3, 2, "click", 0),
            (4, 2, "signup", ts(0, 1)),
            # user 3 never signs up -> excluded entirely
            (5, 3, "click", ts(1)),
        ],
        "event_id long, user_id long, event_type string, ms long",
    ).selectExpr("event_id", "user_id", "event_type",
                 "timestamp_millis(ms) AS ts")
    out = {
        (r["cohort_week_epoch"], r["week_offset"]): r["n_active_users"]
        for r in relational.retention_cohorts(df).collect()
    }
    assert out == {(0, 0): 2, (0, 2): 1}


def test_cold_customers_threshold_and_order_cap(spark):
    from hive_io_experimental_spark.operators import relational

    customer = spark.createDataFrame(
        [
            (1, "a", 1, 100.0, "B"),   # above avg, 0 orders -> kept
            (2, "b", 1, 90.0, "B"),    # above avg, 6 orders -> dropped
            (3, "c", 2, 80.0, "B"),    # above avg, 2 orders -> kept
            (4, "d", 2, 10.0, "B"),    # below avg -> dropped
            (5, "e", 2, -50.0, "B"),   # negative: excluded from avg, below
        ],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string",
    )
    # positive-balance avg = (100+90+80+10)/4 = 70
    orders = spark.createDataFrame(
        [(i, 2) for i in range(6)] + [(10, 3), (11, 3)],
        "o_orderkey long, o_custkey long",
    )
    rows = {
        r["nationkey"]: (r["n_customers"], r["total_acctbal"])
        for r in relational.cold_customers(customer, orders, max_orders=5).collect()
    }
    assert rows == {1: (1, 100.0), 2: (1, 80.0)}


def test_tfidf_rare_term_outscores_common(spark):
    from hive_io_experimental_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "apple cherry"),
            (3, "apple banana"),
        ],
        "doc_id long, text string",
    )
    out = text_ops.tfidf_top_terms(df, top_n=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 'apple' appears in every doc -> lowest idf; doc 2's top term must be
    # the doc-unique 'cherry'
    top2 = sorted(by_doc[2], key=lambda r: r["rank"])
    assert top2[0]["token"] == "cherry"
    assert top2[0]["df"] == 1 and top2[0]["tf"] == 1
    # doc 1: 'apple' tf=2 vs 'banana' df=2 -- both present, ranks are
    # deterministic (score desc, token asc)
    assert [r["rank"] for r in sorted(by_doc[1], key=lambda r: r["rank"])] == [1, 2]


def test_label_centroid_stats_separated_clusters(spark):
    from hive_io_experimental_spark.operators import similarity

    # two orthogonal tight clusters -> every vector's nearest centroid is
    # its own label and mean cosine to own centroid is ~1
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.9, 0.0], 0),
        (3, [0.0, 1.0], 1),
        (4, [0.0, 1.1], 1),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r["label"]: r for r in similarity.label_centroid_stats(df).collect()}
    assert out[0]["n_vectors"] == 2 and out[1]["n_vectors"] == 2
    assert out[0]["n_nearest_own"] == 2 and out[1]["n_nearest_own"] == 2
    assert out[0]["avg_cos_centroid"] > 0.999
    assert out[1]["avg_cos_centroid"] > 0.999


def test_doc_repetition_flags_boilerplate(spark):
    from hive_io_experimental_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam"),        # one trigram repeated 3x
            (2, "alpha beta gamma delta epsilon"),  # all trigrams distinct
            (3, "too short"),                       # < 3 words -> no grams
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in text_ops.doc_repetition(df).collect()}
    assert 3 not in rows
    assert rows[1]["n_grams"] == 3 and rows[1]["n_distinct_grams"] == 1
    assert rows[1]["top_gram_ratio"] == 1.0
    assert rows[2]["n_grams"] == 3 and rows[2]["distinct_gram_ratio"] == 1.0


def test_source_mix_groups_and_sums(spark):
    from hive_io_experimental_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [
            (1, "one two three four", "a"),
            (2, "five six seven eight", "a"),
            (3, "nine ten", "b"),
        ],
        "doc_id long, text string, source string",
    )
    out = text_ops.source_mix(df)
    # integer-exact contract: no double column in the gate output
    assert [f.dataType.simpleString() for f in out.schema.fields
            if f.name != "source"] == ["bigint"] * 4
    rows = {r["source"]: r for r in out.collect()}
    assert rows["a"]["n_docs"] == 2 and rows["b"]["n_docs"] == 1
    assert rows["a"]["sum_tokens"] == 8  # avg 4.0 over 2 docs
    assert rows["b"]["sum_tokens"] == 2
    # quality is e6-quantized: sum/1e6/n_docs reconstructs the average
    assert 0 <= rows["a"]["sum_quality_e6"] / 1e6 / 2 <= 1


def test_funnel_diagnostics_consistent(spark):
    """The integer diagnostic gates must agree with funnel_counts on the
    same input (step_counts == the melted n_users; extrema counts bound
    the step-0 funnel count)."""
    from hive_io_experimental_spark.operators.relational import (
        funnel_counts,
        funnel_step_counts,
        funnel_user_extrema,
    )
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    # u1 completes in order; u2 purchase-before-click; u3 signup only
    for i, (u, typ, off) in enumerate([
        (1, "signup", 0), (1, "click", 10), (1, "purchase", 20),
        (2, "signup", 0), (2, "purchase", 5), (2, "click", 8),
        (3, "signup", 0),
    ]):
        rows.append((i, u, typ, base + dt.timedelta(minutes=off)))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    funnel = {r.step: r.n_users for r in funnel_counts(df).collect()}
    sc = funnel_step_counts(df).collect()[0]
    assert (sc.n0, sc.n1, sc.n2) == (
        funnel["signup"], funnel["click"], funnel["purchase"]
    ) == (3, 2, 1)
    ex = funnel_user_extrema(df).collect()[0]
    assert ex.cnt_t0 == 3 and ex.cnt_t1 == 2 and ex.cnt_t2 == 2
    assert ex.min_t0 <= ex.max_t0 and ex.sum_t0 >= ex.max_t0


def test_group_percentiles_interpolation(spark):
    from hive_io_experimental_spark.operators import profile as profile_ops

    df = spark.createDataFrame(
        [("a", float(v)) for v in range(1, 6)] + [("b", 10.0), ("b", 20.0)],
        "event_type string, value double",
    )
    rows = {
        r["grp"]: r
        for r in profile_ops.group_percentiles(
            df, percentiles=(0.5, 0.9)
        ).collect()
    }
    assert rows["a"]["n"] == 5 and rows["a"]["p50"] == 3.0
    # interpolated: p90 of 1..5 = 1 + 0.9*4 = 4.6
    assert rows["a"]["p90"] == 4.6
    assert rows["b"]["p50"] == 15.0


def test_order_count_distribution_includes_zero(spark):
    from hive_io_experimental_spark.operators import relational

    customer = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "c_custkey long, c_name string"
    )
    orders = spark.createDataFrame(
        [(10, 1), (11, 1), (12, 2)], "o_orderkey long, o_custkey long"
    )
    rows = {
        r["n_orders"]: r["n_customers"]
        for r in relational.order_count_distribution(customer, orders).collect()
    }
    assert rows == {0: 1, 1: 1, 2: 1}


def test_cross_source_leakage_detects_shared_text(spark):
    from hive_io_experimental_spark.operators import text as text_ops

    shared = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [
            (1, shared + " alpha", "train"),
            (2, shared + " beta", "bench"),
            (3, "completely unrelated content with different words", "other"),
        ],
        "doc_id long, text string, source string",
    )
    out = {
        (r["source_a"], r["source_b"]): r["n_shared_fps"]
        for r in text_ops.cross_source_leakage(df).collect()
    }
    # the shared >=8-char substring guarantees at least one common
    # fingerprint between train and bench
    assert out.get(("bench", "train"), 0) >= 1
    assert ("bench", "other") not in out or out[("bench", "other")] == 0


def test_incremental_rollup_merge_is_exact(spark):
    from hive_io_experimental_spark.operators import incremental

    df = spark.createDataFrame(
        [
            (1, "click", 10.5, 0),
            (2, "click", 0.0001, 0),      # e4 fixed point captures 1e-4
            (3, "click", 2.25, 3_600_000),
            (4, "view", None, 0),          # NULL value: counted, not summed
        ],
        "event_id long, event_type string, value double, ms long",
    ).selectExpr("event_id", "event_type", "value",
                 "timestamp_millis(ms) AS ts")
    key = lambda r: (r["hour_epoch"], r["event_type"])  # noqa: E731
    full = sorted(incremental.finalize_rollup(
        incremental.hourly_rollup_state(df)
    ).collect(), key=key)
    inc = sorted(incremental.finalize_rollup(
        incremental.merge_rollup_states(
            incremental.hourly_rollup_state(df.filter("event_id % 2 = 0")),
            incremental.hourly_rollup_state(df.filter("event_id % 2 = 1")),
        )
    ).collect(), key=key)
    assert full == inc
    by_key = {(r["hour_epoch"], r["event_type"]): r for r in full}
    assert by_key[(0, "click")]["sum_value"] == 10.5001
    assert by_key[(0, "view")]["n_events"] == 1
    assert by_key[(0, "view")]["sum_value"] is None
    assert by_key[(3600, "click")]["sum_value"] == 2.25


def test_value_decile_histogram_partitions_all_rows(spark):
    from hive_io_experimental_spark.operators import profile as profile_ops

    df = spark.createDataFrame(
        [(float(v),) for v in range(1, 101)], "x double"
    )
    rows = profile_ops.value_decile_histogram(df, "x").collect()
    assert sum(r["n_rows"] for r in rows) == 100
    assert [r["decile"] for r in rows] == list(range(1, 11))
    # each decile of 1..100 holds exactly 10 values; boundary rows (equal
    # to an interpolated quantile) fall in the lower bucket
    assert all(r["n_rows"] == 10 for r in rows)
    assert rows[0]["min_value"] == 1.0 and rows[-1]["max_value"] == 100.0


def test_curate_corpus_applies_all_gates(spark, sf_dir):
    from hive_io_experimental_spark.operators import curate, dedup, sampling
    from hive_io_experimental_spark.operators import text as text_ops

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rates = {"de": 1.0, "en": 0.5, "zh": 0.25}
    out = curate.curate_corpus(docs, rates=rates, default_rate=0.1)
    got = {r["doc_id"] for r in out.collect()}
    good = {
        r["doc_id"] for r in text_ops.quality_filter(docs).collect()
    }
    kept = {
        r["kept_id"] for r in dedup.exact_dedup(docs).collect()
    }
    sampled = {
        r["doc_id"]
        for r in sampling.hash_stratified_sample(
            docs, rates, default_rate=0.1
        ).collect()
    }
    assert got == good & kept & sampled
    assert got  # non-degenerate at every SF


def test_brand_size_pivot_counts(spark):
    from hive_io_experimental_spark.operators import relational

    part = spark.createDataFrame(
        [(1, "B1", 5), (2, "B1", 20), (3, "B1", 35), (4, "B2", 40)],
        "p_partkey long, p_brand string, p_size int",
    )
    rows = {r["p_brand"]: r for r in relational.brand_size_pivot(part).collect()}
    assert (rows["B1"]["small"], rows["B1"]["medium"], rows["B1"]["large"]) == (1, 1, 1)
    # missing pivot cells surface as 0, not NULL
    assert (rows["B2"]["small"], rows["B2"]["medium"], rows["B2"]["large"]) == (0, 0, 1)


def test_salted_hourly_agg_matches_plain(spark, sf_dir):
    from hive_io_experimental_spark.operators import relational

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    plain = {
        (r["hour_epoch"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in relational.events_hourly(ev)
        .select("hour_epoch", "event_type", "n_events", "sum_value")
        .collect()
    }
    salted = {
        (r["hour_epoch"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in relational.events_hourly_salted(ev, n_salts=8).collect()
    }
    assert plain == salted and len(plain) > 0


def test_knn_label_accuracy_separable_clusters(spark):
    from hive_io_experimental_spark.operators import similarity

    # two tight orthogonal clusters of 6: every vector's bucket-mates are
    # its own cluster, so LOO-kNN classifies everything correctly
    rows = [(i, [1.0 + 0.01 * i, 0.0], 0) for i in range(6)] + [
        (10 + i, [0.0, 1.0 + 0.01 * i], 1) for i in range(6)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r["label"]: r for r in similarity.knn_label_accuracy(df, k=3).collect()}
    assert out[0]["n_classified"] == 6 and out[0]["accuracy"] == 1.0
    assert out[1]["n_classified"] == 6 and out[1]["accuracy"] == 1.0


def test_event_dwell_gaps(spark):
    from hive_io_experimental_spark.operators import temporal

    df = spark.createDataFrame(
        [
            (1, 1, "click", 0),
            (2, 1, "view", 10_000),     # gap after click: 10s
            (3, 1, "click", 40_000),    # gap after view: 30s
            (4, 2, "click", 0),         # user 2: single event, no gap
        ],
        "event_id long, user_id long, event_type string, ms long",
    ).selectExpr("event_id", "user_id", "event_type",
                 "timestamp_millis(ms) AS ts")
    rows = {r["event_type"]: r for r in temporal.event_dwell_stats(df).collect()}
    assert rows["click"]["n_gaps"] == 1 and rows["click"]["avg_gap_s"] == 10.0
    assert rows["view"]["n_gaps"] == 1 and rows["view"]["max_gap_s"] == 30.0
    assert "purchase" not in rows


# ---------------------------------------------------------------------------
# ensure_event_time: the single entry from storage types to event time
# ---------------------------------------------------------------------------

def test_ensure_event_time_dtype_matrix(spark):
    """Same instants through every physical type storage has handed us.

    The helper is the ONLY sanctioned path from a raw ts column to the
    engine's epoch-micros currency; this matrix pins each branch (bigint
    nanos, timestamp_ntz, timestamp) to identical unix_micros output, so
    the next storage drift fails here first.
    """
    us_values = [0, 1_700_000_000_123_456, 86_399_999_999]
    base = spark.createDataFrame([(v,) for v in us_values], "us long")

    as_bigint = base.selectExpr("us * 1000 AS ts")           # nanos-as-long
    as_ntz = base.selectExpr(
        "timestampadd(MICROSECOND, us, TIMESTAMP_NTZ'1970-01-01') AS ts"
    )
    as_ltz = base.selectExpr("timestamp_micros(us) AS ts")

    for df, dtype in ((as_bigint, "bigint"), (as_ntz, "timestamp_ntz"),
                      (as_ltz, "timestamp")):
        assert dict(df.dtypes)["ts"] == dtype
        out = relational.ensure_event_time(df)
        assert dict(out.dtypes)["ts"] == "timestamp"
        got = sorted(r[0] for r in out.selectExpr("unix_micros(ts)").collect())
        assert got == sorted(us_values), dtype


def test_ensure_event_time_ntz_is_timezone_independent(spark):
    """The NTZ branch must yield the same epoch micros under ANY session TZ.

    date_trunc/cast-based conversions silently shift with
    spark.sql.session.timeZone; the timestampdiff-from-NTZ-epoch formulation
    must not."""
    df = spark.createDataFrame([(123_456_789_000_000,)], "us long").selectExpr(
        "timestampadd(MICROSECOND, us, TIMESTAMP_NTZ'1970-01-01') AS ts"
    )
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        results = {}
        for tz in ("UTC", "America/New_York", "Asia/Tokyo"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            out = relational.ensure_event_time(df)
            results[tz] = out.selectExpr("unix_micros(ts)").first()[0]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert set(results.values()) == {123_456_789_000_000}, results


def test_month_epoch_is_timezone_independent(spark):
    df = spark.createDataFrame(
        [("2024-03-15 17:30:00",)], "s string"
    ).selectExpr("cast(s AS TIMESTAMP_NTZ) AS ts")
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        vals = set()
        for tz in ("UTC", "America/New_York", "Asia/Tokyo"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            out = relational.ensure_event_time(df).select(
                relational.month_epoch("ts").alias("m")
            )
            vals.add(out.first()["m"])
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    # 2024-03-01 00:00:00 UTC = 1709251200, regardless of session TZ
    assert vals == {1709251200}


# ---------------------------------------------------------------------------
# ngram jaccard: default df-cut bounds the hot-shingle self-join
# ---------------------------------------------------------------------------

def test_ngram_jaccard_hot_shingle_bounded(spark):
    """A shingle shared by every doc must not produce O(n^2) pairs.

    50 docs share one boilerplate shingle but are otherwise unique; with the
    df-cut at 10 the boilerplate shingle is dropped, so NO pairs survive —
    the unbounded variant would emit 50*49/2 candidate pairs from it.
    """
    boiler = "all rights reserved worldwide"
    texts = [f"unique{i} distinct{i} words{i} {boiler}" for i in range(50)]
    df = docs_df(spark, texts)
    bounded = dedup.ngram_jaccard_pairs(
        df, k=3, threshold=0.1, max_shingle_freq=10
    )
    assert bounded.count() == 0
    unbounded = dedup.ngram_jaccard_pairs(
        df, k=3, threshold=0.1, max_shingle_freq=None
    )
    assert unbounded.count() > 0

    # the default is ON (scale-safe): a >DEFAULT_MAX_SHINGLE_FREQ hot
    # shingle would be cut without any explicit opt-in
    assert dedup.DEFAULT_MAX_SHINGLE_FREQ is not None


def test_unigram_lm_scores_flags_rare_token_docs(spark):
    """Common-word docs score fewer bits/token than rare-word docs."""
    import math

    df = docs_df(
        spark,
        ["the the the the", "the the the zzyzxq", ""],  # empty -> no row
    )
    rows = {r["doc_id"]: r for r in text.unigram_lm_scores(df).collect()}
    assert set(rows) == {0, 1}
    assert rows[0]["n_tokens"] == 4 and rows[1]["n_tokens"] == 4
    # corpus: 'the' x7 (p=7/8), 'zzyzxq' x1 (p=1/8)
    b_the = round(-math.log2(7 / 8), 6)
    b_rare = round(-math.log2(1 / 8), 6)
    assert rows[0]["avg_bits"] == round(b_the, 6)
    assert rows[1]["avg_bits"] == round((3 * b_the + b_rare) / 4, 6)
    assert rows[1]["avg_bits"] > rows[0]["avg_bits"]


def test_ivf_index_persist_and_query(spark, sf_dir, warehouse):
    """Index lifecycle: build persists the quantizer as a catalog table;
    querying the stored index returns EXACTLY what the in-memory trained
    search returns (same centroids -> same candidates -> same ranks);
    rebuild drops and replaces."""
    from pyspark.sql import functions as F

    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.operators.similarity import (
        ivf_build_index,
        ivf_query_index,
        ivf_topk_trained,
    )

    cat = Catalog(warehouse)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0)

    ivf_build_index(spark, cat, "default.emb_ivf", emb, n_centroids=4)
    # the index is plain data: 4 centroid rows, auditable via scan
    assert cat.table_exists("default.emb_ivf")

    stored = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ivf_query_index(
            spark, cat, "default.emb_ivf", emb, queries, k=5, nprobe=2
        ).collect()
    }
    direct = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ivf_topk_trained(
            emb, queries, k=5, n_centroids=4, nprobe=2
        ).collect()
    }
    assert stored == direct and stored

    # rebuild with different width replaces the stored quantizer
    ivf_build_index(spark, cat, "default.emb_ivf", emb, n_centroids=2)
    from hive_io_experimental_spark.input import HiveInput, ScanSpec

    n_cents = HiveInput(spark, cat).read_table(
        ScanSpec(table="default.emb_ivf")
    ).count()
    assert n_cents == 2


def test_lsh_quality_report_perfect_on_exact_dupes(spark):
    """Exact duplicates are found by BOTH LSH and jaccard truth -> the
    report shows hits == truth (recall 1.0) on a duplicate-only corpus."""
    t1 = "the quick brown fox jumps over the lazy dog again and again"
    t2 = "completely different text about distributed query engines here"
    df = docs_df(spark, [t1, t1, t2, t2])
    row = dedup.lsh_quality_report(df, threshold=0.9).collect()[0]
    assert row["n_true"] == 2  # (0,1) and (2,3)
    assert row["n_hits"] == 2 and row["candidate_recall"] == 1.0
    assert row["n_candidates"] >= 2
    assert 0.0 < row["candidate_precision"] <= 1.0


def test_chunk_documents_sliding_window(spark):
    """Chunk boundaries, overlap, tail shortening, and empty-doc drop."""
    import pytest

    ten = " ".join(f"w{i}" for i in range(10))
    df = docs_df(spark, [ten, "a b c", ""])
    rows = sorted(
        (r["doc_id"], r["chunk_id"], r["start_token"], r["n_tokens"],
         r["chunk_text"])
        for r in text.chunk_documents(df, chunk_tokens=4, overlap=1).collect()
    )
    # doc 0: 10 tokens, stride 3 -> starts 0,3,6; a 4th window at 9 would
    # be fully contained in [6,10) and is NOT emitted (no new tokens)
    assert [r[:4] for r in rows if r[0] == 0] == [
        (0, 0, 0, 4), (0, 1, 3, 4), (0, 2, 6, 4),
    ]
    assert rows[0][4] == "w0 w1 w2 w3" and rows[1][4] == "w3 w4 w5 w6"
    # doc 1: 3 tokens -> one short chunk; doc 2: empty -> absent
    assert [r[:4] for r in rows if r[0] == 1] == [(1, 0, 0, 3)]
    assert not [r for r in rows if r[0] == 2]
    # consecutive chunks share exactly `overlap` tokens
    assert rows[0][4].split()[-1] == rows[1][4].split()[0]

    with pytest.raises(ValueError, match="must be smaller"):
        text.chunk_documents(df, chunk_tokens=4, overlap=4)


def test_dedup_corpus_keeps_one_per_cluster(spark):
    """Chained near-dups collapse to the min-id survivor; unique docs
    survive untouched; all columns come through."""
    t = "the quick brown fox jumps over the lazy dog every single day"
    df = spark.createDataFrame(
        [(10, t, "en"), (11, t, "en"), (12, t + " extra", "en"),
         (20, "completely different text on another topic entirely okay",
          "de")],
        "doc_id long, text string, lang string",
    )
    kept = sorted(r["doc_id"] for r in dedup.dedup_corpus(df).collect())
    assert 10 in kept and 20 in kept
    assert 11 not in kept  # exact dup of 10
    assert set(dedup.dedup_corpus(df).columns) == {"doc_id", "text", "lang"}


def test_embedding_dup_clusters_chain(spark):
    """Chained cosine near-dups (A~B, B~C, A!~C) share one cluster."""
    rows = [
        (1, [1.0, 0.0]), (2, [0.96, 0.28]), (3, [0.85, 0.53]),
        (9, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r["cluster_id"]
           for r in dedup.embedding_dup_clusters(df, threshold=0.95).collect()}
    # 1~2 (cos ~.96+), 2~3 (cos ~.96), 1~3 only ~.85 -> still one chain
    assert got[1] == got[2] == got[3] == 1
    assert got[9] == 9


def test_label_components_star_matches_propagation(spark):
    """Alternating-star components equal min-label propagation on a menu
    of shapes: chain, star, two cliques, isolated nodes."""
    import random

    from hive_io_experimental_spark.operators.dedup import (
        label_components,
        label_components_star,
    )

    rng = random.Random(7)
    cases = [
        [(i, i + 1) for i in range(10, 20)],            # long chain
        [(0, i) for i in range(1, 8)],                   # star
        [(1, 2), (2, 3), (1, 3), (7, 8), (8, 9)],        # two cliques
        [],                                              # no edges
        [(rng.randrange(30), rng.randrange(30)) for _ in range(40)],
    ]
    for edges in cases:
        edges = [(a, b) for a, b in edges if a != b]
        nodes = sorted({n for e in edges for n in e} | set(range(3)))
        pairs = spark.createDataFrame(
            edges or [(0, 0)], "a_id long, b_id long"
        )
        if not edges:
            pairs = pairs.filter("a_id <> a_id")  # empty frame, kept schema
        ids = spark.createDataFrame([(n,) for n in nodes], "id long")
        prop = {r["id"]: r["label"]
                for r in label_components(pairs, ids).collect()}
        star = {r["id"]: r["label"]
                for r in label_components_star(pairs, ids).collect()}
        assert star == prop, edges


def test_repeated_paragraphs_finds_boilerplate(spark):
    """A footer shared by 3 docs is flagged; unique bodies are not."""
    footer = " ".join(f"legal{i}" for i in range(8))
    df = docs_df(
        spark,
        [f"unique body {i} words here and there {footer}" for i in range(3)]
        + ["totally different text with no shared window at all"],
    )
    rows = text.repeated_paragraphs(
        df, chunk_tokens=4, min_docs=3
    ).collect()
    assert rows, "footer windows must be detected"
    assert all(r["n_docs"] >= 3 for r in rows)
    assert any("legal" in r["sample_chunk"] for r in rows)


def test_check_expectations_all_rule_types(spark):
    import pytest

    from hive_io_experimental_spark.operators.expectations import (
        check_expectations,
    )

    df = spark.createDataFrame(
        [(1, "a", 5, "x1"), (2, "b", 50, "x2"), (2, None, -1, "zz"),
         (4, "d", 10, "x9")],
        "id long, s string, v long, code string",
    )
    rules = [
        {"type": "not_null", "column": "s"},
        {"type": "unique", "column": "id"},
        {"type": "accepted_values", "column": "s", "values": ["a", "b", "d"]},
        {"type": "in_range", "column": "v", "min": 0, "max": 20},
        {"type": "matches", "column": "code", "pattern": "^x[0-9]$"},
    ]
    got = {r["rule_id"]: (r["n_violations"], r["passed"])
           for r in check_expectations(df, rules).collect()}
    assert got[0] == (1, False)  # one null s
    assert got[1] == (1, False)  # id=2 twice -> 1 duplicate
    assert got[2] == (1, False)  # the NULL s fails accepted_values
    assert got[3] == (2, False)  # 50 and -1 out of range
    assert got[4] == (1, False)  # "zz" doesn't match
    clean = check_expectations(
        df.filter("id = 1"), [{"type": "not_null", "column": "s"}]
    ).collect()[0]
    assert clean["passed"] is True and clean["n_violations"] == 0

    with pytest.raises(ValueError, match="unknown expectation"):
        check_expectations(df, [{"type": "sparkles", "column": "s"}])
    with pytest.raises(ValueError, match="no expectations"):
        check_expectations(df, [])


def test_ngram_df_cut_bounds_candidate_pairs(spark):
    """100 TB bound: one stop-phrase shared by half the corpus must NOT
    produce a quadratic candidate set when the df-cut is on (default), and
    the cut candidate count stays under n_docs * max_shingle_freq."""
    from hive_io_experimental_spark.operators import dedup

    n, maxf = 200, 5
    rows = [
        (
            i,
            ("common boilerplate header shared by half the corpus "
             if i % 2 == 0 else "")
            + f"u{i} v{i} w{i} x{i}",
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncut = dedup.ngram_jaccard_pairs(
        df, threshold=0.0, max_shingle_freq=None
    ).count()
    cut = dedup.ngram_jaccard_pairs(
        df, threshold=0.0, max_shingle_freq=maxf
    ).count()
    half = n // 2
    assert uncut >= half * (half - 1) // 2  # quadratic without the cut
    assert cut <= n * maxf                  # linear bound with it


def test_dedup_against_corpus_batch_and_corpus_exclusion(spark):
    """Incremental dedup: batch-internal dups collapse to min id; anything
    already in the corpus is excluded; novel docs survive."""
    corpus = docs_df(spark, ["seen text one", "seen text two"])
    incoming = spark.createDataFrame(
        [
            (10, "seen text one"),       # exists in corpus -> dropped
            (11, "fresh document a"),    # novel -> survives
            (12, "fresh document a"),    # batch-internal dup of 11 -> dropped
            (13, "fresh document b"),    # novel -> survives
        ],
        "doc_id long, text string",
    )
    got = sorted(
        r.id for r in dedup.dedup_against_corpus(incoming, corpus).collect()
    )
    assert got == [11, 13]


def test_histogram_state_merge_exact_and_percentile_bound(spark):
    """Quantile tier invariants: merged half-batches == one-shot histogram
    exactly (integer counts), and the p-lower-bound is within one bucket
    of the true percentile value."""
    import datetime as dt

    from hive_io_experimental_spark.operators import incremental as inc

    base = dt.datetime(2024, 3, 1)
    rows = [
        (i, "load", base + dt.timedelta(minutes=i), float(v))
        for i, v in enumerate([0.5, 1.5, 2.5, 3.5, 4.5, 5.5, 6.5, 7.5, 8.5, 9.5])
    ]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, value double"
    )
    one_shot = inc.hourly_histogram_state(df)
    merged = inc.merge_histogram_states(
        inc.hourly_histogram_state(df.filter(F.col("event_id") % 2 == 0)),
        inc.hourly_histogram_state(df.filter(F.col("event_id") % 2 == 1)),
    )
    key = lambda r: (r.hour_epoch, r.event_type, r.bucket)
    assert sorted(map(key, one_shot.collect())) == sorted(
        map(key, merged.collect())
    )
    assert {(r.bucket, r.n) for r in one_shot.collect()} == {
        (r.bucket, r.n) for r in merged.collect()
    }

    ps = {
        (r.event_type, r.p): r.lower_bound_e4 / 10_000.0
        for r in inc.percentiles_from_histogram(merged).collect()
    }
    # true p50 of 10 values = 5th smallest = 4.5 -> bucket [4,5); p95 ->
    # 10th value 9.5 -> bucket [9,10)
    assert ps[("load", "p50")] == 4.0
    assert ps[("load", "p95")] == 9.0


def test_benchmark_decontamination_flags_verbatim_overlap(spark):
    """A training doc embedding a benchmark sentence verbatim must be
    flagged; an unrelated doc must not; zero-fp (short) docs appear with
    n_shared_fps = 0."""
    bench = docs_df(spark, ["the secret benchmark answer is forty two"])
    train = spark.createDataFrame(
        [
            (10, "padding text then the secret benchmark answer is forty "
                 "two and more padding"),
            (11, "completely unrelated prose about gardening and weather"),
            (12, "hi"),  # too short for any full winnowing window
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_shared_fps, r.contaminated)
        for r in text.benchmark_decontamination(train, bench).collect()
    }
    assert got[10][1] is True and got[10][0] >= 1
    assert got[11] == (0, False)
    assert got[12] == (0, False)


# ---------------------------------------------------------------------------
# exact substring (span) duplication
# ---------------------------------------------------------------------------

def test_duplicated_spans_detects_offset_shifted_span(spark):
    # d0 and d1 share "aaa bbb ccc ddd" at DIFFERENT offsets (0 vs 2) —
    # the case stride-W paragraph hashing misses and stride-1 must catch
    df = docs_df(
        spark,
        [
            "aaa bbb ccc ddd eee fff",
            "xxx yyy aaa bbb ccc ddd zzz",
            "unrelated tokens entirely different content here",
        ],
    )
    got = dedup.duplicated_spans(df, window_tokens=4).collect()
    assert len(got) == 1
    assert got[0].n_docs == 2 and got[0].n_occurrences == 2
    assert got[0].sample_span == "aaa bbb ccc ddd"


def test_span_dedup_stats_counts_covered_tokens(spark):
    df = spark.createDataFrame(
        [
            (0, "aaa bbb ccc ddd eee fff", "web"),
            (1, "xxx yyy aaa bbb ccc ddd zzz", "web"),
            (2, "unrelated tokens entirely different content here", "books"),
        ],
        "doc_id long, text string, source string",
    )
    rows = {
        r.source: r
        for r in dedup.span_dedup_stats(df, window_tokens=4).collect()
    }
    assert rows["web"].n_docs == 2 and rows["web"].dup_docs == 2
    # d0: positions 0-3 of 6; d1: positions 2-5 of 7
    assert rows["web"].total_tokens == 13 and rows["web"].dup_tokens == 8
    assert rows["books"].dup_docs == 0 and rows["books"].dup_tokens == 0


def test_strip_duplicated_spans_keeps_order_and_empty_docs(spark):
    df = docs_df(
        spark,
        [
            "aaa bbb ccc ddd eee fff",
            "xxx yyy aaa bbb ccc ddd zzz",
            "aaa bbb ccc ddd",      # fully covered -> empty clean_text
        ],
    )
    got = {r.doc_id: r for r in dedup.strip_duplicated_spans(df, window_tokens=4).collect()}
    assert got[0].clean_text == "eee fff" and got[0].n_removed == 4
    assert got[1].clean_text == "xxx yyy zzz" and got[1].n_removed == 4
    assert got[2].clean_text == "" and got[2].n_removed == 4
    assert got[2].n_tokens == 4


def test_verified_near_duplicates_confirms_exact_pair(spark):
    t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = docs_df(spark, [t, t, "unrelated totally different text goes right here"])
    got = dedup.verified_near_duplicates(df, threshold=0.9).collect()
    assert [(r.a_id, r.b_id) for r in got] == [(0, 1)]
    assert got[0].edit_sim == 1.0


def test_topk_sketch_bounds_and_merge(spark):
    # skewed key stream: key 1 dominates, keys 2..30 are the tail
    rows = [(i, 1) for i in range(60)] + [
        (100 + 10 * k + j, k) for k in range(2, 31) for j in range(k % 5 + 1)
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long")
    a = incremental.topk_sketch_state(
        df.filter(F.col("event_id") % 2 == 0), k=4, n_shards=4
    )
    b = incremental.topk_sketch_state(
        df.filter(F.col("event_id") % 2 == 1), k=4, n_shards=4
    )
    merged = incremental.merge_topk_sketches(a, b, k=4)
    hits = incremental.heavy_hitters_from_sketch(merged, top_n=10).collect()
    truth = {
        r.user_id: r.n
        for r in df.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # every reported key's true count sits inside its [est_min, est_max]
    for r in hits:
        assert r.est_min <= truth[r.key] <= r.est_max, (r, truth[r.key])
    # the dominant key is reported first with an exact bound
    assert hits[0].key == 1 and hits[0].est_min == 60 == hits[0].est_max


def test_distribution_matched_sample_pivot_and_determinism(spark):
    from hive_io_experimental_spark.operators.sampling import (
        distribution_matched_sample,
    )

    # source skewed 80/20 to bucket 0; reference uniform 20/20
    src = spark.createDataFrame(
        [(i, 0 if i < 80 else 1) for i in range(100)], "doc_id long, b int"
    )
    ref = spark.createDataFrame(
        [(1000 + i, i % 2) for i in range(40)], "doc_id long, b int"
    )
    out = distribution_matched_sample(src, ref, "b")
    got = {
        r.b: r.n
        for r in out.groupBy("b").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # pivot = bucket 1 (ref/src 0.5/0.2 vs 0.25/0.8): kept in full
    assert got[1] == 20
    # bucket 0 thinned by thr = (10000*20*20)//(80*20) = 2500 -> ~25% of 80
    assert 10 <= got.get(0, 0) <= 30
    # deterministic: rerun picks the identical rows
    ids1 = {r.doc_id for r in out.collect()}
    ids2 = {
        r.doc_id for r in distribution_matched_sample(src, ref, "b").collect()
    }
    assert ids1 == ids2


def test_cdc_chunks_survive_prefix_insertion(spark):
    """The defining CDC property: inserting bytes at the front only
    reshapes the chunks up to the first content-defined cut after the
    edit — later chunk fingerprints are IDENTICAL, which is exactly why
    fixed-offset chunking can't do storage dedup and CDC can."""
    import hashlib

    base = "".join(
        hashlib.md5(f"seed{i}".encode()).hexdigest() for i in range(20)
    )  # 640 deterministic pseudo-random chars -> ~10 chunks at mask 63
    df = spark.createDataFrame(
        [(0, base), (1, "INSERTED-PREFIX-" + base)], "doc_id long, text string"
    )
    ch = multimodal.cdc_chunks(
        multimodal.attach_binary_payload(df)
    ).collect()
    a = [r.chunk_hash for r in sorted(
        (r for r in ch if r.doc_id == 0), key=lambda r: r.chunk_idx)]
    b = [r.chunk_hash for r in sorted(
        (r for r in ch if r.doc_id == 1), key=lambda r: r.chunk_idx)]
    # chunk streams re-synchronize: the common suffix covers most chunks
    suffix = 0
    while suffix < min(len(a), len(b)) and a[-1 - suffix] == b[-1 - suffix]:
        suffix += 1
    assert len(a) >= 4  # the corpus actually chunked
    assert suffix >= len(a) - 2, (suffix, len(a), len(b))
    # offsets/lengths tile each payload exactly
    for doc, text in ((0, base), (1, "INSERTED-PREFIX-" + base)):
        rows = sorted((r for r in ch if r.doc_id == doc), key=lambda r: r.chunk_idx)
        assert rows[0].start == 0
        assert sum(r.length for r in rows) == len(text)
        for x, y in zip(rows, rows[1:]):
            assert y.start == x.start + x.length


def test_temperature_mixture_sample_flattens_and_is_exact(spark):
    """tau=0.5 mixture: smallest group kept whole, larger groups
    downsampled toward (n_min/n)^0.5 acceptance, kept shares strictly
    flatter than natural, tau=1 is identity, tau=0 ~equalizes, and the
    pick is deterministic across reruns (hash-gated, not RNG)."""
    from hive_io_experimental_spark.operators.sampling import (
        temperature_mixture_sample,
    )

    rows = (
        [(i, "en") for i in range(1600)]
        + [(2000 + i, "de") for i in range(400)]
        + [(3000 + i, "sw") for i in range(100)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, lang string")

    kept = temperature_mixture_sample(docs, temperature=0.5)
    by = {r.lang: r.n for r in kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    # smallest group whole
    assert by["sw"] == 100
    # acceptance ~ sqrt(100/1600)=0.25 and sqrt(100/400)=0.5 — hash-gate
    # binomial noise stays well within these bands at these sizes
    assert 320 <= by["en"] <= 480
    assert 160 <= by["de"] <= 240
    # flatter than natural: en/sw ratio drops from 16x toward 4x
    assert by["en"] / by["sw"] < 8
    # deterministic rerun
    again = {r.lang: r.n for r in temperature_mixture_sample(
        docs, temperature=0.5).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert again == by

    # tau=1: identity
    assert temperature_mixture_sample(docs, temperature=1.0).count() == 2100
    # tau=0: ~equal groups (integer-division threshold, hash noise)
    eq = {r.lang: r.n for r in temperature_mixture_sample(
        docs, temperature=0.0).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert eq["sw"] == 100
    assert 60 <= eq["en"] <= 140 and 60 <= eq["de"] <= 140

    # generic tau path (pow) between the exact anchors
    mid = {r.lang: r.n for r in temperature_mixture_sample(
        docs, temperature=0.75).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert by["en"] <= mid["en"] <= 1600

    with pytest.raises(ValueError, match="temperature"):
        temperature_mixture_sample(docs, temperature=1.5)


def test_quantize_embeddings_codes_and_roundtrip(spark, sf_dir):
    """int8 quantization: codes bounded to [-127, 127], max code hits 127
    (the max-|v| component by construction), zero vectors quantize to
    all-zero codes with scale 0, and dequantized reconstruction error is
    within scale/2 per component."""
    import math

    from hive_io_experimental_spark.operators.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qdf = quantize_embeddings(emb)
    stats = qdf.select(
        F.array_max("codes").alias("mx"),
        F.array_min("codes").alias("mn"),
        "scale",
        "vec_id",
    ).collect()
    assert all(-127 <= r.mn and r.mx <= 127 for r in stats)
    assert all(max(r.mx, -r.mn) == 127 for r in stats if r.scale > 0)

    # round-trip error bound: |v - code*scale| <= scale/2
    orig = {r.vec_id: r.embedding for r in emb.collect()}
    for r in dequantize_embeddings(qdf).collect():
        scale = next(s.scale for s in stats if s.vec_id == r.vec_id)
        for a, b in zip(orig[r.vec_id], r.embedding):
            assert abs(float(a) - b) <= scale / 2 + 1e-12

    # zero vector edge
    z = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5])],
        "vec_id long, embedding array<float>",
    )
    zq = {r.vec_id: r for r in quantize_embeddings(z).collect()}
    assert zq[1].scale == 0.0 and zq[1].codes == [0, 0, 0]
    assert zq[2].codes == [64, -127, 32]
    assert math.isclose(zq[2].scale, 2.0 / 127.0)


def test_quantized_cosine_topk_matches_exact_ranking(spark, sf_dir):
    """recall@10 of int8-quantized cosine vs exact fp32 on the test
    embeddings: high overlap (quantization error is ~1/254 per
    component), and the quality report's integers agree with a direct
    overlap count."""
    from hive_io_experimental_spark.operators.similarity import (
        cosine_topk,
        quantization_quality_report,
        quantized_cosine_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = cosine_topk(emb, queries, k=10)
    quant = quantized_cosine_topk(emb, queries, k=10)
    n_q = queries.count()
    assert exact.count() == quant.count() == 10 * n_q
    hits = exact.select("query_id", "neighbor_id").join(
        quant.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
    ).count()
    # int8 keeps >=80% of the exact neighbors on this data
    assert hits >= 0.8 * 10 * n_q

    rep = quantization_quality_report(emb, k=10, query_mod=50).first()
    assert rep.n_queries == n_q and rep.k == 10
    assert rep.total_hits == hits


def test_broadcast_topk_guard_rejects_large_query_side(spark):
    """EVERY broadcast top-k path enforces the queries << corpus contract
    (strict-precondition style, HiveApiOutputFormat.java:240-262): an
    explicit broadcast hint bypasses autoBroadcastJoinThreshold, so a
    too-large query side must raise — pointing at the bucketed variant —
    BEFORE any join or collect, instead of OOMing executors."""
    from hive_io_experimental_spark.operators import similarity

    vec = F.array(F.lit(1.0), F.lit(2.0)).alias("embedding")
    corpus = spark.range(10).select(F.col("id").alias("vec_id"), vec)
    big = spark.range(similarity._MAX_BROADCAST_QUERIES + 1).select(
        F.col("id").alias("vec_id"), vec
    )
    with pytest.raises(ValueError, match="cosine_topk_bucketed"):
        similarity.cosine_topk(corpus, big, k=3)
    with pytest.raises(ValueError, match="cosine_topk_bucketed"):
        similarity.quantized_cosine_topk(corpus, big, k=3)


def test_resolve_num_planes_scales_with_corpus():
    """Auto-sized LSH: the plane count tracks log2(n/target) so bucket
    occupancy — and within-bucket pair work — stays near-flat as the
    corpus grows, while small corpora keep the r7 dial (8 planes), which
    also pins the oracle-twin bucket layout at sf0.01/sf0.1."""
    from hive_io_experimental_spark.operators.similarity import (
        resolve_num_planes,
    )

    assert resolve_num_planes(0) == 8
    assert resolve_num_planes(500) == 8       # sf0.01: oracle-twin dial
    assert resolve_num_planes(2_000) == 8     # sf0.1: bench dial unchanged
    assert resolve_num_planes(20_000) == 9    # sf1
    assert resolve_num_planes(200_000) == 12  # sf10
    assert resolve_num_planes(10**9) == 24    # 1B vectors: 16M buckets
    assert resolve_num_planes(2**40) == 30    # int-shift clamp


def test_temperature_mixture_sample_collision_proof_helpers(spark):
    """Caller columns named like the sampler's internal helpers must not
    break the broadcast join or the final select(*df.columns)."""
    from hive_io_experimental_spark.operators.sampling import (
        temperature_mixture_sample,
    )

    rows = [(i, "en", 7, 8) for i in range(400)] + [
        (1000 + i, "sw", 7, 8) for i in range(50)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, _tms_n long, _n long"
    )
    kept = temperature_mixture_sample(docs, temperature=0.5)
    assert kept.columns == docs.columns
    by = {
        r.lang: r.n
        for r in kept.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert by["sw"] == 50          # smallest group kept whole
    assert 0 < by["en"] < 400      # larger group downsampled


def test_quantized_cosine_topk_bucketed_scores_and_restricts(spark, sf_dir):
    """The no-broadcast int8 ANN path: every returned pair shares an LSH
    bucket, ranks are contiguous per query, self-matches are excluded,
    and the int8 scores agree EXACTLY with quantized_cosine_topk for
    pairs both paths return (same quantizer, same fold)."""
    from collections import defaultdict

    from hive_io_experimental_spark.operators.similarity import (
        hyperplane_lsh_buckets,
        quantized_cosine_topk,
        quantized_cosine_topk_bucketed,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    rows = quantized_cosine_topk_bucketed(emb, queries, k=10).collect()
    assert rows
    buckets = {r.id: r.bucket for r in hyperplane_lsh_buckets(emb).collect()}
    byq = defaultdict(list)
    for r in rows:
        assert r.query_id != r.neighbor_id
        assert buckets[r.query_id] == buckets[r.neighbor_id]
        byq[r.query_id].append(r.rank)
    for ranks in byq.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))

    exact = {
        (r.query_id, r.neighbor_id): r.qcosine
        for r in quantized_cosine_topk(
            emb, emb.filter(F.col("vec_id") % 20 == 0), k=10
        ).collect()
    }
    shared = [
        r for r in rows if (r.query_id, r.neighbor_id) in exact
    ]
    assert shared  # bucket restriction keeps a real slice of the exact set
    for r in shared:
        assert r.qcosine == exact[(r.query_id, r.neighbor_id)]


def test_cosine_topk_auto_routes_by_query_count(spark, sf_dir):
    """The routed entry point: small query sets get the exact broadcast
    ranking (identical rows to cosine_topk); a query side past the
    broadcast cap does NOT raise — it routes to the bucketed path and
    returns ranked results."""
    from hive_io_experimental_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    small = emb.filter(F.col("vec_id") % 50 == 0)
    got = sorted(
        map(tuple, similarity.cosine_topk_auto(emb, small, k=5).collect())
    )
    exact = sorted(
        map(tuple, similarity.cosine_topk(emb, small, k=5).collect())
    )
    assert got == exact

    vec = F.array(F.lit(1.0), F.lit(2.0)).alias("embedding")
    corpus = spark.range(10).select(F.col("id").alias("vec_id"), vec)
    big = spark.range(
        100_000, 100_000 + similarity._MAX_BROADCAST_QUERIES + 1
    ).select(F.col("id").alias("vec_id"), vec)
    routed = similarity.cosine_topk_auto(corpus, big, k=3)
    assert "cosine" in routed.columns and "rank" in routed.columns
    assert routed.filter(F.col("rank") == 1).count() > 0


def test_ivf_quantized_topk_candidates_and_scores(spark, sf_dir):
    """IVF-SQ8: candidate pairs are exactly ivf_topk's (same coarse
    quantizer, same lists), int8 scores agree EXACTLY with the quantized
    fold wherever both paths rank a pair, and ranks are contiguous."""
    from collections import defaultdict

    from hive_io_experimental_spark.operators.similarity import (
        ivf_quantized_topk,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    rows = ivf_quantized_topk(emb, queries, k=5).collect()
    assert rows
    byq = defaultdict(list)
    for r in rows:
        assert r.query_id != r.neighbor_id
        byq[r.query_id].append(r.rank)
    for ranks in byq.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))

    # same candidate structure as the fp32 IVF: with a generous k the
    # two paths must return identical (query, neighbor) candidate sets —
    # only the score metric differs
    big_k = 1000
    qset = {
        (r.query_id, r.neighbor_id)
        for r in ivf_quantized_topk(emb, queries, k=big_k).collect()
    }
    fset = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, queries, k=big_k).collect()
    }
    assert qset == fset


def test_ivf_sq8_recall_check_counts(spark, sf_dir):
    """The composed IVF-SQ8 recall audit: one exact row whose n_hits
    equals a hand-joined recomputation from the two underlying paths,
    and whose recall_ok bit follows the floor."""
    from hive_io_experimental_spark.operators.similarity import (
        cosine_topk,
        ivf_quantized_topk,
        ivf_sq8_recall_check,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 40)
    row = ivf_sq8_recall_check(emb, queries, k=5).first()
    assert row.n_queries == 40
    assert row.n_exact_results == 40 * 5
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_quantized_topk(emb, queries, k=5).collect()
    }
    assert row.n_hits == len(exact & approx)
    assert row.recall_ok == (row.n_hits / row.n_exact_results >= 0.5)
    # an impossible floor flips the bit, same data
    strict = ivf_sq8_recall_check(
        emb, queries, k=5, min_avg_recall=1.01
    ).first()
    assert not strict.recall_ok and strict.n_hits == row.n_hits


def test_ivf_quantized_topk_trained_recall_floor(spark, sf_dir):
    """Trained-quantizer IVF-SQ8: like ivf_topk_trained, no SQL oracle
    (iterative k-means) — so (a) bound recall@5 against the exact
    brute-force baseline with the same loose floor as the fp32 trained
    test (synthetic vectors make ANN recall weak by nature), and (b)
    pin the CANDIDATE sets of the int8 and fp32 trained paths equal at
    a generous k — same seed -> same centroids -> same inverted lists;
    only the score metric differs."""
    from hive_io_experimental_spark.operators.similarity import (
        cosine_topk,
        ivf_quantized_topk_trained,
        ivf_topk_trained,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_quantized_topk_trained(
            emb, queries, k=5, nprobe=4
        ).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.3, f"recall {recall:.2f}"

    big_k = 1000
    qset = {
        (r.query_id, r.neighbor_id)
        for r in ivf_quantized_topk_trained(
            emb, queries, k=big_k, nprobe=2
        ).collect()
    }
    fset = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk_trained(emb, queries, k=big_k, nprobe=2).collect()
    }
    assert qset == fset


def test_dsir_weights_favor_target_distribution(spark):
    """DSIR semantics on a corpus with a REAL distribution shift: docs
    drawn from the target-style vocabulary must out-weigh background
    docs, selection must surface them first, and weights must be
    invariant to input partitioning (the int64-sum exactness claim)."""
    from hive_io_experimental_spark.operators.sampling import (
        dsir_importance_weights,
        dsir_select,
    )

    bg = "scan filter join group sort merge batch window"
    shifted = "quantum flux lattice quantum flux spinor lattice gauge"
    rows = [(i, bg if i < 40 else shifted) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    target = df.filter(F.col("doc_id") >= 45)  # 5 shifted docs as target

    w = dsir_importance_weights(df, target, n_buckets=512)
    got = {r.doc_id: r.weight_e6 for r in w.collect()}
    assert len(got) == 50
    mean_bg = sum(got[i] for i in range(40)) / 40
    mean_shift = sum(got[i] for i in range(40, 50)) / 10
    assert mean_shift > mean_bg > float("-inf")
    # every shifted doc beats every background doc here (disjoint vocab)
    assert min(got[i] for i in range(40, 50)) > max(
        got[i] for i in range(40)
    )

    top = dsir_select(df, target, n=10, n_buckets=512).collect()
    assert sorted(r.rank for r in top) == list(range(1, 11))
    assert {r.doc_id for r in top} == set(range(40, 50))

    # partitioning invariance: per-doc weight is a sum of per-bucket
    # INTEGER quanta, so accumulation order cannot move it
    got7 = {
        r.doc_id: r.weight_e6
        for r in dsir_importance_weights(
            df.repartition(7), target.repartition(3), n_buckets=512
        ).collect()
    }
    assert got7 == got


def test_dsir_validates_parameters(spark):
    from hive_io_experimental_spark.operators.sampling import (
        dsir_importance_weights,
    )

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="n_buckets"):
        dsir_importance_weights(df, df, n_buckets=1)
    with pytest.raises(ValueError, match="smoothing"):
        dsir_importance_weights(df, df, smoothing=0)


def test_bloom_prefilter_exact_at_any_fp_rate(spark):
    """dedup_against_corpus_bloom must be BIT-IDENTICAL to the plain
    anti-join operator even when the bitmap is degenerately small (m=64
    forces a high false-positive rate) — the no-false-negative contract
    means FPs only re-route rows through the exact join, never change
    the answer."""
    from hive_io_experimental_spark.operators.dedup import (
        dedup_against_corpus,
        dedup_against_corpus_bloom,
    )

    rows = [(i, f"text number {i % 30}") for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    incoming = df.filter(F.col("doc_id") % 3 == 0)
    corpus = df.filter(F.col("doc_id") % 3 != 0)

    exact = {
        (r.id, r.fp) for r in dedup_against_corpus(incoming, corpus).collect()
    }
    for m in (64, 1 << 12):
        got = {
            (r.id, r.fp)
            for r in dedup_against_corpus_bloom(
                incoming, corpus, m_bits=m, k=3
            ).collect()
        }
        assert got == exact, f"bloom path diverged at m_bits={m}"
    # auto-sized path (one count job) must agree too
    auto = {
        (r.id, r.fp)
        for r in dedup_against_corpus_bloom(incoming, corpus).collect()
    }
    assert auto == exact


def test_bloom_no_false_negatives_and_report_arithmetic(spark):
    """Every true duplicate must land in the maybe set (bool_and over k
    salted positions cannot miss a built key), and the report's columns
    must satisfy the accounting identities."""
    from hive_io_experimental_spark.operators.dedup import (
        bloom_prefilter_report,
    )
    from hive_io_experimental_spark.operators.incremental import (
        bloom_membership,
        bloom_state,
    )

    rows = [(i, f"doc {i}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    incoming = df.filter(F.col("doc_id") < 120)  # 0..99 overlap corpus
    corpus = df.filter(F.col("doc_id") < 100)

    rep = bloom_prefilter_report(
        incoming, corpus, m_bits=1 << 14, k=5
    ).collect()[0]
    assert rep.n_corpus_keys == 100
    assert rep.n_batch == 120
    assert rep.n_true_dup == 100
    assert rep.n_definite_new + rep.n_maybe == rep.n_batch
    assert rep.n_false_pos == rep.n_maybe - rep.n_true_dup >= 0
    assert 0 < rep.n_bits_set <= min(rep.m_bits, rep.n_corpus_keys * rep.k)
    assert rep.n_words <= -(-rep.m_bits // 32)  # ceil(m/32) bound

    # direct probe via the incremental tier the dedup path composes:
    # membership of built keys is never rejected
    keys = spark.createDataFrame(
        [(f"k{i}",) for i in range(50)], "fp string"
    )
    state = bloom_state(keys, key_col="fp", m_bits=256, k_hashes=4)
    probed = bloom_membership(
        state, keys, probe_col="fp", m_bits=256, k_hashes=4
    )
    assert all(r.maybe_member == 1 for r in probed.collect())


def test_bloom_validates_parameters(spark):
    from hive_io_experimental_spark.operators.dedup import (
        bloom_prefilter_report,
        dedup_against_corpus_bloom,
    )

    df = spark.createDataFrame([(1, "t")], "doc_id long, text string")
    with pytest.raises(ValueError, match="m_bits"):
        bloom_prefilter_report(df, df, m_bits=1)
    with pytest.raises(ValueError, match="k must"):
        bloom_prefilter_report(df, df, k=0)
    with pytest.raises(ValueError, match="bits_per_key"):
        dedup_against_corpus_bloom(df, df, bits_per_key=0)


def test_lsh_against_corpus_finds_cross_side_neardups(spark):
    """A batch doc nearly identical to a corpus doc must surface as a
    verified (batch_id, corpus_id, jaccard) pair; unrelated docs must
    not; identical text must score jaccard == 1.0."""
    from hive_io_experimental_spark.operators.dedup import (
        minhash_lsh_against_corpus,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [(100, base), (101, "totally different words about other topics here")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(1, base), (2, base + " lambda"), (3, "nothing shared with anyone at all")],
        "doc_id long, text string",
    )
    got = {
        (r.batch_id, r.corpus_id): r.jaccard
        for r in minhash_lsh_against_corpus(
            batch, corpus, threshold=0.5
        ).collect()
    }
    assert got[(1, 100)] == 1.0
    assert (2, 100) in got and 0.5 <= got[(2, 100)] < 1.0
    assert all(b != 3 and c != 101 for (b, c) in got)

    # raw candidate mode is a superset of the verified pairs
    cands = {
        (r.batch_id, r.corpus_id)
        for r in minhash_lsh_against_corpus(batch, corpus).collect()
    }
    assert set(got) <= cands


def test_lsh_against_corpus_caps_hot_corpus_buckets(spark):
    """A corpus template bucket above max_bucket_size is dropped before
    the join: identical corpus docs share every band, so a cap of 1
    suppresses all their candidates while a loose cap keeps them."""
    from hive_io_experimental_spark.operators.dedup import (
        minhash_lsh_against_corpus,
    )

    tmpl = "one two three four five six seven eight nine ten"
    corpus = spark.createDataFrame(
        [(i, tmpl) for i in range(100, 105)], "doc_id long, text string"
    )
    batch = spark.createDataFrame([(1, tmpl)], "doc_id long, text string")
    loose = minhash_lsh_against_corpus(batch, corpus, max_bucket_size=10)
    assert loose.count() == 5
    capped = minhash_lsh_against_corpus(batch, corpus, max_bucket_size=1)
    assert capped.count() == 0


def test_token_budget_sample_semantics(spark):
    """Cumulative-token cut per group: the kept set is the hash-ordered
    prefix whose running total fits the budget, invariant to input
    partitioning; a budget smaller than the first drawn doc keeps
    nothing for that group."""
    from hive_io_experimental_spark.operators.sampling import (
        token_budget_sample,
    )

    rows = [
        (i, "a" if i < 10 else "b", "w " * (5 * (1 + i % 3))) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    kept = token_budget_sample(
        df, budget_tokens=25, group_col="source"
    ).collect()
    by_src = {}
    for r in kept:
        by_src.setdefault(r.source, []).append(r)
    for src, rs in by_src.items():
        assert max(r.cum_tokens for r in rs) <= 25
        # prefix property: cum_tokens values are exactly the running sums
        rs = sorted(rs, key=lambda r: r.cum_tokens)
        tot = 0
        for r in rs:
            tot += r.n_tokens
            assert r.cum_tokens == tot

    # partitioning invariance
    again = {
        r.doc_id
        for r in token_budget_sample(
            df.repartition(7), budget_tokens=25, group_col="source"
        ).collect()
    }
    assert again == {r.doc_id for r in kept}

    # budget below every doc's token count keeps nothing
    assert token_budget_sample(df, budget_tokens=4).count() == 0
    with pytest.raises(ValueError, match="budget_tokens"):
        token_budget_sample(df, budget_tokens=0)

    # the appended output columns are contract, not helpers: a caller
    # frame already carrying them is refused, never silently replaced
    with pytest.raises(ValueError, match="n_tokens"):
        token_budget_sample(df.withColumn("n_tokens", F.lit(1)))
    with pytest.raises(ValueError, match="cum_tokens"):
        token_budget_sample(df.withColumn("cum_tokens", F.lit(1)))


def test_embedding_neardup_against_corpus(spark):
    """Cross-side semantic near-dup: an identical vector in batch and
    corpus is found at cosine 1.0, a negated vector (cosine -1, shares
    no bucket with single-probe sign-LSH) is not, the corpus bucket cap
    suppresses hot buckets, and thresholds are validated."""
    from hive_io_experimental_spark.operators.dedup import (
        embedding_neardup_against_corpus,
    )

    v = [1.0, 0.5, -0.25, 2.0]
    neg = [-x for x in v]
    corpus = spark.createDataFrame(
        [(100, v), (101, neg)], "vec_id long, embedding array<double>"
    )
    batch = spark.createDataFrame(
        [(1, v)], "vec_id long, embedding array<double>"
    )
    got = {
        (r.batch_id, r.corpus_id): r.cosine
        for r in embedding_neardup_against_corpus(
            batch, corpus, threshold=0.9, num_planes=4
        ).collect()
    }
    assert got == {(1, 100): 1.0}

    # hot-bucket cap: 5 identical corpus vectors all share one bucket
    hot = spark.createDataFrame(
        [(200 + i, v) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    loose = embedding_neardup_against_corpus(
        batch, hot, threshold=0.9, num_planes=4, max_bucket_size=10
    )
    assert loose.count() == 5
    capped = embedding_neardup_against_corpus(
        batch, hot, threshold=0.9, num_planes=4, max_bucket_size=1
    )
    assert capped.count() == 0

    with pytest.raises(ValueError, match="threshold"):
        embedding_neardup_against_corpus(batch, corpus, threshold=0.0)

    # an empty incoming batch is a legitimate ingestion tick: the probe
    # returns the contract's empty frame (schema intact), no crash, and
    # skips the corpus-count job (num_planes left None on purpose)
    empty = batch.filter(F.col("vec_id") < 0)
    out = embedding_neardup_against_corpus(empty, corpus, threshold=0.9)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "batch_id", "corpus_id", "cosine",
    ]


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup, arXiv:2303.09540)
# ---------------------------------------------------------------------------

def _semdedup_fixture(spark):
    # centroid_stride=2 -> centroids are ids 0 ([1,0]) and 2 ([0,1]);
    # 1 and 3 assign to the x cluster, 5 to the y cluster
    return spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 1.0]),
            (3, [0.95, 0.05]),
            (5, [0.0, 2.0]),   # parallel to 2 -> exact semantic dup
        ],
        "vec_id long, embedding array<double>",
    )


def test_semantic_dedup_drops_lower_id_anchored_dups(spark):
    df = _semdedup_fixture(spark)
    got = {
        r.doc_id: r.kept_id
        for r in dedup.semantic_dedup(
            df, threshold=0.9, centroid_stride=2
        ).collect()
    }
    # 1 and 3 both anchor to 0 (their strongest lower-id neighbor:
    # cos(0,3)=0.99862 > cos(1,3)=0.99838); 5 anchors to 2 (cos 1.0)
    assert got == {1: 0, 3: 0, 5: 2}


def test_semantic_dedup_never_pairs_across_clusters(spark):
    # two near-identical vectors straddling the 45-degree boundary land
    # in DIFFERENT cells and are never compared — the SemDeDup
    # cluster-fence approximation, by contract
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.71, 0.70]),   # -> x cell
            (2, [0.0, 1.0]),
            (3, [0.70, 0.71]),   # -> y cell; cos(1,3) ~ 0.9998
        ],
        "vec_id long, embedding array<double>",
    )
    assert dedup.semantic_dedup(df, threshold=0.9, centroid_stride=2).count() == 0


def test_semantic_dedup_survivors_antijoin(spark):
    df = _semdedup_fixture(spark)
    kept = sorted(
        r.vec_id
        for r in dedup.semantic_dedup_survivors(
            df, threshold=0.9, centroid_stride=2
        ).collect()
    )
    assert kept == [0, 2]


def test_semantic_dedup_empty_and_sparse_ids(spark):
    df = _semdedup_fixture(spark)
    empty = dedup.semantic_dedup(df.filter(F.col("vec_id") < 0),
                                 centroid_stride=2)
    assert empty.count() == 0
    # no id hits the stride -> contract empty frame, schema intact
    sparse = dedup.semantic_dedup(df.filter(F.col("vec_id") % 2 == 1),
                                  centroid_stride=2)
    assert sparse.count() == 0
    assert [f.name for f in sparse.schema.fields] == [
        "doc_id", "kept_id", "cosine",
    ]
    with pytest.raises(ValueError, match="threshold"):
        dedup.semantic_dedup(df, threshold=0.0)
    with pytest.raises(ValueError, match="centroid_stride"):
        dedup.semantic_dedup(df, centroid_stride=0)


def test_semantic_dedup_cluster_cap_enforced(spark):
    df = _semdedup_fixture(spark)
    with pytest.raises(ValueError, match="max_cluster_rows"):
        dedup.semantic_dedup(
            df, threshold=0.9, centroid_stride=2, max_cluster_rows=2
        )
    # bound not exceeded -> identical output to the unguarded run
    guarded = dedup.semantic_dedup(
        df, threshold=0.9, centroid_stride=2, max_cluster_rows=3
    )
    assert guarded.count() == 3


# ---------------------------------------------------------------------------
# product quantization (PQ / ADC, Jégou et al. TPAMI 2011)
# ---------------------------------------------------------------------------

def test_pq_topk_exact_on_codebook_members(spark):
    # a vector that IS a codeword reconstructs losslessly, so its ADC
    # score against an identical-direction query is the true cosine (1.0)
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0, 0.0]),
            (2, [2.0, 0.0, 0.0, 0.0]),   # same direction as 0
            (3, [0.0, 0.0, 1.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    got = similarity.pq_topk(
        df, df.filter(F.col("vec_id") == 2), k=1,
        num_subspaces=2, centroid_stride=1,
    ).collect()
    assert [(r.query_id, r.neighbor_id, r.adc_score) for r in got] == [
        (2, 0, 1.0)
    ]


def test_pq_recall_trained_beats_floor(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 200)
    cb = similarity.pq_codebooks_trained(
        emb, num_subspaces=4, codes_per_subspace=64
    )
    row = similarity.pq_recall_check(
        emb, queries, k=10, num_subspaces=4, codebooks=cb
    ).first()
    assert row["n_queries"] == 200
    assert row["n_exact_results"] == 2000
    # trained 64-codeword books on near-orthogonal synthetic vectors:
    # measured 0.308 — pin a floor with slack for k-means sample drift
    assert row["n_hits"] / row["n_exact_results"] >= 0.2
    assert bool(row["recall_ok"])


def test_pq_validation_and_empty_paths(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="divisible"):
        similarity.pq_codebooks_sampled(df, num_subspaces=2,
                                        centroid_stride=1)
    with pytest.raises(ValueError, match="centroid_stride"):
        similarity.pq_codebooks_sampled(
            df.filter(F.col("vec_id") < 0), centroid_stride=1
        )
    four = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = similarity.pq_topk(
        four, four.filter(F.col("vec_id") < 0), k=3,
        num_subspaces=2, centroid_stride=1,
    )
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "neighbor_id", "adc_score", "rank",
    ]


def test_pq_codebook_cap_bounds_codes(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb = similarity.pq_codebooks_sampled(
        emb, num_subspaces=4, centroid_stride=5, max_codes=16
    )
    agg = cb.groupBy("j").count().collect()
    assert len(agg) == 4 and all(r["count"] == 16 for r in agg)
    assert cb.agg(F.max("code")).first()[0] == 15


def test_pq_index_persist_and_query(spark, sf_dir, warehouse):
    """PQ index lifecycle: build persists codes + codebooks as catalog
    tables; serving from the stored index returns EXACTLY the direct
    operator's rows; rebuild drops and replaces both tables."""
    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.input import HiveInput, ScanSpec

    cat = Catalog(warehouse)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 100)

    similarity.pq_build_index(
        spark, cat, "default.emb_pq", emb, centroid_stride=5, max_codes=64
    )
    assert cat.table_exists("default.emb_pq")
    assert cat.table_exists("default.emb_pq_codebooks")

    row = similarity.pq_index_consistency_check(
        spark, cat, "default.emb_pq", emb, queries, k=5,
        centroid_stride=5, max_codes=64,
    ).first()
    assert row["n_mismatch"] == 0
    assert row["n_queries"] == 100
    assert row["n_served"] == 500

    # rebuild with a narrower codebook replaces both tables
    similarity.pq_build_index(
        spark, cat, "default.emb_pq", emb, centroid_stride=5, max_codes=8
    )
    n_cb = HiveInput(spark, cat).read_table(
        ScanSpec(table="default.emb_pq_codebooks")
    ).count()
    assert n_cb == 4 * 8


# ---------------------------------------------------------------------------
# multi-probe LSH (Lv et al. VLDB 2007)
# ---------------------------------------------------------------------------

def test_multiprobe_recovers_boundary_neighbor(spark):
    # two near-parallel vectors that straddle one hyperplane sign land in
    # buckets one Hamming bit apart: single-probe misses the pair,
    # Hamming-1 multiprobe recovers it. Constructed via a corpus where
    # the pair exists; assert superset + the specific recovery property
    # on real fixture data instead of hand-tuned planes.
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    single = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk_bucketed(
            emb, q, k=5, num_planes=8
        ).collect()
    }
    multi = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk_multiprobe(
            emb, q, k=5, num_planes=8, probe_bits=1
        ).collect()
    }
    # every query's multiprobe candidate pool contains the single-probe
    # pool, so ranked hits can only improve vs exact
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb, q, k=5).collect()
    }
    assert len(multi & exact) >= len(single & exact)
    assert len(multi) >= len(single)


def test_multiprobe_report_counts_are_consistent(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 200)
    row = similarity.multiprobe_recall_report(
        emb, q, k=10, num_planes=8
    ).first()
    assert row["n_queries"] == 200
    assert row["n_exact_results"] == 2000
    # probe superset -> hit superset; and on this fixture the gain is
    # large (measured 31 -> 204)
    assert row["hits_multi"] >= row["hits_single"]
    assert row["hits_multi"] >= 2 * max(row["hits_single"], 1)


def test_multiprobe_validates_probe_bits(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="probe_bits"):
        similarity.cosine_topk_multiprobe(
            emb, emb.limit(1), probe_bits=3
        )


def test_multiprobe_guard_scales_cap_with_fanout(spark):
    """cosine_topk_multiprobe broadcasts queries x (1 + planes [+
    C(planes, 2)]) rows, so its query-side cap is the standard broadcast
    cap DIVIDED by the fan-out — a query set every sibling broadcast
    path accepts must still raise here once fanned out, pointing at the
    shuffle-join variant (the r7/r8 unguarded-broadcast class, closed
    for the last entry point)."""
    vec = F.array(F.lit(1.0), F.lit(2.0)).alias("embedding")
    corpus = spark.range(10).select(F.col("id").alias("vec_id"), vec)
    # fan-out at 8 planes / probe_bits=1 is 9 -> cap = 65536 // 9 = 7281;
    # 7282 queries is far below the sibling paths' 65536 cap but must
    # raise here
    cap = similarity._MAX_BROADCAST_QUERIES // 9
    big = spark.range(cap + 1).select(F.col("id").alias("vec_id"), vec)
    with pytest.raises(ValueError, match="cosine_topk_multiprobe_bucketed"):
        similarity.cosine_topk_multiprobe(
            corpus, big, k=3, num_planes=8, probe_bits=1
        )
    # probe_bits=2 tightens the cap further: 1 + 8 + 28 = 37
    cap2 = similarity._MAX_BROADCAST_QUERIES // 37
    big2 = spark.range(cap2 + 1).select(F.col("id").alias("vec_id"), vec)
    with pytest.raises(ValueError, match="cosine_topk_multiprobe_bucketed"):
        similarity.cosine_topk_multiprobe(
            corpus, big2, k=3, num_planes=8, probe_bits=2
        )
    # the bucketed variant takes the same frame without a guard
    assert (
        similarity.cosine_topk_multiprobe_bucketed(
            corpus, big.limit(50), k=3, num_planes=8
        ).count()
        > 0
    )


def test_quantized_multiprobe_superset_and_validation(spark, sf_dir):
    """probe_bits on the int8 bucketed path: the probe set is a strict
    superset of single-probe, so with k = corpus size the result PAIRS
    are a superset too; probe_bits=0 reproduces the original operator
    exactly; bad probe_bits raises."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    n = emb.count()
    single = {
        (r.query_id, r.neighbor_id)
        for r in similarity.quantized_cosine_topk_bucketed(
            emb, q, k=n, num_planes=8
        ).collect()
    }
    multi = {
        (r.query_id, r.neighbor_id)
        for r in similarity.quantized_cosine_topk_bucketed(
            emb, q, k=n, num_planes=8, probe_bits=1
        ).collect()
    }
    assert single < multi  # strictly more candidates on this fixture
    # default path unchanged: probe_bits=0 == the pre-probe_bits operator
    base = {
        tuple(r)
        for r in similarity.quantized_cosine_topk_bucketed(
            emb, q, k=5, num_planes=8
        ).collect()
    }
    zero = {
        tuple(r)
        for r in similarity.quantized_cosine_topk_bucketed(
            emb, q, k=5, num_planes=8, probe_bits=0
        ).collect()
    }
    assert base == zero
    with pytest.raises(ValueError, match="probe_bits"):
        similarity.quantized_cosine_topk_bucketed(
            emb, q, k=5, num_planes=8, probe_bits=3
        )


def test_multiprobe_bucketed_parity(spark, sf_dir):
    """The shuffle-join variant is row-identical to the broadcast one —
    same buckets, same probe set, same exact rescore; only the physical
    join strategy differs."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 50)
    for bits in (1, 2):
        a = {
            tuple(r)
            for r in similarity.cosine_topk_multiprobe(
                emb, q, k=5, num_planes=8, probe_bits=bits
            ).collect()
        }
        b = {
            tuple(r)
            for r in similarity.cosine_topk_multiprobe_bucketed(
                emb, q, k=5, num_planes=8, probe_bits=bits
            ).collect()
        }
        assert a == b and len(a) > 0


def test_semantic_dedup_auto_stride_resolution(spark, sf_dir):
    # the balanced dial: floor 50 at fixture scales (oracle twins' dial),
    # sqrt(2n) beyond it — the n^1.5 contract
    assert dedup.resolve_semantic_stride(500) == 50
    assert dedup.resolve_semantic_stride(5_000) == 100
    assert dedup.resolve_semantic_stride(500_000) == 1000
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    auto = {tuple(r) for r in dedup.semantic_dedup(emb, threshold=0.35).collect()}
    pinned = {
        tuple(r)
        for r in dedup.semantic_dedup(
            emb, threshold=0.35, centroid_stride=50
        ).collect()
    }
    # at sf0.01 the auto dial resolves to the pinned oracle dial
    assert auto == pinned and len(auto) > 0


def test_semantic_dedup_against_corpus(spark):
    # corpus defines the quantizer (centroids at corpus ids 0 and 2);
    # batch ids land in cells and only same-cell corpus rows compete
    corpus = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (2, [0.0, 1.0]),
            (4, [0.9, 0.1]),     # x cell
        ],
        "vec_id long, embedding array<double>",
    )
    batch = spark.createDataFrame(
        [
            (101, [2.0, 0.0]),   # x cell: cos 1.0 with 0, 0.994 with 4
            (102, [0.0, 3.0]),   # y cell: cos 1.0 with 2
            (103, [-1.0, 0.0]),  # x cell but anti-parallel: no hit
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.batch_id: (r.corpus_id, r.cosine)
        for r in dedup.semantic_dedup_against_corpus(
            batch, corpus, threshold=0.9, centroid_stride=2
        ).collect()
    }
    assert set(got) == {101, 102}
    assert got[101][0] == 0 and got[101][1] == 1.0
    assert got[102][0] == 2 and got[102][1] == 1.0

    # empty batch: contract frame, no crash
    out = dedup.semantic_dedup_against_corpus(
        batch.filter(F.col("vec_id") < 0), corpus, centroid_stride=2
    )
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "batch_id", "corpus_id", "cosine",
    ]
    with pytest.raises(ValueError, match="threshold"):
        dedup.semantic_dedup_against_corpus(batch, corpus, threshold=1.5)


def test_semantic_dedup_against_corpus_enforces_cluster_bound(spark):
    """The incremental variant ports the batch variant's skew fence: a
    dense corpus region pulling one oversized quantizer cell must raise
    (naming the stride remedy) instead of going quietly quadratic in
    that cell's same-cell join."""
    # 60 near-identical corpus vectors -> all land in one quantizer cell
    rows = [(i, [1.0, float(i) * 1e-6]) for i in range(60)]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    batch = spark.createDataFrame(
        [(1001, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="max_cluster_rows"):
        dedup.semantic_dedup_against_corpus(
            batch, corpus, threshold=0.9, centroid_stride=50,
            max_cluster_rows=10,
        )
    # a generous bound (or the default None) leaves results unchanged
    got = dedup.semantic_dedup_against_corpus(
        batch, corpus, threshold=0.9, centroid_stride=50,
        max_cluster_rows=100,
    )
    assert got.count() == 1


# ---------------------------------------------------------------------------
# IVF-PQ (composed inverted-file pruning + ADC scoring)
# ---------------------------------------------------------------------------


def test_ivf_pq_all_lists_probed_equals_pq_topk(spark, sf_dir):
    # with nprobe >= n_centroids every query scores every list, and each
    # corpus vector sits in exactly one list — so IVF-PQ degenerates to
    # plain PQ-ADC over the whole corpus and must return the IDENTICAL
    # ranked rows (same codebooks, same fold, same tiebreaks)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 50)
    full = similarity.ivf_pq_topk(
        emb, queries, k=5, centroid_stride=50, nprobe=10**6,
        pq_stride=5, max_codes=128,
    )
    flat = similarity.pq_topk(
        emb, queries, k=5, centroid_stride=5, max_codes=128,
    )
    got = sorted(map(tuple, full.collect()))
    want = sorted(map(tuple, flat.collect()))
    assert got == want


def test_ivf_pq_pruning_subsets_candidates(spark, sf_dir):
    # nprobe=1 candidates must be a subset of nprobe=2 candidates for
    # every query (monotone pruning), and both subsets of the full scan
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 30)

    def pairs(nprobe):
        return {
            (r.query_id, r.neighbor_id)
            for r in similarity.ivf_pq_topk(
                emb, queries, k=500, centroid_stride=50, nprobe=nprobe
            ).collect()
        }

    p1, p2 = pairs(1), pairs(2)
    assert p1 and p1 <= p2


def test_ivf_pq_recall_counts_and_floor(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 200)
    row = similarity.ivf_pq_recall_check(emb, queries, k=10).first()
    assert row["n_queries"] == 200
    assert row["n_exact_results"] == 2000
    # composed loss (pruned lists AND lossy codes): measured 0.216 at
    # sf0.001 — floor with slack; the gate twin checks the exact count
    assert row["n_hits"] / row["n_exact_results"] >= 0.1
    assert bool(row["recall_ok"])


def test_ivf_pq_trained_codebooks_recall_floor(spark, sf_dir):
    # quality tier: k-means codebooks drop in via codebooks=; the audit
    # row becomes a recall-bound invariant (no SQL oracle)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 100)
    cb = similarity.pq_codebooks_trained(
        emb, num_subspaces=4, codes_per_subspace=64
    )
    row = similarity.ivf_pq_recall_check(
        emb, queries, k=10, codebooks=cb
    ).first()
    assert row["n_queries"] == 100
    assert row["n_hits"] / row["n_exact_results"] >= 0.05


def test_ivf_pq_empty_queries_schema(spark):
    emb = spark.createDataFrame(
        [(i, [float(i == j) for j in range(4)]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    out = similarity.ivf_pq_topk(
        emb, emb.filter(F.col("vec_id") < 0), k=3,
        centroid_stride=1, num_subspaces=2, pq_stride=1,
    )
    assert out.columns == ["query_id", "neighbor_id", "adc_score", "rank"]
    assert out.count() == 0


@pytest.mark.parametrize(
    "op, score_col",
    [
        ("ivf_topk", "cosine"),
        ("ivf_quantized_topk", "qcosine"),
        ("ivf_pq_topk", "adc_score"),
    ],
)
def test_ivf_sparse_ids_empty_quantizer_contract(spark, op, score_col):
    # no id hits the stride -> an empty coarse quantizer: the documented
    # empty frame, not a crash building the centroid matrix
    emb = spark.createDataFrame(
        [(i, [float(i % 4 == j) for j in range(4)]) for i in (1, 3, 5, 7)],
        "vec_id long, embedding array<double>",
    )
    out = getattr(similarity, op)(emb, emb, k=3, centroid_stride=50)
    assert out.columns == ["query_id", "neighbor_id", score_col, "rank"]
    assert out.collect() == []


# ---------------------------------------------------------------------------
# cluster-balanced sampling
# ---------------------------------------------------------------------------


def test_cluster_balanced_sample_quotas_exact_and_deterministic(spark, sf_dir):
    from hive_io_experimental_spark.operators import sampling

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = sampling.cluster_balanced_sample(emb, centroid_stride=50).collect()
    again = sampling.cluster_balanced_sample(emb, centroid_stride=50).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    import math
    from collections import Counter

    picked_per = Counter(r.cid for r in rows)
    for r in rows:
        assert r.quota == max(1, math.ceil(math.sqrt(r.n_cluster)))
        # a cluster never yields more than its quota (nor more than its size)
        assert picked_per[r.cid] == min(r.quota, r.n_cluster)
    # balancing really fires: picked set is a strict subsample
    assert 0 < len(rows) < emb.count()


def test_cluster_balanced_sample_caps_and_validation(spark, sf_dir):
    from hive_io_experimental_spark.operators import sampling

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    capped = sampling.cluster_balanced_sample(
        emb, centroid_stride=50, max_per_cluster=2
    ).collect()
    from collections import Counter

    per = Counter(r.cid for r in capped)
    assert per and max(per.values()) <= 2
    assert all(r.quota <= 2 for r in capped)
    with pytest.raises(ValueError, match="min_per_cluster"):
        sampling.cluster_balanced_sample(emb, min_per_cluster=-1)
    with pytest.raises(ValueError, match="max_per_cluster"):
        sampling.cluster_balanced_sample(
            emb, min_per_cluster=5, max_per_cluster=2
        )
    with pytest.raises(ValueError, match="centroid_stride"):
        sampling.cluster_balanced_sample(emb, centroid_stride=0)


def test_cluster_balanced_sample_sparse_ids_empty_contract(spark):
    # no id hits the stride -> the documented empty frame, not a crash
    from hive_io_experimental_spark.operators import sampling

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    out = sampling.cluster_balanced_sample(emb, centroid_stride=50)
    assert out.columns == ["vec_id", "cid", "n_cluster", "quota"]
    assert out.count() == 0


def test_resolve_ivf_stride_floor_and_growth():
    # floor pins fixture scales on the oracle constant; past the floor
    # nlist = n/stride tracks sqrt(n) (the FAISS sizing rule)
    assert similarity.resolve_ivf_stride(500) == 50
    assert similarity.resolve_ivf_stride(2500) == 50
    assert similarity.resolve_ivf_stride(10_000) == 100
    assert similarity.resolve_ivf_stride(1_000_000) == 1000
    assert similarity.resolve_ivf_stride(0) == 50


def test_ivf_pq_index_persist_and_query(spark, sf_dir, warehouse):
    """IVF-PQ index lifecycle: build persists codes + codebooks +
    centroids + inverted lists as catalog tables; serving from the
    stored index returns EXACTLY the direct operator's rows; rebuild
    with a different geometry replaces the tables."""
    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.input import HiveInput, ScanSpec

    cat = Catalog(warehouse)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 100)

    similarity.ivf_pq_build_index(spark, cat, "default.emb_ivfpq", emb)
    for t in ("default.emb_ivfpq", "default.emb_ivfpq_codebooks",
              "default.emb_ivfpq_centroids", "default.emb_ivfpq_lists"):
        assert cat.table_exists(t)

    row = similarity.ivf_pq_index_consistency_check(
        spark, cat, "default.emb_ivfpq", emb, queries, k=5,
    ).first()
    assert row["n_mismatch"] == 0
    assert row["n_queries"] == 100
    assert row["n_served"] == 500

    # every corpus vector lands in exactly one stored list
    inp = HiveInput(spark, cat)
    n_listed = inp.read_table(
        ScanSpec(table="default.emb_ivfpq_lists")
    ).count()
    assert n_listed == emb.count()

    # rebuild with a coarser stride replaces the centroid table
    similarity.ivf_pq_build_index(
        spark, cat, "default.emb_ivfpq", emb, centroid_stride=100
    )
    n_cents = inp.read_table(
        ScanSpec(table="default.emb_ivfpq_centroids")
    ).count()
    assert n_cents == emb.filter(F.col("vec_id") % 100 == 0).count()

    with pytest.raises(ValueError, match="centroid_stride"):
        similarity.ivf_pq_build_index(
            spark, cat, "default.emb_ivfpq2",
            emb.filter(F.col("vec_id") % 2 == 1), centroid_stride=2,
        )


def test_ivf_pq_query_index_rejects_num_subspaces_mismatch(
    spark, sf_dir, warehouse
):
    """Serving precondition: num_subspaces must match the stored
    codebooks' subspace count — a mismatch would index past the stored
    codes/LUT arrays and (ANSI off) surface as silent NULL scores, so
    the query path raises instead."""
    from hive_io_experimental_spark.catalog import Catalog

    cat = Catalog(warehouse)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    similarity.ivf_pq_build_index(
        spark, cat, "default.emb_ivfpq_m", emb, num_subspaces=4
    )
    with pytest.raises(ValueError, match="num_subspaces"):
        similarity.ivf_pq_query_index(
            spark, cat, "default.emb_ivfpq_m", queries, num_subspaces=2
        )
    # the matching value serves fine
    assert (
        similarity.ivf_pq_query_index(
            spark, cat, "default.emb_ivfpq_m", queries, k=3,
            num_subspaces=4,
        ).count()
        == 30
    )


def test_ivf_pq_query_index_refuses_torn_rebuild(spark, sf_dir, warehouse):
    """The four IVF-PQ tables are coupled; a rebuild that dies mid-way
    leaves mixed build_id stamps and the query path must refuse to serve
    mixed geometry (crash-visible, never silently-wrong scores)."""
    from pyspark.sql import types as T

    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.input import HiveInput, ScanSpec
    from hive_io_experimental_spark.output import HiveOutput, WriteSpec
    from hive_io_experimental_spark.schema import HiveTableSchema

    cat = Catalog(warehouse)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    similarity.ivf_pq_build_index(spark, cat, "default.emb_ivfpq_t", emb)

    # simulate the torn rebuild: the centroid table got the new stamp,
    # the other three still carry the old one (materialize the old rows
    # BEFORE dropping the files they live in)
    inp = HiveInput(spark, cat)
    cent_rows = [
        (r["cid"], r["cv"], "torn-rebuild-stamp")
        for r in inp.read_table(
            ScanSpec(table="default.emb_ivfpq_t_centroids")
        ).collect()
    ]
    id_type = emb.schema["vec_id"].dataType
    schema = HiveTableSchema((
        ("cid", id_type),
        ("cv", T.ArrayType(T.DoubleType())),
        ("build_id", T.StringType()),
    ))
    cat.drop_table("default.emb_ivfpq_t_centroids", delete_data=True)
    cat.create_table("default.emb_ivfpq_t_centroids", schema)
    HiveOutput(spark, cat).write_table(
        WriteSpec(table="default.emb_ivfpq_t_centroids"),
        spark.createDataFrame(cent_rows, schema.to_struct_type()),
    )
    with pytest.raises(ValueError, match="mixed build_id"):
        similarity.ivf_pq_query_index(
            spark, cat, "default.emb_ivfpq_t", queries
        )
    # appending would entrench the tear
    with pytest.raises(ValueError, match="mixed build_id"):
        similarity.ivf_pq_append_to_index(
            spark, cat, "default.emb_ivfpq_t", queries
        )


@pytest.fixture(scope="module")
def ivfpq_served(spark, sf_dir):
    """One persisted IVF-PQ index shared by the served-query-side tests."""
    import shutil
    import tempfile

    from hive_io_experimental_spark.catalog import Catalog

    wh = tempfile.mkdtemp(prefix="hio_wh_")
    cat = Catalog(wh)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    similarity.ivf_pq_build_index(spark, cat, "default.emb_ivfpq_q", emb)
    yield cat, emb
    shutil.rmtree(wh, ignore_errors=True)


def _serve_ivfpq(spark, cat, queries, **kw):
    return sorted(
        tuple(r) for r in similarity.ivf_pq_query_index(
            spark, cat, "default.emb_ivfpq_q", queries, **kw
        ).collect()
    )


def test_ivf_pq_served_rows_equal_direct_rows(spark, ivfpq_served):
    """The served query side (probes and ADC tables computed on the
    driver) returns exactly ivf_pq_topk's rows, adc_score doubles
    included."""
    cat, emb = ivfpq_served
    queries = emb.filter(F.col("vec_id") < 40)
    cols = ["query_id", "neighbor_id", "adc_score", "rank"]
    for k, nprobe in ((5, 2), (20, 6)):
        served = _serve_ivfpq(spark, cat, queries, k=k, nprobe=nprobe)
        direct = sorted(
            tuple(r) for r in similarity.ivf_pq_topk(
                emb, queries, k=k, nprobe=nprobe
            ).select(cols).collect()
        )
        assert served == direct
        assert {r[0] for r in served} == set(range(40))


def test_ivf_pq_served_zero_norm_query_returns_no_rows(spark, ivfpq_served):
    cat, emb = ivfpq_served
    queries = emb.filter(F.col("vec_id") < 10)
    zero = emb.filter(F.col("vec_id") == 0).select(
        F.lit(10**6).cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x * 0).alias("embedding"),
        "label",
    )
    with_zero = _serve_ivfpq(spark, cat, queries.unionByName(zero), k=5)
    assert with_zero == _serve_ivfpq(spark, cat, queries, k=5)
    assert len(with_zero) == 50


def test_ivf_pq_served_query_cap_still_raises(
    spark, ivfpq_served, monkeypatch
):
    cat, emb = ivfpq_served
    monkeypatch.setattr(similarity, "_MAX_BROADCAST_QUERIES", 3)
    with pytest.raises(
        ValueError,
        match=r"ivf_pq_query_index \(broadcast probes \+ LUTs\) "
        r"broadcasts the query side to every task; got > 3 query vectors",
    ):
        _serve_ivfpq(spark, cat, emb.filter(F.col("vec_id") < 4))
    assert len(_serve_ivfpq(spark, cat, emb.filter(F.col("vec_id") < 3),
                            k=2)) == 6


def test_ivf_pq_served_refuses_duplicate_query_ids(spark, ivfpq_served):
    """A query id sent twice used to merge both copies into one
    double-length LUT and score it silently wrong; it now raises."""
    cat, emb = ivfpq_served
    queries = emb.filter(F.col("vec_id") < 3)
    with pytest.raises(
        ValueError,
        match=r"ivf_pq_query_index: duplicate query ids \[0\] — each "
        r"query's ADC lookup table is keyed by its id",
    ):
        _serve_ivfpq(spark, cat, queries.unionByName(
            queries.filter(F.col("vec_id") == 0)
        ))


def test_ivf_pq_index_consistency_with_trained_codebooks(
    spark, sf_dir, warehouse
):
    """Build-parity plumbing: an index built with TRAINED codebooks
    checks clean when the consistency check is handed the same codebook
    frame (the direct path must not recompute sampled ones)."""
    from hive_io_experimental_spark.catalog import Catalog

    cat = Catalog(warehouse)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    cb = similarity.pq_codebooks_trained(
        emb, num_subspaces=4, codes_per_subspace=8, max_iter=3
    )
    similarity.ivf_pq_build_index(
        spark, cat, "default.emb_ivfpq_tr", emb, codebooks=cb
    )
    row = similarity.ivf_pq_index_consistency_check(
        spark, cat, "default.emb_ivfpq_tr", emb, queries, k=3,
        codebooks=cb,
    ).first()
    assert row["n_mismatch"] == 0
    assert row["n_queries"] == 20


# ---------------------------------------------------------------------------
# persisted LSH bucket index (the last index-lifecycle cell)
# ---------------------------------------------------------------------------

def test_lsh_index_persist_and_query(spark, sf_dir, warehouse):
    """LSH index lifecycle: build persists buckets + meta catalog tables;
    serving from the stored buckets returns EXACTLY the direct multiprobe
    operator's rows at every probe depth (deterministic plane family);
    a torn rebuild (mixed build_id) is refused."""
    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.input import HiveInput, ScanSpec

    cat = Catalog(warehouse)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 50)

    similarity.lsh_build_index(
        spark, cat, "default.emb_lsh", emb, num_planes=8
    )
    assert cat.table_exists("default.emb_lsh")
    assert cat.table_exists("default.emb_lsh_meta")
    meta = HiveInput(spark, cat).read_table(
        ScanSpec(table="default.emb_lsh_meta")
    ).first()
    assert meta["num_planes"] == 8
    assert meta["n_vectors"] == emb.count()

    for bits in (0, 1, 2):
        row = similarity.lsh_index_consistency_check(
            spark, cat, "default.emb_lsh", emb, queries, k=5,
            probe_bits=bits,
        ).first()
        assert row["n_mismatch"] == 0, f"probe_bits={bits}"
        assert row["n_queries"] == 50

    with pytest.raises(ValueError, match="probe_bits"):
        similarity.lsh_query_index(
            spark, cat, "default.emb_lsh", emb, queries, probe_bits=3
        )


def test_lsh_index_auto_planes_and_rebuild(spark, sf_dir, warehouse):
    """num_planes=None auto-sizes from the corpus (resolve_num_planes);
    rebuild with a different plane count replaces both tables and serving
    picks up the stored geometry (no caller-side plane bookkeeping)."""
    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.input import HiveInput, ScanSpec

    cat = Catalog(warehouse)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    similarity.lsh_build_index(spark, cat, "default.emb_lsh2", emb)
    inp = HiveInput(spark, cat)
    meta = inp.read_table(ScanSpec(table="default.emb_lsh2_meta")).first()
    assert meta["num_planes"] == similarity.resolve_num_planes(emb.count())

    similarity.lsh_build_index(
        spark, cat, "default.emb_lsh2", emb, num_planes=4
    )
    meta2 = inp.read_table(ScanSpec(table="default.emb_lsh2_meta")).first()
    assert meta2["num_planes"] == 4
    assert meta2["build_id"] != meta["build_id"]
    # serving uses the stored 4-plane family: parity vs direct at 4 planes
    q = emb.filter(F.col("vec_id") < 20)
    served = {
        tuple(r)
        for r in similarity.lsh_query_index(
            spark, cat, "default.emb_lsh2", emb, q, k=3, probe_bits=1
        ).collect()
    }
    direct = {
        tuple(r)
        for r in similarity.cosine_topk_multiprobe_bucketed(
            emb, q, k=3, num_planes=4, probe_bits=1
        ).collect()
    }
    assert served == direct and len(served) > 0


def test_lsh_append_to_index(spark, sf_dir, warehouse):
    """Incremental maintenance: build on half the corpus, snapshot-append
    the rest with the stored plane family — serving equals a from-scratch
    build (same planes -> same buckets); a re-delivered batch is a no-op
    (anti-join idempotency, version does not advance); appending to a
    missing index raises."""
    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.input import HiveInput, ScanSpec

    cat = Catalog(warehouse)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    queries = emb.filter(F.col("vec_id") < 30)

    similarity.lsh_build_index(
        spark, cat, "default.emb_lsha", half_a, num_planes=8
    )
    v1 = similarity.lsh_append_to_index(
        spark, cat, "default.emb_lsha", half_b
    )
    n = HiveInput(spark, cat).read_table(
        ScanSpec(table="default.emb_lsha")
    ).count()
    assert n == emb.count()
    # full-corpus serving == direct multiprobe over the full corpus
    row = similarity.lsh_index_consistency_check(
        spark, cat, "default.emb_lsha", emb, queries, k=5, probe_bits=1
    ).first()
    assert row["n_mismatch"] == 0
    # idempotent re-delivery: nothing fresh, version unchanged
    v2 = similarity.lsh_append_to_index(
        spark, cat, "default.emb_lsha", half_b
    )
    assert v2 == v1
    assert HiveInput(spark, cat).read_table(
        ScanSpec(table="default.emb_lsha")
    ).count() == n
    # one shared build stamp across build + append rows
    stamps = (
        HiveInput(spark, cat)
        .read_table(ScanSpec(table="default.emb_lsha"))
        .select("build_id").distinct().count()
    )
    assert stamps == 1
    with pytest.raises(Exception):
        similarity.lsh_append_to_index(
            spark, cat, "default.missing_lsh", half_b
        )


def test_ivf_pq_append_to_index(spark, sf_dir, warehouse):
    """IVF-PQ incremental maintenance: build on half the corpus (stride
    dials chosen so the stored geometry equals a full-corpus build at
    double the stride), append the rest under the stored codebooks +
    centroids — serving equals the direct operator over the FULL corpus;
    a re-delivered batch is a no-op; appending to a missing index
    raises; a wrong-dimension batch raises."""
    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.input import HiveInput, ScanSpec

    cat = Catalog(warehouse)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    queries = emb.filter(F.col("vec_id") < 30)

    similarity.ivf_pq_build_index(
        spark, cat, "default.emb_ivfpqa", half_a,
        centroid_stride=5, pq_stride=5, max_codes=128,
    )
    v1 = similarity.ivf_pq_append_to_index(
        spark, cat, "default.emb_ivfpqa", half_b
    )
    inp = HiveInput(spark, cat)
    assert inp.read_table(
        ScanSpec(table="default.emb_ivfpqa")
    ).count() == emb.count()
    assert inp.read_table(
        ScanSpec(table="default.emb_ivfpqa_lists")
    ).count() == emb.count()
    # half-build + append == from-scratch direct over the full corpus
    # (even ∩ stride-5 sampling ≡ full-corpus stride-10 sampling)
    row = similarity.ivf_pq_index_consistency_check(
        spark, cat, "default.emb_ivfpqa", emb, queries, k=5,
        centroid_stride=10, pq_stride=10, max_codes=128,
    ).first()
    assert row["n_mismatch"] == 0 and row["n_served"] > 0
    # idempotent re-delivery: nothing fresh, version unchanged
    v2 = similarity.ivf_pq_append_to_index(
        spark, cat, "default.emb_ivfpqa", half_b
    )
    assert v2 == v1
    # one shared build stamp across build + append rows, both tables
    for tbl in ("default.emb_ivfpqa", "default.emb_ivfpqa_lists"):
        assert inp.read_table(ScanSpec(table=tbl)).select(
            "build_id"
        ).distinct().count() == 1
    with pytest.raises(Exception):
        similarity.ivf_pq_append_to_index(
            spark, cat, "default.missing_ivfpq", half_b
        )
    wrong_dim = spark.createDataFrame(
        [(9999, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="NULL embedding or length"):
        similarity.ivf_pq_append_to_index(
            spark, cat, "default.emb_ivfpqa", wrong_dim
        )


def test_pq_append_to_index(spark, sf_dir, warehouse):
    """PQ incremental maintenance: build on the even half (stride dials
    equal a full-corpus build at double stride), append the odd half
    under the stored codebooks — serving equals the direct operator over
    the FULL corpus; re-delivery is a no-op; wrong-dim and missing-index
    batches raise. Only ONE table moves, so there is no torn state."""
    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.input import HiveInput, ScanSpec

    cat = Catalog(warehouse)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    queries = emb.filter(F.col("vec_id") < 30)

    similarity.pq_build_index(
        spark, cat, "default.emb_pqa", half_a,
        centroid_stride=5, max_codes=128,
    )
    v1 = similarity.pq_append_to_index(
        spark, cat, "default.emb_pqa", half_b
    )
    inp = HiveInput(spark, cat)
    assert inp.read_table(
        ScanSpec(table="default.emb_pqa")
    ).count() == emb.count()
    row = similarity.pq_index_consistency_check(
        spark, cat, "default.emb_pqa", emb, queries, k=5,
        centroid_stride=10, max_codes=128,
    ).first()
    assert row["n_mismatch"] == 0 and row["n_served"] > 0
    v2 = similarity.pq_append_to_index(
        spark, cat, "default.emb_pqa", half_b
    )
    assert v2 == v1
    with pytest.raises(Exception):
        similarity.pq_append_to_index(
            spark, cat, "default.missing_pq", half_b
        )
    wrong_dim = spark.createDataFrame(
        [(9999, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="NULL embedding or length"):
        similarity.pq_append_to_index(
            spark, cat, "default.emb_pqa", wrong_dim
        )


def test_pq_index_refuses_torn_rebuild_and_wrong_subspaces(
    spark, sf_dir, warehouse
):
    """The PQ tables now carry the shared build_id: a crash between the
    codebook and codes rewrites (new codebooks, old codes) must be
    REFUSED by both the serve and append paths, and a num_subspaces that
    disagrees with the stored codebooks must raise instead of summing
    the wrong LUT cells (review findings, r13)."""
    from pyspark.sql import types as T

    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.output import HiveOutput, WriteSpec
    from hive_io_experimental_spark.schema import HiveTableSchema

    cat = Catalog(warehouse)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    similarity.pq_build_index(
        spark, cat, "default.emb_pqt", emb, centroid_stride=5,
        max_codes=128,
    )
    with pytest.raises(ValueError, match="num_subspaces=8 does not"):
        similarity.pq_query_index(
            spark, cat, "default.emb_pqt", queries, k=3, num_subspaces=8
        )
    # manufacture the torn-rebuild state: codebooks re-stamped, codes old
    cb_schema = HiveTableSchema((
        ("j", T.IntegerType()),
        ("code", T.IntegerType()),
        ("cv", T.ArrayType(T.DoubleType())),
        ("build_id", T.StringType()),
    ))
    from hive_io_experimental_spark.input import HiveInput, ScanSpec

    cb = HiveInput(spark, cat).read_table(
        ScanSpec(table="default.emb_pqt_codebooks")
    ).drop("build_id").withColumn(
        "build_id", F.lit("torn-stamp")
    ).localCheckpoint()
    cat.drop_table("default.emb_pqt_codebooks", delete_data=True)
    cat.create_table("default.emb_pqt_codebooks", cb_schema)
    HiveOutput(spark, cat).write_table(
        WriteSpec(table="default.emb_pqt_codebooks"), cb
    )
    with pytest.raises(ValueError, match="mixed build_id"):
        similarity.pq_query_index(
            spark, cat, "default.emb_pqt", queries, k=3
        )
    with pytest.raises(ValueError, match="mixed build_id"):
        similarity.pq_append_to_index(
            spark, cat, "default.emb_pqt", emb
        )


def test_index_appends_refuse_dirty_batches(spark, sf_dir, warehouse):
    """Within-batch duplicate ids and NULL embeddings raise on every
    append path (the anti-join only dedups against STORED ids, so a
    duplicated delivery row would commit twice; a NULL embedding would
    be silently dropped by the unit-vector stage)."""
    from hive_io_experimental_spark.catalog import Catalog

    cat = Catalog(warehouse)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    similarity.pq_build_index(
        spark, cat, "default.emb_pqd", emb.filter(F.col("vec_id") % 2 == 0),
        centroid_stride=5, max_codes=128,
    )
    similarity.lsh_build_index(
        spark, cat, "default.emb_lshd",
        emb.filter(F.col("vec_id") % 2 == 0), num_planes=4,
    )
    similarity.ivf_pq_build_index(
        spark, cat, "default.emb_ivfpqd",
        emb.filter(F.col("vec_id") % 2 == 0),
        centroid_stride=5, pq_stride=5, max_codes=128,
    )
    one = emb.filter(F.col("vec_id") == 1)
    dup_batch = one.unionAll(one)
    null_batch = spark.createDataFrame(
        [(9991, None)], "vec_id long, embedding array<double>"
    )
    # NULL ids get their OWN message (countDistinct skips NULLs, so
    # these rows previously fell through to a misworded "duplicate"
    # diagnosis — r13 ADVICE); all-NULL-id batches likewise.
    null_id_batch = spark.createDataFrame(
        [(None, [0.5] * 64), (7777, [0.25] * 64)],
        "vec_id long, embedding array<double>",
    )
    all_null_ids = spark.createDataFrame(
        [(None, [0.5] * 64), (None, [0.25] * 64)],
        "vec_id long, embedding array<double>",
    )
    for appender, idx in (
        (similarity.pq_append_to_index, "default.emb_pqd"),
        (similarity.lsh_append_to_index, "default.emb_lshd"),
        (similarity.ivf_pq_append_to_index, "default.emb_ivfpqd"),
    ):
        with pytest.raises(ValueError, match="duplicate"):
            appender(spark, cat, idx, dup_batch)
        with pytest.raises(ValueError, match="NULL embedding or length"):
            appender(spark, cat, idx, null_batch)
        with pytest.raises(ValueError, match="NULL vec_id"):
            appender(spark, cat, idx, null_id_batch)
        with pytest.raises(ValueError, match="NULL vec_id"):
            appender(spark, cat, idx, all_null_ids)
        # and an actually-empty batch stays a quiet no-op
        appender(spark, cat, idx, one.filter(F.col("vec_id") < 0))


def test_ivf_pq_append_branches_commit_the_same_rows(
    spark, sf_dir, warehouse, monkeypatch
):
    """A batch within the small-side cap appends on the driver, a larger
    one through the distributed Arrow pass; the same batch must commit
    the same lists and codes rows either way. The batch re-delivers
    stored ids (partial re-delivery) and holds one zero-norm vector
    (its lists row is kept, its codes row is not)."""
    import uuid

    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.input import HiveInput, ScanSpec

    cat = Catalog(warehouse)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    dim = int(emb.select(F.size("embedding")).first()[0])
    # one stamp for both builds, so build_id compares row for row
    with monkeypatch.context() as mp:
        mp.setattr(uuid, "uuid4", lambda: uuid.UUID(int=16))
        for idx in ("default.emb_ivfpq_drv", "default.emb_ivfpq_dist"):
            similarity.ivf_pq_build_index(
                spark, cat, idx, emb.filter(F.col("vec_id") % 2 == 0),
                centroid_stride=5, pq_stride=5, max_codes=128,
            )
    batch = emb.filter(F.col("vec_id").isin(0, 2, 1, 3, 5)).unionByName(
        spark.createDataFrame([(999_001, [0.0] * dim)], emb.schema)
    )
    local_calls = []
    fresh_local = similarity._ivf_pq_fresh_local
    monkeypatch.setattr(
        similarity, "_ivf_pq_fresh_local",
        lambda *a, **kw: local_calls.append(1) or fresh_local(*a, **kw),
    )
    v_drv = similarity.ivf_pq_append_to_index(
        spark, cat, "default.emb_ivfpq_drv", batch
    )
    assert local_calls == [1]
    monkeypatch.setattr(similarity, "_MAX_BROADCAST_QUERIES", 3)
    v_dist = similarity.ivf_pq_append_to_index(
        spark, cat, "default.emb_ivfpq_dist", batch
    )
    assert local_calls == [1]
    assert v_drv == v_dist

    inp = HiveInput(spark, cat)

    def rows(table, cols):
        return sorted(
            tuple(r) for r in inp.read_table(ScanSpec(table=table))
            .select(*cols).collect()
        )

    lists_cols = ("id", "cid", "build_id")
    codes_cols = ("id", "codes", "build_id")
    drv_lists = rows("default.emb_ivfpq_drv_lists", lists_cols)
    drv_codes = rows("default.emb_ivfpq_drv", codes_cols)
    assert drv_lists == rows("default.emb_ivfpq_dist_lists", lists_cols)
    assert drv_codes == rows("default.emb_ivfpq_dist", codes_cols)
    assert len({r[0] for r in drv_lists}) == len(drv_lists)
    assert 999_001 in {r[0] for r in drv_lists}
    assert 999_001 not in {r[0] for r in drv_codes}
    assert {1, 3, 5} <= {r[0] for r in drv_codes}


def test_ivf_pq_torn_append_is_consistent_and_repairable(
    spark, sf_dir, warehouse
):
    """The two appended tables (lists, codes) move non-atomically. A
    crash between them must (a) never produce wrong scores — serving
    inner-joins lists ⋈ codes, so the half-appended vectors are simply
    not served yet — and (b) be repaired by re-running the SAME append:
    each table's anti-join completes independently."""
    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.input import HiveInput, ScanSpec
    from hive_io_experimental_spark.output import HiveOutput, WriteSpec

    cat = Catalog(warehouse)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    queries = emb.filter(F.col("vec_id") < 30)

    similarity.ivf_pq_build_index(
        spark, cat, "default.emb_ivfpqt", half_a,
        centroid_stride=5, pq_stride=5, max_codes=128,
    )
    similarity.ivf_pq_append_to_index(
        spark, cat, "default.emb_ivfpqt", half_b
    )
    # manufacture the torn state: codes hold half_b, lists do not (the
    # crash-between-appends layout) — rewrite lists to the build half
    inp = HiveInput(spark, cat)
    lists_schema = cat.get_schema("default.emb_ivfpqt_lists")
    surviving = inp.read_table(
        ScanSpec(table="default.emb_ivfpqt_lists")
    ).filter(F.col("id") % 2 == 0).localCheckpoint()
    cat.drop_table("default.emb_ivfpqt_lists", delete_data=True)
    cat.create_table("default.emb_ivfpqt_lists", lists_schema,
                     versioned=True)
    HiveOutput(spark, cat).write_table(
        WriteSpec(table="default.emb_ivfpqt_lists"), surviving
    )
    # (a) serving is a consistent SUBSET: no error, and every served
    # neighbor comes from the listed (even) half
    served = similarity.ivf_pq_query_index(
        spark, cat, "default.emb_ivfpqt", queries, k=5
    )
    assert served.filter(F.col("neighbor_id") % 2 == 1).count() == 0
    assert served.count() > 0
    # (b) re-running the append repairs the missing half only
    similarity.ivf_pq_append_to_index(
        spark, cat, "default.emb_ivfpqt", half_b
    )
    assert inp.read_table(
        ScanSpec(table="default.emb_ivfpqt_lists")
    ).count() == emb.count()
    row = similarity.ivf_pq_index_consistency_check(
        spark, cat, "default.emb_ivfpqt", emb, queries, k=5,
        centroid_stride=10, pq_stride=10, max_codes=128,
    ).first()
    assert row["n_mismatch"] == 0


def test_lsh_index_refuses_torn_rebuild(spark, sf_dir, warehouse):
    from pyspark.sql import types as T

    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.output import HiveOutput, WriteSpec
    from hive_io_experimental_spark.schema import HiveTableSchema

    cat = Catalog(warehouse)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    similarity.lsh_build_index(
        spark, cat, "default.emb_lsh3", emb, num_planes=8
    )
    # meta got a new stamp, buckets still carry the old one
    schema = HiveTableSchema((
        ("num_planes", T.IntegerType()),
        ("dim", T.IntegerType()),
        ("n_vectors", T.LongType()),
        ("build_id", T.StringType()),
    ))
    cat.drop_table("default.emb_lsh3_meta", delete_data=True)
    cat.create_table("default.emb_lsh3_meta", schema)
    dim = int(emb.select(F.size("embedding")).first()[0])
    HiveOutput(spark, cat).write_table(
        WriteSpec(table="default.emb_lsh3_meta"),
        spark.createDataFrame(
            [(8, dim, int(emb.count()), "torn-stamp")],
            schema.to_struct_type(),
        ),
    )
    with pytest.raises(ValueError, match="mixed build_id"):
        similarity.lsh_query_index(
            spark, cat, "default.emb_lsh3", emb, queries
        )
    with pytest.raises(ValueError, match="mixed build_id"):
        similarity.lsh_append_to_index(
            spark, cat, "default.emb_lsh3", queries
        )


def test_ivf_pq_index_repair_completes_torn_append(spark, sf_dir, warehouse):
    """The batch-free torn-append repair (r14): kill between the two
    appends (simulated by rolling the codes table back to its
    pre-append snapshot after a normal append — lists landed, codes
    did not), detect the id diff, complete the missing half from the
    CORPUS under the stored geometry, and prove serving equals the
    direct operator over the full corpus. Idempotent (second run all
    zeros); detection-only with corpus=None; a corpus that lost a torn
    id raises; mixed stamps (torn REBUILD) are refused."""
    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.input import HiveInput, ScanSpec

    cat = Catalog(warehouse)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    queries = emb.filter(F.col("vec_id") < 30)
    tbl = "default.emb_ivfpqr"
    similarity.ivf_pq_build_index(
        spark, cat, tbl, half_a,
        centroid_stride=5, pq_stride=5, max_codes=128,
    )
    v_built = cat.current_version(tbl)
    v_lists_built = cat.current_version(f"{tbl}_lists")
    similarity.ivf_pq_append_to_index(spark, cat, tbl, half_b)
    # tear: codes back to the pre-append snapshot, lists keep the append
    cat.rollback_to_version(tbl, v_built)
    inp = HiveInput(spark, cat)
    n_torn = half_b.count()
    assert inp.read_table(ScanSpec(table=tbl)).count() == half_a.count()
    assert inp.read_table(
        ScanSpec(table=f"{tbl}_lists")
    ).count() == emb.count()

    # detection-only: reports the diff, repairs nothing
    det = similarity.ivf_pq_index_repair(spark, cat, tbl).first()
    assert det["n_missing_codes"] == n_torn
    assert det["n_missing_lists"] == 0
    assert det["n_repaired_codes"] == det["n_repaired_lists"] == 0
    assert inp.read_table(ScanSpec(table=tbl)).count() == half_a.count()

    # a corpus that no longer holds the torn ids cannot complete them
    with pytest.raises(ValueError, match="no longer in the corpus"):
        similarity.ivf_pq_index_repair(spark, cat, tbl, half_a)

    # repair from the system-of-record corpus, no original batch needed
    rep = similarity.ivf_pq_index_repair(spark, cat, tbl, emb).first()
    assert rep["n_missing_codes"] == rep["n_repaired_codes"] == n_torn
    assert rep["n_missing_lists"] == rep["n_repaired_lists"] == 0
    assert inp.read_table(ScanSpec(table=tbl)).count() == emb.count()
    # one shared build stamp survives the repair
    assert inp.read_table(ScanSpec(table=tbl)).select(
        "build_id"
    ).distinct().count() == 1
    # repaired == what re-delivery would have appended: serving equals
    # the direct operator over the full corpus (the append test's dials)
    row = similarity.ivf_pq_index_consistency_check(
        spark, cat, tbl, emb, queries, k=5,
        centroid_stride=10, pq_stride=10, max_codes=128,
    ).first()
    assert row["n_mismatch"] == 0 and row["n_served"] > 0
    # idempotent: a clean index reports and writes nothing
    again = similarity.ivf_pq_index_repair(spark, cat, tbl, emb).first()
    assert tuple(again) == (0, 0, 0, 0)

    # the REVERSE tear (codes present, lists missing) also completes:
    # roll lists back to the half_a build, keep codes full
    cat.rollback_to_version(f"{tbl}_lists", v_lists_built)
    assert inp.read_table(
        ScanSpec(table=f"{tbl}_lists")
    ).count() < emb.count()
    rep2 = similarity.ivf_pq_index_repair(spark, cat, tbl, emb).first()
    assert rep2["n_repaired_lists"] > 0
    assert inp.read_table(
        ScanSpec(table=f"{tbl}_lists")
    ).count() == emb.count()
    row2 = similarity.ivf_pq_index_consistency_check(
        spark, cat, tbl, emb, queries, k=5,
        centroid_stride=10, pq_stride=10, max_codes=128,
    ).first()
    assert row2["n_mismatch"] == 0

    # mixed stamps are a torn REBUILD — refused, not papered over
    from pyspark.sql import types as T

    from hive_io_experimental_spark.output import HiveOutput, WriteSpec
    from hive_io_experimental_spark.schema import HiveTableSchema

    cb = inp.read_table(
        ScanSpec(table=f"{tbl}_codebooks")
    ).drop("build_id").withColumn(
        "build_id", F.lit("torn-stamp")
    ).localCheckpoint()
    cat.drop_table(f"{tbl}_codebooks", delete_data=True)
    cat.create_table(f"{tbl}_codebooks", HiveTableSchema((
        ("j", T.IntegerType()),
        ("code", T.IntegerType()),
        ("cv", T.ArrayType(T.DoubleType())),
        ("build_id", T.StringType()),
    )))
    HiveOutput(spark, cat).write_table(
        WriteSpec(table=f"{tbl}_codebooks"), cb
    )
    with pytest.raises(ValueError, match="torn REBUILD"):
        similarity.ivf_pq_index_repair(spark, cat, tbl, emb)


def test_ivf_pq_index_repair_refuses_unencodable_corpus_rows(
    spark, sf_dir, warehouse
):
    """A torn id whose corpus row can no longer be encoded (NULL /
    zero-norm / wrong-width embedding) must RAISE, not report success:
    the encode stage silently drops such rows, so without the fence the
    report would claim the tear repaired while the id stays unservable
    forever (r14 self-review)."""
    from hive_io_experimental_spark.catalog import Catalog

    cat = Catalog(warehouse)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    tbl = "default.emb_ivfpqrz"
    similarity.ivf_pq_build_index(
        spark, cat, tbl, half_a,
        centroid_stride=5, pq_stride=5, max_codes=128,
    )
    v_built = cat.current_version(tbl)
    similarity.ivf_pq_append_to_index(
        spark, cat, tbl, emb.filter(F.col("vec_id") % 2 == 1)
    )
    cat.rollback_to_version(tbl, v_built)
    # corpus whose odd (torn) rows lost their vectors: zero-norm
    dim = len(emb.select("embedding").first()[0])
    zeroed = emb.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") % 2 == 1,
            F.array(*[F.lit(0.0) for _ in range(dim)]),
        ).otherwise(F.col("embedding").cast("array<double>")),
    )
    with pytest.raises(ValueError, match="cannot be re-encoded"):
        similarity.ivf_pq_index_repair(spark, cat, tbl, zeroed)
    # nothing was committed: the codes table still holds only the build
    from hive_io_experimental_spark.input import HiveInput, ScanSpec

    assert HiveInput(spark, cat).read_table(
        ScanSpec(table=tbl)
    ).count() == half_a.count()
    # the intact corpus still completes the tear
    rep = similarity.ivf_pq_index_repair(spark, cat, tbl, emb).first()
    assert rep["n_repaired_codes"] == emb.count() - half_a.count()


def test_ivf_pq_fused_build_zero_norm_rows_listed_but_not_encoded(
    spark, warehouse
):
    """The fused single-pass build (r14 optimization: one corpus read
    yields both the coarse assignment and the PQ codes) must preserve
    the two passes' differing zero-norm semantics: a zero-norm vector
    gets a centroid assignment (the assign pass never dropped it) but
    NO codes row (the encode pass's unit-vector stage drops it)."""
    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.input import HiveInput, ScanSpec

    cat = Catalog(warehouse)
    dim = 8
    rows = [
        (i, [float((i * 7 + j * 3) % 5 - 2) for j in range(dim)])
        for i in range(0, 40)
    ]
    rows.append((99, [0.0] * dim))  # the zero-norm row
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    similarity.ivf_pq_build_index(
        spark, cat, "default.emb_zn", emb,
        centroid_stride=10, num_subspaces=4, pq_stride=5,
    )
    inp = HiveInput(spark, cat)
    lists = inp.read_table(ScanSpec(table="default.emb_zn_lists"))
    codes = inp.read_table(ScanSpec(table="default.emb_zn"))
    listed = {r["id"] for r in lists.select("id").collect()}
    coded = {r["id"] for r in codes.select("id").collect()}
    assert 99 in listed  # assigned like every row
    assert 99 not in coded  # dropped by the unit-vector stage
    assert coded == {i for i, _ in rows[:-1]}
    # and the nonzero rows' codes match the standalone encoder exactly
    direct = {
        r["id"]: list(r["codes"])
        for r in similarity.pq_encode(
            emb, num_subspaces=4, centroid_stride=5
        ).collect()
    }
    stored = {
        r["id"]: list(r["codes"])
        for r in codes.select("id", "codes").collect()
    }
    assert stored == direct

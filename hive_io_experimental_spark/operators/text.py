"""Text-analysis operators: metrics/quality, language-ID, fingerprinting.

All pure column expressions over `documents`-shaped tables — JVM-side,
codegen-friendly, shuffle-free (these are per-row maps; they compose with
any scan). Each has an exact DuckDB-SQL twin for the correctness oracle.

The reference has no scalar function surface at all (SURVEY §2.2); these are
the engine's training-data-pipeline extensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hive_io_experimental_spark.functions.hashing import portable_hash64
from hive_io_experimental_spark.functions.partitioning import spread
from hive_io_experimental_spark.functions.reuse import reuse, run_concurrently
from hive_io_experimental_spark.functions.textfns import normalize_text, word_tokens
from hive_io_experimental_spark.operators.artifacts import (
    ArtifactSet,
    Part,
    mismatch_count,
    read_set,
    write_set,
)

# Tiny language-marker lists. Deliberately small: the operator contract is a
# deterministic heuristic (n-gram/stopword scoring), not a trained model.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "is", "in"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
    "es": ["el", "la", "que", "de", "y", "los", "una"],
    "fr": ["le", "la", "les", "et", "des", "une", "est"],
}

# A small English stopword list for quality ratios.
STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "this", "for", "on", "with", "as", "at", "by",
]


def _metric_columns(text) -> dict:
    """The text_metrics expressions as named Columns over ``text`` — shared
    by text_metrics, quality_filter, and the single-pass corpus stats so
    every consumer computes the exact same formulas (oracle identity)."""
    toks = word_tokens(text)
    n_tokens = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    n_chars = F.length(text)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[.,;:!?'\"]", ""))
    token_chars = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    )
    # try_divide, not '/': Spark 4 runs ANSI mode, where x/0 throws. Empty
    # documents (0 tokens / 0 chars) get NULL ratios instead — the sane SQL
    # semantics, and identical to '/' on every non-degenerate row.
    # Composite score in [0,1]: length credit (saturates at 64 tokens),
    # vocabulary diversity, and light penalties for stopword/punct excess.
    quality = F.round(
        0.35 * F.least(n_tokens / F.lit(64.0), F.lit(1.0))
        + 0.35 * F.try_divide(n_uniq, n_tokens)
        + 0.15 * (1 - F.least(F.try_divide(n_stop, n_tokens), F.lit(1.0)))
        + 0.15 * (1 - F.least(n_punct / F.greatest(n_chars, F.lit(1)), F.lit(1.0))),
        6,
    )
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "n_uniq_tokens": n_uniq,
        "uniq_ratio": F.round(F.try_divide(n_uniq, n_tokens), 6),
        "stopword_ratio": F.round(F.try_divide(n_stop, n_tokens), 6),
        "punct_ratio": F.round(F.try_divide(n_punct, n_chars), 6),
        "avg_token_len": F.round(F.try_divide(token_chars, n_tokens), 6),
        "quality_score": quality,
    }


def text_metrics(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document quality metrics + a composite quality score.

    Columns: n_chars, n_tokens, n_uniq_tokens, uniq_ratio, stopword_ratio,
    punct_ratio, avg_token_len, quality_score. Ratios rounded to 6 to absorb
    engine-side double formatting; the arithmetic itself is exact-identical
    across engines (integer counts -> one double division).
    """
    df = spread(df)
    cols = _metric_columns(F.col(text_col))
    return df.select(
        F.col(id_col).alias("doc_id"),
        *[expr.alias(name) for name, expr in cols.items()],
    )


def _lang_columns(text) -> dict:
    """lang_id expressions as named Columns (shared with corpus stats)."""
    toks = word_tokens(text)
    n_tokens = F.greatest(F.size(toks), F.lit(1))
    # closure factory, NOT a default-arg lambda: PySpark introspects the
    # lambda arity, so an extra default parameter becomes a second Column.
    def marker_hits(markers: list[str]):
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    scores = {lang: marker_hits(markers) for lang, markers in LANG_MARKERS.items()}
    has_cjk = F.length(F.regexp_replace(text, r"[^一-鿿]", "")) > 0
    en, de, es, fr = scores["en"], scores["de"], scores["es"], scores["fr"]
    pred = (
        F.when(has_cjk, F.lit("zh"))
        .when((de > en) & (de >= es) & (de >= fr), F.lit("de"))
        .when((es > en) & (es > de) & (es >= fr), F.lit("es"))
        .when((fr > en) & (fr > de) & (fr > es), F.lit("fr"))
        .otherwise(F.lit("en"))
    )
    best = F.greatest(en, de, es, fr)
    return {
        "lang_pred": pred,
        "lang_score": F.round(best / n_tokens, 6),
    }


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Deterministic heuristic language ID.

    CJK-character presence short-circuits to 'zh'; otherwise the language
    with the highest marker-stopword hit count wins, ties broken by a fixed
    priority order (en > de > es > fr). Returns (doc_id, lang_pred, score).
    """
    df = spread(df)
    cols = _lang_columns(F.col(text_col))
    return df.select(
        F.col(id_col).alias("doc_id"),
        cols["lang_pred"].alias("lang_pred"),
        cols["lang_score"].alias("lang_score"),
    )


def fingerprint(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    hash_family: str | None = None,
) -> DataFrame:
    """Stable 60-bit content fingerprint of the normalized text.

    (doc_id, fp) — identical across engines with the default md5 family,
    usable as a join/dedup key and as the document identity downstream;
    hash_family='xxhash64' (or the hiveio.hash.family conf) switches to the
    production fast path.
    """
    from hive_io_experimental_spark.functions.hashing import (
        content_hash64,
        resolve_family,
    )

    family = resolve_family(df, hash_family)
    return df.select(
        F.col(id_col).alias("doc_id"),
        content_hash64(normalize_text(F.col(text_col)), family).alias("fp"),
    )


def token_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document token counting, three granularities + a BPE-ish estimate.

    n_ws_tokens    whitespace-delimited chunks (the cheapest count)
    n_word_tokens  word tokens (letters/digits runs)
    n_sym_chars    symbol characters (each becomes its own BPE token)
    est_bpe_tokens sum over words of ceil(len/4) + n_sym_chars — the standard
                   "~4 chars per BPE piece" estimator used for budget math in
                   training pipelines (no tokenizer model needed).

    Pure column expressions (one pass, no shuffle).
    """
    df = spread(df)
    cols = _token_count_columns(F.col(text_col))
    return df.select(
        F.col(id_col).alias("doc_id"),
        *[expr.alias(name) for name, expr in cols.items()],
    )


def _token_count_columns(text) -> dict:
    """token_counts expressions as named Columns (shared with corpus stats)."""
    toks = word_tokens(text)
    n_ws = F.size(F.array_remove(F.split(F.trim(text), r"\s+"), ""))
    n_words = F.size(toks)
    n_sym = F.length(F.regexp_replace(text, r"[\p{L}\p{N}\s]", ""))
    bpe_words = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.floor((F.length(t) + 3) / 4).cast("long"),
    )
    return {
        "n_ws_tokens": n_ws.cast("long"),
        "n_word_tokens": n_words.cast("long"),
        "n_sym_chars": n_sym.cast("long"),
        "est_bpe_tokens": bpe_words + n_sym,
    }


def token_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Shannon entropy of the word-token distribution — the
    diversity axis of quality scoring (low entropy = repetitive/templated
    text; the Gopher-style repetition rules in doc_repetition catch local
    loops, entropy catches global skew).

    Computed in exact-count form H = log2(n) - (Σ c·log2 c)/n so the only
    float inputs are log2 of INTEGER counts — identical in every engine —
    and the Σ is a SEQUENTIAL fold over the SORTED count array (the repo's
    determinism recipe for double sums: same addition order on both
    engines and on every rerun, where an unordered aggregate sum would be
    partial-agg-order dependent). The final round(6) absorbs libm
    last-ulp freedom. norm_entropy divides by the max possible
    log2(n_uniq), NULL for single-token docs (0/0).

    Plan shape: explode → count per (doc, token) → collect+fold per doc.
    Two shuffles on doc-sized keys; the (doc, token) count is map-side
    combinable and the collected array is one doc's distinct-token counts
    (bounded by doc length), never corpus-wide state.
    """
    toks = word_tokens(F.col(text_col))
    exploded = df.select(
        F.col(id_col).alias("doc_id"), F.explode(toks).alias("tok")
    )
    counts = exploded.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_doc = counts.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("c")).alias("_cs")
    )
    n = F.aggregate(
        F.col("_cs"), F.lit(0).cast("long"), lambda a, c: a + c
    )
    clog = F.aggregate(
        F.col("_cs"),
        F.lit(0.0),
        lambda a, c: a + c.cast("double") * F.log2(c.cast("double")),
    )
    stats = per_doc.select(
        "doc_id",
        n.alias("n_tokens"),
        F.size("_cs").cast("long").alias("n_uniq"),
        clog.alias("_clog"),
    )
    h = F.log2(F.col("n_tokens").cast("double")) - F.col("_clog") / F.col(
        "n_tokens"
    )
    return stats.select(
        "doc_id",
        "n_tokens",
        "n_uniq",
        F.round(h, 6).alias("token_entropy"),
        F.when(
            F.col("n_uniq") > 1,
            F.round(h / F.log2(F.col("n_uniq").cast("double")), 6),
        ).alias("norm_entropy"),
    )


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS rolling-hash scheme):
    hash every k-char gram of the normalized text, slide a ``window`` over
    the hash sequence, keep the distinct window minima.

    Guarantees of the scheme: any shared substring of length >= k+window-1
    between two documents yields at least one shared fingerprint — the basis
    for plagiarism/near-dup detection at selectable density.

    Plan shape: grams hashed once per row (posexplode of a per-row array —
    NOT a per-position lambda re-evaluating the text, which would be
    O(n^2)), then ONE shuffle on doc_id for the sliding-window min. Docs
    with fewer than ``window`` grams emit nothing (only full windows count).
    Returns distinct (doc_id, fp) rows.
    """
    from pyspark.sql import Window as W

    from hive_io_experimental_spark.functions.textfns import char_ngrams

    # Materialize the normalized string BEFORE the gram lambda: the
    # per-position substr must reference a bound column, not re-run the
    # normalization regex at every position (see char_ngrams docstring).
    # The normalize projection sits BELOW the spread shuffle — the exchange
    # is an optimizer barrier, so CollapseProject cannot re-inline the regex
    # into the lambda (it otherwise does, observed 25x slower at sf0.1).
    prepared = spread(
        df.select(
            F.col(id_col).alias("doc_id"),
            normalize_text(F.col(text_col)).alias("_s"),
        )
    )
    # No interpreted higher-order function anywhere: explode the POSITIONS
    # (a cheap int sequence), then slice + hash each gram with plain codegen
    # expressions over the exploded rows. ~5x faster than building the gram
    # array with transform() lambdas (HOFs run interpreted, outside codegen).
    n_grams = F.greatest(F.length(F.col("_s")) - (k - 1), F.lit(0))
    # when(): sequence(1, 0) would count DOWN; short docs must yield no rows.
    positions = F.when(n_grams >= 1, F.sequence(F.lit(1), n_grams))
    exploded = (
        prepared.select(
            "doc_id",
            "_s",
            n_grams.alias("n_grams"),
            F.posexplode(positions).alias("_i", "pos1"),
        )
        .select(
            "doc_id",
            "n_grams",
            (F.col("pos1") - 1).alias("pos"),
            portable_hash64(F.expr(f"substring(_s, pos1, {k})")).alias("h"),
        )
    )
    w = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(W.currentRow, window - 1)
    )
    return (
        exploded.withColumn("wmin", F.min("h").over(w))
        .filter(F.col("pos") <= F.col("n_grams") - window)
        .select("doc_id", F.col("wmin").alias("fp"))
        .distinct()
    )


# PII patterns chosen to behave identically under Java regex (Spark) and
# RE2 (DuckDB): plain character classes, bounded repetition, \b word
# boundaries — no backreferences or lookaround (RE2 has neither).
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    "phone": (r"\+?\d[\d\- ]{7,}\d", "[PHONE]"),
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
}

# Fixed application order — replacements compose, so both engines must
# rewrite in the same sequence (ipv4 before phone: both match digit runs).
_PII_ORDER = ("ipv4", "phone", "email")


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Mask common PII (emails, phone numbers, IPv4 addresses) in text.

    The standard pre-training scrub stage: per-row regexp_replace chains —
    pure JVM column expressions, shuffle-free, composing with any scan.
    Returns (doc_id, redacted, n_email, n_phone, n_ipv4); the counts are
    taken BEFORE redaction so they report what was masked.
    """
    df = spread(df)
    text = F.col(text_col)
    counts = {
        name: F.size(F.regexp_extract_all(text, F.lit(pat), 0))
        for name, (pat, _) in PII_PATTERNS.items()
    }
    redacted = text
    for name in _PII_ORDER:
        pat, repl = PII_PATTERNS[name]
        redacted = F.regexp_replace(redacted, pat, repl)
    return df.select(
        F.col(id_col).alias("doc_id"),
        redacted.alias("redacted"),
        counts["email"].alias("n_email"),
        counts["phone"].alias("n_phone"),
        counts["ipv4"].alias("n_ipv4"),
    )


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 32,
    min_uniq_ratio: float = 0.4,
    max_stopword_ratio: float = 0.5,
) -> DataFrame:
    """Keep documents passing the standard pre-training quality gates.

    Composes :func:`text_metrics` with threshold predicates (the C4/Gopher-
    rule shape: length floor, vocabulary-diversity floor, stopword ceiling).
    Degenerate documents with NULL ratios (zero tokens) are dropped — WHERE
    NULL is false in every engine. Returns the metrics rows that pass, so
    downstream stages can weight by quality_score.
    """
    m = text_metrics(df, text_col=text_col, id_col=id_col)
    return m.filter(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("uniq_ratio") >= min_uniq_ratio)
        & (F.col("stopword_ratio") <= max_stopword_ratio)
    )


def corpus_language_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-language corpus budget: docs, estimated BPE tokens, mean quality.

    The "how many training tokens do we have per language" query every
    pipeline runs before sampling. SINGLE PASS: lang_id, token-count, and
    quality expressions are all per-row maps over the same scan, so they
    are computed in one select (shared expression builders — identical
    formulas to the standalone operators) followed by one groupBy(lang):
    scan -> map -> one shuffle. The join-of-three-operators formulation
    costs 5 exchanges for the same answer. Quality averaged via an exact
    decimal sum, then one double division — order-independent, so it
    hash-matches across engines.
    """
    text = F.col(text_col)
    per_doc = spread(df).select(
        F.col(id_col).alias("doc_id"),
        _lang_columns(text)["lang_pred"].alias("lang_pred"),
        _token_count_columns(text)["est_bpe_tokens"].alias("est_bpe_tokens"),
        _metric_columns(text)["quality_score"].alias("quality_score"),
    )
    q_dec = F.col("quality_score").cast("decimal(10,6)")
    return (
        per_doc.groupBy("lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("est_bpe_tokens").alias("sum_bpe_tokens"),
            (F.sum(q_dec).cast("double") / F.count(F.lit(1)))
            .alias("avg_quality"),
        )
    )


def top_quality_per_lang(
    df: DataFrame,
    n: int = 25,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The best ``n`` documents per predicted language, by quality score.

    Quality-stratified selection (the curation step after scoring): one
    select computes lang + quality per row (shared builders, single scan),
    then a window rank per language — one shuffle on lang_pred. Ties break
    on doc_id so selection is deterministic. Returns
    (doc_id, lang_pred, quality_score, rank).
    """
    from pyspark.sql import Window as W

    text = F.col(text_col)
    per_doc = spread(df).select(
        F.col(id_col).alias("doc_id"),
        _lang_columns(text)["lang_pred"].alias("lang_pred"),
        _metric_columns(text)["quality_score"].alias("quality_score"),
    )
    w = W.partitionBy("lang_pred").orderBy(
        F.col("quality_score").desc_nulls_last(), F.col("doc_id").asc()
    )
    return per_doc.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= n)


def token_histogram(df: DataFrame, text_col: str = "text", top_n: int = 20) -> DataFrame:
    """Corpus-level token frequency, top-N by count (count desc, token asc).

    One explode + one groupBy: the shuffle is on token (high cardinality);
    partial aggregation collapses per-partition counts first, so the shuffle
    volume is vocabulary-sized, not corpus-sized.
    """
    return (
        spread(df).select(F.explode(word_tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(top_n)
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 3,
) -> DataFrame:
    """TF-IDF: per document, the ``top_n`` highest-scoring terms.

    idf = ln((N + 1) / (df + 1)) + 1 (the smoothed formulation — never
    negative, defined for unseen terms); score = tf * idf, rounded to 6 so
    both engines' libm log tails agree.

    Plan shape (all equi-partitioned, no broadcast of anything
    corpus-sized): explode tokens -> groupBy (doc, term) for tf [shuffle 1,
    map-side partial]; groupBy term for document frequency [shuffle 2,
    vocabulary-sized]; tf joins df on term [co-partitioned with shuffle 2];
    the corpus doc count N is a one-row aggregate broadcast by AQE; final
    per-doc top-n is a window over doc_id [shuffle 3]. At 100 TB every
    shuffle carries (key, counts) pairs, never text.
    Returns (doc_id, token, tf, df, tfidf, rank).
    """
    toks = (
        spread(df)
        .select(F.col(id_col).alias("doc_id"),
                F.explode(word_tokens(F.col(text_col))).alias("token"))
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        tf.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n_docs = df.agg(F.countDistinct(F.col(id_col)).alias("_n"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id", "token", "tf", "df",
            F.round(
                F.col("tf")
                * (F.log((F.col("_n") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_n)
        .select("doc_id", "token", "tf", "df", "tfidf", "rank")
    )


def doc_repetition(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Repetition scoring (the Gopher/C4-style quality rule): how much of a
    document is its own most-frequent word ``k``-gram.

    A high top_gram_ratio or a low distinct_gram_ratio marks boilerplate /
    template spam that per-token metrics miss. Plan shape: shingles
    explode -> ONE groupBy (doc, gram) with map-side partial aggregation,
    then a per-doc aggregate over the gram counts — shuffles carry (id,
    gram-hash-sized) pairs, never document text. Docs shorter than ``k``
    words have no grams and are excluded (they are length-gated upstream).
    Returns (doc_id, n_grams, n_distinct_grams, max_gram_count,
    top_gram_ratio, distinct_gram_ratio).
    """
    from hive_io_experimental_spark.functions.textfns import word_shingles

    grams = spread(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(F.col(text_col), k)).alias("gram"),
    )
    counts = grams.groupBy("doc_id", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.count(F.lit(1)).alias("n_distinct_grams"),
            F.max("cnt").alias("max_gram_count"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_distinct_grams",
            "max_gram_count",
            F.round(F.col("max_gram_count") / F.col("n_grams"), 6).alias(
                "top_gram_ratio"
            ),
            F.round(F.col("n_distinct_grams") / F.col("n_grams"), 6).alias(
                "distinct_gram_ratio"
            ),
        )
    )


def source_mix(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source corpus mix: docs, token budget, mean quality — the
    provenance report a curation pipeline produces before weighting
    sources.

    Same single-pass shape as corpus_language_stats: all metric
    expressions ride the scan projection, then ONE groupBy on the
    low-cardinality source key. Every aggregate is an exact integer:
    quality_score is already quantized to 6 decimals, so it is carried
    as an e6-scaled BIGINT sum — both engines bit-agree on integer sums,
    whereas a trailing double division can land on a half-ulp boundary
    and diverge per engine. Consumers divide: avg_quality =
    sum_quality_e6 / 1e6 / n_docs; avg_tokens = sum_tokens / n_docs.
    Returns (source, n_docs, sum_bpe_tokens, sum_quality_e6, sum_tokens).
    """
    text = F.col(text_col)
    per_doc = spread(df).select(
        F.col(source_col).alias("source"),
        _token_count_columns(text)["est_bpe_tokens"].alias("est_bpe_tokens"),
        _metric_columns(text)["quality_score"].alias("quality_score"),
        _metric_columns(text)["n_tokens"].alias("n_tokens"),
    )
    q_e6 = (
        F.col("quality_score").cast("decimal(10,6)") * 1_000_000
    ).cast("long")
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("est_bpe_tokens").alias("sum_bpe_tokens"),
            F.sum(q_e6).alias("sum_quality_e6"),
            F.sum(F.col("n_tokens").cast("long")).alias("sum_tokens"),
        )
    )


def benchmark_decontamination(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    min_shared: int = 1,
) -> DataFrame:
    """Test-set contamination filter: flag training documents that share
    winnowing fingerprints with a held-out benchmark corpus.

    The decontamination step every serious pretraining pipeline runs
    before training (the complement of cross_source_leakage, which audits
    source PAIRS; this clears one corpus against one benchmark). The
    winnowing guarantee makes the flag meaningful: any verbatim overlap
    of length >= k + window - 1 chars yields at least one shared
    fingerprint, so contaminated=false bounds the longest possible
    benchmark substring leak.

    Plan shape: fingerprints on each side ride their own scans; the
    benchmark's DISTINCT fp set is tiny relative to the corpus (benchmarks
    are small by nature) so Spark/AQE broadcasts it into the probe join —
    the training corpus never shuffles. Returns every training doc id:
    (doc_id, n_shared_fps, contaminated).
    """
    dfp = winnowing_fingerprints(docs, text_col, id_col, k, window)
    bfp = (
        winnowing_fingerprints(benchmark, text_col, id_col, k, window)
        .select("fp")
        .distinct()
    )
    hits = (
        dfp.join(bfp, "fp")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
    )
    ids = docs.select(F.col(id_col).alias("doc_id")).distinct()
    return (
        ids.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_shared_fps"), F.lit(0)).cast("long").alias(
                "n_shared_fps"
            ),
            (
                F.coalesce(F.col("n_shared_fps"), F.lit(0))
                >= F.lit(min_shared)
            ).alias("contaminated"),
        )
    )


def cross_source_leakage(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Contamination check between sources: for every source pair, how many
    winnowing fingerprints they share — the train/benchmark leakage audit
    every corpus assembly runs (shared substrings of length >= k+window-1
    are guaranteed to collide on at least one fingerprint).

    Scale shape: fingerprints reduce to DISTINCT (source, fp) rows first —
    that caps the fp self-join fan-out at |sources| rows per fingerprint
    (a few dozen), so even a fingerprint occurring in a billion documents
    contributes at most |sources|^2 pairs. The join key is the fingerprint
    (uniformly distributed 60-bit hash — no skew); output is
    |sources|^2-bounded. Returns (source_a, source_b, n_shared_fps).
    """
    fps = winnowing_fingerprints(df, text_col=text_col, id_col=id_col,
                                 k=k, window=window)
    src = df.select(F.col(id_col).alias("doc_id"),
                    F.col(source_col).alias("source"))
    sfp = (
        fps.join(src, "doc_id")
        .select("source", "fp")
        .distinct()
    )
    a = sfp.select(F.col("source").alias("source_a"), "fp")
    b = sfp.select(F.col("source").alias("source_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
    )


def unigram_lm_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cache_tokens: bool = False,
) -> DataFrame:
    """Self-trained unigram LM score (bits per token) per document.

    The classic cheap LM-quality filter for pretraining corpora: fit a
    unigram model on the corpus itself (token probability = corpus
    frequency), then score each document by its average negative log2
    token probability. Boilerplate and natural prose score low bits/token
    (common words), gibberish and random strings score high — threshold on
    ``avg_bits`` to drop junk without any external model.

    Plan shape for 100 TB: ONE explode -> groupBy(token) count (map-side
    combined) builds the vocab; the per-token score joins tokens back to
    the vocab ON TOKEN — the same hash partitioning the count shuffle
    already produced — then ONE groupBy(doc) sums. No driver-side state;
    vocab never needs to be broadcast (though AQE will when it fits).

    Determinism across engines: per-token bits are rounded to 6 and summed
    as exact DECIMAL(18,6) — order-independent, so the value hash is
    stable under any partitioning (same trick as label_centroid_stats).
    Docs with zero tokens produce no row (no tokens to average).

    Returns (doc_id, n_tokens, avg_bits), avg_bits rounded to 6.
    """
    # tok feeds two plan branches (vocab count + the scoring join). No
    # implicit persist: a cached block a one-shot caller can never
    # unpersist leaks for the session lifetime, so the default re-runs
    # tokenization per branch (a narrow map that rides each scan).
    # Iterative callers scoring the same corpus repeatedly opt in with
    # cache_tokens=True and OWN the cache — unpersist via
    # spark.catalog.clearCache() or rebuild the frame; at warehouse scale
    # the real answer is a checkpointed token table (same note as the
    # shingle table in dedup.ngram_jaccard_pairs).
    tok = spread(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_tokens(F.col(text_col))).alias("token"),
    )
    if cache_tokens:
        tok = tok.persist()
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("_c"))
    # corpus total via a global window, not agg+crossJoin: the window rides
    # the already-aggregated vocab in one pass, where the crossJoin form
    # re-derived vocab (and re-tokenized) just to produce the 1-row total.
    # The single-partition window frame holds only the aggregated vocab.
    from pyspark.sql import Window

    _wall = Window.partitionBy()
    bits = vocab.select(
        "token",
        F.round(-F.log2(F.col("_c") / F.sum("_c").over(_wall)), 6)
        .cast("decimal(18,6)")
        .alias("_bits"),
    )
    return (
        tok.join(bits, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("_bits").alias("_s"),
        )
        .select(
            "doc_id", "n_tokens",
            _decimal_mean_6("_s", "n_tokens").alias("avg_bits"),
        )
    )


def _decimal_mean_6(sum_col: str, count_col: str):
    """round(sum/count, 6) over an exact DECIMAL(.,6) sum — via pure
    INTEGER arithmetic, because the obvious ROUND(double, 6) is a
    cross-engine trap: the exact rational sum/count lands exactly ON a
    .5e-6 rounding boundary whenever sum*1e6 ≡ count/2 (mod count), and
    there Spark's decimal-exact HALF_UP disagrees with a float-multiply
    ROUND (hit in the wild: 68.661789/14 = 4.9044135 exactly).
    HALF_UP(S/n) == (2S + n) div (2n) for the non-negative values here;
    the final /1e6 is one double division, bit-identical everywhere.
    SQL twin: CAST((2 * CAST(s * 1000000 AS BIGINT) + n) // (2 * n)
    AS DOUBLE) / CAST(1000000 AS DOUBLE)."""
    return F.expr(
        f"CAST((2 * CAST({sum_col} * 1000000 AS BIGINT) + {count_col}) "
        f"div (2 * {count_col}) AS DOUBLE)"
    ) / F.lit(1_000_000.0)


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 512,
    overlap: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window token chunks per document (pretraining prep).

    Long documents are cut into windows of ``chunk_tokens`` tokens
    advancing by ``stride = chunk_tokens - overlap``, so consecutive
    chunks share ``overlap`` tokens of context; the tail chunk may be
    shorter. Zero-token documents emit nothing. A chunk is only emitted
    if it contributes at least one NEW token: the last chunk index is
    ceil((n - chunk_tokens)/stride), not ceil(n/stride) - 1, which would
    append a tail window fully contained in its predecessor whenever
    n <= last_start + chunk_tokens — duplicated tail tokens in training
    data.

    Plan shape: tokenize ONCE per document in a projection, THEN explode
    the chunk-index sequence and slice the materialized token array per
    chunk — the explode boundary keeps the tokenizer from being re-inlined
    into per-chunk evaluation (the interpreted-HOF trap documented in
    functions/textfns.py). Pure narrow ops: no shuffle at any scale.

    Returns (doc_id, chunk_id, start_token, n_tokens, chunk_text).
    """
    if overlap >= chunk_tokens:
        raise ValueError(
            f"overlap {overlap} must be smaller than chunk_tokens "
            f"{chunk_tokens}"
        )
    stride = chunk_tokens - overlap
    toks = spread(df).select(
        F.col(id_col).alias("doc_id"),
        word_tokens(F.col(text_col)).alias("_toks"),
    ).withColumn("_n", F.size("_toks")).filter(F.col("_n") > 0)
    last_idx = F.when(
        F.col("_n") <= chunk_tokens, F.lit(0).cast("long")
    ).otherwise(
        F.ceil((F.col("_n") - chunk_tokens) / F.lit(stride)).cast("long")
    )
    chunks = toks.select(
        "doc_id",
        "_toks",
        "_n",
        F.explode(F.sequence(F.lit(0), last_idx)).alias("chunk_id"),
    )
    start = F.col("chunk_id") * F.lit(stride)
    piece = F.slice(F.col("_toks"), start + 1, chunk_tokens)
    return chunks.select(
        "doc_id",
        "chunk_id",
        start.alias("start_token"),
        F.size(piece).cast("long").alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def repeated_paragraphs(
    df: DataFrame,
    chunk_tokens: int = 32,
    min_docs: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Boilerplate detector: token windows recurring across many documents.

    The chunk-granularity complement to document near-dedup: licenses,
    navigation bars, and template footers repeat VERBATIM across
    otherwise-distinct documents and survive doc-level dedup entirely.
    Slide non-overlapping ``chunk_tokens`` windows over every document
    (chunk_documents with overlap=0), hash the window text, and keep
    hashes seen in at least ``min_docs`` DISTINCT documents. Emitting the
    md5 (not the text) keeps the result row narrow; join back on the
    hash to locate/strip occurrences.

    Returns (chunk_hash, n_docs, n_occurrences, sample_chunk) ordered by
    n_docs desc — sample_chunk is the lexicographically-min occurrence,
    deterministic in both engines.
    """
    chunks = chunk_documents(
        df, chunk_tokens=chunk_tokens, overlap=0,
        text_col=text_col, id_col=id_col,
    ).filter(F.col("n_tokens") == chunk_tokens)  # drop ragged tails
    return (
        chunks.groupBy(F.md5(F.col("chunk_text")).alias("chunk_hash"))
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("chunk_text").alias("sample_chunk"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_postings: int = 20,
) -> DataFrame:
    """Build a term -> postings inverted index: (term, df, tf_total,
    postings) with the posting list capped at ``max_postings`` doc ids.

    The search-engine build step as a pure relational plan: explode
    tokens -> (term, doc) tf pairs [shuffle 1, map-side partial] ->
    per-term stats [shuffle 2, vocabulary-sized]. The posting cap is
    applied BY RANK BEFORE COLLECTING (row_number over doc_id, filter,
    then collect ≤ cap ids) — a hot term's postings never materialize
    corpus-sized in one task, which is what makes the build safe at
    100 TB; full postings would be written sharded (term, shard) instead.
    postings is the comma-joined numerically-sorted id prefix — a string
    both engines produce byte-identically.
    """
    from pyspark.sql import Window as W

    toks = spread(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_tokens(F.col(text_col))).alias("token"),
    )
    tf_pairs = toks.groupBy("token", "doc_id").agg(
        F.count(F.lit(1)).alias("tf")
    )
    stats = tf_pairs.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("tf_total"),
    )
    w = W.partitionBy("token").orderBy("doc_id")
    postings = (
        tf_pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= max_postings)
        .groupBy("token")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings")
        )
    )
    return (
        stats.join(postings, "token")
        .select(
            F.col("token").alias("term"), "df", "tf_total", "postings"
        )
    )




def _normalize_query_terms(terms) -> list[str]:
    """Query terms through the SAME tokenization the corpus gets: lower-
    case, split on non-letter/digit runs, flatten, dedupe preserving
    order. 'Apple' matches the corpus token 'apple'; "don't" becomes
    ['don', 't'] exactly like word_tokens produces; duplicate inputs
    collapse so AND counting stays satisfiable. Raises on an empty
    result — silently matching nothing helps nobody."""
    import re

    out: list[str] = []
    for t in terms:
        # [^\W_] == letters+digits (unicode), the Python twin of the
        # tokenizer's [\p{L}\p{N}]+ runs
        out.extend(m for m in re.findall(r"[^\W_]+", str(t).lower()))
    uniq = list(dict.fromkeys(out))
    if not uniq:
        raise ValueError(f"no searchable tokens in query terms: {terms!r}")
    return uniq


def keyword_search(
    df: DataFrame,
    terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 50,
) -> DataFrame:
    """Conjunctive (AND) keyword search: documents containing EVERY query
    term, ranked by total term frequency.

    The read path of the inverted index, expressed directly over the
    corpus: the token explode is filtered to the |terms| query tokens
    FIRST (predicate before the shuffle — candidate volume is postings-
    sized, not corpus-sized), then one groupBy per candidate doc checks
    the AND via countDistinct(term) == |terms|. Query terms pass through
    the same normalization as the corpus (lowercase, letter/digit runs,
    deduped) so 'Apple' finds 'apple'. Deterministic total
    order (tf_total desc, doc_id) before the LIMIT.
    """
    terms = _normalize_query_terms(terms)
    toks = spread(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_tokens(F.col(text_col))).alias("token"),
    ).filter(F.col("token").isin(list(terms)))
    return (
        toks.groupBy("doc_id")
        .agg(
            F.countDistinct("token").alias("n_terms"),
            F.count(F.lit(1)).cast("long").alias("tf_total"),
        )
        .filter(F.col("n_terms") == len(terms))
        .select("doc_id", "tf_total")
        .orderBy(F.col("tf_total").desc(), "doc_id")
        .limit(top_k)
    )




def merge_inverted_indexes(
    a: DataFrame, b: DataFrame, max_postings: int = 20,
    id_kind: str = "long",
) -> DataFrame:
    """index ⊕ index for inverted_index outputs built over DISJOINT
    document sets (the incremental-indexing contract: each batch indexes
    new doc ids).

    df and tf_total add; the merged posting prefix is exact — each side
    kept its first-``max_postings`` ids IN THE BUILD'S SORT ORDER, and for
    disjoint id sets the first-P of the union of two first-P prefixes IS
    the first-P of the full union. The merge must therefore sort the way
    the build did: ``id_kind='long'`` (default) sorts numerically and
    RAISES on a non-numeric posting instead of silently nulling it into a
    corrupt prefix; ``id_kind='string'`` sorts lexicographically, matching
    an index built over string doc ids (inverted_index sorts in the id
    column's native type). Merge cost is index-sized (vocabulary rows),
    never corpus-sized: one shuffle on term.
    """
    if id_kind not in ("long", "string"):
        raise ValueError(f"id_kind must be 'long' or 'string', got {id_kind!r}")
    if id_kind == "long":
        # assert_true returns NULL when the guard holds, so the when()
        # falls through to the numeric cast; a bad id fails the job loudly
        ids = F.transform(
            F.split("postings", ","),
            lambda x: F.when(
                F.assert_true(
                    x.rlike("^-?[0-9]+$"),
                    F.concat(
                        F.lit(
                            "merge_inverted_indexes(id_kind='long') got "
                            "non-numeric doc id '"
                        ),
                        x,
                        F.lit("' — merge string-id indexes with "
                              "id_kind='string'"),
                    ),
                ).isNull(),
                x.cast("long"),
            ),
        )
        prefix = F.slice(
            F.array_sort(F.flatten(F.collect_list(ids))), 1, max_postings
        ).cast("array<string>")
    else:
        prefix = F.slice(
            F.array_sort(F.flatten(F.collect_list(F.split("postings", ",")))),
            1,
            max_postings,
        )
    u = a.unionByName(b)
    return (
        u.groupBy("term")
        .agg(
            F.sum("df").cast("long").alias("df"),
            F.sum("tf_total").cast("long").alias("tf_total"),
            F.array_join(prefix, ",").alias("postings"),
        )
    )


def bm25_search(
    df: DataFrame,
    terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 50,
) -> DataFrame:
    """BM25-ranked (disjunctive) keyword search: top ``top_k`` documents
    scoring any query term, Robertson idf (+1 variant, always positive).

      idf(t)    = ln((N - df + 0.5) / (df + 0.5) + 1)
      score(d)  = Σ_t idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    Plan shape: one full-corpus pass for document lengths (dl) and the
    corpus aggregates (N, avgdl — a 1-row broadcast); the term explode is
    filtered to the query tokens BEFORE its shuffle, so the scored
    candidate set is postings-sized. Determinism: per-term contributions
    rounded to 6 and summed as exact DECIMAL(18,6) (order-independent —
    the lm-scorer trick), final ordering (score desc, doc_id) total.
    Query terms are normalized like the corpus (see keyword_search).
    Returns (doc_id, n_terms_hit, score).
    """
    terms = _normalize_query_terms(terms)
    contrib = _bm25_contributions(
        df, text_col, id_col, k1, b,
        token_filter=lambda toks: toks.filter(
            F.col("token").isin(list(terms))
        ),
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
            F.sum("_s").cast("double").alias("score"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(top_k)
    )


def _bm25_contributions(df, text_col, id_col, k1, b, token_filter):
    """Per-(doc_id, token) round-6 DECIMAL(18,6) BM25 contributions — the
    single formula both the single-query and batch entry points share (so
    the arithmetic can never drift between them). ``token_filter`` narrows
    the exploded corpus token stream to the query vocabulary BEFORE its
    shuffle: a literal isin (pushdown-friendly) for the single-query path,
    a broadcast semi-join (runtime filter) for the batch path."""
    prepared = spread(
        df.select(
            F.col(id_col).alias("doc_id"),
            word_tokens(F.col(text_col)).alias("_toks"),
        )
    )
    return _bm25_contributions_prepared(prepared, k1, b, token_filter)


def _bm25_contributions_prepared(prepared, k1, b, token_filter):
    """_bm25_contributions over an already-tokenized (doc_id, _toks)
    frame — for callers that share ONE corpus tokenization pass between
    several scoring stages (bm25_prf_search runs three)."""
    dl = prepared.select("doc_id", F.size("_toks").alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("_n"),
        (F.sum("dl") / F.count(F.lit(1))).alias("_avgdl"),
    )
    tf = (
        token_filter(
            prepared.select("doc_id", F.explode("_toks").alias("token"))
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    return (
        tf.join(dfreq, "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            "token",
            F.round(
                F.log(
                    (F.col("_n") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                    + 1.0
                )
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.col("_avgdl"))
                ),
                6,
            ).cast("decimal(18,6)").alias("_s"),
        )
    )


def bm25_search_batch(
    df: DataFrame,
    query_terms: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 50,
    query_id_col: str = "query_id",
    term_col: str = "term",
) -> DataFrame:
    """``bm25_search`` for a FRAME of queries: ``query_terms`` carries
    (query_id, term) rows and every query gets its own top ``top_k``.
    Returns (query_id, doc_id, n_terms_hit, score, rank).

    A training-data curation pass scoring thousands of probe queries ran
    the single-query operator in a driver loop — thousands of independent
    jobs over the same corpus. Here the corpus-sized work (tokenize, dl,
    the corpus aggregate, tf over the UNION of all query vocabularies) is
    paid ONCE; everything per-query happens on postings-sized frames:
    per-(doc, token) contributions are computed once per token (they are
    query-independent — same df, same tf, same dl), then a broadcast
    equi-join against the (query_id, token) sets fans them out to queries
    and one groupBy + per-query rank window finishes. Query terms are
    normalized through the corpus tokenizer JVM-side (same result as the
    single-query driver-side normalization — parity-tested); a query
    whose terms all normalize away simply scores no documents.

    The query-terms frame is broadcast (vocabulary fan-out + the final
    per-query join), so the queries-<<-corpus contract is ENFORCED like
    every broadcast path (raise past the cap, split the query batch)."""
    from hive_io_experimental_spark.operators.similarity import (
        _require_small_query_side,
    )

    qt = (
        query_terms.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(word_tokens(F.col(term_col))).alias("token"),
        )
        .distinct()
    )
    _require_small_query_side(
        qt, "bm25_search_batch",
        escape="splitting the query batch into broadcast-sized chunks",
    )
    contrib = _bm25_contributions(
        df, text_col, id_col, k1, b,
        token_filter=lambda toks: toks.join(
            F.broadcast(qt.select("token").distinct()), "token", "semi"
        ),
    )
    from pyspark.sql import Window

    perq = (
        contrib.join(F.broadcast(qt), "token")
        .groupBy("query_id", "doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
            F.sum("_s").cast("double").alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return perq.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= top_k)


def bm25_prf_search(
    df: DataFrame,
    terms: list[str],
    fb_docs: int = 5,
    fb_terms: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 50,
) -> DataFrame:
    """BM25 with pseudo-relevance-feedback query expansion (the
    Rocchio/RM3 family): run the seed query, treat its top ``fb_docs``
    documents as relevant, pick the ``fb_terms`` strongest NEW terms
    from them, and re-rank with seed + expansion terms. The classic
    fix for vocabulary mismatch — a query for 'join' also surfaces
    documents that say 'merge' when the feedback docs do.

    Expansion-term weight = tf_in_feedback · (N − df + 0.5)/(df + 0.5)
    — feedback mass times the Robertson idf RATIO (not its log: ln is
    monotone, so the RANKING is idf-faithful, and keeping the key a
    plain int-ratio product makes it IEEE-exact cross-engine with no
    libm/rounding hazard at all). Ties break on the token (ASCII
    alphabet — byte order == codepoint order in both engines). Seed
    terms are excluded from expansion; expansion is capped at fb_terms.

    Fully LAZY: the expansion terms never touch the driver — they stay
    a (token) frame semi-joined (broadcast) into the second pass's
    token stream, so the whole operator is one plan. Corpus-sized work
    is ONE tokenization pass (r15 optimization round, guide §1.2):
    the reuse()-materialized (doc_id, _toks) frame feeds the seed
    scoring, the feedback extraction, the df counts AND the final
    scoring — previously each of those re-read and re-tokenized the
    corpus (four passes). Everything downstream is vocabulary- or
    postings-bounded after its first shuffle, like bm25_search itself.
    Returns (doc_id, n_terms_hit, score) — bm25_search's schema, where
    n_terms_hit counts seed+expansion hits.
    """
    if fb_docs < 1 or fb_terms < 0:
        raise ValueError(
            f"need fb_docs >= 1 and fb_terms >= 0, got {fb_docs}, {fb_terms}"
        )
    from hive_io_experimental_spark.functions.reuse import reuse

    seed_terms = _normalize_query_terms(terms)
    prepared = reuse(spread(
        df.select(
            F.col(id_col).alias("doc_id"),
            word_tokens(F.col(text_col)).alias("_toks"),
        )
    ))
    # the seed pass: bm25_search's exact scoring tail over the shared
    # tokenized frame (same contributions formula, same literal-isin
    # narrowing)
    seed = (
        _bm25_contributions_prepared(
            prepared, k1, b,
            token_filter=lambda toks: toks.filter(
                F.col("token").isin(list(seed_terms))
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
            F.sum("_s").cast("double").alias("score"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(fb_docs)
    )
    toks = prepared.select("doc_id", F.explode("_toks").alias("token"))
    n_docs = prepared.select(F.count(F.lit(1)).alias("_n"))
    # fb_tf feeds BOTH the df semi-join and the weight join — reuse()
    # keeps its postings-sized aggregation from executing twice
    fb_tf = reuse(
        toks.join(F.broadcast(seed.select("doc_id")), "doc_id", "semi")
        .filter(~F.col("token").isin(list(seed_terms)))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("_tf_fb"))
    )
    # corpus df ONLY for the candidate tokens (semi-join narrows the
    # token stream BEFORE the distinct/groupBy — postings-sized work,
    # never a full-vocabulary aggregation)
    dfreq = (
        toks.join(F.broadcast(fb_tf.select("token")), "token", "semi")
        .distinct()
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    fb = (
        fb_tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "token",
            (
                F.col("_tf_fb")
                * (F.col("_n") - F.col("_df") + 0.5)
                / (F.col("_df") + 0.5)
            ).alias("_w"),
        )
        .orderBy(F.col("_w").desc(), F.col("token"))
        .limit(fb_terms)
        .select("token")
    )
    spark = df.sparkSession
    seed_frame = spark.createDataFrame(
        [(t,) for t in seed_terms], "token string"
    )
    wanted = fb.unionByName(seed_frame).distinct()
    contrib = _bm25_contributions_prepared(
        prepared, k1, b,
        token_filter=lambda t: t.join(F.broadcast(wanted), "token", "semi"),
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
            F.sum("_s").cast("double").alias("score"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(top_k)
    )


def phrase_search(
    df: DataFrame,
    phrase: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase search: per-document occurrence counts of a token
    phrase (adjacent, in order).

    Row-local k-gram formation — each candidate position's k-token slice
    is joined to a string and compared to the phrase — so the whole
    operator is one explode + one aggregate with NO positional self-joins
    (the k-1 (doc,pos) equi-joins a positional index would do). The slice
    rides the exploded position as a codegen expression over the bound
    token array, never an interpreted HOF lambda. Documents shorter than
    the phrase are skipped at the filter.
    Returns (doc_id, n_occurrences) for matching docs, ordered.
    """
    # same normalization as the corpus tokenizer, WITHOUT deduping —
    # repeated words in a phrase are positional ("badger badger")
    import re as _re

    p_toks = _re.findall(r"[^\W_]+", phrase.lower())
    k = len(p_toks)
    if k == 0:
        raise ValueError("empty phrase")
    target = " ".join(p_toks)
    prepared = spread(
        df.select(
            F.col(id_col).alias("doc_id"),
            word_tokens(F.col(text_col)).alias("_toks"),
        )
    ).filter(F.size("_toks") >= k)
    grams = prepared.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.size("_toks") - F.lit(k))
        ).alias("i"),
        "_toks",
    ).select(
        "doc_id",
        F.expr(f"array_join(slice(_toks, i + 1, {k}), ' ')").alias("gram"),
    )
    return (
        grams.filter(F.col("gram") == target)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
    )


# ---------------------------------------------------------------------------
# BPE vocabulary induction
# ---------------------------------------------------------------------------


def nb_train(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
) -> tuple[DataFrame, DataFrame]:
    """Multinomial Naive Bayes trainer — the fastText-niche classifier a
    training-data pipeline runs for cheap domain/language/quality
    routing: closed-form (two groupBys), no gradient loop, linear scans.

    Returns (priors, likelihoods):
      priors       (label, n_docs, prior_bits, unseen_bits) — prior_bits
                   = round(-log2(n_docs_c / n_docs), 6); unseen_bits =
                   round(-log2(1 / (N_c + V)), 6), the add-one-smoothed
                   cost of a token never seen with the class.
      likelihoods  (label, token, bits) — round(-log2((c(t,c)+1)
                   / (N_c + V)), 6).

    Exactness discipline (the LM-scorer contract): every probability is
    one double division of exact integers, one libm log2, one round(6) —
    bit-identical cross-engine at round-6; scoring sums the rounded
    values as DECIMAL(18,6) (order-independent). Model size is
    vocabulary x labels rows — Heaps-law bounded, NEVER corpus-sized;
    at 100 TB both tables are ordinary catalog tables.
    """
    priors_ext, lik_ext = _nb_derive(
        *_nb_stats(df, text_col=text_col, label_col=label_col)
    )
    return (
        priors_ext.select("label", "n_docs", "prior_bits", "unseen_bits"),
        lik_ext.select("label", "token", "bits"),
    )


def _nb_stats(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The EXACT integer sufficient statistics NB training reduces to:
    (tc, doc_counts, n_total) = ((label, token, _c) token counts,
    (label, n_docs) doc counts, 1-row (_n) total docs). Counting is
    associative — these three frames are the merge currency of
    nb_update_model: stats(b1) ⊕ stats(b2) == stats(b1 ∪ b2) in plain
    integer addition, which is what makes the incremental update
    EXACTLY equal to a full retrain."""
    toks = spread(
        df.select(
            F.col(label_col).alias("label"),
            F.explode(word_tokens(F.col(text_col))).alias("token"),
        )
    )
    tc = toks.groupBy("label", "token").agg(
        F.count(F.lit(1)).alias("_c")
    )
    doc_counts = df.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    n_total = df.select(F.count(F.lit(1)).alias("_n"))
    return tc, doc_counts, n_total


def _nb_derive(
    tc: DataFrame,
    doc_counts: DataFrame,
    n_total: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """(priors_ext, likelihoods_ext) from the sufficient statistics —
    the single derivation both nb_train and nb_update_model run, so the
    doubles are computed by the SAME expressions whichever path built
    the integers. Extended columns carry the statistics themselves
    (priors: n_tokens = N_c; likelihoods: c) so a persisted model can
    be folded forward without ever re-scanning its training corpus."""
    from hive_io_experimental_spark.functions.reuse import reuse

    # tc feeds the per-class totals, the vocabulary count, AND the
    # likelihood projection — one shuffle, reused
    tc = reuse(tc)
    class_tot = tc.groupBy("label").agg(F.sum("_c").alias("_nc"))
    vocab = tc.select("token").distinct().agg(
        F.count(F.lit(1)).alias("_v")
    )
    likelihoods = (
        tc.join(class_tot, "label")
        .crossJoin(F.broadcast(vocab))
        .select(
            "label",
            "token",
            F.col("_c").cast("long").alias("c"),
            F.round(
                -F.log2((F.col("_c") + 1.0) / (F.col("_nc") + F.col("_v"))),
                6,
            ).alias("bits"),
        )
    )
    # LEFT join: a class whose training docs hold zero tokens still gets
    # a prior row (N_c = 0 — its unseen cost is -log2(1/V) and it can
    # only ever be predicted on the prior); an inner join silently
    # removed such classes from the model
    priors = (
        doc_counts
        .crossJoin(F.broadcast(n_total))
        .join(class_tot, "label", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "label",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.coalesce(F.col("_nc"), F.lit(0)).cast("long")
            .alias("n_tokens"),
            F.round(-F.log2(F.col("n_docs") / F.col("_n")), 6)
            .alias("prior_bits"),
            # V = 0 (an all-tokenless training corpus — the legitimate
            # n_model_rows=0 model) makes the smoothed unseen cost
            # mathematically undefined AND unreachable: scoring such a
            # model only ever uses the prior. NULL, not a 1/0 that ANSI
            # mode turns into a build-time DIVIDE_BY_ZERO (hypothesis
            # found the empty-model path was never actually buildable).
            F.when(
                F.col("_v") > 0,
                F.round(
                    -F.log2(
                        1.0
                        / (F.coalesce(F.col("_nc"), F.lit(0))
                           + F.col("_v"))
                    ),
                    6,
                ),
            ).alias("unseen_bits"),
        )
    )
    return priors, likelihoods


def nb_score(
    df: DataFrame,
    priors: DataFrame,
    likelihoods: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents against a trained NB model: per document, the
    label minimizing prior_bits + Σ_tokens bits(token|label) (bits are
    negative log2, so min = max posterior; ties break to the smallest
    label — a total order). Documents with zero tokens rank on the
    prior alone. Returns (doc_id, label, total_bits, n_tokens).

    Plan: the token stream fans out by the LABEL SET (a broadcast of a
    handful of rows — the only corpus-growth factor is the number of
    classes), one left equi-join against the vocabulary-sized model
    with unseen tokens costing the class's smoothed constant, one
    groupBy (doc, label), one min_by per doc. Scores accumulate as
    DECIMAL(18,6) — order-independent, oracle-exact.
    """
    from hive_io_experimental_spark.functions.reuse import reuse

    # ONE tokenization pass feeds both legs (NULL text = zero tokens, so
    # routing pipelines never silently lose unlabeled rows); reuse() —
    # the exploded leg and the size==0 leg would otherwise re-tokenize
    # the whole scored corpus
    tok_arr = reuse(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.coalesce(
                word_tokens(F.col(text_col)),
                F.array().cast("array<string>"),
            ).alias("_t"),
        )
    )
    return _nb_score_tokens(tok_arr, priors, likelihoods)


def _nb_score_tokens(
    tok_arr: DataFrame,
    priors: DataFrame,
    likelihoods: DataFrame,
) -> DataFrame:
    """nb_score over an ALREADY-materialized token frame (doc_id,
    _t array<string>) — the consistency check scores the same corpus
    against two models, and sharing one tokenization pass between the
    legs halves the corpus-sized work (guide §1.2: don't compute the
    same thing twice)."""
    toks = spread(
        tok_arr.select("doc_id", F.explode("_t").alias("token"))
    )
    lab = priors.select(
        "label",
        F.col("prior_bits").cast("decimal(18,6)").alias("_prior"),
        F.col("unseen_bits").cast("decimal(18,6)").alias("_unseen"),
    )
    lk = likelihoods.select(
        "label", "token", F.col("bits").cast("decimal(18,6)").alias("_b")
    )
    per = (
        toks.crossJoin(F.broadcast(lab))
        .join(lk, ["label", "token"], "left")
        .groupBy("doc_id", "label")
        .agg(
            F.sum(F.coalesce(F.col("_b"), F.col("_unseen"))).alias("_tok"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.first("_prior").alias("_p"),
        )
        .select(
            "doc_id", "label", "n_tokens",
            (F.col("_p") + F.col("_tok")).cast("decimal(20,6)")
            .alias("_total"),
        )
    )
    # zero-token docs (including NULL text): every label scored on the
    # prior alone
    empties = (
        tok_arr.filter(F.size("_t") == 0)
        .select("doc_id")
        .crossJoin(F.broadcast(lab))
        .select(
            "doc_id", "label", F.lit(0).cast("long").alias("n_tokens"),
            F.col("_prior").cast("decimal(20,6)").alias("_total"),
        )
    )
    allrows = per.unionByName(empties)
    # argmin bits with label tiebreak: min over (total, label) structs
    best = allrows.groupBy("doc_id").agg(
        F.min(F.struct(F.col("_total"), F.col("label"))).alias("_best"),
        F.max("n_tokens").alias("n_tokens"),
    )
    return best.select(
        "doc_id",
        F.col("_best.label").alias("label"),
        F.col("_best._total").cast("double").alias("total_bits"),
        "n_tokens",
    )


# the persisted text artifacts (operators/artifacts.py). Meta is the
# authority for each set and commits first; its count column says when
# the other table is legitimately empty. An NB update replaces all three
# tables under a new build_id, so a serving stream stops on it too.
_NB_MODEL = ArtifactSet("model", "nb_build_model", (
    Part("meta", "_meta", "meta"),
    Part("priors", "_priors", "stamp"),
    Part("likelihoods", "", "stamp", empty_if="n_model_rows"),
), meta_first=True, change="UPDATED or REBUILT")
_BPE_VOCAB = ArtifactSet("vocab", "bpe_build_vocab", (
    Part("meta", "_meta", "meta"),
    Part("merges", "", "rows", empty_if="n_merges"),
), meta_first=True)


def nb_build_model(
    spark,
    catalog,
    model_table: str,
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
) -> None:
    """Train and PERSIST a Naive Bayes model as stamped catalog tables —
    the classifier joins the artifact lifecycle (LSH/IVF/PQ indexes, the
    BPE vocab): train once per corpus snapshot, route any number of
    batches from the stored tables, rebuild = explicit drop + recreate.

    Three tables sharing one ``build_id``: ``{model_table}`` (label,
    token, c, bits — the vocabulary×labels likelihoods WITH their exact
    integer counts), ``{model_table}_priors`` (label, n_docs, n_tokens,
    prior_bits, unseen_bits), and ``{model_table}_meta`` (n_labels,
    n_model_rows, n_docs_total, vocab_size, build_id — the authority
    that distinguishes a legitimately tiny model from a torn write).
    The count columns are the sufficient statistics that make
    nb_update_model an exact fold (round 14); models persisted by
    earlier rounds score fine but must be rebuilt once before they can
    be updated incrementally. The read paths refuse mixed stamps."""
    priors_ext, lik_ext = _nb_derive(
        *_nb_stats(df, text_col=text_col, label_col=label_col)
    )
    _nb_persist_model(spark, catalog, model_table, priors_ext, lik_ext,
                      op="nb_build_model")


def _nb_persist_model(
    spark,
    catalog,
    model_table: str,
    priors_ext: DataFrame,
    lik_ext: DataFrame,
    op: str,
    last_update_fp: str | None = None,
) -> str:
    """Stamp and write the three model tables (meta first — the torn-
    write fences in the read path key off that order). Shared by build
    and incremental update; returns the new build_id."""
    # materialize both frames once: the meta aggregate and both table
    # writes read the checkpointed blocks, and the aggregate's job runs
    # them BEFORE write_set's drop-and-recreate invalidates the stored
    # tables an update still reads from
    priors_ext, lik_ext = run_concurrently(
        lambda: reuse(priors_ext), lambda: reuse(lik_ext)
    )
    row = priors_ext.agg(
        F.count(F.lit(1)).alias("n_labels"),
        F.sum("n_docs").alias("n_docs_total"),
    ).crossJoin(
        lik_ext.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("token").alias("vocab"),
        )
    ).first()
    if row["n_labels"] == 0:
        raise ValueError(f"{op}: empty training frame")
    return write_set(spark, catalog, _NB_MODEL, model_table, {
        "meta": (
            (("n_labels", T.LongType()), ("n_model_rows", T.LongType()),
             ("n_docs_total", T.LongType()), ("vocab_size", T.LongType()),
             ("last_update_fp", T.StringType())),
            [(int(row["n_labels"]), int(row["n_rows"]),
              int(row["n_docs_total"]), int(row["vocab"] or 0),
              last_update_fp)],
        ),
        "priors": (
            (("label", T.StringType()), ("n_docs", T.LongType()),
             ("n_tokens", T.LongType()), ("prior_bits", T.DoubleType()),
             ("unseen_bits", T.DoubleType())),
            priors_ext,
        ),
        "likelihoods": (
            (("label", T.StringType()), ("token", T.StringType()),
             ("c", T.LongType()), ("bits", T.DoubleType())),
            lik_ext,
        ),
    })


def nb_update_model(
    spark,
    catalog,
    model_table: str,
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
) -> str | None:
    """Fold a new labeled batch into a STORED model EXACTLY — the
    incremental sibling of nb_build_model (no corpus rescan, ever):

      nb_build_model(b1); nb_update_model(b2)
        == nb_build_model(b1 ∪ b2)      (all three tables, bit-identical
                                         modulo build_id)

    Why exact: the model tables carry the integer sufficient statistics
    (token counts c, class doc counts, totals), counting is associative
    (stored ⊕ batch is plain integer addition over a full-outer join),
    and the derived bits are recomputed from the merged integers by the
    SAME _nb_derive expressions training uses — same doubles in, same
    round(6) out. The merge is model-sized + batch-sized: the training
    corpus is never re-read (the incremental_rollup / ingestion merge
    contract, which is what makes nightly label-feed deltas affordable
    at 100 TB). All likelihood rows are rewritten because every
    denominator (N_c + V) moves with the batch — that rewrite is
    vocabulary×labels rows, Heaps-law bounded, never corpus-sized.

    Returns the new build_id (a new immutable model version — the old
    version is dropped, exactly like a rebuild), or None for an empty
    batch (no-op). A crash mid-update leaves mixed build_id stamps that
    every read path already refuses; re-run the update (it re-derives
    from the surviving batch + the last consistent tables it can load —
    i.e. rebuild once if the stored tables themselves were torn).
    Models persisted before the count-carrying schema (round 14) raise
    here with a rebuild-once message instead of folding garbage.

    Re-delivery fence: counting is NOT idempotent (unlike the index
    appends' anti-joins — the same batch folded twice doubles its
    counts and silently shifts every bit), so meta stores an
    order-independent content fingerprint of the LAST folded batch and
    an update whose batch fingerprints identically is a no-op returning
    None. That makes at-least-once retry of the SAME delivery safe (a
    retry after a crash-after-commit re-sends the same batch); it does
    not dedup against older history — feeding the same docs again in a
    LATER distinct delivery is the caller saying they are new data.
    """
    meta, priors_full, lik_full = _nb_load_model_full(
        spark, catalog, model_table, "nb_update_model"
    )
    meta_fields = set(meta.asDict())
    if (
        "n_docs_total" not in meta_fields
        or "n_tokens" not in priors_full.columns
        or "c" not in lik_full.columns
    ):
        raise ValueError(
            f"nb_update_model: model {model_table} predates the "
            f"count-carrying schema and holds only derived bits — the "
            f"exact fold needs the integer sufficient statistics. "
            f"Rebuild once with nb_build_model, then update "
            f"incrementally."
        )
    fp_row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(
                        "", F.col(label_col), F.col(text_col)
                    )),
                    1, 14,
                ),
                16, 10,
            ).cast("decimal(20,0)")
        ).alias("s"),
    ).first()
    n_b = int(fp_row["n"])
    if n_b == 0:
        return None
    batch_fp = f"{n_b}:{fp_row['s']}"
    if meta.asDict().get("last_update_fp") == batch_fp:
        return None  # re-delivered batch: already folded, no-op
    tc_b, dc_b, _ = _nb_stats(df, text_col=text_col, label_col=label_col)
    tc_m = (
        lik_full.select("label", "token", F.col("c").alias("_a"))
        .join(
            tc_b.withColumnRenamed("_c", "_b"),
            ["label", "token"], "full_outer",
        )
        .select(
            "label", "token",
            (F.coalesce(F.col("_a"), F.lit(0))
             + F.coalesce(F.col("_b"), F.lit(0))).alias("_c"),
        )
    )
    dc_m = (
        priors_full.select("label", F.col("n_docs").alias("_a"))
        .join(
            dc_b.withColumnRenamed("n_docs", "_b"), ["label"], "full_outer"
        )
        .select(
            "label",
            (F.coalesce(F.col("_a"), F.lit(0))
             + F.coalesce(F.col("_b"), F.lit(0))).alias("n_docs"),
        )
    )
    n_total = spark.createDataFrame(
        [(int(meta["n_docs_total"]) + int(n_b),)], "_n long"
    )
    priors_ext, lik_ext = _nb_derive(tc_m, dc_m, n_total)
    # _nb_persist_model reuse()-materializes both frames (and runs its
    # meta aggregate over them) BEFORE the drop-and-recreate invalidates
    # the stored tables they still read from — the snapshot-rollback
    # localCheckpoint discipline, now owned by the persist path itself
    return _nb_persist_model(
        spark, catalog, model_table, priors_ext, lik_ext,
        op="nb_update_model", last_update_fp=batch_fp,
    )


def _nb_load_model_full(spark, catalog, model_table: str, op: str):
    """Stamp-fenced (meta_row, priors_df, likelihoods_df) with EVERY
    stored column (scoring projects the derived bits; nb_update_model
    needs the count columns too): raises on empty/pre-stamp/mixed-stamp
    tables; an empty likelihood table is legitimate only when meta
    records n_model_rows = 0 (an all-tokenless training corpus)."""
    _bid, p = read_set(spark, catalog, _NB_MODEL, model_table, op)
    return (
        p["meta"],
        p["priors"].drop("build_id"),
        p["likelihoods"].drop("build_id"),
    )


def _nb_load_model(spark, catalog, model_table: str, op: str):
    """The scoring-shaped view of the stored model: (priors,
    likelihoods) projected to the nb_train output columns, so models
    persisted before AND after the count-carrying schema score
    identically."""
    _meta, priors, likelihoods = _nb_load_model_full(
        spark, catalog, model_table, op
    )
    return (
        priors.select("label", "n_docs", "prior_bits", "unseen_bits"),
        likelihoods.select("label", "token", "bits"),
    )


def nb_score_from_model(
    spark,
    catalog,
    model_table: str,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents against a STORED model (nb_build_model): the
    model tables feed nb_score as plain DataFrames — no driver collect,
    the likelihood join stays a distributed equi-join however large the
    vocabulary gets. Same output contract as nb_score."""
    priors, likelihoods = _nb_load_model(
        spark, catalog, model_table, "nb_score_from_model"
    )
    return nb_score(df, priors, likelihoods, text_col, id_col)


def nb_model_consistency_check(
    spark,
    catalog,
    model_table: str,
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """One-row proof the persisted model routes EXACTLY like retraining
    inline (the index-lifecycle contract): retrains on ``df``, compares
    the prior and likelihood tables (full-row anti-joins both ways) AND
    the end-to-end scores. Returns (n_labels, n_model_rows,
    n_prior_mismatch, n_likelihood_mismatch, n_score_mismatch) —
    mismatches must be 0.

    ONE plan, each leg materialized once by reuse(). The corpus is
    tokenized once into a shared frame that feeds the retrain's token
    counts and both scoring legs, and the independent served/direct
    chains build concurrently (reuse() blocks while AQE runs a chain's
    stages)."""
    s_priors0, s_lik0 = _nb_load_model(
        spark, catalog, model_table, "nb_model_consistency_check"
    )
    # one corpus pass: (doc_id, label, tokens) serves retrain + scoring
    base = reuse(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.col(label_col).alias("label"),
            F.coalesce(
                word_tokens(F.col(text_col)),
                F.array().cast("array<string>"),
            ).alias("_t"),
        )
    )
    tok_arr = base.select("doc_id", "_t")

    def _served_chain():
        sp, sl = run_concurrently(
            lambda: reuse(s_priors0), lambda: reuse(s_lik0)
        )
        # score the served leg from the frames already loaded (and
        # fenced) above, not through nb_score_from_model's second read
        return sp, sl, reuse(_nb_score_tokens(tok_arr, sp, sl))

    def _direct_chain():
        # the retrain's sufficient statistics, derived from the SAME
        # shared token frame (bit-identical to _nb_stats over df: the
        # explode drops empty arrays exactly like exploding the raw
        # word_tokens call, and the doc/total counts are row counts of
        # the same rows); the derived doubles come from the same
        # _nb_derive expressions nb_train uses
        tc = spread(
            base.select("label", F.explode("_t").alias("token"))
        ).groupBy("label", "token").agg(
            F.count(F.lit(1)).alias("_c")
        )
        doc_counts = base.groupBy("label").agg(
            F.count(F.lit(1)).alias("n_docs")
        )
        n_total = base.select(F.count(F.lit(1)).alias("_n"))
        fp0, fl0 = _nb_derive(tc, doc_counts, n_total)
        fp, fl = run_concurrently(
            lambda: reuse(fp0.select(
                "label", "n_docs", "prior_bits", "unseen_bits"
            )),
            lambda: reuse(fl0.select("label", "token", "bits")),
        )
        return fp, fl, reuse(_nb_score_tokens(tok_arr, fp, fl))

    (s_priors, s_lik, served), (f_priors, f_lik, direct) = (
        run_concurrently(_served_chain, _direct_chain)
    )
    nl = s_priors.agg(F.count(F.lit(1)).cast("long").alias("n_labels"))
    nr = s_lik.agg(F.count(F.lit(1)).cast("long").alias("n_model_rows"))
    return (
        nl.crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(
            mismatch_count(s_priors, f_priors, "n_prior_mismatch")
        ))
        .crossJoin(F.broadcast(
            mismatch_count(s_lik, f_lik, "n_likelihood_mismatch")
        ))
        .crossJoin(F.broadcast(
            mismatch_count(served, direct, "n_score_mismatch")
        ))
    )


def bpe_word_histogram(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """(w, freq): the ASCII-word frequency histogram BPE training runs on.

    This is the ONLY corpus-sized stage of tokenizer induction — one
    explode + one groupBy (map-side partial aggregation), shrinking the
    corpus to its vocabulary (Heaps' law: ~ O(corpus^0.5) distinct words,
    millions at 100 TB, not billions). Words are the engine tokenizer's
    tokens restricted to ^[a-z0-9]+$ so the merge alphabet is closed and
    byte-order-free across engines (the oracle compares VARCHAR
    binary-ASCII to Python code points — identical on this alphabet).
    """
    return (
        spread(df.select(F.explode(word_tokens(F.col(text_col))).alias("w")))
        .filter(F.col("w").rlike("^[a-z0-9]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )


_MAX_BPE_VOCAB = 2_000_000  # ~100 MB of (word, freq) rows on the driver
# literal-replace applier plan-size ceiling: one JVM expression node per
# merge; past this the Arrow applier is the right shape (see
# bpe_segment_counts docstring)
_MAX_LITERAL_MERGES = 256


def _validate_bpe_merges(merges, op: str) -> None:
    """Closed-alphabet check shared by both appliers: a '|' or space in a
    symbol would corrupt the delimited-state rewrite."""
    import re as _re

    for left, right in merges:
        if not (_re.fullmatch(r"[a-z0-9]+", left)
                and _re.fullmatch(r"[a-z0-9]+", right)):
            raise ValueError(
                f"{op}: merge symbols must match [a-z0-9]+ "
                f"(the trainer's closed alphabet), got ({left!r}, {right!r})"
                f" — a '|' or space in a symbol would corrupt the "
                f"delimited state rewrite"
            )


def bpe_train(
    df: DataFrame,
    num_merges: int = 30,
    text_col: str = "text",
    max_vocab: int = _MAX_BPE_VOCAB,
) -> DataFrame:
    """Learn ``num_merges`` BPE merges (Sennrich, Gage 1994) over the
    corpus: returns (merge_rank, left, right, merged), rank from 1 in
    learning order.

    Two-phase design — the standard trainer shape, and the scale-correct
    one: phase 1 is the distributed word histogram (bpe_word_histogram —
    the one corpus-sized pass); phase 2 learns merges on the
    vocabulary-compressed histogram DRIVER-side (every real BPE trainer
    iterates a word-count dict, never the corpus — per merge the work is
    O(vocab x avg word length), independent of corpus size). The driver
    collect is therefore vocabulary-bounded and GUARDED: > ``max_vocab``
    distinct words raises instead of OOMing the driver (the
    _require_small_query_side discipline; trim the corpus or raise the
    cap explicitly).

    Merge semantics (identical, mechanically, in the SQL oracle twin):
      * word state = symbols delimited as ``|sym|`` and space-joined
        ("hat" -> "|h| |a| |t|") — full delimiting makes the pair rewrite
        a plain substring replace with no cross-symbol false matches;
      * pair counts are freq-weighted ADJACENT (overlapping) pairs;
      * best pair = max count, ties to the lexicographically SMALLEST
        (left, right) — a total order;
      * rewrite = non-overlapping left-to-right replace of "|l| |r|" by
        "|lr|" in every word (Python str.replace == SQL replace());
      * stops early if no pair remains (fewer than num_merges rows out).
    """
    if num_merges < 1:
        raise ValueError(f"num_merges must be >= 1, got {num_merges}")
    spark = df.sparkSession
    hist = bpe_word_histogram(df, text_col=text_col)
    # ONE corpus-sized job: the limit(max_vocab + 1) collect IS the vocab
    # guard — an over-cap vocabulary shows up as one excess row (the
    # earlier count()-then-collect() pair ran the histogram twice)
    rows = hist.limit(max_vocab + 1).collect()
    if len(rows) > max_vocab:
        raise ValueError(
            f"bpe_train: vocabulary exceeds max_vocab={max_vocab} — the "
            f"driver-side merge loop is vocabulary-bounded by design; "
            f"pre-filter the corpus (quality_filter / min word freq) or "
            f"raise max_vocab explicitly."
        )
    # state: delimited symbol strings, mutated in place per merge
    states: dict[str, str] = {
        r["w"]: " ".join(f"|{ch}|" for ch in r["w"]) for r in rows
    }
    freqs = {r["w"]: int(r["freq"]) for r in rows}
    merges: list[tuple[int, str, str, str]] = []
    for rank in range(1, num_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for w, state in states.items():
            syms = state.split(" ")
            f = freqs[w]
            for i in range(len(syms) - 1):
                pair = (syms[i][1:-1], syms[i + 1][1:-1])
                counts[pair] = counts.get(pair, 0) + f
        if not counts:
            break
        # max count, ties to the smallest (left, right)
        (left, right) = min(counts, key=lambda p: (-counts[p], p[0], p[1]))
        merged = left + right
        pat, rep = f"|{left}| |{right}|", f"|{merged}|"
        for w in states:
            if pat in states[w]:
                states[w] = states[w].replace(pat, rep)
        merges.append((rank, left, right, merged))
    return spark.createDataFrame(
        merges, "merge_rank long, left string, right string, merged string"
    )


def bpe_segment_counts(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document BPE token counts under a learned merge list:
    (doc_id, n_words, n_bpe_tokens).

    Encoding contract: ONE forward pass applying each merge once, in rank
    order, to every word's delimited character state — for any word seen
    in training this reproduces the trainer's end-state exactly (training
    applied the same merges in the same order from the same initial
    state); unseen words get the standard single-pass approximation.

    The whole applier is JVM-side codegen: the merge list (bounded,
    driver-held) compiles to a chain of ``len(merges)`` literal
    string-replace expressions over the per-word state — no Python, no
    UDF, no shuffle beyond the final count aggregation. At 100 TB this is
    a map over the corpus scan — for merge lists up to
    ``_MAX_LITERAL_MERGES``. Past that the chain is no longer the right
    shape: Catalyst plan construction and codegen scale with expression-
    tree SIZE, so a realistic 30k-merge tokenizer would choke the planner
    long before data size matters — the guard below raises and points at
    ``bpe_segment_counts_arrow`` (same contract, Arrow-batched, plan size
    independent of merge count).
    """
    _validate_bpe_merges(merges, "bpe_segment_counts")
    if len(merges) > _MAX_LITERAL_MERGES:
        raise ValueError(
            f"bpe_segment_counts: {len(merges)} merges exceeds the literal-"
            f"replace chain cap ({_MAX_LITERAL_MERGES}) — the chain "
            f"compiles to one JVM expression node per merge, and Catalyst "
            f"planning/codegen degrades with plan SIZE, not data size. "
            f"Use bpe_segment_counts_arrow for realistic tokenizer-sized "
            f"merge lists (identical results, Arrow-batched applier)."
        )
    return _segment_counts_words(_bpe_words(df, text_col, id_col), merges)


def _bpe_words(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """The (doc_id, w) word stream BOTH appliers segment — identical for
    any merge list, so the consistency check tokenizes the corpus once
    and shares the frame between its two legs (guide §1.2)."""
    return spread(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(word_tokens(F.col(text_col))).alias("w"),
        )
    ).filter(F.col("w").rlike("^[a-z0-9]+$"))


def _segment_counts_words(
    words: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """The literal-replace applier over an already-built word stream."""
    # initial state "|h| |a| |t|" built with one regexp: every char c -> "|c| "
    state = F.rtrim(F.regexp_replace(F.col("w"), "(.)", "|$1| "))
    for left, right in merges:
        state = F.replace(
            state, F.lit(f"|{left}| |{right}|"), F.lit(f"|{left}{right}|")
        )
    per_word = words.select(
        "doc_id", (F.size(F.split(state, " "))).alias("n_syms")
    )
    return per_word.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("n_syms").cast("long").alias("n_bpe_tokens"),
    )


def bpe_segment_counts_arrow(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``bpe_segment_counts`` for realistic merge-list sizes: the same
    one-forward-pass encoding contract, applied by an Arrow-batched
    ``mapInPandas`` stage instead of a literal-replace expression chain.

    Why a second applier exists: the literal chain is pure JVM codegen —
    the fastest shape at gate-sized merge lists — but its PLAN grows one
    expression node per merge, so a production tokenizer (30k–50k merges)
    would stall Catalyst planning/codegen regardless of data volume. Here
    the merge list is captured once in the task closure (broadcast by
    Spark's task serialization — tens of MB at worst, far under executor
    memory) and the plan holds exactly ONE mapInPandas node no matter the
    merge count.

    Per-batch cost control: each Arrow batch deduplicates its words and
    memoizes word -> symbol count across the whole task (Zipf makes the
    hit rate high on natural text), and each merge string-replace only
    runs on states that still contain the pattern's first symbol.
    Parity with the literal applier is pytest-pinned merge-for-merge.
    Returns (doc_id, n_words, n_bpe_tokens) — same schema, same values.
    """
    _validate_bpe_merges(merges, "bpe_segment_counts_arrow")
    return _segment_counts_arrow_words(
        _bpe_words(df, text_col, id_col), merges
    )


def _segment_counts_arrow_words(
    words: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """The Arrow-batched applier over an already-built word stream."""
    from collections.abc import Iterator

    import pandas as pd

    merge_list = [(str(left), str(right)) for left, right in merges]

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one task-lifetime memo: word -> final symbol count. Replays the
        # EXACT rewrite mechanics of the literal chain (and the trainer):
        # delimited state, non-overlapping left-to-right str.replace per
        # merge in rank order.
        memo: dict[str, int] = {}

        def n_syms(word: str) -> int:
            got = memo.get(word)
            if got is not None:
                return got
            state = " ".join(f"|{ch}|" for ch in word)
            for left, right in merge_list:
                pat = f"|{left}| |{right}|"
                if pat in state:
                    state = state.replace(pat, f"|{left}{right}|")
            out = state.count(" ") + 1
            memo[word] = out
            return out

        for pdf in batches:
            counts = pdf["w"].map(n_syms)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "n_syms": counts}
            )

    # schema follows the INPUT id type (string doc ids are first-class in
    # the literal applier — hardcoding 'long' here crashed them in the
    # Arrow worker with an opaque pyarrow error)
    id_ddl = words.schema["doc_id"].dataType.simpleString()
    per_word = words.mapInPandas(
        _encode, schema=f"doc_id {id_ddl}, n_syms long"
    )
    return per_word.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("n_syms").cast("long").alias("n_bpe_tokens"),
    )


def bpe_build_vocab(
    spark,
    catalog,
    vocab_table: str,
    df: DataFrame,
    num_merges: int = 30,
    text_col: str = "text",
    max_vocab: int = _MAX_BPE_VOCAB,
) -> None:
    """Persist a trained BPE merge list as catalog tables — the tokenizer
    twin of the ANN index lifecycle (similarity.lsh_build_index et al.):
    train once, apply from the stored artifact in every downstream job,
    never re-run the corpus-sized histogram pass per consumer.

    Two tables: ``{vocab_table}`` (merge_rank, left, right, merged —
    the learned merges in rank order) and ``{vocab_table}_meta``
    (num_merges requested, n_merges learned, max_vocab, build_id). Both
    carry a shared ``build_id`` stamp and the read path refuses mixed
    stamps (the torn-rebuild fence every persisted index here uses).
    Rebuild = explicit drop + recreate under the catalog's strict write
    preconditions."""
    merges = bpe_train(
        df, num_merges=num_merges, text_col=text_col, max_vocab=max_vocab
    )
    # max_vocab is part of the artifact's identity: the consistency
    # check retrains at the SAME dial (a custom cap above the default
    # would otherwise make the proof unrunnable for exactly the builds
    # that needed it)
    write_set(spark, catalog, _BPE_VOCAB, vocab_table, {
        "meta": (
            (("num_merges", T.IntegerType()), ("n_merges", T.LongType()),
             ("max_vocab", T.LongType())),
            [(int(num_merges), int(merges.count()), int(max_vocab))],
        ),
        "merges": (
            (("merge_rank", T.LongType()), ("left", T.StringType()),
             ("right", T.StringType()), ("merged", T.StringType())),
            merges,
        ),
    })


def _bpe_vocab(spark, catalog, vocab_table: str, op: str) -> tuple:
    """(meta row, merge list in learning order) of the fenced stored
    vocab, from one concurrent read of both tables. The merges collect
    is ``n_merges``-bounded by construction (the meta row pins it) —
    vocab artifacts are KBs, not corpus-sized."""
    _bid, p = read_set(spark, catalog, _BPE_VOCAB, vocab_table, op)
    meta = p["meta"]
    rows = sorted(p["merges"], key=lambda r: r["merge_rank"])
    if len(rows) != int(meta["n_merges"]):
        raise ValueError(
            f"{op}: vocab {vocab_table} holds {len(rows)} merges but meta "
            f"records {int(meta['n_merges'])} — the merge table was "
            f"partially written. Re-run bpe_build_vocab."
        )
    return meta, [(r["left"], r["right"]) for r in rows]


def bpe_load_vocab(spark, catalog, vocab_table: str) -> list[tuple[str, str]]:
    """The stored merge list in learning order, stamp-fenced: raises on a
    missing/empty/pre-stamp table, on mixed meta-vs-merges build_id
    stamps (torn rebuild) and on a merge count that disagrees with meta
    (partial write), exactly like the ANN index read paths. A vocab
    whose meta records n_merges = 0 (no adjacent pair ever repeats) has
    an empty merges table by construction, not a torn one."""
    return _bpe_vocab(spark, catalog, vocab_table, "bpe_load_vocab")[1]


def bpe_segment_from_vocab(
    spark,
    catalog,
    vocab_table: str,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a STORED vocab: loads the stamped merge list and routes to
    the right applier for its size — the literal JVM replace chain up to
    ``_MAX_LITERAL_MERGES`` (fastest at plan-friendly sizes), the
    Arrow-batched applier beyond it (plan size independent of merge
    count). Same output contract as both appliers:
    (doc_id, n_words, n_bpe_tokens)."""
    merges = bpe_load_vocab(spark, catalog, vocab_table)
    return _segment_with(df, merges, text_col, id_col)


def _segment_with(df, merges, text_col, id_col):
    """The ONE literal-vs-Arrow routing rule (by merge-list size) —
    shared by the stored-vocab applier and the consistency check so the
    dispatch can never drift between them."""
    if len(merges) <= _MAX_LITERAL_MERGES:
        return bpe_segment_counts(df, merges, text_col, id_col)
    return bpe_segment_counts_arrow(df, merges, text_col, id_col)


def _segment_words_with(words, merges):
    """_segment_with over an already-built word stream — the same
    size-routing rule, for callers that share one tokenization pass
    between several merge lists (the consistency check)."""
    _validate_bpe_merges(merges, "bpe_segment_counts")
    if len(merges) <= _MAX_LITERAL_MERGES:
        return _segment_counts_words(words, merges)
    return _segment_counts_arrow_words(words, merges)


def bpe_vocab_consistency_check(
    spark,
    catalog,
    vocab_table: str,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One-row proof the persisted vocab serves EXACTLY what training +
    applying inline computes (the lsh_index_consistency_check contract
    for the tokenizer artifact): retrains on ``df`` at the stored
    ``num_merges`` dial and compares BOTH the merge lists (full-row
    anti-join both ways) and the segmentations. Returns (n_merges,
    n_docs, n_merge_mismatch, n_segment_mismatch) — mismatches must be
    0.

    ONE plan, each leg materialized once by reuse(). The corpus is
    tokenized into ONE shared word stream feeding both segmentation legs
    (the word split is merge-list-independent), and the two legs
    materialize concurrently (reuse() blocks while AQE runs a leg's
    stages)."""
    meta, stored = _bpe_vocab(
        spark, catalog, vocab_table, "bpe_vocab_consistency_check"
    )
    # retrain at the BUILD's max_vocab dial; vocab artifacts persisted
    # before the dial was recorded fall back to the default (they were
    # necessarily built under it)
    mv = (
        int(meta["max_vocab"])
        if "max_vocab" in (meta.__fields__ or [])
        else _MAX_BPE_VOCAB
    )
    fresh_df = bpe_train(
        df, num_merges=int(meta["num_merges"]), text_col=text_col,
        max_vocab=mv,
    )
    stored_df = spark.createDataFrame(
        [
            (i + 1, left, right, left + right)
            for i, (left, right) in enumerate(stored)
        ],
        "merge_rank long, left string, right string, merged string",
    )
    words = reuse(_bpe_words(df, text_col, id_col))

    def _direct():
        # the direct leg applies the FRESHLY retrained merges (not the
        # stored list again — that would compare a plan with itself):
        # stored-trained + stored-applied must equal retrain + apply
        # end to end
        fresh_merges = [
            (r["left"], r["right"])
            for r in fresh_df.orderBy("merge_rank").collect()
        ]
        return reuse(_segment_words_with(words, fresh_merges))

    served, direct = run_concurrently(
        lambda: reuse(_segment_words_with(words, stored)),
        _direct,
    )
    nm = spark.createDataFrame([(len(stored),)], "n_merges long")
    nd = served.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return (
        nm.crossJoin(nd)
        .crossJoin(F.broadcast(
            mismatch_count(stored_df, fresh_df, "n_merge_mismatch")
        ))
        .crossJoin(F.broadcast(
            mismatch_count(served, direct, "n_segment_mismatch")
        ))
    )


def bigram_lm_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Self-trained bigram LM score (conditional bits per bigram) per
    document — the order-sensitive sibling of unigram_lm_scores: word
    salad built from common words scores LOW on the unigram filter but
    HIGH here (its transitions are improbable).

      bits(a -> b) = -log2(c(a,b) / c(a,·))   (MLE; every scored bigram
      is by construction seen in the corpus, so no smoothing mass is
      needed)

    Plan shape for 100 TB: bigram formation is row-local (an indexed
    slice over the token array — the phrase_search k-gram trick, no
    positional self-join); ONE groupBy(bigram) count and ONE
    groupBy(prefix) count build the model; scoring joins bigrams back on
    the same keys, then ONE groupBy(doc). Per-bigram bits are rounded to
    6 and summed as exact DECIMAL(18,6) (order-independent — the
    unigram_lm_scores contract). Docs with < 2 tokens produce no row.

    Returns (doc_id, n_bigrams, avg_bits), avg_bits rounded to 6.
    """
    prepared = spread(
        df.select(
            F.col(id_col).alias("doc_id"),
            word_tokens(F.col(text_col)).alias("_toks"),
        )
    ).filter(F.size("_toks") >= 2)
    grams = prepared.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(_toks) - 1), "
                "i -> struct(_toks[i - 1] AS a, _toks[i] AS b))"
            )
        ).alias("_g"),
    ).select("doc_id", F.col("_g.a").alias("a"), F.col("_g.b").alias("b"))
    pair_c = grams.groupBy("a", "b").agg(F.count(F.lit(1)).alias("_cab"))
    prefix_c = pair_c.groupBy("a").agg(F.sum("_cab").alias("_ca"))
    bits = pair_c.join(prefix_c, "a").select(
        "a", "b",
        F.round(-F.log2(F.col("_cab") / F.col("_ca")), 6)
        .cast("decimal(18,6)")
        .alias("_bits"),
    )
    return (
        grams.join(bits, ["a", "b"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("_bits").alias("_s"),
        )
        .select(
            "doc_id", "n_bigrams",
            _decimal_mean_6("_s", "n_bigrams").alias("avg_bits"),
        )
    )

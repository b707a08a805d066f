"""Persisted ingestion artifacts: the 100 TB shape of incremental dedup.

dedup_against_corpus / dedup_against_corpus_bloom /
minhash_lsh_against_corpus all carry the same plan note: inline, the
corpus is rescanned per batch, and the win is real only when the
corpus-derived structures are PERSISTED per corpus snapshot and reused
across ingestion ticks. This module is that persistence:

    build_corpus_artifacts(corpus, path)   # once per corpus snapshot
    ingest_batch(batch, path)              # per tick: exact dedup
    ingest_batch_neardups(batch, path)     # per tick: LSH candidates
    append_to_artifacts(accepted, path)    # fold survivors back in

Artifact layout under ``path`` (all plain parquet, engine-agnostic):

    fingerprints/   (fp)                    distinct 128-bit content keys
    bloom_state/v=N/ (word, bits, m, k)     incremental.bloom_state rows,
                                            one immutable dir per version
    band_keys/      (corpus_id, band, band_key)   MinHash LSH bands
    winnow/         (fp)                    distinct winnowing fps
                                            (opt-in: decontamination)
    manifest/       append-only 1-row commits; the row with the highest
                    ``seq`` is current (version, every geometry dial,
                    n_keys, bloom_version)

Crash safety is ORDERING, not transactions (single writer per path —
the streaming driver's foreachBatch serializes appends). Two rules:

1. Nothing is ever overwritten in place. Fingerprints/bands/winnow only
   APPEND (job-atomic under Spark's output committer: a crashed append
   leaves ignored ``_temporary`` files, never half-visible rows). The
   bloom state writes each merge to a NEW ``v=N`` directory and the
   manifest APPENDS a new commit row pointing at it — readers follow
   the pointer, so a torn bloom write is invisible. A missing/empty
   manifest means no build ever completed here and probing raises.
2. The bloom is committed BEFORE fingerprints append, and its delta is
   built from ALL batch keys (not just the fresh ones). The invariant
   this buys: every key in fingerprints/ is set in the committed bloom.
   Bloom bits without fingerprints cause only false positives (the
   anti-join resolves them); fingerprints without bloom bits would be
   FALSE NEGATIVES (ingest_batch treats maybe_member=0 as definitive),
   so that state must be unreachable — and with this ordering it is,
   at every crash point, including partial replays (the all-keys delta
   re-sets bits for keys a previous torn append already fingerprinted).

Same commit discipline as the reference's _SUCCESS marker
(HiveApiOutputCommitter, see catalog.py's snapshot notes), extended to
a pointer-swap for the one mutable structure. Geometry is never guessed
at probe time: batch-side hashing reads the manifest, and the bloom
state re-validates m/k in-plan (incremental._bloom_geometry_guard). The
reference has no dedup or selection surface (SURVEY §2.2); extension
operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_io_experimental_spark.functions.hashing import resolve_family
from hive_io_experimental_spark.functions.reuse import reuse, run_concurrently
from hive_io_experimental_spark.operators.dedup import (
    _content_fps,
    _validate_bloom_geometry,
    minhash_band_keys,
    minhash_signatures,
)
from hive_io_experimental_spark.operators.incremental import (
    bloom_membership,
    bloom_state,
    merge_bloom_states,
)

ARTIFACT_VERSION = 2

_FPS = "fingerprints"
_BLOOM = "bloom_state"
_BANDS = "band_keys"
_WINNOW = "winnow"
_MANIFEST = "manifest"


class ArtifactError(RuntimeError):
    """Missing/partial/incompatible ingestion artifacts."""


def _bloom_dir(path: str, version: int) -> str:
    return f"{path}/{_BLOOM}/v={int(version)}"


def _write_manifest_row(
    spark: SparkSession, path: str, man: dict, mode: str
) -> dict:
    """One 1-row manifest commit. ``append`` is the crash-safe shape
    (job-atomic new file; the old commit stays readable); ``overwrite``
    only at build time, where a torn write correctly reads as
    'no build ever completed'."""
    spark.createDataFrame([man]).coalesce(1).write.mode(mode).parquet(
        f"{path}/{_MANIFEST}"
    )
    return man


def _prune_bloom_versions(path: str, keep_from: int) -> None:
    """Best-effort GC of superseded bloom version dirs (< ``keep_from``).

    Local-filesystem only (the repo's single-node discipline — same as
    catalog.py's drop paths); on an object store, retire old versions
    with a storage lifecycle rule keyed on the manifest's
    bloom_version instead. Never raises: an undeleted old version is
    only storage, never a correctness hazard (readers follow the
    manifest pointer)."""
    import os
    import shutil

    base = path[len("file://"):] if path.startswith("file://") else path
    root = os.path.join(base, _BLOOM)
    try:
        names = os.listdir(root)
    except OSError:
        return
    for name in names:
        if not name.startswith("v="):
            continue
        try:
            ver = int(name[2:])
        except ValueError:
            continue
        if ver < keep_from:
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def build_corpus_artifacts(
    corpus: DataFrame,
    path: str,
    m_bits: int | None = None,
    k: int = 5,
    bits_per_key: int = 10,
    num_perm: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    winnow: bool = False,
    winnow_k: int = 5,
    winnow_window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str | None = None,
) -> dict:
    """One corpus scan -> every per-batch probe structure, persisted.

    Three writes off a single reused fingerprint frame (fps feed the
    distinct set, the bitmap aggregation, and the sizing count — the
    reuse() pattern), plus the banded MinHash keys from a second
    tokenizing scan (shingles, not fingerprints — different input
    columns, deliberately not forced through one pass: the fp scan
    reads (id, text) and collapses immediately, and fusing it into the
    shingle explode would hold the wide gram stream across both
    consumers). Manifest LAST — build targets a fresh path per corpus
    snapshot, so a crashed build simply leaves no manifest. Returns the
    manifest as a dict.
    """
    family = resolve_family(corpus, hash_family)
    fps = reuse(
        _content_fps(corpus, text_col, id_col, family).select("fp").distinct()
    )
    if m_bits is None:
        if bits_per_key < 1:
            raise ValueError(f"bits_per_key must be >= 1, got {bits_per_key}")
        n_keys = fps.count()
        m_bits = max(
            1024, 1 << max(1, (n_keys * bits_per_key - 1).bit_length())
        )
    else:
        n_keys = fps.count()
    _validate_bloom_geometry(m_bits, k)

    # The artifact writes are INDEPENDENT jobs (fps is already
    # materialized by the sizing count above, so the bloom aggregation
    # reads its blocks): submit them from a small thread pool so each
    # job's task tail back-fills the cores the others leave idle (guide
    # §2.6 — overlap independent jobs). Crash-safety is unchanged: the
    # manifest, the only commit marker, is still written strictly LAST,
    # after every artifact future has completed; any failure propagates
    # before it.
    def _write_fps() -> None:
        fps.write.mode("overwrite").parquet(f"{path}/{_FPS}")

    def _write_bloom() -> None:
        bloom_state(
            fps, key_col="fp", m_bits=m_bits, k_hashes=k
        ).write.mode("overwrite").parquet(_bloom_dir(path, 1))

    def _write_bands() -> None:
        minhash_band_keys(
            minhash_signatures(
                corpus, text_col, id_col, num_perm, shingle_k, family
            ),
            num_perm,
            bands,
        ).select(
            F.col("id").alias("corpus_id"), "band", "band_key"
        ).write.mode("overwrite").parquet(f"{path}/{_BANDS}")

    writers = [_write_fps, _write_bloom, _write_bands]
    if winnow:
        # decontamination structure: the corpus's DISTINCT winnowing
        # fingerprints — any batch doc sharing a substring of length
        # >= winnow_k + winnow_window - 1 chars with the corpus is
        # guaranteed to collide on at least one stored fp (the MOSS
        # bound, text.winnowing_fingerprints). Opt-in: it is the one
        # structure an ingestion tick can live without, and it costs a
        # third tokenizing corpus pass at build time.
        from hive_io_experimental_spark.operators.text import (
            winnowing_fingerprints,
        )

        def _write_winnow() -> None:
            winnowing_fingerprints(
                corpus, text_col=text_col, id_col=id_col,
                k=winnow_k, window=winnow_window,
            ).select("fp").distinct().write.mode("overwrite").parquet(
                f"{path}/{_WINNOW}"
            )

        writers.append(_write_winnow)
    run_concurrently(*writers)
    manifest = {
        "version": ARTIFACT_VERSION,
        "seq": 0,
        "bloom_version": 1,
        "m_bits": int(m_bits),
        "k": int(k),
        "num_perm": int(num_perm),
        "bands": int(bands),
        "shingle_k": int(shingle_k),
        "hash_family": family,
        "n_keys": int(n_keys),
        "winnow": bool(winnow),
        "winnow_k": int(winnow_k),
        "winnow_window": int(winnow_window),
    }
    return _write_manifest_row(
        corpus.sparkSession, path, manifest, "overwrite"
    )


def load_manifest(spark: SparkSession, path: str) -> dict:
    """The CURRENT manifest (highest ``seq`` commit row), or an
    ArtifactError naming the fix.

    A readable manifest is the COMMIT marker: the build writes it last,
    so its absence means no build ever completed here (or one is still
    in flight) and probing would read partial state. Appends commit by
    ADDING rows — the highest seq is the state a reader may trust;
    earlier rows are the commit history (and keep a reader consistent
    when it races a crashed append's final commit)."""
    try:
        rows = spark.read.parquet(f"{path}/{_MANIFEST}").collect()
    except Exception as exc:  # AnalysisException: path missing
        raise ArtifactError(
            f"no ingestion artifacts at {path!r} (manifest unreadable: "
            f"{exc}) — run build_corpus_artifacts first"
        ) from None
    if not rows:
        raise ArtifactError(
            f"corrupt manifest at {path!r}: no commit rows"
        )
    m = max((r.asDict() for r in rows), key=lambda d: d.get("seq", 0))
    if m.get("version") != ARTIFACT_VERSION:
        raise ArtifactError(
            f"artifact version {m.get('version')} at {path!r} != "
            f"supported {ARTIFACT_VERSION} — rebuild"
        )
    return m


def ingest_batch(
    batch: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact incremental dedup of one batch against STORED artifacts —
    dedup_against_corpus_bloom's routing with zero corpus scans: the
    bloom state classifies most batch keys as definitely-new, and only
    the maybe set anti-joins the stored fingerprint table (a parquet
    scan of 32-hex keys, never document text). Geometry and the bloom
    version both come from the manifest; the bloom state re-validates
    geometry in-plan. maybe_member=0 is safe to treat as definitive
    because append_to_artifacts commits the bloom BEFORE fingerprints —
    no stored fingerprint can be missing from the committed bitmap.
    Returns surviving (id, fp) rows — the dedup_against_corpus contract.
    """
    spark = batch.sparkSession
    man = load_manifest(spark, path)
    batch_reps = (
        _content_fps(batch, text_col, id_col, man["hash_family"])
        .groupBy("fp")
        .agg(F.min("id").alias("id"))
        .select("id", "fp")
    )
    state = spark.read.parquet(_bloom_dir(path, man["bloom_version"]))
    member = bloom_membership(
        state,
        batch_reps,
        probe_col="fp",
        m_bits=man["m_bits"],
        k_hashes=man["k"],
    ).select(F.col("key").alias("fp"), "maybe_member")
    probed = reuse(batch_reps.join(member, "fp"))
    definite_new = probed.filter(F.col("maybe_member") == 0).select("id", "fp")
    maybe = probed.filter(F.col("maybe_member") == 1).select("id", "fp")
    seen = spark.read.parquet(f"{path}/{_FPS}")
    survivors = maybe.join(seen, "fp", "left_anti").select("id", "fp")
    return definite_new.unionByName(survivors)


def ingest_batch_neardups(
    batch: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """LSH near-dup CANDIDATES of one batch against the stored band-key
    table — minhash_lsh_against_corpus's candidate stage with zero
    corpus scans. Returns (batch_id, corpus_id) pairs; verification
    (exact Jaccard) needs candidate corpus TEXT, which artifacts
    deliberately do not store — at scale that is a point-lookup of the
    candidate ids against the corpus table, i.e.
    minhash_lsh_against_corpus(batch, corpus_rows, threshold=...).
    The trailing distinct also absorbs the duplicate band rows a
    replayed crashed append may leave (see append_to_artifacts).
    """
    spark = batch.sparkSession
    man = load_manifest(spark, path)
    inc_bk = minhash_band_keys(
        minhash_signatures(
            batch,
            text_col,
            id_col,
            man["num_perm"],
            man["shingle_k"],
            man["hash_family"],
        ),
        man["num_perm"],
        man["bands"],
    ).select(F.col("id").alias("batch_id"), "band", "band_key")
    cor_bk = spark.read.parquet(f"{path}/{_BANDS}")
    return (
        inc_bk.join(cor_bk, ["band", "band_key"])
        .select("batch_id", "corpus_id")
        .distinct()
    )


def append_to_artifacts(
    accepted: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_bloom_versions: int = 2,
    _fail_after: str | None = None,
) -> dict:
    """Fold an accepted batch into the artifacts, in CRASH-SAFE order:

      1. bloom: merge a delta built from ALL batch keys into a NEW
         ``bloom_state/v=N+1`` dir (bitwise-OR via merge_bloom_states —
         idempotent, and the all-keys delta repairs bits a previous
         torn append may owe to already-fingerprinted keys)
      2. manifest commit row pointing at v=N+1 (n_keys unchanged)
      3. band keys APPEND (fresh docs only)
      4. winnow fps APPEND (if enabled; anti-joined, idempotent)
      5. fingerprints APPEND (fresh keys only)
      6. manifest commit row with the updated n_keys

    A crash at ANY point leaves a probe-consistent state: before step 2
    nothing changed (orphan v dir); between 2 and 5 the bloom merely
    over-approximates (false positives the anti-join resolves — never
    false negatives, because fingerprints lag the bloom, not the other
    way round); between 3 and 5 a replay re-appends band rows
    (duplicates, absorbed by ingest_batch_neardups' distinct) and then
    converges; after 5 a replay anti-joins to nothing and no-ops. The
    one drift a crash between 5 and 6 leaves is an UNDER-COUNTING
    n_keys (advisory — no probe reads it). Appends are job-atomic
    (Spark's output committer); the bloom 'overwrite' is a pointer
    swap, never an in-place rewrite. Single writer per path (the
    streaming driver's foreachBatch serializes ticks).

    Only fingerprints not already stored are appended (anti-join), so
    re-ingesting a fully-committed batch is a no-op on every structure.
    Superseded bloom dirs older than ``keep_bloom_versions`` are GC'd
    best-effort (local FS only). ``_fail_after`` is a test-only crash
    injection point ('bloom' | 'bloom_commit' | 'bands' | 'fps') —
    the reference tests its commit protocol's failure paths the same
    way (output/FaultyCheckOutputSpecsTest.java:41-92).
    """
    spark = accepted.sparkSession
    man = load_manifest(spark, path)
    # EAGER lineage cut on the input, unconditionally: the natural caller
    # chain (ingest_batch -> accept -> append) hands this function a frame
    # whose PLAN still reads the very directories it rewrites. Spark
    # unifies same-path scans within one query, so the caller's stale
    # pre-append file listing can win over this function's fresh read —
    # measured here as the anti-join "resurrecting" already-stored keys
    # on a second append. Materializing the rows first makes every
    # downstream read the only reader of each path.
    accepted = accepted.localCheckpoint()
    batch_keys = reuse(
        _content_fps(accepted, text_col, id_col, man["hash_family"])
        .select("id", "fp")
        .groupBy("fp")
        .agg(F.min("id").alias("id"))
    )
    fresh = reuse(
        batch_keys.join(spark.read.parquet(f"{path}/{_FPS}"), "fp", "left_anti")
    )
    n_new = fresh.count()
    if n_new == 0:
        # every batch key is fingerprinted, and fingerprints are only
        # ever appended AFTER their bloom commit — so the bitmap already
        # covers this batch and there is nothing to repair or add
        return man
    old_v = int(man["bloom_version"])
    new_v = old_v + 1
    # delta over ALL batch keys, not just fresh: on a partial replay the
    # already-fingerprinted keys are exactly the ones whose bits a torn
    # previous append might not have committed — re-OR-ing them is free
    # (idempotent) and restores the fingerprints-subset-of-bloom invariant
    delta = bloom_state(
        batch_keys, key_col="fp", m_bits=man["m_bits"], k_hashes=man["k"]
    )
    # EAGER localCheckpoint materializes the merged state into executor
    # blocks (<= m/32 rows) and cuts lineage back to the old version dir
    # before the new dir is written; overwrite mode clears any orphan
    # half-written v=N+1 from a previous crash
    merged = merge_bloom_states(
        spark.read.parquet(_bloom_dir(path, old_v)), delta
    ).localCheckpoint()
    merged.write.mode("overwrite").parquet(_bloom_dir(path, new_v))
    if _fail_after == "bloom":
        raise RuntimeError("injected crash: after bloom write, before commit")
    man = _write_manifest_row(
        spark, path, dict(man, seq=int(man["seq"]) + 1, bloom_version=new_v),
        "append",
    )
    if _fail_after == "bloom_commit":
        raise RuntimeError(
            "injected crash: bloom committed, fingerprints not appended"
        )
    # band keys for the fresh docs only (semi-join prunes re-delivered
    # rows BEFORE tokenization, same as the verify stage's pruning)
    fresh_docs = accepted.join(
        fresh.select(F.col("id").alias(id_col)), id_col, "left_semi"
    )
    minhash_band_keys(
        minhash_signatures(
            fresh_docs,
            text_col,
            id_col,
            man["num_perm"],
            man["shingle_k"],
            man["hash_family"],
        ),
        man["num_perm"],
        man["bands"],
    ).select(
        F.col("id").alias("corpus_id"), "band", "band_key"
    ).write.mode("append").parquet(f"{path}/{_BANDS}")
    if _fail_after == "bands":
        raise RuntimeError("injected crash: after band-key append")
    if man.get("winnow"):
        from hive_io_experimental_spark.operators.text import (
            winnowing_fingerprints,
        )

        # eager materialization before the append: the anti-join reads
        # the same directory the write appends to (the staleness footgun
        # class again — cut the plan from the path first)
        new_w = (
            winnowing_fingerprints(
                fresh_docs, text_col=text_col, id_col=id_col,
                k=man["winnow_k"], window=man["winnow_window"],
            )
            .select("fp")
            .distinct()
            .join(
                spark.read.parquet(f"{path}/{_WINNOW}"), "fp", "left_anti"
            )
            .localCheckpoint()
        )
        new_w.write.mode("append").parquet(f"{path}/{_WINNOW}")
    fresh.select("fp").write.mode("append").parquet(f"{path}/{_FPS}")
    if _fail_after == "fps":
        raise RuntimeError(
            "injected crash: fingerprints appended, final commit skipped"
        )
    man = _write_manifest_row(
        spark, path,
        dict(
            man,
            seq=int(man["seq"]) + 1,
            n_keys=int(man["n_keys"]) + int(n_new),
        ),
        "append",
    )
    if keep_bloom_versions >= 1:
        _prune_bloom_versions(path, new_v - keep_bloom_versions + 1)
    return man


def decontaminate_batch(
    batch: DataFrame,
    path: str,
    min_shared: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-leakage check at ingestion time: batch documents whose
    winnowing fingerprints collide with the STORED corpus's — i.e. docs
    sharing a substring of length >= winnow_k + winnow_window - 1 chars
    with anything already ingested (train-on-the-benchmark protection
    when the artifacts were built over held-out eval sets). Zero corpus
    scans: the batch tokenizes once, then a semi-join against the
    stored distinct-fp table. Raises ArtifactError if the artifacts
    were built without winnow=True rather than silently passing
    everything. Returns (doc_id, n_shared_fps) for batch docs with at
    least ``min_shared`` colliding fingerprints.
    """
    from hive_io_experimental_spark.operators.text import (
        winnowing_fingerprints,
    )

    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    spark = batch.sparkSession
    man = load_manifest(spark, path)
    if not man.get("winnow"):
        raise ArtifactError(
            f"artifacts at {path!r} were built without winnow=True — "
            "rebuild (or append) with winnowing enabled before running "
            "decontamination"
        )
    fps = winnowing_fingerprints(
        batch, text_col=text_col, id_col=id_col,
        k=man["winnow_k"], window=man["winnow_window"],
    )
    stored = spark.read.parquet(f"{path}/{_WINNOW}")
    return (
        fps.join(stored, "fp", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= min_shared)
    )

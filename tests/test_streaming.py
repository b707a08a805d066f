"""Streaming tests: batch/stream agreement on closed input.

Strategy (mirrors how the reference tests I/O round-trips, SURVEY §5): run the
streaming pipeline over a finite file source with an availableNow trigger into
a memory sink, then compare with the batch twin over the same files.
"""

from __future__ import annotations

import datetime as dt
import uuid

import pytest
from pyspark.sql import functions as F

from hive_io_experimental_spark.operators import relational
from hive_io_experimental_spark.streaming.dedup import dedup_stream
from hive_io_experimental_spark.streaming.sessions import sessionize_stateful
from hive_io_experimental_spark.streaming.windows import (
    read_events_stream,
    windowed_event_counts,
)


def _run_stream_to_memory(sdf, name, output_mode):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return q


def test_windowed_counts_match_batch(spark, sf_dir):
    events_path = f"{sf_dir}/events.parquet"
    stream = read_events_stream(spark, events_path)
    assert stream.isStreaming
    name = f"win_{uuid.uuid4().hex[:8]}"
    # complete mode: every window emitted regardless of watermark, so the
    # closed-input result must equal the batch aggregation exactly.
    _run_stream_to_memory(windowed_event_counts(stream), name, "complete")

    got = {
        (r.window_start, r.event_type): (r.n_events, float(r.sum_value))
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }

    batch = relational.ensure_event_time(spark.read.parquet(events_path))
    expected = {
        (r.ws, r.event_type): (r.n, float(r.sv))
        for r in batch.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
        .select(F.col("w.start").alias("ws"), "event_type", "n", "sv")
        .collect()
    }
    assert got == expected
    assert len(got) > 0


def test_stateful_sessionize_closed_sessions_match_batch(spark, sf_dir):
    events_path = f"{sf_dir}/events.parquet"
    stream = read_events_stream(spark, events_path)
    name = f"sess_{uuid.uuid4().hex[:8]}"
    # Huge watermark delay => the watermark never passes any session's
    # end+gap, so no event-time timeout fires and ONLY data-closed sessions
    # are emitted — that's the deterministic quantity to compare with batch.
    _run_stream_to_memory(
        sessionize_stateful(stream, watermark_delay="3650 days"), name, "append"
    )

    stream_sessions = spark.sql(
        f"SELECT user_id, COUNT(*) AS n FROM {name} GROUP BY user_id"
    ).collect()
    stream_counts = {r.user_id: r.n for r in stream_sessions}

    batch = {
        r.user_id: r.n_sessions
        for r in relational.sessionize(
            spark.read.parquet(events_path)
        ).collect()
    }

    # The stream emits only CLOSED sessions; each user's final session stays
    # open at end-of-input (watermark never reaches it). So per user:
    # closed_stream_sessions == batch_sessions - 1.
    assert len(batch) > 0
    for user_id, n_batch in batch.items():
        assert stream_counts.get(user_id, 0) == n_batch - 1, user_id


def test_session_contents_exact(spark):
    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, 1),
        (1, base + dt.timedelta(minutes=5), 2),
        # > 30min gap -> closes session of 2 events
        (1, base + dt.timedelta(minutes=60), 3),
    ]
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="hio_stream_")
    try:
        spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_id long"
        ).write.mode("overwrite").parquet(f"{d}/events")
        stream = read_events_stream(spark, f"{d}/events")
        name = f"sx_{uuid.uuid4().hex[:8]}"
        _run_stream_to_memory(sessionize_stateful(stream), name, "append")
        got = spark.sql(f"SELECT * FROM {name}").collect()
        assert len(got) == 1
        s = got[0]
        us = lambda t: int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
        assert s.user_id == 1
        assert s.n_events == 2
        assert s.session_start == us(base)
        assert s.session_end == us(base + dt.timedelta(minutes=5))
    finally:
        import shutil

        shutil.rmtree(d, ignore_errors=True)


def test_event_time_timeout_flushes_quiet_session(spark):
    """A session whose end+gap falls behind the final watermark is flushed by
    the event-time timer even though no later event from that user arrives."""
    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, 1),
        (1, base + dt.timedelta(minutes=5), 2),
        # user 2 is 10 hours later: advances the watermark far past
        # user 1's (end + gap), so user 1's open session times out.
        (2, base + dt.timedelta(hours=10), 3),
    ]
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="hio_stream_")
    try:
        spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_id long"
        ).write.mode("overwrite").parquet(f"{d}/events")
        stream = read_events_stream(spark, f"{d}/events")
        name = f"to_{uuid.uuid4().hex[:8]}"
        _run_stream_to_memory(
            sessionize_stateful(stream, watermark_delay="30 minutes"),
            name,
            "append",
        )
        got = spark.sql(f"SELECT * FROM {name}").collect()
        assert len(got) == 1
        s = got[0]
        us = lambda t: int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
        assert s.user_id == 1
        assert s.n_events == 2
        assert s.session_end == us(base + dt.timedelta(minutes=5))
        # user 2's session is still open (watermark never passes its
        # end + gap) — correctly NOT emitted.
    finally:
        import shutil

        shutil.rmtree(d, ignore_errors=True)


def test_stream_dedup_matches_batch(spark, sf_dir):
    """Duplicate event_ids across the stream are dropped; result row-set
    equals batch dropDuplicates over the same closed input."""
    import os
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="hio_dedup_")
    try:
        ev = spark.read.parquet(f"{sf_dir}/events.parquet").limit(500)
        # two copies of the same events = guaranteed duplicates
        ev.union(ev).write.mode("overwrite").parquet(f"{d}/events")
        stream = read_events_stream(spark, f"{d}/events")
        name = f"dd_{uuid.uuid4().hex[:8]}"
        _run_stream_to_memory(
            dedup_stream(stream, keys=("event_id",)), name, "append"
        )
        got = spark.sql(
            f"SELECT COUNT(*) AS n, COUNT(DISTINCT event_id) AS d FROM {name}"
        ).collect()[0]
        assert got.n == 500
        assert got.d == 500
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_stream_interval_join_matches_batch(spark, sf_dir):
    """Inner stream-stream join over closed input must produce exactly the
    batch join's rows (inner matches emit as both sides arrive; watermarks
    only govern state eviction)."""
    from hive_io_experimental_spark.streaming.joins import (
        signup_purchase_stream_join,
    )

    events_path = f"{sf_dir}/events.parquet"
    stream = read_events_stream(spark, events_path)
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    _run_stream_to_memory(
        signup_purchase_stream_join(stream), name, "append"
    )
    got = {
        (r.signup_id, r.user_id, r.purchase_ts, float(r.value))
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }

    ev = relational.ensure_event_time(spark.read.parquet(events_path))
    s = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        F.col("user_id").alias("s_user"),
        F.col("ts").alias("signup_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value"),
    )
    expected = {
        (r.signup_id, r.s_user, r.purchase_ts, float(r.value))
        for r in s.join(
            p,
            F.expr(
                "s_user = p_user AND purchase_ts >= signup_ts "
                "AND purchase_ts <= signup_ts + interval 7 days"
            ),
        ).collect()
    }
    assert got == expected
    assert len(got) > 0


def test_minhash_band_stream_matches_batch_banding(spark, sf_dir):
    """Row-local MinHash banding (array_min per row) must equal the batch
    groupBy-min formulation exactly — same md5 family, same lexicographic
    min, same band hashing."""
    from hive_io_experimental_spark.operators import dedup
    from hive_io_experimental_spark.streaming.lsh import minhash_band_stream

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "ts", F.timestamp_micros(F.col("doc_id") * 1_000_000)
    )
    row_local = {
        (r.doc_id, r.band, r.band_key)
        for r in minhash_band_stream(docs).collect()
    }
    batch = {
        (r.id, r.band, r.band_key)
        for r in dedup.minhash_band_keys(
            dedup.minhash_signatures(docs)
        ).collect()
    }
    assert row_local == batch and len(batch) > 0


def test_minhash_lsh_dedup_stream_bucket_owners(spark, sf_dir):
    """Streaming LSH dedup: every batch bucket gets exactly one owner, and
    the owner is a genuine member of that bucket."""
    from collections import Counter

    from hive_io_experimental_spark.operators import dedup
    from hive_io_experimental_spark.streaming.lsh import minhash_lsh_dedup_stream

    docs_path = f"{sf_dir}/documents.parquet"
    batch_docs = spark.read.parquet(docs_path)
    stream = read_events_stream(spark, docs_path).withColumn(
        "ts", F.timestamp_micros(F.col("doc_id") * 1_000_000)
    )
    name = f"lsh_{uuid.uuid4().hex[:8]}"
    _run_stream_to_memory(minhash_lsh_dedup_stream(stream), name, "append")
    owners = spark.sql(f"SELECT * FROM {name}").collect()

    members: dict[tuple, set] = {}
    for r in dedup.minhash_band_keys(
        dedup.minhash_signatures(batch_docs)
    ).collect():
        members.setdefault((r.band, r.band_key), set()).add(r.id)

    counts = Counter((r.band, r.band_key) for r in owners)
    assert set(counts) == set(members)          # every bucket owned
    assert all(c == 1 for c in counts.values())  # exactly once
    assert all(
        r.doc_id in members[(r.band, r.band_key)] for r in owners
    )


def test_running_zscore_stream_matches_batch(spark, sf_dir):
    from hive_io_experimental_spark.operators import profile as profile_ops
    from hive_io_experimental_spark.streaming.anomaly import (
        running_zscore_anomalies,
    )

    events_path = f"{sf_dir}/events.parquet"
    stream = read_events_stream(spark, events_path)
    name = f"zs_{uuid.uuid4().hex[:8]}"
    _run_stream_to_memory(running_zscore_anomalies(stream), name, "append")

    got = {
        (r.event_id, r.user_id): (r.n_prior, r.zscore)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    expected = {
        (r.event_id, r.user_id): (r.n_prior, r.zscore)
        for r in profile_ops.expanding_zscore(
            spark.read.parquet(events_path)
        ).collect()
    }
    assert len(expected) > 0
    assert got == expected


def test_e4_quantization_matches_spark_decimal_cast(spark):
    """The streaming scorer's Python fixed-point quantization must equal
    Spark's double->decimal(14,4) cast on .00005-boundary values (Spark
    rounds the SHORTEST decimal repr, not the binary expansion)."""
    from decimal import ROUND_HALF_UP, Decimal

    vals = [63.95545, 0.00005, 1.00005, 99.99995, 2.5e-05, -63.95545]
    spark_e4 = [
        r[0]
        for r in spark.createDataFrame([(v,) for v in vals], "v double")
        .selectExpr("CAST(CAST(v AS DECIMAL(14,4)) * 10000 AS BIGINT)")
        .collect()
    ]
    python_e4 = [
        int(
            Decimal(repr(v)).quantize(
                Decimal("0.0001"), rounding=ROUND_HALF_UP
            )
            * 10000
        )
        for v in vals
    ]
    assert spark_e4 == python_e4


def test_stateless_text_ops_run_on_streams(spark, tmp_path):
    """The stateless curation surface (metrics, quality gate, PII redact,
    chunking, split assignment) applies UNCHANGED to a streaming
    DataFrame and produces exactly the batch results — the property that
    lets one curation codepath serve both backfill and ingest."""
    import pathlib

    from hive_io_experimental_spark.operators import text as text_ops
    from hive_io_experimental_spark.operators.sampling import hash_split

    src_dir = tmp_path / "stream_src"
    src_dir.mkdir()
    docs = [
        (1, "the quick brown fox jumps over the lazy dog repeatedly today"),
        (2, "contact me at jane.doe@example.com or 555-123-4567 thanks"),
        (3, "word " * 40),
    ]
    batch_df = spark.createDataFrame(docs, "doc_id long, text string")
    batch_df.write.parquet(str(src_dir / "b0"))

    def curate(df):
        metrics = text_ops.text_metrics(df)
        chunks = text_ops.chunk_documents(df, chunk_tokens=8, overlap=2)
        split = hash_split(df).select("doc_id", "split")
        red = text_ops.redact_pii(df).select("doc_id", "redacted")
        return metrics, chunks, split, red

    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(src_dir / "b0")
    )
    got = {}

    def sink(bdf, _bid):
        m, c, s, r = curate(bdf)
        got["metrics"] = {tuple(x) for x in m.collect()}
        got["chunks"] = {tuple(x) for x in c.collect()}
        got["split"] = {tuple(x) for x in s.collect()}
        got["redact"] = {tuple(x) for x in r.collect()}

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    m, c, s, r = curate(batch_df)
    assert got["metrics"] == {tuple(x) for x in m.collect()}
    assert got["chunks"] == {tuple(x) for x in c.collect()}
    assert got["split"] == {tuple(x) for x in s.collect()}
    assert got["redact"] == {tuple(x) for x in r.collect()}
    assert got["chunks"]  # doc 3 chunks into several windows


def test_histogram_state_streaming_fold_matches_batch(spark, sf_dir, tmp_path):
    """The histogram quantile tier is streaming-compatible by construction:
    folding per-microbatch states into a running state table via
    merge_histogram_states must equal the one-shot batch histogram, and
    the percentiles read off the folded state must match exactly."""
    from hive_io_experimental_spark.operators import incremental as inc

    events_path = f"{sf_dir}/events.parquet"
    stream = read_events_stream(spark, events_path)

    acc = {"state": None}

    def fold(bdf, _bid):
        s = inc.hourly_histogram_state(bdf)
        acc["state"] = (
            s if acc["state"] is None
            else inc.merge_histogram_states(acc["state"], s)
        )
        # materialize now: bdf is only valid within the micro-batch
        acc["state"] = spark.createDataFrame(
            acc["state"].collect(), acc["state"].schema
        )

    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", str(tmp_path / "ckpt_hist"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    batch = inc.hourly_histogram_state(spark.read.parquet(events_path))
    key = lambda r: (r.hour_epoch, r.event_type, r.bucket, r.n)
    assert sorted(map(key, batch.collect())) == sorted(
        map(key, acc["state"].collect())
    )

    ps_stream = {
        (r.event_type, r.p): r.lower_bound_e4
        for r in inc.percentiles_from_histogram(acc["state"]).collect()
    }
    ps_batch = {
        (r.event_type, r.p): r.lower_bound_e4
        for r in inc.percentiles_from_histogram(batch).collect()
    }
    assert ps_stream == ps_batch and ps_stream


def test_topk_sketch_streaming_fold_bounds_hold(spark, sf_dir, tmp_path):
    """The heavy-hitter tier folds per-microbatch sketches into a running
    bounded state. Unlike the exact tiers the merge is lossy by design, so
    the streaming proof checks the sketch CONTRACT instead of equality:
    state cardinality stays <= n_shards x (k+1) however many batches fold
    in, and every reported key's EXACT count sits inside its [est_min,
    est_max] bounds. Three single-file micro-batches force two real
    merge_topk_sketches folds."""
    from hive_io_experimental_spark.operators import incremental as inc

    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    d = str(tmp_path / "events")
    # 3 files -> maxFilesPerTrigger=1 -> 3 micro-batches, 2 merges
    src.withColumn("b", F.col("event_id") % 3).repartition(
        3, "b"
    ).drop("b").write.mode("overwrite").parquet(d)
    stream = read_events_stream(spark, d, max_files_per_trigger=1)

    K, S = 16, 8
    acc = {"state": None, "batches": 0}

    def fold(bdf, _bid):
        s = inc.topk_sketch_state(bdf, key_col="user_id", k=K, n_shards=S)
        acc["state"] = (
            s if acc["state"] is None
            else inc.merge_topk_sketches(acc["state"], s, k=K)
        )
        acc["state"] = spark.createDataFrame(
            acc["state"].collect(), acc["state"].schema
        )
        acc["batches"] += 1

    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", str(tmp_path / "ckpt_topk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    state = acc["state"]
    assert acc["batches"] >= 2  # the merge path really ran
    assert state.count() <= S * (K + 1)
    hits = inc.heavy_hitters_from_sketch(state, top_n=20).collect()
    assert hits
    truth = {
        r.user_id: r.n
        for r in src.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for r in hits:
        assert r.est_min <= truth[r.key] <= r.est_max, (r, truth[r.key])
    mins = [r.est_min for r in hits]
    assert mins == sorted(mins, reverse=True)


def test_topk_stateful_matches_bounds_and_stays_bounded(spark, sf_dir, tmp_path):
    """Native stateful streaming top-k (applyInPandasWithState): fold the
    same 3-file stream the foreachBatch test uses, reduce the update-mode
    sink to the freshest per-shard view, and hold the sketch contract:
    <= k keys per shard, exact counts inside every [lo, hi], and the
    per-shard state seq advanced once per micro-batch."""
    from hive_io_experimental_spark.streaming.topk import (
        latest_topk,
        topk_stateful,
    )

    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    d = str(tmp_path / "events_tk")
    src.withColumn("b", F.col("event_id") % 3).repartition(
        3, "b"
    ).drop("b").write.mode("overwrite").parquet(d)
    stream = read_events_stream(spark, d, max_files_per_trigger=1)

    K, S = 16, 8
    q = (
        topk_stateful(stream, key_col="user_id", k=K, n_shards=S)
        .writeStream.format("memory")
        .queryName("topk_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt_tk2"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    final = latest_topk(spark.table("topk_sink")).collect()
    per_shard: dict[int, list] = {}
    for r in final:
        per_shard.setdefault(r.shard, []).append(r)
    assert per_shard
    truth = {
        r.user_id: r.n
        for r in src.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for shard, rows in per_shard.items():
        assert len(rows) <= K
        assert all(r.seq >= 1 for r in rows)
        for r in rows:
            assert r.lo <= truth[r.key] <= r.hi, (r, truth[r.key])


def test_bloom_state_streaming_fold_matches_batch(spark, sf_dir, tmp_path):
    """The bloom membership tier streams: OR-folding per-microbatch
    states must equal the one-shot batch filter WORD FOR WORD (OR is
    associative/commutative/idempotent, so any micro-batching — including
    at-least-once re-delivery — lands on the identical bit array), and
    membership reads off the folded state must keep the no-false-negative
    contract for every streamed key."""
    from hive_io_experimental_spark.operators import incremental as inc

    events_path = f"{sf_dir}/events.parquet"
    stream = read_events_stream(spark, events_path)

    m, k = 2048, 3
    acc = {"state": None}

    def fold(bdf, _bid):
        s = inc.bloom_state(bdf, "user_id", m, k)
        acc["state"] = (
            s if acc["state"] is None
            else inc.merge_bloom_states(acc["state"], s)
        )
        acc["state"] = spark.createDataFrame(
            acc["state"].collect(), acc["state"].schema
        )

    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", str(tmp_path / "ckpt_bloom"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    batch_events = spark.read.parquet(events_path)
    batch = inc.bloom_state(batch_events, "user_id", m, k)
    assert sorted(map(tuple, batch.collect())) == sorted(
        map(tuple, acc["state"].collect())
    )

    mem = inc.bloom_membership(
        acc["state"],
        batch_events.select("user_id").distinct(),
        "user_id", m, k,
    )
    assert mem.filter(F.col("maybe_member") == 0).count() == 0


def test_inverted_index_streaming_fold_matches_batch(spark, sf_dir, tmp_path):
    """Incremental indexing streams: each micro-batch's documents are a
    disjoint doc_id set, so folding per-batch indexes through
    merge_inverted_indexes must equal the one-shot full-corpus index —
    term stats add and the rank-capped posting prefixes recompose
    exactly (first-P of a union of disjoint first-P prefixes)."""
    from hive_io_experimental_spark.operators import text as T

    docs_path = f"{sf_dir}/documents.parquet"
    stream = read_events_stream(spark, docs_path)

    acc = {"idx": None}

    def fold(bdf, _bid):
        s = T.inverted_index(bdf)
        acc["idx"] = (
            s if acc["idx"] is None
            else T.merge_inverted_indexes(acc["idx"], s)
        )
        acc["idx"] = spark.createDataFrame(
            acc["idx"].collect(), acc["idx"].schema
        )

    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", str(tmp_path / "ckpt_invidx"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    batch = T.inverted_index(spark.read.parquet(docs_path))
    assert sorted(map(tuple, batch.collect())) == sorted(
        map(tuple, acc["idx"].collect())
    )


def test_psi_drift_over_streamed_histogram_state(spark, sf_dir, tmp_path):
    """The drift monitor composes with the streaming fold: PSI between a
    static reference histogram and a state accumulated from micro-batch
    folds equals PSI computed batch-vs-batch (the folded state IS the
    batch state — proven above — so the read path sees identical
    integers)."""
    from hive_io_experimental_spark.operators import incremental as inc
    from hive_io_experimental_spark.operators import profile as prof

    events_path = f"{sf_dir}/events.parquet"
    stream = read_events_stream(spark, events_path)

    acc = {"state": None}

    def fold(bdf, _bid):
        s = inc.hourly_histogram_state(bdf)
        acc["state"] = (
            s if acc["state"] is None
            else inc.merge_histogram_states(acc["state"], s)
        )
        acc["state"] = spark.createDataFrame(
            acc["state"].collect(), acc["state"].schema
        )

    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", str(tmp_path / "ckpt_psi"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    ref = inc.hourly_histogram_state(
        spark.read.parquet(events_path).limit(2000)
    )
    via_stream = {
        r.event_type: (r.psi, r.n_cur)
        for r in prof.histogram_drift(ref, acc["state"]).collect()
    }
    via_batch = {
        r.event_type: (r.psi, r.n_cur)
        for r in prof.histogram_drift(
            ref, inc.hourly_histogram_state(spark.read.parquet(events_path))
        ).collect()
    }
    assert via_stream == via_batch and via_stream


def test_streaming_ingest_folds_survivors_across_batches(spark, tmp_path):
    """Streaming ingestion against persisted artifacts: corpus dups are
    rejected, each distinct new text is accepted EXACTLY ONCE across all
    micro-batches (cross-batch duplicates prove the per-batch artifact
    fold), and the final artifacts reject a full replay."""
    from hive_io_experimental_spark.operators.ingestion import (
        build_corpus_artifacts,
        ingest_batch,
        load_manifest,
    )
    from hive_io_experimental_spark.streaming.ingest import ingest_stream

    corpus = spark.createDataFrame(
        [(i, f"corpus text {i} stable body") for i in range(20)],
        "doc_id long, text string",
    )
    art = str(tmp_path / "art")
    man0 = build_corpus_artifacts(corpus, art, m_bits=1 << 12, k=4)

    # two single-row-group files -> maxFilesPerTrigger=1 -> 2 batches;
    # 'brand new A'/'shared X' appear in BOTH batches under different ids
    rows = [
        (100, "corpus text 0 stable body", 0),   # corpus dup
        (101, "brand new A", 0),
        (102, "shared X", 0),
        (200, "corpus text 1 stable body", 1),   # corpus dup
        (201, "brand new A", 1),                 # cross-batch dup
        (202, "shared X", 1),                    # cross-batch dup
        (203, "brand new B", 1),
    ]
    src = str(tmp_path / "src")
    (
        spark.createDataFrame(rows, "doc_id long, text string, b int")
        .repartition(2, "b")
        .drop("b")
        .write.mode("overwrite")
        .parquet(src)
    )
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    accept = str(tmp_path / "accept")
    q = ingest_stream(
        stream, art, str(tmp_path / "ckpt"), accept_dir=accept
    )
    q.awaitTermination(300)

    got = spark.read.parquet(accept)
    texts = [r.text for r in got.collect()]
    # corpus dups rejected, each distinct new text accepted exactly once
    assert sorted(texts) == ["brand new A", "brand new B", "shared X"]
    # artifacts grew by exactly the accepted distinct texts
    assert load_manifest(spark, art)["n_keys"] == man0["n_keys"] + 3
    # a full replay of the source is now entirely duplicate
    replay = spark.read.parquet(src)
    assert ingest_batch(replay, art).count() == 0


# ---------------------------------------------------------------------------
# streaming ANN serving from the persisted LSH index
# ---------------------------------------------------------------------------


def test_lsh_topk_stream_matches_batch_index_serving(spark, sf_dir, tmp_path):
    """Online ANN serving: a query stream served against the stored LSH
    bucket index emits EXACTLY the batch lsh_query_index rows over the
    same closed input — per-batch ranking is exact because a query's
    candidate fan-out never crosses micro-batches."""
    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.operators import similarity
    from hive_io_experimental_spark.streaming.similarity import (
        serve_lsh_topk_stream,
    )

    cat = Catalog(str(tmp_path / "wh"))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    similarity.lsh_build_index(spark, cat, "default.emb_lsh_s", emb,
                               num_planes=8)

    # two files -> two micro-batches under maxFilesPerTrigger=1: proves
    # per-batch ranking, not just the single-batch case
    queries = emb.filter(F.col("vec_id") < 60)
    src = str(tmp_path / "qsrc")
    (
        queries.withColumn("b", (F.col("vec_id") % 2).cast("int"))
        .repartition(2, "b").drop("b")
        .write.mode("overwrite").parquet(src)
    )
    stream = spark.readStream.schema(queries.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)

    got: list = []
    writer = serve_lsh_topk_stream(
        spark, cat, "default.emb_lsh_s", stream, emb,
        sink_fn=lambda df, epoch: got.extend(
            tuple(r) for r in df.collect()
        ),
        k=5, probe_bits=1,
    )
    q = writer.trigger(availableNow=True).option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination(300)

    batch = {
        tuple(r)
        for r in similarity.lsh_query_index(
            spark, cat, "default.emb_lsh_s", emb, queries, k=5,
            probe_bits=1,
        ).collect()
    }
    assert len(got) == len(set(got)) == len(batch) > 0
    assert set(got) == batch


def test_lsh_candidates_stream_validations(spark, sf_dir, tmp_path):
    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.operators import similarity
    from hive_io_experimental_spark.streaming.similarity import (
        lsh_candidates_stream,
    )

    cat = Catalog(str(tmp_path / "wh"))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    similarity.lsh_build_index(spark, cat, "default.emb_lsh_v", emb,
                               num_planes=4)
    stream = spark.readStream.schema(emb.schema).parquet(
        f"{sf_dir}"
    )
    with pytest.raises(ValueError, match="probe_bits"):
        lsh_candidates_stream(
            spark, cat, "default.emb_lsh_v", stream, emb, probe_bits=3
        )
    # a batch frame is refused (the batch path exists for that)
    with pytest.raises(ValueError, match="batch frame"):
        lsh_candidates_stream(spark, cat, "default.emb_lsh_v", emb, emb)


def test_lsh_topk_stream_detects_midstream_rebuild(spark, sf_dir, tmp_path):
    """An index rebuilt while the stream is up must FAIL the streaming
    query at the next micro-batch (r11 ADVICE): the static bucket table
    is re-read per trigger, and the plan's query-side bucket hash is
    bound to the planned build's plane family — serving a different
    build silently would return wrong candidates."""
    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.operators import similarity
    from hive_io_experimental_spark.streaming.similarity import (
        serve_lsh_topk_stream,
    )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    cat = Catalog(str(tmp_path / "wh"))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    similarity.lsh_build_index(spark, cat, "default.emb_lsh_rb", emb,
                               num_planes=4)
    queries = emb.filter(F.col("vec_id") < 20)
    src = str(tmp_path / "qsrc")
    queries.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(queries.schema).parquet(src)

    # plan first (captures the original build), THEN rebuild, THEN start:
    # the per-batch stamp probe must catch the new build_id
    writer = serve_lsh_topk_stream(
        spark, cat, "default.emb_lsh_rb", stream, emb,
        sink_fn=lambda df, epoch: df.count(),
        k=3, probe_bits=0,
    )
    similarity.lsh_build_index(spark, cat, "default.emb_lsh_rb", emb,
                               num_planes=6)
    q = writer.trigger(availableNow=True).option(
        "checkpointLocation", str(tmp_path / "ckpt_rb")
    ).start()
    with pytest.raises(StreamingQueryException, match="REBUILT mid-stream"):
        q.awaitTermination(300)


def test_lsh_topk_stream_detects_midbatch_rebuild(spark, sf_dir, tmp_path):
    """A rebuild landing WHILE a micro-batch is being served (after the
    pre-check, before/while the sink reads the bucket table) must still
    fail the query loudly — the pre-check alone was check-then-use (r12
    ADVICE). The sink itself rebuilds the index, which is the most
    hostile placement; the post-sink revalidation must name the tainted
    epoch so the caller can discard its output."""
    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.operators import similarity
    from hive_io_experimental_spark.streaming.similarity import (
        serve_lsh_topk_stream,
    )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    cat = Catalog(str(tmp_path / "wh"))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    similarity.lsh_build_index(spark, cat, "default.emb_lsh_mb", emb,
                               num_planes=4)
    queries = emb.filter(F.col("vec_id") < 20)
    src = str(tmp_path / "qsrc")
    queries.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(queries.schema).parquet(src)

    def _hostile_sink(df, epoch):
        df.count()  # materialize the batch against the current table
        similarity.lsh_build_index(
            spark, cat, "default.emb_lsh_mb", emb, num_planes=6
        )

    writer = serve_lsh_topk_stream(
        spark, cat, "default.emb_lsh_mb", stream, emb,
        sink_fn=_hostile_sink, k=3, probe_bits=0,
    )
    q = writer.trigger(availableNow=True).option(
        "checkpointLocation", str(tmp_path / "ckpt_mb")
    ).start()
    with pytest.raises(
        StreamingQueryException, match="WHILE micro-batch"
    ):
        q.awaitTermination(300)


def test_lsh_topk_stream_serves_planned_snapshot_across_append(
    spark, sf_dir, tmp_path
):
    """An APPEND is not a rebuild: it keeps the plane family and
    build_id, so the per-batch stamp checks keep the stream ALIVE across
    an ingestion tick — and because versioned reads pin the planned
    snapshot's manifest, the running stream keeps serving EXACTLY the
    candidates it planned against (snapshot isolation — never a torn
    view of a mid-append table). Appended vectors become servable on
    the next stream START, with no rebuild. This pins the design line:
    append = serve-through on the planned snapshot, rebuild = loud
    stop."""
    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.operators import similarity
    from hive_io_experimental_spark.streaming.similarity import (
        serve_lsh_topk_stream,
    )

    cat = Catalog(str(tmp_path / "wh"))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    similarity.lsh_build_index(spark, cat, "default.emb_lsh_ap", half_a,
                               num_planes=4)
    queries = emb.filter(F.col("vec_id") < 20)
    src = str(tmp_path / "qsrc")
    queries.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(queries.schema).parquet(src)

    got: list = []

    def _sink(df, epoch):
        got.extend(df.collect())

    writer = serve_lsh_topk_stream(
        spark, cat, "default.emb_lsh_ap", stream, emb,
        sink_fn=_sink, k=5, probe_bits=1,
    )
    # append lands AFTER planning, BEFORE the first batch: the stream
    # must survive it (same build_id) and serve the PLANNED snapshot
    similarity.lsh_append_to_index(
        spark, cat, "default.emb_lsh_ap", half_b
    )
    q = writer.trigger(availableNow=True).option(
        "checkpointLocation", str(tmp_path / "ckpt_ap")
    ).start()
    q.awaitTermination(300)
    assert not q.exception()
    assert got, "stream served no rows"
    # planned snapshot = the half_a build: candidates are even ids only,
    # and the rows equal direct multiprobe over the build half
    assert all(r.neighbor_id % 2 == 0 for r in got)
    pre_append = {
        tuple(r)
        for r in similarity.cosine_topk_multiprobe(
            half_a, queries, k=5, num_planes=4, probe_bits=1
        ).collect()
    }
    assert {tuple(r) for r in got} == pre_append
    # a RESTARTED stream plans against the appended snapshot: the odd
    # half is servable with no rebuild
    got2: list = []
    stream2 = spark.readStream.schema(queries.schema).parquet(src)
    writer2 = serve_lsh_topk_stream(
        spark, cat, "default.emb_lsh_ap", stream2, emb,
        sink_fn=lambda df, e: got2.extend(df.collect()),
        k=5, probe_bits=1,
    )
    q2 = writer2.trigger(availableNow=True).option(
        "checkpointLocation", str(tmp_path / "ckpt_ap2")
    ).start()
    q2.awaitTermination(300)
    assert not q2.exception()
    assert any(r.neighbor_id % 2 == 1 for r in got2), (
        "appended vectors not servable after restart"
    )
    batch = {
        tuple(r)
        for r in similarity.lsh_query_index(
            spark, cat, "default.emb_lsh_ap", emb, queries,
            k=5, probe_bits=1,
        ).collect()
    }
    assert {tuple(r) for r in got2} == batch


def test_lsh_topk_stream_parity_at_all_probe_depths(spark, sf_dir, tmp_path):
    """Stream serving == batch serving at probe_bits 0 AND 2 as well
    (the first test pins 1): the probe fan-out width must not change
    the stream-static equivalence."""
    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.operators import similarity
    from hive_io_experimental_spark.streaming.similarity import (
        serve_lsh_topk_stream,
    )

    cat = Catalog(str(tmp_path / "wh"))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    similarity.lsh_build_index(spark, cat, "default.emb_lsh_pb", emb,
                               num_planes=6)
    queries = emb.filter(F.col("vec_id") < 30)
    src = str(tmp_path / "qsrc")
    queries.write.mode("overwrite").parquet(src)

    for bits in (0, 2):
        stream = spark.readStream.schema(queries.schema).parquet(src)
        got: list = []
        q = serve_lsh_topk_stream(
            spark, cat, "default.emb_lsh_pb", stream, emb,
            sink_fn=lambda df, epoch: got.extend(tuple(r) for r in df.collect()),
            k=3, probe_bits=bits,
        ).trigger(availableNow=True).option(
            "checkpointLocation", str(tmp_path / f"ckpt{bits}")
        ).start()
        q.awaitTermination(300)
        batch = {
            tuple(r)
            for r in similarity.lsh_query_index(
                spark, cat, "default.emb_lsh_pb", emb, queries, k=3,
                probe_bits=bits,
            ).collect()
        }
        assert set(got) == batch and len(batch) > 0, f"probe_bits={bits}"


# ---------------------------------------------------------------------------
# streaming hybrid search (streaming/retrieval.py)
# ---------------------------------------------------------------------------


def _hybrid_stream_fixture(spark, sf_dir, tmp_path, n_queries=4):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = (
        emb.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.array(F.lit("data"), F.lit("join")).alias("terms"),
            "embedding",
        )
    )
    src = str(tmp_path / "qsrc")
    (
        queries.withColumn("b", (F.col("query_id") % 2).cast("int"))
        .repartition(2, "b").drop("b")
        .write.mode("overwrite").parquet(src)
    )
    stream = spark.readStream.schema(queries.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    return docs, emb, queries, stream


def test_hybrid_stream_matches_batch_operator(spark, sf_dir, tmp_path):
    """Two micro-batches of queries served by the stream emit EXACTLY the
    batch operator's rows over the same closed query set (hybrid fusion
    is per-query, so batch boundaries cannot change any result)."""
    from hive_io_experimental_spark.operators import retrieval
    from hive_io_experimental_spark.streaming.retrieval import (
        serve_hybrid_topk_stream,
    )

    docs, emb, queries, stream = _hybrid_stream_fixture(
        spark, sf_dir, tmp_path
    )
    got: list = []
    q = serve_hybrid_topk_stream(
        stream, docs, emb,
        sink_fn=lambda df, epoch: got.extend(tuple(r) for r in df.collect()),
        k=5, candidate_k=10,
    ).trigger(availableNow=True).option(
        "checkpointLocation", str(tmp_path / "ckpt_h")
    ).start()
    q.awaitTermination(300)

    batch = {
        tuple(r)
        for r in retrieval.hybrid_topk_rrf_batch(
            docs, emb, queries, k=5, candidate_k=10
        ).collect()
    }
    assert len(got) == len(set(got)) == len(batch) > 0
    assert set(got) == batch


def test_hybrid_stream_with_lsh_index_semantic_leg(spark, sf_dir, tmp_path):
    """The sem_candidates_fn hook serves the semantic leg from the
    persisted LSH index per micro-batch — the no-broadcast scale path —
    and the stream still equals the batch operator fed the same
    candidates."""
    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.operators import retrieval, similarity
    from hive_io_experimental_spark.streaming.retrieval import (
        serve_hybrid_topk_stream,
    )

    cat = Catalog(str(tmp_path / "wh"))
    docs, emb, queries, stream = _hybrid_stream_fixture(
        spark, sf_dir, tmp_path
    )
    similarity.lsh_build_index(spark, cat, "default.hyb_lsh", emb,
                               num_planes=6)

    def from_index(batch_queries):
        return similarity.lsh_query_index(
            spark, cat, "default.hyb_lsh", emb,
            batch_queries.select(
                F.col("query_id").alias("vec_id"), "embedding"
            ),
            k=10, probe_bits=1,
        ).select("query_id", "neighbor_id", "cosine")

    got: list = []
    q = serve_hybrid_topk_stream(
        stream, docs, emb,
        sink_fn=lambda df, epoch: got.extend(tuple(r) for r in df.collect()),
        k=5, candidate_k=10, sem_candidates_fn=from_index,
    ).trigger(availableNow=True).option(
        "checkpointLocation", str(tmp_path / "ckpt_hl")
    ).start()
    q.awaitTermination(300)

    batch = {
        tuple(r)
        for r in retrieval.hybrid_topk_rrf_batch(
            docs, emb, queries, k=5, candidate_k=10,
            sem_candidates=from_index(queries),
        ).collect()
    }
    assert set(got) == batch and len(batch) > 0


def test_hybrid_stream_rejects_batch_frame(spark, sf_dir):
    from hive_io_experimental_spark.streaming.retrieval import (
        serve_hybrid_topk_stream,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="batch frame"):
        serve_hybrid_topk_stream(emb, docs, emb, sink_fn=lambda d, e: None)


def test_pq_topk_stream_matches_batch_index_serving(spark, sf_dir, tmp_path):
    """Online quantized serving (r14): a query stream served against the
    stored PQ index emits EXACTLY the batch pq_query_index rows over the
    same closed input — ADC LUTs + rank run inside foreachBatch (neither
    is append-mode-expressible) and are exact per batch because every
    query is scored against the full pinned codes table in its arrival
    batch."""
    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.operators import similarity
    from hive_io_experimental_spark.streaming.similarity import (
        serve_pq_topk_stream,
    )

    cat = Catalog(str(tmp_path / "wh"))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    similarity.pq_build_index(
        spark, cat, "default.emb_pq_s", emb, centroid_stride=5,
        max_codes=128,
    )
    # two files -> two micro-batches under maxFilesPerTrigger=1
    queries = emb.filter(F.col("vec_id") < 60)
    src = str(tmp_path / "qsrc")
    (
        queries.withColumn("b", (F.col("vec_id") % 2).cast("int"))
        .repartition(2, "b").drop("b")
        .write.mode("overwrite").parquet(src)
    )
    stream = spark.readStream.schema(queries.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)

    got: list = []
    writer = serve_pq_topk_stream(
        spark, cat, "default.emb_pq_s", stream,
        sink_fn=lambda df, epoch: got.extend(tuple(r) for r in df.collect()),
        k=5,
    )
    q = writer.trigger(availableNow=True).option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination(300)
    assert not q.exception()

    batch = {
        tuple(r)
        for r in similarity.pq_query_index(
            spark, cat, "default.emb_pq_s", queries, k=5
        ).collect()
    }
    assert len(got) == len(set(got)) == len(batch) > 0
    assert set(got) == batch


def test_ivf_pq_topk_stream_matches_batch_and_append_isolation(
    spark, sf_dir, tmp_path
):
    """IVF-PQ streaming serve (r14): (1) stream output over a closed
    two-micro-batch input is row-identical to ivf_pq_query_index; (2) a
    two-table ivf_pq_append_to_index landing between planning and the
    first batch keeps the stream ALIVE (appended rows carry the planned
    build_id) and the served rows stay EXACTLY the planned snapshot's —
    never a torn half-append view; restart serves the appended
    vectors."""
    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.operators import similarity
    from hive_io_experimental_spark.streaming.similarity import (
        serve_ivf_pq_topk_stream,
    )

    cat = Catalog(str(tmp_path / "wh"))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    similarity.ivf_pq_build_index(
        spark, cat, "default.emb_ivfpq_s", half_a,
        centroid_stride=5, pq_stride=5, max_codes=128,
    )
    queries = emb.filter(F.col("vec_id") < 60)
    src = str(tmp_path / "qsrc")
    (
        queries.withColumn("b", (F.col("vec_id") % 2).cast("int"))
        .repartition(2, "b").drop("b")
        .write.mode("overwrite").parquet(src)
    )
    # planned-snapshot expectation BEFORE the append, collected eagerly
    pre_append = {
        tuple(r)
        for r in similarity.ivf_pq_query_index(
            spark, cat, "default.emb_ivfpq_s", queries, k=5, nprobe=2
        ).collect()
    }
    stream = spark.readStream.schema(queries.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    got: list = []
    writer = serve_ivf_pq_topk_stream(
        spark, cat, "default.emb_ivfpq_s", stream,
        sink_fn=lambda df, epoch: got.extend(tuple(r) for r in df.collect()),
        k=5, nprobe=2,
    )
    # append lands AFTER planning, BEFORE the first batch
    similarity.ivf_pq_append_to_index(
        spark, cat, "default.emb_ivfpq_s", half_b
    )
    q = writer.trigger(availableNow=True).option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination(300)
    assert not q.exception()
    assert len(got) == len(set(got)) == len(pre_append) > 0
    assert set(got) == pre_append
    assert all(r[1] % 2 == 0 for r in got)  # planned snapshot: even ids

    # a restarted stream plans against the appended snapshot
    got2: list = []
    stream2 = spark.readStream.schema(queries.schema).parquet(src)
    writer2 = serve_ivf_pq_topk_stream(
        spark, cat, "default.emb_ivfpq_s", stream2,
        sink_fn=lambda df, e: got2.extend(tuple(r) for r in df.collect()),
        k=5, nprobe=2,
    )
    q2 = writer2.trigger(availableNow=True).option(
        "checkpointLocation", str(tmp_path / "ckpt2")
    ).start()
    q2.awaitTermination(300)
    assert not q2.exception()
    assert any(r[1] % 2 == 1 for r in got2), (
        "appended vectors not servable after restart"
    )
    batch = {
        tuple(r)
        for r in similarity.ivf_pq_query_index(
            spark, cat, "default.emb_ivfpq_s", queries, k=5, nprobe=2
        ).collect()
    }
    assert set(got2) == batch


def test_ivf_pq_topk_stream_refuses_duplicate_query_ids(
    spark, sf_dir, tmp_path
):
    """A micro-batch carrying one query id twice stops the stream with the
    batch path's duplicate-id error, never merged (wrong) scores."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.operators import similarity
    from hive_io_experimental_spark.streaming.similarity import (
        serve_ivf_pq_topk_stream,
    )

    cat = Catalog(str(tmp_path / "wh"))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    similarity.ivf_pq_build_index(spark, cat, "default.emb_ivfpq_d", emb)
    queries = emb.filter(F.col("vec_id") < 4)
    src = str(tmp_path / "qsrc")
    queries.unionByName(queries.filter(F.col("vec_id") == 2)).coalesce(
        1
    ).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(queries.schema).parquet(src)
    q = serve_ivf_pq_topk_stream(
        spark, cat, "default.emb_ivfpq_d", stream,
        sink_fn=lambda df, epoch: df.count(), k=3,
    ).trigger(availableNow=True).option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).start()
    with pytest.raises(
        StreamingQueryException,
        match=r"serve_ivf_pq_topk_stream: duplicate query ids \[2\]",
    ):
        q.awaitTermination(300)


def test_pq_topk_stream_detects_midstream_and_midbatch_rebuild(
    spark, sf_dir, tmp_path
):
    """A PQ index rebuilt between planning and serving must FAIL the
    stream at the next micro-batch's pre-check; a rebuild landing WHILE
    a batch is served (hostile sink) must fail the post-check naming the
    tainted epoch — the serve_lsh_topk_stream contract on the quantized
    tier."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.operators import similarity
    from hive_io_experimental_spark.streaming.similarity import (
        serve_pq_topk_stream,
    )

    cat = Catalog(str(tmp_path / "wh"))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    similarity.pq_build_index(
        spark, cat, "default.emb_pq_rb", emb, centroid_stride=5,
        max_codes=128,
    )
    queries = emb.filter(F.col("vec_id") < 20)
    src = str(tmp_path / "qsrc")
    queries.write.mode("overwrite").parquet(src)

    # plan first (captures the original build), THEN rebuild, THEN start
    stream = spark.readStream.schema(queries.schema).parquet(src)
    writer = serve_pq_topk_stream(
        spark, cat, "default.emb_pq_rb", stream,
        sink_fn=lambda df, epoch: df.count(), k=3,
    )
    similarity.pq_build_index(
        spark, cat, "default.emb_pq_rb", emb, centroid_stride=5,
        max_codes=128,
    )
    q = writer.trigger(availableNow=True).option(
        "checkpointLocation", str(tmp_path / "ckpt_rb")
    ).start()
    with pytest.raises(StreamingQueryException, match="REBUILT mid-stream"):
        q.awaitTermination(300)

    def _hostile_sink(df, epoch):
        df.count()
        similarity.pq_build_index(
            spark, cat, "default.emb_pq_rb", emb, centroid_stride=5,
            max_codes=128,
        )

    stream2 = spark.readStream.schema(queries.schema).parquet(src)
    writer2 = serve_pq_topk_stream(
        spark, cat, "default.emb_pq_rb", stream2,
        sink_fn=_hostile_sink, k=3,
    )
    q2 = writer2.trigger(availableNow=True).option(
        "checkpointLocation", str(tmp_path / "ckpt_mb")
    ).start()
    with pytest.raises(StreamingQueryException, match="WHILE micro-batch"):
        q2.awaitTermination(300)


def test_quantized_streams_refuse_torn_or_batch_inputs(
    spark, sf_dir, tmp_path
):
    """Plan-time fences on the quantized serving streams: a batch query
    frame is routed to the batch operator; a torn rebuild (mixed
    build_id stamps across the index tables) is refused before any
    batch runs; a wrong num_subspaces raises instead of misindexing
    stored codes."""
    from pyspark.sql import types as T

    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.input import HiveInput, ScanSpec
    from hive_io_experimental_spark.operators import similarity
    from hive_io_experimental_spark.output import HiveOutput, WriteSpec
    from hive_io_experimental_spark.schema import HiveTableSchema
    from hive_io_experimental_spark.streaming.similarity import (
        serve_ivf_pq_topk_stream,
        serve_pq_topk_stream,
    )

    cat = Catalog(str(tmp_path / "wh"))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    similarity.pq_build_index(
        spark, cat, "default.emb_pq_v", emb, centroid_stride=5,
        max_codes=128,
    )
    similarity.ivf_pq_build_index(
        spark, cat, "default.emb_ivfpq_v", emb,
        centroid_stride=5, pq_stride=5, max_codes=128,
    )
    stream = spark.readStream.schema(emb.schema).parquet(f"{sf_dir}")
    with pytest.raises(ValueError, match="batch frame"):
        serve_pq_topk_stream(
            spark, cat, "default.emb_pq_v", emb, sink_fn=lambda d, e: None
        )
    with pytest.raises(ValueError, match="batch frame"):
        serve_ivf_pq_topk_stream(
            spark, cat, "default.emb_ivfpq_v", emb,
            sink_fn=lambda d, e: None,
        )
    with pytest.raises(ValueError, match="num_subspaces=8 does not"):
        serve_pq_topk_stream(
            spark, cat, "default.emb_pq_v", stream,
            sink_fn=lambda d, e: None, num_subspaces=8,
        )
    # manufacture the torn-rebuild state: codebooks re-stamped, codes old
    cb_schema = HiveTableSchema((
        ("j", T.IntegerType()),
        ("code", T.IntegerType()),
        ("cv", T.ArrayType(T.DoubleType())),
        ("build_id", T.StringType()),
    ))
    for tbl in ("default.emb_pq_v_codebooks",
                "default.emb_ivfpq_v_codebooks"):
        cb = HiveInput(spark, cat).read_table(
            ScanSpec(table=tbl)
        ).drop("build_id").withColumn(
            "build_id", F.lit("torn-stamp")
        ).localCheckpoint()
        cat.drop_table(tbl, delete_data=True)
        cat.create_table(tbl, cb_schema)
        HiveOutput(spark, cat).write_table(WriteSpec(table=tbl), cb)
    with pytest.raises(ValueError, match="mixed build_id"):
        serve_pq_topk_stream(
            spark, cat, "default.emb_pq_v", stream,
            sink_fn=lambda d, e: None,
        )
    with pytest.raises(ValueError, match="mixed build_id"):
        serve_ivf_pq_topk_stream(
            spark, cat, "default.emb_ivfpq_v", stream,
            sink_fn=lambda d, e: None,
        )


def test_nb_score_stream_matches_batch_and_stops_on_update(
    spark, sf_dir, tmp_path
):
    """Online NB routing (r14): (1) a document stream scored against the
    stored model emits EXACTLY the batch nb_score_from_model rows over
    the same closed two-micro-batch input; (2) an nb_update_model
    landing between planning and serving STOPS the stream loudly —
    unlike an index append, an NB update replaces the model tables, so
    there is nothing consistent to serve through; (3) a batch frame is
    routed to the batch operator."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.operators import text as T
    from hive_io_experimental_spark.streaming.classify import (
        serve_nb_score_stream,
    )

    cat = Catalog(str(tmp_path / "wh"))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 400
    )
    T.nb_build_model(spark, cat, "default.nb_srv", docs, label_col="lang")

    score_docs = docs.filter(F.col("doc_id") < 120).select(
        "doc_id", "text"
    )
    src = str(tmp_path / "dsrc")
    (
        score_docs.withColumn("b", (F.col("doc_id") % 2).cast("int"))
        .repartition(2, "b").drop("b")
        .write.mode("overwrite").parquet(src)
    )
    stream = spark.readStream.schema(score_docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)

    got: list = []
    writer = serve_nb_score_stream(
        spark, cat, "default.nb_srv", stream,
        sink_fn=lambda df, epoch: got.extend(tuple(r) for r in df.collect()),
    )
    q = writer.trigger(availableNow=True).option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination(300)
    assert not q.exception()
    batch = {
        tuple(r)
        for r in T.nb_score_from_model(
            spark, cat, "default.nb_srv", score_docs
        ).collect()
    }
    assert len(got) == len(set(got)) == len(batch) > 0
    assert set(got) == batch

    # batch frame refused, naming the batch operator
    with pytest.raises(ValueError, match="nb_score_from_model"):
        serve_nb_score_stream(
            spark, cat, "default.nb_srv", score_docs,
            sink_fn=lambda d, e: None,
        )

    # an incremental update between planning and serving must stop the
    # stream: the planned model version no longer exists
    stream2 = spark.readStream.schema(score_docs.schema).parquet(src)
    writer2 = serve_nb_score_stream(
        spark, cat, "default.nb_srv", stream2,
        sink_fn=lambda df, epoch: df.count(),
    )
    T.nb_update_model(
        spark, cat, "default.nb_srv",
        spark.createDataFrame(
            [(9001, "nuevo documento", "es")],
            "doc_id long, text string, lang string",
        ),
        label_col="lang",
    )
    q2 = writer2.trigger(availableNow=True).option(
        "checkpointLocation", str(tmp_path / "ckpt2")
    ).start()
    with pytest.raises(
        StreamingQueryException, match="UPDATED or REBUILT mid-stream"
    ):
        q2.awaitTermination(300)


def test_bpe_segment_stream_matches_batch_and_stops_on_rebuild(
    spark, sf_dir, tmp_path
):
    """Online tokenization (r14): a document stream segmented with the
    stored vocab emits EXACTLY the batch bpe_segment_from_vocab rows
    over the same closed two-micro-batch input, and a vocab rebuilt
    between planning and serving stops the stream loudly — the plan
    owns its merges (output could never corrupt), but silently serving
    a superseded tokenizer would mix tokenizations across the corpus."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from hive_io_experimental_spark.catalog import Catalog
    from hive_io_experimental_spark.operators import text as T
    from hive_io_experimental_spark.streaming.tokenize import (
        serve_bpe_segment_stream,
    )

    cat = Catalog(str(tmp_path / "wh"))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 300
    )
    T.bpe_build_vocab(spark, cat, "default.bpe_srv", docs, num_merges=20)

    seg_docs = docs.filter(F.col("doc_id") < 120).select("doc_id", "text")
    src = str(tmp_path / "dsrc")
    (
        seg_docs.withColumn("b", (F.col("doc_id") % 2).cast("int"))
        .repartition(2, "b").drop("b")
        .write.mode("overwrite").parquet(src)
    )
    stream = spark.readStream.schema(seg_docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)

    got: list = []
    writer = serve_bpe_segment_stream(
        spark, cat, "default.bpe_srv", stream,
        sink_fn=lambda df, epoch: got.extend(tuple(r) for r in df.collect()),
    )
    q = writer.trigger(availableNow=True).option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination(300)
    assert not q.exception()
    batch = {
        tuple(r)
        for r in T.bpe_segment_from_vocab(
            spark, cat, "default.bpe_srv", seg_docs
        ).collect()
    }
    assert len(got) == len(set(got)) == len(batch) > 0
    assert set(got) == batch

    with pytest.raises(ValueError, match="bpe_segment_from_vocab"):
        serve_bpe_segment_stream(
            spark, cat, "default.bpe_srv", seg_docs,
            sink_fn=lambda d, e: None,
        )

    # rebuild between planning and serving: loud stop
    stream2 = spark.readStream.schema(seg_docs.schema).parquet(src)
    writer2 = serve_bpe_segment_stream(
        spark, cat, "default.bpe_srv", stream2,
        sink_fn=lambda df, epoch: df.count(),
    )
    T.bpe_build_vocab(spark, cat, "default.bpe_srv", docs, num_merges=25)
    q2 = writer2.trigger(availableNow=True).option(
        "checkpointLocation", str(tmp_path / "ckpt2")
    ).start()
    with pytest.raises(
        StreamingQueryException, match="REBUILT mid-stream"
    ):
        q2.awaitTermination(300)

"""Streaming NB routing: documents arrive as a stream, labels come from
the PERSISTED model (nb_build_model / nb_update_model) — the online half
of the classifier lifecycle, completing the serve matrix (every stored
artifact here — LSH/PQ/IVF-PQ indexes, now the NB router — has a batch
query path AND a stamp-fenced streaming twin).

Why the scoring lives in foreachBatch (the serve_pq_topk_stream
pattern): per-document totals are a groupBy over the token fan-out and
the winning label is a min_by — neither is expressible in append-mode
streaming — but both are exact per micro-batch because a document's
token rows never cross batches. foreachBatch hands a batch frame, so
``nb_score`` runs unchanged against the pinned model frames, making
stream output row-identical to ``nb_score_from_model`` over the same
closed input by construction.

Model-lifecycle semantics — ONE deliberate difference from the index
serves: an NB ``nb_update_model`` (or rebuild) REPLACES all three model
tables under a new build_id — there is no append that leaves the
planned snapshot's files intact — so there is no serve-through case at
all: ANY model change mid-stream (incremental update included) stops
the stream loudly, and a restart serves the new version. The pre+post
per-batch probes are the model set's fences (empty / pre-stamp /
mixed-stamp / torn-rebuild, operators/artifacts.py) plus the
planned-build pin; the post-sink probe names the epoch whose
already-sunk output is suspect when a replacement lands mid-batch.

Per micro-batch cost: |batch| token fan-out x label broadcast, one
vocabulary equi-join against the pinned likelihoods, a batch-local
min_by, plus six 1-row stamp probes (three tables x pre/post).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_io_experimental_spark.operators.text import (
    _NB_MODEL,
    _nb_load_model_full,
    nb_score,
)
from hive_io_experimental_spark.streaming.similarity import (
    _serve_checked_stream,
)


def serve_nb_score_stream(
    spark: SparkSession,
    catalog,
    model_table: str,
    doc_stream: DataFrame,
    sink_fn,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Wire the online NB routing pipeline and return the (unstarted)
    DataStreamWriter — callers pick the trigger/checkpoint and
    .start(). Output rows are (doc_id, label, total_bits, n_tokens),
    row-identical to nb_score_from_model over the same closed input.

    The stored model is fenced once at plan time (torn-rebuild refusal,
    the batch path's fences), which also pins the frames every batch
    scores against, and re-fenced around every micro-batch pinned to
    the PLANNED build_id: a model updated or rebuilt mid-stream fails
    the streaming query loudly — an NB update replaces the model tables
    outright, so unlike an index APPEND there is nothing consistent
    left to serve through. Restart to serve the new model version."""
    op = "serve_nb_score_stream"
    meta, priors, likelihoods = _nb_load_model_full(
        spark, catalog, model_table, op
    )
    priors = priors.select("label", "n_docs", "prior_bits", "unseen_bits")
    likelihoods = likelihoods.select("label", "token", "bits")
    return _serve_checked_stream(
        spark, catalog, _NB_MODEL, model_table, meta["build_id"],
        doc_stream.select(F.col(id_col), F.col(text_col)),
        lambda batch_df: nb_score(
            batch_df, priors, likelihoods, text_col, id_col
        ),
        sink_fn, op,
        batch_hint="nb_score_from_model",
        taint_hint="may mix model versions",
    )

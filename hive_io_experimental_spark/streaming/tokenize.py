"""Streaming BPE segmentation from the stored vocab — the tokenizer's
online serve path, completing the stored-artifact serve matrix
(LSH/PQ/IVF-PQ indexes, the NB router, and now the tokenizer each have
a batch query path and a stamp-fenced streaming twin).

Segmentation is row-local (the literal replace chain or the Arrow
applier — no aggregation), so unlike the ANN/NB serves nothing here
NEEDS foreachBatch for correctness; the skeleton is used for the
lifecycle contract alone. And unlike those serves, the plan carries its
own COPY of the merge list (collected once, n_merges-bounded — KBs), so
a mid-stream vocab rebuild cannot corrupt output even in principle.
The per-batch stamp probes exist for a different reason: a tokenizer
that silently keeps serving a SUPERSEDED vocab while every other
consumer picks up the new one produces mixed tokenizations across one
corpus — poison for a training pipeline where token counts, budgets and
packing all assume one tokenizer version. A vocab change mid-stream
therefore stops the stream loudly (restart serves the new vocab), the
same operational semantics as the NB serve.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_io_experimental_spark.operators.text import (
    _BPE_VOCAB,
    _bpe_vocab,
    _segment_with,
)
from hive_io_experimental_spark.streaming.similarity import (
    _serve_checked_stream,
)


def serve_bpe_segment_stream(
    spark: SparkSession,
    catalog,
    vocab_table: str,
    doc_stream: DataFrame,
    sink_fn,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Wire the online segmentation pipeline and return the (unstarted)
    DataStreamWriter. Output rows are (doc_id, n_words, n_bpe_tokens),
    row-identical to bpe_segment_from_vocab over the same closed input
    — the batch helper runs unchanged per micro-batch on the merge list
    collected at plan time (same literal-vs-Arrow dispatch).

    The stored vocab is fenced at plan time (bpe_load_vocab's
    empty/pre-stamp/mixed-stamp/partial-write refusals, in the same read
    that collects the merges) and re-fenced around every micro-batch
    pinned to the PLANNED build_id: a vocab rebuilt mid-stream stops the
    stream loudly — not because the output would be wrong (the plan
    owns its merges), but because silently serving a superseded
    tokenizer version mixes tokenizations across the corpus. Restart to
    serve the new vocab."""
    op = "serve_bpe_segment_stream"
    meta, merges = _bpe_vocab(spark, catalog, vocab_table, op)
    return _serve_checked_stream(
        spark, catalog, _BPE_VOCAB, vocab_table, meta["build_id"],
        doc_stream.select(F.col(id_col), F.col(text_col)),
        lambda batch_df: _segment_with(batch_df, merges, text_col, id_col),
        sink_fn, op,
        batch_hint="bpe_segment_from_vocab",
        taint_hint="may mix tokenizer versions",
    )

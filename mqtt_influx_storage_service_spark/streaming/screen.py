"""Streaming near-dup screen: the at-ingest dedup gate of a
training-data pipeline. Incoming document micro-batches are screened
against a static, pre-indexed corpus (MinHash band index + shingle
table) and matches land in a parquet hit log.

Runs as ``foreachBatch`` on purpose: the per-batch screen needs a
distinct + two verify joins, which plain streaming operators would
force into watermarked stateful form for no benefit — the corpus side
is STATIC (a campaign-scoped snapshot), so each micro-batch is an
independent bounded join. Exactly-once comes from the per-batch
overwrite directory (``sink.BatchDir``): batch <id> lands in
``<hits>/batch_id=<id>`` with mode overwrite, so a batch replayed after
a crash rewrites its own directory instead of appending twice. Readers
see ``batch_id`` as a discovered partition.

Scale notes: the corpus index is built once per campaign and persisted
(broadcast only the BATCH side — micro-batches are small; the corpus
band index is probed through an equi-join and, bucketed by band key on
disk, never reshuffled). Candidate volume is bounded by band collision
counts, same as dedup_minhash_lsh.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import (
    _corpus_window_index,
    _doc_shingles,
    _minhash_banded,
    _substring_kernel,
    near_dup_screen,
    substring_screen,
)
from .sink import BatchDir, start

DOC_STREAM_SCHEMA = "doc_id long, text string"


def start_near_dup_screen(
    spark: SparkSession,
    source_dir: str,
    index_sf_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Tail ``source_dir`` for parquet document batches, screen each
    micro-batch against the corpus at ``index_sf_dir``, write its hits
    (new_doc_id, corpus_doc_id, jaccard) to
    ``out_dir/near_dup_hits/batch_id=<id>``.

    The corpus shingle + band index builds once (persisted in the
    campaign cache under the tag ``shingles`` — release with
    ``cache.release`` when the campaign ends); each
    micro-batch pays only its own shingling plus collision-bounded
    joins.
    """
    corpus_shingles = _doc_shingles(spark, index_sf_dir)
    corpus_banded = _minhash_banded(spark, index_sf_dir)
    return start(
        spark.readStream.schema(DOC_STREAM_SCHEMA).parquet(source_dir),
        "near_dup_screen",
        os.path.join(checkpoint_dir, "screen"),
        BatchDir(
            os.path.join(out_dir, "near_dup_hits"),
            lambda batch: near_dup_screen(batch, corpus_shingles, corpus_banded),
        ),
        available_now,
    )


def start_substring_screen(
    spark: SparkSession,
    source_dir: str,
    index_sf_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """The EXACT-SPAN twin of :func:`start_near_dup_screen`
    (VERDICT r6 #6): each incoming micro-batch is screened against the
    corpus window-hash index, and every maximal ≥ SUBSTR_TOKENS-token
    span that appears verbatim in the corpus lands in
    ``out_dir/substring_hits/batch_id=<id>`` as (new_doc_id,
    span_start, span_len) — the span-removal input of a
    Lee-et-al-style ingest gate, so at-ingest screening covers exact
    substrings as well as MinHash bands.

    Same foreachBatch rationale as the near-dup screen: the corpus
    index is campaign-static (built once, persisted in the campaign
    cache under the tag ``window_index``), each batch is an
    independent bounded probe join, exactly-once via its per-batch
    overwrite directory. The batch and the index share one hash
    kernel (the corpus-size gate), pinned here once so a corpus that
    grows past the gate mid-campaign cannot split the two sides.
    """
    kernel = _substring_kernel(index_sf_dir)
    corpus_index = _corpus_window_index(spark, index_sf_dir)
    return start(
        spark.readStream.schema(DOC_STREAM_SCHEMA).parquet(source_dir),
        "substring_screen",
        os.path.join(checkpoint_dir, "substr_screen"),
        BatchDir(
            os.path.join(out_dir, "substring_hits"),
            lambda batch: substring_screen(batch, corpus_index, kernel),
        ),
        available_now,
    )


def start_dsir_screen(
    spark: SparkSession,
    source_dir: str,
    index_sf_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """The IMPORTANCE-WEIGHT member of the at-ingest screen family:
    each incoming micro-batch is scored against the frozen DSIR LLR
    model of the corpus at ``index_sf_dir`` (hashed unigram+bigram
    buckets → integer micro-unit log-likelihood ratios), and every
    doc's (doc_id, n_feats, logw) lands in
    ``out_dir/dsir_scores/batch_id=<id>`` — the in-flight form of the
    quality-domain selection gate that text_dsir_importance +
    pipeline_dsir_resample run as a batch campaign.

    Same foreachBatch rationale as the other screens: the model is
    campaign-static (DSIR_BUCKETS rows, broadcast per batch; the
    underlying counts persist in the campaign cache under the tag
    ``dsir``), each
    micro-batch is an independent bounded score join, exactly-once
    via its per-batch overwrite directory. The batch and the model
    share one bucket kernel (``textops._dsir_buckets``), so an
    at-ingest score equals the batch-campaign score bit-for-bit
    (pinned by tests/test_streaming.py).
    """
    from ..operators.textops import dsir_llr_model, dsir_score

    llr = dsir_llr_model(spark, index_sf_dir)
    return start(
        spark.readStream.schema(DOC_STREAM_SCHEMA).parquet(source_dir),
        "dsir_screen",
        os.path.join(checkpoint_dir, "dsir_screen"),
        BatchDir(
            os.path.join(out_dir, "dsir_scores"),
            lambda batch: dsir_score(batch, llr),
        ),
        available_now,
    )

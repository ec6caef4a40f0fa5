"""End-to-end training-data curation pipeline (Tier C capstone): the
query a user of this engine actually runs over a raw crawl before
pretraining — near-dup collapse to one representative per group,
quality gate, language identification, per-language token budget.

Composes the dedup and textops tiers the way a 100 TB campaign would:

- ONE scan of ``documents`` computes every row-local feature (quality
  features + per-language scores) in a two-step projection — no
  corpus-vs-corpus join for per-doc signals.
- The dup-group assignment arrives as a LEFT JOIN against the
  broadcast candidate-subgraph label table
  (:func:`..operators.dedup._component_labels`): candidate pairs are a
  tiny fraction of the corpus, so the corpus is never shuffled — the
  only wide operation is the final per-language aggregation over ~5
  groups (map-side combinable).

Reference parity: the reference service has no query engine; this is
the driver-mandated LLM-pipeline surface (SURVEY.md §2 Tier C), built
from the operators whose per-piece oracles already pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import campaign
from ..sources import load_table
from .dedup import _component_labels, _edges_cte
from .textops import (
    TEXT_DSIR_IMPORTANCE_SQL,
    text_dsir_importance,
    _GOPHER_FEATS_SQL,
    _GOPHER_KEEP_SQL,
    _LANGID_PRED_SQL,
    _LANGID_SCORE_SQL,
    QUALITY_KEEP_THRESHOLD,
    gopher_feature_cols,
    gopher_rule_exprs,
    langid_pred_expr,
    langid_score_cols,
    quality_feature_cols,
    quality_score_expr,
)


def _curated_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curated survivor set shared by the pipeline queries:
    (doc_id, n_tokens, quality_score, predicted_lang) for docs that are
    their dup group's representative AND pass the quality gate. One
    corpus scan + one broadcast label join.

    Persisted once per (app, sf_dir) under the campaign tag ``curated``:
    the three selection queries (training_mix / token_budget / epochs)
    all start from this identical relation, and each uncached consumer
    re-ran the quality + langid feature scan and the label assignment
    join (r14, guide §2.4: two operations keyed the same way share one
    evaluation) — at 100 TB this is the campaign idiom of materializing
    the curated survivor set once before the selection passes. The
    three queries declare the tag cold (``operators.COLD_TAGS``) so
    their timed reps measure the cold plan."""
    return campaign(
        spark, "curated", sf_dir, lambda: _curated_survivors(spark, sf_dir)
    )


def _curated_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    feats = docs.select(
        "doc_id",
        *quality_feature_cols(),
        *langid_score_cols(),
    ).select(
        "doc_id",
        "n_tokens",
        quality_score_expr().alias("quality_score"),
        langid_pred_expr().alias("predicted_lang"),
    )
    labels = _component_labels(spark, sf_dir)
    # shuffle-hash, labels as build side (r9 broadcast census): labels
    # is dup-subgraph-node-sized — corpus-scale on dup-heavy corpora —
    # so a forced broadcast is the shingle-verify driver-kill class;
    # see dedup_components' assignment join for the full argument
    return (
        feats.join(labels.hint("shuffle_hash"), "doc_id", "left_outer")
        .filter(F.coalesce("label", "doc_id") == F.col("doc_id"))
        .filter(F.col("quality_score") >= QUALITY_KEEP_THRESHOLD)
        .select("doc_id", "n_tokens", "quality_score", "predicted_lang")
        .persist()
    )


def pipeline_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus mix AFTER curation: keep each dup group's
    representative (min doc_id over the near-dup transitive closure),
    drop low-quality docs, roll up document/token/char counts and the
    mean quality score by predicted language.

    Order of gates — dedup first, then quality — is deliberate: the
    representative is chosen by stable min-id, not by quality, so the
    survivor set is insensitive to quality-model drift (re-scoring
    never changes WHICH member represents a group, only whether the
    group survives), and the group collapse can be computed once and
    reused across quality-threshold sweeps.

    Determinism: mean quality is computed in integer arithmetic —
    quality_score is an exact 7-decimal quantity, so
    ``sum(round(q*1e7)::long) / (n*1e7)`` is exact in both engines.
    """
    survivors = _curated_docs(spark, sf_dir)
    scaled_q = F.round(F.col("quality_score") * 1e7).cast("long")
    return survivors.groupBy("predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.sum(scaled_q) / (F.count(F.lit(1)) * 1e7), 7).alias(
            "avg_quality"
        ),
    )


# Shared survivors CTE chain (appended after the recursive edges CTE).
_SURVIVORS_CTE_SQL = f""", feats AS (
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           round(len(list_distinct(string_split(text, ' ')))
                 / len(string_split(text, ' ')), 6) AS distinct_ratio,
           round(list_reduce(list_prepend(0, list_transform(
                     string_split(text, ' '), t -> length(t))),
                     (a, b) -> a + b)
                 / len(string_split(text, ' ')), 6) AS avg_token_len,
           text
    FROM documents
), scored AS (
    SELECT doc_id, n_tokens,
           round(round(ln(n_tokens), 6) * 0.3 + distinct_ratio * 0.5
                 + round(avg_token_len / 10, 7) * 0.2, 7) AS quality_score,
           text
    FROM feats
), langid AS (
    SELECT doc_id, {_LANGID_PRED_SQL} AS predicted_lang
    FROM (SELECT doc_id,
{_LANGID_SCORE_SQL}
          FROM documents)
), survivors AS (
    SELECT s.doc_id, s.n_tokens, s.quality_score, l.predicted_lang
    FROM scored s
    JOIN comp c ON c.doc_id = s.doc_id
    JOIN langid l ON l.doc_id = s.doc_id
    WHERE c.component_id = s.doc_id
      AND s.quality_score >= {QUALITY_KEEP_THRESHOLD}
)
"""

PIPELINE_TRAINING_MIX_SQL = f"""
WITH RECURSIVE {_edges_cte()}{_SURVIVORS_CTE_SQL}
SELECT predicted_lang,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(sum(CAST(round(quality_score * 10000000) AS BIGINT))
             / (count(*) * 10000000.0), 7) AS avg_quality
FROM survivors
GROUP BY predicted_lang
"""


# Per-language token budget for the greedy selection query. Sized so
# the cut bites at the oracle scale (sf0.01 survivors carry ~2-4k
# tokens per language) without emptying any language.
TOKEN_BUDGET = 1500


def pipeline_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget selection: within each predicted language,
    take curated docs in (quality DESC, doc_id) order while the
    running token total stays within TOKEN_BUDGET — the final
    "fill each language's share of the training mix with the best
    documents" step of a curation campaign.

    The exact formulation is a per-language window cumsum (one shuffle
    by language; the running sum is computed in integer token counts,
    so both engines agree exactly). At 100 TB a total order per
    language is the wrong physical plan — the production path finds
    the quality CUTOFF via approx quantiles on the (tiny) per-quality
    token histogram and filters, touching the corpus once with no
    global sort; the window form here is the semantics those two
    passes must reproduce.
    """
    survivors = _curated_docs(spark, sf_dir)
    w = (
        Window.partitionBy("predicted_lang")
        .orderBy(F.desc("quality_score"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        survivors.withColumn(
            "cum_tokens", F.sum("n_tokens").over(w).cast("long")
        )
        .filter(F.col("cum_tokens") <= TOKEN_BUDGET)
        .select(
            "doc_id", "predicted_lang", "n_tokens", "quality_score", "cum_tokens"
        )
    )


PIPELINE_TOKEN_BUDGET_SQL = f"""
WITH RECURSIVE {_edges_cte()}{_SURVIVORS_CTE_SQL}, ranked AS (
    SELECT doc_id, predicted_lang, n_tokens, quality_score,
           CAST(sum(n_tokens) OVER (
               PARTITION BY predicted_lang
               ORDER BY quality_score DESC, doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
    FROM survivors
)
SELECT doc_id, predicted_lang, n_tokens, quality_score, cum_tokens
FROM ranked WHERE cum_tokens <= {TOKEN_BUDGET}
"""


# --------------------------------------------------------------------------
# Data-constrained epoch allocation (repeat data when unique tokens run out)
# --------------------------------------------------------------------------

# Muennighoff et al. 2023 ("Scaling Data-Constrained Language Models"):
# repeating a corpus up to ~4 epochs costs almost nothing vs fresh
# data; past that, returns decay to zero. EPOCH_BUDGET is sized so the
# sf0.01 survivor pools (~2-4k tokens/language) land BELOW the budget —
# exercising whole-corpus repetition — while the cap still bites on the
# smaller sf0.001 pools.
EPOCH_CAP = 4
EPOCH_BUDGET = 6000


def pipeline_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language epoch allocator for a token budget that may EXCEED
    the unique survivor pool: every survivor doc gets
    ``base = min(EPOCH_CAP, budget // unique_tokens)`` full epochs, and
    the remaining budget is filled with ONE extra epoch of the
    quality-ranked prefix (the same greedy window as
    ``pipeline_token_budget``). Guarantees Σ tokens_contributed ≤
    budget and n_epochs ≤ EPOCH_CAP per language — both test-pinned.

    Scale shape: the per-language unique-pool rollup collapses to
    |languages| rows and broadcasts back; the only corpus-sized wide op
    is the same per-language quality window as the budget query (and
    the same quantile-cutoff two-pass replaces it at 100 TB). All
    arithmetic after one exact floor-division is integer.
    """
    survivors = _curated_docs(spark, sf_dir)
    # The per-language unique pool is a window total over the SAME
    # partitioning as the quality cumsum — one shuffle, and the curated
    # subtree (label propagation + feature scan) is evaluated once, not
    # twice (a groupBy+join formulation re-ran the whole subtree for
    # the pool side: 3.0 s -> 1.2 s at sf0.1).
    wlang = Window.partitionBy("predicted_lang")
    base = F.least(
        F.lit(EPOCH_CAP).cast("long"),
        F.expr(f"CAST({EPOCH_BUDGET} AS BIGINT) div unique_tokens"),
    )
    w = (
        Window.partitionBy("predicted_lang")
        .orderBy(F.desc("quality_score"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    alloc = (
        survivors.withColumn(
            "unique_tokens", F.sum("n_tokens").over(wlang).cast("long")
        )
        .withColumn("base_epochs", base)
        .withColumn(
            "rem_budget",
            F.when(
                F.col("base_epochs") < EPOCH_CAP,
                F.lit(EPOCH_BUDGET) - F.col("base_epochs") * F.col("unique_tokens"),
            ).otherwise(F.lit(0)),
        )
        .withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("long"))
        .withColumn(
            "n_epochs",
            (
                F.col("base_epochs")
                + F.when(F.col("cum_tokens") <= F.col("rem_budget"), 1).otherwise(0)
            ).cast("long"),
        )
        .filter(F.col("n_epochs") >= 1)
    )
    return alloc.select(
        "doc_id",
        "predicted_lang",
        "n_tokens",
        "quality_score",
        "n_epochs",
        (F.col("n_epochs") * F.col("n_tokens")).alias("tokens_contributed"),
    )


PIPELINE_EPOCHS_SQL = f"""
WITH RECURSIVE {{edges}}{{survivors}}, alloc AS (
    SELECT doc_id, predicted_lang, n_tokens, quality_score,
           least(CAST({EPOCH_CAP} AS BIGINT),
                 CAST(floor({float(EPOCH_BUDGET)!r}
                      / CAST(sum(n_tokens) OVER (
                            PARTITION BY predicted_lang) AS BIGINT))
                      AS BIGINT)) AS base_epochs,
           CAST(sum(n_tokens) OVER (PARTITION BY predicted_lang)
                AS BIGINT) AS unique_tokens,
           CAST(sum(n_tokens) OVER (
               PARTITION BY predicted_lang
               ORDER BY quality_score DESC, doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
    FROM survivors
), epochs AS (
    SELECT doc_id, predicted_lang, n_tokens, quality_score,
           base_epochs
           + CASE WHEN cum_tokens <= (CASE WHEN base_epochs < {EPOCH_CAP}
                       THEN {EPOCH_BUDGET} - base_epochs * unique_tokens
                       ELSE 0 END)
                  THEN 1 ELSE 0 END AS n_epochs
    FROM alloc
)
SELECT doc_id, predicted_lang, n_tokens, quality_score, n_epochs,
       n_epochs * n_tokens AS tokens_contributed
FROM epochs WHERE n_epochs >= 1
""".format(edges=_edges_cte(), survivors=_SURVIVORS_CTE_SQL)


# --------------------------------------------------------------------------
# Sequence packing (concat-and-chunk) via a scalable two-level prefix sum
# --------------------------------------------------------------------------

SEQ_LEN = 512          # tokens per packed training sequence
PACK_BUCKET = 1000     # doc_ids per prefix-sum bucket (and recursion cap)


def _exclusive_prefix_offsets(
    rel: DataFrame,
    key: str,
    val: str,
    n_keys: int,
    cap: int = PACK_BUCKET,
    _depth: int = 0,
) -> DataFrame:
    """Exclusive prefix sum of ``val`` over ascending ``key`` —
    ``(key, offset)`` with offset = Σ val over all smaller keys — with
    NO window over a relation larger than ``cap`` rows (VERDICT r3
    watch-item: the single cross-bucket window was the last
    single-task term in the suite).

    When the relation exceeds ``cap``, keys fold into super-buckets of
    ``cap`` keys each: the intra-super-bucket cumsum runs partitioned
    (parallel), and the super-bucket totals — a relation 1/cap the
    size — recurse. Depth is ceil(log_cap(n_keys)) levels, each one
    narrow shuffle + one broadcast back; the recursion bottoms out in
    the single ≤cap-row ordered window, the only SinglePartition
    exchange in the plan (pinned in tests/test_plans.py). ``n_keys``
    is a construction-time UPPER BOUND (parquet footer / lakehouse
    statistics, no Spark job), so the plan stays static and lazy; an
    over-estimate only adds a cheap extra level.
    """
    if n_keys <= cap:
        w = Window.orderBy(key).rowsBetween(Window.unboundedPreceding, -1)
        return rel.select(
            key, F.coalesce(F.sum(val).over(w), F.lit(0)).alias("offset")
        )
    # depth-unique working names: at depth d the key IS the previous
    # level's super-bucket column, so a fixed "_sb" would overwrite it
    sb = f"_sb{_depth}"
    sup = rel.withColumn(sb, F.floor(F.col(key) / cap))
    w_intra = (
        Window.partitionBy(sb)
        .orderBy(key)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    intra = sup.withColumn(
        "_intra", F.coalesce(F.sum(val).over(w_intra), F.lit(0))
    )
    sup_tot = sup.groupBy(sb).agg(F.sum(val).alias("_tot"))
    sup_off = _exclusive_prefix_offsets(
        sup_tot, sb, "_tot", -(-n_keys // cap), cap, _depth + 1
    ).withColumnRenamed("offset", "_sb_offset")
    return (
        intra.join(F.broadcast(sup_off), sb)
        .select(key, (F.col("_sb_offset") + F.col("_intra")).alias("offset"))
    )


def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: documents concatenated in
    doc_id order and split every SEQ_LEN tokens — for each doc, its
    global token offset and the first/last training sequence it lands
    in (how a pretraining loader actually packs a corpus).

    The global exclusive prefix sum is computed WITHOUT a global-order
    window (which would funnel 100 TB through one task): docs fold into
    PACK_BUCKET-sized doc_id buckets, each bucket cumsums locally
    (window partitioned by bucket), and the bucket totals take a
    RECURSIVE prefix sum (:func:`_exclusive_prefix_offsets`) that
    bounds every window at PACK_BUCKET rows no matter the corpus size
    — at 10^10 docs the bucket relation (10^7 rows) recurses one more
    level instead of crossing a single task. Bucket count is sized
    from parquet column statistics (max doc_id — a metadata read, the
    lakehouse-statistics idiom), falling back to the row count as a
    conservative bound; no driver-side Spark job, fully lazy.
    """
    from ..sources import table_column_max, table_row_count

    try:
        n_buckets = (
            int(table_column_max(sf_dir, "documents", "doc_id")) // PACK_BUCKET + 1
        )
    except (ValueError, KeyError):
        n_buckets = table_row_count(sf_dir, "documents")
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        F.floor(F.col("doc_id") / PACK_BUCKET).alias("bucket"),
    )
    w_intra = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    intra = d.withColumn(
        "intra", F.coalesce(F.sum("n_tokens").over(w_intra), F.lit(0))
    )
    offsets = _exclusive_prefix_offsets(
        d.groupBy("bucket").agg(F.sum("n_tokens").alias("bucket_tokens")),
        "bucket",
        "bucket_tokens",
        n_buckets,
    ).withColumnRenamed("offset", "bucket_offset")
    start = F.col("bucket_offset") + F.col("intra")
    last_tok = start + F.col("n_tokens") - 1
    return (
        intra.join(F.broadcast(offsets), "bucket")
        .select(
            "doc_id",
            "n_tokens",
            start.cast("long").alias("start_offset"),
            F.floor(start / SEQ_LEN).cast("long").alias("first_seq"),
            F.floor(last_tok / SEQ_LEN).cast("long").alias("last_seq"),
            (F.floor(last_tok / SEQ_LEN) - F.floor(start / SEQ_LEN) + 1)
            .cast("long")
            .alias("n_seqs"),
        )
    )


PIPELINE_PACK_SEQUENCES_SQL = f"""
WITH d AS (
    SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
), c AS (
    SELECT doc_id, n_tokens,
           CAST(coalesce(sum(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS start_offset
    FROM d
)
SELECT doc_id, n_tokens, start_offset,
       CAST(floor(start_offset / {SEQ_LEN}) AS BIGINT) AS first_seq,
       CAST(floor((start_offset + n_tokens - 1) / {SEQ_LEN}) AS BIGINT)
           AS last_seq,
       CAST(floor((start_offset + n_tokens - 1) / {SEQ_LEN})
            - floor(start_offset / {SEQ_LEN}) + 1 AS BIGINT) AS n_seqs
FROM c
"""


# --------------------------------------------------------------------------
# Stratified reproducible sampling (per-language quota by hash order)
# --------------------------------------------------------------------------

SAMPLE_BUDGET = 200    # total docs across all strata
# LCG over doc_id — a seedable, engine-portable stand-in for rand():
# identical integers in Spark and DuckDB, so the sample is reproducible
# across engines and runs (the property `rand()` cannot give).
_LCG_A = 1103515245
_LCG_C = 12345
_LCG_M = 2147483648


def pipeline_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus downsample: an equal per-language quota of
    SAMPLE_BUDGET total docs, members chosen by deterministic LCG-hash
    order (reproducible 'random' — the seed is the formula). The
    rebalancing step a curation campaign runs to pin a target language
    mix before training.

    One window per stratum (shuffle by lang) over hash rank; the quota
    derives from a 1-row distinct-count aggregate broadcast onto every
    row — fully lazy, no driver-side count. Integer ceil-division for
    the quota: no float thresholds anywhere.
    """
    # No rebalance (r14): constant-time LCG arithmetic straight into
    # the hash(lang) window exchange — see pipeline_domain_quota.
    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id",
        "lang",
        ((F.col("doc_id") * _LCG_A + _LCG_C) % _LCG_M).alias("hkey"),
    )
    k = docs.select(
        F.countDistinct("lang").alias("n_strata")
    )  # 1 row, broadcast below
    w = Window.partitionBy("lang").orderBy("hkey", "doc_id")
    ranked = hashed.withColumn(
        "sample_rank", F.row_number().over(w).cast("long")
    )
    quota = F.floor(
        (F.lit(SAMPLE_BUDGET) + F.col("n_strata") - 1) / F.col("n_strata")
    )
    return (
        ranked.crossJoin(F.broadcast(k))
        .filter(F.col("sample_rank") <= quota)
        .select(
            "doc_id", "lang", "sample_rank", quota.cast("long").alias("quota")
        )
    )


PIPELINE_STRATIFIED_SAMPLE_SQL = f"""
WITH h AS (
    SELECT doc_id, lang,
           (doc_id * {_LCG_A} + {_LCG_C}) % {_LCG_M} AS hkey
    FROM documents
), k AS (
    SELECT count(DISTINCT lang) AS n_strata FROM documents
), r AS (
    SELECT doc_id, lang, hkey,
           CAST(row_number() OVER (PARTITION BY lang ORDER BY hkey, doc_id)
                AS BIGINT) AS sample_rank
    FROM h
)
SELECT doc_id, lang, sample_rank,
       CAST(floor(({SAMPLE_BUDGET} + n_strata - 1) / n_strata) AS BIGINT)
           AS quota
FROM r, k
WHERE sample_rank <= floor(({SAMPLE_BUDGET} + n_strata - 1) / n_strata)
"""


# No single web domain may contribute more than this fraction of the
# corpus — the C4/Gopher-style domain-quota guard against one crawl
# host dominating the mix. Scale-invariant: the absolute cap derives
# from the corpus size lazily (1-row count broadcast, no driver count).
DOMAIN_FRAC = 0.03


def pipeline_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain contribution cap: each ``source`` keeps at most
    ceil(DOMAIN_FRAC x corpus) documents, chosen longest-first
    (n_chars DESC, doc_id tiebreak — the keep-the-substantive-pages
    heuristic); the rest are dropped. The anti-domination guard every
    web-scale curation campaign runs between dedup and mixing
    (C4 keeps >=3-sentence pages per host, Gopher caps per-domain
    share; same shape here with an explicit fraction).

    Plan: one window per domain (shuffle by source) over the length
    rank; the cap is a 1-row total-count aggregate broadcast onto every
    row — fully lazy, integer ceil-division, no float thresholds.
    Emits kept rows with their rank, the domain's size, and the cap —
    the audit a curation report needs to show WHICH domains were
    clipped.
    """
    # No rebalance (r14): the window side projects raw columns into the
    # hash(source) exchange and the total side is a count aggregate —
    # the round-robin repartition stacked a second full-corpus shuffle
    # under them for zero distribution benefit at any scale.
    docs = load_table(spark, sf_dir, "documents")
    total = docs.select(F.count(F.lit(1)).alias("n_total"))  # 1 row
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    ranked = docs.select("doc_id", "source", "n_chars").withColumn(
        "domain_rank", F.row_number().over(w).cast("long")
    ).withColumn(
        "n_domain",
        F.count(F.lit(1)).over(Window.partitionBy("source")).cast("long"),
    )
    cap = F.ceil(F.lit(DOMAIN_FRAC) * F.col("n_total")).cast("long")
    return (
        ranked.crossJoin(F.broadcast(total))
        .filter(F.col("domain_rank") <= cap)
        .select(
            "doc_id",
            "source",
            "domain_rank",
            "n_domain",
            cap.alias("domain_cap"),
        )
    )


PIPELINE_DOMAIN_QUOTA_SQL = f"""
WITH t AS (
    SELECT count(*) AS n_total FROM documents
), r AS (
    SELECT doc_id, source,
           CAST(row_number() OVER (PARTITION BY source
                                   ORDER BY n_chars DESC, doc_id)
                AS BIGINT) AS domain_rank,
           CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_domain
    FROM documents
)
SELECT doc_id, source, domain_rank, n_domain,
       CAST(ceil({DOMAIN_FRAC} * n_total) AS BIGINT) AS domain_cap
FROM r, t
WHERE domain_rank <= ceil({DOMAIN_FRAC} * n_total)
"""


PRUNE_KEEP_FRAC = 0.7


def pipeline_quality_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quality-percentile prune: each ``source`` keeps its
    top ceil(PRUNE_KEEP_FRAC x n_domain) documents by composite quality
    score (DataComp-LM-style model-score pruning, with the repo's
    deterministic heuristic score standing in for the fastText
    classifier). Pruning WITHIN each domain — rather than one global
    cutoff — keeps a high-quality-on-average domain from crowding out
    the long tail, the same reasoning as the per-domain quota.

    Plan: the score is row-local (one scan, two-step projection — see
    quality_score_expr), then ONE window shuffle keyed by source for
    the exact per-domain rank; integer ceil-division cap, no float
    thresholds. At 100 TB a skewed mega-domain serializes its window
    partition — :func:`pipeline_quality_prune_approx` is the
    registered production twin (per-domain percentile_approx cutoff;
    two scans, zero windows); the exact-rank form stays the
    oracle-hashed entry because its semantics are hashable and the
    fixtures' domains are balanced.
    """
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    scored = docs.select(
        "doc_id", "source", *quality_feature_cols()
    ).withColumn("quality_score", quality_score_expr())
    w = Window.partitionBy("source").orderBy(
        F.col("quality_score").desc(), F.col("doc_id")
    )
    ranked = (
        scored.select("doc_id", "source", "quality_score")
        .withColumn("prune_rank", F.row_number().over(w).cast("long"))
        .withColumn(
            "n_domain",
            F.count(F.lit(1))
            .over(Window.partitionBy("source"))
            .cast("long"),
        )
    )
    cap = F.ceil(F.lit(PRUNE_KEEP_FRAC) * F.col("n_domain")).cast("long")
    return ranked.filter(F.col("prune_rank") <= cap).select(
        "doc_id",
        "source",
        "quality_score",
        "prune_rank",
        "n_domain",
        cap.alias("domain_keep"),
    )


PIPELINE_QUALITY_PRUNE_SQL = f"""
WITH feats AS (
    SELECT doc_id, source,
           len(string_split(text, ' ')) AS n_tokens,
           round(len(list_distinct(string_split(text, ' ')))
                 / len(string_split(text, ' ')), 6) AS distinct_ratio,
           round(list_reduce(list_prepend(0, list_transform(
                     string_split(text, ' '), t -> length(t))),
                     (a, b) -> a + b)
                 / len(string_split(text, ' ')), 6) AS avg_token_len
    FROM documents
), scored AS (
    SELECT doc_id, source,
           round(round(ln(n_tokens), 6) * 0.3 + distinct_ratio * 0.5
                 + round(avg_token_len / 10, 7) * 0.2, 7) AS quality_score
    FROM feats
), r AS (
    SELECT doc_id, source, quality_score,
           CAST(row_number() OVER (PARTITION BY source
                                   ORDER BY quality_score DESC, doc_id)
                AS BIGINT) AS prune_rank,
           CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_domain
    FROM scored
)
SELECT doc_id, source, quality_score, prune_rank, n_domain,
       CAST(ceil({PRUNE_KEEP_FRAC} * n_domain) AS BIGINT) AS domain_keep
FROM r
WHERE prune_rank <= ceil({PRUNE_KEEP_FRAC} * n_domain)
"""


# percentile_approx sketch resolution for the skew-safe prune twin.
# 10_000 is Spark's default accuracy; at that setting the rank error
# is bounded by n_domain / 10_000, i.e. <=0.01% of a domain — far
# inside the tolerance the twin promises.
PRUNE_APPROX_ACCURACY = 10_000


def pipeline_quality_prune_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100-TB (skew-safe) twin of :func:`pipeline_quality_prune`
    (VERDICT r7 'Next round' #4): same DCLM-style per-domain pruning
    semantics, but the exact per-domain RANK window — which serializes
    a mega-domain into one task, 2.6-3x hot-task floors in
    STRESS_r07 — is replaced by a per-domain score CUTOFF from
    ``percentile_approx``.

    Plan: two scans, ZERO windows. Scan 1 is a map-side-combinable
    hash aggregate (groupBy source -> approx-percentile sketch +
    count); sketches merge associatively, so a domain holding half the
    corpus still reduces through partial aggregation instead of
    sorting in one partition. The ~5-row cutoff table is broadcast
    back onto scan 2's row-local filter. Keeps every doc whose score
    clears its domain's (1 - PRUNE_KEEP_FRAC) quantile.

    Registered rows-only BY NATURE: the cutoff comes from Spark's
    GK-sketch ``percentile_approx``, which no other engine reproduces
    bit-for-bit (same stance as ``rel_sketches``). The exact-rank form
    stays the oracle-hashed entry; this twin is tolerance-tested
    against it in pytest (kept-set symmetric difference bounded) and
    carries the skewed-domain stress row showing the hot-task floor is
    gone.
    """
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    scored = docs.select(
        "doc_id", "source", *quality_feature_cols()
    ).withColumn("quality_score", quality_score_expr()).select(
        "doc_id", "source", "quality_score"
    )
    cutoffs = scored.groupBy("source").agg(
        F.percentile_approx(
            "quality_score",
            F.lit(1.0 - PRUNE_KEEP_FRAC),
            F.lit(PRUNE_APPROX_ACCURACY),
        ).alias("score_cutoff"),
        F.count(F.lit(1)).cast("long").alias("n_domain"),
    )
    return (
        scored.join(F.broadcast(cutoffs), "source")
        .filter(F.col("quality_score") >= F.col("score_cutoff"))
        .select(
            "doc_id", "source", "quality_score", "score_cutoff", "n_domain"
        )
    )


def pipeline_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic round-robin interleave across sources — the
    training-order shuffle that keeps any one source from clumping in
    a data epoch (per-source streams are drained one doc at a time in
    source order). Emits a total order ``interleave_pos`` =
    (round − 1) · n_sources + source_idx.

    Scale shape: ONE corpus shuffle (the per-source row_number
    window); the source→index map and the source count are
    vocabulary-sized aggregates broadcast back — no global window over
    the corpus, so the total order is assigned without ever sorting
    the corpus in one partition. Deterministic order within a source =
    LCG hash of doc_id (reproducible shuffle, same trick as
    pipeline_stratified_sample).
    """
    # No rebalance (r14): constant-time LCG arithmetic straight into
    # the hash(source) window exchange — see pipeline_domain_quota.
    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id",
        "source",
        ((F.col("doc_id") * _LCG_A + _LCG_C) % _LCG_M).alias("hkey"),
    )
    w = Window.partitionBy("source").orderBy("hkey", "doc_id")
    rounds = hashed.withColumn("round", F.row_number().over(w).cast("long"))
    # source → ordinal: a vocabulary-sized window (n_sources rows).
    src_dim = (
        docs.select("source")
        .distinct()
        .withColumn(
            "source_idx",
            F.row_number().over(Window.orderBy("source")).cast("long"),
        )
    )
    n_src = docs.select(F.countDistinct("source").alias("n_sources"))
    return (
        rounds.join(F.broadcast(src_dim), "source")
        .crossJoin(F.broadcast(n_src))
        .select(
            "doc_id",
            "source",
            "round",
            "source_idx",
            ((F.col("round") - 1) * F.col("n_sources") + F.col("source_idx"))
            .cast("long")
            .alias("interleave_pos"),
        )
    )


PIPELINE_INTERLEAVE_SQL = f"""
WITH h AS (
    SELECT doc_id, source,
           (doc_id * {_LCG_A} + {_LCG_C}) % {_LCG_M} AS hkey
    FROM documents
), r AS (
    SELECT doc_id, source,
           CAST(row_number() OVER (PARTITION BY source ORDER BY hkey, doc_id)
                AS BIGINT) AS round
    FROM h
), s AS (
    SELECT source,
           CAST(row_number() OVER (ORDER BY source) AS BIGINT) AS source_idx
    FROM (SELECT DISTINCT source FROM documents)
), n AS (
    SELECT count(DISTINCT source) AS n_sources FROM documents
)
SELECT r.doc_id, r.source, r.round, s.source_idx,
       CAST((r.round - 1) * n.n_sources + s.source_idx AS BIGINT)
           AS interleave_pos
FROM r JOIN s USING (source) CROSS JOIN n
"""


# --------------------------------------------------------------------------
# Per-document curation audit: every gate's verdict + first-failing reason
# --------------------------------------------------------------------------

def pipeline_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document audit trail of the curation gates — the view a data
    engineer inspects to answer "why was this document dropped?".

    Gates in pipeline order, ``drop_reason`` = first failure:
      1. ``exact_duplicate`` — not the min-doc_id holder of its text
      2. ``gopher_rules``    — fails the published rule-based filter
      3. ``low_quality``     — composite score under the keep threshold
      4. ``lang_mismatch``   — language-ID disagrees with the label
    (`pipeline_training_mix` is the aggregate twin of this view; here
    every document survives into the output with its verdict.)

    Scale: one corpus scan; the only shuffle is the exact-dup window
    keyed by full text — the same key `dedup_exact` groups on, skew-
    bounded because identical-text groups are duplicate clusters.
    """
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    w = Window.partitionBy("text").orderBy("doc_id")
    feats = docs.select(
        "doc_id",
        "lang",
        "source",
        F.row_number().over(w).alias("dup_rn"),
        *quality_feature_cols(),
        *gopher_feature_cols(),
        *langid_score_cols(),
    )
    rules = gopher_rule_exprs()
    gopher_keep = rules["rule_word_count"]
    for name in list(rules)[1:]:
        gopher_keep = gopher_keep & rules[name]
    scored = feats.select(
        "doc_id",
        "lang",
        "source",
        "n_tokens",
        (F.col("dup_rn") == 1).alias("is_representative"),
        gopher_keep.alias("gopher_keep"),
        quality_score_expr().alias("quality_score"),
        langid_pred_expr().alias("predicted_lang"),
    )
    quality_keep = F.col("quality_score") >= F.lit(QUALITY_KEEP_THRESHOLD)
    lang_match = F.col("predicted_lang") == F.col("lang")
    keep = (
        F.col("is_representative")
        & F.col("gopher_keep")
        & quality_keep
        & lang_match
    )
    reason = (
        F.when(~F.col("is_representative"), F.lit("exact_duplicate"))
        .when(~F.col("gopher_keep"), F.lit("gopher_rules"))
        .when(~quality_keep, F.lit("low_quality"))
        .when(~lang_match, F.lit("lang_mismatch"))
        .otherwise(F.lit("kept"))
    )
    return scored.select(
        "doc_id",
        "lang",
        "source",
        "predicted_lang",
        "n_tokens",
        "quality_score",
        "is_representative",
        "gopher_keep",
        quality_keep.alias("quality_keep"),
        lang_match.alias("lang_match"),
        keep.alias("keep"),
        reason.alias("drop_reason"),
    )


PIPELINE_QUALITY_GATE_SQL = f"""
WITH feats AS (
    SELECT doc_id, lang, source,
           row_number() OVER (PARTITION BY text ORDER BY doc_id) AS dup_rn,
           len(string_split(text, ' ')) AS n_tokens,
           round(len(list_distinct(string_split(text, ' ')))
                 / len(string_split(text, ' ')), 6) AS distinct_ratio,
           round(list_reduce(list_prepend(0, list_transform(
                     string_split(text, ' '), t -> length(t))),
                     (a, b) -> a + b)
                 / len(string_split(text, ' ')), 6) AS avg_token_len,
           {_GOPHER_FEATS_SQL},
{_LANGID_SCORE_SQL}
    FROM documents
), scored AS (
    SELECT doc_id, lang, source, n_tokens,
           dup_rn = 1 AS is_representative,
           {_GOPHER_KEEP_SQL} AS gopher_keep,
           round(round(ln(n_tokens), 6) * 0.3 + distinct_ratio * 0.5
                 + round(avg_token_len / 10, 7) * 0.2, 7) AS quality_score,
           {_LANGID_PRED_SQL} AS predicted_lang
    FROM feats
)
SELECT doc_id, lang, source, predicted_lang, n_tokens, quality_score,
       is_representative, gopher_keep,
       quality_score >= {QUALITY_KEEP_THRESHOLD} AS quality_keep,
       predicted_lang = lang AS lang_match,
       is_representative AND gopher_keep
           AND quality_score >= {QUALITY_KEEP_THRESHOLD}
           AND predicted_lang = lang AS keep,
       CASE WHEN NOT is_representative THEN 'exact_duplicate'
            WHEN NOT gopher_keep THEN 'gopher_rules'
            WHEN quality_score < {QUALITY_KEEP_THRESHOLD} THEN 'low_quality'
            WHEN predicted_lang <> lang THEN 'lang_mismatch'
            ELSE 'kept' END AS drop_reason
FROM scored
"""


def pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The attrition funnel a curation campaign reports: for each gate
    in pipeline order (exact dedup → Gopher rules → quality score →
    language-ID), how many documents entered, survived, dropped, and
    how many tokens remain — the governance summary every dataset card
    publishes (`pipeline_quality_gate` is the per-document view this
    aggregates; docs_in of each stage = docs_out of the previous).

    Plan: the gate view's one corpus scan + one 1-row conditional
    aggregate, reshaped into four stage rows by an inline-array explode
    — nothing stage-shaped is shuffled."""
    g = pipeline_quality_gate(spark, sf_dir)
    s1 = F.col("is_representative")
    s2 = s1 & F.col("gopher_keep")
    s3 = s2 & F.col("quality_keep")
    s4 = s3 & F.col("lang_match")
    one = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    tok = lambda c: F.sum(F.when(c, F.col("n_tokens")).otherwise(0)).cast("long")  # noqa: E731
    agg = g.agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        one(s1).alias("n1"),
        one(s2).alias("n2"),
        one(s3).alias("n3"),
        one(s4).alias("n4"),
        tok(s1).alias("t1"),
        tok(s2).alias("t2"),
        tok(s3).alias("t3"),
        tok(s4).alias("t4"),
    )
    stages = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("stage_idx"),
                F.lit(name).alias("stage"),
                F.col(f"n{i - 1}").alias("docs_in"),
                F.col(f"n{i}").alias("docs_out"),
                (F.col(f"n{i - 1}") - F.col(f"n{i}")).alias("docs_dropped"),
                F.col(f"t{i}").alias("tokens_out"),
            )
            for i, name in enumerate(
                ["exact_dedup", "gopher_rules", "quality_score", "langid"],
                start=1,
            )
        ]
    )
    return (
        agg.select(F.explode(stages).alias("s"))
        .select("s.*")
        .orderBy("stage_idx")
    )


PIPELINE_FUNNEL_SQL = f"""
WITH gate AS (
    {PIPELINE_QUALITY_GATE_SQL.replace(chr(10), chr(10) + '    ')}
), agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n0,
           CAST(sum(CASE WHEN is_representative THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(sum(CASE WHEN is_representative AND gopher_keep
                    THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           CAST(sum(CASE WHEN is_representative AND gopher_keep
                    AND quality_keep THEN 1 ELSE 0 END) AS BIGINT) AS n3,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n4,
           CAST(sum(CASE WHEN is_representative
                    THEN n_tokens ELSE 0 END) AS BIGINT) AS t1,
           CAST(sum(CASE WHEN is_representative AND gopher_keep
                    THEN n_tokens ELSE 0 END) AS BIGINT) AS t2,
           CAST(sum(CASE WHEN is_representative AND gopher_keep
                    AND quality_keep THEN n_tokens ELSE 0 END) AS BIGINT) AS t3,
           CAST(sum(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT) AS t4
    FROM gate
)
SELECT * FROM (
    SELECT CAST(1 AS BIGINT) AS stage_idx, 'exact_dedup' AS stage,
           n0 AS docs_in, n1 AS docs_out, n0 - n1 AS docs_dropped,
           t1 AS tokens_out FROM agg
    UNION ALL
    SELECT 2, 'gopher_rules', n1, n2, n1 - n2, t2 FROM agg
    UNION ALL
    SELECT 3, 'quality_score', n2, n3, n2 - n3, t3 FROM agg
    UNION ALL
    SELECT 4, 'langid', n3, n4, n3 - n4, t4 FROM agg
)
ORDER BY stage_idx
"""


# --------------------------------------------------------------------------
# Curriculum ordering — stage by difficulty, shuffle within stage
# --------------------------------------------------------------------------

CURRICULUM_STAGES = 4


def pipeline_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning data ordering: bucket the corpus into
    difficulty stages (difficulty proxy = token count — short docs
    first, the canonical length curriculum) and give every doc a
    reproducible within-stage shuffle key. The consumer range-sorts on
    (stage, shuffle_key, doc_id) when writing training shards — sort
    keys, not materialized positions, so nothing here ever needs a
    corpus-wide single-partition window.

    Stage boundaries are exact corpus quantiles computed from the
    TOKEN-COUNT HISTOGRAM: group by n_tokens (domain-sized, ~hundreds
    of rows at any corpus size), one cumulative window over that tiny
    relation, broadcast back onto the corpus. The corpus itself is
    touched once, map-side only — the same
    histogram-instead-of-global-window trick pack_sequences uses. Ties
    (equal n_tokens) land in the same stage deterministically.
    """
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    t = docs.select(
        "doc_id", "lang", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    hist = t.groupBy("n_tokens").agg(F.count(F.lit(1)).alias("c"))
    # domain-sized window (distinct token counts), NOT corpus-sized
    wcum = Window.orderBy("n_tokens").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = t.select(F.count(F.lit(1)).alias("total"))  # 1 row, broadcast
    staged = (
        hist.withColumn("cum", F.sum("c").over(wcum).cast("long"))
        .crossJoin(F.broadcast(total))
        .select(
            "n_tokens",
            F.floor(
                (F.lit(CURRICULUM_STAGES) * F.col("cum") + F.col("total") - 1)
                / F.col("total")
            )
            .cast("long")
            .alias("stage"),
        )
    )
    return t.join(F.broadcast(staged), "n_tokens").select(
        "doc_id",
        "lang",
        "n_tokens",
        "stage",
        ((F.col("doc_id") * _LCG_A + _LCG_C) % _LCG_M).alias("shuffle_key"),
    )


PIPELINE_CURRICULUM_SQL = f"""
WITH t AS (
    SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
    FROM documents
), h AS (
    SELECT n_tokens, count(*) AS c FROM t GROUP BY 1
), staged AS (
    SELECT n_tokens,
           ({CURRICULUM_STAGES} * CAST(sum(c) OVER (ORDER BY n_tokens
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            + (SELECT count(*) FROM t) - 1)
           // (SELECT count(*) FROM t) AS stage
    FROM h
)
SELECT doc_id, lang, t.n_tokens, stage,
       (doc_id * {_LCG_A} + {_LCG_C}) % {_LCG_M} AS shuffle_key
FROM t JOIN staged ON staged.n_tokens = t.n_tokens
"""


# --------------------------------------------------------------------------
# Dedup-aware mix — operators COMPOSE: components feed the mix rollup
# --------------------------------------------------------------------------

def pipeline_dedup_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus mix AFTER near-dup collapse: keep one
    representative per connected dup component (the full
    dedup_components machinery — shingle candidates, exact verify,
    min-label propagation — feeds this directly) and report the
    docs/tokens that survive next to the raw totals. The query a
    curation campaign actually runs between 'dedupe' and 'set the
    training mix'; proves the operator tiers compose in one lazy plan.
    """
    from .dedup import dedup_components

    docs = load_table(spark, sf_dir, "documents")
    comp = dedup_components(spark, sf_dir).select(
        "doc_id", "is_representative"
    )
    t = docs.select(
        "doc_id", "lang", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    rep = F.col("is_representative")
    # both sides are corpus-sized; the narrow (doc_id, lang, n_tokens)
    # projection is the pinned shuffle-hash build side — Catalyst's
    # static stats otherwise put the docs subtree (with the text
    # column evaluation) into a corpus-sized static BroadcastExchange
    # (r9 broadcast census)
    return (
        t.hint("shuffle_hash").join(comp, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs_total"),
            F.sum(F.when(rep, 1).otherwise(0)).cast("long").alias("docs_kept"),
            F.sum(F.when(rep, F.col("n_tokens")).otherwise(0))
            .cast("long")
            .alias("tokens_kept"),
        )
    )


def _dedup_mix_sql() -> str:
    from .dedup import _edges_cte

    return f"""
WITH RECURSIVE {_edges_cte()}
, toks AS (
    SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
    FROM documents
)
SELECT t.lang,
       count(*) AS docs_total,
       CAST(sum(CASE WHEN c.doc_id = c.component_id THEN 1 ELSE 0 END)
            AS BIGINT) AS docs_kept,
       CAST(sum(CASE WHEN c.doc_id = c.component_id THEN t.n_tokens
                ELSE 0 END) AS BIGINT) AS tokens_kept
FROM toks t JOIN comp c USING (doc_id)
GROUP BY 1
"""


PIPELINE_DEDUP_MIX_SQL = _dedup_mix_sql()


# --------------------------------------------------------------------------
# Temperature-based language sampling (XLM α-sampling)
# --------------------------------------------------------------------------

TEMPERATURE_BUDGET = 100_000  # tokens allocated across languages


def pipeline_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multilingual sampling weights with temperature α = 0.5 (XLM,
    Lample & Conneau 2019: p_l ∝ (n_l/N)^α — upsample low-resource
    languages relative to their natural share) plus the resulting
    integer token allocation of ``TEMPERATURE_BUDGET``.

    α is 0.5 ON PURPOSE: the power becomes ``sqrt``, the one
    transcendental-free root IEEE 754 requires to be CORRECTLY
    rounded, so Spark and DuckDB produce bit-identical weights — a
    general ``pow(x, 0.3)`` is libm-dependent and can differ in the
    last ulp between engines (the repo-wide determinism discipline
    forbids that in a hashed result). Weights are integer milli-sqrts
    (``floor(sqrt(tokens)·1000)``) so the normalizing sum is exact
    long arithmetic, order-free; the final shares are single rounded
    divisions of exact integers.

    Scale shape: one corpus scan → |languages| rows; the normalizer is
    a window over that lang-count-sized relation (never the corpus).
    """
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias(
            "n_tokens"
        ),
    )
    q = F.floor(F.sqrt(F.col("n_tokens")) * 1000).cast("long")
    wall = Window.partitionBy()
    out = per_lang.withColumn("q_milli", q).select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_tokens") / F.sum("n_tokens").over(wall), 6
        ).alias("nat_share"),
        F.round(
            F.col("q_milli") / F.sum("q_milli").over(wall), 6
        ).alias("temp_share"),
        F.expr(
            f"q_milli * CAST({TEMPERATURE_BUDGET} AS BIGINT)"
            " div sum(q_milli) OVER ()"
        ).alias("alloc_tokens"),
    )
    return out.withColumn(
        "boost", F.round(F.col("temp_share") / F.col("nat_share"), 4)
    )


PIPELINE_TEMPERATURE_MIX_SQL = f"""
WITH per_lang AS (
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM documents GROUP BY 1
), weighted AS (
    SELECT lang, n_docs, n_tokens,
           CAST(floor(sqrt(n_tokens) * 1000) AS BIGINT) AS q_milli
    FROM per_lang
)
SELECT lang, n_docs, n_tokens,
       round(n_tokens / CAST(sum(n_tokens) OVER () AS DOUBLE), 6)
           AS nat_share,
       round(q_milli / CAST(sum(q_milli) OVER () AS DOUBLE), 6)
           AS temp_share,
       CAST((q_milli * {TEMPERATURE_BUDGET}) // sum(q_milli) OVER ()
            AS BIGINT) AS alloc_tokens,
       round(round(q_milli / CAST(sum(q_milli) OVER () AS DOUBLE), 6)
             / round(n_tokens / CAST(sum(n_tokens) OVER () AS DOUBLE), 6),
             4) AS boost
FROM weighted
"""


# --------------------------------------------------------------------------
# Output-shard planning (balanced training shards)
# --------------------------------------------------------------------------

N_SHARDS = 8


def pipeline_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced output-shard assignment — the plan a pipeline
    executes when it writes the curated corpus as N training shards
    (webdataset/tfrecord style) that a data loader streams evenly.
    Docs are ranked longest-first and dealt to ``N_SHARDS`` shards in
    SNAKE (boustrophedon) order: rank r → position r mod 2N, shard =
    pos if pos < N else 2N−1−pos. Longest-first snake dealing is the
    stateless form of LPT scheduling: every 2N-long pass gives each
    shard exactly one doc from the top of the remaining pool and one
    from the bottom, so shard token totals track each other to within
    one document's tokens — without the sequential argmin state a true
    greedy packer needs (which cannot be expressed as a scan).

    The global rank is NOT a global-order window (one task at 100 TB):
    ``n_tokens`` has bounded cardinality, so rank = (count of docs with
    MORE tokens — a histogram prefix sum over the distinct token
    counts, dimension-sized and broadcast) + (row_number within this
    doc's token-count class, ordered by doc_id — a window partitioned
    by ``n_tokens``). Same idiom as `pipeline_pack_sequences`'s
    bucketed prefix sum: every window is bounded, nothing crosses a
    single task.
    """
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    d = docs.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    # docs-with-more-tokens prefix: histogram over distinct n_tokens
    hist = d.groupBy("n_tokens").agg(F.count(F.lit(1)).alias("cnt"))
    wh = Window.orderBy(F.col("n_tokens").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    above = hist.withColumn(
        "n_above", F.coalesce(F.sum("cnt").over(wh), F.lit(0))
    ).select("n_tokens", "n_above")
    wc = Window.partitionBy("n_tokens").orderBy("doc_id")
    ranked = (
        d.withColumn("rn_in_class", F.row_number().over(wc))
        .join(F.broadcast(above), "n_tokens")
        .withColumn("rank", (F.col("n_above") + F.col("rn_in_class")).cast("long"))
    )
    pos = (F.col("rank") - 1) % (2 * N_SHARDS)
    shard = F.when(pos < N_SHARDS, pos).otherwise(2 * N_SHARDS - 1 - pos)
    return ranked.select(
        "doc_id",
        "n_tokens",
        "rank",
        shard.cast("int").alias("shard"),
    )


PIPELINE_SHARD_PLAN_SQL = f"""
WITH d AS (
    SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
), r AS (
    SELECT doc_id, n_tokens,
           CAST(row_number() OVER (ORDER BY n_tokens DESC, doc_id)
                AS BIGINT) AS rank
    FROM d
)
SELECT doc_id, n_tokens, rank,
       CAST(CASE WHEN (rank - 1) % {2 * N_SHARDS} < {N_SHARDS}
                 THEN (rank - 1) % {2 * N_SHARDS}
                 ELSE {2 * N_SHARDS} - 1 - (rank - 1) % {2 * N_SHARDS}
            END AS INTEGER) AS shard
FROM r
"""


# --------------------------------------------------------------------------
# DSIR resampling (the selection half of Xie et al. 2023 — the weight
# half is textops.text_dsir_importance)
# --------------------------------------------------------------------------

DSIR_SAMPLE_N = 150


def pipeline_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel-top-k resampling over the DSIR importance weights:
    sampling k docs without replacement with probability ∝ exp(logw)
    is exactly 'take the k largest logw + Gumbel(0,1) keys'. The
    Gumbel draw is derandomized the repo way — u(doc) from the
    doc_id's md5 (identical in both engines), g = −ln(−ln u) — so the
    selection is reproducible across runs, engines, and cluster
    sizes; the key rounds to 6 decimals with doc_id as the total
    tiebreak.

    Scale shape: the keying is a per-row map over the weight table;
    the top-k is TakeOrderedAndProject (per-partition heaps + one
    k-row merge), never a global sort of the corpus."""
    w = text_dsir_importance(spark, sf_dir)
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
        ).cast("long")
        % 1_000_000
        + 0.5
    ) / 1_000_000.0
    key = F.round(F.col("logw") + -F.log(-F.log(u)), 6)
    return (
        w.withColumn("key", key)
        .orderBy(F.col("key").desc(), F.col("doc_id"))
        .limit(DSIR_SAMPLE_N)
        .select("doc_id", "lang", "logw", "key")
    )


PIPELINE_DSIR_RESAMPLE_SQL = f"""
WITH dsir AS ({TEXT_DSIR_IMPORTANCE_SQL}),
keyed AS (
    SELECT doc_id, lang, logw,
           round(logw + -ln(-ln(
               (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                     AS BIGINT) % 1000000 + 0.5) / 1000000.0)), 6) AS key
    FROM dsir
)
SELECT doc_id, lang, logw, key
FROM keyed
ORDER BY key DESC, doc_id
LIMIT {DSIR_SAMPLE_N}
"""


# --------------------------------------------------------------------------
# Epoch-deterministic global shuffle (training-order randomization)
# --------------------------------------------------------------------------

SHUFFLE_SHARDS = 8
SHUFFLE_EPOCH = 1  # re-keying the hash on the epoch re-shuffles


def pipeline_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The global example shuffle every pretraining run performs before
    sharding, derandomized: each doc draws a pseudo-random 64-bit key
    from md5(epoch:doc_id), lands in shard = key mod S, and takes its
    position from the within-shard key order. Same (epoch, corpus) →
    same order on any engine or cluster size; the next epoch re-keys.

    Scale shape: this is the whole point — a naive global ORDER BY
    rand() is a corpus-wide sort; here the only wide op is ONE
    hash-partitioned exchange into S shards, and each shard sorts
    locally (row_number per shard, never a global window). At 100 TB,
    S is sized so a shard fits an output file target, and the
    within-shard sort is the parquet writer's existing sort buffer."""
    # No rebalance (r14): one md5 per row straight into the
    # hash(k % shards) window exchange — see pipeline_domain_quota.
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(SHUFFLE_EPOCH), F.col("doc_id"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    keyed = docs.select("doc_id", "lang", h.alias("k"))
    w = Window.partitionBy(F.col("k") % SHUFFLE_SHARDS).orderBy(
        "k", "doc_id"
    )
    return keyed.select(
        "doc_id",
        "lang",
        (F.col("k") % SHUFFLE_SHARDS).cast("int").alias("shard"),
        F.row_number().over(w).alias("pos"),
    )


PIPELINE_SHUFFLE_ORDER_SQL = f"""
WITH keyed AS (
    SELECT doc_id, lang,
           CAST(('0x' || substr(md5({SHUFFLE_EPOCH} || ':' || doc_id), 1, 15))
                AS BIGINT) AS k
    FROM documents
)
SELECT doc_id, lang,
       CAST(k % {SHUFFLE_SHARDS} AS INT) AS shard,
       CAST(row_number() OVER (PARTITION BY k % {SHUFFLE_SHARDS}
                               ORDER BY k, doc_id) AS INT) AS pos
FROM keyed
"""


QUERIES = {
    "pipeline_shard_plan": pipeline_shard_plan,
    "pipeline_domain_quota": pipeline_domain_quota,
    "pipeline_quality_prune": pipeline_quality_prune,
    # rows-only by nature: percentile_approx GK sketch (see docstring)
    "pipeline_quality_prune_approx": pipeline_quality_prune_approx,
    "pipeline_funnel": pipeline_funnel,
    "pipeline_temperature_mix": pipeline_temperature_mix,
    "pipeline_epochs": pipeline_epochs,
    "pipeline_dedup_mix": pipeline_dedup_mix,
    "pipeline_curriculum": pipeline_curriculum,
    "pipeline_training_mix": pipeline_training_mix,
    "pipeline_quality_gate": pipeline_quality_gate,
    "pipeline_token_budget": pipeline_token_budget,
    "pipeline_pack_sequences": pipeline_pack_sequences,
    "pipeline_stratified_sample": pipeline_stratified_sample,
    "pipeline_interleave": pipeline_interleave,
    "pipeline_dsir_resample": pipeline_dsir_resample,
    "pipeline_shuffle_order": pipeline_shuffle_order,
}

ORACLES = {
    "pipeline_shard_plan": PIPELINE_SHARD_PLAN_SQL,
    "pipeline_domain_quota": PIPELINE_DOMAIN_QUOTA_SQL,
    "pipeline_quality_prune": PIPELINE_QUALITY_PRUNE_SQL,
    "pipeline_funnel": PIPELINE_FUNNEL_SQL,
    "pipeline_temperature_mix": PIPELINE_TEMPERATURE_MIX_SQL,
    "pipeline_epochs": PIPELINE_EPOCHS_SQL,
    "pipeline_dedup_mix": PIPELINE_DEDUP_MIX_SQL,
    "pipeline_curriculum": PIPELINE_CURRICULUM_SQL,
    "pipeline_training_mix": PIPELINE_TRAINING_MIX_SQL,
    "pipeline_quality_gate": PIPELINE_QUALITY_GATE_SQL,
    "pipeline_token_budget": PIPELINE_TOKEN_BUDGET_SQL,
    "pipeline_pack_sequences": PIPELINE_PACK_SEQUENCES_SQL,
    "pipeline_stratified_sample": PIPELINE_STRATIFIED_SAMPLE_SQL,
    "pipeline_interleave": PIPELINE_INTERLEAVE_SQL,
    "pipeline_dsir_resample": PIPELINE_DSIR_RESAMPLE_SQL,
    "pipeline_shuffle_order": PIPELINE_SHUFFLE_ORDER_SQL,
}

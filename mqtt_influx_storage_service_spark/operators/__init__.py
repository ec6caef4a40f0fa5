"""Query registry. Each operator module exports ``QUERIES`` (name ->
callable(spark, sf_dir) -> DataFrame) and ``ORACLES`` (name -> DuckDB
SQL); this package merges them for ``__spark_entry__``.

Modules are imported lazily-but-eagerly here; a module that fails to
import should fail loudly (the driver's correctness gate depends on the
full registry).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import (
    dedup,
    influxqlq,
    mlops,
    multimodal,
    pipeline,
    refsemantics,
    relational,
    similarity,
    textops,
    timeseries,
    windows,
)

# Registration ORDER is load-bearing: the driver's correctness gate
# walks the registry in insertion order and checks a bounded prefix
# (50 entries every round so far), so entries WITHOUT a recent green
# row must come first. The r11 rotation (VERDICT r10 "Next round" #1)
# front-loads the full r6-stale cohort, then the alphabetical head of
# the r7 cohort up to slot 50. Everything past slot 50 holds an
# r7/r8/r9/r10 green row under the current fixtures, so
# union-of-rounds coverage stays complete. Local
# tools/check_oracles.py runs the FULL registry regardless — the
# prefix only bounds what the driver re-certifies per round.
_PRIORITY = [
    # ---- Slots 1-4: the exact-count fork family. The r15 fork changed
    # their plans and none holds a driver row on the new plan; all four
    # read the campaign caches that now live in ``cache.py``.
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_components",
    "pipeline_dedup_mix",
    # ---- r15 ROTATION (VERDICT r14 "Next round" #7 — the queue the
    # r14 rotation comment recorded). Slots 5-45: the full r10-green
    # cohort, now the oldest driver rows in the registry (recomputed
    # from CORRECTNESS_r01..r14 this round: 41 entries whose newest
    # driver row is r10 — the r14 comment said 42; the recount says
    # 41). All oracle-backed. iq_derivative_daily and
    # iq_nonneg_derivative stay inside the prefix on their own account
    # too: the shared series-transform kernel rewrote their plans
    # (bucket DERIVATIVE lags unix_micros(time), not time).
    "dedup_substring",
    "dedup_substring_spans",
    "iq_agg_arithmetic",
    "iq_bucket_offset",
    "iq_derivative_daily",
    "iq_distinct",
    "iq_fill_slimit",
    "iq_integral",
    "iq_limit_offset",
    "iq_limit_per_series",
    "iq_nonneg_derivative",
    "iq_raw_derivative",
    "iq_raw_grouped",
    "iq_raw_nonneg",
    "iq_raw_running",
    "iq_raw_series",
    "iq_scalar_math",
    "iq_selector_bare",
    "iq_selector_mixed",
    "iq_slimit",
    "mm_dedup_payload",
    "sim_cosine_topk",
    "sim_knn_graph",
    "sim_label_centroid",
    "sim_label_trimmed_norm",
    "text_boilerplate",
    "text_contamination",
    "text_fingerprint",
    "text_langid",
    "text_quality",
    "text_regex_tokens",
    "text_token_stats",
    "text_word_freq",
    "ts_holt_winters_seasonal",
    "win_cube",
    "win_monthly_revenue",
    "win_ntile_customers",
    "win_percentiles",
    "win_rollup",
    "win_topk_per_group",
    "win_value_frames",
    # Slots 46-50: the five queries whose cold-rep release the cache
    # owner rewired (their PLANS are unchanged; slots are insurance
    # that the release change kept them green).
    "text_bm25",
    "sim_hybrid_rrf",
    "pipeline_training_mix",
    "pipeline_token_budget",
    "pipeline_epochs",
    # ---- slot 50 boundary. Moved past it to make room for the fork
    # family: the two mm kernels (driver-certified in r15) and the two
    # r11-cohort fillers. NEXT ROTATION QUEUE: iq_cmo, iq_drop_series,
    # then the remaining r11 cohort (iq_ema, iq_ker, iq_math,
    # iq_retention_filter, iq_retention_policies, iq_rsi,
    # iq_show_tag_values_regex, iq_show_tag_values_where, iq_soffset,
    # iq_tag_regex, iq_top_tags, iq_transform_nested, iq_trix, iq_tz,
    # pipeline_shard_plan, pipeline_temperature_mix,
    # ref_narrow_points, ...), then the r12 cohort.
    "iq_cmo",
    "iq_drop_series",
    "mm_extract_features",
    "mm_frame_sample",
]

# Queries whose timed reps must start cold: each memoizes its own
# campaign persist (``cache.campaign``), so without a release before a
# rep the second rep times the warm cache, not the plan (VERDICT r4,
# r14 #2). ``cache.release_for(spark, name)`` releases these tags; the
# shared dedup-family caches (shingles, edges, labels, candidates) stay
# warm across a suite on purpose.
COLD_TAGS: dict[str, tuple[str, ...]] = {
    "sim_mmr": ("mmr",),
    "dedup_semantic": ("semantic",),
    "dedup_semantic_ivf": ("semantic",),
    "text_dsir_importance": ("dsir",),
    "pipeline_dsir_resample": ("dsir",),
    "text_bm25": ("bm25",),
    "sim_hybrid_rrf": ("bm25",),
    "pipeline_training_mix": ("curated",),
    "pipeline_token_budget": ("curated",),
    "pipeline_epochs": ("curated",),
}

# Queries that get one DISCARDED warm rep before their timed reps:
# these showed >148% min-max spreads at sf0.1 (VERDICT r6 #5 / r8
# residue), dominated by first-touch shuffle/page-cache effects;
# warming once brings the timed reps onto the steady state the number
# claims.
WARM_REPS: tuple[str, ...] = (
    "dedup_substring",
    "dedup_substring_spans",
    # VERDICT r8 residue: the committed r8 artifact's top-decile rows
    # still showed min-of-5 spreads of 349% (sim_ann_ivf), 332%
    # (dedup_substring_scrub) and 273% (pipeline_dsir_resample) — same
    # first-touch shuffle/page-cache shape, same treatment.
    "sim_ann_ivf",
    "dedup_substring_scrub",
    "pipeline_dsir_resample",
    # r9: the capped-candidate rework gave these the same first-touch
    # bucket-aggregation shape (258%/90% min-of-5 spreads on a wobbly
    # box without warm-up)
    "dedup_ngram_jaccard",
    "dedup_containment",
)

# Cheap queries from different table families that warm the JVM and
# the parquet footer caches once before a bench suite, so per-query
# numbers measure the plan, not first-touch overheads.
JVM_WARMUP: tuple[str, ...] = ("rel_pricing_summary", "ts_series_scan")

_MODULES = [
    influxqlq,
    dedup,
    similarity,
    textops,
    multimodal,
    mlops,
    pipeline,
    refsemantics,
    windows,
    timeseries,
    relational,
]


def _reorder(d: dict) -> dict:
    """Priority names first (in _PRIORITY order), the rest in module order.

    A _PRIORITY name absent from the registry (typo, renamed query) must
    fail LOUDLY: silently skipping it would drop the entry out of the
    load-bearing verification prefix — the exact invisible coverage gap
    this reorder exists to prevent (ADVICE r3).
    """
    missing = [k for k in _PRIORITY if k not in d]
    if missing:
        raise KeyError(f"_PRIORITY names not in registry: {missing}")
    out = {k: d[k] for k in _PRIORITY}
    out.update({k: v for k, v in d.items() if k not in out})
    return out


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for m in _MODULES:
        overlap = set(out) & set(m.QUERIES)
        if overlap:
            raise ValueError(f"duplicate query names {overlap} in {m.__name__}")
        out.update(m.QUERIES)
    return _reorder(out)


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _MODULES:
        out.update(m.ORACLES)
    return out

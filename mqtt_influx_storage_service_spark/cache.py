"""Campaign cache: the one owner of state a curation campaign keeps
between queries.

A campaign (dedup, retrieval, selection passes over one ``sf_dir``)
reuses a few expensive intermediate relations — the shingle table, the
near-dup edges and component labels, candidate pair sets, the BM25 tf
relation, the DSIR counts, the IVF training fit. Each is built once per
``(applicationId, tag, key)`` by :func:`campaign` and lives here until
:func:`release` drops it. The builder keeps its own ``persist`` call and
storage level; this module only memoizes and frees.

Tags name the kind of state (one tag per builder):

    shingles      dedup._doc_shingles               persisted frame
    candidates    dedup._persisted_candidates       (frame, pair count)
    overcap       dedup._corpus_has_overcap         bool
    edges         dedup._dup_edges (+ self-looped)  persisted frame
    labels        dedup._component_labels           persisted frame
    window_index  dedup._corpus_window_index        persisted frame
    semantic      dedup SemDeDup assignments        persisted frame
    mmr           similarity.sim_mmr                (result, pool, picks)
    curated       pipeline._curated_docs            persisted frame
    dsir          textops._dsir_docb                persisted frame
    bm25          textops._bm25_micro tf relation   persisted frame
    ivf_train     mlops._ivf_train                  (centroids, sample)

Queries that must run cold (their timed reps would otherwise read their
own warm persist) declare their tags in ``operators.COLD_TAGS``;
:func:`release_for` reads that declaration.
"""

from __future__ import annotations

from collections.abc import Callable, Hashable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

# (applicationId, tag, key) -> value
_ENTRIES: dict[tuple[str, str, Hashable], Any] = {}


def campaign(
    spark: SparkSession, tag: str, key: Hashable, build: Callable[[], Any]
) -> Any:
    """``build()`` once per (session, tag, key); later calls return the
    same object until it is released."""
    k = (spark.sparkContext.applicationId, tag, key)
    if k not in _ENTRIES:
        _ENTRIES[k] = build()
    return _ENTRIES[k]


def release(spark: SparkSession | None = None, *tags: str) -> int:
    """Drop the entries under ``tags`` (every tag when none is given —
    the campaign teardown), only those of ``spark``'s session when one is
    passed. Persisted frames, alone or inside a tuple value, are
    unpersisted; plain values are dropped. Returns how many entries went.
    The next consumer simply rebuilds."""
    app = spark.sparkContext.applicationId if spark is not None else None
    released = 0
    for k in list(_ENTRIES):
        if (app is not None and k[0] != app) or (tags and k[1] not in tags):
            continue
        value = _ENTRIES.pop(k)
        for part in value if isinstance(value, tuple) else (value,):
            if isinstance(part, DataFrame) and part.is_cached:
                part.unpersist()
        released += 1
    return released


def release_for(spark: SparkSession | None, name: str) -> int:
    """Release the tags that query ``name`` declares it must run cold
    (``operators.COLD_TAGS``); a query that declares none releases
    nothing."""
    from .operators import COLD_TAGS

    tags = COLD_TAGS.get(name)
    return release(spark, *tags) if tags else 0

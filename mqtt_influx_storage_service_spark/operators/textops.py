"""Text analysis for LLM-data pipelines (Tier C, driver mandate):
token counting, word frequency, TF-IDF, language-ID heuristic, quality
scoring, document fingerprinting — all over the ``documents`` fixture.

Everything here is built-in Spark SQL array/lambda functions (split /
transform / filter / aggregate / explode) — no Python UDFs, so the hot
path stays in codegen and scales linearly with document count. The
oracles mirror each lambda with DuckDB list functions; integer-derived
arithmetic keeps every value order-insensitive for the hash gate.

Scale notes (100 TB of documents): token-level queries are
explode-heavy; at scale the explode output is reduced map-side by the
partial aggregation before any shuffle (word-count is the canonical
map-reduce). The fingerprint/quality/langid queries are pure per-row
projections — embarrassingly parallel, no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import campaign
from ..sources import load_table
from .dedup import _SHINGLES_SQL as _DEDUP_SHINGLES_SQL
from .dedup import _shingles_of_tokens

def _tokens() -> F.Column:
    """Lazy: F.col needs an active SparkContext (classic API)."""
    return F.split(F.col("text"), " ")

# Per-language "stopword" sets for the language-ID heuristic. The
# fixture vocabulary is a 31-word synthetic soup, so these sets are a
# deterministic stand-in for real char-n-gram profiles — the *operator
# shape* (per-class token-overlap scoring + argmax) is the real thing.
LANG_KEYWORDS = {
    "en": ["the", "fast", "data", "key", "value"],
    "de": ["order", "sort", "group", "merge"],
    "es": ["table", "scan", "join", "row"],
    "fr": ["query", "filter", "window", "batch"],
    "zh": ["spark", "hash", "line", "small"],
}
LANG_ORDER = ["de", "en", "es", "fr", "zh"]  # deterministic tie-break


def _sql_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


# --------------------------------------------------------------------------
# Token counting + per-language rollup
# --------------------------------------------------------------------------

def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokenization stats rolled up per (lang, source)."""
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    per_doc = docs.select(
        "lang",
        "source",
        "n_chars",
        F.size(_tokens()).alias("n_tokens"),
        F.size(F.array_distinct(_tokens())).alias("n_unique_tokens"),
    )
    return per_doc.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.sum("n_unique_tokens").alias("sum_unique_tokens"),
        F.sum("n_chars").alias("sum_chars"),
        F.round(F.sum("n_tokens") / F.count(F.lit(1)), 6).alias("avg_tokens"),
    )


TEXT_TOKEN_STATS_SQL = """
SELECT lang, source, count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
       CAST(sum(len(list_distinct(string_split(text, ' ')))) AS BIGINT)
           AS sum_unique_tokens,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       round(sum(len(string_split(text, ' '))) / count(*), 6) AS avg_tokens
FROM documents GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Word frequency (the canonical map-reduce)
# --------------------------------------------------------------------------

def text_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide term frequencies with doc frequencies — explode →
    two-level aggregation, fully map-side-combinable."""
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    tok = docs.select("doc_id", F.explode(_tokens()).alias("word"))
    return tok.groupBy("word").agg(
        F.count(F.lit(1)).alias("tf_corpus"),
        F.countDistinct("doc_id").alias("df_docs"),
    )


TEXT_WORD_FREQ_SQL = """
SELECT word, count(*) AS tf_corpus, count(DISTINCT doc_id) AS df_docs
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
GROUP BY word
"""


# --------------------------------------------------------------------------
# Word-distribution entropy (diversity / degeneracy signal)
# --------------------------------------------------------------------------

def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the word distribution (bits):
    H = log2(n) − (Σ c·log2 c)/n over per-word counts c — the
    diversity signal that separates degenerate/repetitive text (H→0)
    from natural prose; a standard curation feature next to the
    distinct-ratio in `text_quality` (which measures support size,
    where entropy also weighs the SHAPE of the distribution).

    Plan: one word-count-shaped aggregation (explode → per-(doc,word)
    count, map-side combinable) and one per-doc rollup — nothing
    corpus-quadratic; entropy is computed from integer counts with the
    same ln-then-round(6) float discipline `text_tfidf_top` and
    `text_bigram_lm` already hash green under.
    """
    import math

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    words = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    tf = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    n = F.sum("c")
    plogp = F.sum(F.col("c") * F.ln(F.col("c")))
    return tf.groupBy("doc_id").agg(
        n.cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_unique"),
        F.round(
            (F.ln(n) - plogp / n) / F.lit(math.log(2.0)), 6
        ).alias("word_entropy"),
    )


TEXT_ENTROPY_SQL = """
WITH tf AS (
    SELECT doc_id, word, count(*) AS c
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
          FROM documents)
    GROUP BY 1, 2
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_unique,
       round((ln(sum(c)) - sum(c * ln(c)) / sum(c)) / ln(2.0), 6)
           AS word_entropy
FROM tf GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# TF-IDF + top term per document
# --------------------------------------------------------------------------

def text_tfidf_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic TF-IDF with ln(N/df), top-1 scoring term per document
    (deterministic tie-break on the term string).

    Two aggregations + one broadcast-able join on word; the window
    top-1 compiles to WindowGroupLimit. At corpus scale the df table
    is tiny (vocabulary-sized) and always broadcast.

    N (corpus size) rides the plan as a broadcast 1-row aggregate of
    the UN-rebalanced scan (parquet metadata count) — NOT an eager
    ``.count()``: queries() must return a LAZY DataFrame, and a job
    fired at construction time is invisible to plan audits.
    """
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    n_docs = (
        load_table(spark, sf_dir, "documents")
        .agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    )
    tok = docs.select("doc_id", F.explode(_tokens()).alias("word"))
    tf = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    # df derived FROM tf, not from a second tok aggregation (r14, the
    # langid trick): tf has exactly one row per (doc_id, word), so
    # counting tf rows per word IS countDistinct(doc_id) over tok —
    # and because both consumers now share the canonically identical
    # tf subtree, AQE reuses its exchange and the corpus explode runs
    # ONCE (two ~5 s tokenize map stages → one). The word-keyed
    # shuffle also moves post-aggregation rows instead of raw tokens
    # (guide §2.3 "aggregate before you shuffle").
    df_tbl = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df_tbl), "word")
        .join(F.broadcast(n_docs), F.lit(True))
        .select(
            "doc_id",
            "word",
            "tf",
            "df",
            F.round(F.col("tf") * F.ln(F.col("n_docs") / F.col("df")), 6).alias(
                "tfidf"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("word"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("word").alias("top_term"), "tf", "df", "tfidf")
    )


TEXT_TFIDF_TOP_SQL = """
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), tf AS (
    SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY 1, 2
), dft AS (
    SELECT word, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1
), n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
scored AS (
    SELECT doc_id, word, tf, df,
           round(tf * ln(n_docs / df), 6) AS tfidf,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY round(tf * ln(n_docs / df), 6) DESC,
                                       word) AS rn
    FROM tf JOIN dft USING (word) CROSS JOIN n
)
SELECT doc_id, word AS top_term, tf, df, tfidf FROM scored WHERE rn = 1
"""


# --------------------------------------------------------------------------
# Language-ID heuristic (per-class token-overlap scoring + argmax)
# --------------------------------------------------------------------------

def _keyword_match(words: list[str]):
    """1-arg lambda factory. NB: the closure must stay 1-positional —
    PySpark reads lambda arity to decide element-vs-(element, index)
    form, so a `ws=...` default would be misread as the index arg. And
    use array_contains, not Column.isin: isin mis-types the lambda
    variable inside higher-order functions."""
    kw = [F.lit(w) for w in words]
    return lambda t: F.array_contains(F.array(*kw), t)


def langid_score_cols() -> list[F.Column]:
    """Per-language keyword-overlap scores, as columns over ``text``."""
    return [
        F.size(F.filter(_tokens(), _keyword_match(words))).alias(f"score_{lang}")
        for lang, words in LANG_KEYWORDS.items()
    ]


def langid_pred_expr() -> F.Column:
    """Argmax language over the materialized ``score_<lang>`` columns
    (ties break in LANG_ORDER, matching the SQL CASE chain)."""
    best = F.greatest(*[F.col(f"score_{lang}") for lang in LANG_ORDER])
    return F.coalesce(
        *[
            F.when(F.col(f"score_{lang}") == best, F.lit(lang))
            for lang in LANG_ORDER
        ]
    )


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    scores = docs.select("doc_id", "lang", *langid_score_cols())
    predicted = langid_pred_expr()
    return scores.select(
        "doc_id",
        "lang",
        *[F.col(f"score_{lang}") for lang in LANG_ORDER],
        predicted.alias("predicted_lang"),
    )


_LANGID_SCORE_SQL = ",\n".join(
    f"       len(list_filter(string_split(text, ' '), "
    f"t -> list_contains({_sql_list(LANG_KEYWORDS[lang])}, t))) AS score_{lang}"
    for lang in LANG_ORDER
)
_LANGID_BEST_SQL = "greatest(" + ", ".join(f"score_{lg}" for lg in LANG_ORDER) + ")"
_LANGID_PRED_SQL = (
    "CASE "
    + " ".join(
        f"WHEN score_{lg} = {_LANGID_BEST_SQL} THEN '{lg}'" for lg in LANG_ORDER
    )
    + " END"
)
TEXT_LANGID_SQL = f"""
WITH scores AS (
    SELECT doc_id, lang,
{_LANGID_SCORE_SQL}
    FROM documents
)
SELECT doc_id, lang,
       {", ".join(f"score_{lg}" for lg in LANG_ORDER)},
       {_LANGID_PRED_SQL} AS predicted_lang
FROM scores
"""


# --------------------------------------------------------------------------
# Hashed char-n-gram language classifier (train + apply, one query)
# --------------------------------------------------------------------------

LANGID_BUCKETS = 4096


def text_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shaped language ID (VERDICT r3 "Next round" #9): a
    hashed char-TRIGRAM Naive-Bayes classifier — the fastText/langid.py
    feature family — trained and applied in one declarative plan, pure
    built-ins, no UDF:

    1. every doc explodes to hashed trigram buckets
       ``(c1*961 + c2*31 + c3) mod 4096`` (codepoints, identical in
       both engines);
    2. the per-language profile is LEARNED from the corpus labels:
       add-one-smoothed log-likelihood per (lang, bucket), built over
       the full langs × buckets grid so absent grams carry the
       smoothing penalty (the part a naive join-on-observed would get
       wrong);
    3. each doc scores against every profile and takes the arg-max.

    Determinism discipline: the only float op (ln) is rounded to
    integer MICRO-units inside the profile; doc scores are then pure
    integer sums — associative, order-independent, hash-stable.

    Scale shape: the profile is n_langs × 4096 rows, broadcast; the
    corpus contributes one (doc, bucket) count relation (explode →
    map-side-combinable count) and one ×n_langs fan-out aggregation.
    No corpus self-join, no window over raw docs. The keyword
    ``text_langid`` stays registered as the cheap screening heuristic;
    this is the classifier a curation campaign would actually gate on
    (self-trained here — in production the profile table would come
    from a held-out labeled set, same plan)."""
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    # r14 (guide §2.4 — remove shuffles outright): ``lang`` rides the
    # gram explode, so the TRAINING aggregation (per-(lang, bucket)
    # gram counts) falls straight out of ``grams`` — the old plan's
    # corpus-sized tf⋈docs shuffle-hash join (tf re-exchange by doc_id
    # + docs exchange) is gone, and so is the final docs⋈best
    # assignment join: the doc's true lang is carried through the
    # score aggregation as ``min(lang)`` (exact — doc_id is unique, so
    # each group sees one lang). n_lb = Σ_docs tf(d,b) is the raw gram
    # count per (lang, bucket), so training aggregates ``grams``
    # directly and never needs the per-doc tf relation. The arg-max
    # window (exchange + SORT per doc) is replaced by a map-side
    # combinable min(struct(-score6, cand_lang)) aggregation — same
    # (score6 DESC, cand_lang ASC) winner, no sort. Measured at sf0.1:
    # 19 executed shuffle stages → 8, wall 2.41 → ~1.3 s isolated; at
    # 100 TB the two removed joins were each a corpus-sized exchange.
    grams = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(length(text) - 2, 1)),"
                " i -> (ascii(substr(text, i, 1)) * 961"
                "     + ascii(substr(text, i + 1, 1)) * 31"
                f"     + ascii(substr(text, i + 2, 1))) % {LANGID_BUCKETS})"
            )
        ).alias("bucket"),
    ).filter(F.col("bucket").isNotNull())
    tf = grams.groupBy("doc_id", "lang", "bucket").agg(
        F.count(F.lit(1)).alias("tf")
    )
    # n_lb = Σ_docs tf(d, b) per (lang, bucket): derived FROM tf, and
    # the profile below consumes cnt through plain aggregations only
    # (no joins), so no consumer pushes an isnotnull into one tf copy
    # and not the other — both tf subtrees canonicalize identically
    # and AQE reuses the shuffle stage: the trigram explode runs ONCE
    # (the r13 plan ran it three times — scored, grid-join cnt, tot).
    cnt = tf.groupBy("lang", "bucket").agg(F.sum("tf").alias("n_lb"))
    # The smoothed profile over the FULL langs × buckets grid, built by
    # exploding each lang's observed-bucket map over range(BUCKETS)
    # instead of the old distinct-langs × range cross join + left join
    # + tot join (each join re-evaluated the corpus-sized cnt subtree).
    # Every doc emits ≥1 non-null gram (greatest(…, 1); null buckets
    # only arise from NULL text), so the langs present in cnt are
    # exactly the langs of the corpus — same grid as the old
    # docs-distinct form on any corpus without all-NULL-text langs.
    perlang = cnt.groupBy("lang").agg(
        F.map_from_entries(
            F.collect_list(F.struct("bucket", "n_lb"))
        ).alias("m"),
        F.sum("n_lb").alias("n_l"),
    )
    profile = perlang.select(
        F.col("lang").alias("cand_lang"),
        F.explode(F.sequence(F.lit(0), F.lit(LANGID_BUCKETS - 1))).alias(
            "bucket"
        ),
        "m",
        "n_l",
    ).select(
        "cand_lang",
        "bucket",
        F.round(
            F.ln(
                (
                    F.coalesce(F.element_at("m", F.col("bucket")), F.lit(0))
                    + F.lit(1.0)
                )
                / (F.col("n_l") + F.lit(float(LANGID_BUCKETS)))
            )
            * 1e6
        )
        .cast("long")
        .alias("w6"),
    )
    scored = (
        tf.join(F.broadcast(profile), "bucket")
        .groupBy("doc_id", "cand_lang")
        .agg(
            F.sum(F.col("tf") * F.col("w6")).cast("long").alias("score6"),
            F.min("lang").alias("lang"),
        )
    )
    best = scored.groupBy("doc_id").agg(
        F.min(
            F.struct(
                (-F.col("score6")).alias("neg"),
                F.col("cand_lang").alias("cl"),
                F.col("score6").alias("s6"),
            )
        ).alias("b"),
        F.min("lang").alias("lang"),
    )
    return best.select(
        "doc_id",
        "lang",
        F.col("b.cl").alias("predicted_lang"),
        F.col("b.s6").alias("score6"),
    )


TEXT_LANGID_NGRAM_SQL = f"""
WITH g AS (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(length(text) - 2, 1) + 1),
               i -> (ascii(text[i]) * 961 + ascii(text[i + 1]) * 31
                     + ascii(text[i + 2])) % {LANGID_BUCKETS})) AS bucket
    FROM documents
), tf AS (
    SELECT doc_id, bucket, count(*) AS tf FROM g GROUP BY 1, 2
), cnt AS (
    SELECT d.lang, t.bucket, sum(t.tf) AS n_lb
    FROM tf t JOIN documents d USING (doc_id) GROUP BY 1, 2
), tot AS (
    SELECT lang, sum(n_lb) AS n_l FROM cnt GROUP BY 1
), grid AS (
    SELECT l.lang, b.range AS bucket
    FROM (SELECT DISTINCT lang FROM documents) l
    CROSS JOIN range(0, {LANGID_BUCKETS}) b
), profile AS (
    SELECT g.lang, g.bucket,
           CAST(round(ln((coalesce(c.n_lb, 0) + 1.0)
                         / (t.n_l + {LANGID_BUCKETS}.0)) * 1e6) AS BIGINT)
               AS w6
    FROM grid g
    LEFT JOIN cnt c ON c.lang = g.lang AND c.bucket = g.bucket
    JOIN tot t ON t.lang = g.lang
), scored AS (
    SELECT f.doc_id, p.lang AS cand_lang,
           CAST(sum(f.tf * p.w6) AS BIGINT) AS score6
    FROM tf f JOIN profile p USING (bucket) GROUP BY 1, 2
), ranked AS (
    SELECT doc_id, cand_lang, score6,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score6 DESC, cand_lang) AS rn
    FROM scored
)
SELECT d.doc_id, d.lang, r.cand_lang AS predicted_lang, r.score6
FROM ranked r JOIN documents d USING (doc_id)
WHERE r.rn = 1
"""


# --------------------------------------------------------------------------
# Quality scoring (length / diversity / repetition heuristics)
# --------------------------------------------------------------------------

def quality_feature_cols() -> list[F.Column]:
    """The four quality features, as columns over ``text``."""
    n_tokens = F.size(_tokens())
    n_unique = F.size(F.array_distinct(_tokens()))
    sum_len = F.aggregate(
        F.transform(_tokens(), F.length),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return [
        n_tokens.alias("n_tokens"),
        n_unique.alias("n_unique"),
        F.round(n_unique / n_tokens, 6).alias("distinct_ratio"),
        F.round(sum_len / n_tokens, 6).alias("avg_token_len"),
    ]


def quality_score_expr() -> F.Column:
    """Composite score over the feature COLUMNS (two-step projection —
    the features must already be materialized columns, see the HOF
    re-inlining note in operators/dedup.py).

    Final round at 7, not 6: the three addends are 6-decimal values
    times 0.3/0.5/0.2, i.e. exactly-7-decimal quantities — rounding at
    6 would sit on .xxxxxx5 half-way points where Spark (BigDecimal
    HALF_UP) and DuckDB (multiply+floor) disagree; rounding at 7 just
    recovers the exact decimal value in both engines.
    """
    return F.round(
        F.round(F.ln(F.col("n_tokens")), 6) * 0.3
        + F.col("distinct_ratio") * 0.5
        + F.round(F.col("avg_token_len") / 10, 7) * 0.2,
        7,
    )


QUALITY_KEEP_THRESHOLD = 0.6


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features + a composite score; every input
    to the score is integer-derived, so the doubles are deterministic."""
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    feats = docs.select("doc_id", "lang", *quality_feature_cols(), F.col("n_chars"))
    score = quality_score_expr()
    return feats.withColumn("quality_score", score).withColumn(
        "keep", score >= F.lit(QUALITY_KEEP_THRESHOLD)
    )


TEXT_QUALITY_SQL = """
WITH feats AS (
    SELECT doc_id, lang,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_unique,
           round(len(list_distinct(string_split(text, ' ')))
                 / len(string_split(text, ' ')), 6) AS distinct_ratio,
           round(list_reduce(list_prepend(0, list_transform(
                     string_split(text, ' '), t -> length(t))),
                     (a, b) -> a + b)
                 / len(string_split(text, ' ')), 6) AS avg_token_len,
           n_chars
    FROM documents
)
SELECT doc_id, lang, n_tokens, n_unique, distinct_ratio, avg_token_len, n_chars,
       round(round(ln(n_tokens), 6) * 0.3 + distinct_ratio * 0.5
             + round(avg_token_len / 10, 7) * 0.2, 7) AS quality_score,
       (round(round(ln(n_tokens), 6) * 0.3 + distinct_ratio * 0.5
              + round(avg_token_len / 10, 7) * 0.2, 7) >= 0.6) AS keep
FROM feats
"""


# --------------------------------------------------------------------------
# Document fingerprinting (rolling polynomial hash over tokens)
# --------------------------------------------------------------------------

def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling hash: h = (h*31 + f(token)) mod 1e9+7
    with f(token) = 7*len + ascii(first char). A pure sequential fold —
    identical left-to-right in Spark ``aggregate`` and DuckDB
    ``list_reduce`` — and a stand-in for content-defined chunk hashes.
    Grouping by fingerprint is the exact-dup detector for normalized
    text.
    """
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    token_codes = F.transform(
        _tokens(),
        lambda t: (F.length(t) * 7 + F.ascii(F.substring(t, 1, 1))).cast("long"),
    )
    fingerprint = F.aggregate(
        token_codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % 1000000007,
    )
    return docs.select(
        "doc_id",
        fingerprint.alias("fingerprint"),
        F.size(_tokens()).alias("n_tokens"),
    )


TEXT_FINGERPRINT_SQL = """
SELECT doc_id,
       list_reduce(
           list_prepend(CAST(0 AS BIGINT), list_transform(
               string_split(text, ' '),
               t -> CAST(length(t) * 7 + ascii(substr(t, 1, 1)) AS BIGINT))),
           (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint,
       len(string_split(text, ' ')) AS n_tokens
FROM documents
"""


# --------------------------------------------------------------------------
# BPE-ish regex tokenization (sub-word-style token classes)
# --------------------------------------------------------------------------

# letter runs | digit runs | single non-alnum-non-space — the shape of a
# GPT-2-style pre-tokenizer pattern, restricted to classes both engines'
# regex dialects treat identically.
_BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def text_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex (BPE-ish) tokenization rolled up per language: token count
    and per-class counts (alpha / digit / other). Two-step projection
    so the regexp_extract_all runs once per row (see dedup.py on
    higher-order re-inlining)."""
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    toked = docs.select(
        "doc_id",
        "lang",
        F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), 0).alias("toks"),
    )
    per_doc = toked.select(
        "doc_id",
        "lang",
        F.size("toks").alias("n_tokens"),
        F.size(F.filter(F.col("toks"), lambda t: t.rlike("^[0-9]+$"))).alias(
            "n_digit"
        ),
        F.size(F.filter(F.col("toks"), lambda t: t.rlike("^[A-Za-z]+$"))).alias(
            "n_alpha"
        ),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.sum("n_alpha").alias("sum_alpha"),
        F.sum("n_digit").alias("sum_digit"),
        (F.sum("n_tokens") - F.sum("n_alpha") - F.sum("n_digit")).alias("sum_other"),
    )


TEXT_REGEX_TOKENS_SQL = """
WITH toked AS (
    SELECT doc_id, lang,
           regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]') AS toks
    FROM documents
), per_doc AS (
    SELECT doc_id, lang,
           len(toks) AS n_tokens,
           len(list_filter(toks, t -> regexp_matches(t, '^[0-9]+$'))) AS n_digit,
           len(list_filter(toks, t -> regexp_matches(t, '^[A-Za-z]+$'))) AS n_alpha
    FROM toked
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(sum(n_alpha) AS BIGINT) AS sum_alpha,
       CAST(sum(n_digit) AS BIGINT) AS sum_digit,
       CAST(sum(n_tokens) - sum(n_alpha) - sum(n_digit) AS BIGINT) AS sum_other
FROM per_doc GROUP BY lang
"""


# --------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap against a held-out eval set)
# --------------------------------------------------------------------------

# Every 50th doc stands in for the benchmark/eval set (deterministic ~2%
# of the corpus); a training doc sharing ANY 5-gram with it is flagged.
CONTAM_N = 5
CONTAM_BENCH_MOD = 50


def _grams_of_tokens(toks: F.Column, n: int) -> F.Column:
    """Distinct word n-grams of a MATERIALIZED token-array column (same
    re-inlining discipline as dedup._shingles_of_tokens — never pass an
    inline ``split``). Caller guarantees ``size(toks) >= n``."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
    )


def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: for each training doc, the number and
    share of its distinct 5-grams that also occur anywhere in the eval
    set (docs with ``doc_id % 50 == 0``) — the pre-training hygiene
    pass that keeps eval questions out of the corpus.

    Plan shape at scale: the eval side is tiny (eval suites are MBs
    against a 100 TB corpus), so its distinct-gram set BROADCASTS; the
    corpus explodes its grams map-side, probes the broadcast, and the
    per-doc count collapses in the map-side partial aggregate (a doc's
    grams never leave their partition) — one shuffle of one row per
    doc, no corpus-vs-corpus join.
    """
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    toked = docs.select("doc_id", F.split(F.col("text"), " ").alias("toks")).filter(
        F.size("toks") >= CONTAM_N
    )
    # Two structural rules keep the gram pipeline single-evaluation and
    # codegen-friendly (each measured ~5x at sf0.1):
    # (1) n_grams is count(*) AFTER the explode (grams are distinct per
    #     doc) — a sibling size("grams") would re-inline the transform
    #     and build every gram twice (dedup.py's re-inlining trap);
    # (2) explode(<gram expr>) lives in the SAME projection as the
    #     expression — alias-then-explode materializes the array in one
    #     codegen stage and re-copies it through a detached Generate
    #     (1.7s vs 0.3s for the corpus side).
    gram_expr = _grams_of_tokens(F.col("toks"), CONTAM_N)
    bench = (
        toked.filter(F.col("doc_id") % CONTAM_BENCH_MOD == 0)
        .select(F.explode(gram_expr).alias("gram"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus = toked.filter(F.col("doc_id") % CONTAM_BENCH_MOD != 0).select(
        "doc_id", F.explode(gram_expr).alias("gram")
    )
    return (
        corpus.join(F.broadcast(bench), "gram", "left_outer")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_grams"),
            F.count("hit").alias("n_hit"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_grams"), 6).alias("contamination"),
            (F.col("n_hit") > 0).alias("flagged"),
        )
    )


TEXT_CONTAMINATION_SQL = f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), grams AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, len(t) - {CONTAM_N - 2}),
               i -> array_to_string(t[i:i+{CONTAM_N - 1}], ' '))) AS grams
    FROM toks WHERE len(t) >= {CONTAM_N}
), bench AS (
    SELECT DISTINCT unnest(grams) AS gram
    FROM grams WHERE doc_id % {CONTAM_BENCH_MOD} = 0
), corpus AS (
    SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gram
    FROM grams WHERE doc_id % {CONTAM_BENCH_MOD} <> 0
)
SELECT c.doc_id, c.n_grams,
       CAST(count(b.gram) AS BIGINT) AS n_hit,
       round(count(b.gram) * 1.0 / c.n_grams, 6) AS contamination,
       count(b.gram) > 0 AS flagged
FROM corpus c LEFT JOIN bench b USING (gram)
GROUP BY c.doc_id, c.n_grams
"""


# --------------------------------------------------------------------------
# Per-source boilerplate detection (shared-shingle frequency)
# --------------------------------------------------------------------------

# A trigram shingle is boilerplate within a source when it appears in
# >= 1/BOILER_SHARE_DIV of the source's docs (integer compare: no float
# threshold) and in >= BOILER_MIN_DOCS docs absolutely.
BOILER_SHARE_DIV = 5
BOILER_MIN_DOCS = 5


def text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate share per document: the fraction of each doc's
    distinct trigram shingles that are 'boilerplate' for its source
    (shared by >= 20% and >= 5 of the source's docs) — the
    header/footer/nav-chrome detector of a crawl-curation pipeline.

    Plan shape at scale: shingle-frequency counting is one map-side
    combinable shuffle on (source, shingle); the resulting boilerplate
    set is small by construction (only high-frequency shingles survive)
    and BROADCASTS back onto the exploded corpus, so the per-doc rollup
    again collapses map-side. The share threshold is integer arithmetic
    ({BOILER_SHARE_DIV} * doc_freq >= source_docs) — no float compare.
    """
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    toked = docs.select(
        "doc_id", "source", F.split(F.col("text"), " ").alias("toks")
    ).filter(F.size("toks") >= 3)
    totals = toked.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs_s"))
    # Same structure rules as text_contamination: no sibling
    # size("grams") (n_grams = count(*) in the final rollup), and the
    # explode wraps the shingle expression inline in one projection.
    exploded = toked.select(
        "doc_id",
        "source",
        F.explode(_shingles_of_tokens(F.col("toks"))).alias("gram"),
    )
    gcounts = exploded.groupBy("source", "gram").agg(
        F.count(F.lit(1)).alias("n_docs_g")
    )
    boiler = (
        gcounts.join(F.broadcast(totals), "source")
        .filter(
            (F.col("n_docs_g") >= BOILER_MIN_DOCS)
            & (F.col("n_docs_g") * BOILER_SHARE_DIV >= F.col("n_docs_s"))
        )
        .select("source", "gram")
        .withColumn("hit", F.lit(1))
    )
    return (
        exploded.join(F.broadcast(boiler), ["source", "gram"], "left_outer")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_grams"),
            F.count("hit").alias("n_boiler"),
        )
        .select(
            "doc_id",
            "source",
            "n_grams",
            "n_boiler",
            F.round(F.col("n_boiler") / F.col("n_grams"), 6).alias("boiler_ratio"),
        )
    )


TEXT_BOILERPLATE_SQL = f"""
WITH grams AS (
    SELECT doc_id, source, {_DEDUP_SHINGLES_SQL} AS grams
    FROM documents WHERE len(string_split(text, ' ')) >= 3
), totals AS (
    SELECT source, count(*) AS n_docs_s FROM grams GROUP BY source
), exploded AS (
    SELECT doc_id, source, len(grams) AS n_grams, unnest(grams) AS gram
    FROM grams
), gcounts AS (
    SELECT source, gram, count(*) AS n_docs_g
    FROM exploded GROUP BY source, gram
), boiler AS (
    SELECT g.source, g.gram
    FROM gcounts g JOIN totals t USING (source)
    WHERE g.n_docs_g >= {BOILER_MIN_DOCS}
      AND g.n_docs_g * {BOILER_SHARE_DIV} >= t.n_docs_s
)
SELECT e.doc_id, e.source, e.n_grams,
       CAST(count(b.gram) AS BIGINT) AS n_boiler,
       round(count(b.gram) * 1.0 / e.n_grams, 6) AS boiler_ratio
FROM exploded e
LEFT JOIN boiler b ON b.source = e.source AND b.gram = e.gram
GROUP BY e.doc_id, e.source, e.n_grams
"""


# --------------------------------------------------------------------------
# Repetition signals (Gopher-style quality filters)
# --------------------------------------------------------------------------

# Gopher (Rae et al. 2021, table A1) removes docs whose top word / top
# 2-gram account for too much of the doc; these thresholds are the
# published ones.
REP_TOP_WORD_MAX = 0.20
REP_TOP_BIGRAM_MAX = 0.18


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals: most-frequent-word fraction,
    most-frequent-bigram fraction, unique-word ratio, and the
    keep/drop flag a Gopher-style curation pass derives from them.

    Shape: explode → count per (doc, gram) → max/sum per doc — both
    levels map-side combinable, so the shuffle carries one row per
    distinct (doc, gram), never one per token. The two gram sizes are
    independent aggregations joined back on doc_id (broadcast-able at
    any corpus size since both sides are 1 row/doc, co-partitioned on
    the same key; Catalyst picks SMJ and reuses the partitioning).
    All fractions are integer-derived → exact for the oracle hash.
    """
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    tok = docs.select("doc_id", _tokens().alias("t"))
    # ONE corpus pass (r14, guide §2.3/§2.4): the r13 form built words
    # and bigrams as two consumers of `tok`, so the tokenize ran twice
    # and each gram family paid its own (doc,gram)+(doc) exchange pair
    # plus a doc-level join (6 executed shuffle stages). Both families
    # now ride a single tagged explode — k=1 words, k=2 bigrams (the
    # same grams byte-for-byte; slice length clamped to 0 so <2-token
    # docs contribute no bigrams, exactly the old filter) — aggregated
    # once per (doc_id, k, g) and rolled up per doc with conditional
    # aggregates, replacing the join outright. element_at is 1-based
    # while transform's index is 0-based, hence i+2.
    tagged = tok.select(
        "doc_id",
        F.explode(
            F.expr(
                "concat("
                "transform(t, x -> struct(1 AS k, x AS g)), "
                "transform(slice(t, 1, greatest(size(t) - 1, 0)),"
                " (x, i) -> struct(2 AS k, concat(x, ' ', element_at(t, i + 2)) AS g)))"
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.k").alias("k"), F.col("s.g").alias("g"))
    per_gram = tagged.groupBy("doc_id", "k", "g").agg(
        F.count(F.lit(1)).alias("c")
    )
    is_w = F.col("k") == 1
    is_b = F.col("k") == 2
    per_doc = per_gram.groupBy("doc_id").agg(
        F.sum(F.when(is_w, F.col("c"))).alias("n_words"),
        F.max(F.when(is_w, F.col("c"))).alias("top_word_cnt"),
        F.sum(is_w.cast("long")).alias("n_unique_words"),
        F.sum(F.when(is_b, F.col("c"))).alias("n_bigrams"),
        F.max(F.when(is_b, F.col("c"))).alias("top_bigram_cnt"),
    )
    top_word_frac = F.round(F.col("top_word_cnt") / F.col("n_words"), 6)
    top_bigram_frac = F.round(F.col("top_bigram_cnt") / F.col("n_bigrams"), 6)
    return (
        per_doc
        .select(
            "doc_id",
            "n_words",
            "n_unique_words",
            top_word_frac.alias("top_word_frac"),
            F.coalesce(top_bigram_frac, F.lit(0.0)).alias("top_bigram_frac"),
            F.round(F.col("n_unique_words") / F.col("n_words"), 6).alias(
                "unique_word_ratio"
            ),
            (
                (top_word_frac <= F.lit(REP_TOP_WORD_MAX))
                & (F.coalesce(top_bigram_frac, F.lit(0.0))
                   <= F.lit(REP_TOP_BIGRAM_MAX))
            ).alias("keep"),
        )
    )


TEXT_REPETITION_SQL = f"""
WITH tok AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), words AS (
    SELECT doc_id, unnest(t) AS g FROM tok
), bigrams AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t)),
                                 i -> t[i] || ' ' || t[i + 1])) AS g
    FROM tok WHERE len(t) >= 2
), wstat AS (
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
           CAST(max(c) AS BIGINT) AS top_word_cnt,
           CAST(count(*) AS BIGINT) AS n_unique_words
    FROM (SELECT doc_id, g, count(*) AS c FROM words GROUP BY 1, 2)
    GROUP BY doc_id
), bstat AS (
    SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram_cnt,
           CAST(sum(c) AS BIGINT) AS n_bigrams
    FROM (SELECT doc_id, g, count(*) AS c FROM bigrams GROUP BY 1, 2)
    GROUP BY doc_id
)
SELECT w.doc_id, w.n_words, w.n_unique_words,
       round(w.top_word_cnt * 1.0 / w.n_words, 6) AS top_word_frac,
       coalesce(round(b.top_bigram_cnt * 1.0 / b.n_bigrams, 6), 0.0)
           AS top_bigram_frac,
       round(w.n_unique_words * 1.0 / w.n_words, 6) AS unique_word_ratio,
       (round(w.top_word_cnt * 1.0 / w.n_words, 6) <= {REP_TOP_WORD_MAX}
        AND coalesce(round(b.top_bigram_cnt * 1.0 / b.n_bigrams, 6), 0.0)
            <= {REP_TOP_BIGRAM_MAX}) AS keep
FROM wstat w LEFT JOIN bstat b USING (doc_id)
"""


# --------------------------------------------------------------------------
# Corpus bigram-LM typicality (fluency proxy for curation gates)
# --------------------------------------------------------------------------

def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM typicality score per document: the mean corpus
    frequency of the document's token bigrams. A document whose word
    transitions are common across the corpus scores high; boilerplate
    shuffled or garbled text scores low — the count-based skeleton of
    the n-gram-LM perplexity gates (KenLM-style) production curation
    pipelines run, with the probability model kept integer-exact
    (mean of bigint counts) so the oracle hash is order-insensitive.

    Plan (r14, guide §2.3 "aggregate before you shuffle" + §2.4): ONE
    explode feeds one per-(doc, bigram) count aggregate ``tf`` (map-side
    combinable, so the only instance-level rows never leave their scan
    partition); the corpus count per bigram is then a window sum over
    ``tf`` keyed by the bigram — the same relation the r13 plan
    re-derived by exploding the corpus a SECOND time and broadcasting
    the counts back (2 Scan + 2 Generate in the before plan; the
    broadcast also capped the model at driver memory, which at 100 TB
    it cannot hold). Per-doc typicality is recomputed exactly:
    Σ_g cnt·corpus_cnt / Σ_g cnt over BIGINTs equals the instance-level
    mean term for term. One scan, one explode, every exchange carries
    aggregated rows; no broadcast of an unbounded model at any scale.
    """
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    tok = docs.select("doc_id", "lang", _tokens().alias("t"))
    bigrams = tok.filter(F.size("t") >= 2).select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(slice(t, 1, size(t) - 1),"
                " (x, i) -> concat(x, ' ', element_at(t, i + 2)))"
            )
        ).alias("g"),
    )
    tf = bigrams.groupBy("doc_id", "lang", "g").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wg = Window.partitionBy("g")
    return (
        tf.withColumn("corpus_cnt", F.sum("cnt").over(wg))
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.round(
                F.sum(F.col("cnt") * F.col("corpus_cnt")) / F.sum("cnt"), 6
            ).alias("typicality"),
        )
    )


TEXT_BIGRAM_LM_SQL = """
WITH tok AS (
    SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
), bigrams AS (
    SELECT doc_id, lang,
           unnest(list_transform(range(1, len(t)),
                                 i -> t[i] || ' ' || t[i + 1])) AS g
    FROM tok WHERE len(t) >= 2
), lm AS (
    SELECT g, count(*) AS corpus_cnt FROM bigrams GROUP BY g
)
SELECT b.doc_id, b.lang,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(sum(lm.corpus_cnt) * 1.0 / count(*), 6) AS typicality
FROM bigrams b JOIN lm USING (g)
GROUP BY b.doc_id, b.lang
"""


# --------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, Appendix A) — the published
# rule-based document filter, thresholds fixture-adapted where noted.
# --------------------------------------------------------------------------

GOPHER_MIN_WORDS = 30       # Gopher uses 50; fixture docs average ~50 words
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_WORD_LEN = 3.0
GOPHER_MAX_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_RATIO = 0.8
# Gopher requires >=2 distinct English function words; the fixture
# vocabulary contains exactly these two.
GOPHER_STOPWORDS = ["the", "a"]
GOPHER_MIN_STOPWORDS = 2


def gopher_feature_cols() -> list[F.Column]:
    """The five Gopher rule features, as columns over ``text`` — every
    one integer-derived (counts and 6-decimal ratios of counts), so the
    downstream rule booleans are bit-identical across engines."""
    toks = _tokens()
    n = F.size(toks)
    sum_len = F.aggregate(F.transform(toks, F.length), F.lit(0), lambda a, x: a + x)
    n_symbol = F.size(
        F.filter(toks, lambda t: t.contains("#") | t.contains("..."))
    )
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(toks), F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
        )
    )
    return [
        n.alias("n_words"),
        F.round(sum_len / n, 6).alias("mean_word_len"),
        F.round(n_symbol / n, 6).alias("symbol_ratio"),
        F.round(n_alpha / n, 6).alias("alpha_ratio"),
        n_stop.alias("n_stopwords"),
    ]


def gopher_rule_exprs() -> dict[str, F.Column]:
    """Rule booleans over the MATERIALIZED feature columns (two-step
    projection — see the HOF re-inlining note in operators/dedup.py)."""
    return {
        "rule_word_count": F.col("n_words").between(
            GOPHER_MIN_WORDS, GOPHER_MAX_WORDS
        ),
        "rule_word_len": F.col("mean_word_len").between(
            GOPHER_MIN_WORD_LEN, GOPHER_MAX_WORD_LEN
        ),
        "rule_symbol_ratio": F.col("symbol_ratio") <= GOPHER_MAX_SYMBOL_RATIO,
        "rule_alpha_ratio": F.col("alpha_ratio") >= GOPHER_MIN_ALPHA_RATIO,
        "rule_stopwords": F.col("n_stopwords") >= GOPHER_MIN_STOPWORDS,
    }


# DuckDB twin of gopher_feature_cols() (projection list over documents).
_GOPHER_FEATS_SQL = f"""
           len(string_split(text, ' ')) AS n_words,
           round(list_reduce(list_prepend(0, list_transform(
                     string_split(text, ' '), t -> length(t))),
                     (a, b) -> a + b)
                 / len(string_split(text, ' ')), 6) AS mean_word_len,
           round(len(list_filter(string_split(text, ' '),
                     t -> contains(t, '#') OR contains(t, '...')))
                 / len(string_split(text, ' ')), 6) AS symbol_ratio,
           round(len(list_filter(string_split(text, ' '),
                     t -> regexp_matches(t, '[A-Za-z]')))
                 / len(string_split(text, ' ')), 6) AS alpha_ratio,
           len(list_intersect(list_distinct(string_split(text, ' ')),
               {_sql_list(GOPHER_STOPWORDS)})) AS n_stopwords
"""

# DuckDB twin of the keep conjunction, over the feats columns.
_GOPHER_KEEP_SQL = f"""(n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
       AND (mean_word_len BETWEEN {GOPHER_MIN_WORD_LEN}
                              AND {GOPHER_MAX_WORD_LEN})
       AND symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
       AND alpha_ratio >= {GOPHER_MIN_ALPHA_RATIO}
       AND n_stopwords >= {GOPHER_MIN_STOPWORDS}"""


def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher rule evaluation (Rae et al. 2021, App. A):
    five published rule families (word-count bounds, mean-word-length
    bounds, symbol-to-word ratio, alphabetic-word ratio, stopword
    presence) as explicit boolean columns plus the conjunction ``keep``.

    Scale: embarrassingly parallel single scan, no shuffle at all; the
    natural first gate of a curation pipeline, run before anything that
    shuffles.
    """
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    feats = docs.select("doc_id", "lang", "source", *gopher_feature_cols())
    rules = gopher_rule_exprs()
    keep = rules["rule_word_count"]
    for name in list(rules)[1:]:
        keep = keep & rules[name]
    return feats.select(
        "*",
        *[expr.alias(name) for name, expr in rules.items()],
        keep.alias("keep"),
    )


TEXT_GOPHER_RULES_SQL = f"""
WITH feats AS (
    SELECT doc_id, lang, source,
           {_GOPHER_FEATS_SQL}
    FROM documents
)
SELECT *,
       n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
           AS rule_word_count,
       mean_word_len BETWEEN {GOPHER_MIN_WORD_LEN} AND {GOPHER_MAX_WORD_LEN}
           AS rule_word_len,
       symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO} AS rule_symbol_ratio,
       alpha_ratio >= {GOPHER_MIN_ALPHA_RATIO} AS rule_alpha_ratio,
       n_stopwords >= {GOPHER_MIN_STOPWORDS} AS rule_stopwords,
       {_GOPHER_KEEP_SQL} AS keep
FROM feats
"""


# --------------------------------------------------------------------------
# Document chunking: overlapping token windows (context-length prep)
# --------------------------------------------------------------------------

CHUNK_TOKENS = 64   # tokens per chunk (the training context window)
CHUNK_STRIDE = 48   # window stride → 16-token overlap between chunks


def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into overlapping token-window chunks — the
    context-length preparation step every pretraining / RAG-indexing
    pipeline runs before tokenization proper (window CHUNK_TOKENS,
    stride CHUNK_STRIDE, so consecutive chunks share the overlap that
    keeps boundary sentences learnable).

    Pure built-ins: one split, one sequence→explode over chunk starts,
    one slice per chunk — per-row projection work, no shuffle at all,
    embarrassingly parallel at any corpus size. A doc shorter than one
    window yields exactly one (possibly short) chunk; the final
    partial window is kept iff it starts inside the document (standard
    fixed-stride chunking semantics).
    """
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    toks = _tokens()
    n = F.size(toks)
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(CHUNK_STRIDE))
    chunk = F.slice(F.col("toks"), F.col("start"), CHUNK_TOKENS)
    return (
        docs.select(
            "doc_id",
            "lang",
            n.alias("n_tokens"),
            F.explode(starts).alias("start"),
            toks.alias("toks"),
        )
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            ((F.col("start") - 1) / CHUNK_STRIDE).cast("long").alias("chunk_idx"),
            "start",
            F.size(chunk).alias("chunk_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


TEXT_CHUNKING_SQL = f"""
WITH base AS (
    SELECT doc_id, lang, string_split(text, ' ') AS toks,
           len(string_split(text, ' ')) AS n_tokens
    FROM documents
), starts AS (
    SELECT doc_id, lang, toks, n_tokens,
           unnest(range(1, greatest(n_tokens, 1) + 1, {CHUNK_STRIDE}))
               AS start
    FROM base
)
SELECT doc_id, lang, n_tokens,
       (start - 1) // {CHUNK_STRIDE} AS chunk_idx,
       start,
       len(toks[start : least(start + {CHUNK_TOKENS} - 1, n_tokens)])
           AS chunk_tokens,
       array_to_string(
           toks[start : least(start + {CHUNK_TOKENS} - 1, n_tokens)], ' ')
           AS chunk_text
FROM starts
"""


# --------------------------------------------------------------------------
# PII scrub — detect + redact emails / IPv4s / phone numbers
# --------------------------------------------------------------------------

# Patterns restricted to the Java-regex ∩ RE2 common dialect so Spark
# and DuckDB compile them identically (no lookaround, no backrefs).
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\+\d{1,2}-\d{3}-\d{3}-\d{4}"


def _pii_augmented() -> F.Column:
    """The fixture text is synthetic word soup with no PII, so the
    query INJECTS deterministic PII derived from doc_id (the same
    synthesize-inside-the-query pattern refsemantics uses for MQTT
    frames) — every modulus class exercises a different entity mix,
    including docs with several entities and docs with none."""
    did = F.col("doc_id")
    email = F.when(
        did % 3 == 0,
        F.concat(F.lit("user"), did.cast("string"), F.lit("@example.com")),
    )
    ip = F.when(
        did % 5 == 0,
        F.concat_ws(
            ".",
            F.lit("10"),
            (did % 200).cast("string"),
            (did % 250).cast("string"),
            (did % 254 + 1).cast("string"),
        ),
    )
    phone = F.when(
        did % 7 == 0,
        F.concat(
            F.lit("+1-555-"),
            F.lpad((did % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
        ),
    )
    return F.concat_ws(" ", F.col("text"), email, ip, phone)


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction — the scrub gate every LLM training
    corpus passes before tokenization. Counts each entity class
    (emails, IPv4s, phone numbers) and replaces them with typed
    redaction tokens; the scrubbed text is verified by hash so the
    oracle proves the REDACTED BYTES, not just the counts.

    Pure per-row regexp projection (count via regexp_extract_all,
    redact via chained regexp_replace): no shuffle, whole-stage
    codegen, embarrassingly parallel at 100 TB.
    """
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    aug = docs.select("doc_id", _pii_augmented().alias("aug"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("aug"), _PII_EMAIL, "[EMAIL]"),
            _PII_PHONE,
            "[PHONE]",
        ),
        _PII_IPV4,
        "[IP]",
    )
    return aug.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("aug"), F.lit(_PII_EMAIL), F.lit(0))).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(F.col("aug"), F.lit(_PII_IPV4), F.lit(0))).alias(
            "n_ips"
        ),
        F.size(F.regexp_extract_all(F.col("aug"), F.lit(_PII_PHONE), F.lit(0))).alias(
            "n_phones"
        ),
        F.length(scrubbed).alias("scrub_len"),
        F.md5(scrubbed).alias("scrub_hash"),
    )


_PII_AUG_SQL = """
concat_ws(' ', text,
    CASE WHEN doc_id % 3 = 0
         THEN 'user' || CAST(doc_id AS VARCHAR) || '@example.com' END,
    CASE WHEN doc_id % 5 = 0
         THEN concat_ws('.', '10', CAST(doc_id % 200 AS VARCHAR),
                        CAST(doc_id % 250 AS VARCHAR),
                        CAST(doc_id % 254 + 1 AS VARCHAR)) END,
    CASE WHEN doc_id % 7 = 0
         THEN '+1-555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
              || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') END)
"""

TEXT_PII_SCRUB_SQL = f"""
WITH aug AS (
    SELECT doc_id, {_PII_AUG_SQL} AS aug FROM documents
), scrub AS (
    SELECT doc_id, aug,
           regexp_replace(
               regexp_replace(
                   regexp_replace(aug, '{_PII_EMAIL}', '[EMAIL]', 'g'),
                   '{_PII_PHONE}', '[PHONE]', 'g'),
               '{_PII_IPV4}', '[IP]', 'g') AS scrubbed
    FROM aug
)
SELECT doc_id,
       len(regexp_extract_all(aug, '{_PII_EMAIL}')) AS n_emails,
       len(regexp_extract_all(aug, '{_PII_IPV4}')) AS n_ips,
       len(regexp_extract_all(aug, '{_PII_PHONE}')) AS n_phones,
       length(scrubbed) AS scrub_len,
       md5(scrubbed) AS scrub_hash
FROM scrub
"""


# --------------------------------------------------------------------------
# BM25 retrieval (Okapi BM25 — Robertson et al., TREC-3)
# --------------------------------------------------------------------------

# Standard Okapi constants. Injected into the oracle SQL via repr() so
# both engines parse the IDENTICAL double (Python repr round-trips, and
# both strtod implementations are correctly rounded).
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY_STRIDE = 100  # every-100th doc poses a query...
BM25_MAX_QUERIES = 50    # ...but the query SET is bounded (measured: an
                         # unbounded every-100th set made the scored
                         # relation grow superlinearly — 2 s at sf0.1 vs
                         # 40 s at the 10x stress corpus, whose 31-word
                         # vocabulary makes every query match every doc;
                         # bounded queries restore linear corpus scaling,
                         # the same contract as sim_cosine_topk's
                         # vec_id < 100 query set)
BM25_QUERY_TERMS = 8     # query = first N distinct words of that doc
BM25_TOPK = 5


def _bm25_query_filter(id_col: str = "doc_id") -> F.Column:
    """Query-set membership predicate, shared by the lexical retriever
    (over doc_id) and the hybrid fusion's vector side (over vec_id) so
    the two retrievers can never drift onto different query sets."""
    return (F.col(id_col) % BM25_QUERY_STRIDE == 0) & (
        F.col(id_col) < BM25_QUERY_STRIDE * BM25_MAX_QUERIES
    )


def _bm25_micro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, doc_id, bm25_micro, n_terms) — exact integer-micro BM25
    partial scores summed per (query, doc).

    Scale shape: the query set is bounded (one doc per
    ``BM25_QUERY_STRIDE``) and its distinct word set broadcasts; the
    token explode is pruned to query vocabulary BY that broadcast join
    BEFORE any aggregation, so both the tf and df aggregations see only
    query-vocabulary tokens (word-count-shaped, map-side combinable).
    The per-term float score is rounded to 6 dp and summed as integer
    micros — order-free, so the hash gate cannot be broken by shuffle
    nondeterminism. Corpus stats (N, avgdl) ride the plan as a 1-row
    broadcast aggregate, never an eager count.
    """
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    qterms = (
        load_table(spark, sf_dir, "documents")
        .filter(_bm25_query_filter())
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(
                F.array_distinct(F.slice(_tokens(), 1, BM25_QUERY_TERMS))
            ).alias("word"),
        )
    )

    # Persisted tf relation (r14, guide §5 caching + §2.4), campaign tag
    # ``bm25``: it is consumed by BOTH the df aggregation (broadcast
    # build) and the scored chain; left unshared, each consumer
    # re-tokenized the corpus (stage-profiled at sf0.1: two 32-task
    # explode stages, 18.4 s of executor CPU for one query). text_bm25
    # and sim_hybrid_rrf share one materialization per campaign. The
    # relation is query-vocabulary-pruned (tokens matching the bounded
    # query set's words), so at 100 TB it persists MEMORY_AND_DISK at a
    # fraction of corpus token volume; the alternative is a second full
    # corpus tokenize per consumer.
    def build_tf() -> DataFrame:
        tok = docs.select(
            "doc_id",
            F.size(_tokens()).alias("dl"),
            F.explode(_tokens()).alias("word"),
        )
        tok_q = tok.join(
            F.broadcast(qterms.select("word").distinct()), "word"
        )
        return (
            tok_q.groupBy("doc_id", "dl", "word")
            .agg(F.count(F.lit(1)).alias("tf"))
            .persist()
        )

    tf = campaign(spark, "bm25", sf_dir, build_tf)
    # df falls out of tf for free: each (doc, word) is one tf row, so
    # df(word) = count(*) — aggregated to a vocabulary-bounded table
    # and broadcast back. Measured A/B at sf0.1: this groupBy+broadcast
    # form beats a count() OVER (PARTITION BY word) window (1.75 s vs
    # 2.12 s) — the window must SORT every tf row within per-word
    # partitions, and word frequencies are Zipf-skewed (the fixture has
    # ~31 distinct words), while the groupBy collapses map-side.
    # Catalyst does evaluate the tf subtree twice (one per consumer);
    # both evaluations are pruned to query vocabulary by the broadcast
    # join below, and two combinable aggregations over one corpus scan
    # each is the standard TF-IDF shape (text_tfidf_top ships the
    # same plan).
    df_tbl = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    # r14: stats tokenizes the WHOLE corpus for avgdl — off the
    # rebalanced scan it runs 32-way parallel (and canonically matches
    # tok's scan+rebalance subtree, so AQE can reuse the exchange);
    # the old un-rebalanced load ran the full split() serially in the
    # scan's single input partition (~1 s of the query's wall at sf0.1,
    # stage-profiled via the UI REST API).
    stats = docs.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(F.size(_tokens())).alias("avgdl"),
    )
    idf = F.ln(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tfn = (F.col("tf") * F.lit(BM25_K1 + 1.0)) / (
        F.col("tf")
        + F.lit(BM25_K1)
        * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(qterms), "word")
        .join(F.broadcast(df_tbl), "word")
        .join(F.broadcast(stats), F.lit(True))
        .select(
            "query_id",
            "doc_id",
            F.round(F.round(idf * tfn, 6) * 1000000, 0)
            .cast("bigint")
            .alias("smicro"),
        )
    )
    return scored.groupBy("query_id", "doc_id").agg(
        F.sum("smicro").alias("bm25_micro"),
        F.count(F.lit(1)).alias("n_terms"),
    )


def bm25_ranked(spark: SparkSession, sf_dir: str, topk: int) -> DataFrame:
    """BM25 ranking per query, cut to ``topk`` via WindowGroupLimit."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25_micro").desc(), F.col("doc_id")
    )
    return (
        _bm25_micro(spark, sf_dir)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
    )


def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k retrieval for a bounded query set — the lexical
    half of every RAG / contamination-screen retrieval stack (the other
    half, embedding ANN, lives in operators/similarity.py; their fusion
    is ``sim_hybrid_rrf``)."""
    return bm25_ranked(spark, sf_dir, BM25_TOPK).select(
        "query_id",
        "doc_id",
        "rank",
        F.round(F.col("bm25_micro") / 1000000.0, 6).alias("bm25"),
        "n_terms",
    )


# Shared CTE chain: everything up to the ranked relation. Embedded both
# by TEXT_BM25_SQL and (as a subquery) by SIM_HYBRID_RRF_SQL.
_BM25_RANKED_SQL_TMPL = f"""
WITH qterms AS (
    SELECT doc_id AS query_id,
           unnest(list_distinct(string_split(text, ' ')[1:{BM25_QUERY_TERMS}]))
               AS word
    FROM documents
    WHERE doc_id % {BM25_QUERY_STRIDE} = 0
      AND doc_id < {BM25_QUERY_STRIDE * BM25_MAX_QUERIES}
), tok AS (
    SELECT doc_id, len(string_split(text, ' ')) AS dl,
           unnest(string_split(text, ' ')) AS word
    FROM documents
), qwords AS (SELECT DISTINCT word FROM qterms),
tok_q AS (SELECT t.* FROM tok t JOIN qwords USING (word)),
tf AS (
    SELECT doc_id, dl, word, count(*) AS tf FROM tok_q GROUP BY 1, 2, 3
), dft AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
stats AS (
    SELECT count(*)::DOUBLE AS n_docs,
           avg(len(string_split(text, ' '))) AS avgdl
    FROM documents
), scored AS (
    SELECT q.query_id, tf.doc_id,
           CAST(round(round(
               ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * (tf * {BM25_K1 + 1.0!r}
                  / (tf + {BM25_K1!r}
                     * ({1.0 - BM25_B!r} + {BM25_B!r} * dl / avgdl)))
           , 6) * 1000000, 0) AS BIGINT) AS smicro
    FROM tf
    JOIN qterms q USING (word)
    JOIN dft USING (word)
    CROSS JOIN stats
), agg AS (
    SELECT query_id, doc_id,
           CAST(sum(smicro) AS BIGINT) AS bm25_micro,
           count(*) AS n_terms
    FROM scored GROUP BY 1, 2
), ranked AS (
    SELECT query_id, doc_id, bm25_micro, n_terms,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY bm25_micro DESC, doc_id) AS rank
    FROM agg
)
SELECT {{cols}} FROM ranked WHERE rank <= {{topk}}"""

TEXT_BM25_SQL = _BM25_RANKED_SQL_TMPL.format(
    cols="query_id, doc_id, rank, "
    "round(bm25_micro / 1000000.0, 6) AS bm25, n_terms",
    topk=BM25_TOPK,
)


# --------------------------------------------------------------------------
# DSIR importance weights (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling")
# --------------------------------------------------------------------------

DSIR_BUCKETS = 4096  # hashed n-gram feature space (paper: 10^4)

def text_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weight per document: hashed unigram+bigram
    features, two bag-of-buckets n-gram models (target = the 'en'
    slice standing in for the paper's high-quality domain; raw = the
    whole corpus), and per-doc log importance
    log w(d) = Σ_b c_d(b)·[ln p_target(b) − ln p_raw(b)]
    with Laplace-smoothed bucket probabilities. Resampling then keeps
    docs ∝ exp(log w) — the selection gate production LLM pipelines
    run ahead of training.

    Hash discipline: the per-bucket log-likelihood-ratio is fixed to
    exact micro-units (round(llr·1e6) as a long) before the per-doc
    sum, so the corpus-wide aggregation is an INTEGER sum — order-
    insensitive, one double division at the end. The ln inputs are
    bit-identical integer ratios in both engines, so the only libm
    exposure is one ulp on a value pre-rounded to 6 decimals.

    Scale shape: the corpus-token-sized explode feeds EXACTLY ONE
    shuffle — the per-(doc, bucket) counts, persisted in the campaign
    cache under the tag ``dsir`` (Catalyst collapses the agg-over-agg,
    so without the persist every consumer re-runs the explode). The
    bucket stats are a ≤4096-group re-agg of the cached counts,
    totals a 1-row broadcast, and the 4096-row LLR model broadcasts
    back onto the same cached counts (plan-pinned: all three
    consumers read InMemoryTableScan). No driver-side vocabulary;
    model size bounded by DSIR_BUCKETS at any corpus size.
    """
    docb = _dsir_docb(spark, sf_dir)
    llr = dsir_llr_model(spark, sf_dir)
    return (
        docb.join(F.broadcast(llr), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c").alias("n_feats"),
            F.round(F.sum(F.col("c") * F.col("m")) / 1_000_000.0, 6).alias(
                "logw"
            ),
        )
        .select("doc_id", "lang", "n_feats", "logw")
    )


def _dsir_buckets(df: DataFrame, carry: list[str]) -> DataFrame:
    """(doc_id, text, *carry) → exploded hashed feature buckets
    (doc_id, *carry, b): lowercase-free space tokens (the corpus
    fixture convention), unigrams + bigrams, md5-prefix hash mod
    DSIR_BUCKETS. Shared verbatim by the corpus model build and the
    streaming batch scorer, so the two sides can never drift."""
    tok = df.select("doc_id", *carry, _tokens().alias("t"))
    feats = tok.select(
        "doc_id",
        *carry,
        F.explode(
            F.concat(
                F.col("t"),
                F.expr(
                    "transform(slice(t, 1, size(t) - 1),"
                    " (x, i) -> concat(x, ' ', element_at(t, i + 2)))"
                ),
            )
        ).alias("f"),
    )
    return feats.select(
        "doc_id",
        *carry,
        (
            F.conv(F.substring(F.md5(F.col("f")), 1, 15), 16, 10).cast("long")
            % F.lit(DSIR_BUCKETS)
        ).alias("b"),
    )


def _dsir_docb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONE corpus-wide shuffle of the DSIR pass: per-(doc, bucket)
    feature counts with lang riding along (functionally dependent on
    doc_id, so no later corpus scan is needed). Persisted under the
    campaign tag ``dsir``: the bucket stats and the scoring join both
    read these counts, and Catalyst collapses the agg-over-agg into
    independent aggregations over the raw explode, so without the
    persist the corpus is exploded once per consumer. The persist is
    the production shape: one explode, everything else derives from
    the cached counts. The DSIR queries declare the tag cold
    (``operators.COLD_TAGS``) so their timed reps measure the plan."""

    def build() -> DataFrame:
        from pyspark import StorageLevel

        docs = load_table(spark, sf_dir, "documents", rebalance=True)
        return (
            _dsir_buckets(docs, ["lang"])
            .groupBy("doc_id", "lang", "b")
            .agg(F.count(F.lit(1)).alias("c"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

    return campaign(spark, "dsir", sf_dir, build)


def dsir_llr_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frozen DSIR model: exactly DSIR_BUCKETS rows of (b, m)
    where m is the Laplace-smoothed log-likelihood-ratio in exact
    micro-units. The bucket spine is COMPLETE — buckets unseen in the
    corpus carry the zero-count smoothing ratio — so scoring a batch
    is always an inner join that can never silently drop a feature
    (an incomplete model made all-novel docs vanish from the screen;
    pinned by tests/test_streaming.py's novel-doc rows). Campaign-
    static — the streaming screen broadcasts it against every
    incoming micro-batch."""
    docb = _dsir_docb(spark, sf_dir)
    observed = docb.groupBy("b").agg(
        F.sum("c").alias("n_r"),
        F.sum(F.when(F.col("lang") == "en", F.col("c")).otherwise(0)).alias(
            "n_t"
        ),
    )
    spine = spark.range(DSIR_BUCKETS).select(F.col("id").alias("b"))
    bstats = spine.join(observed, "b", "left").fillna(0, ["n_r", "n_t"])
    # Corpus totals via ONE global window over the bounded bstats
    # relation (exactly DSIR_BUCKETS rows) instead of a separate
    # agg + crossJoin: the two references to bstats each re-ran the
    # `observed` aggregation — a full cache scan + shuffle apiece
    # (measured: two 32-task stages, 10.1 s + 4.1 s executor CPU at
    # sf0.1, and the canonical-twin exchanges raced as separate
    # broadcast jobs before reuse could register). Long-integer sums,
    # so nr/nt — and every downstream llr micro-unit — are identical.
    wall = Window.partitionBy()
    totals = bstats.select(
        "b",
        "n_r",
        "n_t",
        F.sum("n_r").over(wall).alias("nr"),
        F.sum("n_t").over(wall).alias("nt"),
    )
    return totals.select(
        "b",
        F.round(
            (
                F.log((F.col("n_t") + 1) / (F.col("nt") + DSIR_BUCKETS))
                - F.log((F.col("n_r") + 1) / (F.col("nr") + DSIR_BUCKETS))
            )
            * 1_000_000
        )
        .cast("long")
        .alias("m"),
    )


def dsir_score(batch: DataFrame, llr: DataFrame) -> DataFrame:
    """Score an arbitrary (doc_id, text) batch against a frozen LLR
    model: same bucket kernel, same integer-micro-unit sum, same
    round-last discipline as the corpus pass — a doc scored at ingest
    equals the same doc scored in the batch campaign bit-for-bit."""
    counts = (
        _dsir_buckets(batch, [])
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        counts.join(F.broadcast(llr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_feats"),
            F.round(F.sum(F.col("c") * F.col("m")) / 1_000_000.0, 6).alias(
                "logw"
            ),
        )
        .select("doc_id", "n_feats", "logw")
    )


TEXT_DSIR_IMPORTANCE_SQL = f"""
WITH tok AS (
    SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
), feats AS (
    SELECT doc_id, lang,
           unnest(list_concat(t,
               list_transform(range(1, len(t)),
                              i -> t[i] || ' ' || t[i + 1]))) AS f
    FROM tok
), hb AS (
    SELECT doc_id, lang,
           CAST(('0x' || substr(md5(f), 1, 15)) AS BIGINT)
               % {DSIR_BUCKETS} AS b
    FROM feats
), bstats AS (
    SELECT b,
           CAST(count(*) AS BIGINT) AS n_r,
           CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS n_t
    FROM hb GROUP BY b
), tot AS (
    SELECT CAST(sum(n_r) AS BIGINT) AS nr,
           CAST(sum(n_t) AS BIGINT) AS nt
    FROM bstats
), llr AS (
    SELECT b,
           CAST(round((ln((n_t + 1) / (nt + {DSIR_BUCKETS}))
                       - ln((n_r + 1) / (nr + {DSIR_BUCKETS})))
                      * 1000000) AS BIGINT) AS m
    FROM bstats, tot
), docb AS (
    SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c
    FROM hb GROUP BY doc_id, b
), sc AS (
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_feats,
           round(CAST(sum(c * m) AS BIGINT) / 1000000.0, 6) AS logw
    FROM docb JOIN llr USING (b)
    GROUP BY doc_id
)
SELECT d.doc_id, d.lang, s.n_feats, s.logw
FROM sc s JOIN documents d ON d.doc_id = s.doc_id
"""


QUERIES = {
    "text_bm25": text_bm25,
    "text_pii_scrub": text_pii_scrub,
    "text_token_stats": text_token_stats,
    "text_gopher_rules": text_gopher_rules,
    "text_bigram_lm": text_bigram_lm,
    "text_contamination": text_contamination,
    "text_boilerplate": text_boilerplate,
    "text_repetition": text_repetition,
    "text_regex_tokens": text_regex_tokens,
    "text_word_freq": text_word_freq,
    "text_tfidf_top": text_tfidf_top,
    "text_langid": text_langid,
    "text_langid_ngram": text_langid_ngram,
    "text_quality": text_quality,
    "text_fingerprint": text_fingerprint,
    "text_chunking": text_chunking,
    "text_entropy": text_entropy,
    "text_dsir_importance": text_dsir_importance,
}

ORACLES = {
    "text_bm25": TEXT_BM25_SQL,
    "text_pii_scrub": TEXT_PII_SCRUB_SQL,
    "text_token_stats": TEXT_TOKEN_STATS_SQL,
    "text_gopher_rules": TEXT_GOPHER_RULES_SQL,
    "text_bigram_lm": TEXT_BIGRAM_LM_SQL,
    "text_contamination": TEXT_CONTAMINATION_SQL,
    "text_boilerplate": TEXT_BOILERPLATE_SQL,
    "text_repetition": TEXT_REPETITION_SQL,
    "text_regex_tokens": TEXT_REGEX_TOKENS_SQL,
    "text_word_freq": TEXT_WORD_FREQ_SQL,
    "text_tfidf_top": TEXT_TFIDF_TOP_SQL,
    "text_langid": TEXT_LANGID_SQL,
    "text_langid_ngram": TEXT_LANGID_NGRAM_SQL,
    "text_quality": TEXT_QUALITY_SQL,
    "text_fingerprint": TEXT_FINGERPRINT_SQL,
    "text_chunking": TEXT_CHUNKING_SQL,
    "text_entropy": TEXT_ENTROPY_SQL,
    "text_dsir_importance": TEXT_DSIR_IMPORTANCE_SQL,
}

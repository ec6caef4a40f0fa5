"""Physical-plan quality checks (SURVEY.md §4, §7 step 6).

At 100 TB the difference between a right plan and a wrong one is not
style — a scan that reads every column, a filter that didn't reach
parquet, or an accidental CartesianProduct each turn into hours of
cluster time. These helpers make plan shape ASSERTABLE, so tests pin
the properties .explain() shows and regressions fail loudly:

- ``pushed_filters``: predicates that reached the parquet reader
  (PushedFilters: [...]) — partition pruning & row-group skipping.
- ``read_schema``: columns the scan actually decodes (ReadSchema) —
  column pruning.
- ``has_broadcast_join`` / ``has_sort_merge_join`` / ``has_cartesian``:
  join strategy actually chosen.
- ``codegen_coverage``: fraction of physical operators inside
  WholeStageCodegen spans — the "stay JVM-side" metric.

``tools/plan_audit.py`` prints the full report for every registered
query.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def plan_str(df: DataFrame, mode: str = "formatted") -> str:
    """Capture ``df.explain(mode)`` as a string."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's parquet scans, one
    whole predicate each: commas and brackets inside a predicate
    (``EqualTo(a,1)``, ``In(a, [1,2])``) stay with it."""
    text = plan_str(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[", text):
        depth, begin = 0, m.end()
        for i in range(m.end(), len(text)):
            depth += (text[i] in "([") - (text[i] in ")]")
            if depth < 0 or depth == 0 and text[i] == ",":
                out.append(text[begin:i].strip())
                begin = i + 1
            if depth < 0:
                break
    return [p for p in out if p]


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema struct strings, one per file scan."""
    return [m.group(1) for m in re.finditer(r"ReadSchema: (struct<[^\n]*)", plan_str(df))]


def scan_columns(df: DataFrame) -> list[set[str]]:
    """Column-name sets actually decoded by each scan."""
    cols = []
    for schema in read_schemas(df):
        names = re.findall(r"([A-Za-z_][A-Za-z0-9_]*):", schema)
        cols.append(set(names))
    return cols


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in plan_str(df) or "BroadcastNestedLoopJoin" in plan_str(df)


def has_sort_merge_join(df: DataFrame) -> bool:
    return "SortMergeJoin" in plan_str(df)


def has_cartesian(df: DataFrame) -> bool:
    """CartesianProduct = both sides big AND non-equi: almost always a
    bug. (BroadcastNestedLoopJoin with a small side is the acceptable
    non-equi form and does NOT count.)"""
    return "CartesianProduct" in plan_str(df)


def final_plan_str(df: DataFrame) -> str:
    """Execute the plan (noop sink) and return the FINAL adaptive
    physical plan. Under AQE the pre-execution plan has no codegen
    stars and may re-plan joins at runtime — only the executed plan
    shows what actually ran."""
    # collect(), not write(): a write creates a NEW QueryExecution for
    # the command, leaving this df's own adaptive plan un-finalized.
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def codegen_coverage(df: DataFrame, executed: bool = True) -> float:
    """Fraction of physical operator lines inside WholeStageCodegen
    spans (starred '*(n)' in the final plan). Python-UDF stages
    (ArrowEvalPython/MapInPandas/FlatMapGroupsInPandas) and Exchanges
    legitimately sit outside codegen."""
    text = final_plan_str(df) if executed else plan_str(df, "simple")
    ops = re.findall(r"^[ +:\-]*(\*?)\(?\d*\)?\s*([A-Za-z][A-Za-z0-9]+)", text, re.M)
    ops = [(s, name) for s, name in ops
           if name not in ("AdaptiveSparkPlan", "ResultQueryStage",
                           "ShuffleQueryStage", "AQEShuffleRead", "InputAdapter")]
    if not ops:
        return 0.0
    starred = sum(1 for star, _ in ops if star == "*")
    return starred / len(ops)


def single_partition_exchanges(df: DataFrame) -> int:
    """Number of SinglePartition exchanges — each funnels its whole
    input relation through ONE task (a global-order window or global
    limit). Any such exchange over a corpus-sized relation is a
    100 TB scale-killer; over a provably tiny relation (≤ a bucket
    cap) it is the legitimate recursion floor."""
    return len(re.findall(r"Exchange SinglePartition", plan_str(df, "simple")))


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the plan (AQE may coalesce at
    runtime, but each Exchange is a full network round of the data —
    the unit of cost that dominates at 100 TB). A persisted relation's
    subtree (printed below its ``InMemoryRelation``) is skipped: its
    exchanges run in the job that materializes the cache, and AQE
    prints that subtree twice (final and initial plan)."""
    n, cached_depth = 0, None
    for line in plan_str(df, "simple").splitlines():
        body = line.lstrip(" +-:")
        depth = len(line) - len(body)
        if cached_depth is not None and depth > cached_depth:
            continue
        cached_depth = depth if body.startswith("InMemoryRelation") else None
        n += len(re.findall(
            r"Exchange (?:hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)",
            body,
        ))
    return n


def executed_shuffle_stages(df: DataFrame) -> int | None:
    """DISTINCT materialized shuffle stages in the AQE FINAL plan —
    the EXECUTED exchange count (VERDICT r12 #6). RUNS the plan (an
    action — the price of runtime truth): drives the physical plan's
    RDD to a JVM-side count, then re-reads the now-final adaptive
    plan. Reused exchanges and cached subtrees count ONCE, so unlike
    :func:`exchange_count` (plan-TEXT nodes) the CC family's unrolled
    persisted subtrees cannot overstate it — measured at sf0.01:
    dedup_components 2638 text nodes vs 16 executed stages. Returns
    None for a non-adaptive plan — which in this engine means an
    EXCHANGE-FREE plan (AQE never wraps a plan with no exchange and
    no subquery even with tune()'s adaptive.enabled on), so None
    reads as "trivially 0 executed shuffles"; tools/plan_audit.py
    records the reason explicitly (VERDICT r13 #6).

    Scope caveats (ADVICE r13, diagnostic intent only — NOT a gate):
    the count parses ``ShuffleQueryStage (\\d+)`` out of the AQE
    final-plan STRING, which (a) ties it to Spark's AQE toString
    format, and (b) misses shuffle stages materialized by EARLIER
    jobs of cached subtrees — e.g. the grid verify's persisted
    candidate set runs its exchange under the prior count() job, so
    this plan's text shows the InMemoryTableScan, not that shuffle.
    It therefore measures "exchanges THIS plan executed", not the
    total exchange work of the campaign; if it ever becomes a gate,
    reimplement on the SQLMetrics / stage-listener API instead."""
    qe = df._jdf.queryExecution()
    qe.executedPlan().execute().count()
    s = qe.executedPlan().toString()
    if "AdaptiveSparkPlan" not in s:
        return None
    return len(set(re.findall(r"ShuffleQueryStage (\d+)", s)))


def summarize(df: DataFrame) -> dict:
    return {
        "pushed_filters": pushed_filters(df),
        "scan_columns": [sorted(c) for c in scan_columns(df)],
        "broadcast_join": has_broadcast_join(df),
        "sort_merge_join": has_sort_merge_join(df),
        "cartesian": has_cartesian(df),
        "exchanges": exchange_count(df),
        "codegen_coverage": round(codegen_coverage(df), 3),
    }

"""InfluxQL CONTINUOUS QUERY → incremental streaming rollup.

InfluxDB's ``CREATE CONTINUOUS QUERY`` re-runs a ``GROUP BY time()``
select periodically and writes the aggregate back to a measurement.
The Spark-native translation is better than re-running: compile the
inner SELECT into *additive partials* and MERGE each micro-batch's
partials into a :class:`..tableformat.SnapshotTable` (batch-id
idempotent, exactly-once) — the continuous aggregate of a 100 TB point
stream is maintained by touching only each micro-batch once, and reads
hit the few-row snapshot, never the raw history.

Supported inner-select surface: one or more of COUNT / SUM / MIN /
MAX / MEAN over a field, ``GROUP BY time(<dur>[, <offset>])[, tags]``,
optional ``TZ('<zone>')``, optional WHERE. Points land in the same
bucket as in the batch compiler (one ``time_bucket``, offset and TZ
included). Partials per aggregate:

- COUNT → row count (combine: sum)
- SUM, MEAN → exact integer-cent sum + count (combine: sum) — the
  fixture fields are 2-decimal, so cents are lossless; finalization
  reproduces the batch compiler's round(round(sum,2)/count,6) MEAN
  and round(sum,2) SUM bit-for-bit (``sum100/100.0`` IS the nearest
  double to the exact cent total, the same value round(sum,2) lands
  on)
- MIN / MAX → running extreme (combine: min/max)

so ``cq_view`` over the snapshot equals the batch
:func:`..functions.influxql.influxql` run of the same inner SELECT on
the same data — the stream≡batch equivalence the test suite pins.

FIRST/LAST/PERCENTILE/transforms are rejected at compile time: their
partials are not additive scalars (argmax-by-time needs struct
partials; rank selection is not decomposable). The batch compiler
covers them; a CQ that needs them should roll up at a finer grain and
finish in batch.

``RESAMPLE EVERY <d> FOR <d>`` maps onto the streaming model it was
imitating: EVERY is the micro-batch trigger interval, FOR is the
late-data horizon — a point whose bucket ended more than FOR before
the batch's newest event no longer updates the rollup (InfluxDB's
recompute window, but on the deterministic event-time clock instead
of the server's wall clock, and enforced per micro-batch instead of
per re-run). FOR must cover at least one bucket, as in InfluxDB.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.influxql import (
    Call,
    ContinuousQuery,
    EventsCatalog,
    InfluxQLError,
    Var,
    _bare_compiler,
    events_points,
    parse_continuous_query,
    resolve_from,
    time_bucket,
)
from ..tableformat import SnapshotTable
from .sink import additive_combine, start_continuous_aggregate

_SUPPORTED = {"COUNT", "SUM", "MIN", "MAX", "MEAN"}


@dataclass
class _AggSpec:
    out_name: str
    func: str
    field: str
    partial_cols: list[str]


@dataclass
class CompiledCQ:
    name: str
    database: str
    stmt: object  # the inner Select AST
    measurements: list[str]
    multi: bool
    key_cols: list[str]
    group_tags: list[str]
    aggs: list[_AggSpec]
    # RESAMPLE EVERY → trigger interval (µs); RESAMPLE FOR → per-batch
    # late-data horizon (µs) — see parse_continuous_query.
    every_us: int | None = None
    for_us: int | None = None


def compile_cq(cq_text: str, catalog=None) -> CompiledCQ:
    """Validate + lower a CREATE CONTINUOUS QUERY into the partial-agg
    plan description both the streaming MERGE and the finalizing view
    are generated from."""
    cq: ContinuousQuery = parse_continuous_query(cq_text)
    st = cq.select
    if st.group_time_ns is None:
        raise InfluxQLError("continuous query requires GROUP BY time(<dur>)")
    if st.fill not in (None, "none"):
        raise InfluxQLError("continuous query does not support fill()")
    if st.limit is not None or st.slimit is not None or st.offset:
        raise InfluxQLError("continuous query does not support LIMIT/SLIMIT")

    names, multi = resolve_from(catalog or EventsCatalog(""), st.measurements)

    aggs: list[_AggSpec] = []
    for i, f in enumerate(st.fields):
        e = f.expr
        if not (isinstance(e, Call) and e.func in _SUPPORTED):
            raise InfluxQLError(
                "continuous query fields must be COUNT/SUM/MIN/MAX/MEAN"
            )
        arg = e.args[0]
        if isinstance(arg, Var) and arg.name == "*" and e.func == "COUNT":
            fld = "value"
        elif isinstance(arg, Var):
            fld = arg.name
        else:
            raise InfluxQLError(f"{e.func} expects a field reference")
        out = f.alias or e.func.lower()
        if e.func == "COUNT":
            pcols = [f"_n_{i}"]
        elif e.func in ("SUM", "MEAN"):
            pcols = [f"_s100_{i}", f"_n_{i}"]
        else:  # MIN / MAX
            pcols = [f"_m_{i}"]
        aggs.append(_AggSpec(out, e.func, fld, pcols))

    if cq.for_ns is not None and cq.for_ns < st.group_time_ns:
        raise InfluxQLError(
            "RESAMPLE FOR must cover at least one GROUP BY time() "
            "bucket"
        )

    group_tags = st.group_tags
    if group_tags == ["*"]:
        group_tags = ["user_id"]
    key_cols = (["measurement"] if multi else []) + group_tags + ["time"]
    return CompiledCQ(
        cq.name,
        cq.database,
        st,
        names,
        multi,
        key_cols,
        group_tags,
        aggs,
        cq.every_ns // 1000 if cq.every_ns is not None else None,
        cq.for_ns // 1000 if cq.for_ns is not None else None,
    )


def cq_partials(cc: CompiledCQ, batch: DataFrame) -> DataFrame:
    """Additive partials of one micro-batch, keyed by ``cc.key_cols``.
    Maps the batch through EventsCatalog's layout, then applies the
    CQ's measurement filter and WHERE clause."""
    df = events_points(batch).filter(F.col("measurement").isin(cc.measurements))
    if cc.stmt.where is not None:
        df = df.filter(_bare_compiler()._cond(cc.stmt.where))
    st = cc.stmt
    df = df.withColumn(
        "time", time_bucket(F.col("time"), st.group_time_ns, st.offset_ns, st.tz)
    )
    if cc.for_us is not None:
        # RESAMPLE FOR: a point whose bucket ended more than FOR before
        # the batch's newest event never updates the rollup (InfluxDB's
        # recompute window, on the deterministic event-time clock). A
        # 1-row broadcast of the batch max — plan-side, no driver
        # action per micro-batch; an empty batch yields no rows.
        mx = df.agg(F.max(F.unix_micros("time")).alias("_mx"))
        df = df.crossJoin(F.broadcast(mx)).filter(
            F.unix_micros("time") >= F.col("_mx") - F.lit(cc.for_us)
        ).drop("_mx")
    exprs: list = []
    for spec in cc.aggs:
        col = F.col(spec.field)
        if spec.func == "COUNT":
            exprs.append(F.count(col).cast("long").alias(spec.partial_cols[0]))
        elif spec.func in ("SUM", "MEAN"):
            exprs.append(
                F.sum(F.round(col * 100).cast("long")).alias(spec.partial_cols[0])
            )
            exprs.append(F.count(col).cast("long").alias(spec.partial_cols[1]))
        elif spec.func == "MIN":
            exprs.append(F.min(col).alias(spec.partial_cols[0]))
        else:
            exprs.append(F.max(col).alias(spec.partial_cols[0]))
    return df.groupBy(*cc.key_cols).agg(*exprs)


def cq_combine(cc: CompiledCQ):
    """MERGE combine fn: same-key partials add, MIN/MAX partials keep
    their running extreme — exact integer arithmetic, so any
    micro-batch slicing converges to the batch answer."""
    return additive_combine(cc.key_cols, {
        spec.partial_cols[0]: F.min if spec.func == "MIN" else F.max
        for spec in cc.aggs if spec.func in ("MIN", "MAX")
    })


def cq_schema(cc: CompiledCQ) -> str:
    parts = []
    for k in cc.key_cols:
        if k == "time":
            parts.append("time timestamp")
        elif k == "measurement":
            parts.append("measurement string")
        else:
            parts.append(f"{k} long")
    for spec in cc.aggs:
        for c in spec.partial_cols:
            t = "double" if spec.func in ("MIN", "MAX") else "long"
            parts.append(f"{c} {t}")
    return ", ".join(parts)


def cq_view(cc: CompiledCQ, table: SnapshotTable) -> DataFrame:
    """Finalize partials into the user-facing continuous aggregate —
    column names and float determinism identical to the batch
    compiler's output for the same inner SELECT."""
    t = table.read()
    cols = [F.col(k) for k in cc.key_cols]
    for spec in cc.aggs:
        if spec.func == "COUNT":
            cols.append(F.col(spec.partial_cols[0]).alias(spec.out_name))
        elif spec.func == "SUM":
            cols.append(
                (F.col(spec.partial_cols[0]) / 100.0).alias(spec.out_name)
            )
        elif spec.func == "MEAN":
            s, n = spec.partial_cols
            cols.append(
                F.round((F.col(s) / 100.0) / F.col(n), 6).alias(spec.out_name)
            )
        else:
            cols.append(F.col(spec.partial_cols[0]).alias(spec.out_name))
    return t.select(*cols)


def start_continuous_query(
    spark: SparkSession,
    cq_text: str,
    source_dir: str,
    table_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> tuple[StreamingQuery, CompiledCQ, SnapshotTable]:
    """Run a CREATE CONTINUOUS QUERY against the event stream at
    ``source_dir``: each micro-batch's partials MERGE into the snapshot
    at ``table_path`` (additive combine, batch-id idempotent →
    exactly-once across restarts). Returns (query, compiled, table);
    read the aggregate with ``cq_view(compiled, table)``. A tailing
    query (``available_now=False``) triggers every RESAMPLE EVERY <d>:
    the rollup advances on InfluxDB's schedule, each advance touching
    only the new data (never a re-run of the full select)."""
    cc = compile_cq(cq_text)
    q, table = start_continuous_aggregate(
        spark, source_dir, table_path, cc.key_cols, cq_schema(cc),
        lambda batch: cq_partials(cc, batch), f"cq_{cc.name}",
        os.path.join(checkpoint_dir, f"cq_{cc.name}"), available_now,
        cq_combine(cc),
        cc.every_us // 1000 if cc.every_us is not None else None,
    )
    return q, cc, table

"""Local stand-in for the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at sf0.01, then compares:
  - row count
  - column names (sorted)
  - order-insensitive value hash (columns sorted by name, rows sorted,
    floats rounded to 9 significant-ish decimals before hashing)
plus a tolerance-based float comparison so we can distinguish "hash
brittleness" from "actually wrong values".

Large results (pair-producing joins at sf>=0.1 can exceed the driver's
``spark.driver.maxResultSize``) go through a CHUNKED comparison instead:
Spark writes its result as parquet (a distributed write — no driver
collect), both sides then stream through DuckDB in fixed-size chunks,
and the comparison is an order-insensitive COMMUTATIVE multiset hash
(row count + sum of per-row sha256 prefixes) — no global sort, no full
materialization on either side. This is the same discipline the engine
itself follows: the certification tool must not be the one component
that collects an unbounded result to one process. Chunked mode engages
automatically when the plain collect trips maxResultSize, or force it
with --chunked.

Usage: python tools/check_oracles.py [query_name ...] [--sf DIR] [--chunked]
"""

from __future__ import annotations

import argparse
import hashlib
import os
import shutil
import sys
import tempfile
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_SF = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon_types(df: pd.DataFrame) -> pd.DataFrame:
    """Column-order + dtype normalization only (row-local, chunk-safe)."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            try:
                s = s.dt.tz_localize(None)
            except (TypeError, AttributeError):
                pass
            df[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.round(6)
        elif s.dtype == object:
            df[c] = s.map(lambda x: "∅NULL" if pd.isna(x) else str(x))
    return df


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = canon_types(df)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _chunk_hash_update(chunk: pd.DataFrame, acc: list) -> None:
    """Fold one chunk into acc = [row_count, hash_sum]. Per-row strings
    are built column-wise (no CSV quoting — embedded newlines in document
    text must not split rows) and hashed commutatively, so chunk
    boundaries and row order are irrelevant."""
    chunk = canon_types(chunk)
    cols = []
    for c in chunk.columns:
        s = chunk[c]
        if pd.api.types.is_float_dtype(s):
            cols.append(s.map(lambda x: "∅NULL" if pd.isna(x) else f"{x:.6f}"))
        else:
            cols.append(s.map(lambda x: "∅NULL" if pd.isna(x) else str(x)))
    if not cols:
        acc[0] += len(chunk)
        return
    lines = cols[0].astype(str)
    if len(cols) > 1:
        lines = lines.str.cat([c.astype(str) for c in cols[1:]], sep="\x1f")
    # vectorized deterministic per-row hash (fixed-key siphash); both
    # sides of the compare run the identical function in this process,
    # so cross-version stability is irrelevant
    row_hashes = pd.util.hash_pandas_object(lines, index=False)
    acc[1] = (acc[1] + int(row_hashes.to_numpy(dtype="uint64")
                           .sum(dtype="object"))) % (1 << 128)
    acc[0] += len(chunk)


def _stream_multiset(rel) -> tuple[int, int, list[str]]:
    """Consume a DuckDB relation chunk-at-a-time; return
    (row_count, commutative_hash, sorted_columns)."""
    acc = [0, 0]
    columns = sorted(rel.columns)
    while True:
        chunk = rel.fetch_df_chunk(16)
        if chunk is None or len(chunk) == 0:
            break
        _chunk_hash_update(chunk, acc)
    return acc[0], acc[1], columns


def _chunked_mismatch_detail(
    con, s_src: str, d_src: str, cols: list[str]
) -> list[str]:
    """Bounded diagnostic for a chunked-mode hash mismatch (ADVICE r9):
    the bare 'multiset hash mismatch' line gave zero signal about
    WHETHER values were wrong or the hash canonicalization was brittle
    — the distinction this tool's header promises. An EXCEPT ALL
    anti-join of the two sides (floats rounded to the hash's own 6dp),
    LIMITed to a few rows per direction, reports the offending rows;
    if both anti-joins come back empty the values agree at tolerance
    and the mismatch is canonicalization, not wrongness. DuckDB's
    EXCEPT ALL hashes and spills, so this stays bounded on any result
    size; only the LIMITed sample is materialized."""
    types = {
        r["column_name"]: str(r["column_type"]).upper()
        for _, r in con.cursor().sql(f"DESCRIBE {s_src}").df().iterrows()
    }
    items = ", ".join(
        (f'round("{c}", 6) AS "{c}"'
         if types.get(c, "") in ("DOUBLE", "FLOAT", "REAL") else f'"{c}"')
        for c in cols
    )
    out = []
    for label, left, right in (
        ("spark-only", s_src, d_src),
        ("oracle-only", d_src, s_src),
    ):
        sample = con.cursor().sql(
            f"SELECT {items} FROM ({left}) "
            f"EXCEPT ALL SELECT {items} FROM ({right}) LIMIT 4"
        ).df()
        if len(sample):
            out.append(f"{label} rows (floats@6dp): "
                       f"{sample.to_dict('records')}")
    if not out:
        out.append("values agree at 6dp in both directions — hash "
                   "canonicalization brittleness, not wrong values")
    return out


def compare_chunked(name: str, sdf, oracle: str, con) -> list[str]:
    """maxResultSize-proof compare: Spark result lands as parquet via a
    distributed write; both sides stream through DuckDB in chunks into a
    commutative multiset hash. Memory is O(chunk), not O(result)."""
    tmp = tempfile.mkdtemp(prefix=f"oracle_{name}_")
    try:
        sdf.write.mode("overwrite").parquet(f"{tmp}/spark_result")
        s_src = f"SELECT * FROM read_parquet('{tmp}/spark_result/*.parquet')"
        s_rel = con.cursor().sql(s_src)
        s_n, s_h, s_cols = _stream_multiset(s_rel)
        d_rel = con.cursor().sql(oracle)
        d_n, d_h, d_cols = _stream_multiset(d_rel)
        problems = []
        if s_n != d_n:
            problems.append(f"rowcount spark={s_n} duck={d_n}")
        if s_cols != d_cols:
            problems.append(f"columns spark={s_cols} duck={d_cols}")
        if not problems and s_h != d_h:
            problems.append("multiset hash mismatch (chunked mode)")
            # the parquet result is still on disk here — diagnose
            # before the finally-cleanup removes it
            problems.extend(
                _chunked_mismatch_detail(con, s_src, oracle, s_cols))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return problems


def value_hash(df: pd.DataFrame) -> str:
    payload = df.to_csv(index=False, float_format="%.6f", na_rep="∅NULL").encode()
    return hashlib.sha256(payload).hexdigest()[:16]


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        problems.append(f"columns spark={sc} duck={dc}")
        return problems
    a, b = canon(spark_pdf), canon(duck_pdf)
    if value_hash(a) != value_hash(b):
        # find the offending columns with tolerance
        if len(a) == len(b):
            for c in a.columns:
                col_a, col_b = a[c], b[c]
                if pd.api.types.is_float_dtype(col_a) and pd.api.types.is_float_dtype(col_b):
                    va, vb = col_a.to_numpy(), col_b.to_numpy()
                    diff = np.abs(va - vb)
                    both_nan = np.isnan(va) & np.isnan(vb)
                    bad = np.sum(~((diff <= 1e-6) | both_nan))
                    if bad:
                        i = int(np.argmax(~(diff <= 1e-6)))
                        problems.append(
                            f"col {c}: {bad} rows differ >1e-6 "
                            f"(e.g. row {i}: {col_a.iloc[i]} vs {col_b.iloc[i]})"
                        )
                else:
                    neq = (col_a.astype(str) != col_b.astype(str))
                    if neq.any():
                        i = int(np.argmax(neq.to_numpy()))
                        problems.append(
                            f"col {c}: {int(neq.sum())} rows differ "
                            f"(e.g. row {i}: {col_a.iloc[i]!r} vs {col_b.iloc[i]!r})"
                        )
            if not problems:
                problems.append("hash mismatch but values within tolerance "
                                "(row-order canonicalization issue?)")
        else:
            problems.append("hash mismatch (and row counts differ)")
    return problems


def _is_result_size_error(exc: Exception) -> bool:
    """True only for Spark's driver-result-size refusal. Prefer the
    typed error condition (PySpark 4 surfaces it via getCondition /
    getErrorClass on captured exceptions); the TaskSetManager abort
    that enforces spark.driver.maxResultSize is a legacy SparkException
    WITHOUT a condition, so fall back to matching the CONFIG KEY in the
    message — a deliberately narrower token than the old 'maxResultSize'
    substring (ADVICE r9)."""
    for attr in ("getCondition", "getErrorClass"):
        g = getattr(exc, attr, None)
        if callable(g):
            try:
                cond = g()
            except Exception:  # noqa: BLE001 - diagnostics only
                cond = None
            if cond:
                return "RESULT_SIZE" in str(cond).upper()
    return "spark.driver.maxResultSize" in str(exc)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default=DEFAULT_SF)
    ap.add_argument("--chunked", action="store_true",
                    help="force the streaming multiset-hash compare "
                         "(no driver collect) for every query")
    args = ap.parse_args()

    import __spark_entry__ as ent
    from mqtt_influx_storage_service_spark.session import get_spark

    qs, oracles = ent.queries(), ent.oracle_sql()
    names = args.names or sorted(qs)

    spark = get_spark("check-oracles")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    # The shingle-df-capped family's oracles are UNCAPPED SQL: equality
    # holds exactly when the fixture has no over-cap blocking shingle
    # (then the cap and rescue tier are provably no-ops). Assert that
    # precondition HERE instead of trusting it (ADVICE r9) — on a
    # cap-engaged corpus these hashes would be conditional, not wrong.
    _CAP_FAMILY = {"dedup_ngram_jaccard", "dedup_containment",
                   "dedup_components", "pipeline_dedup_mix"}
    n_pass = n_fail = n_rows_only = 0
    if _CAP_FAMILY & set(names):
        from mqtt_influx_storage_service_spark.operators.dedup import (
            jaccard_hot_shingles,
        )
        n_hot = jaccard_hot_shingles(spark, args.sf).count()
        if n_hot:
            skipped = sorted(_CAP_FAMILY & set(names))
            print(f"FAIL precondition: {n_hot} over-cap shingles at "
                  f"{args.sf} — the uncapped oracle SQL is not comparable "
                  "to the capped/rescued plan on this corpus; use a "
                  f"fixture with max shingle df <= SHINGLE_DF_CAP "
                  f"(skipping {skipped})")
            n_fail += len(skipped)
            names = [n for n in names if n not in _CAP_FAMILY]
    for name in names:
        if name not in qs:
            print(f"?? {name}: not in queries()")
            continue
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf)
        except Exception:
            print(f"FAIL {name}: spark raised\n{traceback.format_exc()}")
            n_fail += 1
            continue
        spark_pdf = None
        if not args.chunked:
            try:
                spark_pdf = sdf.toPandas()
            except Exception as exc:
                # Only a RESULT-SIZE error may fall through to the
                # never-collects paths below; any other toPandas
                # failure is a genuine defect and must FAIL — for
                # no-oracle queries too, where the old substring check
                # silently converted it into a rows-only pass
                # (ADVICE r9).
                if not _is_result_size_error(exc):
                    print(f"FAIL {name}: spark raised\n{traceback.format_exc()}")
                    n_fail += 1
                    continue
        if spark_pdf is not None and name not in oracles:
            print(f"rows {name}: {len(spark_pdf)} rows (no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        if name not in oracles:
            try:
                n_rows = sdf.count()
            except Exception:
                print(f"FAIL {name}: spark raised\n{traceback.format_exc()}")
                n_fail += 1
                continue
            print(f"rows {name}: {n_rows} rows (no oracle, counted "
                  f"distributed) [{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        if spark_pdf is not None:
            try:
                duck_pdf = con.sql(oracles[name]).df()
            except Exception:
                print(f"FAIL {name}: duckdb raised\n{traceback.format_exc()}")
                n_fail += 1
                continue
            problems = compare(name, spark_pdf, duck_pdf)
            n_rows = len(spark_pdf)
            mode = ""
        else:
            try:
                problems = compare_chunked(name, sdf, oracles[name], con)
            except Exception:
                print(f"FAIL {name}: chunked compare raised\n"
                      f"{traceback.format_exc()}")
                n_fail += 1
                continue
            n_rows = None
            mode = " (chunked)"
        if problems:
            print(f"FAIL {name}{mode}: " + "; ".join(problems))
            n_fail += 1
        else:
            rows = f"{n_rows} rows" if n_rows is not None else "rows matched"
            print(f"ok   {name}{mode}: {rows} [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} ok, {n_rows_only} rows-only, {n_fail} failed "
          f"of {len(names)}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())

"""Output checks made outside the program.

Each check returns a list of problems (empty = pass). Expected values
come from the generator's own record of what it wrote, recomputed here
in plain Python/numpy or DuckDB; the program's transformations are never
imported.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
from collections import Counter

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from gen import DATA_PREFIX, EVENTS_TOPIC

TEN_MIN_US = 600 * 1_000_000


def _us(col) -> np.ndarray:
    """Timestamps as integer µs, whatever unit the file stored."""
    arr = pa.array(col) if not isinstance(col, (pa.Array, pa.ChunkedArray)) else col
    if pa.types.is_timestamp(arr.type):
        arr = arr.cast(pa.timestamp("us"))
    return arr.cast(pa.int64()).to_numpy(zero_copy_only=False)


def _parquet_rows(root: str, columns=None) -> pa.Table:
    """Every data file under a sink directory (its _spark_metadata log
    and hidden files excluded), hive partitions dropped."""
    files = [
        f
        for f in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
        if "_spark_metadata" not in f and not os.path.basename(f).startswith((".", "_"))
    ]
    if not files:
        return pa.table({c: [] for c in (columns or [])})
    return pa.concat_tables(pq.read_table(f, columns=columns) for f in files)


def _well_formed(parts: list[str]) -> bool:
    return len(parts) == 4 and parts[2] != "" and parts[3] != ""


def _coerce(payload: str) -> tuple[str, object]:
    try:
        return "float", float(payload)
    except ValueError:
        pass
    if payload in ("true", "True"):
        return "bool", True
    if payload in ("false", "False"):
        return "bool", False
    return "string", payload


class IngestTruth:
    """What the ingest job must produce, replayed from the frames."""

    def __init__(self, frames: list[pa.Table], fleet):
        registered = set(fleet.registered)
        self.points: Counter = Counter()
        self.dead: Counter = Counter()
        self.pairs: dict[tuple[str, str], int] = {}
        self.registry = {
            d: int(_us([fleet.bootstrap_ts])[0]) for d in fleet.registered
        }
        self.windows: dict[int, list] = {}
        for tb in frames:
            ts = _us(tb.column("ts"))
            for t, topic, payload in zip(
                ts.tolist(), tb.column("topic").to_pylist(), tb.column("payload").to_pylist()
            ):
                parts = topic.split("/")
                w = self.windows.setdefault(t - t % TEN_MIN_US, [0, set()])
                w[0] += 1
                if len(parts) >= 3:
                    w[1].add(parts[2])
                if topic == EVENTS_TOPIC:
                    self._cdc(t, payload)
                    continue
                if not topic.startswith(DATA_PREFIX):
                    continue
                if not _well_formed(parts):
                    self.dead[(t, topic, payload)] += 1
                    continue
                dev, tr = parts[2], parts[3].lower()
                self.pairs.setdefault((dev, tr), t)
                if dev in registered:
                    vt, v = _coerce(payload)
                    self.points[(f"{dev}_{tr}", t, vt, v)] += 1
        self.max_ts = int(max(_us(tb.column("ts")).max() for tb in frames))

    def _cdc(self, t: int, payload: str) -> None:
        try:
            ev = json.loads(payload)
            dev = ev["thing"]["id"]
        except (ValueError, KeyError, TypeError):
            return
        if ev.get("action") == "delete":
            self.registry.pop(dev, None)
        else:
            self.registry[dev] = t


def _latest_snapshot(table_dir: str) -> pa.Table:
    mdir = os.path.join(table_dir, "_manifest")
    last = sorted(f for f in os.listdir(mdir) if f.startswith("v") and f.endswith(".json"))[-1]
    with open(os.path.join(mdir, last)) as fh:
        man = json.load(fh)
    return _parquet_rows(os.path.join(table_dir, man["data_dir"]))


def check_ingest(truth: IngestTruth, out_dir: str, registry_dir: str,
                 transducer_dir: str) -> list[str]:
    problems = []
    pts = _parquet_rows(
        os.path.join(out_dir, "points"),
        ["series_id", "ts", "value_type", "value_double", "value_bool", "value_str"],
    )
    got = Counter()
    vals = {
        "float": pts.column("value_double").to_pylist(),
        "bool": pts.column("value_bool").to_pylist(),
        "string": pts.column("value_str").to_pylist(),
    }
    for i, (sid, t, vt) in enumerate(
        zip(pts.column("series_id").to_pylist(), _us(pts.column("ts")).tolist(),
            pts.column("value_type").to_pylist())
    ):
        got[(sid, t, vt, vals.get(vt, [None] * (i + 1))[i])] += 1
    if got != truth.points:
        extra, missing = got - truth.points, truth.points - got
        problems.append(
            f"points: {sum(missing.values())} missing, {sum(extra.values())} "
            f"unexpected or duplicated of {sum(truth.points.values())} "
            f"(e.g. missing {next(iter(missing), None)}, extra {next(iter(extra), None)})"
        )
    dl = _parquet_rows(os.path.join(out_dir, "dead_letter"), ["ts", "topic", "payload"])
    got_dl = Counter(zip(_us(dl.column("ts")).tolist(), dl.column("topic").to_pylist(),
                         dl.column("payload").to_pylist()))
    if got_dl != truth.dead:
        problems.append(f"dead letter: {len(dl)} rows, expected {sum(truth.dead.values())}")
    reg = _latest_snapshot(registry_dir)
    got_reg = dict(zip(reg.column("device_id").to_pylist(), _us(reg.column("registered_ts")).tolist()))
    if got_reg != truth.registry:
        diff = set(got_reg.items()) ^ set(truth.registry.items())
        problems.append(f"registry: {len(diff)} rows differ from the LWW replay (e.g. {sorted(diff)[:2]})")
    tr = _latest_snapshot(transducer_dir)
    got_tr = {
        (d, t): c
        for d, t, c in zip(tr.column("device_id").to_pylist(), tr.column("transducer").to_pylist(),
                           _us(tr.column("created_ts")).tolist())
    }
    if got_tr != truth.pairs or len(got_tr) != len(tr):
        problems.append(f"transducers: {len(tr)} rows, expected {len(truth.pairs)} distinct pairs")
    problems += _check_stats(truth, os.path.join(out_dir, "stats"))
    return problems


def _check_stats(truth: IngestTruth, stats_dir: str) -> list[str]:
    st = _parquet_rows(stats_dir, ["window_start", "points_written", "n_devices"])
    starts = _us(st.column("window_start")).tolist()
    if len(set(starts)) != len(starts):
        return ["stats: a window was emitted twice"]
    # a window is final once the watermark (max event time - 10 min)
    # passes its end; every one of those must be out, with exact counts
    watermark = truth.max_ts - TEN_MIN_US
    closed = {w for w in truth.windows if w + TEN_MIN_US <= watermark - TEN_MIN_US}
    problems = []
    if not closed <= set(starts):
        problems.append(f"stats: {len(closed - set(starts))} closed windows not emitted")
    for w, n, nd in zip(starts, st.column("points_written").to_pylist(), st.column("n_devices").to_pylist()):
        want = truth.windows.get(w)
        if want is None or want[0] != n:
            problems.append(f"stats: window {w} points_written {n}, expected {want and want[0]}")
            break
        exact = len(want[1])
        # n_devices is an HLL++ estimate (relative sd 5%): allow 4 sd
        if abs(nd - exact) > max(2, 0.2 * exact):
            problems.append(f"stats: window {w} n_devices {nd}, exact {exact}")
            break
    return problems


# ---------------------------------------------------------------------------
# InfluxQL twins
# ---------------------------------------------------------------------------


def _ts(us: int) -> str:
    return f"make_timestamp({int(us)}::BIGINT)"


def _mean(col: str) -> str:
    return f"round(round(sum({col}), 2) / count({col}), 6)"


def _bucket(every_us: int) -> str:
    return f"make_timestamp((epoch_us(ts) - epoch_us(ts) % {every_us})::BIGINT)"


def twin_sql(st: dict) -> str:
    """DuckDB SQL with the same answer as one statement of the mix, over
    the ``pts`` view of the points lake."""
    k = st["kind"]
    rng = f"ts >= {_ts(st['lo'])} AND ts < {_ts(st['hi'])}" if "lo" in st else "TRUE"
    if k == "raw":
        return (f"SELECT ts AS time, value_double AS value FROM pts "
                f"WHERE series_id = '{st['series']}' AND {rng}")
    if k == "bucket_fill":
        e = st["every"]
        return f"""
            WITH agg AS (
              SELECT {_bucket(e)} AS time, {_mean('value_double')} AS m,
                     count(value_double) AS n
              FROM pts WHERE series_id = '{st['series']}' AND {rng} GROUP BY 1),
            spine AS (
              SELECT make_timestamp(b::BIGINT) AS time FROM range(
                {st['lo'] - st['lo'] % e}, {st['hi'] - 1 - (st['hi'] - 1) % e} + 1, {e}) r(b))
            SELECT spine.time, coalesce(m, 0) AS m, coalesce(n, 0) AS n
            FROM spine LEFT JOIN agg USING (time)"""
    if k == "selector_regex":
        return (f"SELECT series_id AS measurement, max(value_double) AS mx, "
                f"min(value_double) AS mn FROM pts WHERE regexp_matches(series_id, "
                f"'{st['regex']}') AND {rng} GROUP BY 1")
    if k == "percentile_regex":
        return f"""
            WITH b AS (
              SELECT series_id AS measurement, {_bucket(st['every'])} AS time,
                     value_double AS v FROM pts
              WHERE regexp_matches(series_id, '{st['regex']}') AND {rng}
                AND value_double IS NOT NULL),
            r AS (
              SELECT *, row_number() OVER (PARTITION BY measurement, time ORDER BY v) AS i,
                     count(*) OVER (PARTITION BY measurement, time) AS n FROM b)
            SELECT measurement, time, v AS p90 FROM r WHERE i = (90 * n + 99) // 100"""
    if k == "derivative_raw":
        return f"""
            SELECT time, d FROM (
              SELECT ts AS time,
                     (value_double - lag(value_double) OVER w)
                       / ((epoch_us(ts) - epoch_us(lag(ts) OVER w)) / {st['unit']}) AS d
              FROM pts WHERE series_id = '{st['series']}' AND {rng}
                AND value_double IS NOT NULL
              WINDOW w AS (ORDER BY ts)) WHERE d IS NOT NULL"""
    if k == "derivative_bucket":
        # the engine's convention (its own iq_derivative_daily oracle):
        # the first bucket is kept, with a NULL derivative
        return f"""
            SELECT time, round((m - lag(m) OVER w)
                       / ((epoch_us(time) - epoch_us(lag(time) OVER w)) / {st['every']}), 6) AS d
            FROM (SELECT {_bucket(st['every'])} AS time, {_mean('value_double')} AS m
                  FROM pts WHERE series_id = '{st['series']}' AND {rng} GROUP BY 1)
            WINDOW w AS (ORDER BY time)"""
    if k == "show_measurements":
        return (f"SELECT DISTINCT series_id AS name FROM pts "
                f"WHERE regexp_matches(series_id, '{st['regex']}')")
    if k == "show_series":
        return (f"SELECT DISTINCT series_id AS key FROM pts "
                f"WHERE regexp_matches(series_id, '{st['regex']}')")
    if k == "wide_bucket":
        return f"""
            SELECT {_bucket(st['every'])} AS time,
                   {_mean("CASE WHEN transducer = 'tempc' THEN value_double END")} AS mt,
                   max(CASE WHEN transducer = 'humidity' THEN value_double END) AS mh,
                   count(CASE WHEN transducer = 'count' THEN value_double END) AS nc
            FROM pts WHERE device_id = '{st['device']}' AND {rng} GROUP BY 1"""
    raise ValueError(f"no twin for {k}")


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """tools/check_oracles.py rules: columns by name, timestamps to naive
    µs, floats rounded to 6 places, NULLs as a sentinel, rows sorted.
    Numbers compare as float64 whatever integer width each side chose."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            try:
                s = s.dt.tz_localize(None)
            except (TypeError, AttributeError):
                pass
            df[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_numeric_dtype(s) and not pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("float64").round(6)
        elif s.dtype == object:
            df[c] = s.map(lambda x: "∅NULL" if pd.isna(x) else str(x))
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    if len(got) != len(want):
        return [f"rowcount program={len(got)} twin={len(want)}"]
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns program={sorted(got.columns)} twin={sorted(want.columns)}"]
    a, b = _canon(got), _canon(want)

    def h(df):
        return hashlib.sha256(
            df.to_csv(index=False, float_format="%.6f", na_rep="∅NULL").encode()
        ).hexdigest()

    if h(a) == h(b):
        return []
    problems = []
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]) and pd.api.types.is_float_dtype(b[c]):
            va, vb = a[c].to_numpy(), b[c].to_numpy()
            bad = ~((np.abs(va - vb) <= 1e-6) | (np.isnan(va) & np.isnan(vb)))
        else:
            bad = (a[c].astype(str) != b[c].astype(str)).to_numpy()
        if bad.any():
            i = int(np.argmax(bad))
            problems.append(f"col {c}: {int(bad.sum())} rows differ (e.g. {a[c].iloc[i]!r} vs {b[c].iloc[i]!r})")
    return problems


def twin_connection(points_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(
        f"CREATE VIEW pts AS SELECT * FROM read_parquet('{points_dir}/*/*.parquet', "
        "hive_partitioning = 1)"
    )
    return con


# ---------------------------------------------------------------------------
# Curation
# ---------------------------------------------------------------------------


def _shingles(text: str) -> set[str]:
    toks = text.split(" ")
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def check_jaccard(pairs: pd.DataFrame, docs: pa.Table, planted) -> list[str]:
    sh = [_shingles(t) for t in docs.column("text").to_pylist()]
    got = set(zip(pairs["doc_a"].tolist(), pairs["doc_b"].tolist()))
    problems = []
    low = [(a, b) for a, b in got if _jaccard(sh[a], sh[b]) < 0.5 - 1e-12]
    if low:
        problems.append(f"jaccard: {len(low)} reported pairs below 0.5 (e.g. {low[0]})")
    want = {(min(a, b), max(a, b)) for a, b in planted if _jaccard(sh[a], sh[b]) >= 0.5}
    if want - got:
        problems.append(f"jaccard: {len(want - got)} planted pairs >= 0.5 not reported")
    return problems


def _normed(emb: pa.Table) -> np.ndarray:
    v = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def exact_knn(emb: pa.Table, k: int) -> dict[int, list[int]]:
    """Brute-force cosine top-k per vector, self excluded, ties by id."""
    v = _normed(emb)
    ids = np.array(emb.column("vec_id").to_pylist())
    sims = v @ v.T
    np.fill_diagonal(sims, -np.inf)
    out = {}
    for i, row in enumerate(sims):
        order = np.lexsort((ids, -np.round(row, 9)))[:k]
        out[int(ids[i])] = [int(ids[j]) for j in order]
    return out


def check_knn(knn: pd.DataFrame, emb: pa.Table) -> list[str]:
    k = int(knn["rank"].max())
    truth = exact_knn(emb, k)
    got: dict[int, list[tuple[int, int]]] = {}
    for q, n, r in zip(knn["vec_id"], knn["neighbor_id"], knn["rank"]):
        got.setdefault(int(q), []).append((int(r), int(n)))
    bad = sum(
        1 for q, want in truth.items() if [n for _, n in sorted(got.get(q, []))] != want
    )
    # float32 storage can reorder near-ties at the 9th decimal; allow 1%
    if bad > 0.01 * len(truth):
        return [f"knn_exact: {bad} of {len(truth)} neighbour lists differ from numpy"]
    return []


def check_recall(name: str, got_pairs: set, truth_pairs: set, bound: float) -> list[str]:
    if not truth_pairs:
        return []
    recall = len(got_pairs & truth_pairs) / len(truth_pairs)
    if recall < bound:
        return [f"{name}: recall {recall:.3f} below {bound}"]
    return []


def check_ivf(ivf: pd.DataFrame, emb: pa.Table, bound: float) -> list[str]:
    k = int(ivf["rank"].max())
    truth = exact_knn(emb, k)
    got = set(zip(ivf["query_id"].astype(int), ivf["neighbor_id"].astype(int)))
    want = {(q, n) for q in set(ivf["query_id"].astype(int)) for n in truth[q]}
    return check_recall("ann_ivf", got, want, bound)

"""Seeded input generators for the benchmark.

Everything here is plain numpy/pyarrow: the program under test never
sees the seed, only the files written here. Each generator also returns
(or can recompute) the record the output checks compare against, so the
checks never read the program's own transformations.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENTS_TOPIC = "openchirp/service/x/thing/events"
DATA_PREFIX = "openchirp/device/"

# Round r of the ingest stream covers [T0 + r*ROUND_SPAN, T0 + (r+1)*ROUND_SPAN):
# time only moves forward, so no message is ever behind the stats watermark,
# and 4 rounds make one ingest_date day.
T0 = dt.datetime(2024, 3, 1)
ROUND_SPAN_US = 6 * 3600 * 1_000_000

# (transducer as published, payload kind). Names are mixed-case on
# purpose: the program must fold "TempC" and "tempc" onto one series.
TRANSDUCERS = [
    ("TempC", "float"),
    ("tempc", "float"),
    ("Humidity", "float"),
    ("Count", "int"),
    ("Door", "bool"),
    ("Note", "text"),
    ("Cfg", "json"),
]
NOTE_WORDS = ["door", "open", "closed", "battery", "low", "ok", "fan", "idle"]
BOOL_WORDS = ["true", "True", "false", "False"]

MQTT_ARROW_SCHEMA = pa.schema(
    [
        pa.field("ts", pa.timestamp("us"), nullable=False),
        pa.field("topic", pa.string(), nullable=False),
        pa.field("payload", pa.string()),
    ]
)


class Fleet:
    """The device population of one seed: registered data devices,
    unregistered ones (about 10% of the traffic), and CDC-only ids that
    appear on the events topic and never publish data."""

    def __init__(self, seed: int, n_devices: int = 40):
        rng = np.random.default_rng([seed, 1])
        self.registered = [f"Dev{i:03d}" for i in range(n_devices)]
        self.unregistered = [f"Ghost{i:02d}" for i in range(max(2, n_devices // 9))]
        self.cdc_only = [f"cdc{i:03d}" for i in range(n_devices // 2)]
        # each device publishes a fixed subset of the transducers
        self.transducers = {
            d: sorted(
                rng.choice(len(TRANSDUCERS), size=5, replace=False).tolist()
            )
            for d in self.registered + self.unregistered
        }
        self.bootstrap_ts = T0 - dt.timedelta(days=1)

    def bootstrap_table(self) -> pa.Table:
        return pa.table(
            {
                "device_id": self.registered,
                "registered_ts": pa.array(
                    [self.bootstrap_ts] * len(self.registered), pa.timestamp("us")
                ),
            }
        )


def _payload(rng, kind: str) -> str:
    if kind == "float":
        return f"{rng.uniform(-20.0, 40.0):.2f}"
    if kind == "int":
        return str(int(rng.integers(0, 1000)))
    if kind == "bool":
        return BOOL_WORDS[int(rng.integers(0, 4))]
    if kind == "text":
        k = int(rng.integers(2, 5))
        return " ".join(NOTE_WORDS[int(i)] for i in rng.integers(0, len(NOTE_WORDS), k))
    return json.dumps({"k": int(rng.integers(0, 100)), "mode": "auto"})


_MALFORMED = [
    lambda d, t: f"{DATA_PREFIX}{d}",  # 3 segments
    lambda d, t: f"{DATA_PREFIX}{d}/",  # empty transducer
    lambda d, t: f"{DATA_PREFIX}/{t}",  # empty device
    lambda d, t: f"{DATA_PREFIX}{d}/{t}/extra",  # 5 segments
]


def frame_round(fleet: Fleet, seed: int, r: int, n_msgs: int) -> pa.Table:
    """The MQTT messages of round ``r``: ts strictly increasing in row
    order (so arrival order and time order agree), about 10% from
    unregistered devices, about 1% malformed data topics and about 0.5%
    CDC events on the events topic."""
    rng = np.random.default_rng([seed, 2, r])
    start = int((T0 - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    start += r * ROUND_SPAN_US
    offs = np.sort(rng.integers(0, ROUND_SPAN_US - n_msgs, n_msgs)) + np.arange(n_msgs)
    ts = start + offs
    kind = rng.random(n_msgs)
    topics, payloads = [], []
    reg, unreg = fleet.registered, fleet.unregistered
    for i in range(n_msgs):
        u = kind[i]
        if u < 0.005:
            topics.append(EVENTS_TOPIC)
            payloads.append(_cdc_payload(rng, fleet))
            continue
        dev = (
            unreg[int(rng.integers(0, len(unreg)))]
            if u < 0.105
            else reg[int(rng.integers(0, len(reg)))]
        )
        tname, tkind = TRANSDUCERS[
            fleet.transducers[dev][int(rng.integers(0, 5))]
        ]
        if u > 0.99:
            topics.append(_MALFORMED[int(rng.integers(0, 4))](dev, tname))
        else:
            topics.append(f"{DATA_PREFIX}{dev}/{tname}")
        payloads.append(_payload(rng, tkind))
    return pa.table(
        {
            "ts": pa.array(ts, pa.timestamp("us")),
            "topic": pa.array(topics, pa.string()),
            "payload": pa.array(payloads, pa.string()),
        },
        schema=MQTT_ARROW_SCHEMA,
    )


def _cdc_payload(rng, fleet: Fleet) -> str:
    u = rng.random()
    if u < 0.05:
        return "{not json"  # dropped by the CDC parser
    if u < 0.25:
        # re-register a data device: it stays present
        dev = fleet.registered[int(rng.integers(0, len(fleet.registered)))]
        return json.dumps({"action": "update", "thing": {"id": dev}})
    dev = fleet.cdc_only[int(rng.integers(0, len(fleet.cdc_only)))]
    action = ["new", "update", "delete"][int(rng.integers(0, 3))]
    return json.dumps({"action": action, "thing": {"id": dev}})


def write_frames(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


# ---------------------------------------------------------------------------
# InfluxQL statement mix
# ---------------------------------------------------------------------------


def _iso(us: int) -> str:
    return (dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(us))).strftime(
        "%Y-%m-%d %H:%M:%S"
    )


def statement_mix(fleet: Fleet, seed: int, n_rounds: int,
                  float_series: list[str]) -> list[dict]:
    """One pass of the query workload: the same ten statements, by shape, in
    the same order for every seed; the seed picks series, devices,
    regexes and time ranges. Each entry carries what the DuckDB twin
    needs (``kind``, ``layout`` and the bound parameters).
    ``float_series`` are the numeric series the lake holds."""
    rng = np.random.default_rng([seed, 3])
    t0 = int((T0 - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    span = n_rounds * ROUND_SPAN_US
    hour = 3600 * 1_000_000

    def series() -> str:
        return float_series[int(rng.integers(0, len(float_series)))]

    def rng_range(hours: int) -> tuple[int, int]:
        hours = min(hours, span // hour - 1)
        lo = t0 + int(rng.integers(0, span // hour - hours)) * hour
        return lo, lo + hours * hour

    def dev_regex() -> str:
        # devices DevN0..DevN9 of one decade
        return f"Dev0{int(rng.integers(0, len(fleet.registered) // 10))}"

    out = []
    s, (lo, hi) = series(), rng_range(3)
    out.append(dict(kind="raw", layout="narrow", series=s, lo=lo, hi=hi,
                    q=f'SELECT value FROM "{s}" WHERE time >= \'{_iso(lo)}\' '
                      f"AND time < '{_iso(hi)}'"))
    s, (lo, hi) = series(), rng_range(12)
    out.append(dict(kind="bucket_fill", layout="narrow", series=s, lo=lo, hi=hi,
                    every=hour,
                    q=f'SELECT MEAN(value) AS m, COUNT(value) AS n FROM "{s}" '
                      f"WHERE time >= '{_iso(lo)}' AND time < '{_iso(hi)}' "
                      "GROUP BY time(1h) fill(0)"))
    pre, (lo, hi) = dev_regex(), rng_range(6)
    out.append(dict(kind="selector_regex", layout="narrow", regex=f"^{pre}[0-9]_tempc$",
                    lo=lo, hi=hi,
                    q=f"SELECT MAX(value) AS mx, MIN(value) AS mn FROM /^{pre}[0-9]_tempc$/ "
                      f"WHERE time >= '{_iso(lo)}' AND time < '{_iso(hi)}'"))
    pre, (lo, hi) = dev_regex(), rng_range(12)
    out.append(dict(kind="percentile_regex", layout="narrow",
                    regex=f"^{pre}[0-9]_humidity$", lo=lo, hi=hi, every=6 * hour,
                    q=f"SELECT PERCENTILE(value, 90) AS p90 FROM /^{pre}[0-9]_humidity$/ "
                      f"WHERE time >= '{_iso(lo)}' AND time < '{_iso(hi)}' "
                      "GROUP BY time(6h)"))
    s, (lo, hi) = series(), rng_range(2)
    out.append(dict(kind="derivative_raw", layout="narrow", series=s, lo=lo, hi=hi,
                    unit=60 * 1_000_000,
                    q=f'SELECT DERIVATIVE(value, 1m) AS d FROM "{s}" '
                      f"WHERE time >= '{_iso(lo)}' AND time < '{_iso(hi)}'"))
    s, (lo, hi) = series(), rng_range(12)
    out.append(dict(kind="derivative_bucket", layout="narrow", series=s, lo=lo, hi=hi,
                    every=hour,
                    q=f'SELECT DERIVATIVE(MEAN(value), 1h) AS d FROM "{s}" '
                      f"WHERE time >= '{_iso(lo)}' AND time < '{_iso(hi)}' "
                      "GROUP BY time(1h)"))
    pre = dev_regex()
    out.append(dict(kind="show_measurements", layout="narrow", regex=f"^{pre}",
                    q=f"SHOW MEASUREMENTS WITH MEASUREMENT =~ /^{pre}/"))
    pre = dev_regex()
    out.append(dict(kind="show_series", layout="narrow", regex=f"^{pre}",
                    q=f"SHOW SERIES FROM /^{pre}/"))
    d = fleet.registered[int(rng.integers(0, len(fleet.registered)))]
    lo, hi = rng_range(12)
    out.append(dict(kind="wide_bucket", layout="wide", device=d, lo=lo, hi=hi,
                    every=2 * hour,
                    q=f'SELECT MEAN(tempc) AS mt, MAX(humidity) AS mh, COUNT(count) AS nc '
                      f'FROM "{d}" WHERE time >= \'{_iso(lo)}\' '
                      f"AND time < '{_iso(hi)}' GROUP BY time(2h)"))
    s, (lo, hi) = series(), rng_range(24)
    out.append(dict(kind="bucket_fill", layout="narrow", series=s, lo=lo, hi=hi,
                    every=hour,
                    q=f'SELECT MEAN(value) AS m, COUNT(value) AS n FROM "{s}" '
                      f"WHERE time >= '{_iso(lo)}' AND time < '{_iso(hi)}' "
                      "GROUP BY time(1h) fill(0)"))
    return out


# ---------------------------------------------------------------------------
# Curation corpus
# ---------------------------------------------------------------------------

LANGS = ["de", "en", "es", "fr", "zh"]


def corpus(seed: int, n_docs: int, dim: int = 64, n_labels: int = 10):
    """(documents, embeddings, planted) in the fixture schemas.

    Text is drawn from a Zipfian vocabulary; about a quarter of the
    documents belong to planted near-duplicate clusters (a base text with
    a few word substitutions per copy). ``planted`` lists the
    (doc_a, doc_b) pairs of every cluster. Embeddings are clustered:
    one unit centroid per label plus Gaussian noise, float32."""
    rng = np.random.default_rng([seed, 4])
    vocab = np.array([f"w{i}" for i in range(5000)])
    ranks = np.arange(1, len(vocab) + 1)
    p = 1.0 / ranks**1.1
    p /= p.sum()

    texts: list[str] = []
    planted: list[tuple[int, int]] = []
    while len(texts) < n_docs:
        n_words = int(rng.integers(30, 90))
        base = vocab[rng.choice(len(vocab), n_words, p=p)]
        if rng.random() < 0.08 and len(texts) + 4 <= n_docs:
            members = []
            for _ in range(int(rng.integers(2, 5))):
                copy = base.copy()
                for j in rng.integers(0, n_words, max(1, n_words // 40)):
                    copy[j] = vocab[int(rng.integers(0, len(vocab)))]
                members.append(len(texts))
                texts.append(" ".join(copy))
            planted += [
                (a, b) for i, a in enumerate(members) for b in members[i + 1:]
            ]
        else:
            texts.append(" ".join(base))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": [LANGS[int(i)] for i in rng.integers(0, len(LANGS), n_docs)],
            "source": [f"src{int(i)}" for i in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    centroids = rng.normal(size=(n_labels, dim))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, n_labels, n_docs)
    vecs = (centroids[labels] + rng.normal(scale=0.35, size=(n_docs, dim))).astype(
        np.float32
    )
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_docs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return docs, emb, planted


def write_corpus(seed: int, n_docs: int, out_dir: str):
    docs, emb, planted = corpus(seed, n_docs)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return docs, emb, planted

"""Seeded inputs for the benchmark workloads.

Everything the program reads during a run is written here from the
``--seed``: the ten engine tables (the schemas and value ranges of the
engine's TPC-H-ish fixture), event-time-ordered event chunks for the
stream drains, and one poll payload per catalog source for the live
loop.  The same seed always gives byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table at scale 1.0 (the fixture's sf ratios);
#: region/nation are fixed, embeddings do not scale linearly
_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
}
_EMBEDDINGS = 500
_EMBED_DIM = 64
_USERS = 150

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
_PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_ADJ = ["red", "small", "hot", "old", "large", "blue", "green", "cold"]
_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gear", "pipe", "nut"]
_STATUS = ["P", "O", "F"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
_LANGS = ["en", "es", "zh", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order"
    " vector line table data agg value key stream window a spark part group"
    " big sort query fast the"
).split()

_TS = pa.timestamp("us")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _days(rng, n, start: str, span_days: int):
    base = np.datetime64(start, "us")
    offs = rng.integers(0, span_days, n).astype("timedelta64[D]")
    return pa.array(base + offs, _TS)


def _events(rng, n: int) -> dict:
    """Monotonic event times over 30 days (exponential gaps, like a
    real feed), 150 users, five event types, 2-decimal values."""
    gaps = rng.exponential(30 * 86400 / n, n)
    ts_us = (np.cumsum(gaps) * 1e6).astype("int64")
    base = np.datetime64("2024-01-01T00:00:00", "us")
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return {
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": pa.array(base + ts_us.astype("timedelta64[us]"), _TS),
        "user_id": pa.array(rng.integers(0, _USERS, n, dtype="int64")),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n)),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def _documents(rng, n: int) -> dict:
    """Bag-of-words texts over a 31-word vocabulary; one doc in twenty
    is an earlier doc's text plus a marker word (planted near-dups)."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(_VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    }


def _embeddings(rng, n: int) -> dict:
    """Unit vectors: a weak per-label centroid plus isotropic noise."""
    labels = rng.integers(0, 10, n).astype("int32")
    centroids = rng.normal(0, 0.14 / np.sqrt(_EMBED_DIM), (10, _EMBED_DIM))
    x = centroids[labels] + rng.normal(0, 1 / np.sqrt(_EMBED_DIM), (n, _EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype("float32")
    return {
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels),
    }


def write_tables(out_dir: str, seed: int, scale: float) -> None:
    """The ten engine tables at ``scale`` (1.0 = sf1) under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {k: max(int(v * scale), 1) for k, v in _ROWS.items()}
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": pa.array(_REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5),
    })
    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype="int32")),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, nc)),
    })
    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype="int32")),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2)),
    })
    np_ = n["part"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(np_, dtype="int64")),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, np_), rng.choice(_NOUN, np_))]
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
        "p_type": pa.array(rng.choice(_PART_TYPES, np_)),
        "p_size": pa.array(rng.integers(1, 51, np_, dtype="int32")),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 2)
        ),
    })
    no = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype="int64")),
        "o_orderstatus": pa.array(rng.choice(_STATUS, no)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, no), 2)),
        "o_orderdate": _days(rng, no, "1995-01-01", 2404),
        "o_orderpriority": pa.array(rng.choice(_PRIORITY, no)),
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype("float64")
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl, dtype="int64")),
        "l_partkey": pa.array(rng.integers(0, np_, nl, dtype="int64")),
        "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype="int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype="int32")),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(
            np.round(qty * rng.uniform(900.0, 2100.0, nl), 2)
        ),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], nl)),
        "l_shipdate": _days(rng, nl, "1995-01-02", 2498),
    })
    _write(out_dir, "events", _events(rng, n["events"]))
    _write(out_dir, "documents", _documents(rng, n["documents"]))
    _write(out_dir, "embeddings", _embeddings(rng, _EMBEDDINGS))


def chunk_events(src_dir: str, out_dir: str, chunks: int) -> None:
    """Copy the tables to ``out_dir`` with ``events`` split into
    ``chunks`` event-time-ordered files ``events00.parquet`` … — the
    drains read one file per micro-batch (``maxFilesPerTrigger=1``),
    and time order means no row is ever behind the watermark."""
    os.makedirs(out_dir, exist_ok=True)
    for name in os.listdir(src_dir):
        if name.endswith(".parquet") and name != "events.parquet":
            os.link(os.path.join(src_dir, name), os.path.join(out_dir, name))
    ev = pq.read_table(os.path.join(src_dir, "events.parquet"))
    ev = ev.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    bounds = np.linspace(0, ev.num_rows, chunks + 1).astype(int)
    for i in range(chunks):
        part = ev.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(out_dir, f"events{i:02d}.parquet"))


def write_payloads(out_dir: str, seed: int) -> None:
    """One captured-poll payload per catalog source, in the shapes the
    engine's normalize branches parse, with seeded values and tens of
    records for the list-shaped sources (github_events stays under the
    30-record client cap).  Record counts are fixed, so every seed
    gives the loop the same amount of work."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed + 7919)
    r2 = lambda lo, hi: round(float(rng.uniform(lo, hi)), 2)  # noqa: E731
    t0 = dt.datetime(2024, 5, 1, 10, 0, tzinfo=dt.timezone.utc)

    def iso(minutes: int) -> str:
        return (t0 + dt.timedelta(minutes=minutes)).strftime("%Y-%m-%dT%H:%M:%SZ")

    def count() -> int:
        return 20

    payloads = {
        "binance": {"symbol": "BTCUSDT", "price": f"{r2(50000, 70000):.2f}"},
        "coingecko": {f"coin{i}": {"usd": r2(0.1, 70000)} for i in range(count())}
        | {"bitcoin": {"usd": r2(50000, 70000)}},
        "fx_rates": {
            "base": "USD",
            "date": "2024-05-01",
            "rates": {f"C{i:02d}": r2(0.1, 200) for i in range(count())},
        },
        "github_events": [
            {
                "type": str(rng.choice(["WatchEvent", "PushEvent", "ForkEvent"])),
                "repo": {"name": f"org{i % 7}/repo{i}"},
                "actor": {"login": f"user{i}"},
                "created_at": iso(i),
            }
            for i in range(25)
        ],
        "iss_now": {
            "iss_position": {
                "latitude": f"{r2(-51, 51):.4f}",
                "longitude": f"{r2(-180, 180):.4f}",
            },
            "timestamp": 1714557600 + int(rng.integers(0, 3600)),
        },
        "nws_alerts": {
            "features": [
                {
                    "properties": {
                        "event": str(rng.choice(["Flood Warning", "Wind Advisory"])),
                        "areaDesc": f"County {i}, WA",
                        "severity": str(rng.choice(["Severe", "Moderate", "Minor"])),
                        "sent": "2024-05-01T08:00:00-07:00",
                    }
                }
                for i in range(count())
            ]
        },
        "open_meteo": {
            "current": {
                "temperature_2m": r2(-10, 35),
                "wind_speed_10m": r2(0, 40),
                "time": "2024-05-01T10:00",
            }
        },
        "openaq": {
            "results": [
                {
                    "city": f"City{i}",
                    "measurements": [
                        {
                            "parameter": p,
                            "value": r2(0, 80),
                            "unit": "µg/m³",
                            "lastUpdated": iso(i),
                        }
                        for p in ("pm25", "pm10", "no2")
                    ],
                }
                for i in range(count())
            ]
        },
        "spacex": {
            "name": f"Starlink Group {int(rng.integers(1, 10))}-{int(rng.integers(1, 99))}",
            "date_utc": "2024-04-30T01:00:00.000Z",
            "success": True,
            "flight_number": int(rng.integers(100, 400)),
        },
        "usgs_quakes": {
            "features": [
                {
                    "properties": {
                        "time": 1714557600000 + 60_000 * i,
                        "mag": r2(2.5, 7.5),
                        "place": f"{i}km N of Place{i}",
                        "type": "earthquake",
                    }
                }
                for i in range(count())
            ]
        },
    }
    for key, body in payloads.items():
        with open(os.path.join(out_dir, f"{key}.json"), "w", encoding="utf-8") as fh:
            json.dump(body, fh)

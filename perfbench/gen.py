"""Seeded input generators for the benchmark workloads.

Everything the program under test reads is written here, from the seed
alone: the same seed and parameters give byte-identical files. Sizes come
from ``params.json`` beside this file and do not depend on the seed, so
runs on different seeds do the same amount of work.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

EPOCH0 = 1_704_067_200  # 2024-01-01T00:00:00Z, first observation hour
WEATHER_KINDS = [
    ("Clear", "clear sky"),
    ("Clouds", "scattered clouds"),
    ("Clouds", "overcast clouds"),
    ("Rain", "light rain"),
    ("Rain", "moderate rain"),
    ("Snow", "light snow"),
]
# ways a record can break the collector's required-field contract
INVALID_KINDS = ("no_name", "no_main", "null_temp", "no_coord", "empty_weather")


def params() -> dict:
    """Generator sizes and planted shares, one block per workload."""
    with open(os.path.join(HERE, "params.json")) as f:
        return json.load(f)


def _write_parquet(df: pd.DataFrame, path: str) -> None:
    # one row group, no pandas index metadata: stable bytes for a stable frame
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False),
        path,
        compression="snappy",
        row_group_size=max(len(df), 1),
    )


# --------------------------------------------------------------------------
# weather: OpenWeather-shaped raw JSON micro-batches
# --------------------------------------------------------------------------
def _observation(city: dict, ts: int, temp: float, hum: int, rng) -> dict:
    kind = WEATHER_KINDS[int(rng.integers(len(WEATHER_KINDS)))]
    rec = {
        "name": city["name"],
        "dt": ts,
        "timezone": city["timezone"],
        "visibility": int(rng.integers(5000, 10001)),
        "coord": {"lat": city["lat"], "lon": city["lon"]},
        "main": {
            "temp": temp,
            "feels_like": round(temp - 1.0, 2),
            "temp_min": round(temp - 2.0, 2),
            "temp_max": round(temp + 2.0, 2),
            "pressure": int(1013 + rng.integers(-12, 13)),
            "humidity": hum,
        },
        "wind": {"speed": round(float(abs(rng.normal(3.5, 1.5))), 2),
                 "deg": int(rng.integers(0, 360))},
        "clouds": {"all": int(rng.integers(0, 101))},
        "weather": [{"main": kind[0], "description": kind[1]}],
        "sys": {"country": city["country"]},
    }
    if kind[0] == "Rain":
        rec["rain"] = {"1h": round(float(rng.choice([0.3, 0.8, 1.6])), 2)}
    if kind[0] == "Snow":
        rec["snow"] = {"1h": 0.5}
    return rec


def _break(rec: dict, kind: str) -> dict:
    rec = json.loads(json.dumps(rec))
    if kind == "no_name":
        del rec["name"]
    elif kind == "no_main":
        del rec["main"]
    elif kind == "null_temp":
        rec["main"]["temp"] = None
    elif kind == "no_coord":
        del rec["coord"]
    else:
        rec["weather"] = []
    return rec


def weather_batches(seed: int, out_dir: str, p: dict) -> dict:
    """Write ``p['batches']`` JSON-lines micro-batches under ``out_dir``.

    Cities × hourly observations carry a diurnal cycle plus a per-city
    offset. Planted on top: a ``late_share`` of hours delivered one or two
    batches after their own; a ``dup_share`` of keys re-delivered in a later
    batch with a newer value; an ``invalid_share`` of extra records that
    break the required-field contract (each a poisoned re-delivery of a real
    key, so a record that slipped through would change the table).

    Returns the expectation the ETL checks compare against: the final value
    per key and the delivery counts.
    """
    rng = np.random.default_rng([seed, 1])
    n_cities, n_hours, n_batches = p["cities"], p["hours"], p["batches"]
    cities = [
        {
            "name": f"City_{i:03d}",
            "country": ("US", "GB", "DE", "JP", "BR", "IN")[i % 6],
            "lat": round(float(rng.uniform(-60, 60)), 4),
            "lon": round(float(rng.uniform(-180, 180)), 4),
            "timezone": int(rng.integers(-11, 12)) * 3600,
            "base": float(rng.uniform(-5, 30)),
            "amp": float(rng.uniform(3, 9)),
        }
        for i in range(n_cities)
    ]
    batches: list[list[dict]] = [[] for _ in range(n_batches)]
    final: dict[tuple[str, int], tuple[float, int]] = {}
    home = [h * n_batches // n_hours for h in range(n_hours)]
    n_delivered = 0
    for c in cities:
        for h in range(n_hours):
            ts = EPOCH0 + 3600 * h
            temp = round(
                c["base"]
                + c["amp"] * math.sin(2 * math.pi * ((h % 24) - 9) / 24)
                + float(rng.normal(0, 1.0)),
                2,
            )
            hum = int(np.clip(65 + rng.normal(0, 12), 5, 100))
            rec = _observation(c, ts, temp, hum, rng)
            b = home[h]
            if rng.random() < p["late_share"]:
                b = min(n_batches - 1, b + int(rng.integers(1, 3)))
            batches[b].append(rec)
            n_delivered += 1
            final[(c["name"], ts)] = (temp, hum)
            if b < n_batches - 1 and rng.random() < p["dup_share"]:
                newer = json.loads(json.dumps(rec))
                newer["main"]["temp"] = round(temp + 1.5, 2)
                newer["main"]["humidity"] = min(100, hum + 3)
                batches[int(rng.integers(b + 1, n_batches))].append(newer)
                n_delivered += 1
                final[(c["name"], ts)] = (newer["main"]["temp"], newer["main"]["humidity"])
            if b < n_batches - 1 and rng.random() < p["invalid_share"]:
                bad = json.loads(json.dumps(rec))
                bad["main"]["temp"] = 999.0
                kind = INVALID_KINDS[int(rng.integers(len(INVALID_KINDS)))]
                batches[int(rng.integers(b + 1, n_batches))].append(_break(bad, kind))
                n_delivered += 1
    os.makedirs(out_dir, exist_ok=True)
    paths, sizes = [], []
    for i, recs in enumerate(batches):
        order = rng.permutation(len(recs))
        path = os.path.join(out_dir, f"batch_{i:03d}.json")
        with open(path, "w") as f:
            for j in order:
                f.write(json.dumps(recs[j], sort_keys=True, separators=(",", ":")) + "\n")
        paths.append(path)
        sizes.append(os.path.getsize(path))
    return {
        "paths": paths,
        "bytes": sizes,
        "rows": [len(b) for b in batches],
        "delivered": n_delivered,
        "final": final,
        "cities": [c["name"] for c in cities],
    }


# --------------------------------------------------------------------------
# star schema + events (registry serving) at a given scale factor
# --------------------------------------------------------------------------
def star_schema(seed: int, out_dir: str, sf: float) -> None:
    """TPC-H-shaped tables plus ``events`` with the column names and arrow
    types of the repository's sf fixtures (TESTDATA.md), at scale ``sf``."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_orders, n_line, n_events = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    i32 = np.int32
    day = np.timedelta64(1, "D")

    _write_parquet(pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out_dir}/region.parquet")
    _write_parquet(pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32),
    }), f"{out_dir}/nation.parquet")
    _write_parquet(pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    }), f"{out_dir}/customer.parquet")
    _write_parquet(pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }), f"{out_dir}/supplier.parquet")
    adj = np.array(["small", "red", "blue", "large", "green"])
    noun = np.array(["ring", "widget", "bolt", "gear", "valve"])
    _write_parquet(pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(rng.choice(adj, n_part), " "), rng.choice(noun, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    }), f"{out_dir}/part.parquet")
    start = np.datetime64("1995-01-01", "us")
    _write_parquet(pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
        "o_orderdate": start + rng.integers(0, 2400, n_orders) * day,
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders
        ),
    }), f"{out_dir}/orders.parquet")
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write_parquet(pd.DataFrame({
        "l_orderkey": rng.integers(0, n_orders, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 3000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": start + rng.integers(0, 2500, n_line) * day,
    }), f"{out_dir}/lineitem.parquet")
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_events))
    _write_parquet(pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": t0 + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(n_events // 66, 1), n_events).astype(np.int64),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_events),
        "value": np.round(rng.uniform(0, 50, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }), f"{out_dir}/events.parquet")


# --------------------------------------------------------------------------
# corpus: documents + embeddings
# --------------------------------------------------------------------------
LANGS = ("en", "de", "es", "fr", "zh")


def corpus(seed: int, p: dict) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Documents with planted exact and near duplicates, and label-clustered
    embeddings, with the column names and types of the repository's sf
    fixtures. Word choice is Zipfian over ``p['vocab']`` words, so unrelated
    documents share few 3-word shingles and the near-duplicate graph is
    made of the planted families."""
    rng = np.random.default_rng([seed, 3])
    n_docs, vocab = p["docs"], p["vocab"]
    words = np.array([f"w{i}" for i in range(vocab)] + ["the", "a", "and", "of"])
    zipf = 1.0 / np.arange(1, len(words) + 1)
    zipf /= zipf.sum()
    texts: list[str] = []
    for _ in range(n_docs):
        r = rng.random()
        if texts and r < p["exact_dup_share"]:
            texts.append(texts[int(rng.integers(len(texts)))])
        elif texts and r < p["exact_dup_share"] + p["near_dup_share"]:
            toks = texts[int(rng.integers(len(texts)))].split(" ")
            for _k in range(max(1, len(toks) // 12)):
                toks[int(rng.integers(len(toks)))] = str(rng.choice(words, p=zipf))
            texts.append(" ".join(toks))
        else:
            n = int(rng.integers(p["min_words"], p["max_words"] + 1))
            texts.append(" ".join(rng.choice(words, n, p=zipf)))
    docs = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
    })
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)
    n_emb, dim = p["embeddings"], p["dim"]
    centers = rng.normal(0, 1, (10, dim))
    labels = rng.integers(0, 10, n_emb)
    vecs = (centers[labels] + rng.normal(0, 0.6, (n_emb, dim))).astype(np.float32)
    emb = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(np.int32),
    })
    return docs, emb


def write_corpus_copy(docs: pd.DataFrame, emb: pd.DataFrame, out_dir: str, seed: int, copy: int) -> None:
    """One row-permuted copy of the corpus (same ids, seed- and copy-drawn
    row order) — a fresh input directory per timed pass."""
    rng = np.random.default_rng([seed, 4, copy])
    os.makedirs(out_dir, exist_ok=True)
    _write_parquet(docs.iloc[rng.permutation(len(docs))], f"{out_dir}/documents.parquet")
    _write_parquet(emb.iloc[rng.permutation(len(emb))], f"{out_dir}/embeddings.parquet")

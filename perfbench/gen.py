"""Seeded input generators for the benchmark.

Everything the program under test reads is produced here, inside the
checkout the benchmark runs in (it reads no data outside it):

- the ten fixture tables of ``fleet``, in the repo's fixture schema
  (FIXTURES.md). ``fleet`` always passes the same fixture seed, so every
  run's queries do the same work;
- from the ``--seed`` argument: the per-pass query orders of ``fleet``,
  the bike-trip JSON-lines files (with a share of malformed lines) and the
  request mix of ``pipeline``.

The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# fleet fixtures: the ten tables of the repo's fixture schema (FIXTURES.md)

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["small", "red", "blue", "hot", "cold", "old", "new", "large"]
_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "gizmo", "anvil"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01
_EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def fixture_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten fixture tables at scale factor ``sf`` (sf=0.01 → 60,000
    lineitems), with the value domains of the repo's fixtures."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_users = int(1_000_000 * sf), max(15, int(15_000 * sf))
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995_US + rng.integers(0, 2400, n_ord) * _DAY_US),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(_EPOCH_1995_US + rng.integers(1, 2500, n_line) * _DAY_US),
    })
    ts = np.sort(_EPOCH_2024_US + rng.integers(0, 30 * _DAY_US, n_events))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2) + 0.01,
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(8, 90)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_fixtures(out_dir: str, seed: int, sf: float) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in fixture_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def query_orders(seed: int, names: list[str], passes: int) -> list[list[str]]:
    """One seeded permutation of ``names`` per pass."""
    rng = random.Random(seed)
    out = []
    for _ in range(passes):
        order = list(names)
        rng.shuffle(order)
        out.append(order)
    return out


# ---------------------------------------------------------------------------
# bike-trip records (the reference's Kafka payloads)

DROP_COLS = ["Dmonth", "Dday", "Dhour", "Dmin", "DDweek"]

_MALFORMED = (
    lambda r: "not json at all",
    lambda r: '{"Duration": 12.5, "Distance": ',  # truncated object
    lambda r: "[1, 2, 3]",
    lambda r: "{}",
    lambda r: '{"unknown_field": %d}' % r.randint(0, 999),
    lambda r: "%d" % r.randint(0, 999),
)


def bike_record(rng: random.Random) -> dict:
    """One valid trip: 19 features, the 5 dropoff columns and a Duration
    that depends on distance and hour, all rounded to two decimals."""
    plat, plong = rng.uniform(37.45, 37.68), rng.uniform(126.8, 127.18)
    dlat, dlong = plat + rng.uniform(-0.03, 0.03), plong + rng.uniform(-0.03, 0.03)
    hav = ((plat - dlat) ** 2 + (plong - dlong) ** 2) ** 0.5 * 111.0
    dist = hav * rng.uniform(1.0, 1.6) * 1000.0
    hour = rng.randint(0, 23)
    rec = {
        "Distance": dist, "PLong": plong, "PLatd": plat, "DLong": dlong,
        "DLatd": dlat, "Haversine": hav,
        "Pmonth": rng.randint(1, 12), "Pday": rng.randint(1, 28),
        "Phour": hour, "Pmin": rng.randint(0, 59), "PDweek": rng.randint(0, 6),
        "Temp": rng.uniform(-10.0, 35.0), "Precip": rng.choice([0.0, 0.0, 0.0, rng.uniform(0, 20)]),
        "Wind": rng.uniform(0.0, 7.0), "Humid": rng.uniform(10.0, 98.0),
        "Solar": rng.uniform(0.0, 3.5), "Snow": rng.choice([0.0, 0.0, 0.0, 0.0, rng.uniform(0, 5)]),
        "GroundTemp": rng.uniform(-12.0, 45.0), "Dust": rng.uniform(5.0, 150.0),
        "Dmonth": 0, "Dday": 0, "Dhour": 0, "Dmin": 0, "DDweek": 0,
    }
    rec["Duration"] = dist / 180.0 + (8.0 if 7 <= hour <= 9 or 17 <= hour <= 19 else 0.0) + rng.uniform(0.0, 6.0)
    return {k: round(float(v), 2) for k, v in rec.items()}


def bike_lines(seed: int, n_valid: int, malformed_share: float = 0.01):
    """(lines, valid_records, n_malformed): ``n_valid`` JSON trips with a
    seeded share of malformed lines mixed in."""
    rng = random.Random(seed)
    lines, valid, n_bad = [], [], 0
    while len(valid) < n_valid:
        if rng.random() < malformed_share:
            lines.append(rng.choice(_MALFORMED)(rng))
            n_bad += 1
        else:
            rec = bike_record(rng)
            valid.append(rec)
            lines.append(json.dumps(rec))
    return lines, valid, n_bad


def write_bike_files(out_dir: str, lines: list[str], n_files: int) -> list[str]:
    """Split ``lines`` into ``n_files`` JSON-lines files whose mtimes are
    strictly increasing, so a file stream reads them in order."""
    os.makedirs(out_dir, exist_ok=True)
    per = -(-len(lines) // n_files)
    paths = []
    for i in range(n_files):
        p = os.path.join(out_dir, f"part-{i:03d}.jsonl")
        with open(p, "w") as f:
            f.write("\n".join(lines[i * per:(i + 1) * per]) + "\n")
        os.utime(p, (1_600_000_000 + i, 1_600_000_000 + i))
        paths.append(p)
    return paths


# ---------------------------------------------------------------------------
# serve request mix

def _payload(rng: random.Random, omit_share: float) -> dict:
    rec = bike_record(rng)
    rec.pop("Duration")
    for c in DROP_COLS:
        rec.pop(c)
    if rng.random() < omit_share:
        for c in rng.sample(sorted(rec), rng.randint(1, 3)):
            rec.pop(c)
    return rec


def request_mix(seed: int, kinds: list[str], omit_share: float = 0.1) -> list[tuple[str, dict]]:
    """One (kind, json body) request per entry of ``kinds``: ``predict``,
    ``sensitivity`` over 8 values or ``optimal_time`` over the 24 hours.
    About ``omit_share`` of the feature payloads leave features out."""
    rng = random.Random(seed)
    out = []
    for kind in kinds:
        base = _payload(rng, omit_share)
        if kind == "predict":
            out.append((kind, base))
        elif kind == "sensitivity":
            feat = rng.choice(["Temp", "Wind", "Humid", "Distance", "Phour"])
            lo = rng.uniform(0.0, 10.0)
            out.append((kind, {
                "base_features": base,
                "variable_feature_name": feat,
                "variation_values": [round(lo + 2.5 * i, 2) for i in range(8)],
            }))
        else:
            out.append((kind, {
                "base_conditions": base,
                "target_duration_min": 0,
                "target_duration_max": 1e9,
                "hours_to_evaluate": list(range(24)),
                "minute_of_hour": rng.randint(0, 59),
            }))
    return out

"""Seeded inputs for the benchmark: the IoT reading stream and the batch tables.

Two generators, both pure functions of their seed:

- `write_stream_files` writes the reading stream the topology drains: a fleet
  of `SENSORS` sensors, one reading each per 10-s trigger, one JSON-lines file
  per trigger.  It injects the reference generator's dirt mix (10% late in the
  5/3/2% lateness classes of streaming/late_fixtures.py, exact duplicates,
  out-of-range values, bad ``props.k`` values and malformed lines) and returns
  the exact count of each class it injected, plus the ground truth the
  correctness check recomputes the aggregates from.
- `write_tables` writes the ten batch tables with the schemas and value
  distributions FIXTURES.md Part A documents, at a given scale.

Timestamps are made so that the watermark can never tie with an event time:
on-time readings carry an even millisecond and late readings an odd one, and
the watermark is the largest on-time valid event time minus a whole minute.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from real_time_iot_data_engineering_pipeline_spark.streaming import late_fixtures

SENSORS = 1000
STEP_S = 10  # one reading per sensor per trigger, as the reference generator
BASE = dt.datetime(2024, 1, 8)  # 12 days of triggers fit the validator's 14-day window
BASE_MTIME = 1_700_000_000
EPOCH = dt.datetime(1970, 1, 1)

# (class, share of readings, lateness range in seconds), from the program's
# cumulative-percent table: 5/3/2% late by 1-5, 5-15 and 15-60 minutes.
LATE_CLASSES = tuple(
    (f"late_{lo // 60}_{hi // 60}m", (upper - below) / 100, (lo, hi))
    for below, (upper, lo, hi) in zip((0, *(c[0] for c in late_fixtures.LATE_CLASSES)), late_fixtures.LATE_CLASSES)
)
INVALID_RATES = (
    ("out_of_range", 0.02),
    ("bad_k", 0.02),
    ("malformed", 0.005),
)
DUPLICATE_RATE = 0.02  # extra exact copy of an on-time valid reading
INVALID_CLASSES = tuple(name for name, _ in INVALID_RATES)
SENSOR_TYPES = (
    "temperature",
    "humidity",
    "energy",
    "air_quality",
    "motion",
    "pressure",
    "light",
    "vibration",
)


def ts_string(ms: int) -> str:
    t = EPOCH + dt.timedelta(milliseconds=ms)
    return t.strftime("%Y-%m-%d %H:%M:%S.") + f"{ms % 1000:03d}"


@dataclass
class StreamTruth:
    """What the generator injected: class counts over all files, and per file
    the valid readings (user_id, event_id, ts_ms, value, event_type) without
    the duplicate copies."""

    counts: dict[str, int] = field(default_factory=dict)
    valid: list[list[tuple[int, int, int, float, str]]] = field(default_factory=list)
    rows_per_file: list[int] = field(default_factory=list)

    @property
    def rows(self) -> int:
        return sum(self.rows_per_file)

    @property
    def invalid(self) -> int:
        return sum(self.counts.get(c, 0) for c in INVALID_CLASSES)


def stream_file_lines(seed: int, index: int) -> tuple[list[str], dict, list]:
    """Lines of trigger file `index` of the stream for `seed`, its class
    counts and its valid readings.  Each file draws from its own RNG, so a
    file does not depend on how many files were written before it."""
    rng = random.Random(seed * 1_000_003 + index)
    arrival_ms = int((BASE - EPOCH).total_seconds() * 1000) + index * STEP_S * 1000
    counts = {name: 0 for name, _, _ in LATE_CLASSES}
    counts.update({name: 0 for name in INVALID_CLASSES})
    counts.update(on_time=0, duplicate=0)
    lines: list[str] = []
    dups: list[str] = []
    valid: list[tuple[int, int, int, float, str]] = []
    max_valid_ms = max_invalid_ms = -1
    for sensor in range(SENSORS):
        event_id = index * SENSORS + sensor
        etype = SENSOR_TYPES[sensor % len(SENSOR_TYPES)]
        u = rng.random()
        cls = "on_time"
        acc = 0.0
        for name, share, _ in LATE_CLASSES:
            acc += share
            if u < acc:
                cls = name
                break
        else:
            for name, share in INVALID_RATES:
                acc += share
                if u < acc:
                    cls = name
                    break
        value = round(rng.uniform(10.0, 90.0), 2)
        k: object = rng.randrange(100)
        if cls in INVALID_CLASSES:
            ts_ms = arrival_ms + 2 * rng.randrange(2500)  # first half of the slot
            max_invalid_ms = max(max_invalid_ms, ts_ms)
            if cls == "out_of_range":
                value = round(rng.choice((rng.uniform(100.5, 150), rng.uniform(-50, -0.5))), 2)
            elif cls == "bad_k":
                k = rng.choice(("n/a", "abc", "12x"))
        elif cls == "on_time":
            ts_ms = arrival_ms + 2 * rng.randrange(5000)
        else:
            lo, hi = dict((n, r) for n, _, r in LATE_CLASSES)[cls]
            ts_ms = arrival_ms + 2 * rng.randrange(5000) + 1 - 1000 * rng.randrange(lo, hi)
        counts[cls] += 1
        line = json.dumps(
            {
                "event_id": event_id,
                "ts": ts_string(ts_ms),
                "user_id": sensor,
                "event_type": etype,
                "value": value,
                "props": json.dumps({"k": k}),
            }
        )
        if cls == "malformed":
            line = line[: len(line) // 2]
        lines.append(line)
        if cls in INVALID_CLASSES:
            continue
        valid.append((sensor, event_id, ts_ms, value, etype))
        max_valid_ms = max(max_valid_ms, ts_ms)
        if cls == "on_time" and rng.random() < DUPLICATE_RATE:
            counts["duplicate"] += 1
            dups.append(line)
    if max_invalid_ms >= max_valid_ms:
        # The watermark is defined on valid rows only; keep the file's
        # largest event time on a valid row so filter placement cannot matter.
        raise ValueError(f"file {index}: invalid row holds the max event time")
    return lines + dups, counts, valid


def write_stream_files(out_dir: str, seed: int, n_files: int, first: int = 0) -> StreamTruth:
    """Write trigger files first..first+n_files-1, mtime-ordered 10 s apart
    (one micro-batch each under maxFilesPerTrigger=1)."""
    os.makedirs(out_dir, exist_ok=True)
    truth = StreamTruth()
    for index in range(first, first + n_files):
        lines, counts, valid = stream_file_lines(seed, index)
        path = os.path.join(out_dir, f"readings-{index:05d}.json")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        mtime = BASE_MTIME + index * STEP_S
        os.utime(path, (mtime, mtime))
        for name, n in counts.items():
            truth.counts[name] = truth.counts.get(name, 0) + n
        truth.valid.append(valid)
        truth.rows_per_file.append(len(lines))
    return truth


# ---------------------------------------------------------------------------
# Batch tables (schemas of FIXTURES.md Part A)

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = (("en", 0.43), ("zh", 0.15), ("es", 0.14), ("de", 0.14), ("fr", 0.14))
PART_ADJ = ("small", "red", "blue", "hot", "cold", "old", "new", "large")
PART_NOUN = ("ring", "widget", "bolt", "plate", "rod", "gizmo", "gear", "anvil")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")
EVENT_TYPES = ("signup", "error", "click", "view", "purchase")


def _days(rng: np.random.Generator, start: dt.date, span: int, n: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    days = rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(base + days, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(sf: float, seed: int = 42) -> dict[str, pa.Table]:
    """The ten fixture tables at scale factor `sf` (row counts as TESTDATA.md's:
    customer 150k*sf, lineitem 6M*sf, events 1M*sf, documents 50k*sf)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_users = int(50_000 * sf), max(500, int(20_000 * sf)), int(15_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": rng.choice(("O", "F", "P"), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(float),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), n_li),
            "l_linestatus": rng.choice(("O", "F"), n_li),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, n_li),
        }
    )
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev)) + np.datetime64("2024-01-01", "us")
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for _ in range(n_doc):
        u = rng.random()
        if texts and u < 0.05:  # near duplicate of an earlier document
            texts.append(texts[rng.integers(0, len(texts))] + " dup")
        elif texts and u < 0.052:  # exact duplicate
            texts.append(texts[rng.integers(0, len(texts))])
        else:
            texts.append(" ".join(rng.choice(WORDS, rng.integers(10, 100))))
    langs, shares = zip(*LANGS)
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), i64),
            "text": texts,
            "lang": rng.choice(langs, n_doc, p=shares),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(s) for s in texts], i64),
        }
    )
    vecs = rng.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), i32),
        }
    )
    return t


def write_tables(out_dir: str, sf: float, seed: int = 42) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

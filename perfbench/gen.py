"""Seeded input generators for the medallion benchmark.

Bronze (FIXTURES.md §2): 27 locations x 144 ten-minute ticks per day, one
JSON-array landing file per tick. The source reads with ``multiLine=true``,
so a JSON-lines file would silently read as one row; arrays read as one row
per doc. Each tick carries the shapes the Silver transform must handle:

* ~1.5% duplicate ``(location.id, dag_times.end)`` docs, landed later (the
  keep-first survivor is the lowest ``_id``);
* a rare doc with a null ``location.id`` (rejected by the flatten);
* ~1% missing (location, slot) fetches and one outage hour per
  (location, day) now and then, so the minute grid has holes and some days
  lack hour 23;
* late ``history`` docs: a location whose current fetch failed in this tick
  lands instead a catch-up doc whose ``logical_date`` is a slot it missed the
  day before. Every day's 00:10 tick carries one, so any run of ticks that
  crosses midnight touches two Gold dates.

``_id`` encodes landing order (ObjectId stand-in), so "keep the lowest
``_id`` per key" is the expected result at both the Bronze key and the
Silver key ``(location_id, timestamp)``; :func:`expected_silver_rows` computes
it, with the values the flatten must carry, in plain Python.

Headline tables: the ten tables ``queries.QUERIES`` reads (TPC-H-like star
schema, ``events``, ``documents``, ``embeddings``), written as parquet with
the column names and types of the engine's test data.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TS_FMT = "%Y-%m-%d %H:%M:%S"
SLOTS_PER_DAY = 144
N_LOCATIONS = 27
P_DUP = 0.015
P_MISS = 0.01
P_NULL_LOC = 0.05  # per tick
P_OUTAGE_DAY = 0.05  # per (location, day): one whole hour missing
P_LATE = 0.03  # per tick, on top of the forced 00:10 one

_COMPASS = ["N", "NNE", "NE", "ENE", "E", "ESE", "SE", "SSE",
            "S", "SSW", "SW", "WSW", "W", "WNW", "NW", "NNW"]
# skewed so the per-hour mode is meaningful
_COMPASS_W = [8, 3, 6, 2, 5, 2, 4, 2, 3, 1, 4, 2, 6, 2, 3, 1]
_CONDITIONS = ["Sunny", "Partly cloudy", "Cloudy", "Overcast", "Light rain",
               "Moderate rain", "Heavy rain", "Patchy rain possible"]


def locations(seed: int) -> list[dict]:
    rng = random.Random(f"loc:{seed}")
    out = []
    for i in range(N_LOCATIONS):
        out.append({
            "id": 3_000_000 + 1_000 * i + rng.randrange(1_000),
            "name": f"Kota Lokasi {i:02d}",
            "lat": round(rng.uniform(-7.7, -6.1), 4),
            "lon": round(rng.uniform(106.5, 108.6), 4),
        })
    return out


class BronzeGen:
    """Deterministic Bronze docs for day ``d`` (0-based from ``start``) and
    slot ``s`` (tick end = start + d days + s x 10 min)."""

    def __init__(self, seed: int):
        self.seed = seed
        self.start = dt.datetime(2024, 1, 1) + dt.timedelta(days=seed % 28)
        self.locs = locations(seed)
        self._plans: dict[int, tuple[set, dict]] = {}
        self._seq = 0

    def tick_end(self, d: int, s: int) -> dt.datetime:
        return self.start + dt.timedelta(days=d, minutes=10 * s)

    def day_plan(self, d: int) -> tuple[set, dict]:
        """(missing (loc_idx, slot) pairs, {slot: (loc_idx, late_slot)})
        for day ``d``; late docs fill a slot missed on day ``d - 1``."""
        if d in self._plans:
            return self._plans[d]
        rng = random.Random(f"day:{self.seed}:{d}")
        missing = {
            (li, s)
            for li in range(N_LOCATIONS)
            for s in range(SLOTS_PER_DAY)
            if rng.random() < P_MISS
        }
        for li in range(N_LOCATIONS):
            if rng.random() < P_OUTAGE_DAY:
                h = rng.randrange(24)
                missing.update((li, 6 * h + k) for k in range(6))
        late: dict[int, tuple[int, int]] = {}
        if d > 0:
            prev_missing = sorted(self.day_plan(d - 1)[0])
            for s in range(SLOTS_PER_DAY):
                if (s == 1 or rng.random() < P_LATE) and prev_missing:
                    li, ls = prev_missing[rng.randrange(len(prev_missing))]
                    late[s] = (li, ls)
                    missing.add((li, s))  # its current fetch failed
        self._plans[d] = (missing, late)
        return self._plans[d]

    def _next_id(self, end: dt.datetime) -> str:
        self._seq += 1
        return f"{int(end.timestamp()):08x}{self._seq:016x}"

    def _measures(self, rng: random.Random, hour: int, base: float) -> dict:
        temp = round(base + 5.0 * np.sin((hour - 8) / 24 * 2 * np.pi)
                     + rng.uniform(-1.5, 1.5), 1)
        wi = rng.choices(range(16), weights=_COMPASS_W)[0]
        return {
            "time": None,
            "temp_c": temp,
            "feelslike_c": round(temp + rng.uniform(-2.0, 4.0), 1),
            "humidity": rng.randint(40, 100),
            "wind_kph": round(rng.uniform(0.0, 40.0), 1),
            "wind_dir": _COMPASS[wi],
            "wind_degree": wi * 22 + rng.randint(0, 22),
            "precip_mm": 0.0 if rng.random() < 0.8 else round(rng.uniform(0.1, 30.0), 1),
            "is_day": 1 if 6 <= hour < 18 else 0,
            "uv": round(rng.uniform(0.0, 11.0), 1) if 6 <= hour < 18 else 0.0,
            "cloud": rng.randint(0, 100),
            "condition": {"text": rng.choice(_CONDITIONS)},
        }

    def _doc(self, rng, end, loc, method="current", logical=None) -> dict:
        landed = end + dt.timedelta(seconds=rng.randint(1, 50))
        start = end - dt.timedelta(minutes=10)
        ev = logical or end
        cur = self._measures(rng, ev.hour, 25.0 + (loc["lat"] + 7.7) * 3.0)
        if method == "history":
            cur["time"] = ev.strftime(TS_FMT)
        return {
            "_id": self._next_id(end),
            "created_at": landed.strftime(TS_FMT),
            "dag_times": {
                "start": start.strftime(TS_FMT),
                "end": end.strftime(TS_FMT),
                "logical_date": (logical or start).strftime(TS_FMT),
            },
            "fetch_method": method,
            "location": loc,
            "current": cur,
        }

    def tick_docs(self, d: int, s: int) -> list[dict]:
        """Docs of one tick in landing (= ``_id``) order. Call ticks in
        order: ``_id`` is a running counter."""
        rng = random.Random(f"tick:{self.seed}:{d}:{s}")
        missing, late = self.day_plan(d)
        end = self.tick_end(d, s)
        docs = []
        if s in late:
            li, ls = late[s]
            docs.append(self._doc(rng, end, self.locs[li], "history",
                                  logical=self.tick_end(d - 1, ls)))
        for li, loc in enumerate(self.locs):
            if (li, s) not in missing:
                docs.append(self._doc(rng, end, loc))
        for li, loc in enumerate(self.locs):
            if (li, s) not in missing and rng.random() < P_DUP:
                docs.append(self._doc(rng, end, loc))
        if rng.random() < P_NULL_LOC:
            loc = dict(self.locs[rng.randrange(N_LOCATIONS)], id=None)
            docs.append(self._doc(rng, end, loc))
        return docs


def _land(path: str, docs: list[dict]) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    data = json.dumps(docs, separators=(",", ":")).encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def land_tick(root: str, gen: BronzeGen, d: int, s: int) -> tuple[str, list[dict], int]:
    """Write one tick's landing file (a JSON array); returns (path, docs,
    bytes written)."""
    docs = gen.tick_docs(d, s)
    end = gen.tick_end(d, s)
    path = os.path.join(root, end.strftime("%Y-%m-%d"), end.strftime("%H%M") + ".json")
    return path, docs, _land(path, docs)


def land_day(root: str, gen: BronzeGen, d: int, n_slots: int) -> tuple[list[dict], int]:
    """Write the first ``n_slots`` ticks of day ``d`` as one JSON array;
    returns (docs, bytes written). A pre-seeded history reads faster from
    one file a day than from 144."""
    docs = [doc for s in range(n_slots) for doc in gen.tick_docs(d, s)]
    path = os.path.join(root, gen.tick_end(d, 0).strftime("%Y-%m-%d"), "history.json")
    return docs, _land(path, docs)


def event_time(doc: dict) -> str:
    dtimes = doc["dag_times"]
    return dtimes["logical_date"] if doc["fetch_method"] == "history" else dtimes["end"]


def bronze_survivors(docs: list[dict]) -> list[dict]:
    """Keep-first by ``_id`` on the Bronze key (location.id, dag_times.end),
    null locations dropped: the rows the Silver transform emits."""
    first: dict[tuple, dict] = {}
    for doc in docs:
        key = (doc["location"]["id"], doc["dag_times"]["end"])
        if key not in first or doc["_id"] < first[key]["_id"]:
            first[key] = doc
    return [d for (loc_id, _), d in first.items() if loc_id is not None]


def expected_silver_rows(docs: list[dict]) -> dict[str, tuple]:
    """Bronze keep-first, then keep-first by ``_id`` on the Silver key
    (location_id, timestamp): {_id: (location_id, timestamp, temp_c,
    precip_mm)} of the rows Silver must hold."""
    silver: dict[tuple, dict] = {}
    for doc in bronze_survivors(docs):
        key = (doc["location"]["id"], event_time(doc))
        if key not in silver or doc["_id"] < silver[key]["_id"]:
            silver[key] = doc
    return {
        doc["_id"]: (loc_id, ts, doc["current"]["temp_c"], doc["current"]["precip_mm"])
        for (loc_id, ts), doc in silver.items()
    }


# ---------------------------------------------------------------------------
# headline-query tables
# ---------------------------------------------------------------------------

_WORDS = ("the a and of to is data spark table query join scan key value row "
          "column batch stream window merge sort hash group order filter agg "
          "part line customer fast slow big small vector").split()


def _ts(days_from: dt.datetime, offsets_s: np.ndarray) -> pa.Array:
    base = np.datetime64(days_from, "us")
    return pa.array(base + offsets_s.astype("timedelta64[us]"), pa.timestamp("us"))


def write_headline_tables(root: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write the ten tables under ``root``; returns rows per table.
    ``scale=1`` is about the engine's sf0.01 (60k lineitem rows)."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    n_cust, n_supp, n_part = int(1500 * scale), max(int(100 * scale), 25), int(2000 * scale)
    n_ord, n_ev, n_doc = int(15000 * scale), int(10000 * scale), int(500 * scale)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = np.array(["small", "red", "big", "blue", "green", "shiny", "dull", "tiny"])
    noun = np.array(["ring", "widget", "gear", "bolt", "valve", "panel", "spring", "pipe"])
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    day0 = dt.datetime(1995, 1, 1)
    span_s = (dt.datetime(2001, 8, 1) - day0).days
    odays = rng.integers(0, span_s + 1, n_ord)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(day0, odays * 86_400_000_000),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, n_li).astype(float)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(day0, (np.repeat(odays, lines) + rng.integers(1, 122, n_li))
                          * 86_400_000_000),
    })
    ev_off = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1), ev_off),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": np.array(["click", "signup", "error", "view", "purchase"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_doc):
        if i >= 10 and i % 25 == 0:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 10 and i % 25 == 7:  # near duplicate: two words swapped out
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), 2):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(_WORDS[k] for k in rng.integers(0, len(_WORDS), n)))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "en", "de", "es", "fr", "zh"])[rng.integers(0, 6, n_doc)],
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    emb = rng.normal(0.0, 0.15, (n_doc, 64)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_doc), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_doc), pa.int32()),
    })
    for name, t in tables.items():
        pq.write_table(t, os.path.join(root, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}

"""Seeded inputs for the benchmark and the answers they must produce.

Everything here is plain Python (plus numpy for the bars, pandas and
pyarrow to write them, and ``zoneinfo`` for America/New_York); nothing
calls into the program, so
the expected answers are computed apart from the code under test. The
same seed always gives the same files and the same answers; every seed
gives inputs of the same size, so timings from different seeds compare.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random
from collections import defaultdict
from dataclasses import dataclass, field
from zoneinfo import ZoneInfo

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

UTC = dt.timezone.utc
ET = ZoneInfo("America/New_York")

# Inclusive hhmm bands in New York wall-clock time (the reference's
# session rule); anything else is labelled "closed".
SESSION_BANDS = {"premarket": (400, 929), "regular": (930, 1600), "afterhours": (1601, 2000)}

# The ingest landing is one trading day of the reference's 1m batch,
# then the next day's fetch. 2024-03-08 is a Friday in EST and
# 2024-03-11 the Monday after the US spring-forward switch, in EDT: the
# late slice (which re-fetches 03-08 as the reference's one-day overlap)
# carries both UTC offsets, so the session labelling has to follow them.
FULL_DAYS = (dt.date(2024, 3, 8),)
LATE_DAY = dt.date(2024, 3, 11)
# Days of the versioned table that the restatements correct.
RESTATE_DAYS = (dt.date(2024, 3, 6), dt.date(2024, 3, 7), dt.date(2024, 3, 8))
# Minutes that every symbol-day carries: the band edges.
EDGE_HHMM = (400, 929, 930, 1600, 1601, 2000)
# Bar minutes are drawn from 03:30 to 20:29 New York time, so a few
# bars fall outside every session.
FIRST_MINUTE, LAST_MINUTE = 3 * 60 + 30, 20 * 60 + 29

SOURCE = "bench"


def _session_of_hhmm(hhmm: int) -> str:
    for name, (lo, hi) in SESSION_BANDS.items():
        if lo <= hhmm <= hi:
            return name
    return "closed"


def _tickers(rng: random.Random, n: int) -> list[str]:
    out: set[str] = set()
    while len(out) < n:
        out.add("".join(rng.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ") for _ in range(rng.randint(3, 4))))
    return sorted(out)


_CLOCKS: dict[dt.date, dict[int, tuple[int, str]]] = {}


def _clock(day: dt.date) -> dict[int, tuple[int, str]]:
    """New York minute of ``day`` -> (epoch ms, session), computed once
    per day with ``zoneinfo``."""
    if day not in _CLOCKS:
        out = {}
        for m in range(FIRST_MINUTE, LAST_MINUTE + 1):
            local = dt.datetime(day.year, day.month, day.day, m // 60, m % 60, tzinfo=ET)
            out[m] = (int(local.timestamp() * 1000), _session_of_hhmm((m // 60) * 100 + m % 60))
        _CLOCKS[day] = out
    return _CLOCKS[day]


def _bar(rng: random.Random, t: int, price: float) -> dict:
    o = round(price, 4)
    c = round(price * (1 + rng.gauss(0, 0.002)), 4)
    h = round(max(o, c) * (1 + abs(rng.gauss(0, 0.001))), 4)
    lo = round(min(o, c) * (1 - abs(rng.gauss(0, 0.001))), 4)
    v = rng.randint(100, 50_000)
    return {
        "t": t,
        "o": o,
        "h": h,
        "l": lo,
        "c": c,
        "v": float(v),
        "vw": round((o + h + lo + c) / 4, 4),
        "n": float(rng.randint(1, 400)),
    }


WIRE_FIELDS = ("t", "o", "h", "l", "c", "v", "vw", "n")


def _symbol_days(rng: random.Random, symbols, days, bars_per_day) -> dict[str, dict[dt.date, dict]]:
    """Per symbol and day, the wire fields of ``bars_per_day`` minute
    bars as numpy columns: the band-edge minutes plus a random sample of
    the other minutes of ``_clock``, priced by a random walk that goes
    on from one day to the next. numpy keeps the reference-sized landing
    cheap to make; its generator is seeded from ``rng``."""
    g = np.random.default_rng(rng.getrandbits(64))
    edges = {(h // 100) * 60 + h % 100 for h in EDGE_HHMM}
    out: dict[str, dict[dt.date, dict]] = {}
    for sym in symbols:
        price = g.uniform(5, 500)
        per_day = {}
        for day in days:
            clock = _clock(day)
            pool = np.array([m for m in clock if m not in edges])
            picked = np.sort(np.concatenate([list(edges), g.choice(pool, bars_per_day - len(edges), replace=False)]))
            t = np.array([clock[m][0] for m in picked.tolist()], dtype=np.int64)
            close = np.round(price * np.cumprod(1 + g.normal(0, 0.002, len(t))), 4)
            opn = np.round(np.concatenate([[price], close[:-1]]), 4)
            high = np.round(np.maximum(opn, close) * (1 + np.abs(g.normal(0, 0.001, len(t)))), 4)
            low = np.round(np.minimum(opn, close) * (1 - np.abs(g.normal(0, 0.001, len(t)))), 4)
            per_day[day] = {
                "t": t,
                "o": opn,
                "h": high,
                "l": low,
                "c": close,
                "v": g.integers(100, 50_001, len(t)).astype(np.float64),
                "vw": np.round((opn + high + low + close) / 4, 4),
                "n": g.integers(1, 401, len(t)).astype(np.float64),
            }
            price = float(close[-1])
        out[sym] = per_day
    return out


def _records(cols: dict) -> list[dict]:
    return [dict(zip(WIRE_FIELDS, r)) for r in zip(*(cols[k].tolist() for k in WIRE_FIELDS))]


def _write_jsonl(path: str, cols: dict, symbol: str) -> None:
    """One landed page: the wire fields plus the symbol the fetcher tags."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    page = pd.DataFrame({k: cols[k] for k in WIRE_FIELDS}).assign(symbol=symbol)
    page.to_json(path, orient="records", lines=True)


# --------------------------------------------------------------------------
# bars_pipeline, ingest half
# --------------------------------------------------------------------------


@dataclass
class IngestInputs:
    landing: str  # the source directory the full load reads
    late_staged: str  # the late ingest_date directory, before it lands
    late_landed: str  # where it lands (inside ``landing``)
    full_bars: int
    late_landed_rows: int  # rows in the late slice, overlap included
    late_rows: int  # rows strictly newer than every stored bar
    # (symbol, session) -> [bars, volume sum] over full load + late rows
    expected: dict[tuple[str, str], list[int]] = field(default_factory=dict)


def make_ingest(root: str, seed: int, n_symbols: int, bars_per_day: int) -> IngestInputs:
    """Landed newline-JSON minute bars in the fetcher's layout
    ``source=…/ingest_date=…/part-*.json`` (one page per symbol and
    day), plus a late slice for ``LATE_DAY`` that, like the reference's
    incremental fetch, re-fetches the last loaded day as well."""
    rng = random.Random(seed)
    symbols = _tickers(rng, n_symbols)
    bars = _symbol_days(rng, symbols, FULL_DAYS + (LATE_DAY,), bars_per_day)
    landing = os.path.join(root, "landing", f"source={SOURCE}")
    staged = os.path.join(root, "late", f"ingest_date={LATE_DAY.isoformat()}")
    inp = IngestInputs(
        landing=landing,
        late_staged=staged,
        late_landed=os.path.join(landing, f"ingest_date={LATE_DAY.isoformat()}"),
        full_bars=0,
        late_landed_rows=0,
        late_rows=0,
    )
    for day in FULL_DAYS:
        for page, sym in enumerate(symbols):
            path = os.path.join(landing, f"ingest_date={day.isoformat()}", f"part-{page:05d}.json")
            _write_jsonl(path, bars[sym][day], sym)
            inp.full_bars += len(bars[sym][day]["t"])
    overlap_day = FULL_DAYS[-1]
    page = 0
    for sym in symbols:
        for day in (overlap_day, LATE_DAY):
            _write_jsonl(os.path.join(staged, f"part-{page:05d}.json"), bars[sym][day], sym)
            inp.late_landed_rows += len(bars[sym][day]["t"])
            page += 1
        inp.late_rows += len(bars[sym][LATE_DAY]["t"])
    session = {ms: ses for day in FULL_DAYS + (LATE_DAY,) for ms, ses in _clock(day).values()}
    expected: dict[tuple[str, str], list[int]] = defaultdict(lambda: [0, 0])
    for sym in symbols:
        for day in FULL_DAYS + (LATE_DAY,):
            for t, v in zip(bars[sym][day]["t"].tolist(), bars[sym][day]["v"].tolist()):
                acc = expected[(sym, session[t])]
                acc[0] += 1
                acc[1] += int(v)
    inp.expected = dict(expected)
    return inp


# --------------------------------------------------------------------------
# bars_pipeline, restatement half
# --------------------------------------------------------------------------

BAR_SCHEMA = pa.schema(
    [
        ("symbol", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("open", pa.float64()),
        ("high", pa.float64()),
        ("low", pa.float64()),
        ("close", pa.float64()),
        ("volume", pa.int64()),
        ("vwap", pa.float64()),
        ("trades", pa.int64()),
    ]
)
BAR_DDL = (
    "symbol string, ts timestamp, open double, high double, low double, "
    "close double, volume bigint, vwap double, trades bigint"
)
BAR_COLUMNS = tuple(BAR_SCHEMA.names)


def _curated(sym: str, r: dict) -> tuple:
    ts = dt.datetime.fromtimestamp(r["t"] / 1000, UTC)
    return (sym, ts, r["o"], r["h"], r["l"], r["c"], int(r["v"]), r["vw"], int(r["n"]))


def _write_bars(path: str, rows: list[tuple]) -> None:
    cols = list(zip(*rows)) if rows else [[] for _ in BAR_COLUMNS]
    table = pa.table({n: list(c) for n, c in zip(BAR_COLUMNS, cols)}, schema=BAR_SCHEMA)
    pq.write_table(table, path)


@dataclass
class RestateInputs:
    seed_path: str  # curated bars the versioned table is seeded from
    corrections_path: str  # one cycle's upsert batch
    deletes_path: str  # one cycle's delete keys (symbol, ts)
    read_symbols: list[str]  # symbols the head read selects
    updated_rows: int
    inserted_rows: int
    deleted_rows: int
    # expected head after one cycle: (symbol, ts) -> row tuple
    head: dict[tuple, tuple] = field(default_factory=dict)

    @property
    def changed_rows(self) -> int:
        return self.updated_rows + self.inserted_rows + self.deleted_rows


def make_restate(
    root: str,
    seed: int,
    n_symbols: int,
    bars_per_day: int,
    touched: int,
    updates_per_symbol: int,
    inserts_per_symbol: int,
    deletes: int,
) -> RestateInputs:
    """A curated bars table to seed from, one batch of restatements
    (``updates_per_symbol`` corrected and ``inserts_per_symbol`` late
    bars in each of ``touched`` of the ``n_symbols`` partitions) and a
    batch of ``deletes`` bars spread over partitions both touched and
    untouched by the restatements. ``head`` is the table after both."""
    rng = random.Random(seed * 7919 + 1)
    symbols = _tickers(rng, n_symbols)
    days = RESTATE_DAYS
    bars = _symbol_days(rng, symbols, days, bars_per_day)
    head: dict[tuple, tuple] = {}
    for sym in symbols:
        for day in days:
            for r in _records(bars[sym][day]):
                row = _curated(sym, r)
                head[(sym, row[1])] = row
    os.makedirs(root, exist_ok=True)
    seed_path = os.path.join(root, "seed.parquet")
    _write_bars(seed_path, sorted(head.values()))

    touched_syms = sorted(rng.sample(symbols, touched))
    corrections = []
    for sym in touched_syms:
        keys = sorted(k for k in head if k[0] == sym)
        for key in rng.sample(keys, updates_per_symbol):
            old = head[key]
            close = round(old[5] * (1 + rng.gauss(0, 0.01)), 4)
            row = old[:5] + (close, old[6] + rng.randint(1, 999)) + old[7:]
            corrections.append(row)
        # late bars: minutes after the symbol's last stored bar
        last = max(k[1] for k in keys)
        for i in range(inserts_per_symbol):
            ts = last + dt.timedelta(minutes=i + 1)
            price = head[(sym, last)][5]
            r = _bar(rng, int(ts.timestamp() * 1000), price)
            corrections.append(_curated(sym, r))
    corrections_path = os.path.join(root, "corrections.parquet")
    _write_bars(corrections_path, sorted(corrections))
    for row in corrections:
        head[(row[0], row[1])] = row

    untouched = [s for s in symbols if s not in touched_syms]
    del_keys: list[tuple] = []
    pool_syms = touched_syms[:2] + untouched[:2]
    for i in range(deletes):
        sym = pool_syms[i % len(pool_syms)]
        keys = sorted(k for k in head if k[0] == sym and k not in del_keys)
        del_keys.append(rng.choice(keys))
    deletes_path = os.path.join(root, "deletes.parquet")
    pq.write_table(
        pa.table(
            {"symbol": [k[0] for k in del_keys], "ts": [k[1] for k in del_keys]},
            schema=pa.schema([("symbol", pa.string()), ("ts", pa.timestamp("us", tz="UTC"))]),
        ),
        deletes_path,
    )
    for k in del_keys:
        del head[k]
    return RestateInputs(
        seed_path=seed_path,
        corrections_path=corrections_path,
        deletes_path=deletes_path,
        read_symbols=sorted(rng.sample(symbols, 3)),
        updated_rows=touched * updates_per_symbol,
        inserted_rows=touched * inserts_per_symbol,
        deleted_rows=len(del_keys),
        head=head,
    )


# --------------------------------------------------------------------------
# query_mix: tables in the shape of the engine's test catalog
# --------------------------------------------------------------------------

_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def make_catalog(sf_dir: str, seed: int, lineitem_rows: int, events_rows: int, docs: int, vectors: int) -> dict[str, int]:
    """Write ``lineitem``, ``events``, ``documents`` and ``embeddings``
    parquet files with the column names, types and value ranges of the
    engine's test catalog (FIXTURES.md); returns their row counts."""
    rng = random.Random(seed * 104729 + 3)
    os.makedirs(sf_dir, exist_ok=True)

    orders = max(1, lineitem_rows // 4)
    parts = max(1, lineitem_rows // 30)
    base_day = dt.datetime(1995, 1, 2)
    li = defaultdict(list)
    for _ in range(lineitem_rows):
        qty = float(rng.randint(1, 50))
        li["l_orderkey"].append(rng.randrange(orders))
        li["l_partkey"].append(rng.randrange(parts))
        li["l_suppkey"].append(rng.randrange(100))
        li["l_linenumber"].append(rng.randint(1, 7))
        li["l_quantity"].append(qty)
        li["l_extendedprice"].append(round(qty * rng.uniform(900, 2100), 2))
        li["l_discount"].append(rng.randint(0, 10) / 100)
        li["l_tax"].append(rng.randint(0, 8) / 100)
        li["l_returnflag"].append(rng.choice("ARN"))
        li["l_linestatus"].append(rng.choice("OF"))
        li["l_shipdate"].append(base_day + dt.timedelta(days=rng.randrange(2499)))
    pq.write_table(
        pa.table(
            dict(li),
            schema=pa.schema(
                [
                    ("l_orderkey", pa.int64()),
                    ("l_partkey", pa.int64()),
                    ("l_suppkey", pa.int64()),
                    ("l_linenumber", pa.int32()),
                    ("l_quantity", pa.float64()),
                    ("l_extendedprice", pa.float64()),
                    ("l_discount", pa.float64()),
                    ("l_tax", pa.float64()),
                    ("l_returnflag", pa.string()),
                    ("l_linestatus", pa.string()),
                    ("l_shipdate", pa.timestamp("us")),
                ]
            ),
        ),
        os.path.join(sf_dir, "lineitem.parquet"),
    )

    start = dt.datetime(2024, 1, 1)
    span_us = 30 * 86_400 * 1_000_000
    stamps = sorted(rng.randrange(span_us) for _ in range(events_rows))
    ev = defaultdict(list)
    for i, us in enumerate(stamps):
        ev["event_id"].append(i)
        ev["ts"].append(start + dt.timedelta(microseconds=us))
        ev["user_id"].append(rng.randrange(150))
        ev["event_type"].append(rng.choice(_EVENT_TYPES))
        ev["value"].append(max(0.01, round(rng.expovariate(1 / 50), 2)))
        ev["props"].append(json.dumps({"k": rng.randrange(100)}))
    pq.write_table(
        pa.table(
            dict(ev),
            schema=pa.schema(
                [
                    ("event_id", pa.int64()),
                    ("ts", pa.timestamp("us")),
                    ("user_id", pa.int64()),
                    ("event_type", pa.string()),
                    ("value", pa.float64()),
                    ("props", pa.string()),
                ]
            ),
        ),
        os.path.join(sf_dir, "events.parquet"),
    )

    dc = defaultdict(list)
    for i in range(docs):
        text = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(10, 99)))
        dc["doc_id"].append(i)
        dc["text"].append(text)
        dc["lang"].append(rng.choice(_LANGS))
        dc["source"].append(f"src{i % 20}")
        dc["n_chars"].append(len(text))
    pq.write_table(
        pa.table(
            dict(dc),
            schema=pa.schema(
                [
                    ("doc_id", pa.int64()),
                    ("text", pa.string()),
                    ("lang", pa.string()),
                    ("source", pa.string()),
                    ("n_chars", pa.int64()),
                ]
            ),
        ),
        os.path.join(sf_dir, "documents.parquet"),
    )

    vecs, labels = [], []
    for _ in range(vectors):
        v = [rng.gauss(0, 1) for _ in range(64)]
        n = math.sqrt(sum(x * x for x in v))
        vecs.append([x / n for x in v])
        labels.append(rng.randrange(10))
    pq.write_table(
        pa.table(
            {"vec_id": list(range(vectors)), "embedding": vecs, "label": labels},
            schema=pa.schema(
                [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
            ),
        ),
        os.path.join(sf_dir, "embeddings.parquet"),
    )
    return {"lineitem": lineitem_rows, "events": events_rows, "documents": docs, "embeddings": vectors}


def silver_counts(table_dir: str) -> tuple[dict[tuple[str, str], list[int]], int]:
    """Bars and volume sum per (symbol, session) of a silver table
    written partitioned by session and symbol, read with pyarrow, plus
    the table's on-disk bytes."""
    import pyarrow.dataset as ds

    data = ds.dataset(table_dir, format="parquet", partitioning="hive")
    tab = data.to_table(columns=["symbol", "session", "volume"])
    acc: dict[tuple[str, str], list[int]] = defaultdict(lambda: [0, 0])
    for sym, ses, vol in zip(*(tab.column(c).to_pylist() for c in ("symbol", "session", "volume"))):
        a = acc[(str(sym), str(ses))]
        a[0] += 1
        a[1] += int(vol)
    return dict(acc), dir_bytes(table_dir)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


def dir_files(path: str) -> set[str]:
    out = set()
    for base, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                out.add(os.path.join(base, f))
    return out

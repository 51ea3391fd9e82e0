"""Seeded input generators. Every input the engine sees comes from here, and
the same seed always yields byte-identical parquet files.

- :func:`tick_history` — a multi-symbol tick history with planted missing
  minutes and missing whole days (the chart reads' data);
- :func:`chart_requests` — the chart request mix;
- :func:`ingest_chunks` — events-shaped tick chunks for the open-loop ingest,
  each symbol's timestamps strictly increasing across chunks;
- :func:`dedup_corpus` — a text corpus with planted exact copies,
  near-duplicates and shared boilerplate lines.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: history start, a Monday, so 7D buckets line up with whole weeks
BASE = dt.datetime(2024, 1, 1)
_MINUTE_US = 60_000_000
_BASE_US = int((BASE - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
_TS = pa.timestamp("us", tz="UTC")

MATERIALIZED = ("5m", "15m", "30m", "1h", "6h", "12h", "1D", "7D")
ON_THE_FLY = ("3h", "14D", "1M")

#: one cycle of request classes, so every seed serves the same class mix:
#: (route class, gap fill). 4 of 20 requests gap-fill.
ROUTE_CYCLE = (
    [("materialized", False)] * 9
    + [("materialized", True)] * 2
    + [("raw_1m", False)] * 3
    + [("raw_1m", True)] * 2
    + [("on_the_fly", False)] * 4
)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def write_table(table: pa.Table, path: str) -> str:
    """Write ``table`` as one parquet file; equal tables give equal bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return path


def file_digest(paths: list[str]) -> str:
    """sha256 over the bytes of ``paths`` in the given order."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


# -- chart reads ---------------------------------------------------------


def tick_history(seed: int, n_symbols: int = 6, n_days: int = 10) -> pa.Table:
    """(symbol, ts, price, volume) ticks: 1-3 ticks in most minutes, about
    3% of minutes missing and one whole day missing per symbol. Prices and
    volumes carry two decimals, as the engine's money sums expect."""
    rng = _rng(seed, 1)
    syms, tss, prices, vols = [], [], [], []
    for i in range(n_symbols):
        minutes = np.arange(n_days * 1440, dtype=np.int64)
        gone_day = int(rng.integers(1, n_days - 1))
        keep = (minutes // 1440 != gone_day) & (rng.random(minutes.size) > 0.03)
        minutes = minutes[keep]
        per_min = rng.integers(1, 4, minutes.size)
        m = np.repeat(minutes, per_min)
        # j-th tick of a minute lands in [20j, 20j+20) seconds: distinct and
        # increasing, so open/close never tie
        j = np.arange(m.size) - np.repeat(np.cumsum(per_min) - per_min, per_min)
        sec = j * 20 + rng.integers(0, 20, m.size)
        tss.append(_BASE_US + m * _MINUTE_US + sec * 1_000_000)
        walk = np.cumsum(rng.normal(0.0, 0.0015, m.size))
        prices.append(np.round(50.0 * (i + 1) * np.exp(walk), 2))
        vols.append(rng.integers(1, 500_000, m.size) / 100.0)
        syms.append(np.full(m.size, f"SYM{i}"))
    return pa.table(
        {
            "symbol": pa.array(np.concatenate(syms)),
            "ts": pa.array(np.concatenate(tss), type=pa.int64()).cast(_TS),
            "price": pa.array(np.concatenate(prices)),
            "volume": pa.array(np.concatenate(vols)),
        }
    )


def chart_requests(
    seed: int, n: int, n_symbols: int = 6, n_days: int = 10
) -> list[dict]:
    """``n`` chart requests cycling through :data:`ROUTE_CYCLE`. Symbols
    are Zipf-skewed; windows run from one day to the whole history
    (log-uniform) and limits from 50 to 500. Windows, limits and the
    interval within a route follow golden-ratio sequences from a seeded
    start, so every seed spreads them evenly and costs the same mix."""
    rng = _rng(seed, 2)
    zipf = 1.0 / np.arange(1, n_symbols + 1) ** 1.1
    zipf /= zipf.sum()
    end_max = BASE + dt.timedelta(days=n_days)
    phase = rng.random(3)
    golden = (np.sqrt(5.0) - 1.0) / 2.0
    out = []
    for k in range(n):
        u_window, u_limit, u_interval = (phase + k * golden) % 1.0
        route, gap = ROUTE_CYCLE[k % len(ROUTE_CYCLE)]
        if route == "materialized":
            interval = MATERIALIZED[int(u_interval * len(MATERIALIZED))]
        elif route == "raw_1m":
            interval = "1m"
        else:
            interval = ON_THE_FLY[int(u_interval * len(ON_THE_FLY))]
        days = float(np.exp(u_window * np.log(n_days)))
        end = end_max - dt.timedelta(minutes=int(rng.integers(1, 360)))
        start = end - dt.timedelta(minutes=int(days * 1440))
        out.append(
            {
                "route": route,
                "symbol": f"SYM{int(rng.choice(n_symbols, p=zipf))}",
                "interval": interval,
                "start": start,
                "end": end,
                "limit": 50 + int(u_limit * 451),
                "empty_ts": gap,
            }
        )
    return out


# -- ingest ----------------------------------------------------------------

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", _TS),
        ("event_type", pa.string()),
        ("user_id", pa.int64()),
        ("value", pa.float64()),
    ]
)


def ingest_chunks(
    seed: int, n_symbols: int, plan: list[tuple[float, int]]
) -> list[pa.Table]:
    """Events-shaped tick chunks, one per ``plan`` entry ``(span_s,
    ticks_per_symbol)``: chunk ``i`` covers the ``span_s`` seconds of event
    time after chunk ``i-1``, and each symbol has ``ticks_per_symbol``
    ticks in it at distinct, increasing milliseconds. So every symbol's
    timestamps increase across chunks and the hold-back collector's output
    does not depend on how chunks fall into micro-batches."""
    rng = _rng(seed, 3)
    chunks = []
    event_id = 0
    lo = _BASE_US
    level = 100.0 + 10.0 * np.arange(n_symbols)
    for span_s, per_sym in plan:
        span_ms = int(span_s * 1000)
        ids, tss, syms, users, vals = [], [], [], [], []
        for s in range(n_symbols):
            off = np.sort(rng.choice(span_ms, per_sym, replace=False))
            tss.append(lo + off * 1000)
            level[s] *= float(np.exp(rng.normal(0.0, 0.002)))
            walk = level[s] * np.exp(np.cumsum(rng.normal(0.0, 0.0005, per_sym)))
            vals.append(np.round(walk, 2))
            syms.append(np.full(per_sym, f"SYM{s}"))
            users.append(rng.integers(0, 10_000, per_sym))
            ids.append(np.arange(event_id, event_id + per_sym))
            event_id += per_sym
        lo += span_ms * 1000
        chunks.append(
            pa.Table.from_arrays(
                [
                    pa.array(np.concatenate(ids)),
                    pa.array(np.concatenate(tss), type=pa.int64()).cast(_TS),
                    pa.array(np.concatenate(syms)),
                    pa.array(np.concatenate(users)),
                    pa.array(np.concatenate(vals)),
                ],
                schema=EVENTS_SCHEMA,
            )
        )
    return chunks


# -- corpus dedup -----------------------------------------------------------


def dedup_corpus(
    seed: int,
    n_base: int = 500,
    n_copies: int = 50,
    n_near: int = 50,
    n_boiler: int = 12,
    vocab: int = 5000,
) -> tuple[pa.Table, list[tuple[int, int]]]:
    """A (doc_id, text) corpus with planted duplicates, and the planted
    near-duplicate pairs (a < b).

    Each base document is one body line of 80-120 tokens drawn from a
    ``vocab``-word vocabulary, with one or two of ``n_boiler`` shared
    boilerplate lines before or after it. On top of the ``n_base`` documents:

    - ``n_copies`` exact copies of base documents, upper-cased and padded
      with spaces (identical after ``lower(trim(text))``);
    - ``n_near`` base documents get one or two near-duplicates each, the body
      with one or two tokens replaced (disjoint positions per variant) and
      fresh boilerplate. Near-duplicates of one base document are planted
      pairs with it and with each other.

    Ids are 0.. in the order above, so an exact copy always has a larger id
    than the document it copies."""
    rng = _rng(seed, 4)

    def words(n: int) -> list[str]:
        return [f"w{k}" for k in rng.integers(0, vocab, n)]

    boiler = [" ".join(["boilerplate", str(b), *words(7)]) for b in range(n_boiler)]

    def with_boiler(body: str) -> str:
        picks = [boiler[k] for k in rng.choice(n_boiler, int(rng.integers(1, 3)),
                                               replace=False)]
        head = int(rng.integers(0, len(picks) + 1))
        return "\n".join(picks[:head] + [body] + picks[head:])

    bodies = [words(int(rng.integers(80, 121))) for _ in range(n_base)]
    texts = [with_boiler(" ".join(b)) for b in bodies]
    for k in rng.choice(n_base, n_copies, replace=False):
        texts.append("  " + texts[int(k)].upper() + "  ")
    planted: list[tuple[int, int]] = []
    for k in rng.choice(n_base, n_near, replace=False):
        body = bodies[int(k)]
        n_var = int(rng.integers(1, 3))
        pos = rng.choice(len(body), 2 * n_var, replace=False)
        variants = []
        for v in range(n_var):
            mutated = list(body)
            for p in pos[2 * v: 2 * v + int(rng.integers(1, 3))]:
                mutated[int(p)] = f"x{int(rng.integers(0, vocab))}"
            variants.append(len(texts))
            texts.append(with_boiler(" ".join(mutated)))
        planted += [(int(k), v) for v in variants]
        planted += [(a, b) for i, a in enumerate(variants) for b in variants[i + 1:]]
    table = pa.table({
        "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
    })
    return table, sorted(planted)

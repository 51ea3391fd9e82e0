"""Custom stateful collector: per-key open-candle hold-back (S4).

Reference parity: the WS updater drains every sub-hash each cycle but always
EXCLUDES each key's newest timestamp — the still-forming candle — and
force-flushes anything held longer than ``DATA_HELD_MLS_THRESHOLD``
(`fetchers/ws/updater.py:140-241`, hold-back `:177-184`, stale flush
`:30,165-176`).

The watermarked window rollup (streaming.rollup) reproduces the *time-based*
version of this; the updater's actual rule is **data-driven** — a candle is
closed the moment a later candle for the *same key* appears, regardless of
any global watermark. That per-key logic is not expressible with built-in
window aggregates, so this is the one genuinely custom stateful operator:
``applyInPandasWithState`` with per-key state = the aggregates of the
still-open minutes.

Semantics per ``symbol`` and minute bucket:
- rows aggregate into (open@first-ts, high, low, close@last-ts, Σvolume, n);
- a bucket is EMITTED (append) once a strictly later bucket for the key
  arrives — the newest bucket is always held;
- with ``stale_ms`` set, held state older than that threshold is flushed
  on a processing-time timeout (the stale-flush rule); with the default
  ``None`` no timeout is armed, so bounded replays never emit the final
  open candle until more data arrives — the updater's behavior.

Volume is accumulated in integer cents (inputs are 2-decimal measures) so
the emitted sum is exact and engine-independent — same contract as the
decimal routing in the batch aggregates (functions.numbers).

Scale posture: state per key = the open buckets only (normally one), keyed
shuffle identical to any groupBy on the key — 1000-executor sharding comes
free; each micro-batch touches only keys present in that batch.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("bucket", T.TimestampType()),
        T.StructField("open", T.DoubleType()),
        T.StructField("high", T.DoubleType()),
        T.StructField("low", T.DoubleType()),
        T.StructField("close", T.DoubleType()),
        T.StructField("volume", T.DoubleType()),
        T.StructField("n_trades", T.LongType()),
    ]
)

# one parallel array entry per open bucket: minute index + running aggregates;
# emitted_max is the key's emit-once watermark (newest minute ever emitted)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("minutes", T.ArrayType(T.LongType())),
        T.StructField("open_ts", T.ArrayType(T.LongType())),
        T.StructField("open_v", T.ArrayType(T.DoubleType())),
        T.StructField("high", T.ArrayType(T.DoubleType())),
        T.StructField("low", T.ArrayType(T.DoubleType())),
        T.StructField("close_ts", T.ArrayType(T.LongType())),
        T.StructField("close_v", T.ArrayType(T.DoubleType())),
        T.StructField("vol_cents", T.ArrayType(T.LongType())),
        T.StructField("n", T.ArrayType(T.LongType())),
        T.StructField("emitted_max", T.LongType()),
    ]
)

_MINUTE_US = 60_000_000

#: drop-mode tombstone TTL, as a multiple of ``stale_ms``: a key whose
#: state is only the emit-once watermark keeps suppressing replays for
#: this horizon, then its state is reclaimed (a replay arriving later
#: re-emits and the downstream idempotent sink dedups). Bounds state
#: growth under key churn — with the reference's 1 h threshold the
#: horizon is one day
_TOMBSTONE_TTL_FACTOR = 24


def _merge_rows(
    rows: pd.DataFrame,
    open_buckets: dict[int, dict[str, Any]],
    emitted_max: int | None,
) -> None:
    """Fold a batch's (ts, price, volume) rows into the per-minute open
    buckets in place. Minutes at or below ``emitted_max`` are dropped
    (the drop-mode late-after-close contract); pass ``None`` to merge
    every row (emit mode — the reference never drops, its DB PK dedups)."""
    import numpy as np

    # event-time order within the batch (replay order across
    # batches is the source's responsibility); stable sort, so
    # equal-ts rows keep arrival order and the open/close tie
    # winner is deterministic for a given batch content
    rows = rows.sort_values("ts", kind="stable")
    # unit-safe epoch µs regardless of Arrow datetime resolution
    ts_us = rows["ts"].to_numpy().astype("datetime64[us]").astype("int64")
    price = rows["price"].to_numpy(dtype="float64")
    # per-row half-even cent rounding, then integer sums — identical
    # to the old per-row round(), exact and engine-independent
    cents = np.rint(
        rows["volume"].to_numpy(dtype="float64") * 100
    ).astype("int64")
    # vectorized per-minute aggregation over the ts-sorted arrays:
    # the minute column is non-decreasing, so each minute is one
    # contiguous run — ufunc.reduceat aggregates every run in C
    # (first/last on the sorted order reproduce the per-row
    # strict-</>= open/close tie rules), and the Python merge loop
    # runs over ~batch-minutes scalars
    minute = ts_us // _MINUTE_US
    starts = np.flatnonzero(np.r_[True, np.diff(minute) > 0])
    ends = np.r_[starts[1:], len(minute)] - 1
    merged = zip(
        minute[starts].tolist(),
        ts_us[starts].tolist(), price[starts].tolist(),
        np.maximum.reduceat(price, starts).tolist(),
        np.minimum.reduceat(price, starts).tolist(),
        ts_us[ends].tolist(), price[ends].tolist(),
        np.add.reduceat(cents, starts).tolist(),
        (ends - starts + 1).tolist(),
    )
    for m, ot, ov, hi, lo, ct, cv, vc, cnt in merged:
        if emitted_max is not None and m <= emitted_max:
            # late-after-close: this minute was already emitted (by
            # later data or a stale flush) — appending a second,
            # partial candle row for the same (key, bucket) would
            # corrupt an append sink, so the row is dropped, the
            # same contract a watermarked rollup applies to
            # late-past-watermark data
            continue
        b = open_buckets.get(m)
        if b is None:
            open_buckets[m] = dict(
                open_ts=ot, open_v=ov, high=hi, low=lo,
                close_ts=ct, close_v=cv, vol_cents=vc, n=cnt,
            )
        else:
            if ot < b["open_ts"]:
                b["open_ts"], b["open_v"] = ot, ov
            if ct >= b["close_ts"]:
                b["close_ts"], b["close_v"] = ct, cv
            b["high"] = max(b["high"], hi)
            b["low"] = min(b["low"], lo)
            b["vol_cents"] += vc
            b["n"] += cnt


def _emit_frame(key: tuple, emitted: list) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "symbol": [key[0]] * len(emitted),
            "bucket": [
                pd.Timestamp(m * _MINUTE_US * 1000) for m, _ in emitted
            ],
            "open": [b["open_v"] for _, b in emitted],
            "high": [b["high"] for _, b in emitted],
            "low": [b["low"] for _, b in emitted],
            "close": [b["close_v"] for _, b in emitted],
            "volume": [b["vol_cents"] / 100.0 for _, b in emitted],
            "n_trades": [b["n"] for _, b in emitted],
        }
    )


# a bucket's running aggregates, named as their STATE_SCHEMA arrays
_BUCKET_FIELDS = tuple(STATE_SCHEMA.fieldNames()[1:-1])


def _load_state(
    state: GroupState,
) -> tuple[dict[int, dict[str, Any]], int | None]:
    """Decode ``STATE_SCHEMA`` into the open-bucket dict (minute → running
    aggregates) and the emit-once watermark (None when never set)."""
    if not state.exists:
        return {}, None
    minutes, *arrays, emitted_max = state.get
    open_buckets = {
        m: dict(zip(_BUCKET_FIELDS, vals)) for m, *vals in zip(minutes, *arrays)
    }
    return open_buckets, emitted_max


def _store_state(
    state: GroupState, held: dict[int, dict[str, Any]], emitted_max: int | None
) -> None:
    """Encode the held buckets and the watermark back as ``STATE_SCHEMA``."""
    state.update(
        (
            list(held),
            *([b[f] for b in held.values()] for f in _BUCKET_FIELDS),
            emitted_max,
        )
    )


def _flush_fn_emit(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    stale_ms: int | None,
    now_ms_fn,
) -> Iterator[pd.DataFrame]:
    """Reference-protocol mode (`late_policy='emit'`): the updater's exact
    per-cycle scan (`fetchers/ws/updater.py:160-185`), one invocation = one
    cycle visit of this key.

    - merge arrivals into the open buckets — nothing is ever dropped as
      late (the reference's dedup is the DB PK's ON CONFLICT DO NOTHING,
      so the DOWNSTREAM idempotent sink must be the dedup here too; a bare
      append sink can see re-emitted buckets under replay);
    - ``len(data) > 1``: emit every bucket except the newest (sorted
      ascending, like ``sorted(data.keys())[:-1]``) — and, exactly like
      the reference's if/elif, NO stale check in the same cycle;
    - ``len(data) == 1``: the survivor force-emits once its EVENT time is
      older than ``stale_ms`` against the updater clock
      (``now - int(ts) > DATA_HELD_MLS_THRESHOLD``) — note this is
      event-time age, not time-since-last-update: a replayed ancient
      candle flushes at its first cycle, exactly as the reference would;
    - an emptied key removes its state entirely (``srem`` + ``delete`` —
      no tombstone; replays re-emit and the sink dedups).

    State = open buckets only; ``emitted_max`` stays NULL in the shared
    state schema. The clock defaults to wall time (live-feed posture —
    historical replays are all stale by definition, as they would be to
    the real updater); tests inject ``now_ms_fn``.
    """
    import time as _time

    now_ms_fn = now_ms_fn or (lambda: int(_time.time() * 1000))
    open_buckets, _ = _load_state(state)

    if not state.hasTimedOut:
        rows = pd.concat(list(pdfs), ignore_index=True)
        if not rows.empty:
            _merge_rows(rows, open_buckets, None)

    emitted: list = []
    if len(open_buckets) > 1:
        newest = max(open_buckets)
        emitted = sorted(
            (m, b) for m, b in open_buckets.items() if m != newest
        )
        open_buckets = {newest: open_buckets[newest]}
    elif len(open_buckets) == 1:
        (m, b), = open_buckets.items()
        if stale_ms is not None and now_ms_fn() - m * 60_000 > stale_ms:
            emitted = [(m, b)]
            open_buckets = {}

    if open_buckets:
        _store_state(state, open_buckets, None)
        if stale_ms is not None:
            state.setTimeoutDuration(stale_ms)
    elif state.exists:
        state.remove()

    if emitted:
        yield _emit_frame(key, emitted)


def _flush_fn(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    stale_ms: int | None = None,
    late_policy: str = "drop",
    now_ms_fn=None,
) -> Iterator[pd.DataFrame]:
    if late_policy == "emit":
        yield from _flush_fn_emit(key, pdfs, state, stale_ms, now_ms_fn)
        return
    open_buckets, emitted_max = _load_state(state)

    if state.hasTimedOut:
        # stale flush: emit everything held; keep only the watermark
        # tombstone, re-armed with a long TTL so a post-flush replay of
        # the same minutes cannot re-emit a partial duplicate WITHIN the
        # replay horizon, while dead keys are eventually reclaimed
        emitted = sorted(open_buckets.items())
        if emitted:
            emitted_max = max(
                m for m, _ in emitted
            ) if emitted_max is None else max(emitted_max, emitted[-1][0])
            _store_state(state, {}, emitted_max)
            if stale_ms is not None:
                state.setTimeoutDuration(stale_ms * _TOMBSTONE_TTL_FACTOR)
        elif emitted_max is not None:
            # tombstone-only state and no data: this fire IS the
            # tombstone's TTL expiring (flushes arm stale_ms*TTL_FACTOR
            # above; data batches re-arm stale_ms below) — the key has
            # been dead for the whole replay horizon, reclaim its state.
            # Replay suppression is therefore BOUNDED: a replay of
            # emitted minutes arriving after the horizon re-emits, and
            # the downstream idempotent sink is the backstop — without
            # this bound every key that ever emitted would hold a state
            # entry forever (unbounded growth under key churn)
            state.remove()
        else:
            state.remove()
    else:
        rows = pd.concat(list(pdfs), ignore_index=True)
        if rows.empty and not open_buckets and emitted_max is None:
            return
        if not rows.empty:
            _merge_rows(rows, open_buckets, emitted_max)
        if open_buckets:
            # the newest bucket stays open; everything older is closed by
            # the existence of later data for this key
            newest = max(open_buckets)
            emitted = sorted(
                (m, b) for m, b in open_buckets.items() if m != newest
            )
            held = {newest: open_buckets[newest]}
            if emitted:
                emitted_max = max(
                    emitted[-1][0],
                    emitted_max if emitted_max is not None else emitted[-1][0],
                )
        else:
            emitted = []
            held = {}
        _store_state(state, held, emitted_max)
        if not held and stale_ms is not None:
            # tombstone-only write (every row late-dropped): arm the long
            # TTL, not the stale flush — there is nothing left to flush,
            # only a suppression window to eventually reclaim
            state.setTimeoutDuration(stale_ms * _TOMBSTONE_TTL_FACTOR)
            return
        # arm the stale flush: without this the ProcessingTimeTimeout mode
        # never fires (state.hasTimedOut stays false forever) and held
        # candles would only ever close on later data
        if stale_ms is not None:
            state.setTimeoutDuration(stale_ms)

    if emitted:
        yield _emit_frame(key, emitted)


def hold_back_collector(
    stream: DataFrame,
    stale_ms: int | None = None,
    late_policy: str = "drop",
) -> DataFrame:
    """1-minute candles emitted per the updater's data-driven close rule.

    Input stream needs (symbol, ts, price, volume). ``stale_ms`` is the
    stale-flush threshold: ``None`` (default) arms no timeout, so a held
    candle closes only on later data — bounded deterministic replays
    withhold the final open candle exactly like the updater. An int arms a
    ``ProcessingTimeTimeout`` of that many ms on every state update, so a
    candle held with no successor data is force-emitted once stale. The
    reference's threshold is 1 h (DATA_HELD_MLS_THRESHOLD,
    `updater.py:30,165-176`); no caller outside the tests sets
    ``stale_ms``, so the stale flush is test-pinned only.

    ``late_policy`` picks between the two defensible late-data contracts:

    - ``'drop'`` (default): watermark discipline — a minute at or below the
      key's emit-once watermark is dropped, so an APPEND sink sees no
      duplicate (key, bucket) row. State carries a tombstone whose
      suppression is BOUNDED: the tombstone is reclaimed after
      ``stale_ms × _TOMBSTONE_TTL_FACTOR`` of key inactivity (state can't
      grow without bound under key churn), so a source replay arriving
      AFTER that horizon re-emits — a sink that must be duplicate-proof
      against arbitrarily old replays needs an idempotent merge
      (``mode='ignore'``) as the backstop.
    - ``'emit'``: the reference updater's protocol VERBATIM
      (`updater.py:160-185` — see :func:`_flush_fn_emit`): nothing is
      dropped as late, the newest bucket per key is the only held state,
      the stale rule is EVENT-time age against the wall clock, and
      dedup is the downstream idempotent sink's job (the reference's
      ``ON CONFLICT DO NOTHING``). Use with ``mode='ignore'`` merge sinks.
    """
    if late_policy not in ("drop", "emit"):
        raise ValueError(f"late_policy must be 'drop' or 'emit': {late_policy!r}")
    timeout = (
        GroupStateTimeout.NoTimeout
        if stale_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )

    def fn(key, pdfs, state):
        return _flush_fn(key, pdfs, state, stale_ms, late_policy)

    return (
        stream.select("symbol", "ts", "price", "volume")
        .groupBy("symbol")
        .applyInPandasWithState(
            fn, OUTPUT_SCHEMA, STATE_SCHEMA, "append", timeout
        )
    )

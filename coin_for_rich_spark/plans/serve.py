"""Serve-layer serialization: the API's wire contract (M6).

Reference parity: ``parsers.parse_ohlcv``
(`web/routes/api/rest/utils/parsers.py:9-40`) — every candle leaves the
engine as ``{time: epoch ms|s, open/high/low/close/volume: round4}`` — and
``row_to_json`` payloads (`schemas/select_queries.sql:165-174`,
`fetchers/config/queries.py:52-53`).

Both are pure column expressions (``unix_millis``, ``round``,
``to_json(struct(*))``) so serialization happens distributed, inside
whole-stage codegen — the reference does this row-at-a-time in Python on the
web tier; here a 1000-executor write of serialized payloads is the same plan
shape as any other projection. ``serialize_candles`` spells its projection
as SQL text in one ``selectExpr``: one Py4J call per response, where a
Column per output field would cost several each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: columns rounded to 4 decimals at serve (`parsers.py:22-34`)
OHLCV_COLS = ("open", "high", "low", "close", "volume")


def serialize_candles(df: DataFrame, results_mls: bool = True) -> DataFrame:
    """Candle rows → wire shape, in one projection: epoch ``time`` from
    ``bucket`` first, then every other column in order, with
    ``OHLCV_COLS`` rounded to 4 decimals.

    ``results_mls`` selects milliseconds vs whole seconds, mirroring the
    API's ``results_mls`` flag (`parsers.py:9-40`).
    """
    t = "unix_millis(bucket)" if results_mls else "CAST(unix_millis(bucket) / 1000 AS BIGINT)"
    return df.selectExpr(
        f"{t} AS time",
        *[f"round(`{c}`, 4) AS `{c}`" if c in OHLCV_COLS else f"`{c}`"
          for c in df.columns if c != "bucket"],
    )


#: serve-loop poll period per interval, in seconds (``senders.py:84-119``):
#: '1m' pushes from the latest-value store every 1 s; every rollup interval
#: re-queries the rollup read at interval-minutes SECONDS (the reference's
#: minutes→seconds compression — '1h' every 60 s, '7D' every 10080 s).
#: '3h'/'14D'/'1M' extend the same rule: the reference lists them in
#: ``OHLCV_INTERVALS`` (`web/config/constants.py:2-4`) but its sleep chain
#: has no case for them, so a subscription busy-loops with zero sleep —
#: adjudicated engine-side-right here, same as the router's
#: '3h'/'14D'/'1M' divergence ('1M' uses the 30-day minute count).
SERVE_POLL_SECONDS = {
    "1m": 1,
    "5m": 5,
    "15m": 15,
    "30m": 30,
    "1h": 60,
    "3h": 180,
    "6h": 360,
    "12h": 720,
    "1D": 1440,
    "7D": 10080,
    "14D": 20160,
    "1M": 43200,
}

#: where each interval's payload comes from (``senders.py:71-101``): '1m'
#: reads the fresh latest-value store (Redis hash in the reference, the S8
#: latest-value agg here); every other interval re-queries the rollup
#: read path (``read_ohlcvs`` limit=1 → `plans/reader.py` here).
SERVE_SOURCE = {
    iv: ("latest" if iv == "1m" else "rollup") for iv in SERVE_POLL_SECONDS
}


def serving_id(exchange: str, base_id: str, quote_id: str, interval: str) -> str:
    """The reference's serve-loop key (``senders.py:63``) — deliberately
    NOT client-unique (its own TODO documents that), so two subscriptions
    to the same series share one key with multiplicity."""
    return f"ohlcv_{exchange}_{base_id}_{quote_id}_{interval}"


class ServeLoop:
    """Deterministic twin of the reference WS sender's cadence +
    subscribe/unsubscribe protocol (``senders.py:38-167``) — the scheduling
    CONTRACT, with the event-loop/transport machinery factored out so every
    behavior is pinned by pure arithmetic instead of wall-clock sleeps.

    Reference semantics modeled exactly:

    - each ``subscribe`` spawns one loop; the loop emits immediately and
      then every ``SERVE_POLL_SECONDS[interval]`` seconds;
    - the loop's liveness check is MEMBERSHIP of its serving id in the
      shared list (``senders.py:66-67``): with two subscriptions to the
      same series, ONE unsubscribe removes one copy but both loops keep
      serving (both still see the key present) — all loops for a key stop
      only when its multiplicity reaches zero. The reference's TODO marks
      the non-unique key; the multiplicity behavior is what its code does;
    - ``unsubscribe`` of a key never subscribed raises ``ValueError``
      (``list.remove`` in ``_stopsend_ohlcv``, senders.py:135 — the
      reference swallows it inside a fire-and-forget future; surfacing it
      is the engine-side-right reading);
    - an invalid interval yields an error payload and NO loop
      (``senders.py:56-60`` sends the error; ``_stopsend_ohlcv`` returns
      after it, ``_send_ohlcv`` falls through by accident — adjudicated
      intent over accident, documented here).
    """

    def __init__(self) -> None:
        self.serving_ids: list[str] = []
        # (serving_id, interval, start_s, dead) — dead is set lazily once
        # the loop observes multiplicity zero at one of its tick times
        self._loops: list[dict] = []
        self._events: list[dict] = []  # error payloads, reference-shaped
        self._events_hist: list[tuple[str, float, int]] = []

    def subscribe(
        self,
        exchange: str,
        base_id: str,
        quote_id: str,
        interval: str,
        at_s: float = 0.0,
    ) -> str | None:
        if interval not in SERVE_POLL_SECONDS:
            self._events.append(
                {"message": "interval must be in the determined list"}
            )
            return None
        sid = serving_id(exchange, base_id, quote_id, interval)
        self.serving_ids.append(sid)
        self._loops.append(
            {"sid": sid, "interval": interval, "start": float(at_s),
             "dead_at": None}
        )
        self._history_append(sid, float(at_s), +1)
        return sid

    def unsubscribe(
        self,
        exchange: str,
        base_id: str,
        quote_id: str,
        interval: str,
        at_s: float = 0.0,
    ) -> None:
        if interval not in SERVE_POLL_SECONDS:
            self._events.append(
                {"detail": "interval must be in the determined list"}
            )
            return
        sid = serving_id(exchange, base_id, quote_id, interval)
        self.serving_ids.remove(sid)  # ValueError on absent key, surfaced
        self._history_append(sid, float(at_s), -1)

    # -- membership-over-time bookkeeping ---------------------------------
    def _history_append(self, sid: str, at_s: float, delta: int) -> None:
        self._events_hist.append((sid, at_s, delta))

    def _multiplicity(self, sid: str, at_s: float) -> int:
        return sum(
            d for s, t, d in self._events_hist if s == sid and t <= at_s
        )

    def sends_between(self, t0: float, t1: float) -> list[tuple[float, str, str]]:
        """Every (time, serving_id, source) emission in ``[t0, t1)``, in
        time order — the pinned cadence: a loop emits at start,
        start + period, … while its key's multiplicity at the tick time is
        positive, and dies permanently at its first zero-multiplicity tick
        (the reference's ``while … in self.serving_ids`` check)."""
        out: list[tuple[float, str, str]] = []
        for lp in self._loops:
            period = float(SERVE_POLL_SECONDS[lp["interval"]])
            source = SERVE_SOURCE[lp["interval"]]
            t = lp["start"]
            while t < t1:
                if lp["dead_at"] is not None and t >= lp["dead_at"]:
                    break
                if self._multiplicity(lp["sid"], t) <= 0:
                    lp["dead_at"] = t
                    break
                if t >= t0:
                    out.append((t, lp["sid"], source))
                t += period
        out.sort(key=lambda e: (e[0], e[1]))
        return out

    @property
    def error_events(self) -> list[dict]:
        return list(self._events)


def to_json_rows(df: DataFrame, out_col: str = "payload") -> DataFrame:
    """``row_to_json(subquery)`` parity: each row as one JSON object column
    (`select_queries.sql:165-174`). Spark's ``to_json(struct(*))`` keeps
    column order; key order therefore matches the projection, like Postgres.
    """
    return df.select(F.to_json(F.struct(*df.columns)).alias(out_col))

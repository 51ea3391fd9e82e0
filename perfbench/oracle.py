"""Expected results, computed independently of the engine, and the checks
that compare the engine's outputs against them. Checks run outside the
timed window; each failed check counts as a failed operation.

- chart reads: DuckDB over the same generated ticks, reproducing the
  chart reader's contract (bucketing, DESC-limit-then-ASC, gap fill with
  window-average dummies, 4-decimal serve rounding);
- ingest: DuckDB's per-(symbol, minute) aggregate of every chunk, minus
  each symbol's newest minute, which the hold-back collector keeps open;
- corpus dedup: the dedup ladder's contract recomputed in plain Python
  (exact groups on ``lower(trim(text))``, boilerplate lines in two or more
  documents, exact token 3-gram Jaccard pairs, connected components and
  the longest member of each).
"""

from __future__ import annotations

import datetime as dt
import re

import duckdb
import pyarrow as pa

#: ``time_bucket``'s origin (a Monday), epoch seconds
BUCKET_ORIGIN_S = 946_857_600
WIDTH_S = {
    "1m": 60, "5m": 300, "15m": 900, "30m": 1800, "1h": 3600, "3h": 10800,
    "6h": 21600, "12h": 43200, "1D": 86400, "7D": 604800, "14D": 1209600,
}
TOLERANCE = 1e-6


def connect_ticks(ticks: pa.Table) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection holding ``ticks`` with ts as epoch microseconds
    (naive UTC throughout, no time zone extension needed)."""
    con = duckdb.connect()
    plain = ticks.set_column(
        ticks.schema.get_field_index("ts"), "ts_us",
        ticks.column("ts").cast(pa.int64()),
    )
    con.register("ticks_arrow", plain)
    con.execute(
        "CREATE TABLE ticks AS SELECT symbol, make_timestamp(ts_us) AS ts, "
        "price, volume FROM ticks_arrow"
    )
    return con


def _bucket_sql(interval: str) -> str:
    if interval == "1M":
        return "CAST(date_trunc('month', ts) AS TIMESTAMP)"
    w = WIDTH_S[interval] * 1_000_000
    o = BUCKET_ORIGIN_S * 1_000_000
    return f"make_timestamp(epoch_us(ts) - ((epoch_us(ts) - {o}) % {w}))"


def bucket_of(t: dt.datetime, interval: str) -> dt.datetime:
    s = int((t - dt.datetime(1970, 1, 1)).total_seconds())
    w = WIDTH_S[interval]
    return dt.datetime(1970, 1, 1) + dt.timedelta(
        seconds=s - (s - BUCKET_ORIGIN_S) % w
    )


def chart_expected(con, req: dict) -> list[dict]:
    """The serialized response rows ``read_ohlcvs`` + ``serialize_candles``
    must return for ``req``."""
    limit = min(req["limit"], 500)
    fetched = f"""
        WITH c AS (
            SELECT {_bucket_sql(req['interval'])} AS bucket,
                   arg_min(price, ts) AS open, max(price) AS high,
                   min(price) AS low, arg_max(price, ts) AS close,
                   CAST(sum(CAST(volume AS DECIMAL(18,2))) AS DOUBLE) AS volume,
                   count(*) AS n_trades
            FROM ticks WHERE symbol = $sym GROUP BY 1
        )
        SELECT * FROM c WHERE bucket >= $lo AND bucket <= $hi
        ORDER BY bucket DESC LIMIT {int(limit)}
    """
    params = {"sym": req["symbol"], "lo": req["start"], "hi": req["end"]}
    if not req["empty_ts"]:
        sql = f"""
            SELECT epoch_ms(bucket) AS time, $sym AS symbol,
                   round(open, 4) AS open, round(high, 4) AS high,
                   round(low, 4) AS low, round(close, 4) AS close,
                   round(volume, 4) AS volume, n_trades
            FROM ({fetched}) ORDER BY bucket
        """
    else:
        width = WIDTH_S[req["interval"]]
        hi_bucket = bucket_of(req["end"], req["interval"])
        params["hib"] = hi_bucket
        params["clamp"] = hi_bucket - dt.timedelta(seconds=width * (max(limit, 1) - 1))
        avg = ", ".join(
            f"CAST(sum(CAST({c} AS DECIMAL(18,2))) AS DOUBLE) / count({c}) AS a_{c}"
            for c in ("open", "high", "low", "close")
        )
        fill = ", ".join(
            f"round(coalesce(f.{c}, s.a_{c}), 4) AS {c}"
            for c in ("open", "high", "low", "close")
        )
        sql = f"""
            WITH f AS ({fetched}),
            s AS (SELECT {avg}, min(bucket) AS lo FROM f),
            spine AS (
                SELECT unnest(generate_series(
                    greatest(s.lo, $clamp::TIMESTAMP), $hib::TIMESTAMP,
                    INTERVAL '{width} seconds')) AS bucket
                FROM s WHERE s.lo IS NOT NULL
            )
            SELECT epoch_ms(spine.bucket) AS time, {fill},
                   round(coalesce(f.volume, 0.0), 4) AS volume,
                   (f.open IS NULL) AS filled, $sym AS symbol
            FROM spine LEFT JOIN f ON spine.bucket = f.bucket, s
            ORDER BY spine.bucket
        """
    cur = con.execute(sql, params)
    cols = [d[0] for d in cur.description]
    return [dict(zip(cols, row)) for row in cur.fetchall()]


def compare_rows(expected: list[dict], actual: list[dict]) -> str | None:
    """None when ``actual`` matches ``expected`` row for row (floats within
    :data:`TOLERANCE`, relative above 1), else the first difference."""
    if len(expected) != len(actual):
        return f"{len(actual)} rows, expected {len(expected)}"
    for i, (e, a) in enumerate(zip(expected, actual)):
        if set(e) != set(a):
            return f"row {i}: columns {sorted(a)}, expected {sorted(e)}"
        for k, v in e.items():
            got = a[k]
            if isinstance(v, float) and not isinstance(v, bool):
                if got is None or abs(got - v) > TOLERANCE * max(1.0, abs(v)):
                    return f"row {i} {k}: {got!r}, expected {v!r}"
            elif got != v:
                return f"row {i} {k}: {got!r}, expected {v!r}"
    return None


# -- ingest --------------------------------------------------------------------


def ingest_expected(chunks: list[pa.Table]) -> list[dict]:
    """Final sink state after every chunk: one 1-minute candle per
    (symbol, minute) except each symbol's newest minute, sorted by
    (symbol, bucket). ``volume`` sums cent-rounded tick values, as the
    hold-back collector does."""
    con = duckdb.connect()
    con.register(
        "ev",
        pa.concat_tables(chunks).select(["ts", "event_type", "value"]).cast(
            pa.schema([("ts", pa.int64()), ("event_type", pa.string()),
                       ("value", pa.float64())])
        ),
    )
    cur = con.execute(
        """
        WITH m AS (
            SELECT event_type AS symbol, ts // 60000000 AS minute, ts, value
            FROM ev
        ), c AS (
            SELECT symbol, minute, arg_min(value, ts) AS open,
                   max(value) AS high, min(value) AS low,
                   arg_max(value, ts) AS close,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100
                       AS volume,
                   count(*) AS n_trades,
                   max(minute) OVER (PARTITION BY symbol) AS newest
            FROM m GROUP BY symbol, minute
        )
        SELECT symbol, make_timestamp(minute * 60000000) AS bucket, open, high,
               low, close, volume, n_trades
        FROM c WHERE minute < newest ORDER BY symbol, bucket
        """
    )
    cols = [d[0] for d in cur.description]
    return [dict(zip(cols, row)) for row in cur.fetchall()]


# -- corpus dedup ----------------------------------------------------------------

#: share of the exact near-duplicate pairs MinHash-LSH must find
RECALL_FLOOR = 0.9


def _norm(text: str) -> str:
    # Spark's trim strips spaces only
    return text.strip(" ").lower()


def _shingles(text: str, n: int) -> set[str]:
    t = text.strip(" ")
    toks = re.split(r"\s+", t) if t else []
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def dedup_expected(docs: dict[int, str], n: int = 3, threshold: float = 0.2) -> dict:
    """What each step of the ladder must return for ``docs`` (id → text):
    ``exact`` {keep_id: n_copies}, ``clean`` {doc_id: clean_text} over the
    exact survivors, and ``pairs`` {(a, b): jaccard} of the cleaned texts
    at or above ``threshold``."""
    groups: dict[str, list[int]] = {}
    for i in sorted(docs):
        groups.setdefault(_norm(docs[i]), []).append(i)
    exact = {ids[0]: len(ids) for ids in groups.values()}
    n_docs: dict[str, int] = {}
    for i in exact:
        for key in {_norm(line) for line in docs[i].split("\n")} - {""}:
            n_docs[key] = n_docs.get(key, 0) + 1
    clean = {
        i: "\n".join(line for line in docs[i].split("\n")
                     if _norm(line) == "" or n_docs[_norm(line)] < 2)
        for i in exact
    }
    sh = {i: _shingles(t, n) for i, t in clean.items()}
    index: dict[str, list[int]] = {}
    for i in sorted(sh):
        for s in sh[i]:
            index.setdefault(s, []).append(i)
    candidates = {(a, b) for ids in index.values()
                  for k, a in enumerate(ids) for b in ids[k + 1:]}
    pairs = {}
    for a, b in candidates:
        j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        if j >= threshold:
            pairs[(a, b)] = j
    return {"exact": exact, "clean": clean, "pairs": pairs}


def components(pairs) -> dict[int, tuple[int, int]]:
    """doc id → (cluster id = the component's smallest id, component size)
    over the undirected edges ``pairs``."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members: dict[int, list[int]] = {}
    for x in parent:
        members.setdefault(find(x), []).append(x)
    return {x: (root, len(m)) for root, m in members.items() for x in m}


def canonical(clusters: dict[int, tuple[int, int]], clean: dict[int, str]) -> dict:
    """cluster id → (kept id, cluster size): the longest member, ties to the
    smallest id."""
    best: dict[int, tuple[int, int]] = {}
    for x, (cid, size) in clusters.items():
        cur = best.get(cid)
        if cur is None or (len(clean[x]), -x) > (len(clean[cur[0]]), -cur[0]):
            best[cid] = (x, size)
    return best


def check_dedup(expected: dict, got: dict) -> list[str]:
    """Differences between one pass's collected outputs ``got`` (``exact``,
    ``clean``, ``pairs`` as in :func:`dedup_expected`, plus ``clusters``
    {doc_id: (cluster_id, size)} and ``canonical`` {cluster_id: (keep_id,
    size)}) and what they must be. Pairs must have precision 1 and recall
    at or above :data:`RECALL_FLOOR`; clusters and kept documents are
    checked against the pairs the pass found."""
    out = []
    if got["exact"] != expected["exact"]:
        out.append("exact_dedup: kept ids or copy counts differ")
    bad = sorted(i for i in expected["clean"]
                 if got["clean"].get(i) != expected["clean"][i])
    if bad or len(got["clean"]) != len(expected["clean"]):
        out.append(f"line_dedup: {len(bad)} documents differ, first {bad[:3]}")
    want, found = expected["pairs"], got["pairs"]
    wrong = sorted(p for p in found if p not in want
                   or abs(found[p] - want[p]) > TOLERANCE)
    if wrong:
        out.append(f"minhash_pairs: {len(wrong)} pairs not exact, first {wrong[:3]}")
    recall = len(set(found) & set(want)) / max(len(want), 1)
    if recall < RECALL_FLOOR:
        out.append(f"minhash_pairs: recall {recall:.3f} below {RECALL_FLOOR}")
    clusters = components(found)
    if got["clusters"] != clusters:
        out.append("dedup_clusters: components differ from the pairs' components")
    if got["canonical"] != canonical(clusters, expected["clean"]):
        out.append("pick_canonical: kept documents differ")
    return out

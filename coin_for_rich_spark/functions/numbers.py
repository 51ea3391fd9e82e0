"""Decimal-exact numeric helpers.

The reference stores unbounded NUMERIC and rounds to 4 decimals at ingest
(`fetchers/config/constants.py:51`, `common/helpers/numbers.py:7-23`) and at
serve (`web/routes/api/rest/utils/parsers.py:22-34`). We reproduce that
contract, and additionally route every *sum* of floating-point measures
through DecimalType: double summation is order-dependent under parallel
partial aggregation, so a decimal accumulator is the only way a distributed
plan can hash-match a single-threaded oracle — and at 1000 executors it is
the only way two runs match each other.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F

# Enough integer digits for 100 TB-scale sums; 2 fractional digits matches the
# generator's 2-decimal measures exactly.
MONEY = "decimal(18,2)"

# Scale for *computed* products of 2-decimal measures (e.g. price*(1-disc)):
# the true product has ≤4 decimal digits, so a scale-4 cast of its double is
# exact and engine-independent — a scale-2 cast would sit on rounding-tie
# boundaries where engines' double→decimal algorithms disagree.
MONEY4 = "decimal(18,4)"


def dec(col: Column | str, typ: str = MONEY) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(typ)


def money(col: Column | str) -> Column:
    return dec(col, MONEY)


def money4(col: Column | str) -> Column:
    return dec(col, MONEY4)


def round_decimal_parity(
    value: float | int | str | Decimal | None, n_decimals: int = 2
) -> float | None:
    """Exact scalar twin of the reference's ``round_decimal``
    (`common/helpers/numbers.py:7-23`): ``round(Decimal(value), n)``,
    half-even, returned as a double for the engine's candle schema (the
    reference keeps the Decimal and stores NUMERIC; a ≤4-decimal NUMERIC
    reads back as exactly this double).

    The input TYPE carries semantics, exactly as it does in the reference:
    a float rounds its full BINARY expansion (bitfinex's JSON-number
    candles — ``Decimal(2.675)`` is 2.67499…, so it rounds DOWN where the
    printed value looks like a tie), while a str rounds the exact decimal
    it spells (binance/bittrex JSON string prices, and the WS updater's
    ``;;``-split wire fields, `fetchers/ws/updater.py:84-88`). Callers must
    therefore pass through whatever type their wire/API layer produced,
    not pre-coerce to float.
    """
    if value is None:
        return None
    return float(round(Decimal(value), n_decimals))


#: String→decimal landing type for wire-field rounding: scale 18 carries any
#: realistic exchange tick size exactly; values beyond 38-18 integer digits
#: (1e20) or 18 significant fractional digits are outside the candle
#: contract and dead-letter (the try_cast NULLs the former; the explicit
#: precision guard in ``round_wire`` NULLs the latter).
WIRE_DECIMAL = "decimal(38,18)"


def _wire_frac_digits(c: Column) -> Column:
    """Significant fractional digits a decimal string actually needs,
    exponent-aware: ``len(frac) − exp − trailing_zeros(int||frac)``.
    '5.000000000000001E-5' → 20; '10e-19' → 18 (representable at scale
    18); '0.50' → 1. Drives the lossless-cast guard below — Spark's
    decimal cast ROUNDS (half-up) digits beyond the target scale, so
    without this guard a >18-digit tail could silently manufacture or
    destroy a half-even tie at ``n_decimals`` instead of dead-lettering."""
    int_digits = F.regexp_extract(c, r"^[+-]?(\d*)", 1)
    frac = F.regexp_extract(c, r"\.(\d*)", 1)
    exp = F.coalesce(
        F.regexp_extract(c, r"[eE]([+-]?\d+)$", 1).try_cast("int"), F.lit(0)
    )
    all_digits = F.concat(int_digits, frac)
    trailing_zeros = F.length(all_digits) - F.length(
        F.regexp_replace(all_digits, "0+$", "")
    )
    return F.length(frac) - exp - trailing_zeros


def round_wire(col: Column | str, n_decimals: int = 4) -> Column:
    """Column twin of the updater's ingest rounding
    (`fetchers/ws/updater.py:84-88`, ``round_decimal(field, NUM_DECIMALS)``):
    the wire field is a STRING, so the reference rounds the exact decimal it
    spells, half-even — pure decimal arithmetic, which ``cast → bround``
    reproduces bit-for-bit (pinned against Python's ``round(Decimal(s), n)``
    and DuckDB's ``round_even`` in tests/test_numbers.py). Malformed or
    out-of-range strings yield NULL, feeding the caller's dead-letter split
    instead of raising mid-stream.

    Out-of-range INCLUDES strings needing more than ``WIRE_DECIMAL``'s 18
    fractional digits (e.g. a double's shortest repr like
    '5.000000000000001E-5'): the decimal cast would half-up-round the tail
    first, which can flip the half-even decision at ``n_decimals`` — a
    silent one-tick divergence from the reference's unbounded ``Decimal``.
    The precision guard dead-letters them instead, keeping the parity claim
    exact on everything that parses (pinned by
    ``test_round_wire_deep_fraction_dead_letters``).

    Hot-path cost: real exchange wires are plain ≤18-decimal strings, so a
    single ``rlike`` admits them directly; the exponent-aware digit count
    (four regexp evaluations) runs only on strings that miss the fast
    pattern — ``CASE WHEN`` evaluates the second condition per-row only
    when the first is false. Callers parsing SEVERAL fields per row must
    not instantiate this tree per field: evaluate it once inside an array
    ``transform`` (see ``parse_wire_candles``) — the r9→r10 latest-serve
    regression was five copies of this tree (plus five more in the
    dead-letter predicate) blowing up per-micro-batch plan compilation,
    not the per-row arithmetic (measured equal in batch)."""
    c = F.col(col) if isinstance(col, str) else col
    simple = c.rlike(r"^[+-]?\d+(\.\d{0,18})?$")
    d = F.when(simple, c.try_cast(WIRE_DECIMAL)).when(
        _wire_frac_digits(c) <= F.lit(18), c.try_cast(WIRE_DECIMAL)
    )
    return F.bround(d, n_decimals).cast("double")

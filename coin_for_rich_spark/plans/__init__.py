from .cache import (
    NO_VALUE,
    ResultCacheRegion,
    WouldBlock,
    orm_cache_get,
)
from .reader import read_ohlcvs, VALID_INTERVALS
from .serve import serialize_candles, to_json_rows

__all__ = [
    "read_ohlcvs",
    "VALID_INTERVALS",
    "serialize_candles",
    "to_json_rows",
    "NO_VALUE",
    "ResultCacheRegion",
    "WouldBlock",
    "orm_cache_get",
]

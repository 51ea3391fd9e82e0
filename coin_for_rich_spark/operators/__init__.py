from .asof import asof_join
from .rangejoin import range_join
from .candles import cascade_rollup, cascade_rollup_multi, ohlcv_rollup
from .analytics import (
    common_keys_top30,
    top_k_with_other,
    weekly_return,
    geo_daily_return,
)
from .sketches import sketch_merge, sketch_rollup
from .maintenance import skew_report
from .maintenance import (
    latest_per_key,
    detect_gaps,
    recompute_is_trading,
    retention_anti_join,
    dedup_pk,
    count_distinct_pairs,
)
from .windowed import moving_average, sessionize, topn_per_key

__all__ = [
    "range_join",
    "sketch_merge",
    "skew_report",
    "sketch_rollup",
    "cascade_rollup",
    "cascade_rollup_multi",
    "ohlcv_rollup",
    "common_keys_top30",
    "top_k_with_other",
    "weekly_return",
    "geo_daily_return",
    "latest_per_key",
    "detect_gaps",
    "recompute_is_trading",
    "retention_anti_join",
    "dedup_pk",
    "count_distinct_pairs",
    "moving_average",
    "sessionize",
    "topn_per_key",
    "asof_join",
]

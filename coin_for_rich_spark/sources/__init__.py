from .tables import TABLES, load_table, candles_view
from .fetchplan import (
    build_fetch_plan,
    dead_letters,
    fetch_pages,
    synthetic_fetcher,
)
from .bucketing import (
    exchanges_in_plan,
    is_bucketed,
    write_bucketed,
    write_zordered,
    zorder_key,
    zorder_key_n,
)
from .ratelimit import (
    GCRARateLimiter,
    RequestWeightManager,
    SlidingWindowThrottler,
    binance_weight_manager,
    gcra_dispatch_schedule,
)
from .store import (
    load_rollups,
    materialize_rollups,
    read_partitioned,
    write_partitioned,
)

__all__ = [
    "exchanges_in_plan",
    "is_bucketed",
    "write_bucketed",
    "write_zordered",
    "zorder_key",
    "zorder_key_n",
    "TABLES",
    "load_table",
    "candles_view",
    "build_fetch_plan",
    "dead_letters",
    "fetch_pages",
    "synthetic_fetcher",
    "GCRARateLimiter",
    "RequestWeightManager",
    "SlidingWindowThrottler",
    "binance_weight_manager",
    "gcra_dispatch_schedule",
    "load_rollups",
    "materialize_rollups",
    "read_partitioned",
    "write_partitioned",
]

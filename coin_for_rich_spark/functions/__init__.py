from .timeutils import time_bucket, epoch_ms, INTERVAL_SECONDS
from .numbers import round4, dec, money, money4
from .partitioning import ensure_parallelism

__all__ = [
    "ensure_parallelism",
    "time_bucket",
    "epoch_ms",
    "INTERVAL_SECONDS",
    "round4",
    "dec",
    "money",
    "money4",
]

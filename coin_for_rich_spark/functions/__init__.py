from .timeutils import time_bucket, INTERVAL_SECONDS
from .numbers import dec, money, money4
from .partitioning import ensure_parallelism

__all__ = [
    "ensure_parallelism",
    "time_bucket",
    "INTERVAL_SECONDS",
    "dec",
    "money",
    "money4",
]

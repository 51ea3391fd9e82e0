"""coin_for_rich_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference crypto OHLCV platform
(coinForRich/coin-for-rich), re-expressed Spark-first.

The reference is a TimescaleDB + Redis + FastAPI stack: 1-minute OHLCV candles
land in a hypertable (`scripts/database/init/create.sql:12-22`), are rolled up
into 8 continuous aggregates (`create.sql:105-223`) and 4 analytics
materialized views (`create.sql:94-342`), and are served through an interval
router (`web/routes/api/rest/utils/readers.py:126-368`). Here every one of
those computations is a Catalyst logical plan over partitioned Parquet
(batch) or a Structured Streaming query (ingest path); there is no bespoke
execution engine — Catalyst + Tungsten pick the physical strategy.

Layout:
    session      — SparkSession factory tuned for local[N] test / cluster prod
    sources      — loaders for the driver's parquet testdata (ns-timestamp safe)
    functions    — scalar helpers (time buckets, decimal rounding, epoch ms)
    operators    — batch operators: candle rollups, analytics views, maintenance
    plans        — the user-facing read API (interval router, chart reader)
    streaming    — Structured Streaming rollups / latest-value / dedup / upsert
    llmdata      — large-scale training-data ops: dedup, similarity, text stats
"""

__version__ = "0.1.0"

import os as _os
import zipimport as _zipimport


def _stat_checked_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its ``(st_mtime_ns, st_size)`` changed since that importer last read it.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
    every task (``pyspark/worker_util.py`` ``setup_spark_files``). Up to
    CPython 3.12 each cached ``zipimporter`` then re-reads its archive's
    whole central directory at once, and a worker caches 14-16 of them over
    ``pyspark.zip`` (1,328 entries), the py4j zip and the spark-core jar:
    83-95 ms of every Python task on an idle core, most of a no-op
    ``mapInArrow`` task. Engine UDFs pickle engine functions by reference,
    so a worker's first engine task imports this package; from then on a
    task's invalidation costs one ``stat`` per importer. A changed or
    replaced archive (``addPyFile``, a new content-addressed package zip) is
    still re-read, and an archive that cannot be stat'ed takes the original
    path. On 3.13+ the original only drops the cache, so this is harmless.
    """
    original = _zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            st = _os.stat(self.archive)
        except OSError:
            self.__dict__.pop("_read_stamp", None)
            original(self)
            return
        stamp = (st.st_mtime_ns, st.st_size)
        if self.__dict__.get("_read_stamp") != stamp:
            original(self)
            self._read_stamp = stamp

    _zipimport.zipimporter.invalidate_caches = invalidate_caches


_stat_checked_zip_invalidation()

"""Physical-plan regression guards: the scale properties the engine promises
must be visible in the optimized plan, not just asserted in docstrings."""

from __future__ import annotations

import contextlib
import io

from coin_for_rich_spark.operators import ohlcv_rollup, retention_anti_join
from coin_for_rich_spark.plans import read_ohlcvs
from coin_for_rich_spark.sources import candles_view, load_table

from pyspark.sql import functions as F


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_chart_read_pushes_key_filter_to_scan(spark, sf_dir):
    plan = _plan(read_ohlcvs(candles_view(spark, sf_dir), "purchase", "1h", limit=500))
    scan = plan.split("Scan parquet", 1)[1]
    assert "EqualTo(event_type,purchase)" in scan  # predicate reached parquet
    # column pruning: the 6-column source reads only what the rollup needs
    read_schema = scan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "props" not in read_schema and "user_id" not in read_schema


def test_chart_read_uses_topk_not_global_sort(spark, sf_dir):
    plan = _plan(read_ohlcvs(candles_view(spark, sf_dir), "purchase", "1h", limit=500))
    assert "TakeOrderedAndProject" in plan  # DESC limit = top-K, never a full Sort


def test_tick_route_pushes_ts_range_to_scan(spark, sf_dir):
    """The tick route's exact aligned ts bounds reach the parquet scan, so
    row groups outside the chart window can be skipped."""
    plan = _plan(read_ohlcvs(
        candles_view(spark, sf_dir), "purchase", "1h",
        start="2024-01-10 00:30:00", end="2024-01-12 06:00:00",
    ))
    scan = plan.split("Scan parquet", 1)[1]
    pushed = next(ln for ln in scan.splitlines() if ln.startswith("PushedFilters"))
    assert "GreaterThanOrEqual(ts,2024-01-10T01:00)" in pushed, pushed
    assert "LessThan(ts,2024-01-12T07:00)" in pushed, pushed


def test_rollup_is_partial_then_final_aggregate(spark, sf_dir):
    import re

    plan = _plan(ohlcv_rollup(candles_view(spark, sf_dir), "1h"))
    # formatted explain lists each node once in the tree and once in the
    # detail section — count the numbered detail headers, one per node
    n_agg = len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M))
    n_exchange = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_agg == 2  # map-side combine + final
    assert n_exchange == 1  # exactly one shuffle, on the group keys


def test_streaming_rollup_shares_batch_aggregate_definitions(spark, sf_dir):
    """One candle definition, two execution modes: the streaming rollup must
    build its aggregates from operators.candles.ohlcv_aggs (imported, not
    copied), and both plans must carry the same ordered-aggregate and
    decimal-sum expressions."""
    import re

    from coin_for_rich_spark.operators import candles
    from coin_for_rich_spark.streaming import rollup as srollup
    from coin_for_rich_spark.streaming.rollup import streaming_ohlcv_rollup

    assert srollup.ohlcv_aggs is candles.ohlcv_aggs

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(
            F.col("timestamp").alias("ts"),
            F.col("value").cast("double").alias("price"),
            F.col("value").cast("double").alias("volume"),
            F.lit("k").alias("symbol"),
        )
    )
    splan = streaming_ohlcv_rollup(stream, "1h", watermark="0 seconds")._jdf.queryExecution().analyzed().toString()
    bplan = ohlcv_rollup(candles_view(spark, sf_dir), "1h")._jdf.queryExecution().analyzed().toString()
    for marker in (r"min_by\(price#\d+, ", r"max_by\(price#\d+, ", r"cast\(volume#\d+ as decimal\(18,2\)\)"):
        assert re.search(marker, splan), marker
        assert re.search(marker, bplan), marker


def test_asof_join_is_single_shuffle_no_range_join(spark, sf_dir):
    """The as-of join must compile to union + one keyed exchange + window —
    never a BroadcastNestedLoop/cartesian range join."""
    import re

    from coin_for_rich_spark.operators import asof_join

    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "click").select("event_id", "ts", "user_id", "value")
    right = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    plan = _plan(asof_join(left, right, on=["user_id"], payload={"value": "v"}))
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    n_exchange = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchange == 1  # one hashpartitioning on the key, shared by union+window


def test_sessionize_windows_share_one_shuffle(spark, sf_dir):
    """Both windows and the final session aggregate run off ONE exchange on
    the key — the window pass already co-locates (key, session)."""
    import re

    from coin_for_rich_spark.operators import sessionize

    ev = load_table(spark, sf_dir, "events")
    plan = _plan(sessionize(ev, ["user_id"], gap_seconds=43200))
    n_exchange = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchange == 1


def test_retention_anti_join_broadcasts_keep_list(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    keep = ev.groupBy("user_id").count().orderBy(F.desc("count")).limit(30)
    plan = _plan(retention_anti_join(ev, keep, ["user_id"]))
    assert "BroadcastHashJoin LeftAnti" in plan  # fact side never shuffles


def test_candles_all_is_one_scan_two_exchanges(spark, sf_dir):
    """The fused 11-resolution cascade must stay one tick scan + two
    exchanges (5m base agg, fused multi-resolution agg) — the shape that
    holds at 100 TB; a regression to per-resolution unions shows up as 11
    scans / ~11 exchanges."""
    import __spark_entry__ as entry_mod

    df = entry_mod.q_candles_all(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan.count("FileScan")
    assert plan.count("Exchange") <= 2, plan.count("Exchange")


def test_doc_profile_is_exchange_free(spark, sf_dir):
    """The fused text-analysis scan is pure per-row algebra — no join and
    no data-dependent shuffle may creep into its plan. The ONE allowed
    Exchange is the compute-widening repartition on the id (r15: a
    single-row-group scan otherwise serializes the whole ladder onto one
    core; the widener no-ops on a naturally wide corpus scan, so at scale
    the plan is exchange-free again)."""
    from coin_for_rich_spark.llmdata import doc_profile
    from coin_for_rich_spark.sources import load_table

    plan = (
        doc_profile(load_table(spark, sf_dir, "documents"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange" in ln
    ]
    assert len(exchanges) <= 1
    for ln in exchanges:
        assert "hashpartitioning(doc_id" in ln, ln


def test_corpus_curation_plan_carries_no_broadcast_hints(spark, sf_dir):
    """Every relation q_corpus_curation joins (keep set, eval holdout,
    contaminated ids) is corpus-proportional — a hard broadcast hint on any
    of them is a driver OOM at 100 TB. The optimized plan must carry no
    hint; AQE may still CHOOSE broadcast at runtime for actually-small
    sides, which is exactly the point."""
    import __spark_entry__ as entry_mod

    opt = (
        entry_mod.queries()["corpus_curation"](spark, sf_dir)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "ResolvedHint" not in opt
    assert "broadcast" not in opt.lower()


def test_media_pipeline_is_exchange_free(spark, sf_dir):
    """generate → decode → stats is map-only: media bytes must never be
    shuffled (one scan, chained mapInPandas, zero Exchanges)."""
    from coin_for_rich_spark.llmdata import attach_real_media, decode_media_stats
    from coin_for_rich_spark.sources import load_table

    df = decode_media_stats(attach_real_media(load_table(spark, sf_dir, "documents")))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert plan.count("FileScan") == 1


def test_materialized_route_prunes_dt_partitions(spark, sf_dir):
    """The routed rollup read must apply the derived dt partition bounds —
    without them a one-week chart read scans the rollup's WHOLE history
    (dt is a stored column; Catalyst cannot infer it from `bucket`) — and
    the dt column must not leak into the serve schema."""
    import __spark_entry__ as m

    df = m.queries()["chart_read_routes"](spark, sf_dir)
    assert "dt" not in df.columns
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(dt#" in plan or (
        "PartitionFilters: [" in plan and "dt#" in plan
    ), "materialized route scan lost its dt partition filters"


def test_oversized_build_side_still_takes_sort_merge(spark, sf_dir):
    """The session allows shuffled-hash joins (preferSortMergeJoin=false,
    guide §3.1) — that posture is only scale-safe because the planner's
    size conditions keep OVERSIZED build sides on sort-merge. Pin it: with
    a 1-byte local-hash budget (autoBroadcastJoinThreshold=1 — no side can
    build a local map, and neither side of a fact×fact join is 3× smaller)
    the join must plan as SortMergeJoin, not ShuffledHashJoin."""
    from coin_for_rich_spark.functions.partitioning import scoped_conf

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    joined = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"]
    ).select("l_orderkey", "o_custkey", "l_quantity")
    with scoped_conf(
        spark, **{"spark.sql.autoBroadcastJoinThreshold": "1"}
    ):
        plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    # sanity: the knob this test guards really is off in the session
    assert spark.conf.get("spark.sql.join.preferSortMergeJoin") == "false"

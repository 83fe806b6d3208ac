"""Relational operators over the star schema — the §2.7 surface the
extraction engine's DataFrame shell uses (filter/project, hash aggregate,
broadcast join, window), demonstrated on the driver's TPC-H-ish tables so
the DuckDB oracle can verify them.

Scale shapes: the pricing summary is a map-side-combinable aggregate on a
low-cardinality key (no skew); the customer/nation join broadcasts the tiny
dimension (no shuffle of the fact side); the events rollup buckets by hour
(bounded state, streaming-friendly — the Structured Streaming variant uses
the same expression over a watermark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["pricing_summary", "orders_by_nation", "events_hourly", "asof_last_event",
           "events_within_interval"]

# event types the as-of join matches, and the range join's interval width
# (read by the DuckDB twins)
ASOF_LEFT_TYPE = "purchase"
ASOF_RIGHT_TYPE = "click"
RANGE_SECONDS = 600


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1-flavoured rollup: returnflag/linestatus aggregate with
    derived measures (all map-side partial-agg friendly)."""
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def orders_by_nation(orders: DataFrame, customer: DataFrame, nation: DataFrame) -> DataFrame:
    """Fact-to-dims join with explicit broadcast of the small dimensions:
    order counts and revenue per nation."""
    return (
        orders.join(F.broadcast(customer), orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def events_hourly(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour rollup by event type (date_trunc is portable to the
    oracle).  Its streaming twin, stream_job.streaming_events_hourly, groups
    by a watermarked `window(ts, '1 hour')` instead, since an unbounded
    stream needs the watermark; tests/test_streaming.py checks that the two
    agree."""
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def asof_last_event(events: DataFrame) -> DataFrame:
    """Keyed AS-OF join, an operator Spark lacks natively: for every
    ASOF_LEFT_TYPE event, the most recent ASOF_RIGHT_TYPE event by the SAME
    user at or before its timestamp (inclusive), NULL when none exists.

    Implemented as the scalable union-merge: tag both sides, repartition
    once on the key, sort (ts, tag) within the key so an equal-timestamp
    right row precedes its left row, and carry the latest right payload
    forward with last(ignorenulls) over an unbounded-preceding window.
    One shuffle, O(n log n) per key, no range-join row explosion — the
    standard distributed as-of shape.  Values match DuckDB's native
    ASOF LEFT JOIN (the oracle).

    Right-side timestamp ties resolve to the MAXIMUM event_id (mirrored in
    the oracle): the sort key includes the carried event id, so the last
    same-timestamp right row the carry sees is the highest-id one — an
    as-of join over duplicate (key, ts) right rows is otherwise
    nondeterministic in any engine."""
    from pyspark.sql import Window

    carry_t = "struct<match_id:bigint,match_us:bigint>"
    rights = events.filter(F.col("event_type") == ASOF_RIGHT_TYPE).select(
        "user_id", "ts",
        F.lit(0).alias("tag"),
        F.struct(F.col("event_id").alias("match_id"),
                 F.unix_micros(F.col("ts").cast("timestamp")).alias("match_us")).alias("carry"),
        F.lit(None).cast("long").alias("left_id"),
    )
    lefts = events.filter(F.col("event_type") == ASOF_LEFT_TYPE).select(
        "user_id", "ts",
        F.lit(1).alias("tag"),
        F.lit(None).cast(carry_t).alias("carry"),
        F.col("event_id").alias("left_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("tag").asc(),
                 F.col("carry.match_id").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        rights.unionByName(lefts)
        .withColumn("c", F.last("carry", ignorenulls=True).over(w))
        .filter(F.col("tag") == 1)
        .select(
            F.col("left_id").alias("purchase_id"),
            "user_id",
            F.col("c.match_id").alias("click_id"),
            F.col("c.match_us").alias("click_us"),
        )
    )


def events_within_interval(events: DataFrame) -> DataFrame:
    """Range join, banded: ordered pairs of same-user events with
    0 < ts_b - ts_a <= RANGE_SECONDS.

    A naive inequality join is a per-user cross product; instead timestamps
    bucket by the interval width, the left side emits its bucket and the
    next one, and the equi-join on (user_id, bucket) contains every
    qualifying pair exactly once (the right event's bucket is either the
    left's or the one after).  The exact range predicate re-applies after
    the equi-join — candidate volume is bounded by events per (user,
    2 x width) window instead of events-per-user squared."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    e = events.select("event_id", "user_id", us.alias("us"))
    width = RANGE_SECONDS * 1_000_000
    bucket = F.floor(F.col("us") / width).cast("long")
    left = e.select(
        F.col("event_id").alias("event_a"), "user_id", F.col("us").alias("us_a"),
        F.explode(F.array(bucket, bucket + 1)).alias("bk"),
    )
    right = e.select(
        F.col("event_id").alias("event_b"),
        F.col("user_id").alias("user_b"),
        F.col("us").alias("us_b"),
        bucket.alias("bk_b"),
    )
    return (
        left.join(right, (F.col("user_id") == F.col("user_b")) & (F.col("bk") == F.col("bk_b")))
        .filter((F.col("us_b") > F.col("us_a")) & (F.col("us_b") <= F.col("us_a") + width))
        .select("event_a", "event_b", "user_id")
    )

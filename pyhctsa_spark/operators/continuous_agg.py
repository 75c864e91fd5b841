"""Continuous aggregates over irregular event streams.

TSDB-style operators (TimescaleDB ``counter_agg``/``time_weight``,
PromQL ``increase``/``rate``) re-expressed as Spark window + aggregate
plans. Everything here is shuffle-lean by construction: the per-key
``lag`` scan hash-partitions on the entity key, and the follow-up
``groupBy(key, window)`` is satisfied by that same partitioning
(HashPartitioning(key) clusters every (key, window) group), so the
whole aggregate is ONE exchange end-to-end — the shape that holds at
10^12 rows because a key's history never needs to meet another key's.

``counter_agg`` — monotone-counter semantics with reset detection:
a negative delta means the counter restarted (process restart, rollover)
and the post-reset reading itself is the increase since the restart.
This is the standard Prometheus extrapolation-free ``increase``:
    adj_delta_i = v_i - v_{i-1}   if v_i >= v_{i-1}
                = v_i             otherwise (reset)
summed per wall-clock window, plus the reset count and the in-window
rate (increase / covered seconds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from pyhctsa_spark.operators.cagg import cagg_finalize, cagg_partial


def counter_agg(
    events: DataFrame,
    on: str = "ts",
    by: list[str] | None = None,
    value_col: str = "value",
    window_micros: int = 30 * 60 * 1_000_000,
) -> DataFrame:
    """Reset-aware counter increase / rate per (key, wall-clock window).

    Output per group: ``n_events``, ``n_resets`` (negative deltas),
    ``counter_increase`` (sum of reset-adjusted deltas for events with a
    same-key predecessor — a window's first delta reaches back across
    the boundary, so tier sums telescope), and ``rate_per_s``
    (increase / in-window covered seconds; NULL when the window has no
    span). One exchange: the lag scan partitions on ``by`` and the
    (by, window) aggregate reuses that clustering.
    """
    by = list(by or ["user_id"])
    w = Window.partitionBy(*by).orderBy(F.unix_micros(F.col(on)))
    tus = F.unix_micros(F.col(on))
    prev = F.lag(value_col).over(w)
    delta = F.col(value_col) - prev
    adj = F.when(prev.isNull(), None).otherwise(
        F.when(delta >= 0, delta).otherwise(F.col(value_col))
    )
    staged = events.select(
        *by,
        tus.alias("_tus"),
        F.floor(tus / F.lit(int(window_micros))).alias("widx"),
        adj.alias("_adj"),
        (delta < 0).cast("int").alias("_reset"),
    )
    span_s = (F.max("_tus") - F.min("_tus")).cast("double") / F.lit(1e6)
    inc = F.sum("_adj")
    return staged.groupBy(*by, "widx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.coalesce(F.sum("_reset"), F.lit(0)).cast("bigint").alias("n_resets"),
        inc.alias("counter_increase"),
        F.when(span_s > 0, inc / span_s).alias("rate_per_s"),
    )


def ohlc_agg(
    events: DataFrame,
    on: str = "ts",
    by: list[str] | None = None,
    value_col: str = "value",
    window_micros: int = 30 * 60 * 1_000_000,
) -> DataFrame:
    """M4 / OHLC downsample-by-aggregation per (key, wall-clock window).

    The visualization-exact aggregate (Jugel et al., "M4", VLDB 2014;
    the candlestick every TSDB ships): per window emit the first, last,
    min and max values PLUS the timestamps of the extremes, which is
    what a pixel-perfect line render needs. Deterministic tie rules,
    mirrored in the oracle: open = value at the earliest timestamp
    (smallest value on a timestamp tie), close = value at the latest
    (largest on tie), t_high/t_low = EARLIEST timestamp attaining the
    max/min value.

    Plan: a single hash-aggregate on (by, widx) — struct-ordered min/max
    aggregates, all JVM built-ins, map-side partial aggregation applies.
    At 10^12 rows this is the cheapest possible shape: one exchange of
    pre-combined per-window structs, no window functions, no sort.
    The aggregate is the continuous-aggregate state's
    (``cagg.cagg_partial``, finalized by ``cagg.cagg_finalize``) without
    its moment columns; the earliest-t-at-extreme rule there uses
    max(struct(v, -t)): among rows with the max value, -t is largest for
    the earliest timestamp.
    """
    states = cagg_partial(events, on, by, value_col, window_micros)
    return cagg_finalize(states, by).drop("mean", "variance")


def gap_detect(
    events: DataFrame,
    on: str = "ts",
    by: list[str] | None = None,
    min_gap_micros: int = 10 * 60 * 1_000_000,
) -> DataFrame:
    """Find intra-series silences: consecutive same-key events more than
    ``min_gap_micros`` apart (the data-quality probe behind gap-fill —
    operators/rollup's gapped path interpolates exactly these spans).

    Output: by-keys, ``gap_start``/``gap_end`` (epoch micros of the
    bounding events), ``gap_s`` (span in seconds). One exchange: the
    lag scan hash-partitions on the key; the filter is map-side after
    the sort.
    """

    by = list(by or ["user_id"])
    tus = F.unix_micros(F.col(on))
    w = Window.partitionBy(*by).orderBy("_t")
    prev = F.lag("_t").over(w)
    return (
        events.select(*by, tus.alias("_t"))
        .withColumn("_prev", prev)
        .where(F.col("_t") - F.col("_prev") > F.lit(int(min_gap_micros)))
        .select(
            *by,
            F.col("_prev").alias("gap_start"),
            F.col("_t").alias("gap_end"),
            ((F.col("_t") - F.col("_prev")).cast("double") / F.lit(1e6)).alias(
                "gap_s"
            ),
        )
    )

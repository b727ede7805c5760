"""Liquidity distribution (createLiq) — the flagship composite pipeline:
group-sums (A1) -> coalescing full-outer join (J1) -> ordered prefix sum
(W1). Reference: v3/helpers/swap_math.py:25-71.

Spark-first plan shape:
  - the two group-sums are hash aggregates with map-side partial agg;
  - the outer join is key-coalescing (USING join) on `tick`;
  - the prefix sum is a window — partitioned by pool/chain when computing
    distributions for MANY pools at once (`liquidity_distribution_multi`),
    which is how this runs at 100 TB: one shuffle per agg, one window,
    all stages parallel across pools. The single-pool variant keeps the
    unpartitioned window (the frame is O(#initialized ticks) ≈ 10²-10⁴ rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType


def _signed_liq(mb: DataFrame, as_of: float | None) -> DataFrame:
    df = mb
    if as_of is not None:
        # strict < : "value before the transaction at that index" (SURVEY §8.2)
        df = df.filter(F.col("as_of") < F.lit(float(as_of)))
    return df


def liquidity_distribution(mb: DataFrame, as_of: float | None = None) -> DataFrame:
    """(tick, liquidity) distribution as of ``as_of`` for a single pool's
    mint/burn frame (columns: amount double, type_of_event double,
    tick_lower/upper long, as_of double).

    1. +amount*type_of_event grouped on tick_lower  (liquidity added at lower)
    2. -amount*type_of_event grouped on tick_upper  (removed at upper)
    3. full-outer coalescing join on tick, fill 0, add
    4. sort by tick, prefix sum
    (reference v3/helpers/swap_math.py:36-69)
    """
    base = _signed_liq(mb, as_of)
    tl = (
        base.withColumn("liquidity_lower", F.col("amount") * F.col("type_of_event"))
        .groupBy(F.col("tick_lower").alias("tick"))
        .agg(F.sum("liquidity_lower").alias("liquidity_lower"))
        .filter(F.col("liquidity_lower") != 0)
    )
    tu = (
        base.withColumn("liquidity_upper", -(F.col("amount") * F.col("type_of_event")))
        .groupBy(F.col("tick_upper").alias("tick"))
        .agg(F.sum("liquidity_upper").alias("liquidity_upper"))
        .filter(F.col("liquidity_upper") != 0)
    )
    joined = (
        tl.join(tu, "tick", "full_outer")
        .na.fill(0, subset=["liquidity_lower", "liquidity_upper"])
        .withColumn("delta", F.col("liquidity_lower") + F.col("liquidity_upper"))
    )
    w = (
        Window.orderBy(F.col("tick").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "tick", F.sum("delta").over(w).alias("liquidity")
    )


def liquidity_distribution_multi(
    mb: DataFrame, as_of: float | None = None, by: list[str] = ("chain_name", "address")
) -> DataFrame:
    """Same semantics, computed for EVERY pool in one distributed plan —
    the scale path. All shuffles key on (pool keys, tick); the prefix-sum
    window partitions by pool, so no single-task stage exists."""
    by = list(by)
    base = _signed_liq(mb, as_of)
    tl = (
        base.withColumn("d", F.col("amount") * F.col("type_of_event"))
        .groupBy(*by, F.col("tick_lower").alias("tick"))
        .agg(F.sum("d").alias("liquidity_lower"))
        .filter(F.col("liquidity_lower") != 0)
    )
    tu = (
        base.withColumn("d", -(F.col("amount") * F.col("type_of_event")))
        .groupBy(*by, F.col("tick_upper").alias("tick"))
        .agg(F.sum("d").alias("liquidity_upper"))
        .filter(F.col("liquidity_upper") != 0)
    )
    joined = (
        tl.join(tu, by + ["tick"], "full_outer")
        .na.fill(0, subset=["liquidity_lower", "liquidity_upper"])
        .withColumn("delta", F.col("liquidity_lower") + F.col("liquidity_upper"))
    )
    w = (
        Window.partitionBy(*by)
        .orderBy(F.col("tick").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(*by, "tick", F.sum("delta").over(w).alias("liquidity"))


def liquidity_timeline(
    mb: DataFrame,
    frame_as_ofs: list[float],
    by: list[str] | None = None,
    wide_threshold: int = 64,
) -> DataFrame:
    """Liquidity distribution at MANY as-of frames in one distributed plan
    — the scale re-expression of the crosschain animation notebook, which
    loops slice(i,1) over a resampled series re-running createLiq per frame
    (reference Crosschain_Liquidity_GIF.ipynb cell 12).

    Two physical plans, same semantics (each event's two signed tick
    deltas contribute to every frame strictly after its as_of — SURVEY
    §8.2's strict-< convention):

    - **fused** (#frames <= ``wide_threshold``): ONE hash aggregation
      computes, per tick, the frame-axis cumulative net delta for every
      frame as a conditional sum column (``sum(when(as_of < frame_i,
      delta))`` — the "cumulative" is free because an event counts toward
      all later frames), then explodes the columns to rows and runs the
      single tick-axis cumsum window. Exactly TWO exchanges (group-by,
      window) regardless of #frames — the floor-dominant shape for the
      animation workload's dozens of frames.
    - **grid** (#frames > ``wide_threshold``): tag each delta with its
      first covering frame, group once per (frame, tick), densify with a
      frame x tick grid, and stack two prefix-sum windows (frame axis,
      then tick axis). O(#frames) rows instead of O(#frames) agg columns
      — the right trade once the conditional-sum row width outgrows the
      aggregation buffer.

    Output: (frame_as_of, tick, liquidity). With ``by`` (e.g. chain+pool),
    every aggregation/window additionally partitions by those keys.
    """
    by = list(by or [])
    frames = sorted(float(x) for x in frame_as_ofs)
    if not frames:
        # zero frames -> empty result with the contract schema (the fused
        # plan would otherwise build a zero-aggregate groupBy, which
        # GroupedData.agg rejects)
        return (
            mb.select(
                *by,
                F.lit(0.0).alias("frame_as_of"),
                F.col("tick_lower").alias("tick"),
                F.lit(0.0).alias("liquidity"),
            )
            .filter(F.lit(False))
        )
    if len(frames) <= wide_threshold:
        return _timeline_fused(mb, frames, by)
    return _timeline_grid(mb, frames, by)


def _timeline_fused(mb: DataFrame, frames: list[float], by: list[str]) -> DataFrame:
    signed = F.col("amount") * F.col("type_of_event")
    lower = mb.select(
        *by, F.col("as_of"), F.col("tick_lower").alias("tick"), signed.alias("delta")
    )
    upper = mb.select(
        *by, F.col("as_of"), F.col("tick_upper").alias("tick"), (-signed).alias("delta")
    )
    deltas = lower.unionByName(upper)
    nets = deltas.groupBy(*by, "tick").agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("as_of") < F.lit(f), F.col("delta"))),
                F.lit(0.0),
            ).alias(f"_net_{i}")
            for i, f in enumerate(frames)
        ]
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(f).cast(DoubleType()).alias("frame_as_of"),
                F.col(f"_net_{i}").alias("net"),
            )
            for i, f in enumerate(frames)
        ]
    )
    dense = nets.select(*by, "tick", F.explode(pairs).alias("p")).select(
        *by, "tick", "p.frame_as_of", "p.net"
    )
    w_ticks = (
        Window.partitionBy(*by, "frame_as_of")
        .orderBy(F.col("tick").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return dense.select(
        *by, "frame_as_of", "tick", F.sum("net").over(w_ticks).alias("liquidity")
    )


def _timeline_grid(mb: DataFrame, frames: list[float], by: list[str]) -> DataFrame:
    frames_arr = F.array(*[F.lit(x).cast(DoubleType()) for x in frames])

    signed = F.col("amount") * F.col("type_of_event")
    lower = mb.select(
        *by,
        F.col("as_of"),
        F.col("tick_lower").alias("tick"),
        signed.alias("delta"),
    )
    upper = mb.select(
        *by,
        F.col("as_of"),
        F.col("tick_upper").alias("tick"),
        (-signed).alias("delta"),
    )
    deltas = lower.unionByName(upper)

    # first frame strictly after the event; events at or after the last
    # frame get NULL (``get`` past the end; ``element_at`` raises under
    # ANSI) and drop
    first_frame = F.get(F.filter(frames_arr, lambda f: f > F.col("as_of")), 0)
    per_frame = (
        deltas.withColumn("frame_as_of", first_frame)
        .filter(F.col("frame_as_of").isNotNull())
        .groupBy(*by, "frame_as_of", "tick")
        .agg(F.sum("delta").alias("delta"))
    )

    # dense grid: every tick that ever appears x every frame
    ticks = deltas.select(*by, "tick").distinct()
    grid = ticks.withColumn("frame_as_of", F.explode(frames_arr))
    dense = grid.join(per_frame, by + ["frame_as_of", "tick"], "left").na.fill(
        0, subset=["delta"]
    )

    w_frames = (
        Window.partitionBy(*by, "tick")
        .orderBy(F.col("frame_as_of").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_ticks = (
        Window.partitionBy(*by, "frame_as_of")
        .orderBy(F.col("tick").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_delta = F.sum("delta").over(w_frames)
    return (
        dense.withColumn("net", cum_delta)
        .select(
            *by,
            "frame_as_of",
            "tick",
            F.sum("net").over(w_ticks).alias("liquidity"),
        )
    )

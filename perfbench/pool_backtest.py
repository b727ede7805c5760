"""pool_backtest: batch passes over larger seeded v3 tables, every pool at
once. A pass runs

- ``quote_ladder_multi`` over all pools x an amount ladder,
- ``liquidity_distribution_multi``,
- ``liquidity_timeline`` by pool with ``FUSED_FRAMES`` (<= 64) frames,
- ``price_series`` at 6h and ``tick_twap`` for the busiest pool (both are
  single-pool functions).

Every op is forced with a noop write, as ``bench.py`` does. After each pass
the >64-frame timeline (grid path) runs once, outside the pass time, over
frames that end before the newest event: at this commit it raises
``INVALID_ARRAY_INDEX_IN_ELEMENT_AT`` under ANSI mode
(``v3/liquidity.py``, ``element_at`` of an empty ``filter``). It is timed
as ``v3.liquidity_timeline_grid_s`` and counted in the per-layer
``failed_op_frac``, not in the run's attempted/failed ops.

Checks: for one sampled pool, the distribution and one fused timeline
frame against a pandas cumulative sum over the generated mint/burns.
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd

import harness as H
import v3data

SIZES = dict(pools_per_chain=4, swaps_per_pool=2500, positions_per_pool=250)
LADDER = [10.0 ** (15 + k / 2) for k in range(11)]
FUSED_FRAMES = 48
GRID_FRAMES = 80
KEYS = ["chain_name", "address"]
OPS = [
    "quote_ladder_multi", "liquidity_distribution_multi",
    "liquidity_timeline_fused", "price_series", "tick_twap",
]


class PoolBacktest:
    name = "pool_backtest"
    pass_mix = dict.fromkeys(OPS, 1.0)

    def __init__(self, seed, work, sess, run):
        self.seed, self.work, self.sess, self.run = seed, work, sess, run
        self.rows_out: dict[str, int] = {}
        self.grid = {"attempted": 0, "failed": 0, "s": []}

    def prepare(self):
        self.man = v3data.generate(
            os.path.join(self.work, "v3"), self.seed, held_back=0.0, **SIZES
        )
        self.data = os.path.join(self.man.root, "landed")
        self.input_bytes = v3data.dir_bytes(self.data)
        evs = self.man.pools
        # as-ofs are per chain block numbers; frames and the quote as-of
        # use the ethereum chain's range, which the other chain's pools
        # see as "all events before" or "none" — the sampled check pool
        # sits on ethereum
        eth = [e for e in evs if e.chain == "ethereum"]
        lo = min(float(e.mb_as_of[0]) for e in eth)
        hi = max(float(max(e.mb_as_of[-1], e.swap_as_of[-1])) for e in eth)
        self.as_of = lo + 0.8 * (hi - lo)
        self.fused_frames = list(np.linspace(lo, hi + 1.0, FUSED_FRAMES))
        # grid frames end before the newest event: the defect's trigger
        self.grid_frames = list(np.linspace(lo, lo + 0.9 * (hi - lo), GRID_FRAMES))
        self.busiest = max(evs, key=lambda e: (len(e.swap_as_of), e.chain, e.address))
        self.check_pool = max(eth, key=lambda e: len(e.mb_as_of))
        self.start = datetime(2021, 5, 1, tzinfo=timezone.utc)

    def record(self):
        return {
            "pools": len(self.man.pools),
            "rows": self.man.rows,
            "input_bytes": self.input_bytes,
            "ladder": len(LADDER),
            "fused_frames": FUSED_FRAMES,
            "grid_frames": GRID_FRAMES,
        }

    def setup(self):
        """Session, shuffle sizing and the cached working set (typed
        mint/burns and swaps with as_of, factory keyed like the events)."""
        from pyspark.sql import functions as F

        from v3_polars_spark import tables as T
        from v3_polars_spark.session import tune_shuffle_partitions

        tr = self.run.tracer
        with tr.span("session.start", "session"):
            spark = self.sess.start()
        self.run.spark = spark
        with tr.span("session.tune_shuffle_partitions", "session"):
            tune_shuffle_partitions(spark, self.input_bytes)
        with tr.span("tables.read_table", "tables"):
            mb = T.read_table(spark, self.data, "pool_mint_burn_events")
            swaps = T.read_table(spark, self.data, "pool_swap_events")
            factory = T.read_table(spark, self.data, "factory_pool_created")
        self.mb = T.with_as_of(mb.withColumns({
            "amount": F.col("amount").cast("double"),
            "tick_lower": F.col("tick_lower").cast("long"),
            "tick_upper": F.col("tick_upper").cast("long"),
            "type_of_event": F.col("type_of_event").cast("double"),
        })).cache()
        self.swaps = T.with_as_of(swaps).cache()
        self.factory = factory.withColumnRenamed("pool", "address").cache()
        pools = [(e.chain, e.address) for e in self.man.pools]
        self.amounts = spark.createDataFrame(
            [(c, a, x) for c, a in pools for x in LADDER],
            "chain_name string, address string, amount_in double",
        ).cache()
        for df in (self.mb, self.swaps, self.factory, self.amounts):
            df.count()

    def _frames(self):
        from pyspark.sql import functions as F

        from v3_polars_spark.v3 import (
            liquidity_distribution_multi, liquidity_timeline, price_series,
            quote_ladder_multi, tick_twap,
        )

        e = self.busiest
        chain_swaps = self.swaps.filter(F.col("chain_name") == e.chain)
        pool_swaps = chain_swaps.filter(F.col("address") == e.address)
        end = self.start + timedelta(days=60)
        return {
            "quote_ladder_multi": lambda: [quote_ladder_multi(
                self.mb, self.swaps, self.factory, self.amounts, self.as_of, zero_for_one=True
            )],
            "liquidity_distribution_multi": lambda: [
                liquidity_distribution_multi(self.mb, self.as_of)
            ],
            "liquidity_timeline_fused": lambda: [
                liquidity_timeline(self.mb, self.fused_frames, by=KEYS)
            ],
            "price_series": lambda: [price_series(chain_swaps, pool_swaps, self.start, "6h")],
            "tick_twap": lambda: [tick_twap(pool_swaps, self.start, end)],
        }

    def measure(self, seconds: float) -> None:
        from v3_polars_spark.v3 import liquidity_timeline

        build = self._frames()
        tr = self.run.tracer
        t_end = time.perf_counter() + seconds
        while True:  # whole passes until ``seconds`` have passed
            for op in OPS:
                with self.run.op(op):
                    with tr.span(f"v3.{op}", "v3"):
                        for df in build[op]():
                            df.write.format("noop").mode("overwrite").save()
            # the known grid-path defect: timed, outside the pass
            self.grid["attempted"] += 1
            t0 = time.perf_counter()
            try:
                with tr.span("v3.liquidity_timeline_grid", "v3"):
                    liquidity_timeline(self.mb, self.grid_frames, by=KEYS).write.format(
                        "noop").mode("overwrite").save()
            except Exception:
                self.grid["failed"] += 1
            self.grid["s"].append(time.perf_counter() - t0)
            if time.perf_counter() >= t_end:
                break

    def check(self) -> None:
        """The sampled pool against pandas; in traced runs also the rows
        out of every op."""
        from pyspark.sql import functions as F

        if self.sess.trace:
            for op, make in self._frames().items():
                self.rows_out[op] = sum(df.count() for df in make())
        e = self.check_pool
        sel = (F.col("chain_name") == e.chain) & (F.col("address") == e.address)
        from v3_polars_spark.v3 import liquidity_distribution_multi, liquidity_timeline

        dist = liquidity_distribution_multi(self.mb, self.as_of).filter(sel).toPandas()
        self._compare("liquidity_distribution_multi", dist, _pandas_dist(e, self.as_of))
        frame = self.fused_frames[FUSED_FRAMES // 2]
        tl = (
            liquidity_timeline(self.mb, self.fused_frames, by=KEYS)
            .filter(sel & (F.col("frame_as_of") == float(frame)))
            .toPandas()
        )
        self._compare("liquidity_timeline_fused", tl, _pandas_dist(e, frame))

    def _compare(self, what, got: pd.DataFrame, want: pd.DataFrame) -> None:
        """Equal as step functions of the tick: a tick whose deltas cancel
        may sum to exactly zero on one side and to rounding noise on the
        other, so rows are compared by the liquidity in force at every
        tick either side lists."""
        ticks = np.union1d(got["tick"].to_numpy(), want["tick"].to_numpy())

        def at(df):
            df = df.sort_values("tick")
            i = np.searchsorted(df["tick"].to_numpy(), ticks, side="right") - 1
            vals = df["liquidity"].to_numpy(dtype=np.float64)
            return np.where(i >= 0, vals[np.maximum(i, 0)], 0.0)

        scale = max(1.0, float(want["liquidity"].abs().max()))
        if len(got) == 0 or not np.allclose(at(got), at(want), rtol=0, atol=1e-9 * scale):
            self.run.wrong_result(f"{what}: pool {self.check_pool.address} differs from pandas")

    def layer_metrics(self, lat, jobs) -> dict:
        m = {"backtest_pass_s": sum(H.median(lat.get(op, [])) for op in OPS)}
        for op in OPS:
            m[f"v3.{op}_s"] = H.median(lat.get(op, []))
            m[f"v3.{op}_rows"] = float(self.rows_out.get(op, 0))
        m["v3.liquidity_timeline_grid_s"] = H.median(self.grid["s"])
        m["v3.liquidity_timeline_grid_failed"] = float(self.grid["failed"])
        return m

    def extra_failures(self) -> tuple[int, int]:
        """(attempted, failed) of the known-defect probe."""
        return self.grid["attempted"], self.grid["failed"]


def _pandas_dist(e: v3data.PoolEvents, as_of: float) -> pd.DataFrame:
    """Liquidity by tick before ``as_of``: signed amounts added at
    tick_lower and removed at tick_upper, prefix-summed over ticks."""
    live = e.mb_as_of < as_of
    d = e.mb_amount[live] * e.mb_sign[live]
    lower = pd.Series(d).groupby(e.mb_lower[live]).sum()
    upper = pd.Series(-d).groupby(e.mb_upper[live]).sum()
    delta = lower.add(upper, fill_value=0.0).sort_index()
    return pd.DataFrame({"tick": delta.index.to_numpy(), "liquidity": delta.cumsum().to_numpy()})

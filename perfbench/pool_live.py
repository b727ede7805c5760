"""pool_live: one closed-loop notebook user over small multi-tenant v3
tables (several pools on two chains).

Each cycle of the op stream (``CYCLE``) runs, with seeded as-ofs and
amounts,
- ``get_price_at`` / ``get_tick_at`` at uniform as-ofs,
- ``swap_in`` quotes: the first after each open at a new uniform as-of,
  the next three at the same as-of (the Pool's single-slot memo answers),
- a pool switch (a new ``Pool(...)``),
- an append: ``update_tables(..., max_block_cap=...)`` from the held-back
  upstream slice, then a ``save_path`` Pool re-open that must see the
  newest landed swap.

Checks: every lookup against a numpy as-of over the generated events; a
sample of quotes against ``Pool.quote_ladder``; every append for the rows
it should land and for the newest swap being visible.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

import harness as H
import v3data

SIZES = dict(pools_per_chain=3, swaps_per_pool=1500, positions_per_pool=150)
# One cycle of the user's session: an append with its re-open, lookups and
# quotes on that pool, a switch to another pool, the same again. The first
# quote after an open draws a new as-of; the next three re-use it, so 3 in
# 4 quotes find the Pool's memo.
HALF = [
    "lookup_price", "quote_new", "lookup_tick", "quote_memo",
    "lookup_price", "quote_memo", "lookup_tick", "quote_memo",
]
CYCLE = ["append"] + HALF + ["pool_open"] + HALF
APPEND_STEPS = 60  # the held-back slice lands in this many appends
QUOTE_CHECKS = 4
# op kinds per cycle: the weights that turn per-kind medians into the time
# of one cycle (pass_s)
PASS_MIX = {k: float(CYCLE.count(k)) for k in dict.fromkeys(CYCLE)}


class _Open:
    """A Pool object as the user holds it, with the as-of horizon of the
    data it was opened on and the as-of of its last quote."""

    def __init__(self, pool, ev, cap):
        self.pool = pool
        self.ev = ev
        self.horizon = cap + 0.9999
        self.last_quote = None


class PoolLive:
    name = "pool_live"
    pass_mix = PASS_MIX

    def __init__(self, seed, work, sess, run):
        self.seed, self.work, self.sess, self.run = seed, work, sess, run
        self.rng = np.random.default_rng(seed + 1)
        self.samples = []
        self.n_app = 0
        self.n_ops = 0
        self.seen_files: set[str] = set()
        self.counters = {"rows_landed": 0, "segments_landed": 0}

    # -- inputs and set-up --------------------------------------------------
    def prepare(self):
        self.man = v3data.generate(os.path.join(self.work, "v3"), self.seed, **SIZES)
        self.data = os.path.join(self.man.root, "landed")
        self.upstream = os.path.join(self.man.root, "upstream")
        self.save = os.path.join(self.man.root, "save")
        self.input_bytes = v3data.dir_bytes(self.man.root)
        self.cap = dict(self.man.landed_block)
        self.step = {
            c: max(1, (self.man.last_block[c] - self.man.landed_block[c]) // APPEND_STEPS)
            for c in self.cap
        }
        self.by_chain = {}
        for ev in self.man.pools:
            self.by_chain.setdefault(ev.chain, []).append(ev)
        for t in v3data.EVENT_TABLES:
            for root, _, files in os.walk(os.path.join(self.data, t)):
                self.seen_files.update(os.path.join(root, f) for f in files)

    def record(self):
        pools = self.man.pools
        return {
            "pools": len(pools),
            "chains": sorted(self.by_chain),
            "rows": self.man.rows,
            "landed_rows": self.man.landed_rows,
            "input_bytes": self.input_bytes,
        }

    def setup(self):
        """One set-up: session, shuffle sizing, first Pool open."""
        from v3_polars_spark.session import tune_shuffle_partitions
        from v3_polars_spark.sources import LocalParquetConnector

        shutil.rmtree(self.save, ignore_errors=True)
        self.samples.clear()  # quotes checked later must use this session
        tr = self.run.tracer
        with tr.span("session.start", "session"):
            spark = self.sess.start()
        self.run.spark = spark
        with tr.span("session.tune_shuffle_partitions", "session"):
            tune_shuffle_partitions(spark, self.input_bytes)
        self.connector = LocalParquetConnector(spark, self.upstream)
        self.cur = self._open(self.man.pools[0])

    def _open(self, ev):
        from v3_polars_spark.v3 import Pool

        tr = self.run.tracer
        with tr.span("v3.Pool", "v3"):
            pool = Pool(self.sess.spark, ev.address, ev.chain, self.data, save_path=self.save)
        if self.run.trace_ops:
            pool.calc_swap_df = tr.wrap(pool.calc_swap_df, "v3.calc_swap_df", "v3")
        return _Open(pool, ev, self.cap[ev.chain])

    def patch(self, tracer):
        """Traced runs: spans around the library calls made inside v3 and
        sources."""
        from v3_polars_spark import tables
        from v3_polars_spark.sources import ingest
        from v3_polars_spark.v3 import pool

        pool.asof_lookup_scalar = tracer.wrap(pool.asof_lookup_scalar, "ops.asof_lookup_scalar", "ops")
        tables.read_table = tracer.wrap(tables.read_table, "tables.read_table", "tables")
        tables.write_segment = tracer.wrap(tables.write_segment, "tables.write_segment", "tables")
        ingest.max_landed_block = tracer.wrap(ingest.max_landed_block, "sources.max_landed_block", "sources")
        p = self.cur.pool
        p.calc_swap_df = tracer.wrap(p.calc_swap_df, "v3.calc_swap_df", "v3")

    # -- the op stream ------------------------------------------------------
    def _as_of(self, o: _Open) -> float:
        lo = o.ev.swap_as_of[0] + 1e-4
        return float(self.rng.uniform(lo, o.horizon))

    def measure(self, seconds: float) -> None:
        """Whole cycles until ``seconds`` have passed (at least one)."""
        t_end = time.perf_counter() + seconds
        while self.n_ops % len(CYCLE) or time.perf_counter() < t_end:
            kind = CYCLE[self.n_ops % len(CYCLE)]
            self.n_ops += 1
            if kind == "append":
                self._append()
            elif kind == "pool_open":
                self._switch()
            elif kind.startswith("lookup"):
                self._lookup(kind == "lookup_price")
            else:
                self._quote(kind == "quote_memo")

    def _lookup(self, price: bool) -> None:
        o, tr = self.cur, self.run.tracer
        x = self._as_of(o)
        kind = "lookup_price" if price else "lookup_tick"
        done = False
        with self.run.op(kind):
            with tr.span(f"v3.get_{kind[7:]}_at", "v3"):
                got = o.pool.get_price_at(x) if price else o.pool.get_tick_at(x)
            done = True
        if not done:
            return
        i = int(np.searchsorted(o.ev.swap_as_of, x, side="left")) - 1
        want = None if i < 0 else (int(o.ev.swap_price[i]) if price else o.ev.swap_tick[i])
        if got != want:
            self.run.wrong_result(f"{kind} {o.ev.chain}/{o.ev.address} at {x}: {got} != {want}")

    def _quote(self, reuse: bool) -> None:
        o, tr = self.cur, self.run.tracer
        as_of = o.last_quote if reuse else self._as_of(o)
        token = o.ev.token1 if self.rng.random() < 0.5 else o.ev.token0
        amount = float(10 ** self.rng.uniform(15, 19.5))
        res = None
        with self.run.op("quote_memo" if reuse else "quote_new"):
            with tr.span("v3.swap_in", "v3"):
                res = o.pool.swap_in({"as_of": as_of, "tokenIn": token, "swapIn": amount})
        o.last_quote = as_of
        if res is not None and not reuse and len(self.samples) < QUOTE_CHECKS:
            self.samples.append((o, as_of, token, amount, res[0]))

    def _switch(self) -> None:
        others = [p for p in self.man.pools if p is not self.cur.ev]
        ev = others[int(self.rng.integers(0, len(others)))]
        with self.run.op("pool_open"):
            self.cur = self._open(ev)

    def _append(self) -> None:
        from v3_polars_spark.sources import update_tables

        chains = sorted(self.by_chain)
        chain = chains[self.n_app % len(chains)]
        self.n_app += 1
        new_cap = min(self.man.last_block[chain], self.cap[chain] + self.step[chain])
        old_cap = self.cap[chain]
        # the newest swap that this append lands on the chain
        newest = max(
            self.by_chain[chain],
            key=lambda ev: ev.swap_as_of[np.searchsorted(ev.swap_block, new_cap, side="right") - 1],
        )
        k = int(np.searchsorted(newest.swap_block, new_cap, side="right")) - 1
        tr = self.run.tracer
        done = False
        with self.run.op("append"):
            with tr.span("sources.update_tables", "sources"):
                segs = update_tables(
                    self.sess.spark, self.connector, self.data, chain,
                    tables=v3data.EVENT_TABLES, max_block_cap=new_cap,
                )
            self.cap[chain] = new_cap
            self.cur = self._open(newest)
            with tr.span("v3.get_price_at", "v3"):
                got = self.cur.pool.get_price_at(float(newest.swap_as_of[k]) + 5e-5)
            done = True
        if not done:
            return
        if got != int(newest.swap_price[k]):
            self.run.wrong_result(f"append {chain} to {new_cap}: newest swap not visible")
        self._check_landed(chain, old_cap, new_cap, segs)

    def _check_landed(self, chain, old_cap, new_cap, segs) -> None:
        for t in v3data.EVENT_TABLES:
            col = "swap_block" if t == "pool_swap_events" else "mb_block"
            want = sum(
                int(((getattr(ev, col) > old_cap) & (getattr(ev, col) <= new_cap)).sum())
                for ev in self.by_chain[chain]
            )
            d = os.path.join(self.data, t, f"chain_name={chain}")
            new = [
                os.path.join(d, f) for f in os.listdir(d)
                if f.endswith(".parquet") and os.path.join(d, f) not in self.seen_files
            ]
            self.seen_files.update(new)
            got = sum(pq.ParquetFile(f).metadata.num_rows for f in new)
            self.counters["rows_landed"] += got
            self.counters["segments_landed"] += segs.get(t, 0)
            if got != want:
                self.run.wrong_result(f"append {t} {chain}: landed {got} rows, want {want}")

    # -- after the window ---------------------------------------------------
    def check(self) -> None:
        """Sampled quotes against the batched quote path."""
        spark = self.sess.spark
        for o, as_of, token, amount, amt_out in self.samples:
            amounts = spark.createDataFrame([(amount,)], "amount_in double")
            row = o.pool.quote_ladder(as_of, token, amounts).collect()[0]
            if row["amt_out"] is None or abs(row["amt_out"] - amt_out) > 1e-9 * abs(amt_out):
                self.run.wrong_result(
                    f"swap_in {o.ev.address} at {as_of}: {amt_out} vs quote_ladder {row['amt_out']}"
                )

    def layer_metrics(self, lat, jobs) -> dict:
        """Per-layer metrics of this workload (see run.py for the rest)."""
        lookups = lat.get("lookup_price", []) + lat.get("lookup_tick", [])
        quotes = lat.get("quote_memo", []) + lat.get("quote_new", [])
        spans = self.run.tracer.spans

        def span_ms(name):
            return H.median([s[3] - s[2] for s in spans if s[0] == name and s[5] is not None]) * 1e3

        lk_jobs = [j for k in ("lookup_price", "lookup_tick") for j, _, _ in jobs.get(k, [])]
        q_jobs = [j for k in ("quote_memo", "quote_new") for j, _, _ in jobs.get(k, [])]
        return {
            "lookup_p50_ms": H.median(lookups) * 1e3,
            "lookup_p90_ms": H.pctl(lookups, 90) * 1e3,
            "quote_p50_ms": H.median(quotes) * 1e3,
            "quote_p90_ms": H.pctl(quotes, 90) * 1e3,
            "pool_open_p50_ms": H.median(lat.get("pool_open", [])) * 1e3,
            "append_visible_p50_ms": H.median(lat.get("append", [])) * 1e3,
            "v3.get_price_at_ms": span_ms("v3.get_price_at"),
            "v3.get_tick_at_ms": span_ms("v3.get_tick_at"),
            "v3.swap_in_ms": span_ms("v3.swap_in"),
            "v3.calc_swap_df_ms": span_ms("v3.calc_swap_df"),
            "v3.pool_open_ms": span_ms("v3.Pool"),
            "sources.update_tables_ms": span_ms("sources.update_tables"),
            "spark.jobs_per_lookup": sum(lk_jobs) / len(lk_jobs) if lk_jobs else 0.0,
            "v3.swap_in_zero_job_ratio": (
                sum(1 for j in q_jobs if j == 0) / len(q_jobs) if q_jobs else 0.0
            ),
            "tables.rows_landed": float(self.counters["rows_landed"]),
            "tables.segments_landed": float(self.counters["segments_landed"]),
        }

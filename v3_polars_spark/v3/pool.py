"""Pool facade — the engine's analog of the reference's ``v3Pool``
(reference v3/state.py:8-331).

Like the reference, the scalar API (``get_tick_at``, ``get_price_at``,
``calc_swap_df``, ``swap_in``) is served from a per-pool driver snapshot
of the pool's events: one Arrow collect of the tenant-filtered swaps and
one of the mint/burns, taken concurrently when the Pool opens (or on
the first scalar call with ``pull=False``). After that, as-of lookups
and swap quotes run no Spark job. Driver memory is bounded by one
pool's events; the multi-pool composites (``liquidity_distribution_multi``,
``quote_ladder_multi``, ``liquidity_timeline``) are the scale path.

Other design points:
- the Spark frames ``swaps`` / ``mb`` stay available (lazily cached) for
  the series API and as the reference the snapshot math is tested against;
- every ordered op has explicit (block_number, transaction_index, log_index)
  determinism keys;
- the swap precompute keeps the reference's single-slot memo keyed by exact
  ``as_of`` (v3/state.py:176-195): repeat swaps at one time are O(1).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables as T
from ..ops import asof_lookup_scalar
from ..session import run_concurrently
from . import swap_math as sm
from .liquidity import liquidity_distribution
from .series import bn_at_date as _bn_at_date
from .series import price_series as _price_series
from .swap import InRangeValues, in_range_values, quote_ladder, swap_in

_SWAP_COLS = ["as_of", "log_index", "block_number", "tick", "sqrtPriceX96"]
_MB_COLS = ["amount", "type_of_event", "tick_lower", "tick_upper", "as_of", "block_number"]
# the columns of ``swap_frame``: the rows ``calc_swap_df`` returns
_SWAP_ROW_COLS = ("liquidity", "tick_a", "tick_b", "p_a", "p_b", "yInTick", "xInTick")
_SWAP_ROW_SCHEMA = (
    "liquidity double, tick_a long, tick_b long, p_a double, p_b double, "
    "yInTick double, xInTick double"
)


class UninitializedPoolError(AssertionError):
    """Raised by point-in-time getters when ``revert_on_uninitialized`` is
    set and the pool has no state at ``as_of`` (reference state.py:226,241
    uses a bare assert; subclassing AssertionError keeps except-clauses
    written against the reference's behavior working)."""


def _tick_sums(ticks: np.ndarray, deltas: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per-tick sums of ``deltas``, dropping ticks that sum to 0."""
    t, inv = np.unique(ticks, return_inverse=True)
    s = np.bincount(inv, weights=deltas, minlength=len(t))
    keep = s != 0
    return t[keep], s[keep]


class _Snapshot:
    """One pool's events on the driver (the reference v3Pool's in-memory
    state, state.py:97-106): swaps sorted by ``(as_of, log_index)`` for
    as-of lookups, mint/burn columns for the liquidity distribution."""

    def __init__(self, swaps: pa.Table, mb: pa.Table):
        bounds = [pc.max(swaps["block_number"]).as_py(), pc.max(mb["block_number"]).as_py()]
        # a pool can have one table empty (initialized but never traded,
        # or never minted): the completeness watermark is then undefined —
        # keep the -1 sentinel instead of min(None, int)
        self.max_supported = min(bounds) if None not in bounds else -1

        # NULL as_of never satisfies the strict ``as_of < X`` filter
        swaps = swaps.filter(pc.is_valid(swaps["as_of"]))
        self.swaps = swaps.sort_by(
            [("as_of", "ascending"), ("log_index", "ascending")]
        ).combine_chunks()
        self.swap_as_of = self.swaps["as_of"].to_numpy()

        # mint/burns as signed tick deltas, one (as_of, tick, delta) triple
        # of arrays per side: +amount*type at tick_lower, minus at
        # tick_upper. Rows with a NULL as_of, delta or tick add nothing
        # (Spark's sum skips NULL; an all-NULL group sums to NULL and is
        # dropped like a zero sum).
        mb = mb.append_column("delta", pc.multiply(mb["amount"], mb["type_of_event"]))
        mb = mb.filter(pc.and_(pc.is_valid(mb["as_of"]), pc.is_valid(mb["delta"])))
        self.sides = []
        for col, sign in (("tick_lower", 1.0), ("tick_upper", -1.0)):
            side = mb.filter(pc.is_valid(mb[col]))
            self.sides.append(
                (side["as_of"].to_numpy(), side[col].to_numpy(), sign * side["delta"].to_numpy())
            )

    def value_at(self, as_of: float, column: str):
        """``column`` of the last swap strictly before ``as_of`` (the
        highest ``log_index`` among rows sharing one ``as_of``), or None."""
        i = int(np.searchsorted(self.swap_as_of, float(as_of), side="left")) - 1
        return self.swaps[column][i].as_py() if i >= 0 else None

    def swap_rows(self, as_of: float, tick_spacing: int) -> list[dict]:
        """``swap_frame(liquidity_distribution(mb, as_of), tick_spacing)``
        computed on the driver: strict ``<`` on as_of; per-tick lower and
        upper sums with zero sums dropped; outer merge on tick; prefix sum
        in tick order; keep ``liquidity > 0``; ``tick_b`` is the next kept
        tick, the last capped at ``(MAX_TICK // ts) * ts``."""
        x = float(as_of)
        (t_lo, s_lo), (t_up, s_up) = (
            _tick_sums(ticks[at < x], deltas[at < x]) for at, ticks, deltas in self.sides
        )
        ticks = np.union1d(t_lo, t_up)
        lower, upper = np.zeros(len(ticks)), np.zeros(len(ticks))
        lower[np.searchsorted(ticks, t_lo)] = s_lo
        upper[np.searchsorted(ticks, t_up)] = s_up
        liq = np.cumsum(lower + upper)

        kept = liq > 0
        tick_a, liq = ticks[kept], liq[kept]
        cap = (sm.MAX_TICK // tick_spacing) * tick_spacing
        tick_b = np.append(tick_a[1:], cap)[: len(tick_a)]
        p_a = np.power(1.0001, tick_a / 2.0)
        p_b = np.power(1.0001, tick_b / 2.0)
        y_in = liq * (p_b - p_a)
        x_in = liq * ((p_b - p_a) / (p_b * p_a))
        cols = (liq, tick_a, tick_b, p_a, p_b, y_in, x_in)
        return [dict(zip(_SWAP_ROW_COLS, r)) for r in zip(*(c.tolist() for c in cols))]


class Pool:
    MAX_TICK = sm.MAX_TICK
    Q96 = sm.Q96

    def __init__(
        self,
        spark: SparkSession,
        pool: str,
        chain: str,
        data_path: str,
        pull: bool = True,
        save_path: str | None = None,
        refresh: bool = False,
    ):
        """``pull=True`` takes the driver snapshot now (and sets
        ``max_supported``); ``pull=False`` defers it to the first scalar
        call. The snapshot is never refreshed: re-open the Pool to see
        events that landed after it was taken.
        The factory collect and the snapshot's two collects run
        concurrently (a pool missing from the factory raises after them).

        ``save_path`` is the cross-session analog of the reference's
        ``readFromMemoryOrDisk(save=True)`` (state.py:114-174): the
        preprocessed (tenant-filtered, as_of-keyed) swap / mint-burn
        frames are persisted as parquet under ``save_path/<table>/`` on
        first access and read straight back on later Pool inits —
        skipping the raw-table scan + filter entirely.

        Staleness: unlike the reference's per-session in-memory cache
        (which can never outlive its data), a persisted frame CAN go
        stale when new events land in the raw tables. Each save carries
        a fingerprint of its chain partition's file listing
        (fsutil.dir_fingerprint — names/sizes/mtimes, no data scan); a
        later init whose listing differs rebuilds, and appends to other
        chains do not make it stale.
        ``refresh=True`` forces a rebuild regardless. All marker/
        fingerprint IO goes through the Hadoop FS API, so remote
        (hdfs://, s3a://) save_paths behave the same as local ones."""
        self.spark = spark
        self.chain = chain
        self.pool = pool.lower()  # normalize checksummed addresses (state.py:45)
        self.data_path = data_path
        self.save_path = save_path
        self.refresh = refresh
        self._cache: dict = {"as_of": None}

        self._sources: dict[str, DataFrame] = {}
        self._swaps: DataFrame | None = None
        self._mb: DataFrame | None = None
        self._snap: _Snapshot | None = None
        self.max_supported = -1

        # initializePoolFromFactory (reference pool_helpers.py:10-34), run
        # concurrently with the snapshot collects
        factory = T.tenant_filter(
            T.read_table(spark, data_path, "factory_pool_created"), chain
        ).filter(F.col("pool") == self.pool)
        rows, *events = run_concurrently(
            spark,
            factory.select("tickSpacing", "fee", "token0", "token1").collect,
            *(self._event_collects() if pull else []),
        )
        assert len(rows) != 0, "Pool missing from factory"
        assert len(rows) == 1, "Multiple pools at that address"
        self.ts = int(rows[0]["tickSpacing"])
        self.fee = int(rows[0]["fee"])
        self.token0 = rows[0]["token0"]
        self.token1 = rows[0]["token1"]
        if pull:
            self._snap = _Snapshot(*events)
            self.max_supported = self._snap.max_supported

    # readFromMemoryOrDisk analogs (reference state.py:114-174) ------------
    def _saved_or(self, table: str, build) -> DataFrame:
        """Return the preprocessed frame from ``save_path`` if previously
        persisted AND still current, else (re)build and persist it.
        The location is namespaced by (chain, pool) — the frames are
        tenant-FILTERED, so a table-only key would silently serve one
        pool's events as another's when two Pools share a save_path.

        Currency check: the save carries ``_RAW_FINGERPRINT``, a listing
        fingerprint of the SOURCE table's ``chain_name=<chain>`` partition
        (of the whole directory for a flat layout). If it gained/changed
        files since the save, the cache rebuilds instead of silently
        serving pre-append state forever. Spark's file index
        ignores underscore-prefixed files, so the extra marker never
        pollutes the parquet read."""
        import posixpath

        from .. import fsutil

        if self.save_path is None:
            return build()
        loc = posixpath.join(self.save_path, self.chain, self.pool, table)
        raw_dir = posixpath.join(self.data_path, table)
        part_dir = posixpath.join(raw_dir, f"chain_name={self.chain}")
        src = part_dir if fsutil.exists(self.spark, part_dir) else raw_dir
        current = fsutil.dir_fingerprint(self.spark, src)
        saved = fsutil.read_text(self.spark, posixpath.join(loc, "_RAW_FINGERPRINT"))
        fresh = (
            not self.refresh
            and saved == current
            and fsutil.exists(self.spark, posixpath.join(loc, "_SUCCESS"))
        )
        built = build()
        if not fresh:
            # Drop session-level caches for both paths: the raw dir's
            # file-status listing may predate the append that made the
            # save stale, and an earlier Pool's .cache() of the save
            # location would otherwise serve the pre-overwrite rows
            # (CacheManager matches by plan, i.e. by path).
            self.spark.catalog.refreshByPath(raw_dir)
            self.spark.catalog.refreshByPath(loc)
            built.write.mode("overwrite").parquet(loc)
            # Atomic marker: a rebuild that dies between the overwrite
            # and the marker leaves no/old fingerprint -> reads stale ->
            # rebuilt next init. save_path still assumes one writer at a
            # time (concurrent overwrites of the *parquet* can interleave);
            # the marker just guarantees a torn rebuild is never trusted.
            fsutil.write_text_atomic(
                self.spark, posixpath.join(loc, "_RAW_FINGERPRINT"), current
            )
            self.spark.catalog.refreshByPath(loc)
        # the built frame's schema comes from the registry: reading the save
        # back with it runs no schema-inference job
        return self.spark.read.schema(built.schema).parquet(loc)

    def _build(self, table: str) -> DataFrame:
        """The tenant-filtered, as_of-keyed frame of one event table."""
        df = T.tenant_filter(
            T.read_table(self.spark, self.data_path, table), self.chain, self.pool
        )
        if table == "pool_mint_burn_events":
            df = df.withColumns(
                {
                    "amount": F.col("amount").cast("double"),
                    "tick_lower": F.col("tick_lower").cast("long"),
                    "tick_upper": F.col("tick_upper").cast("long"),
                    "type_of_event": F.col("type_of_event").cast("double"),
                }
            )
        return T.with_as_of(df)

    def _source(self, table: str) -> DataFrame:
        """The (uncached) preprocessed frame of ``table``, resolved through
        ``save_path`` once per Pool."""
        if table not in self._sources:
            self._sources[table] = self._saved_or(table, lambda: self._build(table))
        return self._sources[table]

    @property
    def swaps(self) -> DataFrame:
        if self._swaps is None:
            self._swaps = self._source("pool_swap_events").cache()
        return self._swaps

    @property
    def mb(self) -> DataFrame:
        if self._mb is None:
            self._mb = self._source("pool_mint_burn_events").cache()
        return self._mb

    def _event_collects(self) -> list:
        """The snapshot's swap and mint/burn collects, as thunks."""
        return [
            lambda: self._source("pool_swap_events").select(*_SWAP_COLS).toArrow(),
            lambda: self._source("pool_mint_burn_events").select(*_MB_COLS).toArrow(),
        ]

    @property
    def snapshot(self) -> _Snapshot:
        """The driver snapshot the scalar API reads, taken on first use."""
        if self._snap is None:
            self._snap = _Snapshot(*run_concurrently(self.spark, *self._event_collects()))
        return self._snap

    # point-in-time getters (reference state.py:197-244) ------------------
    def get_property_at(self, as_of: float, column: str):
        """Value of a swap column in force just before ``as_of``; columns
        outside the snapshot are looked up on the Spark frame."""
        if column in _SWAP_COLS:
            return self.snapshot.value_at(as_of, column)
        return asof_lookup_scalar(self.swaps, "as_of", float(as_of), column)

    def get_tick_at(
        self, as_of: float, revert_on_uninitialized: bool = False
    ) -> int | None:
        """reference state.py:216-229: None (or raise) before the first swap."""
        v = self.get_property_at(as_of, "tick")
        if v is None and revert_on_uninitialized:
            raise UninitializedPoolError("Tick is not initialized")
        return int(v) if v is not None else None

    def get_price_at(
        self, as_of: float, revert_on_uninitialized: bool = False
    ) -> int | None:
        """reference state.py:231-244: None (or raise) before the first swap."""
        v = self.get_property_at(as_of, "sqrtPriceX96")
        if v is None and revert_on_uninitialized:
            raise UninitializedPoolError("Price is not initialized")
        return int(v) if v is not None else None

    # liquidity + swap precompute ------------------------------------------
    def create_liq(self, as_of: float) -> DataFrame:
        return liquidity_distribution(self.mb, as_of)

    def calc_swap_df(self, as_of: float) -> tuple[list[dict], InRangeValues]:
        """createSwapDF with the single-slot memo (reference state.py:176-195),
        computed from the snapshot: the rows of
        ``swap_frame(create_liq(as_of), ts)`` with no Spark job."""
        if self._cache.get("as_of") == as_of:
            return self._cache["swap_rows"], self._cache["irv"]
        price = self.get_price_at(as_of)
        assert price is not None, "Pool not initialized"
        rows = self.snapshot.swap_rows(as_of, self.ts)
        irv = in_range_values(rows, float(price), self.ts)
        self._cache.update({"as_of": as_of, "swap_rows": rows, "irv": irv})
        return rows, irv

    def swap_in(self, calldata: dict):
        """reference swap.py:41-212 / state.py:278-299. calldata keys:
        as_of, tokenIn, swapIn, fees (findMax is a documented no-op)."""
        as_of = calldata["as_of"]
        token_in = calldata["tokenIn"]
        amount_in = calldata["swapIn"]
        if isinstance(amount_in, str):
            amount_in = float(amount_in)
        fees = bool(calldata.get("fees", False))
        if self.max_supported != -1 and self.max_supported < as_of:
            print("Mint/burn and swap data are not updated at this date")
        rows, irv = self.calc_swap_df(as_of)
        return swap_in(
            rows,
            irv,
            token_in_is_token1=(token_in.lower() == self.token1),
            amount_in=float(amount_in),
            fee_ppm=self.fee,
            fees=fees,
        )

    def quote_ladder(
        self,
        as_of: float,
        token_in: str,
        amounts: DataFrame,
        amount_col: str = "amount_in",
        fees: bool = False,
    ) -> DataFrame:
        """Batched swapIn: quote every amount in ``amounts`` at one as_of in
        a single distributed plan (forward as-of join on cumulative depth).
        The depth side is the ``calc_swap_df`` rows themselves, so results
        are bit-identical to looping swap_in; ``fees=True`` adds the
        per-tick fee attribution array (scalar fee_dict parity); see
        swap.quote_ladder."""
        rows, irv = self.calc_swap_df(as_of)
        sdf = self.spark.createDataFrame(
            [tuple(r[c] for c in _SWAP_ROW_COLS) for r in rows], _SWAP_ROW_SCHEMA
        )
        return quote_ladder(
            sdf,
            irv,
            token_in_is_token1=(token_in.lower() == self.token1),
            amounts=amounts,
            fee_ppm=self.fee,
            amount_col=amount_col,
            fees=fees,
        )

    # series ----------------------------------------------------------------
    def get_price_series(self, start_time, frequency: str = "6h", gas: bool = False) -> DataFrame:
        chain_swaps = T.tenant_filter(
            T.read_table(self.spark, self.data_path, "pool_swap_events"), self.chain
        )
        return _price_series(chain_swaps, self.swaps, start_time, frequency, gas)

    def get_bn_at_date(self, dt) -> int | None:
        return _bn_at_date(self.swaps, dt)

"""Pool's driver snapshot against the Spark paths it replaces, on small
v3 event tables built here (three tenants: the pool under test, another
pool on the same chain, and the same address on a second chain).

The Spark functions (``asof_lookup``, ``liquidity_distribution``,
``swap_frame``, ``quote_ladder``) are the reference: the snapshot must
give the same lookups, the same depth rows and bit-identical quotes,
without running a Spark job after the Pool is open."""

import math
import os

import pytest
from pyspark.sql import functions as F

from v3_polars_spark import tables as T

POOL = "0x" + "ab" * 20
OTHER = "0x" + "cd" * 20
TOKEN0, TOKEN1 = "0x" + "01" * 20, "0x" + "02" * 20
E20 = "100000000000000000000"


def _price(tick: int) -> str:
    return str(int(math.sqrt(1.0001**tick) * 2**96))


# (chain, address, block, tx, log_index, amount, tick_lower, tick_upper, type)
MINT_BURNS = [
    ("ethereum", POOL, 100, 0, 0, E20, -100, 100, 1),
    ("ethereum", POOL, 101, 1, 0, "50000000000000000000", -50, 200, 1),
    ("ethereum", POOL, 102, 0, 0, "30000000000000000000", 20, 60, 1),
    ("ethereum", POOL, 103, 0, 0, "30000000000000000000", 20, 60, -1),  # nets to 0
    ("ethereum", POOL, 104, 0, 0, None, -30, 30, 1),  # NULL amount
    ("ethereum", POOL, 105, 0, 0, "20000000000000000000", -200, -100, 1),
    ("ethereum", POOL, 107, 0, 0, "10000000000000000000", -100, 100, -1),
    ("ethereum", POOL, 110, 0, 0, "40000000000000000000", 0, 40, 1),  # at AS_OF_EVENT
    ("ethereum", POOL, 120, 0, 0, "70000000000000000000", -60, 80, 1),  # after FRAMES
    ("ethereum", OTHER, 100, 0, 0, E20, -10, 10, 1),
    ("arbitrum", POOL, 100, 0, 0, E20, -20, 20, 1),
]
# (chain, address, block, tx, log_index, tick); the pair at (106, 2) shares
# one as_of, written highest log_index first
SWAPS = [
    ("ethereum", POOL, 100, 5, 1, 0),
    ("ethereum", POOL, 102, 3, 2, 5),
    ("ethereum", POOL, 106, 2, 7, 12),
    ("ethereum", POOL, 106, 2, 5, 8),
    ("ethereum", POOL, 108, 0, 0, -20),
    ("ethereum", POOL, 115, 1, 0, 3),
    ("ethereum", OTHER, 103, 0, 0, 1),
    ("arbitrum", POOL, 101, 0, 0, 7),
]
FIRST_SWAP = 100.0005
TIE_AS_OF = 106.0002
AS_OF_EVENT = 110.0
LOOKUP_AS_OFS = [99.0, FIRST_SWAP, 100.001, 104.0, TIE_AS_OF, 106.0003, 109.0, 200.0]
QUOTE_AS_OFS = [101.5, 102.5, 103.5, 104.5, 106.5, 109.0, AS_OF_EVENT, 110.5, 125.0]
FRAMES = [100.5, 102.5, 104.0, 106.0, AS_OF_EVENT, 110.5, 115.0]


def _rows(table: str, values: dict) -> dict:
    return {**{f.name: None for f in T.SCHEMAS[table].fields}, **values}


def write_v3_tables(spark, root: str) -> None:
    factory = [
        _rows("factory_pool_created", {
            "chain_name": c, "pool": a, "tickSpacing": "10", "fee": "3000",
            "token0": TOKEN0, "token1": TOKEN1, "block_number": 1, "log_index": 0,
        })
        for c, a in [("ethereum", POOL), ("ethereum", OTHER), ("arbitrum", POOL)]
    ]
    mb = [
        _rows("pool_mint_burn_events", {
            "chain_name": c, "address": a, "block_number": b, "transaction_index": tx,
            "log_index": li, "amount": amt, "tick_lower": str(lo), "tick_upper": str(hi),
            "type_of_event": k,
        })
        for c, a, b, tx, li, amt, lo, hi, k in MINT_BURNS
    ]
    swaps = [swap_row(*s) for s in SWAPS]
    for table, rows in [
        ("factory_pool_created", factory),
        ("pool_mint_burn_events", mb),
        ("pool_swap_events", swaps),
    ]:
        spark.createDataFrame(rows, T.SCHEMAS[table]).coalesce(1).write.parquet(
            os.path.join(root, table)
        )


def swap_row(chain, address, block, tx, log_index, tick) -> dict:
    return _rows("pool_swap_events", {
        "chain_name": chain, "address": address, "block_number": block,
        "transaction_index": tx, "log_index": log_index, "tick": str(tick),
        "sqrtPriceX96": _price(tick),
    })


@pytest.fixture(scope="module")
def data(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("v3"))
    write_v3_tables(spark, root)
    return root


@pytest.fixture(scope="module")
def pool(spark, data):
    from v3_polars_spark.v3 import Pool

    return Pool(spark, POOL, "ethereum", data)


def _spark_last_swap(pool, as_of):
    """The swap in force strictly before ``as_of`` on the Spark frame,
    ties on as_of broken by the highest log_index."""
    rows = (
        pool.swaps.filter(F.col("as_of") < as_of)
        .orderBy(F.col("as_of").desc(), F.col("log_index").desc())
        .limit(1)
        .collect()
    )
    return rows[0] if rows else None


def test_getters_match_spark_asof_lookup(pool):
    from v3_polars_spark.ops import asof_lookup_scalar

    for x in LOOKUP_AS_OFS:
        want = _spark_last_swap(pool, x)
        want_tick = int(want["tick"]) if want else None
        want_price = int(want["sqrtPriceX96"]) if want else None
        assert pool.get_tick_at(x) == want_tick, x
        assert pool.get_price_at(x) == want_price, x
        if x != 106.0003:  # asof_lookup leaves ties on as_of unordered
            v = asof_lookup_scalar(pool.swaps, "as_of", x, "tick")
            assert pool.get_tick_at(x) == (int(v) if v is not None else None), x
    # the tie goes to the highest log_index, not to file order
    assert pool.get_tick_at(106.0003) == 12
    assert pool.get_tick_at(TIE_AS_OF) == 5
    # tenants stay apart: the other pool and chain swapped in between
    assert pool.get_tick_at(101.5) == 0


def test_getters_before_first_swap(pool):
    from v3_polars_spark.v3.pool import UninitializedPoolError

    for x in (99.0, FIRST_SWAP):
        assert pool.get_price_at(x) is None
        assert pool.get_tick_at(x) is None
        with pytest.raises(UninitializedPoolError):
            pool.get_price_at(x, revert_on_uninitialized=True)
        with pytest.raises(UninitializedPoolError):
            pool.get_tick_at(x, revert_on_uninitialized=True)
    with pytest.raises(AssertionError, match="not initialized"):
        pool.calc_swap_df(99.0)


def test_max_supported_from_snapshot(pool):
    # min(max swap block, max mint/burn block) of this tenant only
    assert pool.max_supported == 115


def test_calc_swap_df_matches_spark_swap_frame(pool):
    from v3_polars_spark.v3 import liquidity_distribution, swap_frame

    for x in QUOTE_AS_OFS:
        got, _ = pool.calc_swap_df(x)
        want = [
            r.asDict()
            for r in swap_frame(liquidity_distribution(pool.mb, x), pool.ts)
            .orderBy("tick_a")
            .collect()
        ]
        assert [r["tick_a"] for r in got] == [r["tick_a"] for r in want], x
        for g, w in zip(got, want):
            assert list(g) == list(w)
            assert g["tick_b"] == w["tick_b"]
            for k in ("liquidity", "p_a", "p_b", "yInTick", "xInTick"):
                assert g[k] == pytest.approx(w[k], rel=1e-12), (x, g["tick_a"], k)
    ticks = {x: {r["tick_a"] for r in pool.calc_swap_df(x)[0]} for x in QUOTE_AS_OFS}
    assert {20, 60} <= ticks[102.5] and not {20, 60} & ticks[103.5]  # netted to 0
    assert not {-30, 30} & ticks[104.5]  # the NULL-amount mint adds nothing
    assert 40 not in ticks[AS_OF_EVENT] and 40 in ticks[110.5]  # strict <


def test_swap_in_matches_quote_ladder_bit_exact(pool, spark):
    amounts = [1e15, 5e18, 1e30]  # branch A, branch B, insufficient depth
    adf = spark.createDataFrame(list(enumerate(amounts)), ["quote_id", "amount_in"])
    branches = set()
    for as_of in (101.5, 125.0):
        for token_in in (TOKEN0, TOKEN1):
            got = {
                r["quote_id"]: r
                for r in pool.quote_ladder(as_of, token_in, adf).collect()
            }
            for i, a in enumerate(amounts):
                r = got[i]
                try:
                    want_out, (want_spl, _, _) = pool.swap_in(
                        {"as_of": as_of, "tokenIn": token_in, "swapIn": a}
                    )
                except AssertionError:
                    assert not r["sufficient"] and r["amt_out"] is None
                    branches.add("insufficient")
                    continue
                assert r["sufficient"]
                assert r["amt_out"] == want_out, (as_of, token_in, a)
                assert r["sqrt_price_last"] == want_spl
                branches.add(r["branch"])
    assert branches == {"A", "B", "insufficient"}


def test_no_spark_job_after_open(spark, data, count_jobs):
    from v3_polars_spark.v3 import Pool

    pool = Pool(spark, POOL, "ethereum", data)

    def scalar_calls():
        for x in LOOKUP_AS_OFS:
            pool.get_price_at(x)
            pool.get_tick_at(x)
        for x in QUOTE_AS_OFS:
            pool.swap_in({"as_of": x, "tokenIn": TOKEN0, "swapIn": 1e15})
            pool.swap_in({"as_of": x, "tokenIn": TOKEN1, "swapIn": 5e18})

    assert count_jobs("pool-snapshot-scalar", scalar_calls) == []
    # the counter does see jobs: a Spark-side call in its own group
    assert count_jobs("pool-snapshot-spark", lambda: pool.create_liq(109.0).collect())


def test_pull_false_defers_snapshot(spark, data):
    from v3_polars_spark.v3 import Pool

    pool = Pool(spark, POOL, "ethereum", data, pull=False)
    assert pool.max_supported == -1
    assert pool.get_tick_at(109.0) == -20


def test_save_path_reopen_sees_appended_swap(spark, data, tmp_path):
    import shutil

    from v3_polars_spark.v3 import Pool

    raw = str(tmp_path / "data")
    shutil.copytree(data, raw)
    save = str(tmp_path / "save")
    p1 = Pool(spark, POOL, "ethereum", raw, save_path=save)
    assert p1.get_tick_at(200.0) == 3

    spark.createDataFrame(
        [swap_row("ethereum", POOL, 130, 0, 0, -7)], T.SCHEMAS["pool_swap_events"]
    ).write.mode("append").parquet(os.path.join(raw, "pool_swap_events"))

    p2 = Pool(spark, POOL, "ethereum", raw, save_path=save)
    assert p2.get_tick_at(200.0) == -7
    assert p2.get_price_at(200.0) == int(_price(-7))
    assert p2.max_supported == 120
    assert p1.get_tick_at(200.0) == 3  # an open Pool keeps its snapshot


@pytest.mark.parametrize("wide_threshold", [64, 0])  # fused plan / grid plan
def test_liquidity_timeline_event_after_last_frame(pool, wide_threshold):
    """Both timeline plans agree with per-frame liquidity_distribution when
    events lie at a frame and after the last frame (the grid plan's
    first-covering-frame lookup must return NULL there, not raise)."""
    from v3_polars_spark.v3 import liquidity_distribution, liquidity_timeline

    assert max(r[2] for r in MINT_BURNS) > FRAMES[-1]
    tl = liquidity_timeline(pool.mb, FRAMES, wide_threshold=wide_threshold)
    got = {(r["frame_as_of"], r["tick"]): r["liquidity"] for r in tl.collect()}
    for f in FRAMES:
        want = {
            r["tick"]: r["liquidity"]
            for r in liquidity_distribution(pool.mb, as_of=f).collect()
        }
        assert want
        for tick, liq in want.items():
            assert got[(f, tick)] == pytest.approx(liq, rel=1e-12), (f, tick)

"""Golden-replay ingest tests — the reference's own test strategy
(test_helpers.py:29-68: re-pull capped history, compare sorted frames to
the checked-in examples), re-expressed for the Spark engine.

The upstream is a small two-chain v3 fixture built here: string big
ints, a hive ``chain_name=<chain>`` layout, and one pool address shared
by both chains. Its ethereum side is shaped like the reference's
examples up to the 1000th mainnet swap: 1001 swaps, the last one at
``CAP``, and a pool whose liquidity spans 123 ticks."""

import datetime
import os
import shutil
import warnings

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from v3_polars_spark import tables as T
from v3_polars_spark.sources import (
    LocalParquetConnector,
    max_landed_block,
    ovm1_rewrite,
    update_table,
    update_tables,
)
from v3_polars_spark.sources.ingest import OVM1_CHAIN, ovm1_replayed

POOL = "0x1d42064fc4beb5f8aaf85f4617ae8b3b5b8bd801"
OTHER = "0x" + "cd" * 20
CAP = 12376625  # "the 1000th swap on mainnet" (reference data_update.py:136-137)
CHAINS = {  # chain: (first block, last block, seconds per block)
    "ethereum": (12369739, CAP, 12),
    "arbitrum": (2_000_000, 2_000_600, 1),
}
ETH_MID, ARB_MID = 12373000, 2_000_300  # where the partial landing stops
EVENT_TABLES = ["pool_swap_events", "pool_mint_burn_events"]
T0 = datetime.datetime(2021, 5, 4, 19, 52, 36, tzinfo=datetime.timezone.utc)
# (tick_lower, tick_upper, amount, type_of_event) of POOL on ethereum:
# 61 nested positions plus one sharing tick -60 make 123 ticks; the
# outermost amount is the liquidity at the lowest tick
POSITIONS = [
    (-60 * (k + 1), 60 * (k + 1), str(10**18 * (k + 1)), 1) for k in range(60)
] + [
    (-3660, 3660, "216157433393063170000", 1),
    (-60, 4200, "5000000000000000000", 1),
    (-300, 300, "2000000000000000000", -1),  # a partial burn of k=4
]


def _row(table: str, chain: str, block: int, i: int, **cols) -> dict:
    first, _, secs = CHAINS[chain]
    ts = T0 + datetime.timedelta(seconds=(block - first) * secs)
    row = {f.name: None for f in T.SCHEMAS[table].fields}
    row.update(
        chain_name=chain, block_number=block, block_timestamp=ts,
        transaction_hash=f"0x{chain[:3]}{table[:8]}{i:08x}", log_index=i % 7,
    )
    if table != "factory_pool_created":
        row.update(transaction_index=i % 50, from_address="0x" + "ee" * 20)
    row.update(cols)
    return row


def _swap(chain: str, block: int, i: int, address: str) -> dict:
    tick = (i * 37) % 2000 - 1000
    return _row(
        "pool_swap_events", chain, block, i, address=address, tick=str(tick),
        sqrtPriceX96=str(int(1.0001 ** (tick / 2) * 2**96)),
        amount0=str(10**20 + 7919 * i), amount1=str(-(10**21) - 104729 * i),
        liquidity=str(3 * 10**21 + i),
    )


def _upstream_rows() -> dict[str, list[dict]]:
    rows = {t: [] for t in T.TABLES}
    for chain, (first, last, _) in CHAINS.items():
        n = 1001 if chain == "ethereum" else 120
        blocks = [first + i * (last - first) // (n - 1) for i in range(n)]
        for addr, (fee, ts) in ((POOL, ("3000", "60")), (OTHER, ("500", "10"))):
            rows["factory_pool_created"].append(_row(
                "factory_pool_created", chain, first, 0, pool=addr, fee=fee,
                tickSpacing=ts, token0="0x" + "01" * 20, token1="0x" + "02" * 20,
            ))
            rows["pool_initialize_events"].append(_row(
                "pool_initialize_events", chain, first, 1, address=addr,
                sqrtPriceX96=str(2**96), tick="0",
            ))
        rows["pool_swap_events"] += [
            _swap(chain, b, i, OTHER if i % 3 == 0 else POOL) for i, b in enumerate(blocks)
        ]
        positions = POSITIONS if chain == "ethereum" else POSITIONS[:5]
        rows["pool_mint_burn_events"] += [
            _row(
                "pool_mint_burn_events", chain, blocks[2 * k], k, address=POOL,
                amount=amt, tick_lower=str(lo), tick_upper=str(hi), type_of_event=kind,
            )
            for k, (lo, hi, amt, kind) in enumerate(positions)
        ] + [
            _row(
                "pool_mint_burn_events", chain, blocks[3 * k + 1], 500 + k, address=OTHER,
                amount=str(10**19), tick_lower=str(-10 * k - 10), tick_upper="100",
                type_of_event=1,
            )
            for k in range(20)
        ]
    return rows


@pytest.fixture(scope="module")
def upstream(spark, tmp_path_factory):
    """The upstream tables, hive-partitioned by chain_name."""
    root = str(tmp_path_factory.mktemp("upstream"))
    for table, rows in _upstream_rows().items():
        spark.createDataFrame(rows, T.SCHEMAS[table]).write.partitionBy(
            "chain_name"
        ).parquet(os.path.join(root, table))
    return root


def _sorted_pandas(df, order_cols):
    cols = sorted(df.columns)
    return (
        df.select(*cols)
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .toPandas()
    )


@pytest.fixture(scope="module")
def landed(spark, upstream, tmp_path_factory):
    """Replay the full ingest of swaps + mint/burns from the upstream
    with a small segment size to force multiple loop iterations."""
    data_path = str(tmp_path_factory.mktemp("landed"))
    conn = LocalParquetConnector(spark, upstream)
    n = {}
    for table in EVENT_TABLES:
        n[table] = update_table(
            spark, conn, data_path, table, "ethereum",
            tgt_max_rows=300, max_block_cap=CAP,
        )
    return data_path, n


def test_segmented_replay_matches_source(spark, upstream, landed):
    data_path, n_segments = landed
    assert n_segments["pool_swap_events"] >= 3  # 1001 rows / 300-row segments

    for table in ["pool_swap_events", "pool_mint_burn_events"]:
        got = T.tenant_filter(
            T.read_table(spark, data_path, table), "ethereum", POOL
        )
        want = T.tenant_filter(
            spark.read.parquet(f"{upstream}/{table}"), "ethereum", POOL
        )
        order = ["block_number", "transaction_index", "log_index"]
        gp = _sorted_pandas(got, order)
        wp = _sorted_pandas(want, order)
        assert list(gp.columns) == list(wp.columns)
        assert len(gp) == len(wp)
        assert gp.equals(wp), f"{table} landed data differs from source"


def test_resume_is_idempotent(spark, upstream, landed):
    data_path, _ = landed
    conn = LocalParquetConnector(spark, upstream)
    again = update_table(
        spark, conn, data_path, "pool_swap_events", "ethereum",
        tgt_max_rows=300, max_block_cap=CAP,
    )
    assert again == 0  # nothing new to land
    assert max_landed_block(spark, data_path, "pool_swap_events", "ethereum") == CAP


def test_ovm1_rewrite(spark):
    rows = [
        ("optimism_legacy_ovm1", 777, "0xold1", "x"),
        ("optimism_legacy_ovm1", 778, "0xunknown", "y"),
    ]
    df = spark.createDataFrame(
        rows, ["chain_name", "block_number", "address", "payload"]
    ).withColumn("block_timestamp", F.current_timestamp())
    mapping = spark.createDataFrame(
        [("0xold1", "0xnew1")], ["oldaddress", "newaddress"]
    )
    out = {r["payload"]: r for r in ovm1_rewrite(df, mapping).collect()}
    assert out["x"]["chain_name"] == "optimism"
    assert out["x"]["block_number"] == 1
    assert out["x"]["address"] == "0xnew1"
    assert out["y"]["address"] is None  # unmatched -> null (map_dict parity)
    assert out["x"]["block_timestamp"].year == 2021


def test_pool_works_on_landed_data(spark, upstream, landed):
    """End-to-end: the Pool facade runs its flagship queries on data landed
    by OUR ingest loop (not the original files)."""
    data_path, _ = landed
    # factory + initialize land wholesale (small tables)
    conn = LocalParquetConnector(spark, upstream)
    update_tables(
        spark, conn, data_path, "ethereum",
        tables=["factory_pool_created", "pool_initialize_events"],
        max_block_cap=CAP,
    )
    from v3_polars_spark.v3 import Pool

    pool = Pool(spark, POOL, "ethereum", data_path)
    assert pool.ts == 60
    liq = pool.create_liq(12376626).orderBy("tick").collect()
    assert len(liq) == 123
    assert liq[0]["liquidity"] == pytest.approx(2.1615743339306317e20, rel=1e-9)


def test_compact_segments(spark, upstream, tmp_path):
    """Many small appended segments compact into few right-sized files,
    preserving every row and the total-order sort for pruning."""
    data_path = str(tmp_path / "landed")
    conn = LocalParquetConnector(spark, upstream)
    update_table(
        spark, conn, data_path, "pool_swap_events", "ethereum",
        tgt_max_rows=200, max_block_cap=12376625,
    )  # small pulls -> many files
    before = T.read_table(spark, data_path, "pool_swap_events")
    rows_before = before.count()
    key = ["block_number", "transaction_index", "log_index"]
    sum_before = before.select(F.md5(F.concat_ws("|", *key)).alias("h")).agg(
        F.count(F.lit(1)), F.min("h"), F.max("h")
    ).collect()

    stats = T.compact_segments(spark, data_path, "pool_swap_events",
                               target_rows_per_file=10_000)
    b, a = stats["ethereum"]
    assert b > 1 and a == 1  # 1001 rows -> one file

    after = T.read_table(spark, data_path, "pool_swap_events")
    assert after.count() == rows_before
    sum_after = after.select(F.md5(F.concat_ws("|", *key)).alias("h")).agg(
        F.count(F.lit(1)), F.min("h"), F.max("h")
    ).collect()
    assert sum_before == sum_after


def test_with_decimal_amounts_exact_beyond_double(spark):
    """Raw-wei sums where the double path drifts: 2^60 + 1 summed 3x is
    exact in decimal, off in float64 (2^60+1 is not representable)."""
    from v3_polars_spark.tables import with_decimal_amounts
    from pyspark.sql import functions as F

    big = str(2**60 + 1)
    df = spark.createDataFrame([(big,), (big,), (big,)], ["amount"])
    dec = with_decimal_amounts(df, ["amount"])
    exact = dec.agg(F.sum("amount").alias("s")).first().s
    assert int(exact) == 3 * (2**60 + 1)
    dbl = df.select(F.col("amount").cast("double").alias("a")).agg(
        F.sum("a").alias("s")
    ).first().s
    assert int(dbl) != 3 * (2**60 + 1)  # the documented double drift


# -- the registry as read and write contract --------------------------------


@pytest.fixture(scope="module")
def partial(spark, upstream, tmp_path_factory):
    """All four tables of both chains landed part way, to ETH_MID on
    ethereum and ARB_MID on arbitrum."""
    data_path = str(tmp_path_factory.mktemp("partial"))
    conn = LocalParquetConnector(spark, upstream)
    for chain, cap in (("ethereum", ETH_MID), ("arbitrum", ARB_MID)):
        update_tables(spark, conn, data_path, chain, max_block_cap=cap)
    return data_path


def test_read_table_matches_spark_read_parquet(spark, partial):
    for table in T.TABLES:
        got = T.read_table(spark, partial, table)
        want = spark.read.parquet(os.path.join(partial, table)).select(*got.columns)
        assert got.columns == T.SCHEMAS[table].fieldNames()
        assert [f.dataType for f in got.schema] == [f.dataType for f in want.schema]
        assert got.count() == want.count() > 0
        assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
    # the partition column and the UTC timestamps read back as landed
    ts = (
        T.read_table(spark, partial, "factory_pool_created")
        .groupBy("chain_name")
        .agg(F.date_format(F.min("block_timestamp"), "yyyy-MM-dd HH:mm:ss").alias("t"))
        .collect()
    )
    assert sorted(map(tuple, ts)) == [
        ("arbitrum", "2021-05-04 19:52:36"), ("ethereum", "2021-05-04 19:52:36")
    ]


def test_read_table_missing_directory(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        T.read_table(spark, str(tmp_path), "pool_swap_events")


def test_write_segment_conforms_to_registry(spark, tmp_path):
    """A registered table lands exactly its declared columns and types; a
    frame missing one fails before any file is written."""
    table = "pool_swap_events"
    df = spark.createDataFrame([_swap("ethereum", CAP, 0, POOL)], T.SCHEMAS[table])
    with pytest.raises(AnalysisException):
        T.write_segment(df.drop("tick"), str(tmp_path), table)
    with pytest.raises(AnalysisException):  # string does not up-cast to long
        T.write_segment(
            df.withColumn("block_number", F.col("block_number").cast("string")),
            str(tmp_path), table,
        )
    assert not os.path.exists(tmp_path / table)

    cast = df.withColumn("log_index", F.col("log_index").cast("int"))
    T.write_segment(cast.withColumn("extra", F.lit(1)), str(tmp_path), table)
    back = spark.read.parquet(str(tmp_path / table))
    assert sorted(back.schema.fields, key=lambda f: f.name) == sorted(
        T.SCHEMAS[table].fields, key=lambda f: f.name
    )


# -- Pool save freshness and job budget ----------------------------------------


def _open(spark, data_path, save):
    from v3_polars_spark.v3 import Pool

    return Pool(spark, POOL, "ethereum", data_path, save_path=save)


def _fingerprints(save):
    out = {}
    for table in EVENT_TABLES:
        p = os.path.join(save, "ethereum", POOL, table, "_RAW_FINGERPRINT")
        out[table] = (open(p).read(), os.stat(p).st_mtime_ns)
    return out


@pytest.fixture
def saved(spark, partial, tmp_path):
    """A copy of the partial landing with POOL's ethereum save built."""
    data_path, save = str(tmp_path / "data"), str(tmp_path / "save")
    shutil.copytree(partial, data_path)
    _open(spark, data_path, save)
    return data_path, save


def test_fresh_save_reopen_runs_three_jobs(spark, saved, count_jobs):
    """The factory collect plus one toArrow per event table: no schema
    inference and no rebuild."""
    data_path, save = saved
    assert len(count_jobs("reopen-fresh", lambda: _open(spark, data_path, save))) == 3


def test_other_chain_append_keeps_save_fresh(spark, upstream, saved, count_jobs):
    data_path, save = saved
    before = _fingerprints(save)
    written = update_tables(
        spark, LocalParquetConnector(spark, upstream), data_path, "arbitrum",
        tables=EVENT_TABLES, max_block_cap=CHAINS["arbitrum"][1],
    )
    assert written["pool_swap_events"] > 0
    jobs = count_jobs("reopen-other-chain", lambda: _open(spark, data_path, save))
    assert len(jobs) == 3
    assert _fingerprints(save) == before


def test_same_chain_append_rebuilds_save(spark, upstream, saved):
    data_path, save = saved
    newest = _upstream_rows()["pool_swap_events"][1000]  # POOL's last swap, at CAP
    assert newest["address"] == POOL and newest["block_number"] == CAP
    assert _open(spark, data_path, save).get_price_at(CAP + 1) != int(newest["sqrtPriceX96"])
    before = _fingerprints(save)

    written = update_tables(
        spark, LocalParquetConnector(spark, upstream), data_path, "ethereum",
        tables=EVENT_TABLES, max_block_cap=CAP,
    )
    pool = _open(spark, data_path, save)
    assert pool.get_price_at(CAP + 1) == int(newest["sqrtPriceX96"])
    # only the table that gained files is rebuilt
    assert written == {"pool_swap_events": 1, "pool_mint_burn_events": 0}
    after = _fingerprints(save)
    assert after["pool_swap_events"][0] != before["pool_swap_events"][0]
    assert after["pool_mint_burn_events"] == before["pool_mint_burn_events"]


# -- gap segments, the OVM1 replay and the concurrency contract -------------


def _part_files(part_dir):
    if not os.path.isdir(part_dir):
        return []
    return sorted(f for f in os.listdir(part_dir) if f.startswith("part-"))


class _GapConnector(LocalParquetConnector):
    """Estimates the second horizon 2 blocks past its start: the previous
    segment ended on an event block and the next event is ~7 blocks later,
    so that segment is a block-range gap. Records the landed part files
    at every horizon call."""

    def __init__(self, spark, root, part_dir):
        super().__init__(spark, root)
        self.part_dir = part_dir
        self.listings = []

    def segment_horizon(self, chain, table, min_block, tgt_max_rows):
        self.listings.append(_part_files(self.part_dir))
        if len(self.listings) == 2:
            return min_block + 2
        return super().segment_horizon(chain, table, min_block, tgt_max_rows)


def test_gap_segment_is_not_a_segment(spark, upstream, tmp_path):
    data_path, table = str(tmp_path / "landed"), "pool_swap_events"
    conn = _GapConnector(spark, upstream, os.path.join(data_path, table, "chain_name=ethereum"))
    n = update_table(
        spark, conn, data_path, table, "ethereum", tgt_max_rows=300, max_block_cap=CAP
    )
    # one horizon call per landed segment plus the gap
    assert n == len(conn.listings) - 1 == 4
    # the gap wrote no file, and every call after it landed one
    first, before_gap, after_gap, *rest = conn.listings
    assert before_gap == after_gap and len(after_gap) > len(first)
    assert all(len(b) > len(a) for a, b in zip([after_gap] + rest, rest))
    # the rows after the gap still land
    got = T.tenant_filter(T.read_table(spark, data_path, table), "ethereum")
    want = T.tenant_filter(T.read_table(spark, upstream, table), "ethereum")
    assert got.count() == want.count() == 1001
    assert max_landed_block(spark, data_path, table, "ethereum") == CAP


def _ovm_rows(chain, blocks, address):
    table = "pool_swap_events"
    return [
        {**{f.name: None for f in T.SCHEMAS[table].fields},
         "chain_name": chain, "address": address, "block_number": b,
         "block_timestamp": T0, "transaction_index": 0, "log_index": i,
         "transaction_hash": f"0x{chain[:3]}{i:04x}", "tick": "0", "sqrtPriceX96": "1"}
        for i, b in enumerate(blocks)
    ]


@pytest.fixture(scope="module")
def ovm_upstream(spark, tmp_path_factory):
    """Live optimism swaps at blocks 1000-1004 and three legacy OVM1 swaps."""
    root = str(tmp_path_factory.mktemp("ovm_upstream"))
    rows = _ovm_rows("optimism", range(1000, 1005), POOL) + _ovm_rows(
        OVM1_CHAIN, [50, 51, 52], "0xold"
    )
    spark.createDataFrame(rows, T.SCHEMAS["pool_swap_events"]).write.partitionBy(
        "chain_name"
    ).parquet(os.path.join(root, "pool_swap_events"))
    return root


def test_ovm1_replay_lands_once(spark, ovm_upstream, tmp_path):
    data_path, table = str(tmp_path / "landed"), "pool_swap_events"
    conn = LocalParquetConnector(spark, ovm_upstream)
    mapping = spark.createDataFrame([("0xold", POOL)], ["oldaddress", "newaddress"])
    assert not ovm1_replayed(spark, data_path, table)  # no table yet
    first = update_tables(spark, conn, data_path, "optimism", [table], ovm1_mapping=mapping)
    assert first == {table: 2}  # the live segment and the replay
    assert ovm1_replayed(spark, data_path, table)
    again = update_tables(spark, conn, data_path, "optimism", [table], ovm1_mapping=mapping)
    assert again == {table: 0}
    landed = T.tenant_filter(T.read_table(spark, data_path, table), "optimism", POOL)
    assert landed.filter(F.col("block_number") == 1).count() == 3
    assert landed.count() == 8


def test_ovm1_replayed_raises_on_unreadable_table(spark, tmp_path):
    """A read failure other than a missing directory is not "not replayed"."""
    part_dir = tmp_path / "pool_swap_events" / "chain_name=optimism"
    part_dir.mkdir(parents=True)
    (part_dir / "part-00000-corrupt.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception, match="(?i)parquet") as err:
        ovm1_replayed(spark, str(tmp_path), "pool_swap_events")
    assert "PATH_NOT_FOUND" not in str(err.value)


class _FailingConnector(LocalParquetConnector):
    def min_max_block(self, chain, table):
        if table == "pool_mint_burn_events":
            raise RuntimeError("upstream probe failed")
        return super().min_max_block(chain, table)


def test_update_tables_raises_a_table_failure(spark, upstream, tmp_path):
    with pytest.raises(RuntimeError, match="upstream probe failed"):
        update_tables(
            spark, _FailingConnector(spark, upstream), str(tmp_path), "ethereum",
            tables=EVENT_TABLES, max_block_cap=ETH_MID,
        )


def _jobs_in_group(spark, count_jobs, group, fn):
    """(the jobs ``fn`` ran in ``group``, every job started while it ran)."""
    def marker():
        return spark.range(1).collect()

    before = max(count_jobs(group + "-before", marker))
    jobs = count_jobs(group, fn)
    after = min(count_jobs(group + "-after", marker))
    return sorted(jobs), list(range(before + 1, after))


def test_concurrent_jobs_stay_in_the_caller_job_group(spark, upstream, tmp_path, count_jobs):
    data_path, save = str(tmp_path / "data"), str(tmp_path / "save")
    conn = LocalParquetConnector(spark, upstream)
    jobs, started = _jobs_in_group(
        spark, count_jobs, "append",
        lambda: update_tables(spark, conn, data_path, "ethereum", max_block_cap=ETH_MID),
    )
    assert jobs and jobs == started
    jobs, started = _jobs_in_group(
        spark, count_jobs, "open", lambda: _open(spark, data_path, save)
    )
    assert jobs and jobs == started


def test_pool_open_emits_no_user_warning(spark, partial):
    from v3_polars_spark.v3 import Pool

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        Pool(spark, POOL, "ethereum", partial).get_price_at(ETH_MID)
        Pool(spark, POOL, "ethereum", partial, pull=False).get_price_at(ETH_MID)
    assert not [w for w in caught if issubclass(w.category, UserWarning)]

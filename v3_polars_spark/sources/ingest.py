"""Segmented incremental ingest — the batch micro-batching loop.

Reference: v3/helpers/data_update.py:124-295 (_update_tables): probe global
bounds → resume from max landed block + 1 → loop {find segment horizon of
~tgt_max_rows, pull slice, append segment} → OVM1 rewrite for optimism.

Spark shape: the landed table is a chain-partitioned parquet directory
(tables.write_segment); resume state is derived FROM the data (max landed
block), not from a side file, so the loop is idempotent and crash-safe —
exactly the property Structured Streaming's checkpoint provides for the
streaming re-expression (streaming/ingest_stream.py).
"""

from __future__ import annotations

import functools
import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import tables as T
from ..ops import recode_join
from ..session import run_concurrently
from .connectors import Connector

OVM1_CHAIN = "optimism_legacy_ovm1"
OVM1_GENESIS_TS = "2021-11-11 21:16:39"


def max_landed_block(
    spark: SparkSession, data_path: str, table: str, chain: str
) -> int | None:
    """Resume point: max block_number already landed for this chain
    (reference data_update.py:162-189)."""
    if not os.path.isdir(os.path.join(data_path, table)):
        return None
    row = (
        T.tenant_filter(T.read_table(spark, data_path, table), chain)
        .agg(F.max("block_number").alias("hi"))
        .first()
    )
    return row["hi"]


def update_table(
    spark: SparkSession,
    connector: Connector,
    data_path: str,
    table: str,
    chain: str,
    tgt_max_rows: int = 200_000,
    max_block_cap: int | None = None,
) -> int:
    """Incrementally land one table. Returns the number of segments written.

    Loop invariant (reference data_update.py:191-292): each iteration lands
    blocks [resume, horizon] where horizon accumulates ~tgt_max_rows rows,
    then advances resume to horizon+1. Restart-safe: resume is re-derived
    from the landed data. The bounds and resume probes run concurrently;
    a segment's rows are counted by ``observe`` on its write."""
    (lo, hi), landed = run_concurrently(
        spark,
        lambda: connector.min_max_block(chain, table),
        lambda: max_landed_block(spark, data_path, table, chain),
    )
    if lo is None:
        return 0
    if max_block_cap is not None:
        hi = min(hi, max_block_cap)

    resume = lo if landed is None else landed + 1
    n_segments = 0
    while resume <= hi:
        horizon = connector.segment_horizon(chain, table, resume, tgt_max_rows)
        if horizon is None:
            break
        horizon = min(horizon, hi)
        seg = connector.read_segment(spark, chain, table, resume, horizon)
        rows = Observation()
        T.write_segment(seg.observe(rows, F.count(F.lit(1)).alias("n")), data_path, table)
        # 0 rows: a block-range gap (segment_horizon may be an estimate,
        # as with remote connectors) that landed no file; it is not a
        # segment, and resume moves past it like the reference loop
        # advances min_block over empty ranges (data_update.py)
        if rows.get["n"]:
            n_segments += 1
        resume = horizon + 1
    return n_segments


def ovm1_rewrite(df: DataFrame, mapping_df: DataFrame) -> DataFrame:
    """The OVM1→EVM migration rewrite (reference data_update.py:236-280):
    legacy rows are re-homed to chain 'optimism' at a synthetic block 0
    segment — block_number=1, genesis timestamp — with addresses recoded
    through the mapping table (P7 literals + P8 recode).

    mapping_df: (oldaddress, newaddress) — the reference reads it from
    ovm_mapping.csv (S3); broadcast-joined here, null for unmatched."""
    out = (
        df.withColumn("block_number", F.lit(1).cast("long"))
        .withColumn(
            "block_timestamp",
            F.to_timestamp(F.lit(OVM1_GENESIS_TS)),
        )
        .withColumn("chain_name", F.lit("optimism"))
    )
    # event tables recode `address`; the factory table recodes `pool`
    # (reference data_update.py:266-276 handles exactly these two)
    for col in ("address", "pool"):
        if col in df.columns:
            out = recode_join(
                out, col, mapping_df, key_col="oldaddress", value_col="newaddress"
            )
    return out


def ovm1_replayed(spark: SparkSession, data_path: str, table: str) -> bool:
    """Whether ``table`` holds rewritten legacy rows (the synthetic
    block_number=1 never occurs live). Only a missing directory means no;
    other read errors raise, as a wrong no doubles legacy liquidity."""
    try:
        landed = T.read_table(spark, data_path, table)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return False
    return not landed.filter(
        (F.col("chain_name") == "optimism") & (F.col("block_number") == 1)
    ).isEmpty()


def update_tables(
    spark: SparkSession,
    connector: Connector,
    data_path: str,
    chain: str,
    tables: list[str] | None = None,
    tgt_max_rows: int = 200_000,
    max_block_cap: int | None = None,
    ovm1_mapping: DataFrame | None = None,
) -> dict[str, int]:
    """Update the event tables (all four by default) with one concurrent
    ``update_table`` each (separate upstream tables and directories);
    segments written per table, in ``tables`` order. For chain='optimism',
    then replay the legacy OVM1 chain and append its rewritten rows once
    (reference state.py:75-86 + data_update.py:236-280)."""
    tables = tables or T.TABLES
    counts = run_concurrently(spark, *(
        functools.partial(
            update_table, spark, connector, data_path, t, chain, tgt_max_rows, max_block_cap
        )
        for t in tables
    ))
    written = dict(zip(tables, counts))
    if chain == "optimism" and ovm1_mapping is not None:
        for table in tables:
            if ovm1_replayed(spark, data_path, table):
                continue
            lo, hi = connector.min_max_block(OVM1_CHAIN, table)
            if lo is None:
                continue
            legacy = connector.read_segment(spark, OVM1_CHAIN, table, lo, hi)
            rewritten = ovm1_rewrite(legacy, ovm1_mapping)
            T.write_segment(rewritten, data_path, table)
            written[table] += 1
    return written

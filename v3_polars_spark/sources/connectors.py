"""Connector protocol for remote warehouses + local test connectors.

The reference defines the contract in v3/helpers/connectors/template.py:
three operations per (chain, table):
  - min/max block bounds probe        (gbq.py:34-47, allium.py:218-230)
  - segment horizon for ~N rows       (gbq.py:49-71, allium.py:232-255)
  - full slice read lo..hi            (gbq.py:73-87, allium.py:257-271)

Connectors are control-plane: they run on the driver and return small-to-
bounded Arrow/row batches (the reference caps pulls at 200k rows,
data_update.py:314-316). Real BigQuery/REST connectors are environment
gated (no credentials in this container) — ``LocalParquetConnector`` serves
as the test double and defines the exact semantics. No code is shared with
the reference; SQL templates are re-derived from the documented contract.
"""

from __future__ import annotations

from typing import Protocol

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables as T


class Connector(Protocol):
    """The three-probe contract every remote source implements."""

    def min_max_block(self, chain: str, table: str) -> tuple[int | None, int | None]:
        """Global [min, max] block bounds for a chain+table."""
        ...

    def segment_horizon(
        self, chain: str, table: str, min_block: int, tgt_max_rows: int
    ) -> int | None:
        """The block number by which ~tgt_max_rows rows accumulate starting
        at min_block (reference findSegment, data_update.py:93-104)."""
        ...

    def read_segment(
        self, spark: SparkSession, chain: str, table: str, lo: int, hi: int
    ) -> DataFrame:
        """All rows with lo <= block_number <= hi."""
        ...


class LocalParquetConnector:
    """Connector backed by a local parquet directory tree laid out like the
    reference's examples ({root}/{table}/*.parquet) — the golden-replay
    test double (reference test harness re-pulls from the live connector;
    we re-pull from the example files themselves)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def _scan(self, chain: str, table: str) -> DataFrame:
        return T.tenant_filter(T.read_table(self.spark, self.root, table), chain)

    def min_max_block(self, chain: str, table: str):
        row = self._scan(chain, table).agg(
            F.min("block_number").alias("lo"), F.max("block_number").alias("hi")
        ).first()
        return (row["lo"], row["hi"]) if row else (None, None)

    def segment_horizon(self, chain: str, table: str, min_block: int, tgt_max_rows: int):
        # reference W7 orders by block_timestamp (gbq.py:49-71); the
        # block_number tiebreak makes the horizon deterministic when many
        # rows share a timestamp (ties are arbitrary under a distributed
        # scan otherwise — SURVEY §8.1 Q3 policy: explicit total order)
        df = self._scan(chain, table).filter(F.col("block_number") >= min_block)
        row = (
            df.orderBy(F.col("block_timestamp").asc(), F.col("block_number").asc())
            .limit(tgt_max_rows)
            .agg(F.max("block_number").alias("hi"))
            .first()
        )
        return row["hi"] if row else None

    def read_segment(self, spark: SparkSession, chain: str, table: str, lo: int, hi: int):
        return self._scan(chain, table).filter(
            (F.col("block_number") >= lo) & (F.col("block_number") <= hi)
        )


def rows_to_dataframe(spark: SparkSession, rows: list[dict], schema) -> DataFrame:
    """S5 analog: land a JSON/REST response (list of dicts) as a DataFrame
    with the declared schema (reference allium.py:283-322 materializes
    response_json['data'])."""
    return spark.createDataFrame(rows, schema)

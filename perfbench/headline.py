"""headline_sf01: the reference-free rows of ``bench.py``'s ``HEADLINE``
on generated sf0.1-shaped tables, run through ``__spark_entry__.queries()``.

Set-up is the session plus the entry module's working-set cache of the
five tables (``_t``, ``entry.cache_warm_s``); the IVF index, the other
session-level cache entry, is built lazily by the first
``dp_embed_topk_ivf`` execution in the window. In the window each
execution is preceded by an untimed ``reset_intermediates()``, then timed
as plan build (``queries()[q](spark, sf)``) plus a noop write. After the
window a fifth of the queries, chosen by the seed, are collected from
Spark and compared with DuckDB running ``oracle_sql()`` on the same
files, by the hashed multiset comparator of ``tests/oracle_check.py``. In
traced runs DuckDB runs every query; its time per query is the in-run
machine-state control.
"""

from __future__ import annotations

import os
import sys
import time

import harness as H
import sfdata

REL_QUERIES = [
    "groupby_having", "theta_join", "asof_join", "dedup_last", "resample_6h",
    "cumsum", "topk", "derived_math", "series_pipeline",
]
DP_QUERIES = [
    "dp_dedup_exact", "dp_minhash_lsh", "dp_embed_topk_ivf", "dp_text_stats",
    "dp_chunk", "dp_unigram",
]
QUERIES = REL_QUERIES + DP_QUERIES
# each run checks every CHECK_EVERY-th query against the oracle, offset by
# the seed, so consecutive seeds cover all of them
CHECK_EVERY = 5


def _layer(q: str) -> str:
    return "datapipe" if q in DP_QUERIES else "ops"


class Headline:
    name = "headline_sf01"
    pass_mix = dict.fromkeys(QUERIES, 1.0)

    def __init__(self, seed, work, sess, run):
        self.seed, self.work, self.sess, self.run = seed, work, sess, run
        self.control: dict[str, float] = {}
        self.warm_s: list[float] = []

    def prepare(self):
        self.sf = os.path.join(self.work, "sf0.1")
        self.rows = sfdata.generate(self.sf, self.seed)
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.sf, f)) for f in os.listdir(self.sf)
        )

    def record(self):
        return {"scale": 0.1, "rows": self.rows, "input_bytes": self.input_bytes}

    def setup(self):
        """Session, shuffle sizing, and the entry module's working-set
        cache, emptied first so each set-up builds it again."""
        import __spark_entry__ as entry
        from v3_polars_spark.datapipe import release_intermediates
        from v3_polars_spark.session import tune_shuffle_partitions

        release_intermediates()
        for memo in (entry._TABLE_CACHE, entry._PLAN_MEMO, entry._ROWS_MEMO):
            memo.clear()
        tr = self.run.tracer
        with tr.span("session.start", "session"):
            spark = self.sess.start()
        self.run.spark = spark
        with tr.span("session.tune_shuffle_partitions", "session"):
            tune_shuffle_partitions(spark, self.input_bytes)
        t0 = time.perf_counter()
        with tr.span("entry.cache_warm", "entry"):
            for t in sfdata.TABLES:
                entry._t(spark, self.sf, t).count()
        self.warm_s.append(time.perf_counter() - t0)

    def measure(self, seconds: float) -> None:
        import __spark_entry__ as entry
        from v3_polars_spark.datapipe import reset_intermediates

        qs = entry.queries()
        spark = self.sess.spark
        tr = self.run.tracer
        t_end = time.perf_counter() + seconds
        while True:  # whole passes until ``seconds`` have passed
            for q in QUERIES:
                reset_intermediates()
                with self.run.op(q):
                    with tr.span(f"entry.plan_build.{q}", "entry"):
                        df = qs[q](spark, self.sf)
                    with tr.span(f"{_layer(q)}.{q}", _layer(q)):
                        df.write.format("noop").mode("overwrite").save()
            if time.perf_counter() >= t_end:
                break

    def check(self) -> None:
        """A fifth of the queries against their DuckDB oracle; in traced
        runs DuckDB also runs the rest, as the in-run control."""
        import duckdb

        import __spark_entry__ as entry
        from v3_polars_spark.datapipe import release_intermediates

        tests = os.path.join(os.path.dirname(os.path.abspath(entry.__file__)), "tests")
        if tests not in sys.path:
            sys.path.append(tests)
        import oracle_check

        oracle_check.BIG_ROWS = 0  # hashed multiset compare for every size
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{os.path.join(self.work, 'tmp', 'duckdb')}'")
        for t in sfdata.TABLES:
            p = os.path.join(self.sf, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        qs, oracles = entry.queries(), entry.oracle_sql()
        spark = self.sess.spark
        try:
            for i, q in enumerate(QUERIES):
                checked = (i + self.seed) % CHECK_EVERY == 0
                if not (checked or self.sess.trace):
                    continue
                t0 = time.perf_counter()
                ddf = con.execute(oracles[q]).df()
                self.control[q] = time.perf_counter() - t0
                if not checked:
                    continue
                with self.run.op(q, timed=False):
                    errs = oracle_check.compare(q, qs[q](spark, self.sf).toPandas(), ddf)
                    if errs:
                        self.run.wrong_result(f"{q}: {'; '.join(errs[:2])}")
        finally:
            con.close()
            release_intermediates()

    def layer_metrics(self, lat, jobs) -> dict:
        spans = self.run.tracer.spans

        def span_med(name):
            return H.median([s[3] - s[2] for s in spans if s[0] == name and s[5] is not None])

        m = {
            "headline_total_s": sum(H.median(lat.get(q, [])) for q in QUERIES),
            "entry.cache_warm_s": H.median(self.warm_s),
            "control.duckdb_total_s": sum(self.control.values()),
        }
        for q in QUERIES:
            m[f"{_layer(q)}.{q}_s"] = H.median(lat.get(q, []))
            m[f"spark.tasks.{q}"] = H.median([t for _, _, t in jobs.get(q, [])])
            m[f"entry.plan_build_ms.{q}"] = span_med(f"entry.plan_build.{q}") * 1e3
            m[f"control.duckdb_{q}_s"] = self.control.get(q, 0.0)
        return m

"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload pool_live --seed 1 --seconds 8 --trace 0

Run from the repository root. Workloads (see each module's docstring):

- ``pool_live``: one closed-loop notebook user over small v3 tables;
- ``pool_backtest``: batch passes over larger v3 tables, every pool at once
  (runs by hand; not listed in BENCHMARK.json because on a 4-core machine
  its runs do not fit the benchmark's time budget next to the other two);
- ``headline_sf01``: the reference-free headline rows of ``bench.py`` on
  generated sf0.1-shaped tables, with DuckDB as oracle and control.

Every run generates its inputs from ``--seed`` under ``.perfbench_work/``,
pins Spark to ``local[<usable cores>]``, sets the workload up ``SETUPS``
times (reporting the median as ``setup_s``), measures for ``--seconds``
and checks the outputs. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer ones. A ``--trace 1``
run measures two windows and traces every other op of each kind (spans
and a Spark job group per op); the traced ops' latency against the
untraced ones' is ``trace.overhead_pct``. The line
before the result stamps the environment and the workload's inputs; spans
are written to ``.perfbench_work/<workload>/trace.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUPS = 3

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "ok_op_frac": "fraction",
}


def _per_layer() -> dict[str, str]:
    """Per-layer metrics of the listed workloads. Every ``--trace 1`` run
    prints all of them, 0 where the workload does not use that path."""
    from harness import LAYERS
    from headline import DP_QUERIES, REL_QUERIES

    m = {
        "op_p50_ms": "ms",
        "peak_rss_mb": "MB",
        "session.start_s": "s",
        "session.jvm_start_s": "s",
        "failed_op_frac": "fraction",
        "trace.overhead_pct": "%",
        "spark.jobs_per_op": "count",
        "spark.stages_per_op": "count",
        "spark.tasks_per_op": "count",
        "spark.cached_mb": "MB",
        # pool_live
        "lookup_p50_ms": "ms", "lookup_p90_ms": "ms",
        "quote_p50_ms": "ms", "quote_p90_ms": "ms",
        "pool_open_p50_ms": "ms", "append_visible_p50_ms": "ms",
        "v3.get_price_at_ms": "ms", "v3.get_tick_at_ms": "ms",
        "v3.swap_in_ms": "ms", "v3.calc_swap_df_ms": "ms",
        "v3.pool_open_ms": "ms", "sources.update_tables_ms": "ms",
        "spark.jobs_per_lookup": "count", "v3.swap_in_zero_job_ratio": "fraction",
        "tables.rows_landed": "count", "tables.segments_landed": "count",
        # headline_sf01
        "headline_total_s": "s",
        "entry.cache_warm_s": "s",
        "control.duckdb_total_s": "s",
    }
    for q in REL_QUERIES:
        m[f"ops.{q}_s"] = "s"
    for q in DP_QUERIES:
        m[f"datapipe.{q}_s"] = "s"
    for q in REL_QUERIES + DP_QUERIES:
        m[f"spark.tasks.{q}"] = "count"
        m[f"entry.plan_build_ms.{q}"] = "ms"
        m[f"control.duckdb_{q}_s"] = "s"
    for layer in LAYERS:
        m[f"trace.self_s.{layer}"] = "s"
    return m


def _pass_s(mix: dict[str, float], lat: dict[str, list[float]]) -> float:
    from harness import median

    return sum(w * median(lat.get(k, [])) for k, w in mix.items())


def _pin_environment(work: str) -> int:
    cores = len(os.sched_getaffinity(0))
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return cores


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["pool_live", "pool_backtest", "headline_sf01"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    if not os.path.isdir(os.path.join(ROOT, "v3_polars_spark")):
        print(f"library package v3_polars_spark not found under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    cores = _pin_environment(work)

    import harness as H

    if args.workload == "pool_live":
        from pool_live import PoolLive as W
    elif args.workload == "pool_backtest":
        from pool_backtest import PoolBacktest as W
    else:
        from headline import Headline as W

    run = H.Run(args.seed)
    sess = H.Session(work, trace=bool(args.trace))
    wl = W(args.seed, work, sess, run)
    try:
        t0 = time.perf_counter()
        wl.prepare()
        gen_s = time.perf_counter() - t0
        sess.start()
        setups = []
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t0)
        if args.trace:
            # two windows, so every op kind is seen traced and untraced
            getattr(wl, "patch", lambda tracer: None)(run.tracer)
            run.trace_ops = True
            wl.measure(args.seconds)
        wl.measure(args.seconds)
        run.trace_ops = False
        wl.check()
        jobs = run.job_counts()
        peak_rss = sess.peak_rss_mb()
        cached = sess.cached_mb()
        storage_mb = sess.storage_mb()
        plain = run.lat["plain"]
        all_lat = [x for v in plain.values() for x in v]
        attempted = max(1, run.attempted)
        e2e = {
            "setup_s": H.median(setups),
            "pass_s": _pass_s(wl.pass_mix, plain),
            "ok_op_frac": 1.0 - run.failed / attempted,
        }
        if args.trace:
            traced = run.lat["traced"]
            both = {k: plain.get(k, []) + traced.get(k, []) for k in set(plain) | set(traced)}
            layer = dict.fromkeys(_per_layer(), 0.0)
            # metrics of a workload that BENCHMARK.json does not list go
            # to the stamp line
            unlisted = {}
            for k, v in wl.layer_metrics(both, jobs).items():
                (layer if k in layer else unlisted)[k] = v
            # self time per layer as its share of the traced ops' time,
            # scaled to one pass
            self_t = run.tracer.self_times()
            wall = sum(self_t.values())
            pass_all = _pass_s(wl.pass_mix, both)
            for name, secs in self_t.items():
                layer[f"trace.self_s.{name}"] = secs / wall * pass_all if wall else 0.0
            # overhead: traced vs untraced medians of the kinds seen both ways
            common = {k: w for k, w in wl.pass_mix.items() if plain.get(k) and traced.get(k)}
            p_plain, p_traced = _pass_s(common, plain), _pass_s(common, traced)
            per_op = [x for v in jobs.values() for x in v]
            # a workload's known-defect probe, outside attempted/failed
            probe_attempted, probe_failed = getattr(wl, "extra_failures", lambda: (0, 0))()
            all_both = [x for v in both.values() for x in v]
            layer.update({
                "op_p50_ms": H.median(all_both) * 1e3,
                "peak_rss_mb": peak_rss,
                "session.start_s": H.median(sess.start_times),
                "session.jvm_start_s": sess.jvm_start_s,
                "failed_op_frac": (run.failed + probe_failed) / (attempted + probe_attempted),
                "trace.overhead_pct": 100.0 * (p_traced / p_plain - 1.0) if p_plain else 0.0,
                "spark.jobs_per_op": sum(j for j, _, _ in per_op) / len(per_op) if per_op else 0.0,
                "spark.stages_per_op": sum(s for _, s, _ in per_op) / len(per_op) if per_op else 0.0,
                "spark.tasks_per_op": sum(t for _, _, t in per_op) / len(per_op) if per_op else 0.0,
                "spark.cached_mb": cached,
            })
            run.tracer.dump(os.path.join(work, "trace.json"))
        samples = {k: len(v) for k, v in plain.items()}
        stamp = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "fixture": "generated",
            "cores": cores,
            "spark_master": f"local[{cores}]",
            "spark_driver_memory": os.environ["SPARK_DRIVER_MEM"],
            "spark": _version("pyspark"),
            "duckdb": _version("duckdb"),
            "python": sys.version.split()[0],
            "input_generation_s": gen_s,
            "setup_samples_s": setups,
            "samples_per_kind": samples,
            "median_ms_per_kind": {k: H.median(v) * 1e3 for k, v in plain.items()},
            "samples_per_percentile": len(all_lat),
            "spark_cached_mb": cached,
            "spark_storage_mb": storage_mb,
            "working_set_fits_cache": cached < storage_mb,
            "inputs": wl.record(),
            "errors": run.errors[:5],
        }
        if args.trace:
            stamp["unlisted_metrics"] = unlisted
            stamp["jobs_per_kind"] = {
                k: [sum(x[i] for x in v) / len(v) for i in range(3)] for k, v in jobs.items()
            }
    finally:
        sess.shutdown()

    metrics = e2e if not args.trace else layer
    units = END_TO_END if not args.trace else _per_layer()
    print(json.dumps(stamp, default=str))
    print(json.dumps({
        "correct": run.wrong == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


def _version(mod: str) -> str:
    try:
        return __import__(mod).__version__
    except ImportError:
        return "missing"


if __name__ == "__main__":
    sys.exit(main())

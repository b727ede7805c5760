"""Measurement plumbing shared by the workloads.

- ``Tracer``: spans recorded by the benchmark's own code around calls into
  the library (name, layer, start, end, parent, op id), kept in memory and
  written out at the end; self time per layer.
- ``Run``: one workload run. Times ops, counts attempted / failed / wrong
  ops, and in traced runs traces every other op of each kind, giving each
  traced op its own Spark job group so job, stage and task counts can
  be read back from ``statusTracker``.
- ``Session``: the Spark session's lifetime — start, restart for repeated
  set-ups, and a shutdown that waits for the JVM to exit.
"""

from __future__ import annotations

import functools
import json
import math
import os
import random
import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

LAYERS = [
    "bench", "session", "tables", "sources", "v3", "ops", "datapipe", "entry",
]


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []  # [name, layer, start, end, parent, op]
        self._stack: list[int] = []
        self.op_id: int | None = None
        # Spark job/stage/task counts per traced op, attached to its span
        self.op_counts: dict[int, dict[str, int]] = {}

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        rec = [name, layer, time.perf_counter(), None,
               self._stack[-1] if self._stack else None, self.op_id]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec[3] = time.perf_counter()
            self._stack.pop()

    def wrap(self, fn, name: str, layer: str):
        """``fn`` recording a span per call (traced runs patch library
        entry points with this)."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)
        return traced

    def self_times(self) -> dict[str, float]:
        """Seconds per layer: each span's duration minus its children's."""
        child = defaultdict(float)
        for name, layer, t0, t1, parent, op in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        out = dict.fromkeys(LAYERS, 0.0)
        for i, (name, layer, t0, t1, parent, op) in enumerate(self.spans):
            if op is not None:  # spans of measured ops only, not set-up
                out[layer] = out.get(layer, 0.0) + (t1 - t0) - child[i]
        return out

    def dump(self, path: str) -> None:
        keys = ["name", "layer", "start", "end", "parent", "op"]
        out = []
        for s in self.spans:
            rec = dict(zip(keys, s))
            if rec["parent"] is None and rec["op"] in self.op_counts:
                rec["spark"] = self.op_counts[rec["op"]]
            out.append(rec)
        with open(path, "w") as f:
            json.dump(out, f)


class Run:
    """Op timing and accounting for one workload run."""

    def __init__(self, seed: int):
        self.tracer = Tracer(False)
        # In a traced run every other op of each kind is traced, starting
        # from a seeded coin per kind, so traced and untraced ops interleave
        # and their latencies give the tracing overhead.
        self.trace_ops = False
        self._coin = random.Random(seed)
        self._parity: dict[str, int] = {}
        # latencies of untraced ("plain") and traced ops, per op kind
        self.lat: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
        self.attempted = 0
        self.failed = 0
        self.wrong = 0
        self.errors: list[str] = []
        self.op_groups: list[tuple[int, str, str]] = []  # (op id, kind, job group)
        self.spark = None

    @contextmanager
    def op(self, kind: str, timed: bool = True):
        """One user-visible operation. An exception inside counts the op as
        failed and is swallowed; the latency of a failed op is not kept."""
        self.attempted += 1
        traced = False
        if self.trace_ops:
            p = self._parity.setdefault(kind, self._coin.randrange(2))
            traced, self._parity[kind] = bool(p), 1 - p
        self.tracer.enabled = traced
        self.tracer.op_id = self.attempted
        sc = self.spark.sparkContext if self.spark is not None else None
        if traced and sc is not None:
            group = f"pb-{self.attempted}"
            sc.setJobGroup(group, kind)
            self.op_groups.append((self.attempted, kind, group))
        t0 = time.perf_counter()
        try:
            with self.tracer.span(kind, "bench"):
                yield
        except Exception:
            self.failed += 1
            self.errors.append(f"{kind}: {traceback.format_exc(limit=3)}")
            return
        finally:
            if traced and sc is not None:
                sc.setJobGroup("pb-idle", "idle")
            self.tracer.enabled = False
            self.tracer.op_id = None
        if timed:
            self.lat["traced" if traced else "plain"][kind].append(time.perf_counter() - t0)

    def wrong_result(self, what: str) -> None:
        self.wrong += 1
        self.failed += 1
        self.errors.append(f"wrong result: {what}")

    def job_counts(self) -> dict[str, list[tuple[int, int, int]]]:
        """Per op kind, (jobs, stages run, tasks run) of every traced op."""
        if not self.op_groups:
            return {}
        sc = self.spark.sparkContext
        try:  # the status store is fed by the listener bus: let it drain
            sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:
            time.sleep(1.0)
        st = sc.statusTracker()
        out = defaultdict(list)
        for op_id, kind, group in self.op_groups:
            jobs = st.getJobIdsForGroup(group)
            stages = tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else []:
                    si = st.getStageInfo(s)
                    if si is not None and si.numCompletedTasks > 0:
                        stages += 1
                        tasks += si.numCompletedTasks
            out[kind].append((len(jobs), stages, tasks))
            self.tracer.op_counts[op_id] = {"jobs": len(jobs), "stages": stages, "tasks": tasks}
        return out


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def pctl(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q / 100.0 * len(s)) - 1))]


def _hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Session:
    """The Spark session of one benchmark process."""

    def __init__(self, work: str, trace: bool):
        self.work = work
        self.trace = trace
        self.spark = None
        self.jvm_start_s = 0.0
        self.start_times: list[float] = []

    def _conf(self) -> dict[str, str]:
        tmp = os.path.join(self.work, "tmp")
        conf = {
            # keep the JVM's temporary files inside the work directory;
            # perf data would go to the system temp directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.trace:  # keep every job of the run in the status store
            conf.update({
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            })
        return conf

    def start(self):
        """Start (or restart) the session; the first call launches the JVM."""
        from v3_polars_spark.session import get_spark, quiet_expected_jvm_warnings

        first = self.spark is None
        if not first:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=self._conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        quiet_expected_jvm_warnings(self.spark)
        dt = time.perf_counter() - t0
        if first:
            self.jvm_start_s = dt
        else:
            self.start_times.append(dt)
        return self.spark

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        return proc.pid if proc is not None else None

    def peak_rss_mb(self) -> float:
        pid = self.jvm_pid()
        kb = _hwm_kb("self") + (_hwm_kb(pid) if pid else 0)
        return kb / 1024.0

    def cached_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() for i in infos) / 2**20

    def storage_mb(self) -> float:
        """Unified (execution + storage) memory of the local executor:
        (heap - 300 MB reserved) x spark.memory.fraction."""
        heap = self.spark._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20
        frac = float(self.spark.conf.get("spark.memory.fraction", "0.6"))
        return (heap - 300.0) * frac

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to end."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:
            pass
        if proc is not None:
            proc.stdin and proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except Exception:
                proc.kill()
                proc.wait(timeout=20)
        SparkContext._gateway = None
        SparkContext._jvm = None


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)

"""Shared pieces of a benchmark run: the run context, the Spark session
start and stop, the oracle-time accounting and the result record.

Every workload reports the same metric names (``E2E`` untraced,
``LAYERS`` traced), each measured on that workload's own operations;
``perfbench/README.md`` says what each one means per workload.
"""

from __future__ import annotations

import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

from perfbench.stats import mean
from perfbench.trace import NullTracer, Tracer, jvm_peak_rss_mb

#: End-to-end metrics (``--trace 0``) and their units.
E2E = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "throughput_per_s": "1/s",
}
#: Per-layer metrics (``--trace 1``) and their units.
LAYERS = {
    "session.get_spark_s": "s",
    "mem.jvm_peak_rss_mb": "MB",
    "op.count": "count",
    "op.wall_s": "s",
    "op.prepare_s": "s",
    "op.execute_s": "s",
    "op.spark_jobs": "count",
    "op.spark_tasks": "count",
    **{f"trace.overhead.{k}": u for k, u in E2E.items() if k != "setup_s"},
}


@dataclass
class Context:
    seed: int
    seconds: float
    traced: bool
    run_dir: Path
    t_start: float  # perf_counter value at process start
    # Records only where a workload passes it on, in its traced phase.
    tracer: Tracer | NullTracer = field(init=False)
    spark: object = None
    attempted: int = 0
    failed: int = 0
    oracle_s: float = 0.0  # time spent inside oracle checks (never timed)
    layers: dict = field(default_factory=dict)
    details: dict = field(default_factory=dict)  # workload-specific, traced
    _lock: threading.Lock = field(default_factory=threading.Lock, init=False, repr=False)

    def __post_init__(self) -> None:
        self.tracer = Tracer() if self.traced else NullTracer()

    def elapsed(self) -> float:
        return time.perf_counter() - self.t_start

    def mark(self, what: str) -> None:
        """Note on stderr how far the run has got."""
        print(f"perfbench: {what} at {self.elapsed():.1f} s "
              f"(oracle {self.oracle_s:.1f} s)", file=sys.stderr)

    def setup_done(self) -> float:
        """Set-up time: process start to the first timed operation,
        less the time the oracle checks took."""
        return self.elapsed() - self.oracle_s

    def attempt(self, what: str, fn, *args, **kwargs):
        """Run one counted operation; a raise is counted as a failure,
        reported on stderr, and returns None. Safe to call from several
        threads (the CDC writer counts its commits concurrently)."""
        with self._lock:
            self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:
            with self._lock:
                self.failed += 1
            print(f"operation failed: {what}", file=sys.stderr)
            traceback.print_exc()
            return None

    def start_spark(self):
        from streamz_postgres_spark.session import get_spark

        t0 = time.perf_counter()
        tmp = self.run_dir / "tmp"
        java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.driver.memory": "3g",
                "spark.driver.extraJavaOptions": java_opts,
                "spark.sql.warehouse.dir": str(self.run_dir / "warehouse"),
                "spark.local.dir": str(tmp),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layers["session.get_spark_s"] = (time.perf_counter() - t0, "s")
        self.mark("spark started")
        return self.spark

    def result(self, correct: bool, e2e: dict) -> dict:
        """The JSON record: end-to-end metrics untraced, per-layer
        metrics traced. Each metric maps to ``(value, unit)``. A run
        that could not measure every metric of its mode is not correct."""
        metrics = self.layers if self.traced else e2e
        if self.traced and self.spark is not None:
            metrics["mem.jvm_peak_rss_mb"] = (jvm_peak_rss_mb(self.spark), "MB")
        want = LAYERS if self.traced else E2E
        missing = sorted(set(want) - set(metrics))
        if missing:
            correct = False
            print(f"metrics not measured: {missing}", file=sys.stderr)
        assert all(metrics[k][1] == want[k] for k in want if k in metrics)
        return {
            "correct": bool(correct and not self.failed),
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(v), "unit": u}
                        for k, (v, u) in sorted(metrics.items())},
        }

    def ops(self, ops: list[dict]) -> None:
        """The ``op.*`` layer metrics from the traced phase's operations
        (poll cycles or query runs), each a dict with ``wall``,
        ``prepare``, ``jobs`` and ``tasks``. Means per operation, so
        that ``prepare_s + execute_s == wall_s``."""
        if not ops:
            return
        L = self.layers
        L["op.count"] = (len(ops), "count")
        L["op.wall_s"] = (mean([o["wall"] for o in ops]), "s")
        L["op.prepare_s"] = (mean([o["prepare"] for o in ops]), "s")
        L["op.execute_s"] = (L["op.wall_s"][0] - L["op.prepare_s"][0], "s")
        L["op.spark_jobs"] = (mean([o["jobs"] for o in ops]), "count")
        L["op.spark_tasks"] = (mean([o["tasks"] for o in ops]), "count")

    def overhead(self, untraced: dict, traced: dict) -> None:
        """Tracing overhead per end-to-end metric: traced minus
        untraced value, both measured in this run."""
        for k, (v, u) in untraced.items():
            if k in traced and k != "setup_s":
                self.layers[f"trace.overhead.{k}"] = (traced[k][0] - v, u)


def stop_spark(ctx: Context) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    if ctx.spark is None:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        ctx.spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        ctx.spark = None


class TimedDuck:
    """DuckDB connection proxy for ``oracle.check_query``: adds the
    time spent in DuckDB to ``ctx.oracle_s`` so set-up excludes it."""

    def __init__(self, con, ctx: Context) -> None:
        self._con = con
        self._ctx = ctx
        self.last_rows = 0

    def _timed(self, fn, *args):
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self._ctx.oracle_s += time.perf_counter() - t0

    def sql(self, q):
        return self._timed(self._con.sql, q)

    def execute(self, q):
        self._timed(self._con.execute, q)
        return self

    @property
    def description(self):
        return self._con.description

    def fetchall(self):
        rows = self._timed(self._con.fetchall)
        self.last_rows = len(rows)
        return rows


def check(ctx: Context, con: TimedDuck, name: str, sf_dir: str) -> int | None:
    """One counted oracle check of a registry query on this run's
    inputs; returns the result's row count, or None if it failed."""
    return ctx.attempt(f"oracle {name}", _check, ctx, con, name, sf_dir)


def _check(ctx: Context, con: TimedDuck, name: str, sf_dir: str) -> int:
    from streamz_postgres_spark.oracle import check_query
    from streamz_postgres_spark.registry import REGISTRY

    q = REGISTRY[name]
    if q.oracle is None:
        raise ValueError(f"{name} has no oracle to check against")
    ok, msg = check_query(ctx.spark, con, q, sf_dir)
    print(f"oracle {name}: {msg}", file=sys.stderr)
    if not ok:
        raise AssertionError(f"{name}: {msg}")
    return con.last_rows

"""``stream_replay``: five registry streaming queries, each a bounded
``availableNow`` replay of a generated event log into the memory sink.

The queries cover the state-store kinds the engine uses: a watermarked
tumbling window (append mode with a staged flush row), session windows,
watermarked dedup, a per-key EWMA fold in ``applyInPandasWithState``
and a stream-stream interval join. Set-up runs each query once through
the oracle check and then one untimed warm-up pass (the first pass
after the check still runs 10-35 % slower than later ones). Timed
passes then repeat all five while another pass fits in the run's
seconds, and each timed result must have the checked row count.

At this input size a query's wall time is almost all per-query and
per-micro-batch fixed cost (start, planning, state-store commit): three
times the events make a pass only about 5 % longer. So the metrics move
with the fixed cost of a streaming query, not with per-row state work;
the CDC drain covers per-row cost.

Metrics: ``latency_p50_s`` is the median (nearest rank) of the
timed query runs' wall times, ``throughput_per_s`` is events x 5
queries / pass wall time (median pass). Traced, an operation is one
query run: its ``execute`` part is the listener's ``addBatch`` time
(the micro-batches' data work), ``prepare`` the rest (query start,
planning, offset and WAL commits, stop, read-back).
"""

from __future__ import annotations

import sys
import time

from perfbench import gen
from perfbench.harness import Context, TimedDuck, check
from perfbench.stats import median, percentile
from perfbench.trace import NullTracer, job_counts, progress_totals, stream_listener

QUERIES = (
    "q_stream_tumbling_watermarked",
    "q_stream_session",
    "q_stream_dedup_watermarked",
    "q_stream_ewma",
    "q_stream_interval_join",
)
EVENTS = 10_000
USERS = 1_000
ZIPF_S = 0.7  # the hottest user holds about 4 % of the events
#: Input rows each query's sources read per replay: the tumbling query
#: replays a staged copy with one flush row appended, and the interval
#: join reads the log once per side.
INPUT_ROWS = {
    "q_stream_tumbling_watermarked": EVENTS + 1,
    "q_stream_interval_join": 2 * EVENTS,
}


def _pass(ctx: Context, sf: str, expect: dict, listener=None,
          ops: list | None = None) -> list[float] | None:
    """One timed pass over the five queries; returns the queries' wall
    times, or None if a query failed or returned the wrong row count.
    With a listener the pass is traced: each query runs under its own
    job group and its layer figures are appended to ``ops``."""
    from streamz_postgres_spark.registry import REGISTRY

    sc = ctx.spark.sparkContext
    tracer = ctx.tracer if listener is not None else NullTracer()
    walls = []
    for name in QUERIES:
        group = f"perfbench-{name}"
        if listener is not None:
            sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        with tracer.span(f"stream.{name}", op=name):
            n = ctx.attempt(name, lambda: REGISTRY[name].spark_fn(ctx.spark, sf).count())
        wall = time.perf_counter() - t0
        if listener is not None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        if n is None:
            return None
        if n != expect[name]:
            ctx.failed += 1
            print(f"{name}: {n} rows, oracle-checked {expect[name]}", file=sys.stderr)
            return None
        walls.append(wall)
        if listener is not None:
            ops.append(_record(ctx, listener, name, wall, group))
    print(f"stream pass: {[round(w, 2) for w in walls]}", file=sys.stderr)
    return walls


def _record(ctx: Context, listener, name: str, wall: float, group: str) -> dict:
    """One traced query run: its ``op`` figures, and the listener's
    fields in ``ctx.details``. The run's micro-batches are counted
    under the query's run id, which Spark uses as their job group."""
    run_id = listener.terminated.get(timeout=30)
    p = progress_totals(listener.progress.pop(run_id, []))
    want = INPUT_ROWS.get(name, EVENTS)
    if p["num_input_rows"] != want:
        ctx.failed += 1
        print(f"{name}: listener saw {p['num_input_rows']} input rows, "
              f"generated {want}", file=sys.stderr)
    D, pre = ctx.details, f"stream.{name}"
    D[f"{pre}.wall_s"] = wall
    D[f"{pre}.overhead_s"] = wall - p["trigger_ms"] / 1000.0
    for k in ("add_batch_ms", "query_planning_ms", "wal_commit_ms", "state_commit_ms",
              "state_rows_total", "state_memory_bytes", "rows_dropped_by_watermark"):
        D[f"{pre}.{k}"] = p[k]
    sc = ctx.spark.sparkContext
    main_jobs, main_tasks = job_counts(sc, group)
    batch_jobs, batch_tasks = job_counts(sc, run_id)
    return {"wall": wall, "prepare": wall - p["add_batch_ms"] / 1000.0,
            "jobs": main_jobs + batch_jobs, "tasks": main_tasks + batch_tasks}


def _passes(ctx: Context, sf: str, expect: dict) -> list[list[float]]:
    """Timed passes while another pass as long as the last one still
    fits in the run's seconds (at least one)."""
    passes: list[list[float]] = []
    t_end = time.perf_counter() + ctx.seconds
    while True:
        walls = _pass(ctx, sf, expect)
        if walls is None:
            break
        passes.append(walls)
        if time.perf_counter() + sum(walls) > t_end:
            break
    return passes


def _e2e(passes: list[list[float]]) -> dict:
    if not passes:
        return {}
    runs = [w for walls in passes for w in walls]
    return {
        "latency_p50_s": (percentile(runs, 0.5), "s"),
        "throughput_per_s": (EVENTS * len(QUERIES) / median([sum(w) for w in passes]),
                             "1/s"),
    }


def run(ctx: Context) -> dict:
    from streamz_postgres_spark.oracle import duckdb_connection
    from streamz_postgres_spark.registry import _load_all

    sf = str(ctx.run_dir / "sf")
    gen.write_tables(sf, 0.1, 42)  # companions the oracle views resolve
    gen.write_events(f"{sf}/events.parquet", EVENTS, ctx.seed, users=USERS, zipf_s=ZIPF_S)
    _load_all()
    ctx.start_spark()
    con = TimedDuck(duckdb_connection(sf), ctx)
    expect = {name: check(ctx, con, name, sf) for name in QUERIES}
    ctx.mark("oracle checks done")
    if None in expect.values() or _pass(ctx, sf, expect) is None:  # + warm-up
        return ctx.result(False, {"setup_s": (ctx.setup_done(), "s")})
    setup_s = ctx.setup_done()
    ctx.mark("set-up done")

    passes = _passes(ctx, sf, expect)
    e2e = {"setup_s": (setup_s, "s"), **_e2e(passes)}
    if ctx.traced:
        listener = stream_listener(ctx.spark)
        ops = []
        walls = _pass(ctx, sf, expect, listener, ops)
        if walls is not None and passes:
            ctx.overhead(e2e, _e2e([walls]))
            ctx.ops(ops)
    return ctx.result(bool(passes), e2e)

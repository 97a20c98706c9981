"""``cdc_pg_poll``: mirror a live Postgres table through
``PollingCdcSource(PsqlPollingLoader)`` into the merge sink that
``pick_merge_sink`` chooses, under an open-loop writer.

Open-loop phase: a writer thread on one persistent connection commits
a 20-change transaction every 100 ms (80 % updates of zipf-skewed
existing keys, 20 % inserts) while the main thread polls back to back.
Freshness of a transaction runs from its scheduled commit time to the
end of the first poll after which the source cursor reached its xid.

Drain phase: the writer stops; a bulk of 15 x 2,000 changes is
committed and the poll loop is timed until its cursor passes the last
xid, several times per run.

Afterwards the mirror must equal the table as a multiset over
``id, v, txn, note``.

Metrics: ``latency_p50_s`` is the median freshness, ``throughput_per_s``
the median drain rate in changes per second. The freshness p90 goes to
stderr and, traced, to the details: the other workloads have too few
operations per run for a p90 with ten samples beyond it, and every
workload reports the same metrics. Traced, an operation is one open-loop poll cycle: its
``prepare`` part is the loader's calls (psql COPY out of Postgres and
the safe-cursor query), the rest is the envelope and the merge.
"""

from __future__ import annotations

import csv
import io
import sys
import threading
import time
from collections import Counter

from perfbench import gen
from perfbench.harness import Context
from perfbench.pg import PgCluster, PgUnavailable, PsqlSession
from perfbench.stats import (Commit, Poll, backlog, freshness, median,
                             percentile, reportable)
from perfbench.trace import NullTracer, TimedLoader, job_counts

SEED_ROWS = 100_000
INTERVAL_S = 0.1
CHANGES_PER_TXN = 20
MIN_TXNS = 100  # p90 needs ten samples beyond it
WARMUP_TXNS = 40
WARMUP_POLLS = 8  # poll cycles still speed up over the first several
DRAINS = 4
BULK_TXNS = 15
BULK_CHANGES_PER_TXN = 2000
CATCH_UP_S = 30.0  # how long polls may chase the last open-loop xid


class Mirror:
    """The system under test: source, loader and sink, with the poll
    log the freshness computation reads."""

    def __init__(self, ctx: Context, pg: PgCluster) -> None:
        from streamz_postgres_spark.sources.cdc import (PollingCdcSource,
                                                        PsqlPollingLoader)
        from streamz_postgres_spark.streaming.merge import pick_merge_sink

        self.ctx = ctx
        self.loader = PsqlPollingLoader(spark=ctx.spark, dsn=pg.dsn,
                                        table=gen.CDC_TABLE, schema=gen.CDC_SCHEMA)
        self.sink = pick_merge_sink(ctx.spark, str(ctx.run_dir / "mirror"),
                                    key_cols=["key"], seq_col="seq", op_col="op")
        self.source = PollingCdcSource(self.loader, key_cols=["id"])
        self.tracer = NullTracer()
        self.polls: list[Poll] = []
        self.rows_emitted = 0
        self.n_polls = 0
        self.jobs: dict[str, tuple[int, int]] = {}  # traced: per poll cycle

    def use_tracer(self, tracer) -> None:
        self.tracer = tracer
        self.source.loader = (TimedLoader(self.loader, tracer) if tracer.enabled
                              else self.loader)

    def _apply(self, env, idx) -> None:
        # merge epochs must be consecutive; empty polls apply nothing
        with self.tracer.span("cdc.merge.merge_batch"):
            self.sink.merge_batch(env, self.sink.last_epoch + 1)

    def start(self) -> None:
        self.ctx.attempt("cdc start", self.source.start, self._apply)

    def poll(self) -> None:
        self.n_polls += 1
        op = f"poll{self.n_polls}"
        sc = self.ctx.spark.sparkContext
        if self.tracer.enabled:
            sc.setJobGroup(f"perfbench-{op}", op)

        def go():
            with self.tracer.span("cdc.poll_cycle", op=op):
                with self.tracer.span("cdc.source.poll_once"):
                    n = self.source.poll_once(self._apply, self.n_polls)
                self.rows_emitted += n
                self.polls.append(Poll(time.perf_counter(), self.source.cursor))

        self.ctx.attempt(f"cdc poll {self.n_polls}", go)
        if self.tracer.enabled:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.jobs[op] = job_counts(sc, f"perfbench-{op}")

    def rows(self) -> Counter:
        from pyspark.sql import functions as F

        cur = self.sink.current(self.ctx.spark)
        parsed = cur.select(F.from_json("after", gen.CDC_SCHEMA).alias("r")).select("r.*")
        return Counter((r.id, r.v, r.txn, r.note) for r in parsed.collect())


class Writer:
    """Commits planned transactions over one persistent connection;
    records each one's xid and scheduled and actual commit times."""

    def __init__(self, ctx: Context, pg: PgCluster, plan: gen.CdcPlan) -> None:
        self.ctx = ctx
        self.plan = plan
        self.session = PsqlSession(pg.dsn)
        self.commits: list[Commit] = []
        self.changes = 0
        self.lock = threading.Lock()

    def commit(self, txns: list[int], scheduled: float | None = None) -> list[int]:
        """Commit the given plan transactions in one round trip."""
        sql = "\n".join(gen.txn_sql(k + 1, self.plan.txns[k]) for k in txns)
        xids = [int(x) for x in self.session.run(sql)]
        done = time.perf_counter()
        with self.lock:
            for k, x in zip(txns, xids):
                self.commits.append(Commit(x, scheduled or done, done))
                self.changes += len(self.plan.txns[k])
        return xids

    def open_loop(self, txns: range, t0: float) -> threading.Thread:
        def loop():
            for i, k in enumerate(txns):
                due = t0 + i * INTERVAL_S
                time.sleep(max(0.0, due - time.perf_counter()))
                self.ctx.attempt(f"writer txn {k + 1}", self.commit, [k], due)

        t = threading.Thread(target=loop, name="cdc-writer", daemon=True)
        t.start()
        return t

    def close(self) -> None:
        self.session.close()


def _table_rows(pg: PgCluster) -> Counter:
    out = pg.sql(f"COPY (SELECT id, v, txn, note FROM {gen.CDC_TABLE}) TO STDOUT (FORMAT csv)")
    return Counter((int(i), float(v), int(t), n)
                   for i, v, t, n in csv.reader(io.StringIO(out)))


def _measure(ctx: Context, mirror: Mirror, writer: Writer, txns: range,
             bulks: list[range]) -> dict:
    """One open-loop phase then the drains; returns end-to-end metrics
    and the phase's raw counts."""
    tr = mirror.tracer
    first_commit = len(writer.commits)
    first_poll = len(mirror.polls)
    emitted0, polls0, changes0 = mirror.rows_emitted, mirror.n_polls, writer.changes
    t_spans0 = len(getattr(tr, "spans", []))

    thread = writer.open_loop(txns, time.perf_counter() + 0.05)
    backlog_end = 0
    while thread.is_alive():
        mirror.poll()
        with writer.lock:
            commits = writer.commits[first_commit:]
        backlog_end = backlog(commits, mirror.source.cursor, time.perf_counter())
    thread.join()
    commits = writer.commits[first_commit:]
    last_xid = max((c.xid for c in commits), default=0)
    deadline = time.perf_counter() + CATCH_UP_S
    while mirror.source.cursor < last_xid and time.perf_counter() < deadline:
        mirror.poll()
    samples, missed = freshness(commits, mirror.polls[first_poll:])
    ctx.failed += missed
    open_changes = writer.changes - changes0
    open_emitted = mirror.rows_emitted - emitted0
    open_polls = mirror.n_polls - polls0
    open_spans = len(getattr(tr, "spans", []))

    rates = []
    for bulk in bulks:
        before = writer.changes
        xids = ctx.attempt("bulk commit", writer.commit, list(bulk))
        if xids is None:
            continue
        t_commit = time.perf_counter()
        deadline = t_commit + CATCH_UP_S
        while mirror.source.cursor < max(xids) and time.perf_counter() < deadline:
            mirror.poll()
        if mirror.source.cursor < max(xids):
            ctx.failed += 1
            print("drain never caught up", file=sys.stderr)
            continue
        rates.append((writer.changes - before) / (mirror.polls[-1].end - t_commit))

    e2e = {}
    if reportable(len(samples), 0.5):
        e2e["latency_p50_s"] = (percentile(samples, 0.5), "s")
    p90 = percentile(samples, 0.9) if reportable(len(samples), 0.9) else None
    if rates:
        e2e["throughput_per_s"] = (median(rates), "1/s")
    lateness = [c.committed - c.scheduled for c in commits]
    raw = {
        "samples": len(samples), "backlog_end": backlog_end,
        "open_polls": open_polls, "open_emitted": open_emitted,
        "open_changes": open_changes, "lateness": lateness,
        "open_spans": (t_spans0, open_spans), "p90": p90,
    }
    ends = [q.end for q in mirror.polls[first_poll:]]
    print("cdc poll cycles: " + " ".join(f"{b - a:.2f}" for a, b in zip(ends, ends[1:])),
          file=sys.stderr)
    p90_txt = "none" if p90 is None else f"{p90:.3f} s"
    print(f"cdc: {len(samples)} freshness samples (p90 {p90_txt}), {missed} missed, "
          f"{open_polls} open-loop polls, backlog at end {backlog_end}, "
          f"drain rates {[round(r) for r in rates]}", file=sys.stderr)
    return {"e2e": e2e, "raw": raw}


def _layers(ctx: Context, mirror: Mirror, raw: dict) -> None:
    """Per-layer figures of the traced phase's open loop. The ``op.*``
    metrics split each poll cycle into the loader's calls and the rest;
    the finer split goes to ``ctx.details``, per poll cycle: the self
    times ``loader.incremental + loader.safe_cursor + source.envelope +
    merge.merge_batch + poll_cycle.self`` add up to ``poll_cycle_s``,
    where ``poll_cycle.self`` is the benchmark's own bookkeeping."""
    part = ctx.tracer.window(*raw["open_spans"])
    ops = []
    for op, spans in part.ops().items():
        cycle = next(s for s in spans if s.name == "cdc.poll_cycle")
        loader = sum(s.end - s.start for s in spans if s.name.startswith("cdc.loader."))
        jobs, tasks = mirror.jobs.get(op, (0, 0))
        ops.append({"wall": cycle.end - cycle.start, "prepare": loader,
                    "jobs": jobs, "tasks": tasks})
    ctx.ops(ops)
    tot, own, cnt = part.totals(), part.self_times(), part.counts()
    cycles = cnt.get("cdc.poll_cycle", 0) or 1
    D = ctx.details
    D["cdc.poll_cycle_s"] = tot.get("cdc.poll_cycle", 0.0) / cycles
    D["cdc.poll_cycle.self_s"] = own.get("cdc.poll_cycle", 0.0) / cycles
    # max_cursor is not reported: poll_once calls it only for loaders
    # without a safe_cursor horizon, and PsqlPollingLoader always has one.
    for name in ("incremental", "safe_cursor"):
        D[f"cdc.loader.{name}_s"] = tot.get(f"cdc.loader.{name}", 0.0) / cycles
    D["cdc.source.poll_once_s"] = tot.get("cdc.source.poll_once", 0.0) / cycles
    D["cdc.source.envelope_s"] = own.get("cdc.source.poll_once", 0.0) / cycles
    D["cdc.merge.merge_batch_s"] = tot.get("cdc.merge.merge_batch", 0.0) / cycles
    D["cdc.polls"] = raw["open_polls"]
    D["cdc.source.rows_emitted"] = raw["open_emitted"]
    D["cdc.writer.changes_committed"] = raw["open_changes"]
    D["cdc.source.reread_ratio"] = raw["open_emitted"] / max(1, raw["open_changes"])
    D["cdc.backlog_txns_end"] = raw["backlog_end"]
    D["cdc.freshness_samples"] = raw["samples"]
    if raw["p90"] is not None:
        D["cdc.freshness_p90_s"] = raw["p90"]
    D["cdc.writer.lateness_s"] = median(raw["lateness"])
    D["cdc.writer.lateness_max_s"] = max(raw["lateness"])
    print("cdc traced: " + ", ".join(f"{k} {v:.4g}" for k, v in D.items()),
          file=sys.stderr)


def run(ctx: Context) -> dict:
    n_txns = max(MIN_TXNS, round(ctx.seconds / INTERVAL_S))
    phases = 2 if ctx.traced else 1
    plan = gen.cdc_plan(ctx.seed, SEED_ROWS, txns=WARMUP_TXNS + phases * n_txns,
                        changes_per_txn=CHANGES_PER_TXN,
                        bulk_txns=phases * DRAINS * BULK_TXNS,
                        bulk_changes=BULK_CHANGES_PER_TXN)
    try:
        pg = PgCluster(ctx.run_dir)
    except PgUnavailable as e:
        ctx.attempted += 1
        ctx.failed += 1
        print(f"cdc_pg_poll cannot run: {e}", file=sys.stderr)
        return ctx.result(False, {})
    with pg:
        pg.sql(f"CREATE TABLE {gen.CDC_TABLE} (id bigint PRIMARY KEY, "
               "v double precision, txn bigint, note text)")
        pg.sql(f"COPY {gen.CDC_TABLE} FROM STDIN (FORMAT csv)", stdin=plan.seed_csv())
        ctx.mark("postgres seeded")
        ctx.start_spark()
        mirror = Mirror(ctx, pg)
        writer = Writer(ctx, pg, plan)
        try:
            mirror.start()
            ctx.mark("cdc start() done")
            per = WARMUP_TXNS // WARMUP_POLLS
            for i in range(WARMUP_POLLS):
                writer.commit(list(range(i * per, (i + 1) * per)))
                mirror.poll()
            setup_s = ctx.setup_done()
            ctx.mark("set-up done")
            mirror.polls.clear()
            writer.commits.clear()

            base = WARMUP_TXNS
            nb = plan.n_open
            bulks = [range(nb + i * BULK_TXNS, nb + (i + 1) * BULK_TXNS)
                     for i in range(phases * DRAINS)]
            out = _measure(ctx, mirror, writer, range(base, base + n_txns), bulks[:DRAINS])
            e2e = {"setup_s": (setup_s, "s"), **out["e2e"]}
            if ctx.traced:
                mirror.use_tracer(ctx.tracer)
                traced = _measure(ctx, mirror, writer,
                                  range(base + n_txns, base + 2 * n_txns), bulks[DRAINS:])
                mirror.use_tracer(NullTracer())
                ctx.overhead(out["e2e"], traced["e2e"])
                _layers(ctx, mirror, traced["raw"])
            mirror_rows = ctx.attempt("mirror check", mirror.rows)
            table_rows = _table_rows(pg)
            correct = mirror_rows == table_rows
            if not correct:
                ctx.failed += 1
                print(f"mirror mismatch: {len(mirror_rows or ())} mirror rows vs "
                      f"{len(table_rows)} table rows", file=sys.stderr)
            if ctx.traced and mirror_rows is not None:
                ctx.details["cdc.merge.state_rows"] = sum(mirror_rows.values())
            return ctx.result(correct, e2e)
        finally:
            writer.close()

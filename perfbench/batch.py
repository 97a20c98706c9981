"""``batch_analytics``: nine registry batch queries, one per operator
module, in two groups over a generated star schema and corpus whose
rows are permuted by the run seed (the content is fixed, so the work
is too).

- relational: scans, shuffles and joins (``operators.flagship``,
  ``joins``, ``aggregates``, ``windows``, ``tpch``);
- corpus: the LLM-pipeline operators (``operators.similarity``,
  ``dedup``, ``text``, ``multimodal``: Python UDFs, LSH candidate
  pairs, connected-components rounds).

Each query is a full ``spark_fn(...)`` followed by a ``.count()``
drain. Set-up runs each once through the oracle check, which is also
the warm-up (one more untimed pass did not make the figures steadier
and would not fit a regression round's time); every timed count must
equal the checked row count.

Metrics: ``latency_p50_s`` is the median (nearest rank) of the
timed queries' wall times, ``throughput_per_s`` is queries per second
of a pass (median pass). Each group's pass time goes to stderr, and
traced to the details, so that a relational change can be told from a
corpus one. Traced, an operation is one query: ``prepare`` is the
``spark_fn`` call (plan building, eager ``localCheckpoint`` jobs
included), ``execute`` the ``.count()``.
"""

from __future__ import annotations

import sys
import time

from perfbench import gen
from perfbench.harness import Context, TimedDuck, check
from perfbench.stats import median, percentile
from perfbench.trace import NullTracer, job_counts

GROUPS = {
    "relational": ("q_flagship", "q_join_multiway", "q_group_agg", "q_window_rank",
                   "q_tpch_q5"),
    # q_dedup_minhash_clusters runs the MinHash/LSH candidate pairs of
    # q_dedup_minhash plus the connected-components rounds.
    "corpus": ("q_sim_cosine", "q_dedup_minhash_clusters", "q_text_tfidf",
               "q_multimodal"),
}
CONTENT_SEED = 42
SCALE = 0.3


def _query(ctx: Context, name: str, sf: str, expect: int, tag: str, tracer) -> dict | None:
    """Time one query: ``{"wall", "prepare"}`` (and, traced, its job
    and task counts under its own job group), or None if it failed or
    returned the wrong row count."""
    from streamz_postgres_spark.registry import REGISTRY

    sc = ctx.spark.sparkContext
    group = f"perfbench-{tag}-{name}"
    if tracer.enabled:
        sc.setJobGroup(group, name)

    def go():
        with tracer.span(f"batch.{name}", op=f"{tag}-{name}"):
            t0 = time.perf_counter()
            with tracer.span(f"batch.{name}.plan"):
                df = REGISTRY[name].spark_fn(ctx.spark, sf)
            t1 = time.perf_counter()
            with tracer.span(f"batch.{name}.exec"):
                n = df.count()
            return {"wall": time.perf_counter() - t0, "prepare": t1 - t0}, n

    got = ctx.attempt(name, go)
    if tracer.enabled:
        sc.setLocalProperty("spark.jobGroup.id", None)
    if got is None:
        return None
    op, n = got
    if n != expect:
        ctx.failed += 1
        print(f"{name}: {n} rows, oracle-checked {expect}", file=sys.stderr)
        return None
    if tracer.enabled:
        op["jobs"], op["tasks"] = job_counts(sc, group)
    return op


def _passes(ctx: Context, sf: str, expect: dict, tag: str, seconds: float,
            tracer=NullTracer()) -> list[dict]:
    """Timed passes over both groups while another pass as long as the
    last one still fits in ``seconds`` (at least one); each pass maps a
    query to its figures. A pass with a failed query is left out (the
    failure is counted)."""
    passes = []
    t_end = time.perf_counter() + seconds
    last = 0.0
    while not passes or time.perf_counter() + last <= t_end:
        t0 = time.perf_counter()
        got = {name: _query(ctx, name, sf, expect[name], f"{tag}{len(passes)}", tracer)
               for names in GROUPS.values() for name in names}
        last = time.perf_counter() - t0
        if None in got.values():
            break
        passes.append(got)
    return passes


def _e2e(passes: list[dict]) -> dict:
    if not passes:
        return {}
    runs = [op["wall"] for p in passes for op in p.values()]
    return {
        "latency_p50_s": (percentile(runs, 0.5), "s"),
        "throughput_per_s": (len(passes[0]) / median([sum(op["wall"] for op in p.values())
                                                      for p in passes]), "1/s"),
    }


def _groups(passes: list[dict]) -> dict[str, float]:
    """Per group, the sum of its queries' median wall times."""
    return {f"batch.{g}_pass_s": sum(median([p[q]["wall"] for p in passes]) for q in names)
            for g, names in GROUPS.items()}


def run(ctx: Context) -> dict:
    from streamz_postgres_spark.oracle import duckdb_connection
    from streamz_postgres_spark.registry import _load_all

    base, sf = str(ctx.run_dir / "base"), str(ctx.run_dir / "sf")
    gen.write_tables(base, SCALE, CONTENT_SEED)
    gen.permute_tables(base, sf, ctx.seed)
    _load_all()
    ctx.start_spark()
    con = TimedDuck(duckdb_connection(sf), ctx)
    expect = {q: check(ctx, con, q, sf) for names in GROUPS.values() for q in names}
    ctx.mark("oracle checks done")
    if None in expect.values():
        return ctx.result(False, {"setup_s": (ctx.setup_done(), "s")})
    setup_s = ctx.setup_done()
    ctx.mark("set-up done")

    passes = _passes(ctx, sf, expect, "p", ctx.seconds)
    e2e = {"setup_s": (setup_s, "s"), **_e2e(passes)}
    if passes:
        print("batch: " + ", ".join(f"{q} {[round(p[q]['wall'], 2) for p in passes]}"
                                    for q in passes[0]), file=sys.stderr)
        print("batch groups: " + ", ".join(f"{k} {v:.3f}" for k, v in _groups(passes).items()),
              file=sys.stderr)
    if ctx.traced:
        traced = _passes(ctx, sf, expect, "t", 0, ctx.tracer)
        if traced and passes:
            ctx.overhead(e2e, _e2e(traced))
            ctx.ops(list(traced[0].values()))
            ctx.details.update(_groups(traced))
            for q, op in traced[0].items():
                ctx.details[f"batch.{q}.plan_s"] = op["prepare"]
                ctx.details[f"batch.{q}.exec_s"] = op["wall"] - op["prepare"]
                ctx.details[f"batch.{q}.spark_jobs"] = op["jobs"]
                ctx.details[f"batch.{q}.spark_tasks"] = op["tasks"]
    return ctx.result(bool(passes), e2e)

"""Benchmark self-tests that need no Spark: generator determinism,
percentiles and freshness on scripted timelines, span self times and
operation counters shared by threads.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os

import pytest

from perfbench import gen
from perfbench.stats import (Commit, Poll, backlog, freshness, percentile,
                             reportable, tail_count)
from perfbench.trace import Tracer


def _digest(directory: str) -> dict[str, str]:
    return {
        name: hashlib.sha256(open(os.path.join(directory, name), "rb").read()).hexdigest()
        for name in sorted(os.listdir(directory))
    }


def test_cdc_plan_is_deterministic_per_seed():
    a = gen.cdc_plan(7, 1000, txns=30, changes_per_txn=20, bulk_txns=2, bulk_changes=300)
    b = gen.cdc_plan(7, 1000, txns=30, changes_per_txn=20, bulk_txns=2, bulk_changes=300)
    c = gen.cdc_plan(8, 1000, txns=30, changes_per_txn=20, bulk_txns=2, bulk_changes=300)
    assert a == b and a.seed_csv() == b.seed_csv()
    assert a.txns != c.txns and a.seed_csv() != c.seed_csv()
    sql_a = [gen.txn_sql(k + 1, t) for k, t in enumerate(a.txns)]
    assert sql_a == [gen.txn_sql(k + 1, t) for k, t in enumerate(b.txns)]


def test_cdc_plan_shape():
    p = gen.cdc_plan(3, 1000, txns=50, changes_per_txn=20, bulk_txns=2, bulk_changes=300)
    assert p.n_open == 50 and len(p.txns) == 52
    inserted = [c.id for t in p.txns for c in t if c.op == "i"]
    # inserts take fresh, increasing ids above the seed rows
    assert inserted == sorted(inserted) and inserted[0] == 1001
    assert len(set(inserted)) == len(inserted)
    for t in p.txns:
        ids = [c.id for c in t]
        assert len(ids) == len(set(ids))  # each key written once per txn
        assert all(c.id <= 1000 for c in t if c.op == "u")
    # 20 % inserts per open-loop transaction
    assert all(sum(c.op == "i" for c in t) == 4 for t in p.txns[:50])


def test_events_bytes_identical_per_seed(tmp_path):
    for d in ("a", "b", "c"):
        (tmp_path / d).mkdir()
    gen.write_events(str(tmp_path / "a" / "events.parquet"), 2000, 5)
    gen.write_events(str(tmp_path / "b" / "events.parquet"), 2000, 5)
    gen.write_events(str(tmp_path / "c" / "events.parquet"), 2000, 6)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))


def test_events_schema_and_span():
    import pyarrow as pa

    t = gen.events_table(5000, 1, users=500, zipf_s=0.7)
    assert t.schema.field("ts").type == pa.timestamp("us")
    ts = t.column("ts").to_pylist()
    assert ts == sorted(ts)
    assert (ts[-1] - ts[0]).days < 30 and ts[-1].year == 2024 and ts[-1].month == 1
    assert set(t.column("event_type").to_pylist()) == set(gen.EVENT_TYPES)
    users = t.column("user_id").to_pylist()
    top = max(users.count(u) for u in set(users)) / len(users)
    assert 0.01 < top < 0.1  # zipf skew: the hottest user holds a few %


def test_tables_and_permutation_bytes_identical_per_seed(tmp_path):
    base = str(tmp_path / "base")
    counts = gen.write_tables(base, 0.05, 42)
    assert set(counts) == set(gen.TABLES)
    gen.permute_tables(base, str(tmp_path / "p1"), 9)
    gen.permute_tables(base, str(tmp_path / "p2"), 9)
    gen.permute_tables(base, str(tmp_path / "p3"), 10)
    assert _digest(str(tmp_path / "p1")) == _digest(str(tmp_path / "p2"))
    assert _digest(str(tmp_path / "p1")) != _digest(str(tmp_path / "p3"))
    again = str(tmp_path / "again")
    gen.write_tables(again, 0.05, 42)
    assert _digest(base) == _digest(again)


def test_permutation_keeps_the_rows(tmp_path):
    import pyarrow.parquet as pq

    base = str(tmp_path / "base")
    gen.write_tables(base, 0.05, 42)
    gen.permute_tables(base, str(tmp_path / "p"), 3)
    for name in gen.TABLES:
        a = pq.read_table(f"{base}/{name}.parquet").to_pylist()
        b = pq.read_table(f"{tmp_path}/p/{name}.parquet").to_pylist()
        key = lambda r: repr(sorted(r.items()))  # noqa: E731
        assert sorted(a, key=key) == sorted(b, key=key)
        if len(a) > 10:
            assert a != b


def test_percentile_nearest_rank():
    v = [float(i) for i in range(1, 101)]
    assert percentile(v, 0.5) == 50.0
    assert percentile(v, 0.9) == 90.0
    assert percentile([3.0], 0.9) == 3.0
    with pytest.raises(ValueError):
        percentile([], 0.5)


def test_percentile_reported_only_with_ten_samples_beyond():
    assert tail_count(100, 0.9) == 10 and reportable(100, 0.9)
    assert not reportable(99, 0.9)
    assert reportable(20, 0.5) and not reportable(19, 0.5)
    assert not reportable(0, 0.5)


def test_freshness_on_scripted_timeline():
    # three transactions due every 100 ms; polls end at 0.25 s (cursor
    # 10, covers xid 10 only), 0.6 s (cursor 11: the horizon held xid
    # 12 back) and 0.9 s (cursor 12)
    commits = [Commit(10, 0.0, 0.01), Commit(11, 0.1, 0.12), Commit(12, 0.2, 0.21)]
    polls = [Poll(0.9, 12), Poll(0.25, 10), Poll(0.6, 11)]
    samples, missed = freshness(commits, polls)
    assert missed == 0
    assert samples == pytest.approx([0.25, 0.5, 0.7])


def test_freshness_counts_unpassed_transactions_as_missed():
    commits = [Commit(10, 0.0, 0.01), Commit(11, 0.1, 0.12)]
    samples, missed = freshness(commits, [Poll(0.5, 10)])
    assert samples == pytest.approx([0.5]) and missed == 1


def test_backlog_counts_committed_unpassed():
    commits = [Commit(10, 0.0, 0.01), Commit(11, 0.1, 0.12), Commit(12, 0.2, 0.21)]
    assert backlog(commits, cursor=10, at=0.15) == 1
    assert backlog(commits, cursor=10, at=0.3) == 2
    assert backlog(commits, cursor=12, at=0.3) == 0


def test_self_time_subtracts_children():
    tr = Tracer()
    clock = iter([0.0, 1.0, 3.0, 4.0, 4.5, 6.0])
    import perfbench.trace as trace_mod

    real = trace_mod.time.perf_counter
    trace_mod.time.perf_counter = lambda: next(clock)
    try:
        with tr.span("cycle", op="p1"):
            with tr.span("load"):
                pass
            with tr.span("merge"):
                pass
    finally:
        trace_mod.time.perf_counter = real
    assert tr.totals() == {"cycle": 6.0, "load": 2.0, "merge": 0.5}
    assert tr.self_times() == {"cycle": 3.5, "load": 2.0, "merge": 0.5}
    assert {s.op for s in tr.spans} == {"p1"}
    assert [s.parent for s in tr.spans] == [None, 0, 0]


def test_attempt_counts_survive_concurrent_threads(tmp_path):
    import sys
    import threading

    from perfbench.harness import Context

    ctx = Context(1, 1.0, False, tmp_path, 0.0)

    def boom():
        raise RuntimeError("counted, not raised")

    def worker(i):
        for j in range(300):
            ctx.attempt("op", boom if (i + j) % 3 == 0 else int)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert ctx.attempted == 16 * 300
    assert ctx.failed == sum((i + j) % 3 == 0 for i in range(16) for j in range(300))

"""Contract tests for the pluggable MERGE seam (streaming/merge.py).

Every test drives the sink THROUGH THE SEAM INTERFACE
(merge_batch / compact / current), not through format-specific
internals, so a Delta-backed implementation must pass the same
suite unchanged the day a Delta runtime exists. The contract under
test: latest-row-wins per key, delete tombstones that cannot be
resurrected by late older updates, idempotent epoch replay, and
lazy current() with tombstones filtered.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, last_seq long, current_value double, op string"
    )


@pytest.fixture()
def sink():
    from streamz_postgres_spark.streaming.merge import SnapshotMergeSink

    d = tempfile.mkdtemp(prefix="merge_seam_")
    yield SnapshotMergeSink(
        d, key_cols=["user_id"], seq_col="last_seq", op_col="op"
    )
    shutil.rmtree(d, ignore_errors=True)


def _state(spark, sink):
    cur = sink.current(spark)
    assert cur is not None
    return {
        r.user_id: (r.last_seq, r.current_value)
        for r in cur.collect()
    }


class TestMergeSinkContract:
    def test_latest_wins_within_and_across_epochs(self, spark, sink):
        sink.merge_batch(
            _mk(spark, [(1, 10, 1.0, "u"), (1, 12, 2.0, "u"), (2, 11, 3.0, "u")]),
            0,
        )
        assert _state(spark, sink) == {1: (12, 2.0), 2: (11, 3.0)}
        # an older cross-epoch row must NOT regress key 1
        sink.merge_batch(
            _mk(spark, [(1, 11, 9.0, "u"), (2, 20, 4.0, "u")]), 1
        )
        assert _state(spark, sink) == {1: (12, 2.0), 2: (20, 4.0)}

    def test_tombstone_hides_key_and_blocks_resurrection(self, spark, sink):
        sink.merge_batch(_mk(spark, [(1, 10, 1.0, "u")]), 0)
        sink.merge_batch(_mk(spark, [(1, 20, 0.0, "d")]), 1)
        assert _state(spark, sink) == {}
        # late-arriving OLDER update for the deleted key: the
        # tombstone must keep winning
        sink.merge_batch(_mk(spark, [(1, 15, 5.0, "u")]), 2)
        assert _state(spark, sink) == {}
        # a genuinely NEWER update re-creates the key
        sink.merge_batch(_mk(spark, [(1, 25, 7.0, "u")]), 3)
        assert _state(spark, sink) == {1: (25, 7.0)}

    def test_epoch_replay_is_idempotent(self, spark, sink):
        sink.merge_batch(_mk(spark, [(1, 10, 1.0, "u")]), 0)
        b1 = _mk(spark, [(1, 20, 2.0, "u"), (2, 5, 3.0, "u")])
        sink.merge_batch(b1, 1)
        once = _state(spark, sink)
        # a restarted foreachBatch replays the failed epoch
        sink.merge_batch(b1, 1)
        assert _state(spark, sink) == once == {1: (20, 2.0), 2: (5, 3.0)}

    def test_empty_stream_has_no_current(self, spark, sink):
        assert sink.current(spark) is None

    def test_compact_keeps_only_final_state(self, spark, sink):
        for ep in range(3):
            sink.merge_batch(
                _mk(spark, [(1, 10 + ep, float(ep), "u")]), ep
            )
        sink.compact()
        assert _state(spark, sink) == {1: (12, 2.0)}


def test_pick_merge_sink_selects_best_available(spark):
    """The seam: Delta runtime absent here, so the factory must fall
    back to the snapshot sink (and never raise mid-stream)."""
    from streamz_postgres_spark.streaming.merge import (
        DeltaMergeSink,
        SnapshotMergeSink,
        pick_merge_sink,
    )

    d = tempfile.mkdtemp(prefix="merge_pick_")
    try:
        s = pick_merge_sink(spark, d, ["user_id"], "last_seq", "op")
        delta_capable = False
        try:
            import delta  # noqa: F401

            delta_capable = "DeltaSparkSessionExtension" in (
                spark.conf.get("spark.sql.extensions", "") or ""
            )
        except ImportError:
            pass
        if delta_capable:
            assert isinstance(s, DeltaMergeSink)
        else:
            # package absent OR session lacks the Delta extension:
            # either way the Delta strategy must fail at WIRING
            # time, loudly, and the factory must fall back
            assert isinstance(s, SnapshotMergeSink)
            with pytest.raises(ImportError):
                DeltaMergeSink(spark, d, ["user_id"], "last_seq", "op")
    finally:
        shutil.rmtree(d, ignore_errors=True)


# --- log-structured chain: folds, time travel, restart, crash ------------


def _batches(seed, epochs, keys=30):
    """Seeded change batches with deletes and late, older updates.
    Sequence numbers are unique, so latest-wins has no ties: row i of
    epoch e gets ``1000 * e + i``, or, when late, a slot in an older
    epoch's range, ``1000 * past + 500 + 6 * e + i`` (i < 6, e < 80)."""
    import random

    rng = random.Random(seed)
    out = []
    for ep in range(epochs):
        rows = []
        for i in range(rng.randint(1, 6)):
            late = ep > 0 and rng.random() < 0.25
            seq = (
                1000 * rng.randrange(ep) + 500 + 6 * ep + i
                if late
                else 1000 * ep + i
            )
            op = "d" if rng.random() < 0.2 else "u"
            rows.append((rng.randrange(keys), seq, float(seq), op))
        out.append(rows)
    return out


def _expected(batches):
    """Plain latest-wins over every row of ``batches``, deletes
    dropped — the reference the sink must reproduce."""
    best = {}
    for rows in batches:
        for k, seq, v, op in rows:
            if k not in best or seq > best[k][0]:
                best[k] = (seq, v, op)
    return {k: (s, v) for k, (s, v, op) in best.items() if op != "d"}


@pytest.fixture()
def target_dir():
    d = tempfile.mkdtemp(prefix="merge_chain_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _new_sink(target_dir):
    from streamz_postgres_spark.streaming.merge import SnapshotMergeSink

    return SnapshotMergeSink(
        target_dir, key_cols=["user_id"], seq_col="last_seq", op_col="op"
    )


def _as_of(spark, sink, epoch):
    return {
        r.user_id: (r.last_seq, r.current_value)
        for r in sink.as_of(spark, epoch).collect()
    }


class TestFoldedChain:
    def test_seeded_run_across_folds_matches_latest_wins(
        self, spark, target_dir
    ):
        from streamz_postgres_spark.streaming.merge import FOLD_EVERY

        batches = _batches(7, 2 * FOLD_EVERY + 3)
        sink = _new_sink(target_dir)
        for ep, rows in enumerate(batches):
            sink.merge_batch(_mk(spark, rows), ep)
        assert _state(spark, sink) == _expected(batches)

    def test_as_of_around_folds(self, spark, target_dir):
        from streamz_postgres_spark.streaming.merge import FOLD_EVERY

        batches = _batches(11, 2 * FOLD_EVERY + 2)
        sink = _new_sink(target_dir)
        for ep, rows in enumerate(batches):
            sink.merge_batch(_mk(spark, rows), ep)
        # the first fold happens at FOLD_EVERY - 1, the second
        # FOLD_EVERY epochs later
        first, second = FOLD_EVERY - 1, 2 * FOLD_EVERY - 1
        for ep in (0, first - 1, first, first + 1, second, second + 1):
            assert _as_of(spark, sink, ep) == _expected(batches[: ep + 1]), ep

    def test_restarted_sink_continues_from_disk(self, spark, target_dir):
        from streamz_postgres_spark.streaming.merge import FOLD_EVERY

        batches = _batches(13, 2 * FOLD_EVERY + 1)
        cut = FOLD_EVERY + 3
        first = _new_sink(target_dir)
        for ep, rows in enumerate(batches[:cut]):
            first.merge_batch(_mk(spark, rows), ep)
        before = _state(spark, first)
        # a restarted job builds a fresh sink on the same directory
        # and resumes at the next epoch
        again = _new_sink(target_dir)
        for ep in range(cut, len(batches)):
            again.merge_batch(_mk(spark, batches[ep]), ep)
            if ep == cut:
                assert _as_of(spark, again, cut - 1) == before
        assert _state(spark, again) == _expected(batches)

    def test_replaying_the_folding_epoch_is_idempotent(
        self, spark, target_dir
    ):
        from streamz_postgres_spark.streaming.merge import FOLD_EVERY

        batches = _batches(17, FOLD_EVERY + 1)
        fold = FOLD_EVERY - 1
        sink = _new_sink(target_dir)
        for ep, rows in enumerate(batches[: fold + 1]):
            sink.merge_batch(_mk(spark, rows), ep)
        once = _state(spark, sink)
        sink.merge_batch(_mk(spark, batches[fold]), fold)
        assert _state(spark, sink) == once == _expected(batches[: fold + 1])
        # a replay that reads different rows (a live source moved on)
        # replaces the epoch's contribution, fold included
        changed = [(k, seq, v + 0.5, op) for k, seq, v, op in batches[fold]]
        sink.merge_batch(_mk(spark, changed), fold)
        assert _state(spark, sink) == _expected(batches[:fold] + [changed])
        sink.merge_batch(_mk(spark, batches[fold]), fold)
        sink.merge_batch(_mk(spark, batches[fold + 1]), fold + 1)
        assert _state(spark, sink) == _expected(batches)

    def test_uncommitted_epoch_directory_is_ignored(self, spark, target_dir):
        import os

        batches = _batches(19, 4)
        sink = _new_sink(target_dir)
        for ep, rows in enumerate(batches):
            sink.merge_batch(_mk(spark, rows), ep)
        # the last epoch's write crashed before Spark committed it:
        # its files are there, its _SUCCESS marker is not
        last = len(batches) - 1
        (crashed,) = [
            os.path.join(target_dir, name)
            for name in os.listdir(target_dir)
            if name.endswith(f"_v{last}")
        ]
        os.remove(os.path.join(crashed, "_SUCCESS"))
        assert _state(spark, sink) == _expected(batches[:last])
        # the restarted job replays that epoch and commits it
        sink.merge_batch(_mk(spark, batches[last]), last)
        assert _state(spark, sink) == _expected(batches)

    def test_compact_folds_and_drops_older_epochs(self, spark, target_dir):
        from streamz_postgres_spark.streaming.merge import FOLD_EVERY

        batches = _batches(23, FOLD_EVERY + 4)
        last = len(batches) - 2
        sink = _new_sink(target_dir)
        for ep, rows in enumerate(batches[: last + 1]):
            sink.merge_batch(_mk(spark, rows), ep)
        sink.compact()
        assert _state(spark, sink) == _expected(batches[: last + 1])
        assert _as_of(spark, sink, last) == _expected(batches[: last + 1])
        # retention: epochs before the compaction are gone
        with pytest.raises(FileNotFoundError):
            sink.as_of(spark, last - 1)
        sink.merge_batch(_mk(spark, batches[-1]), last + 1)
        assert _state(spark, sink) == _expected(batches)

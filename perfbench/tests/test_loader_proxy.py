"""The timing proxy must leave ``PollingCdcSource`` cursor behaviour
identical to the bare loader (needs a local Spark session).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench.trace import TimedLoader, Tracer  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_LAUNCHER_OPTS", "-XX:-UsePerfData")
    from streamz_postgres_spark.session import get_spark

    tmp = tmp_path_factory.mktemp("spark")
    s = get_spark(
        app_name="perfbench-tests",
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": str(tmp),
            "spark.sql.warehouse.dir": str(tmp / "warehouse"),
        },
    )
    yield s
    s.stop()


class ScriptedLoader:
    """A table of ``(id, v, cursor)`` rows the test edits between polls,
    with a scripted ``safe_cursor`` horizon."""

    def __init__(self, spark, safes):
        self.spark = spark
        self.rows: dict[int, tuple[float, int]] = {}
        self.safes = list(safes)
        self.closed = 0

    def _df(self, rows):
        return self.spark.createDataFrame(
            [(i, v, c) for i, (v, c) in sorted(rows.items())],
            "id bigint, v double, __cursor bigint",
        )

    def snapshot(self):
        return self._df(self.rows)

    def max_cursor(self):
        return max((c for _, c in self.rows.values()), default=0)

    def incremental(self, cursor):
        return self._df({i: r for i, r in self.rows.items() if r[1] > cursor})

    def safe_cursor(self):
        return self.safes.pop(0)

    def close(self):
        self.closed += 1


class NoHorizonLoader(ScriptedLoader):
    """Same table, but no in-flight-transaction horizon at all."""

    def __getattribute__(self, name):
        if name == "safe_cursor":
            raise AttributeError(name)
        return super().__getattribute__(name)


def _script(loader, wrap):
    """Snapshot, then polls across inserts, an update, a horizon that
    holds a transaction back, and a horizon regression (wraparound)."""
    from streamz_postgres_spark.sources.cdc import PollingCdcSource

    applied = []
    src = PollingCdcSource(wrap(loader), key_cols=["id"])
    loader.rows = {1: (1.0, 5), 2: (2.0, 5)}
    src.start(lambda df, i: applied.append(df.count()))
    cursors = [src.cursor]
    steps = [
        {3: (3.0, 7)},             # insert
        {1: (1.5, 9), 4: (4.0, 10)},  # update + insert, horizon holds 10
        {},                        # nothing new
        {2: (2.5, 12)},
        {5: (5.0, 13)},            # horizon regresses below the cursor
    ]
    for k, change in enumerate(steps, start=1):
        loader.rows.update(change)
        n = src.poll_once(lambda df, i: applied.append(df.count()), k)
        cursors.append((n, src.cursor))
    return cursors, applied, loader.closed


@pytest.mark.parametrize("cls", [ScriptedLoader, NoHorizonLoader])
def test_proxy_keeps_cursor_behaviour(spark, cls):
    safes = [7, 9, 10, 12, 3]
    bare = _script(cls(spark, safes), lambda ld: ld)
    tracer = Tracer()
    proxied = _script(cls(spark, safes), lambda ld: TimedLoader(ld, tracer))
    assert proxied == bare
    names = {s.name for s in tracer.spans}
    assert {"cdc.loader.snapshot", "cdc.loader.incremental"} <= names
    if cls is ScriptedLoader:
        assert "cdc.loader.safe_cursor" in names
        # the horizon capped the cursor at 9 (row 4 is re-read next
        # poll); the regression re-read all five rows, capped at 3
        assert bare[0][2:4] == [(2, 9), (1, 10)] and bare[0][-1] == (5, 3)
    else:
        assert "cdc.loader.safe_cursor" not in names
        assert "cdc.loader.max_cursor" in names  # the empty-poll fallback
        assert bare[0][-1] == (1, 13)
    # close() is forwarded once per consumed batch (start + 5 polls)
    assert bare[2] == proxied[2] == 6


def test_proxy_hides_missing_attributes(spark):
    ld = TimedLoader(NoHorizonLoader(spark, []), Tracer())
    assert getattr(ld, "safe_cursor", None) is None
    with pytest.raises(AttributeError):
        ld.no_such_method

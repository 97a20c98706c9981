"""Keep test scratch (pytest tmp dirs, Spark temp files) inside the
checkout's ``.bench_run/`` unless ``--basetemp`` says otherwise."""

from __future__ import annotations

from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]


def pytest_configure(config) -> None:
    if not config.option.basetemp:
        (ROOT / ".bench_run").mkdir(exist_ok=True)
        config.option.basetemp = str(ROOT / ".bench_run" / "pytest")

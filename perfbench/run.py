"""Repository benchmark: one command, seeded workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads (see perfbench/README.md):

- ``cdc_pg_poll``      live Postgres -> PollingCdcSource -> merge sink
- ``stream_replay``    five registry streaming queries on an event log
- ``batch_analytics``  nine registry batch queries (one per operator module), two groups

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Every workload reports the same metric names (``harness.E2E`` and
``harness.LAYERS``), each measured on its own operations.
Every input lives under ``.bench_run/`` in the checkout and is removed
at exit; the run exits non-zero without a result when the package is
missing or the run overruns its deadline.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORKLOADS = ("cdc_pg_poll", "stream_replay", "batch_analytics")
#: Hard stop for one run; a run normally ends within about a minute.
DEADLINE_S = 170


def process_age() -> float:
    """Seconds since this process started (from /proc, so that
    interpreter start-up and imports count toward set-up)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class Deadline(Exception):
    pass


def _on_signal(signum, frame):
    raise Deadline(f"signal {signum}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter() - process_age()

    if not (ROOT / "streamz_postgres_spark" / "__init__.py").is_file():
        print(f"no streamz_postgres_spark package under {ROOT}", file=sys.stderr)
        return 2

    run_dir = ROOT / ".bench_run" / f"{args.workload}-{os.getpid()}"
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # Everything the run writes (psql scratch CSVs, streaming
    # checkpoints, Spark block files) stays under the run directory.
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    sys.path.insert(0, str(ROOT))

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGALRM):
        signal.signal(sig, _on_signal)
    signal.alarm(DEADLINE_S)
    from perfbench.harness import Context, stop_spark

    ctx = Context(args.seed, args.seconds, bool(args.trace), run_dir, t_start)
    try:
        if args.workload == "cdc_pg_poll":
            from perfbench.cdc import run
        elif args.workload == "stream_replay":
            from perfbench.stream import run
        else:
            from perfbench.batch import run
        result = run(ctx)
    except Deadline as e:
        print(f"run aborted: {e}", file=sys.stderr)
        return 3
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        try:
            stop_spark(ctx)
        finally:
            if ctx.tracer.enabled:
                ctx.tracer.dump(str(ROOT / ".bench_run" / f"spans-{args.workload}.json"),
                                ctx.details)
            shutil.rmtree(run_dir, ignore_errors=True)
            print(f"perfbench: {args.workload} ended after "
                  f"{time.perf_counter() - t_start:.1f} s", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] and not result["failed"] else 1


if __name__ == "__main__":
    sys.exit(main())

"""Round-14 full-registry timing sweep: one warm-up + median-of-3
noop-sink executions per key at $SPARK_GRAFT_SF_DIR (default sf0.1),
written as JSON to the path in argv[1] (default /tmp/registry_times.json).

Coverage evidence for OPTIMIZATION_r14.md: the bench's headline +
heavy-tail sets cover 15 keys; this sweep ranks all 335 so the round
can show every operator was at least measured. Not sentinel-bracketed
— rankings, not gate evidence.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from streamz_postgres_spark.registry import REGISTRY, _load_all  # noqa: E402
from streamz_postgres_spark.session import get_spark  # noqa: E402


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/registry_times.json"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    _load_all()
    spark = get_spark("time_registry_r14")
    spark.sparkContext.setLogLevel("ERROR")
    times: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in sorted(REGISTRY):
        fn = REGISTRY[name].spark_fn
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs = []
            for _ in range(3):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
            runs.sort()
            times[name] = round(runs[1], 3)
        except Exception as e:  # noqa: BLE001
            errors[name] = f"{type(e).__name__}: {e}"[:160]
        print(f"{name}: {times.get(name, 'ERR')}", flush=True)
    Path(out_path).write_text(
        json.dumps({"sf_dir": sf_dir, "times": times, "errors": errors})
    )
    top = sorted(times.items(), key=lambda kv: -kv[1])[:30]
    print("\nTOP 30:")
    for k, v in top:
        print(f"  {k:36s} {v:7.3f}")


if __name__ == "__main__":
    main()

"""Fixed cost of a Python-worker task, with and without the package's
worker daemon.

Times a trivial 4-partition ``mapInPandas`` job (four rows, identity
function) in two sessions: one from ``get_spark()`` as shipped, which
forks workers from ``collective_als_spark.pydaemon``, and one with
``spark.python.daemon.module=pyspark.daemon``. Prints the median of each
so a regression in per-task cost shows up. Usage:

    python tools/python_task_overhead.py [reps]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from collective_als_spark.session import get_spark  # noqa: E402

WARMUP = 2
PARTITIONS = 4


def median_job_ms(extra_conf: dict[str, str], reps: int) -> float:
    spark = get_spark(
        "python_task_overhead",
        extra_conf={"spark.ui.showConsoleProgress": "false", **extra_conf},
    )
    try:
        df = spark.range(PARTITIONS, numPartitions=PARTITIONS).mapInPandas(
            lambda batches: batches, "id long"
        )
        times = []
        for i in range(WARMUP + reps):
            t0 = time.perf_counter()
            df.collect()
            if i >= WARMUP:
                times.append((time.perf_counter() - t0) * 1e3)
        return statistics.median(times)
    finally:
        spark.stop()


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 9
    for label, conf in (
        ("collective_als_spark.pydaemon", {}),
        ("pyspark.daemon", {"spark.python.daemon.module": "pyspark.daemon"}),
    ):
        print(f"{label:32s} median {median_job_ms(conf, reps):7.1f} ms "
              f"per {PARTITIONS}-task job ({reps} reps)", flush=True)


if __name__ == "__main__":
    main()

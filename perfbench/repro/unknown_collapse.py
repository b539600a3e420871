"""Defect (a): distinct UNKNOWN turns collapse into one envelope.

    python3 perfbench/repro/unknown_collapse.py   # from the checkout root

Drains 50 distinct chat turns (no OS prefix matches any of them) through
the CLI's ``run`` command with its defaults.  The reference publishes one
UNKNOWN envelope per turn (it deduplicates only after identifying an OS),
so 50 are expected.  The CLI's streaming dedup keys every UNKNOWN row as
``('unknown', 'unknown', NULL)`` and keeps one.  Exits 1 while the defect
is present.
"""

import os
import shutil
import sys
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.getcwd())
WORK = os.path.join(".perfbench_cache", "repro", "unknown_collapse")


def main() -> int:
    from pyspark.sql import SparkSession

    from napalm_logs_spark.__main__ import main as cli

    shutil.rmtree(WORK, ignore_errors=True)
    src = os.path.join(WORK, "source")
    os.makedirs(src)
    t0 = datetime(2017, 7, 20, 21, 45, 59, tzinfo=timezone.utc)
    n = 50
    pq.write_table(pa.table({
        "conv_id": [f"c{i // 10}" for i in range(n)],
        "turn_idx": pa.array([i % 10 for i in range(n)], pa.int32()),
        "role": ["user" if i % 2 == 0 else "agent" for i in range(n)],
        "text": [f"chat turn number {i}: could you check the build?" for i in range(n)],
        "tool": pa.array([None] * n, pa.string()),
        "ts": pa.array([t0 + timedelta(seconds=60 * i) for i in range(n)],
                       pa.timestamp("us", tz="UTC")),
    }), os.path.join(src, "part-0.parquet"))
    os.environ["PYTHONPATH"] = os.getcwd()
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    try:
        sink = os.path.join(WORK, "sink")
        cli(["run", "--source", src, "--sink", sink,
             "--checkpoint", os.path.join(WORK, "ckpt")])
        got = spark.read.parquet(sink).filter("error = 'UNKNOWN'").count()
    finally:
        spark.stop()
    print(f"{n} distinct chat turns -> {got} UNKNOWN envelopes (reference: {n})")
    return 0 if got == n else 1


if __name__ == "__main__":
    sys.exit(main())

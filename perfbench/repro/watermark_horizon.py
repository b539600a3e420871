"""Defect (b): the streaming dedup horizon is the watermark and the
micro-batch, not the 5 s TTL.

    python3 perfbench/repro/watermark_horizon.py   # from the checkout root

One eos line (which also yields a netiron RAW envelope) is repeated 12
times, 10 s apart, and drained through the CLI's ``run`` command twice:
once as one file (one micro-batch) and once as twelve files with
``--max-files-per-trigger 1`` (twelve micro-batches).  Every repeat is
beyond the 5 s TTL, so the reference keeps all 24 envelopes.  The CLI
passes ``watermark="30 seconds"`` (streaming/pipeline.py) to
``dropDuplicatesWithinWatermark`` (operators/dedup.py), which keeps 2 in
one micro-batch and 4 in twelve.  Exits 1 while the defect is present.
"""

import os
import shutil
import sys
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.getcwd())
WORK = os.path.join(".perfbench_cache", "repro", "watermark_horizon")
LINE = ("<165>Feb  6 09:42:36 veos01 Ebra: %LINEPROTO-5-UPDOWN: Line protocol "
        "on Interface Ethernet28, changed state to down")
REPEATS = 12


def _write(src: str, n_files: int) -> None:
    os.makedirs(src)
    t0 = datetime(2017, 7, 20, 21, 45, 59, tzinfo=timezone.utc)
    per = REPEATS // n_files
    for k in range(n_files):
        idx = range(k * per, (k + 1) * per)
        path = os.path.join(src, f"part-{k:02d}.parquet")
        pq.write_table(pa.table({
            "conv_id": ["flap"] * per,
            "turn_idx": pa.array(list(idx), pa.int32()),
            "role": ["tool"] * per,
            "text": [LINE] * per,
            "tool": ["probe"] * per,
            "ts": pa.array([t0 + timedelta(seconds=10 * i) for i in idx],
                           pa.timestamp("us", tz="UTC")),
        }), path)
        os.utime(path, (1_600_000_000 + k, 1_600_000_000 + k))


def main() -> int:
    from pyspark.sql import SparkSession

    from napalm_logs_spark.__main__ import main as cli

    shutil.rmtree(WORK, ignore_errors=True)
    os.environ["PYTHONPATH"] = os.getcwd()
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    got = {}
    try:
        for n_files in (1, REPEATS):
            run = os.path.join(WORK, f"{n_files}_batches")
            _write(os.path.join(run, "source"), n_files)
            cli(["run", "--source", os.path.join(run, "source"),
                 "--sink", os.path.join(run, "sink"),
                 "--checkpoint", os.path.join(run, "ckpt"),
                 "--max-files-per-trigger", "1"])
            got[n_files] = spark.read.parquet(os.path.join(run, "sink")).count()
    finally:
        spark.stop()
    expected = 2 * REPEATS
    for n_files, n in got.items():
        print(f"{REPEATS} repeats 10 s apart in {n_files} micro-batch(es) -> "
              f"{n} envelopes (reference: {expected})")
    return 0 if all(n == expected for n in got.values()) else 1


if __name__ == "__main__":
    sys.exit(main())

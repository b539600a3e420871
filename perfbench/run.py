"""Benchmark of the napalm_logs_spark streaming ``run`` path and CEP operators.

    python3 perfbench/run.py --workload syslog_backlog --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the repository.  Inputs are made from
``--seed`` and cached under ``.perfbench_cache/``; every run starts one
JVM at ``local[4]``, warms up, then repeats whole timed units (a drain
of the backlog through the CLI, or a CEP pass) until ``--seconds`` have
passed, checks the last unit's output against the oracle and prints one
JSON line: ``correct``, ``attempted``, ``failed`` and the metrics —
the end-to-end ones with ``--trace 0``, the per-layer ones with
``--trace 1``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("syslog_backlog", "chat_flap", "cep_hot")
MASTER = "local[4]"

END_TO_END = {
    "turns_per_s": "1/s",
    "latency_p50_s": "s",
    "batch_p50_s": "s",
    "pass_s": "s",
    "setup_s": "s",
}
PER_LAYER = {
    "pipeline.latest_offset_ms_per_batch": "ms",
    "pipeline.planning_ms_per_batch": "ms",
    "pipeline.wal_commit_ms_per_batch": "ms",
    "pipeline.add_batch_ms_per_batch": "ms",
    "pipeline.commit_offsets_ms_per_batch": "ms",
    "pipeline.batches": "count",
    "source.scan_s_per_mturn": "s/Mturn",
    "handoff.s_per_mturn": "s/Mturn",
    "normalize.turns_per_s_1core": "1/s",
    "normalize.local4_s_per_mturn": "s/Mturn",
    "normalize.prefix_stage_s_per_mturn": "s/Mturn",
    "normalize.message_stage_s_per_mturn": "s/Mturn",
    "normalize.build_yang_s_per_mturn": "s/Mturn",
    "normalize.canonical_json_s_per_mturn": "s/Mturn",
    "normalize.assembly_s_per_mturn": "s/Mturn",
    "normalize.prefix_hit_ratio": "ratio",
    "normalize.envelopes_per_turn": "ratio",
    "normalize.unknown_frac": "ratio",
    "profiles.load_registry_s": "s",
    "dedup.s_per_mturn": "s/Mturn",
    "dedup.drop_ratio": "ratio",
    "dedup.state_rows_max": "rows",
    "dedup.state_memory_bytes_max": "bytes",
    "dedup.commit_ms_per_batch": "ms",
    "dedup.update_ms_per_batch": "ms",
    "dedup.state_store_instances": "count",
    "sink.write_s_per_batch": "s",
    "sink.s_per_menv": "s/Menv",
    "sink.rows_written": "rows",
    "sink.files_written": "count",
    "sink.bytes_written": "bytes",
    "cep.pattern_s": "s",
    "cep.pattern_step_rows": "rows",
    "cep.pattern_match_rows": "rows",
    "cep.pattern_enum_ratio": "ratio",
    "cep.funnel_s": "s",
    "cep.funnel_keys": "rows",
    "scaling.turns_per_s_local1": "1/s",
    "scaling.eff_1to4": "ratio",
    "trace.layer_sum_frac": "ratio",
    "trace.overlap_frac": "ratio",
    "trace.unattributed_frac": "ratio",
    "trace.overhead_frac": "ratio",
}


def result_line(metrics: dict, declared: dict, attempted: int, failed: int,
                correct: bool) -> str:
    """The final JSON line.  ``metrics`` maps name -> (value, unit); a
    declared metric the workload does not exercise reads 0, and a value of
    None (a probe whose target no longer exists) is printed as null."""
    out = {}
    for name, unit in declared.items():
        value, got_unit = metrics.get(name, (0.0, unit))
        if got_unit != unit:
            raise ValueError(f"{name}: unit {got_unit!r}, declared {unit!r}")
        out[name] = {"value": value, "unit": unit}
    extra = set(metrics) - set(declared)
    if extra:
        raise ValueError(f"undeclared metrics {sorted(extra)}")
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": out})


def _session_factory(cache: str):
    local_dir = os.path.join(cache, "spark-local")
    tmp = os.path.join(cache, "tmp")
    for d in (local_dir, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    os.environ["TMPDIR"] = tmp

    def new_session(master: str = MASTER):
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master(master).appName("perfbench")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.driver.memory", "2g")
            .config("spark.local.dir", local_dir)
            .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
            .config("spark.sql.warehouse.dir", os.path.join(cache, "warehouse"))
            .config("spark.sql.session.timeZone", "UTC")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    return new_session


def _shutdown_spark() -> None:
    """Stop the active session and the JVM gateway process, and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "napalm_logs_spark")):
        print("perfbench: run from the root of a napalm_logs_spark checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    # python workers unpickle functions of the package and of this dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, HERE, os.environ.get("PYTHONPATH")) if p)

    import gen
    import golden

    cache = os.path.join(root, ".perfbench_cache")
    cases = golden.load_cases(os.path.join(root, golden.GOLDEN_DIR))
    inputs = gen.materialize(args.workload, args.seed, cache, cases)
    work_dir = os.path.join(cache, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    new_session = _session_factory(cache)
    trace = bool(args.trace)
    try:
        if args.workload == "cep_hot":
            import cepwork

            res = cepwork.run(inputs, new_session, args.seconds, trace, work_dir)
        else:
            import stream

            scaling = (lambda: new_session("local[1]")) \
                if trace and args.workload == "syslog_backlog" else None
            res = stream.run(args.workload, inputs, new_session, work_dir,
                             args.seconds, trace, cases, scaling_session=scaling)
    finally:
        _shutdown_spark()
        shutil.rmtree(work_dir, ignore_errors=True)
    metrics, attempted, failed, correct, note = res
    print(f"perfbench {args.workload} seed={args.seed}: {note}")
    print(result_line(metrics, PER_LAYER if trace else END_TO_END,
                      attempted, failed, correct))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)

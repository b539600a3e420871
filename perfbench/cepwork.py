"""The ``cep_hot`` workload: batch CEP passes over a generated transcript
table, read from parquet on every pass.  A pass counts the K=3
``pattern_sequence`` matches per conversation (the hot conversation
enumerates ~1.6M of them) and collects ``windowed_funnel`` over every
conversation."""

from __future__ import annotations

import os
import statistics
import time

import gen

WARMUP_PASSES = 2  # pass times still fell over the first two passes


def one_pass(spark, source: str, tracer=None) -> dict:
    from pyspark.sql import functions as F

    from napalm_logs_spark.operators.cep import pattern_sequence, windowed_funnel
    from napalm_logs_spark.sources.transcripts import TRANSCRIPT_SCHEMA

    t0 = time.time()
    df = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(source)
    steps = [F.col("role") == r for r in gen.CEP_ROLES]
    pattern = dict(
        pattern_sequence(df, steps, within_seconds=gen.CEP_WITHIN_S)
        .groupBy("conv_id").count().collect())
    t1 = time.time()
    funnel = {r[0]: tuple(r[1:]) for r in
              windowed_funnel(df, steps, window_seconds=gen.CEP_FUNNEL_WINDOW_S).collect()}
    t2 = time.time()
    if tracer is not None:
        root = tracer.add("pass", t0, t2)
        tracer.add("cep.pattern", t0, t1, root)
        tracer.add("cep.funnel", t1, t2, root)
    return {"pattern": pattern, "funnel": funnel, "wall": t2 - t0,
            "pattern_s": t1 - t0, "funnel_s": t2 - t1}


def run(inputs: str, new_session, seconds: float, trace: bool, work_dir: str):
    """Returns (metrics {name: (value, unit)}, attempted, failed, correct, note)."""
    import oracle

    source = os.path.join(inputs, "input")
    t0 = time.time()
    spark = new_session()
    for _ in range(WARMUP_PASSES):
        one_pass(spark, source)
    setup_s = time.time() - t0

    tracer = None
    if trace:
        from spans import Tracer

        tracer = Tracer(f"cep_hot-{os.getpid()}")
        passes = [one_pass(spark, source), one_pass(spark, source, tracer)]
    else:
        passes, start = [], time.time()
        while not passes or time.time() - start < seconds:
            passes.append(one_pass(spark, source))
    last = passes[-1]
    exp_pattern, exp_funnel = oracle.cep_expected(
        source, gen.CEP_ROLES, gen.CEP_WITHIN_S, gen.CEP_FUNNEL_WINDOW_S, work_dir)
    attempted, failed, correct = oracle.check_cep(
        last["pattern"], last["funnel"], exp_pattern, exp_funnel)
    turns = spark.read.parquet(source).count()
    matches = sum(last["pattern"].values())
    note = (f"{len(passes)} passes of {turns} turns; {matches} pattern matches over "
            f"{len(last['pattern'])} conversations; {len(last['funnel'])} funnel rows")
    if not trace:
        pass_s = statistics.median(p["wall"] for p in passes)
        metrics = {
            "turns_per_s": (turns / pass_s, "1/s"),
            # a batch pass is one batch, and every result arrives at its end
            "latency_p50_s": (pass_s, "s"),
            "batch_p50_s": (pass_s, "s"),
            "pass_s": (pass_s, "s"),
            "setup_s": (setup_s, "s"),
        }
        return metrics, attempted, failed, correct, note

    from pyspark.sql import functions as F

    df = spark.read.parquet(source)
    step_rows = sum(df.filter(F.col("role") == r).count() for r in gen.CEP_ROLES)
    metrics = {
        "cep.pattern_s": (last["pattern_s"], "s"),
        "cep.pattern_step_rows": (step_rows, "rows"),
        "cep.pattern_match_rows": (matches, "rows"),
        "cep.pattern_enum_ratio": (matches / max(len(last["pattern"]), 1), "ratio"),
        "cep.funnel_s": (last["funnel_s"], "s"),
        "cep.funnel_keys": (len(last["funnel"]), "rows"),
        "trace.overhead_frac": (last["wall"] / passes[0]["wall"] - 1, "ratio"),
    }
    tracer.dump(os.path.join(os.path.dirname(work_dir), f"spans-{tracer.run_id}.jsonl"))
    return metrics, attempted, failed, correct, note

"""The streaming workloads: timed drains through the CLI's own ``run``
command, in-process, and the traced probes of the layers under it.

A drain reads a backlog of turn files to the end (the CLI's
``Trigger.AvailableNow``), normalizes, dedups and writes the sink with
every CLI default; the only flag the benchmark adds is a fixed
``--max-files-per-trigger``, which fixes the micro-batch boundaries.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import threading
import time
from datetime import datetime
from statistics import median

import pyarrow.parquet as pq
from pyspark.sql.streaming import StreamingQueryListener

import gen


class ProgressLog(StreamingQueryListener):
    """Every ``StreamingQueryProgress`` of the current drain, as parsed
    JSON (Spark's public progress schema)."""

    def __init__(self):
        self.progress: list[dict] = []
        self.done = threading.Event()

    def reset(self):
        self.progress = []
        self.done.clear()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.done.set()


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class Drainer:
    """Runs drains of one input dir in an existing session."""

    def __init__(self, spark, source: str, work_dir: str):
        self.spark = spark
        self.source = source
        self.work_dir = work_dir
        self.log = ProgressLog()
        spark.streams.addListener(self.log)
        self.runs = 0

    def close(self):
        self.spark.streams.removeListener(self.log)

    def drain(self, *, no_dedup: bool = False, source: str | None = None) -> dict:
        from napalm_logs_spark.__main__ import main

        out = os.path.join(self.work_dir, f"drain{self.runs}")
        self.runs += 1
        shutil.rmtree(out, ignore_errors=True)
        sink, ckpt = os.path.join(out, "sink"), os.path.join(out, "ckpt")
        argv = ["run", "--source", source or self.source, "--sink", sink,
                "--checkpoint", ckpt,
                "--max-files-per-trigger", str(gen.MAX_FILES_PER_TRIGGER)]
        if no_dedup:
            argv.append("--no-dedup")
        self.log.reset()
        t0 = time.time()
        rc = main(argv)
        t1 = time.time()
        if rc not in (0, None):
            raise RuntimeError(f"CLI run exited {rc}")
        if not self.log.done.wait(60):
            raise RuntimeError("no termination event from the streaming query")
        return {"t0": t0, "t1": t1, "wall": t1 - t0, "sink": sink,
                "progress": sorted(self.log.progress, key=lambda p: p["batchId"])}


def drain_figures(d: dict) -> dict:
    """Turn-weighted commit latencies and per-batch trigger times of one
    drain.  A turn's latency is the commit time of the micro-batch that
    read it (trigger start + ``triggerExecution``) minus drain start."""
    lat, batch = [], []
    for p in d["progress"]:
        trig = p["durationMs"]["triggerExecution"] / 1000.0
        batch.append(trig)
        n = int(p.get("numInputRows") or 0)
        if n:
            lat.append((_epoch(p["timestamp"]) + trig - d["t0"], n))
    return {"lat": lat, "batch": batch,
            "turns": sum(n for _, n in lat)}


def weighted_median(pairs) -> float:
    """Median of values ``v`` each repeated ``n`` times: when the count
    below a value is exactly half, the midpoint of it and the next value
    (a drain of two equal micro-batches reads both commit times)."""
    pairs = sorted(pairs)
    half, acc = sum(n for _, n in pairs) / 2.0, 0
    for i, (v, n) in enumerate(pairs):
        acc += n
        if acc > half:
            return v
        if acc == half:
            return (v + pairs[i + 1][0]) / 2.0
    raise ValueError("no samples")


def sink_stats(sink: str) -> dict:
    files = glob.glob(os.path.join(sink, "_batch_id=*", "*.parquet"))
    return {"files": len(files),
            "bytes": sum(os.path.getsize(f) for f in files),
            "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files)}


# ---------------------------------------------------------------------------
# untraced: the end-to-end figures


def setup(new_session, source: str, work_dir: str):
    """Session start + ``load_registry`` + one warm-up drain of the whole
    backlog (after a drain of one micro-batch only, the next full drain
    still ran ~20% slower than the one after it).  Returns (spark,
    drainer, seconds)."""
    t0 = time.time()
    spark = new_session()
    from napalm_logs_spark.profiles import load_registry

    load_registry()
    drainer = Drainer(spark, source, work_dir)
    drainer.drain()
    return spark, drainer, time.time() - t0


def timed_drains(drainer: Drainer, source: str, seconds: float) -> list[dict]:
    """Drains of the full backlog until ``seconds`` have passed (at least one)."""
    drains, start = [], time.time()
    while not drains or time.time() - start < seconds:
        drains.append(drainer.drain(source=source))
    return drains


def end_to_end(drains: list[dict], setup_s: float) -> tuple[dict, str]:
    figs = [drain_figures(d) for d in drains]
    batches = [b for f in figs for b in f["batch"]]
    lat = median([weighted_median(f["lat"]) for f in figs])
    walls = [d["wall"] for d in drains]
    metrics = {
        "turns_per_s": (median([f["turns"] / w for f, w in zip(figs, walls)]), "1/s"),
        "latency_p50_s": (lat, "s"),
        "batch_p50_s": (median(batches), "s"),
        "pass_s": (median(walls), "s"),
        "setup_s": (setup_s, "s"),
    }
    note = (f"{len(drains)} drains of {figs[0]['turns']} turns, one latency median each; "
            f"batch_p50 over {len(batches)} micro-batches")
    return metrics, note


def _note(head: str, notes: dict, kinds: dict) -> str:
    return f"{head}; incorrect: {notes or 'none'}; failed: {kinds or 'none'}"


def validate(drain: dict, inputs: str, cases):
    import oracle

    before, after = oracle.expected_stream(
        os.path.join(inputs, "input"), os.path.join(inputs, "meta.parquet"), cases)
    written = oracle.read_sink(drain["sink"])
    return oracle.check_stream(before, after, written)


# ---------------------------------------------------------------------------
# traced: the per-layer figures

NORMALIZE_MOD = "napalm_logs_spark.operators.normalize"
REPLAY_BATCH = 10_000  # spark.sql.execution.arrow.maxRecordsPerBatch default
REPLAY_TURNS = 30_000


def traced_drain(tracer, drainer: Drainer, source: str) -> dict:
    """One drain with spans: the drain, ``load_registry``, and per
    micro-batch the foreachBatch call split into computing the batch
    (persisted and counted first) and the sink's write of it."""
    def wrap_sink(make_sink):
        def traced_make(*args, **kwargs):
            write = make_sink(*args, **kwargs)

            def traced_write(batch_df, batch_id):
                a0 = time.time()
                batch_df.persist()
                try:
                    batch_df.count()
                    c1 = time.time()
                    write(batch_df, batch_id)
                    a1 = time.time()
                finally:
                    batch_df.unpersist()
                batches[int(batch_id)] = (a0, c1, a1)
            return traced_write
        return traced_make

    batches = {}
    with tracer.patched("napalm_logs_spark.profiles", "load_registry",
                        lambda f: tracer.wrap("profiles.load_registry", f)), \
            tracer.patched("napalm_logs_spark.streaming.pipeline",
                           "exactly_once_parquet_sink", wrap_sink) as sink_traced:
        with tracer.span("drain") as root:
            d = drainer.drain(source=source)
    d["root"], d["batches"], d["sink_traced"] = root, batches, sink_traced
    return d


def build_batch_spans(tracer, d: dict, per_turn: dict, dedup_per_batch: float) -> None:
    """Per micro-batch spans from Spark's progress (phase durations laid
    in execution order inside the trigger) and from the foreachBatch
    wrapper (real intervals).  Inside the batch computation, the scan,
    hand-off and normalize layers get their probe-measured cost per turn
    and dedup its measured cost per batch."""
    for p in d["progress"]:
        ms = p["durationMs"]
        start = _epoch(p["timestamp"])
        trig = tracer.add("pipeline.trigger", start,
                          start + ms["triggerExecution"] / 1000.0, d["root"])
        t = start
        for name, keys in (("pipeline.latest_offset", ("latestOffset",)),
                           ("pipeline.wal_commit", ("walCommit",)),
                           ("pipeline.planning", ("getBatch", "queryPlanning"))):
            dur = sum(ms.get(k, 0) for k in keys) / 1000.0
            tracer.add(name, t, t + dur, trig)
            t += dur
        end = start + ms["triggerExecution"] / 1000.0
        tracer.add("pipeline.commit_offsets", end - ms.get("commitOffsets", 0) / 1000.0,
                   end, trig)
        got = d["batches"].get(p["batchId"])
        if got is None:
            continue
        a0, c1, a1 = got
        add = tracer.add("pipeline.add_batch", a0, a1, trig)
        comp = tracer.add("batch.compute", a0, c1, add)
        tracer.add("sink.write", c1, a1, add)
        n = int(p.get("numInputRows") or 0)
        t = a0
        for name in ("source.scan", "handoff", "normalize"):
            dur = n * per_turn[name]
            tracer.add(name, t, t + dur, comp)
            t += dur
        tracer.add("dedup", t, t + dedup_per_batch, comp)


def probe_rates(spark, source: str, turns: int) -> dict:
    """Seconds per turn of the plain scan, of the Arrow hand-off and of
    normalize at local[4], each written to the ``noop`` sink (the second
    of two runs of each)."""
    from napalm_logs_spark.operators.normalize import normalize
    from napalm_logs_spark.sources.transcripts import TRANSCRIPT_SCHEMA

    def identity(it):
        yield from it

    def scan():
        return spark.read.schema(TRANSCRIPT_SCHEMA).parquet(source)

    plans = {
        "scan": scan,
        "mapinpandas": lambda: scan().mapInPandas(identity, schema=TRANSCRIPT_SCHEMA),
        "normalize": lambda: normalize(scan()),
    }
    walls = {}
    for name, plan in plans.items():
        for _ in range(2):
            t0 = time.time()
            plan().write.format("noop").mode("overwrite").save()
            walls[name] = time.time() - t0
    return {
        "source.scan": walls["scan"] / turns,
        "handoff": max(walls["mapinpandas"] - walls["scan"], 0.0) / turns,
        "normalize": max(walls["normalize"] - walls["mapinpandas"], 0.0) / turns,
    }


def replay_batches(source: str):
    table = pq.read_table(source).slice(0, REPLAY_TURNS).to_pandas()
    return [table.iloc[i:i + REPLAY_BATCH] for i in range(0, len(table), REPLAY_BATCH)]


def normalize_replay(tracer, batches) -> dict:
    """``normalize_pandas`` on one core over Arrow-sized batches: once
    untraced for its rate, once with its stages wrapped for their self
    times and the prefix stage's hit counts."""
    import importlib

    from napalm_logs_spark.profiles import load_registry

    mod = importlib.import_module(NORMALIZE_MOD)
    registry = load_registry()
    turns = sum(len(b) for b in batches)
    mod.normalize_pandas(batches[0], registry)  # compile regexes lazily, once
    t0 = time.time()
    outs = [mod.normalize_pandas(b, registry) for b in batches]
    rate = turns / (time.time() - t0)
    envs = sum(len(o) for o in outs)
    unknown = sum(int((o["error"] == "UNKNOWN").sum()) for o in outs)

    hits = [0, 0]  # rows tried, rows matched

    def count_prefix(f):
        def counted(texts, *args, **kwargs):
            res = f(texts, *args, **kwargs)
            hits[0] += len(texts)
            hits[1] += 0 if res is None else len(res)
            return res
        return tracer.wrap("normalize.prefix_stage", counted)

    stages = {"_prefix_stage": "prefix_stage", "_message_stage": "message_stage",
              "_build_yang": "build_yang", "canonical_json": "canonical_json"}
    wrapped = {}
    with contextlib.ExitStack() as stack:
        for attr, metric in stages.items():
            name = f"normalize.{metric}"
            make = (count_prefix if attr == "_prefix_stage"
                    else lambda f, name=name: tracer.wrap(name, f))
            wrapped[metric] = stack.enter_context(tracer.patched(NORMALIZE_MOD, attr, make))
        for b in batches:
            with tracer.span("normalize.assembly"):
                mod.normalize_pandas(b, registry)
    self_t = tracer.self_times()
    per_mturn = 1e6 / turns
    out = {
        "normalize.turns_per_s_1core": (rate, "1/s"),
        "normalize.envelopes_per_turn": (envs / turns, "ratio"),
        "normalize.unknown_frac": (unknown / turns, "ratio"),
        "normalize.prefix_hit_ratio": (
            hits[1] / hits[0] if wrapped["prefix_stage"] else None, "ratio"),
        "normalize.assembly_s_per_mturn": (
            self_t["normalize.assembly"] * per_mturn, "s/Mturn"),
    }
    for metric, ok in wrapped.items():
        out[f"normalize.{metric}_s_per_mturn"] = (
            self_t.get(f"normalize.{metric}", 0.0) * per_mturn if ok else None, "s/Mturn")
    return out


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _state_figures(progress) -> dict:
    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    return {
        "dedup.state_rows_max": (max((o["numRowsTotal"] for o in ops), default=0), "rows"),
        "dedup.state_memory_bytes_max": (
            max((o["memoryUsedBytes"] for o in ops), default=0), "bytes"),
        "dedup.commit_ms_per_batch": (_mean([o["commitTimeMs"] for o in ops]), "ms"),
        "dedup.update_ms_per_batch": (_mean([o["allUpdatesTimeMs"] for o in ops]), "ms"),
        "dedup.state_store_instances": (
            max((o.get("numStateStoreInstances", 0) for o in ops), default=0), "count"),
    }


def run(workload: str, inputs: str, new_session, work_dir: str, seconds: float,
        trace: bool, cases, scaling_session=None):
    """One benchmark run of a streaming workload.  Returns
    (metrics {name: (value, unit)}, attempted, failed, correct, note)."""
    source = os.path.join(inputs, "input")
    warm = os.path.join(inputs, "warm")
    spark, drainer, setup_s = setup(new_session, source, work_dir)
    if not trace:
        drains = timed_drains(drainer, source, seconds)
        metrics, note = end_to_end(drains, setup_s)
        attempted, failed, correct, notes, kinds = validate(drains[-1], inputs, cases)
        drainer.close()
        return metrics, attempted, failed, correct, _note(note, notes, kinds)

    from spans import Tracer

    tracer = Tracer(f"{workload}-{os.getpid()}")
    plain = drainer.drain(source=source)
    traced = traced_drain(tracer, drainer, source)
    nodedup = drainer.drain(source=source, no_dedup=True)
    turns = drain_figures(plain)["turns"]
    rates = probe_rates(spark, source, turns)
    n_batches = len(plain["progress"])
    dedup_s = plain["wall"] - nodedup["wall"]
    build_batch_spans(tracer, traced, rates, max(dedup_s, 0.0) / n_batches)
    attempted, failed, correct, notes, kinds = validate(plain, inputs, cases)

    m = {}
    phases = {"latest_offset": ("latestOffset",), "planning": ("getBatch", "queryPlanning"),
              "wal_commit": ("walCommit",), "add_batch": ("addBatch",),
              "commit_offsets": ("commitOffsets",)}
    for name, keys in phases.items():
        m[f"pipeline.{name}_ms_per_batch"] = (
            _mean([sum(p["durationMs"].get(k, 0) for k in keys) for p in plain["progress"]]),
            "ms")
    m["pipeline.batches"] = (n_batches, "count")
    m["source.scan_s_per_mturn"] = (rates["source.scan"] * 1e6, "s/Mturn")
    m["handoff.s_per_mturn"] = (rates["handoff"] * 1e6, "s/Mturn")
    m["normalize.local4_s_per_mturn"] = (rates["normalize"] * 1e6, "s/Mturn")
    m.update(normalize_replay(tracer, replay_batches(source)))

    from napalm_logs_spark.profiles import load_registry

    loads = []
    for _ in range(3):
        t0 = time.time()
        load_registry()
        loads.append(time.time() - t0)
    m["profiles.load_registry_s"] = (median(loads), "s")

    kept, unkept = sink_stats(plain["sink"]), sink_stats(nodedup["sink"])
    m["dedup.s_per_mturn"] = (dedup_s / turns * 1e6, "s/Mturn")
    m["dedup.drop_ratio"] = (1 - kept["rows"] / unkept["rows"] if unkept["rows"] else 0.0,
                             "ratio")
    m.update(_state_figures(plain["progress"]))
    writes = [a1 - c1 for _, c1, a1 in traced["batches"].values()]
    sink_traced = traced["sink_traced"]
    m["sink.write_s_per_batch"] = (_mean(writes) if sink_traced else None, "s")
    m["sink.s_per_menv"] = (
        sum(writes) / kept["rows"] * 1e6 if sink_traced and kept["rows"] else None, "s/Menv")
    m["sink.rows_written"] = (kept["rows"], "rows")
    m["sink.files_written"] = (kept["files"], "count")
    m["sink.bytes_written"] = (kept["bytes"], "bytes")

    root = tracer.spans[traced["root"]]
    wall = root.end - root.start
    total, union = tracer.leaf_cover(traced["root"])
    m["trace.layer_sum_frac"] = (total / wall, "ratio")
    m["trace.overlap_frac"] = ((total - union) / wall, "ratio")
    m["trace.unattributed_frac"] = (1 - union / wall, "ratio")
    m["trace.overhead_frac"] = (traced["wall"] / plain["wall"] - 1, "ratio")

    if scaling_session is None:
        drainer.close()
    else:
        local4 = drainer.drain(source=warm)
        drainer.close()
        spark.stop()
        spark1 = scaling_session()
        d1 = Drainer(spark1, warm, os.path.join(work_dir, "local1"))
        d1.drain()  # warm the fresh context's python workers
        local1 = d1.drain()
        d1.close()
        n = drain_figures(local1)["turns"]
        rate1, rate4 = n / local1["wall"], n / local4["wall"]
        m["scaling.turns_per_s_local1"] = (rate1, "1/s")
        m["scaling.eff_1to4"] = (rate4 / rate1 / 4, "ratio")
    tracer.dump(os.path.join(os.path.dirname(work_dir), f"spans-{tracer.run_id}.jsonl"))
    return m, attempted, failed, correct, _note(f"{len(tracer.spans)} spans", notes, kinds)

"""Seeded input generation for the three workloads.

Every generator is a pure function of its seed.  The streaming inputs
are a backlog of parquet files in event-time order whose modification
times increase with their index, so a fixed ``--max-files-per-trigger``
gives the same micro-batches on every run.  Per-turn generation facts
(which golden case, which device, which port) go to a separate metadata
table that only the oracle reads; the program sees only the turn files.
"""

from __future__ import annotations

import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

import golden

GEN_VERSION = 4

STREAM_TURNS = 50_000
STREAM_FILES = 16
MAX_FILES_PER_TRIGGER = 8  # 2 micro-batches of 25k turns
STEP_MS = 50               # event-time spacing of the syslog backlog
DEVICE_POOL = 4000
TURNS_PER_CONV = 20

CHAT_TOOL_FRAC = 0.2
HOT_DEVICES = 6
FLAP_ERRORS = ("INTERFACE_UP", "INTERFACE_DOWN", "BGP_NEIGHBOR_STATE_CHANGED")
# repeat gaps of a flap episode: inside the 5 s TTL, on its boundary and
# beyond it
FLAP_GAPS_MS = (1000, 2000, 4999, 5000, 5001, 8000, 15000, 40000)

CEP_BACKGROUND_CONVS = 100_000
CEP_HOT_TURNS = 3_000
CEP_WITHIN_S = 120         # pattern horizon: ~0.8M matches in the hot conv
CEP_FUNNEL_WINDOW_S = 60
CEP_ROLES = ("user", "agent", "tool")  # the pattern/funnel steps, in order
CEP_FILES = 8

BASE_TS_US = 1_500_587_159_000_000  # 2017-07-20T21:45:59Z, the fixture era

TURN_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])
META_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("case", pa.int32()),   # index into golden.load_cases(); -1 = chat
    ("dev", pa.int32()),
    ("port", pa.int32()),   # -1 = interface not renamed
])

_GREET = ("hi", "hey", "hello", "ok so", "quick question", "morning", "thanks")
_ASK = ("can you check why", "do you know if", "please look into whether",
        "I was wondering why", "could you explain how", "remind me when")
_THING = ("the nightly build", "the billing export", "my laptop", "the wiki page",
          "the quarterly report", "the staging cluster", "our onboarding doc",
          "the search index", "the coffee machine", "the release notes",
          "the customer survey", "the design review")
_STATE = ("is slow again", "keeps failing", "got deleted", "looks wrong",
          "was moved", "needs an update", "stopped working", "is out of date")
_WHEN = ("since yesterday", "this morning", "after the last change",
         "on Mondays", "for a week now", "only for some people", "")
_REPLY = ("Sure, I looked at", "I checked", "Good question about",
          "Here is what I found on", "Let me summarise", "I could not find much on")
_DETAIL = ("it seems to be a permissions issue", "the owner changed last week",
           "a retry usually fixes it", "the schedule moved by an hour",
           "there is an open ticket for it", "it depends on the region",
           "the cache was stale", "someone is already working on it")
_CLOSE = ("Want me to follow up?", "Let me know if that helps.",
          "I can draft a note for the team.", "Anything else?", "")


def _chat_line(rng: random.Random, role: str) -> str:
    c = rng.choice
    if role == "user":
        return " ".join(w for w in (c(_GREET) + ",", c(_ASK), c(_THING), c(_STATE),
                                    c(_WHEN)) if w).rstrip() + "?"
    return " ".join(w for w in (c(_REPLY), c(_THING) + ":", c(_DETAIL) + ";",
                                c(_DETAIL) + ".", c(_CLOSE)) if w).rstrip()


def _columns():
    return {k: [] for k in ("conv_id", "turn_idx", "role", "text", "tool", "ts")}


def syslog_backlog(seed: int, cases, n: int = STREAM_TURNS):
    """A backlog of syslog turns, each a golden case variant with a
    device from the pool and (where the case has one) a renamed
    interface.  No two envelopes share a dedup key, so the reference
    keeps every one."""
    rng = random.Random(seed)
    cols, meta = _columns(), {f.name: [] for f in META_SCHEMA}
    seen = set()
    while len(cols["text"]) < n:
        ci = rng.randrange(len(cases))
        dev = rng.randrange(DEVICE_POOL)
        case = cases[ci]
        port = rng.randint(1, 48) if case.iface else None
        keys = {(e["os"], e["host"], e["message"])
                for e in golden.expected_envelopes(case, dev, port)}
        if keys & seen:
            continue
        seen |= keys
        i = len(cols["text"])
        conv, turn = f"s{seed}-{i // TURNS_PER_CONV:06d}", i % TURNS_PER_CONV
        _append(cols, conv, turn, "tool", golden.variant_text(case, dev, port),
                "syslog", BASE_TS_US + i * STEP_MS * 1000)
        _append_meta(meta, conv, turn, ci, dev, port)
    return cols, meta


def chat_flap(seed: int, cases, n: int = STREAM_TURNS):
    """Mostly user/agent chat (every OS prefix misses) plus tool turns in
    which a few hot devices repeat interface/BGP up/down lines at gaps
    inside, on and beyond the 5 s TTL.  Event times are distinct."""
    rng = random.Random(seed)
    span_ms = n * STEP_MS
    flap_cases = [i for i, c in enumerate(cases) if c.error in FLAP_ERRORS]
    n_tool = int(n * CHAT_TOOL_FRAC)
    events = {}  # ms -> (case, dev, port)
    while len(events) < n_tool:
        ci = rng.choice(flap_cases)
        dev = rng.randrange(HOT_DEVICES)
        port = rng.randint(1, 4) if cases[ci].iface else None
        t = rng.randrange(span_ms)
        times = [t]
        for _ in range(rng.randint(1, 5)):
            times.append(times[-1] + rng.choice(FLAP_GAPS_MS))
        times = times[: n_tool - len(events)]
        if any(x in events for x in times):
            continue
        for x in times:
            events[x] = (ci, dev, port)
    chat_ms = [t for t in rng.sample(range(span_ms), n - n_tool + len(events))
               if t not in events][: n - n_tool]
    timeline = sorted([(t, None) for t in chat_ms] + list(events.items()))
    cols, meta = _columns(), {f.name: [] for f in META_SCHEMA}
    for i, (t, ev) in enumerate(timeline):
        conv, turn = f"c{seed}-{i // TURNS_PER_CONV:06d}", i % TURNS_PER_CONV
        ts = BASE_TS_US + t * 1000
        if ev is None:
            role = "user" if turn % 2 == 0 else "agent"
            _append(cols, conv, turn, role, _chat_line(rng, role), None, ts)
            _append_meta(meta, conv, turn, -1, -1, None)
        else:
            ci, dev, port = ev
            _append(cols, conv, turn, "tool",
                    golden.variant_text(cases[ci], dev, port), "probe", ts)
            _append_meta(meta, conv, turn, ci, dev, port)
    return cols, meta


def cep_table(seed: int):
    """One hot conversation of CEP_HOT_TURNS turns one second apart with
    uniformly random roles, plus CEP_BACKGROUND_CONVS short conversations
    whose role order and gaps put their funnels at every depth."""
    rng = random.Random(seed)
    cols = _columns()
    for i in range(CEP_HOT_TURNS):
        _append(cols, "hot-0", i, rng.choice(CEP_ROLES), "t", None,
                BASE_TS_US + i * 1_000_000)
    day_us = 86_400 * 1_000_000
    for k in range(CEP_BACKGROUND_CONVS):
        conv = f"b{seed}-{k:06d}"
        t = BASE_TS_US + rng.randrange(day_us)
        for j in range(rng.randint(2, 6)):
            _append(cols, conv, j, rng.choice(CEP_ROLES), "t", None, t)
            t += rng.randint(1, 40) * 1_000_000
    return cols


def _append(cols, conv, turn, role, text, tool, ts_us):
    cols["conv_id"].append(conv)
    cols["turn_idx"].append(turn)
    cols["role"].append(role)
    cols["text"].append(text)
    cols["tool"].append(tool)
    cols["ts"].append(ts_us)


def _append_meta(meta, conv, turn, ci, dev, port):
    meta["conv_id"].append(conv)
    meta["turn_idx"].append(turn)
    meta["case"].append(ci)
    meta["dev"].append(dev)
    meta["port"].append(-1 if port is None else port)


def _write_files(table: pa.Table, out_dir: str, n_files: int) -> None:
    """Split ``table`` in row order into ``n_files`` parquet files whose
    mtimes increase with their index (the file source admits files in
    mtime order)."""
    os.makedirs(out_dir)
    per = -(-table.num_rows // n_files)
    base_mtime = 1_600_000_000
    for k in range(n_files):
        path = os.path.join(out_dir, f"part-{k:05d}.parquet")
        pq.write_table(table.slice(k * per, per), path)
        os.utime(path, (base_mtime + k, base_mtime + k))


def materialize(workload: str, seed: int, cache_root: str, cases) -> str:
    """Generate (once per seed) and return the workload's input dir:
    ``<dir>/input`` holds the turn files; for the streaming workloads
    ``<dir>/warm`` holds the first micro-batch's files (the warm-up and
    scaling drains) and ``<dir>/meta.parquet`` the oracle's per-turn
    facts."""
    out = os.path.join(cache_root, f"{workload}-s{seed}-v{GEN_VERSION}")
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if workload == "cep_hot":
        table = pa.table(cep_table(seed), schema=TURN_SCHEMA)
        _write_files(table, os.path.join(tmp, "input"), CEP_FILES)
    else:
        make = syslog_backlog if workload == "syslog_backlog" else chat_flap
        cols, meta = make(seed, cases)
        _write_files(pa.table(cols, schema=TURN_SCHEMA),
                     os.path.join(tmp, "input"), STREAM_FILES)
        pq.write_table(pa.table(meta, schema=META_SCHEMA),
                       os.path.join(tmp, "meta.parquet"))
        os.makedirs(os.path.join(tmp, "warm"))
        for k in range(MAX_FILES_PER_TRIGGER):
            name = f"part-{k:05d}.parquet"
            shutil.copy2(os.path.join(tmp, "input", name),
                         os.path.join(tmp, "warm", name))
    os.rename(tmp, out)
    return out

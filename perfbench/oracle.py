"""Output oracle: what the reference would publish, computed without any
code of the package under test.

Streaming workloads: every turn's envelopes come from its golden
fixture (``golden.expected_envelopes``) or, for chat, the reference's
UNKNOWN envelope; then the reference's dedup runs over them — an
anchored TTL on event time per ``(os, host, message)``: a kept row
suppresses same-key rows for the next ``ttl`` seconds, a row exactly
``ttl`` after its anchor is kept and anchors anew, suppressed rows do not
extend the window, and UNKNOWN envelopes are never deduped (the
reference buffers only after it has identified an OS).

CEP: DuckDB recomputes the pattern count with a three-way self-join and
the funnel with chained ``min`` aggregates.
"""

from __future__ import annotations

import glob
import json
import os
from collections import Counter

import pyarrow.parquet as pq

import golden

TTL_US = 5_000_000
SINK_COLS = ("conv_id", "turn_idx", "os", "error", "host", "yang_model",
             "yang_message", "message_details", "facility", "severity")


def anchored_ttl(events, ttl_us: int = TTL_US):
    """``events``: iterable of (key, ts_us) in arrival order, where
    ``key is None`` means never deduped.  Returns one keep flag each."""
    anchor: dict = {}
    keep = []
    for key, ts in events:
        if key is None:
            keep.append(True)
            continue
        last = anchor.get(key)
        if last is None or ts - last >= ttl_us:
            anchor[key] = ts
            keep.append(True)
        else:
            keep.append(False)
    return keep


def expected_stream(input_dir: str, meta_path: str, cases):
    """{(conv_id, turn_idx): [envelope, ...]} before and after dedup."""
    turns = pq.read_table(input_dir, columns=["conv_id", "turn_idx", "text", "ts"])
    meta = pq.read_table(meta_path).to_pydict()
    by_turn = {(c, t): (ci, d, p) for c, t, ci, d, p in zip(
        meta["conv_id"], meta["turn_idx"], meta["case"], meta["dev"], meta["port"])}
    cols = turns.select(["conv_id", "turn_idx", "text"]).to_pydict()
    ts_us = turns.column("ts").cast("int64").to_pylist()
    rows = []  # (ts, conv, turn, env)
    for conv, turn, text, ts in zip(cols["conv_id"], cols["turn_idx"], cols["text"], ts_us):
        ci, dev, port = by_turn[(conv, turn)]
        if ci < 0:
            rows.append((ts, conv, turn, golden.unknown_envelope(text)))
        else:
            for env in golden.expected_envelopes(cases[ci], dev, None if port < 0 else port):
                rows.append((ts, conv, turn, env))
    rows.sort(key=lambda r: r[:3])
    keep = anchored_ttl(
        (None if e["error"] == "UNKNOWN" else (e["os"], e["host"], e["message"]), ts)
        for ts, _, _, e in rows)
    before, after = {}, {}
    for (ts, conv, turn, env), k in zip(rows, keep):
        before.setdefault((conv, turn), []).append(env)
        after.setdefault((conv, turn), [])
        if k:
            after[(conv, turn)].append(env)
    return before, after


def read_sink(sink_dir: str):
    """All envelope rows of a sink dir, grouped by (conv_id, turn_idx)."""
    out: dict = {}
    files = sorted(glob.glob(os.path.join(sink_dir, "_batch_id=*", "*.parquet")))
    for f in files:
        d = pq.read_table(f, columns=list(SINK_COLS)).to_pydict()
        for row in zip(*(d[c] for c in SINK_COLS)):
            r = dict(zip(SINK_COLS, row))
            out.setdefault((r["conv_id"], r["turn_idx"]), []).append(r)
    return out


def _json_eq(a, b) -> bool:
    return a == b or (a is not None and b is not None
                      and json.loads(a) == json.loads(b))


def same_envelope(exp: dict, got: dict) -> bool:
    """Field-by-field match of a written row against an expected
    envelope (JSON columns compared as values; RAW rows by identity
    fields only, as the reference harness has no fixture for them)."""
    for k, v in exp.items():
        if k == "message":
            continue
        if k in ("yang_message", "message_details"):
            if not _json_eq(v, got.get(k)):
                return False
        elif got.get(k) != v:
            return False
    return True


def check_stream(before: dict, after: dict, written: dict):
    """(attempted, failed, correct, notes, failures by turn kind).  A
    turn fails when its written envelopes differ from the reference's;
    the output is incorrect when a row matches no envelope of its turn
    or one envelope is written twice."""
    failed, notes, defects = 0, Counter(), Counter()
    for key in written.keys() - before.keys():
        notes["row for a turn not in the input"] += len(written[key])
    for key, exp_all in before.items():
        got = written.get(key, [])
        per_os = Counter((g["os"], g["error"]) for g in got)
        if any(n > 1 for n in per_os.values()):
            notes["envelope written twice"] += 1
        unexpected = [g for g in got if not any(same_envelope(e, g) for e in exp_all)]
        if unexpected:
            notes["unexpected envelope"] += 1
        exp = after[key]
        if (unexpected or len(got) != len(exp)
                or not all(any(same_envelope(e, g) for g in got) for e in exp)):
            failed += 1
            kind = "UNKNOWN" if exp_all[0]["error"] == "UNKNOWN" else "syslog"
            defects[f"failed {kind} turns"] += 1
    return len(before), failed, not notes, dict(notes), dict(defects)


# ---------------------------------------------------------------------------
# CEP


def cep_expected(input_dir: str, roles, within_s: int, window_s: int, temp_dir: str):
    """({conv_id: pattern match count}, {conv_id: (t1_us, t2_us, t3_us, level)}).

    The pattern count is the three-way self-join of its definition
    (e1 < e2 < e3 in turn order, non-decreasing event time, e2 and e3
    within ``within_s`` of e1).  An equi-join on (conversation, time
    bucket of ``within_s``) replaces the hash join on conversation alone:
    every partner of e1 lies in e1's bucket or the next one, so each
    triple is met exactly once."""
    import duckdb

    w_us = within_s * 1_000_000
    con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB",
                                 "temp_directory": temp_dir})
    try:
        con.execute(
            "CREATE TABLE t AS SELECT conv_id, turn_idx, role, epoch_us(ts) AS us, "
            f"epoch_us(ts) // {w_us} AS bk "
            f"FROM read_parquet('{os.path.join(input_dir, '*.parquet')}')")
        r0, r1, r2 = roles
        pattern = dict(con.execute(f"""
            WITH a AS (SELECT conv_id, turn_idx, us, bk + d AS jk, bk
                       FROM t, (VALUES (0), (1)) v(d) WHERE role = '{r0}'),
            ab AS (SELECT a.conv_id, a.us AS aus, a.bk AS abk, b.turn_idx AS bturn,
                          b.us AS bus
                   FROM a JOIN t b ON b.conv_id = a.conv_id AND b.bk = a.jk
                   WHERE b.role = '{r1}' AND b.turn_idx > a.turn_idx
                     AND b.us >= a.us AND b.us <= a.us + {w_us}),
            abx AS (SELECT *, abk + d AS jk FROM ab, (VALUES (0), (1)) v(d))
            SELECT abx.conv_id, count(*) FROM abx
            JOIN t c ON c.conv_id = abx.conv_id AND c.bk = abx.jk
            WHERE c.role = '{r2}' AND c.turn_idx > abx.bturn
              AND c.us >= abx.bus AND c.us <= abx.aus + {w_us}
            GROUP BY abx.conv_id""").fetchall())
        w = window_s * 1_000_000
        funnel = {row[0]: tuple(row[1:]) for row in con.execute(f"""
            WITH s1 AS (SELECT conv_id, min(us) FILTER (WHERE role = '{r0}') AS t1
                        FROM t GROUP BY conv_id),
            s2 AS (SELECT s1.conv_id, s1.t1, min(t.us) AS t2 FROM s1
                   LEFT JOIN t ON t.conv_id = s1.conv_id AND t.role = '{r1}'
                    AND t.us >= s1.t1 AND t.us <= s1.t1 + {w}
                   GROUP BY s1.conv_id, s1.t1),
            s3 AS (SELECT s2.conv_id, s2.t1, s2.t2, min(t.us) AS t3 FROM s2
                   LEFT JOIN t ON t.conv_id = s2.conv_id AND t.role = '{r2}'
                    AND t.us >= s2.t2 AND t.us <= s2.t1 + {w}
                   GROUP BY s2.conv_id, s2.t1, s2.t2)
            SELECT conv_id, t1, t2, t3,
                   (t1 IS NOT NULL)::INT + (t2 IS NOT NULL)::INT
                   + (t3 IS NOT NULL)::INT FROM s3""").fetchall()}
    finally:
        con.close()
    return pattern, funnel


def check_cep(pattern_got: dict, funnel_got: dict, pattern_exp: dict, funnel_exp: dict):
    """(attempted, failed, correct): one attempt per expected result row;
    a missing, differing or extra row fails and makes the pass incorrect."""
    failed = sum(pattern_got.get(k) != v for k, v in pattern_exp.items())
    failed += len(pattern_got.keys() - pattern_exp.keys())
    failed += sum(funnel_got.get(k) != v for k, v in funnel_exp.items())
    failed += len(funnel_got.keys() - funnel_exp.keys())
    return len(pattern_exp) + len(funnel_exp), failed, failed == 0

"""The generator is a pure function of the seed."""

import os

import pytest

import gen
import golden
from conftest import ROOT


@pytest.fixture(scope="module")
def cases():
    return golden.load_cases(os.path.join(ROOT, golden.GOLDEN_DIR))


@pytest.mark.parametrize("make", [gen.syslog_backlog, gen.chat_flap])
def test_stream_inputs_deterministic_per_seed(make, cases):
    a = make(7, cases, n=2_000)
    assert a == make(7, cases, n=2_000)
    assert a != make(8, cases, n=2_000)


def test_cep_table_deterministic_per_seed(monkeypatch):
    monkeypatch.setattr(gen, "CEP_BACKGROUND_CONVS", 500)
    assert gen.cep_table(3) == gen.cep_table(3)
    assert gen.cep_table(3) != gen.cep_table(4)


def test_syslog_keys_distinct_and_times_increasing(cases):
    cols, meta = gen.syslog_backlog(5, cases, n=3_000)
    keys = [(e["os"], e["host"], e["message"])
            for ci, d, p in zip(meta["case"], meta["dev"], meta["port"])
            for e in golden.expected_envelopes(cases[ci], d, None if p < 0 else p)]
    assert len(keys) == len(set(keys))
    assert cols["ts"] == sorted(set(cols["ts"]))


def test_chat_flap_mix(cases):
    cols, meta = gen.chat_flap(5, cases, n=5_000)
    assert cols["ts"] == sorted(set(cols["ts"]))
    chat = [t for t, ci in zip(cols["text"], meta["case"]) if ci < 0]
    assert len(chat) == 4_000
    assert not any("<" in t for t in chat)  # no syslog <pri> for a prefix to hit

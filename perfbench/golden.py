"""Golden fixture cases and their renamed variants.

Reads the reference fixture corpus (``<os>/<ERROR>/<case>/syslog.msg`` +
``yang.json``) straight from disk and derives, for a variant of a case
with its host and interface renamed, both the input line and the
envelopes the reference would publish for it.  Nothing here imports the
package under test: this module is one half of the benchmark's oracle.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass
from functools import lru_cache

GOLDEN_DIR = os.path.join("tests", "fixtures", "golden")

# netiron's transport prefix, written out independently of the profile
# compiler: '<pri>{date} {time} {host} {tag}: {message}' with one or more
# blanks wherever the template has one.  A line of another OS whose
# process name is a bare word (eos "Ebra:", junos "kernel:") also parses
# under it, and netiron has no message profile for such a tag, so the
# reference publishes an extra RAW envelope for netiron.
_NETIRON_PREFIX = re.compile(
    r"<(\d+)>(\w+ +\d+) +(\d\d:\d\d:\d\d) +([^ ]+) +(\w+): +(.*)", re.S
)
_TOKEN = r"(?<![\w/.:-]){}(?![\w/]|[.:-]\w)"
# a host may follow a routing-engine label ("re0.vmx01" publishes "vmx01")
_HOST_TOKEN = r"(?<![\w/:]){}(?![\w/]|[.:-]\w)"


@dataclass(frozen=True, eq=False)  # hashed by identity (lru_cache key)
class Case:
    os: str
    error: str
    name: str
    text: str
    expected: dict
    host: str
    iface: str | None  # renameable interface token, if any


def load_cases(root: str = GOLDEN_DIR) -> list[Case]:
    """Every fixture case, sorted by (os, error, case)."""
    cases = []
    for os_name in sorted(os.listdir(root)):
        for error in sorted(os.listdir(os.path.join(root, os_name))):
            edir = os.path.join(root, os_name, error)
            for name in sorted(os.listdir(edir)):
                cdir = os.path.join(edir, name)
                with open(os.path.join(cdir, "syslog.msg")) as fh:
                    text = fh.read().strip()
                with open(os.path.join(cdir, "yang.json")) as fh:
                    expected = json.load(fh)
                cases.append(Case(os_name, error, name, text, expected,
                                  expected["host"], _iface_of(text, expected)))
    if not cases:
        raise FileNotFoundError(f"no golden cases under {root}")
    return cases


def _iface_of(text: str, expected: dict) -> str | None:
    """The interface name, when it appears once in the line as a token
    ending in a number (so renaming keeps the profile's shape)."""
    yang = expected.get("yang_message") or {}
    names = list(((yang.get("interfaces") or {}).get("interface") or {}))
    if len(names) != 1 or not re.search(r"\d+$", names[0]):
        return None
    if len(re.findall(_TOKEN.format(re.escape(names[0])), text)) != 1:
        return None
    return names[0]


def host_name(dev: int) -> str:
    return f"dev{dev:05d}"


_HOST = "\u2063host\u2063"  # stands for the device's name in a template


def canonical(obj) -> str | None:
    return None if obj is None else json.dumps(
        obj, sort_keys=True, separators=(",", ":"), ensure_ascii=False)


@lru_cache(maxsize=None)
def _template(case: Case, port: int | None):
    """(line, envelopes) of a variant with the host left as ``_HOST``."""
    subs = [(_HOST_TOKEN.format(re.escape(case.host)), _HOST)]
    if case.iface is not None and port is not None:
        subs.append((_TOKEN.format(re.escape(case.iface)),
                     re.sub(r"\d+$", str(port), case.iface)))

    def rename(s: str) -> str:
        for rx, new in subs:
            s = re.sub(rx, new, s)
        return s

    exp = json.loads(rename(json.dumps(case.expected)))
    details = exp.get("message_details") or {}
    envs = [{
        "os": exp["os"], "error": exp["error"], "host": exp["host"],
        "yang_model": exp["yang_model"],
        "yang_message": canonical(exp.get("yang_message")),
        "message_details": canonical(exp.get("message_details")),
        "facility": exp.get("facility"), "severity": exp.get("severity"),
        "message": details.get("message"),
    }]
    line = rename(case.text)
    m = _NETIRON_PREFIX.search(line)
    if m is not None and case.os != "netiron":
        envs.append({"os": "netiron", "error": "RAW", "host": m.group(4),
                     "yang_model": "raw", "message": m.group(6).strip()})
    return line, tuple(envs)


def variant_text(case: Case, dev: int, port: int | None) -> str:
    return _template(case, port)[0].replace(_HOST, host_name(dev))


def expected_envelopes(case: Case, dev: int, port: int | None) -> list[dict]:
    """The reference's envelopes for one variant line (timestamp popped,
    the reference's own harness rule; JSON fields as canonical strings).
    ``message`` is the third part of the dedup key."""
    host = host_name(dev)
    return [{k: v.replace(_HOST, host) if isinstance(v, str) else v
             for k, v in env.items()}
            for env in _template(case, port)[1]]


def unknown_envelope(text: str) -> dict:
    """The reference's envelope for a line no OS prefix matches."""
    return {"os": "unknown", "error": "UNKNOWN", "host": "unknown",
            "yang_model": "unknown", "yang_message": None,
            "message_details": canonical({"message": text}),
            "facility": None, "severity": None, "message": None}

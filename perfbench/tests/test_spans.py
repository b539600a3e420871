"""Span self-time arithmetic and probes that survive refactors."""

import types
import sys

import pytest

from spans import Tracer, covered_length


def test_covered_length_unions_and_clips():
    assert covered_length(0, 10, []) == 0
    assert covered_length(0, 10, [(1, 3), (2, 5), (8, 12)]) == 6
    assert covered_length(0, 10, [(-5, 20)]) == 10
    assert covered_length(0, 10, [(11, 12), (4, 4)]) == 0


def test_self_time_is_duration_minus_children_cover():
    t = Tracer("r")
    root = t.add("root", 0, 10)
    t.add("a", 1, 3, root)
    t.add("a", 2, 5, root)
    b = t.add("b", 8, 12, root)
    t.add("c", 9, 10, b)
    st = t.self_times()
    assert st["root"] == pytest.approx(4)          # 10 - |[1,5] u [8,10]|
    assert st["a"] == pytest.approx(2 + 3)         # summed per name
    assert st["b"] == pytest.approx(3)
    assert st["c"] == pytest.approx(1)


def test_nested_spans_take_the_open_span_as_parent():
    t = Tracer("r")
    with t.span("outer") as o:
        with t.span("inner"):
            pass
    assert t.spans[1].parent == o and t.spans[0].parent is None


def test_missing_attribute_is_reported_not_raised():
    t = Tracer("r")
    with t.patched("json", "no_such_function_anymore", lambda f: f) as ok:
        assert ok is False
    with t.patched("no_such_module_anymore", "x", lambda f: f) as ok:
        assert ok is False
    assert t.missing == {"json.no_such_function_anymore", "no_such_module_anymore.x"}


def test_patched_attribute_is_restored_after_an_error():
    mod = types.ModuleType("perfbench_fake_mod")
    mod.f = original = lambda: 1
    sys.modules[mod.__name__] = mod
    try:
        t = Tracer("r")
        with pytest.raises(RuntimeError):
            with t.patched(mod.__name__, "f", lambda f: t.wrap("f", f)):
                assert mod.f is not original
                assert mod.f() == 1
                raise RuntimeError
        assert mod.f is original and t.count("f") == 1
    finally:
        del sys.modules[mod.__name__]


def test_leaf_cover_sums_layers_and_their_union_under_the_root():
    t = Tracer("r")
    root = t.add("drain", 0, 10)
    trig = t.add("trigger", 1, 9, root)
    t.add("phase", 1, 2, trig)
    comp = t.add("compute", 2, 5, trig)
    t.add("estimate", 2, 6, comp)     # overflows its parent into "write"
    t.add("write", 5, 8, trig)
    t.add("elsewhere", 20, 30)        # not under the root
    total, union = t.leaf_cover(root)
    assert total == pytest.approx(1 + 4 + 3)
    assert union == pytest.approx(7)  # [1, 8]

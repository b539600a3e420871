"""The reference's anchored 5 s TTL."""

import oracle

S = 1_000_000


def test_row_exactly_ttl_after_anchor_is_kept_and_anchors_anew():
    keep = oracle.anchored_ttl([("k", 0), ("k", 5 * S), ("k", 9 * S), ("k", 10 * S)])
    assert keep == [True, True, False, True]


def test_row_just_inside_ttl_is_dropped():
    assert oracle.anchored_ttl([("k", 0), ("k", 5 * S - 1)]) == [True, False]


def test_suppressed_rows_do_not_extend_the_window():
    # 3 s and 4.5 s are suppressed; 6 s is 6 s after the anchor at 0, so kept
    keep = oracle.anchored_ttl([("k", 0), ("k", 3 * S), ("k", int(4.5 * S)), ("k", 6 * S)])
    assert keep == [True, False, False, True]


def test_keys_are_independent():
    keep = oracle.anchored_ttl([("a", 0), ("b", S), ("a", 2 * S), ("b", 7 * S)])
    assert keep == [True, True, False, True]


def test_unknown_is_never_deduped():
    keep = oracle.anchored_ttl([(None, 0), (None, 0), (None, S), ("k", S), ("k", 2 * S)])
    assert keep == [True, True, True, True, False]


def test_check_stream_counts_missing_as_failed_and_extra_as_incorrect():
    env = {"os": "eos", "error": "X", "host": "h", "message": "m"}
    before = {("c", 0): [env], ("c", 1): [env]}
    after = {("c", 0): [env], ("c", 1): []}
    row = {"os": "eos", "error": "X", "host": "h"}
    attempted, failed, correct, notes, _ = oracle.check_stream(
        before, after, {("c", 0): [row], ("c", 1): [row]})
    assert (attempted, failed, correct) == (2, 1, True)  # kept a dropped row
    _, failed, correct, notes, _ = oracle.check_stream(
        before, after, {("c", 0): [row, row]})
    assert not correct and "envelope written twice" in notes
    _, failed, correct, notes, _ = oracle.check_stream(
        before, after, {("c", 0): [dict(row, host="other")]})
    assert not correct and failed == 1

"""Interval arithmetic behind self time, and the attribute wrappers."""

import types

from graftbench.spans import Patches, Recorder, covered, length, self_time, union


def test_union_merges_overlaps_and_touching():
    assert union([(3, 4), (0, 1), (0.5, 2), (2, 2.5), (5, 5)]) == [(0, 2.5), (3, 4)]


def test_length_counts_overlap_once():
    assert length([(0, 2), (1, 3), (10, 11)]) == 4


def test_covered_clips_to_the_span():
    assert covered((1, 5), [(0, 2), (4, 9)]) == 2
    assert covered((1, 5), [(6, 7)]) == 0


def test_self_time_subtracts_nested_children():
    # children overlap each other and stick out of the parent
    assert self_time((0, 10), [(1, 3), (2, 4), (9, 12)]) == 10 - 3 - 1


def test_self_time_without_children_is_the_span():
    assert self_time((2.5, 4.0), []) == 1.5


def test_wrapper_records_spans_and_restores():
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    original = mod.f
    rec = Recorder()
    patches = Patches(rec)
    patches.wrap(mod, "f", "layer.f")
    assert mod.f(1) == 2
    patches.restore()
    assert mod.f is original
    assert [s.layer for s in rec.spans] == ["layer.f"]
    assert patches.fired == {"layer.f": 1}


def test_wrap_everywhere_follows_name_bindings():
    def target():
        return "t"

    a = types.ModuleType("a")
    b = types.ModuleType("b")
    a.target, b.alias, b.other = target, target, len
    patches = Patches(Recorder(enabled=False))
    patches.wrap_everywhere([a, b], target, "layer.t")
    assert a.target() == "t" and b.alias() == "t"
    assert b.other is len
    assert patches.fired == {"layer.t": 2}
    patches.restore()
    assert a.target is target and b.alias is target

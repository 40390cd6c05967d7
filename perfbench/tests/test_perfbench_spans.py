"""Span bookkeeping and wrapper install/restore, without Spark."""

import threading
import types

import pytest

from spans import Span, Tracer


def test_self_time_subtracts_the_union_of_children():
    t = Tracer()
    t.spans = [
        Span(1, "op", 0.0, 10.0, None),
        Span(2, "a", 1.0, 4.0, 1),  # overlaps b: [1, 6] covered once
        Span(3, "b", 3.0, 6.0, 1),
        Span(4, "c", 8.0, 12.0, 1),  # clipped to the parent's end
        Span(5, "grandchild", 1.0, 9.0, 2),  # not a direct child
    ]
    assert t.self_time(t.spans[0]) == pytest.approx(10.0 - 5.0 - 2.0)


def test_spans_on_other_threads_are_parented_to_the_current_op():
    t = Tracer()

    def op():
        th = threading.Thread(target=lambda: t.call("child", lambda: None))
        th.start()
        th.join(timeout=10)
        assert not th.is_alive()
        t.call("nested", lambda: None)

    _, op_span = t.call("op", op, op=True)
    parents = {s.name: s.parent for s in t.spans}
    assert parents["child"] == op_span.id
    assert parents["nested"] == op_span.id
    assert t.current_op is None


class Store:
    def save(self, x):
        return x + 1


def test_wrap_and_restore_instance_class_and_module_attributes():
    t = Tracer()
    seen = []
    inst = Store()
    mod = types.ModuleType("m")
    mod.f = lambda x: x * 2
    original_f = mod.f

    t.wrap(inst, "save", "inst.save", lambda r, a, k: seen.append(r))
    assert inst.save(1) == 2 and seen == [2]
    t.wrap(Store, "save", "cls.save")
    assert Store().save(5) == 6
    t.wrap(mod, "f", "mod.f")
    assert mod.f(3) == 6
    assert (t.calls("inst.save"), t.calls("cls.save"), t.calls("mod.f")) == (1, 1, 1)

    t.restore()
    assert "save" not in vars(inst)
    assert Store.save.__name__ == "save"
    assert mod.f is original_f


def test_counts_accumulate():
    t = Tracer()
    t.add("rows", 3)
    t.add("rows", 4)
    assert t.counts["rows"] == 7

"""The tracer's bookkeeping without Spark: op attribution, self time of an
op whose children overlap across threads, and status-store parsing."""

import threading
import time
import types

import pytest

from spans import Span, Tracer, attribute, parse_size


def test_children_from_other_threads_belong_to_the_open_op():
    tracer = Tracer()
    owner = types.SimpleNamespace(commit=lambda: time.sleep(0.02))
    tracer.wrap(owner, "commit", "store.commit")
    with tracer.op("write_batch"):
        threads = [threading.Thread(target=owner.commit) for _ in range(3)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=5)
        assert not any(t.is_alive() for t in threads)
    (op,) = tracer.ops()
    kids = tracer.children(op)
    assert [k.name for k in kids] == ["store.commit"] * 3
    # three overlapping 20 ms children cover about 20 ms, not 60 ms
    assert tracer.self_s(op) > (op.end - op.start) - 0.045
    tracer.close()
    owner.commit()
    assert len(tracer.spans) == 4  # restored: no new span


def test_calls_outside_an_op_are_not_children_and_hooks_are_muted():
    tracer = Tracer()
    owner = types.SimpleNamespace(f=lambda: 1, g=lambda: 2)
    tracer.wrap(owner, "g", "bloom.g")
    tracer.wrap(owner, "f", "store.f", after=lambda args, kwargs, extra: extra.update(g=owner.g()))
    owner.f()
    with tracer.op("get"):
        owner.f()
    (op,) = tracer.ops()
    kids = tracer.children(op)
    assert [k.name for k in kids] == ["store.f"]  # the hook's g() recorded nothing
    assert kids[0].extra == {"g": 2}


def test_attribute_matches_times_to_the_op_interval():
    ops = [Span("a", 10.0, 11.0, op=0), Span("b", 12.0, 13.0, op=1)]
    assert attribute(ops, [10.5, 11.5, 12.0, 13.001, 20.0]) == [0, None, 1, 1, None]


@pytest.mark.parametrize(
    "text, expected",
    [
        ("1027.1 KiB", 1027.1 * 1024),
        ("0.0 B", 0.0),
        ("64.1 MiB", 64.1 * 2**20),
        ("total (min, med, max (stageId: taskId))\n96.9 KiB (24.0 KiB, 24.3 KiB, 24.6 KiB (stage 484.0: task 541))", 96.9 * 1024),
        ("n/a", 0.0),
    ],
)
def test_parse_size(text, expected):
    assert parse_size(text) == pytest.approx(expected)

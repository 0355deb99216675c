"""The correctness bookkeeping: the model's id and page rules, and that a
planted mismatch is counted as a failed operation."""

from checks import Ledger, Model, rows_digest


def _model():
    m = Model()
    m.write(["b/2", "a/1", "b/1"], [b"22", b"11", b"21"])
    return m


def test_ids_follow_key_order_within_a_batch_and_never_reuse():
    m = _model()
    assert m.ids == {"a/1": 1, "b/1": 2, "b/2": 3}
    m.delete(["b/2"])
    m.write(["c/1"], [b"c"])
    assert m.ids["c/1"] == 4
    m.replace(["a/1"], [b"new"])
    assert m.ids["a/1"] == 5 and m.objects["a/1"] == b"new"


def test_pages_are_id_ordered_keyset_pages():
    m = _model()
    assert m.page("b/", 0, 1) == [(2, "b/1")]
    assert m.page("b/", 2, 1) == [(3, "b/2")]
    assert m.page("b/", 3, 1) == []


def test_a_planted_wrong_byte_is_counted():
    m = _model()
    ledger = Ledger()
    good = m.objects["a/1"]
    bad = bytes([good[0] ^ 1]) + good[1:]
    ledger.call("get", lambda: good, check=lambda b: b == m.objects["a/1"])
    ledger.call("get", lambda: bad, check=lambda b: b == m.objects["a/1"])
    assert (ledger.attempted, ledger.failed) == (2, 1)
    assert len(ledger.samples["get"]) == 1  # a wrong result adds no latency sample


def test_a_raising_call_is_counted():
    ledger = Ledger()

    def boom():
        raise RuntimeError("lost")

    assert ledger.call("delete_batch", boom) is None
    assert ledger.failed == 1 and "lost" in ledger.failures[0]


def test_rows_digest_ignores_row_and_column_order():
    a = rows_digest(["x", "y"], [(1, 2.5), (3, None)])
    b = rows_digest(["y", "x"], [(None, 3), (2.5, 1)])
    assert a == b
    assert a != rows_digest(["x", "y"], [(1, 2.5), (3, 0)])
    assert a[0] == 2

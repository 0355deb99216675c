"""Correctness bookkeeping: a pure-Python model of the live objects and a
ledger that times calls and counts every operation attempted and failed.

Every engine result the workloads time is compared with the model (or,
for queries, with the DuckDB oracle's rows). A call that raises or
returns a wrong result counts as failed; failed calls contribute no
latency sample.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math
import time
from collections import defaultdict
from collections.abc import Callable


class Model:
    """The live objects as a dict, with the engine's id rule: each write
    batch takes ids ``max_id + 1 ...`` in ``object_key`` order, and the
    counter never goes back (a replaced key gets a fresh id)."""

    def __init__(self) -> None:
        self.objects: dict[str, bytes] = {}
        self.ids: dict[str, int] = {}
        self.max_id = 0

    def write(self, keys: list[str], data: list[bytes]) -> None:
        pairs = dict(zip(keys, data))
        for key in sorted(pairs):
            self.max_id += 1
            self.ids[key] = self.max_id
            self.objects[key] = pairs[key]

    def replace(self, keys: list[str], data: list[bytes]) -> None:
        self.delete(keys)
        self.write(keys, data)

    def delete(self, keys: list[str]) -> None:
        for key in keys:
            self.objects.pop(key, None)
            self.ids.pop(key, None)

    @property
    def logical_bytes(self) -> int:
        return sum(len(v) for v in self.objects.values())

    def page(self, prefix: str, after_id: int, size: int) -> list[tuple[int, str]]:
        """The ``(id, key)`` rows of one keyset page: live keys with
        ``prefix`` and id above ``after_id``, in id order."""
        rows = sorted(
            (i, k) for k, i in self.ids.items() if k.startswith(prefix) and i > after_id
        )
        return rows[:size]


class Ledger:
    """Times calls into the program and counts attempts and failures."""

    def __init__(self) -> None:
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def expect(self, ok: bool, what: str) -> bool:
        """Count one checked operation; record it as failed unless ``ok``."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok

    def call(self, verb: str, fn: Callable, *args, check: Callable | None = None, **kwargs):
        """Run ``fn(*args, **kwargs)`` as one timed operation of ``verb``.

        ``check(result)`` returns whether the result is right. Returns
        the result, or ``None`` when the call raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, the run goes on
            self.failed += 1
            self.failures.append(f"{verb} raised {exc!r}"[:300])
            return None
        dt = time.perf_counter() - t0
        if check is not None and not check(out):
            self.failed += 1
            self.failures.append(f"{verb} returned a wrong result")
            return out
        self.samples[verb].append(dt)
        return out


def canon(v) -> str:
    """Canonical text of one value, so Spark and DuckDB rows compare equal
    (doubles by exact repr: both engines must produce identical bits)."""
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def rows_digest(columns: list[str], rows: list) -> tuple[int, str]:
    """``(row count, order-insensitive value hash)`` of a result, with
    columns taken in name order so column order does not matter."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8", "surrogatepass"))
        h.update(b"\x1e")
    return len(lines), h.hexdigest()

"""The benchmark workloads: each sets up, runs a closed loop of blocking
calls from one client for the measured window, then checks the store or
the query results against a model.

A workload returns a :class:`Result`. ``loop_verbs`` names the verbs
whose calls make up the end-to-end call latency and rate; other timed
calls (the final ``verify``/``repair``) are traced but stay out of those
two metrics.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from checks import Ledger, Model, rows_digest

#: the query set of ``dedupe_queries``: the dedupe-index queries plus the
#: MinHash near-duplicate join. Their cold pass fits the run budget; the
#: other detectors' first runs cost seconds each.
QUERY_SET = ("ddp_stats", "ddp_refcount", "ddp_coverage", "docs_minhash_pairs")
N_DOCS = 600
MIN_PASSES = 8


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: object | None
    ledger: Ledger = field(default_factory=Ledger)
    t_start: float = field(default_factory=time.perf_counter)
    marks: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        self.rng = np.random.default_rng(self.seed)

    def mark(self, name: str) -> None:
        """Record the time since the run began (``session``, ``warm``, ``setup``)."""
        self.marks[name] = time.perf_counter() - self.t_start

    def call(self, verb: str, fn, *args, check=None, **kwargs):
        if self.tracer is None:
            return self.ledger.call(verb, fn, *args, check=check, **kwargs)
        with self.tracer.op(verb):
            return self.ledger.call(verb, fn, *args, check=check, **kwargs)

    def checked(self, what: str, fn, predicate) -> None:
        """One untimed correctness check: ``predicate(fn())`` must hold."""
        try:
            ok = bool(predicate(fn()))
        except Exception as exc:  # noqa: BLE001 — a raised check is a failed op
            ok = False
            what = f"{what} raised {exc!r}"[:300]
        self.ledger.expect(ok, what)

    def frame(self, name: str, keys: list[str], data: list[bytes]):
        """The ``(object_key, data)`` input DataFrame, as a parquet file."""
        path = os.path.join(self.work, "inputs", f"{name}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(
            pa.table({"object_key": pa.array(keys, pa.string()), "data": pa.array(data, pa.binary())}),
            path,
        )
        return self.spark.read.parquet(path)


@dataclass
class Result:
    loop_verbs: tuple[str, ...]
    inputs: dict
    engine: object | None = None  # the store the loop ran against
    store_bytes_before_loop: int = 0
    model: Model | None = None
    samples: list[bytes] = field(default_factory=list)  # chunking-probe input
    ingest_frame: object | None = None


def du(path: str) -> int:
    """Bytes of every file under ``path``."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def _size_quartiles(data: list[bytes]) -> list[float]:
    return [float(x) for x in np.percentile([len(d) for d in data], [25, 50, 75])]


def _walk(eng, prefix: str) -> list[tuple[int, str]]:
    out: list[tuple[int, str]] = []
    start = 0
    while True:
        page = eng.list_objects(prefix=prefix, index_start=start)
        out += [(o.id, o.object_key) for o in page.objects]
        if page.next_index_start is None:
            return out
        start = page.next_index_start


# -- churn --------------------------------------------------------------------

CYCLES = 3
OPTIMIZE_EVERY = 3
PAGE = 10


def churn(ctx: Context) -> Result:
    """Point reads beside small writes, replaces and deletes on a
    steady-state store, with periodic incremental optimize."""
    from watsondedupe_spark.chunking import SMALL_FILE_PROFILE, ChunkSettings
    from watsondedupe_spark.engine import DedupeEngine

    rng = ctx.rng
    eng = DedupeEngine.create(
        ctx.spark, os.path.join(ctx.work, "store"), ChunkSettings(*SMALL_FILE_PROFILE)
    )
    model = Model()
    pool: list[bytes] = []
    base = gen.corpus(rng, 48, 64 << 10, 1 << 20, 0.08, 0.2, pool=pool)
    eng.write_batch(ctx.frame("base", base.keys, base.data))
    model.write(base.keys, base.data)
    ctx.mark("warm")
    next_key = len(base.keys)
    hot = list(model.objects)
    rng.shuffle(hot)  # fixed popularity order for the reads
    ctx.mark("setup")
    before = du(eng.store.root)

    probes = {"exists_hit": 0, "exists_miss": 0}
    cursors: dict[str, int] = {}
    written = dup = 0
    t0 = time.perf_counter()
    i = 0
    while i < CYCLES or time.perf_counter() - t0 < ctx.seconds:
        kind = ("write", "replace", "delete")[i % 3]
        recent = sorted(model.objects, key=model.ids.get, reverse=True)
        if kind == "write":
            c = gen.corpus(rng, 2, 256 << 10, 2 << 20, 0.0, 0.5, start=next_key, pool=pool)
            next_key += 2
            ctx.call("write_batch", eng.write_batch, ctx.frame(f"w{i}", c.keys, c.data),
                     check=lambda n: n == 2)
            model.write(c.keys, c.data)
            touched, written, dup = c.keys[0], written + c.total_bytes, dup + c.dup_bytes
        elif kind == "replace":
            keys = _distinct(rng, recent, 2)
            v = _versions(rng, model, keys, pool)
            ctx.call("write_or_replace_batch", eng.write_or_replace_batch,
                     ctx.frame(f"r{i}", keys, v), check=lambda n: n == 2)
            model.replace(keys, v)
            touched, written = keys[0], written + sum(len(x) for x in v)
        else:
            keys = _distinct(rng, recent, 2)
            ctx.call("delete_batch", eng.delete_batch, keys, check=lambda gc: isinstance(gc, list))
            model.delete(keys)
            touched = keys[0]
        if touched in model.objects:
            ctx.call("get", eng.get, touched, check=lambda b, k=touched: b == model.objects[k])
        else:
            ctx.call("exists", eng.exists, touched, check=lambda x: x is False)
            probes["exists_miss"] += 1
        live = [k for k in hot if k in model.objects]
        key = live[gen.zipf_index(rng, len(live))]
        ctx.call("exists", eng.exists, key, check=lambda x: x is True)
        miss = gen.object_key(gen.PREFIXES[i % 4], 900_000 + i)
        ctx.call("exists", eng.exists, miss, check=lambda x: x is False)
        probes["exists_hit"] += 1
        probes["exists_miss"] += 1
        key = live[gen.zipf_index(rng, len(live))]
        ctx.call("get", eng.get, key, check=lambda b, k=key: b == model.objects[k])
        key = live[gen.zipf_index(rng, len(live))]
        size = len(model.objects[key])
        off = int(rng.integers(0, size))
        ln = int(rng.integers(1, 64 << 10))
        ctx.call("get_range", eng.get_range, key, off, ln,
                 check=lambda b, k=key, o=off, n=ln: b == model.objects[k][o:o + n])
        prefix = gen.PREFIXES[i % 4] + "/"
        after = cursors.get(prefix, 0)
        page = ctx.call("list_objects", eng.list_objects, prefix=prefix, index_start=after,
                        max_results=PAGE,
                        check=lambda p, pr=prefix, a=after: _page_ok(p, model.page(pr, a, PAGE)))
        cursors[prefix] = (page.next_index_start or 0) if page is not None else 0
        i += 1
        if i % OPTIMIZE_EVERY == 0:
            ctx.call("optimize", eng.optimize, incremental=True)
    ctx.call("repair", eng.repair, check=lambda d: not any(d.values()))
    ctx.call("verify", lambda: eng.verify().collect(), check=lambda rows: rows == [])
    stats = eng.stats()
    ctx.ledger.expect(
        stats.object_count == len(model.objects) and stats.logical_bytes == model.logical_bytes,
        f"stats() {stats.object_count}/{stats.logical_bytes} != "
        f"model {len(model.objects)}/{model.logical_bytes}",
    )
    ctx.ledger.expect(0 < stats.physical_bytes <= stats.logical_bytes, "stats() physical bytes out of range")
    prefix = gen.PREFIXES[0] + "/"
    ctx.checked(f"list_objects({prefix}) walk", lambda: _walk(eng, prefix),
                lambda rows: rows == model.page(prefix, 0, len(model.objects)))
    n_probes = probes["exists_hit"] + probes["exists_miss"]
    return Result(
        loop_verbs=("write_batch", "write_or_replace_batch", "delete_batch", "get", "exists",
                    "get_range", "list_objects", "optimize"),
        inputs={
            "objects": len(model.objects),
            "user_bytes": model.logical_bytes,
            "mutations": i,
            "bytes_written_in_loop": written,
            "dup_byte_share": (base.dup_bytes + dup) / (base.total_bytes + written),
            "size_quartiles": _size_quartiles(list(model.objects.values())),
            "exists_hit_share": probes["exists_hit"] / n_probes,
        },
        engine=eng,
        store_bytes_before_loop=before,
        model=model,
        samples=base.data,
        ingest_frame=ctx.frame("probe", base.keys, base.data),
    )


def _distinct(rng, keys: list[str], k: int) -> list[str]:
    """``k`` distinct keys, Zipf-favouring the front of ``keys``."""
    out: list[str] = []
    while len(out) < k:
        key = keys[gen.zipf_index(rng, len(keys))]
        if key not in out:
            out.append(key)
    return out


def _versions(rng, model: Model, keys: list[str], pool: list[bytes]) -> list[bytes]:
    """A new version of each key: an aligned prefix of its current bytes
    plus a fresh tail, so refcounts both rise (shared prefix) and fall
    (dropped tail)."""
    out = []
    for key in keys:
        old = model.objects[key]
        keep = gen.BLOCK * int(rng.integers(0, len(old) // gen.BLOCK + 1))
        body = old[:keep] + rng.bytes(int(rng.integers(gen.BLOCK, 128 << 10)))
        pool.append(body)
        out.append(body)
    return out


def _page_ok(page, expected: list[tuple[int, str]]) -> bool:
    got = [(o.id, o.object_key) for o in page.objects]
    want_next = expected[-1][0] if len(expected) == PAGE else None
    return got == expected and page.next_index_start == want_next


# -- dedupe_queries -----------------------------------------------------------


def dedupe_queries(ctx: Context) -> Result:
    """Warm passes over the registered dedupe queries on a seeded
    ``documents`` table, each result checked against its DuckDB oracle."""
    from watsondedupe_spark.queries import all_queries

    sf = os.path.join(ctx.work, "tables")
    os.makedirs(sf)
    docs = gen.documents(ctx.rng, N_DOCS)
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                        ("source", pa.string()), ("n_chars", pa.int64())])
    path = os.path.join(sf, "documents.parquet")
    pq.write_table(pa.table(docs, schema=schema), path)

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        specs = all_queries()
        oracle = {}
        for name in QUERY_SET:
            res = con.execute(specs[name].oracle)
            oracle[name] = rows_digest([d[0] for d in res.description], res.fetchall())
    finally:
        con.close()

    def run(name: str):
        df = specs[name].spark(ctx.spark, sf)
        return df.columns, df.collect()

    # the untimed warm pass builds the substrate caches; its results are
    # checked against the oracle too
    for name in QUERY_SET:
        ctx.checked(f"{name} warm pass vs oracle", lambda n=name: rows_digest(*run(n)),
                    lambda d, n=name: d == oracle[n])
    ctx.mark("warm")
    ctx.mark("setup")
    t0 = time.perf_counter()
    passes = 0
    while passes < MIN_PASSES or time.perf_counter() - t0 < ctx.seconds:
        for j in ctx.rng.permutation(len(QUERY_SET)):
            name = QUERY_SET[int(j)]
            ctx.call(name, run, name, check=lambda r, n=name: rows_digest(*r) == oracle[n])
        passes += 1
    texts = docs["text"]
    return Result(
        loop_verbs=QUERY_SET,
        inputs={
            "documents": N_DOCS,
            "passes": passes,
            "dup_text_share": 1 - len(set(texts)) / len(texts),
            "text_chars_quartiles": [float(x) for x in np.percentile(docs["n_chars"], [25, 50, 75])],
            "oracle_rows": {n: oracle[n][0] for n in QUERY_SET},
        },
    )


WORKLOADS = {"churn": churn, "dedupe_queries": dedupe_queries}

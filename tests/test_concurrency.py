"""Two-writer interleaving: CAS commits must serialize with no lost updates.

The reference serializes concurrent in-process writers with mutexes
(SqliteProvider.cs:29-30), so two callers can safely write one index.
The Spark engine's analogue is optimistic concurrency on the manifest
flip (store.py): read-modify-write merges re-derive from a fresh
snapshot and retry when they lose the race. These tests drive REAL
interleavings — concurrent ``write_batch`` sessions sharing chunk
content (refcount-merge and payload-insert contention) and a
``write_batch`` racing a ``delete_batch`` — and assert the end state a
serial execution would produce. Runs on both store backends.
"""

import random
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from watsondedupe_spark.chunking import ChunkSettings, SMALL_FILE_PROFILE
from watsondedupe_spark.engine import DedupeEngine, DuplicateKeyError
from watsondedupe_spark.store import IndexStore, SqliteIndexStore

SMALL = ChunkSettings(*SMALL_FILE_PROFILE)


@pytest.fixture(params=["file", "sqlite"])
def engine(spark, tmp_path, request):
    cls = IndexStore if request.param == "file" else SqliteIndexStore
    return DedupeEngine.create(spark, str(tmp_path / "idx"), SMALL, store_cls=cls)


def _batch(spark, keys_payloads):
    return spark.createDataFrame(
        [(k, bytearray(p)) for k, p in keys_payloads],
        "object_key string, data binary",
    )


def _payload(n, seed):
    return random.Random(seed).randbytes(n)


def _assert_refcount_invariant(engine):
    """chunks.ref_count must equal the object_map multiplicity per
    chunk_key, and chunk_store must hold each payload exactly once."""
    per_map = engine.object_map.groupBy("chunk_key").count()
    joined = engine.chunks.join(per_map, "chunk_key", "full_outer").select(
        "chunk_key", "ref_count", "count"
    )
    bad = joined.filter(
        F.col("ref_count").isNull()
        | F.col("count").isNull()
        | (F.col("ref_count") != F.col("count"))
    )
    assert bad.count() == 0, bad.limit(5).collect()
    dup_payloads = (
        engine.chunk_store.groupBy("chunk_key").count().filter(F.col("count") > 1)
    )
    assert dup_payloads.count() == 0, dup_payloads.limit(5).collect()
    # every live chunk has its payload, and no orphan payloads linger
    missing = engine.chunks.join(engine.chunk_store, "chunk_key", "left_anti")
    assert missing.count() == 0
    orphans = engine.chunk_store.join(engine.chunks, "chunk_key", "left_anti")
    assert orphans.count() == 0


def test_two_concurrent_write_batches_no_lost_update(engine):
    """Concurrent batches share chunk CONTENT (identical payloads →
    identical chunk keys), so the refcount merge and the
    payload-insert-if-absent both contend. A lost update would show as a
    refcount below the map multiplicity, a duplicated payload row, or a
    colliding ingest id."""
    spark = engine.spark
    shared = _payload(6000, 1)
    batch_a = _batch(
        spark, [("a1", shared), ("a2", _payload(5000, 2)), ("a3", shared)]
    )
    batch_b = _batch(
        spark, [("b1", shared), ("b2", _payload(5000, 3)), ("b3", _payload(7000, 4))]
    )

    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [pool.submit(engine.write_batch, b) for b in (batch_a, batch_b)]
        assert [f.result(timeout=600) for f in futs] == [3, 3]

    rows = engine.objects.collect()
    assert {r.object_key for r in rows} == {"a1", "a2", "a3", "b1", "b2", "b3"}
    ids = sorted(r.id for r in rows)
    assert ids == list(range(1, 7)), f"colliding/gapped ingest ids: {ids}"
    _assert_refcount_invariant(engine)
    # shared content deduped across the racing batches: stored once
    assert engine.get("a1") == shared
    assert engine.get("b1") == shared
    st = engine.stats()
    assert st.physical_bytes < st.logical_bytes  # dedup actually happened


def test_concurrent_write_and_delete_serialize(engine):
    """A delete decrementing refcounts races an ingest incrementing
    them on SHARED chunks. Whichever commit lands second must re-merge
    against the winner's table — the end state equals some serial order:
    deleted keys gone, new keys present, refcounts exact, shared
    payloads retained."""
    spark = engine.spark
    shared = _payload(6000, 10)
    engine.write_batch(
        _batch(spark, [("old1", shared), ("old2", _payload(5000, 11)), ("keep1", shared)])
    )

    new_batch = _batch(spark, [("new1", shared), ("new2", _payload(5000, 12))])
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_del = pool.submit(engine.delete_batch, ["old1", "old2"])
        f_wr = pool.submit(engine.write_batch, new_batch)
        f_del.result(timeout=600)
        assert f_wr.result(timeout=600) == 2

    keys = {r.object_key for r in engine.objects.collect()}
    assert keys == {"keep1", "new1", "new2"}
    _assert_refcount_invariant(engine)
    # the shared payload survived the delete (keep1/new1 still reference it)
    assert engine.get("keep1") == shared
    assert engine.get("new1") == shared
    assert engine.get("new2") == _payload(5000, 12)
    assert not engine.exists("old1") and not engine.exists("old2")


def test_sqlite_engine_reopens_via_autodetect(spark, tmp_path):
    root = str(tmp_path / "sx")
    eng = DedupeEngine.create(spark, root, SMALL, store_cls=SqliteIndexStore)
    eng.write("k1", _payload(4000, 20))
    re = DedupeEngine.open(spark, root)
    assert type(re.store) is SqliteIndexStore
    assert re.get("k1") == _payload(4000, 20)


def _hammer_manifest(args):
    """Child-process worker: N increments through the store's one
    catalog flip (no Spark needed at the manifest layer). Each
    increment appends a fake part entry to table 't'; every odd one
    appends to 't' and 'u' in the SAME flip. Lost updates show as
    missing entries or version gaps, a torn two-table flip as a 'u'
    entry without its 't' twin."""
    backend, root, worker, n = args
    import sys

    sys.path.insert(0, "/root/repo")
    from watsondedupe_spark.store import IndexStore, SqliteIndexStore

    cls = IndexStore if backend == "file" else SqliteIndexStore
    st = cls(None, root)  # no SparkSession: the catalog flip only
    st.retain_versions = 10_000

    def entry(name, part):
        return name, lambda fresh, _: {"parts": fresh["parts"] + [part], "meta": {}}, None

    for i in range(n):
        names = ("t", "u") if i % 2 else ("t",)
        st._flip([entry(t, f"{root}/{t}/p_{worker}_{i}") for t in names])
    return worker


@pytest.mark.parametrize("backend", ["file", "sqlite"])
def test_cross_process_critical_section_no_lost_updates(tmp_path, backend):
    """The catalog flip must serialize across PROCESSES (flock /
    SQLite BEGIN IMMEDIATE), not just threads: 4 processes x 20
    read-modify-write increments lose nothing and leave a gapless
    version sequence, and every two-table increment lands whole."""
    import multiprocessing as mp

    from watsondedupe_spark.store import IndexStore, SqliteIndexStore

    root = str(tmp_path / "xp")
    cls = IndexStore if backend == "file" else SqliteIndexStore
    st = cls(None, root)

    workers, per = 4, 20
    ctx = mp.get_context("spawn")  # no JVM/fd inheritance from pytest
    with ctx.Pool(workers) as pool:
        done = pool.map(
            _hammer_manifest, [(backend, root, w, per) for w in range(workers)]
        )
    assert sorted(done) == list(range(workers))
    t, u = st._state("t"), st._state("u")
    assert t["version"] == workers * per, "lost increment (version)"
    assert u["version"] == workers * per // 2, "lost two-table increment"
    assert len(set(t["parts"])) == len(t["parts"]) == workers * per
    assert len(set(u["parts"])) == len(u["parts"]) == workers * per // 2
    # every worker's every entry survived the interleaving, and each
    # two-table increment landed in both tables
    for w in range(workers):
        for i in range(per):
            assert f"{root}/t/p_{w}_{i}" in t["parts"]
            assert (f"{root}/u/p_{w}_{i}" in u["parts"]) == bool(i % 2)
    assert st.versions("t") == list(range(1, workers * per + 1))


@pytest.mark.parametrize("backend", ["file", "sqlite"])
def test_two_spark_processes_write_one_index(spark, tmp_path, backend):
    """The shared-cluster scenario for real: a SECOND Spark process
    (own JVM, own SparkSession) ingests into the same index root while
    this session ingests concurrently. CAS must serialize both writers'
    refcount merges / id assignment / payload inserts across process
    boundaries; the end state must be the serial-equivalent union."""
    import os
    import subprocess
    import sys

    root = str(tmp_path / "shared_idx")
    cls = IndexStore if backend == "file" else SqliteIndexStore
    eng = DedupeEngine.create(spark, root, SMALL, store_cls=cls)
    shared = _payload(6000, 42)

    child_src = f"""
import sys, random
sys.path.insert(0, {repr(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))})
from watsondedupe_spark.session import get_spark
from watsondedupe_spark.engine import DedupeEngine
sp = get_spark("child-writer", shuffle_partitions=8)
sp.sparkContext.setLogLevel("ERROR")
eng = DedupeEngine.open(sp, {repr(root)})
shared = random.Random(42).randbytes(6000)
rows = [("c1", bytearray(shared)), ("c2", bytearray(random.Random(43).randbytes(5000)))]
df = sp.createDataFrame(rows, "object_key string, data binary")
assert eng.write_batch(df) == 2
print("CHILD-OK", flush=True)
sp.stop()
"""
    env = dict(os.environ)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env.pop("PYSPARK_GATEWAY_SECRET", None)
    child = subprocess.Popen(
        [sys.executable, "-c", child_src],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, env=env, text=True,
    )
    # parent ingests concurrently with the child's whole lifecycle
    # (JVM boot + open + write): keys disjoint, chunk content SHARED
    parent_batch = _batch(
        spark, [("p1", shared), ("p2", _payload(5000, 44))]
    )
    assert DedupeEngine.open(spark, root).write_batch(parent_batch) == 2
    out, _ = child.communicate(timeout=600)
    assert child.returncode == 0 and "CHILD-OK" in out, out[-2000:]

    final = DedupeEngine.open(spark, root)
    assert {r.object_key for r in final.objects.collect()} == {"c1", "c2", "p1", "p2"}
    ids = sorted(r.id for r in final.objects.collect())
    assert ids == [1, 2, 3, 4], f"cross-process id collision: {ids}"
    _assert_refcount_invariant(final)
    assert final.get("c1") == shared and final.get("p1") == shared


def test_concurrent_same_key_writes_one_wins(engine):
    """Two racing write_batch calls with the SAME object_key: the
    composite-op lock serializes the duplicate-key probe with the
    commits, so exactly one writer succeeds and the other raises
    DuplicateKeyError — never a silent double-ingest (the TOCTOU the
    per-table CAS alone could not exclude)."""
    from watsondedupe_spark.engine import DuplicateKeyError

    spark = engine.spark
    payload_a, payload_b = _payload(5000, 60), _payload(5000, 61)
    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [
            pool.submit(engine.write_batch, _batch(spark, [("dup", p)]))
            for p in (payload_a, payload_b)
        ]
        outcomes = []
        for f in futs:
            try:
                outcomes.append(("ok", f.result(timeout=600)))
            except DuplicateKeyError:
                outcomes.append(("dup", None))
    assert sorted(o[0] for o in outcomes) == ["dup", "ok"], outcomes
    rows = engine.objects.collect()
    assert [r.object_key for r in rows] == ["dup"]  # exactly one row
    _assert_refcount_invariant(engine)
    assert engine.get("dup") in (payload_a, payload_b)


def test_replace_vs_write_same_key_atomic(engine):
    """The round-5 advisory scenario, driven for real: a write_batch of
    key "r" races a write_or_replace_batch of the same key. Because the
    replace holds ONE critical section across its delete+write phases,
    the writer can never observe the mid-replace key-absent window — it
    must fail the duplicate-key check in every interleaving, and the
    key must never be left absent."""
    spark = engine.spark
    v1, v2, v3 = _payload(5000, 30), _payload(6000, 31), _payload(7000, 32)
    engine.write_batch(_batch(spark, [("r", v1)]))

    def racing_write():
        engine.write_batch(_batch(spark, [("r", v3), ("by", _payload(4000, 33))]))

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_rep = pool.submit(
            engine.write_or_replace_batch,
            _batch(spark, [("r", v2), ("rx", _payload(4000, 34))]),
        )
        f_wr = pool.submit(racing_write)
        assert f_rep.result(timeout=600) == 2
        with pytest.raises(DuplicateKeyError):
            f_wr.result(timeout=600)

    assert engine.get("r") == v2  # the replace won; key never vanished
    assert engine.get("rx") == _payload(4000, 34)
    assert not engine.exists("by")  # the rejected batch is all-or-nothing
    assert engine.objects.filter(F.col("object_key") == "r").count() == 1
    _assert_refcount_invariant(engine)


def test_two_concurrent_replaces_same_key(engine):
    """Two replaces of one key from two threads: the critical section
    serializes them, so the end state is exactly one object row holding
    one of the two payloads, with the ledger invariants intact."""
    spark = engine.spark
    engine.write_batch(_batch(spark, [("s", _payload(5000, 40))]))
    va, vb = _payload(6000, 41), _payload(6500, 42)

    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [
            pool.submit(engine.write_or_replace_batch, _batch(spark, [("s", v)]))
            for v in (va, vb)
        ]
        assert [f.result(timeout=600) for f in futs] == [1, 1]

    rows = engine.objects.filter(F.col("object_key") == "s").collect()
    assert len(rows) == 1
    assert engine.get("s") in (va, vb)
    _assert_refcount_invariant(engine)

"""Engine integration tests — the reference harness scenarios as invariants.

Scenario sources: SampleApp/Program.cs:19-35 (3-identical-writes dedup),
Cli/test.bat (50-copy ingest + prefix pagination + duplicate-key
rejection), Test.ReadStream/Program.cs:187-264 (random-access reads),
and FIXTURES.md §4 invariants.
"""

import random

import pytest
from pyspark.sql import functions as F

from watsondedupe_spark.chunking import ChunkSettings, SMALL_FILE_PROFILE
from watsondedupe_spark.engine import (
    DedupeEngine,
    DuplicateKeyError,
    ObjectNotFoundError,
)

SMALL = ChunkSettings(*SMALL_FILE_PROFILE)


def rand_bytes(n: int, seed: int) -> bytes:
    return random.Random(seed).randbytes(n)


@pytest.fixture(params=["file", "sqlite"])
def engine(spark, tmp_path, request):
    """Every engine scenario runs on BOTH store backends — the storage
    swap point (store.py) is proven by the second implementation passing
    the same engine suite with zero engine-code changes."""
    from watsondedupe_spark.store import IndexStore, SqliteIndexStore

    cls = IndexStore if request.param == "file" else SqliteIndexStore
    return DedupeEngine.create(spark, str(tmp_path / "idx"), SMALL, store_cls=cls)


def test_create_then_open_preserves_settings(spark, tmp_path):
    root = str(tmp_path / "idx")
    DedupeEngine.create(spark, root, SMALL)
    reopened = DedupeEngine.open(spark, root)
    assert reopened.settings == SMALL
    with pytest.raises(ValueError):
        DedupeEngine.create(spark, root, SMALL)


def test_open_missing_index(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        DedupeEngine.open(spark, str(tmp_path / "nope"))


@pytest.mark.parametrize("size", [1, 2048, 5000, 60_000])
def test_write_get_roundtrip(engine, size):
    data = rand_bytes(size, seed=size)
    engine.write(f"k{size}", data)
    assert engine.get(f"k{size}") == data


def test_duplicate_key_rejected_write_or_replace_succeeds(engine):
    engine.write("dup", b"version one")
    with pytest.raises(DuplicateKeyError):
        engine.write("dup", b"version two")
    engine.write_or_replace("dup", b"version two")
    assert engine.get("dup") == b"version two"
    assert engine.stats().object_count == 1


def test_exists_and_try_get(engine):
    engine.write("present", b"here")
    assert engine.exists("present")
    assert not engine.exists("absent")
    assert engine.try_get("present") == b"here"
    assert engine.try_get("absent") is None
    with pytest.raises(ObjectNotFoundError):
        engine.get("absent")


def test_three_identical_writes_dedup_ratio(engine):
    """SampleApp scenario: same payload under 3 keys => ratio ~= 3x."""
    data = rand_bytes(50_000, seed=1)
    df = engine.spark.createDataFrame(
        [(f"copy{i}", bytearray(data)) for i in range(3)], "object_key string, data binary"
    )
    engine.write_batch(df)
    s = engine.stats()
    assert s.object_count == 3
    assert s.logical_bytes == 3 * 50_000
    assert s.physical_bytes == 50_000
    assert s.ratio_x == pytest.approx(3.0)
    assert s.ratio_percent == pytest.approx(100 * (1 - 1 / 3))


def test_refcount_equals_map_count_invariant(engine):
    """DQ9: chunks.ref_count == COUNT(*) over object_map per chunk_key."""
    data = rand_bytes(40_000, seed=2)
    df = engine.spark.createDataFrame(
        [("a", bytearray(data)), ("b", bytearray(data)), ("c", bytearray(rand_bytes(9000, 3)))],
        "object_key string, data binary",
    )
    engine.write_batch(df)
    mismatch = (
        engine.chunks.alias("c")
        .join(
            engine.object_map.groupBy("chunk_key").agg(F.count("*").alias("n")).alias("m"),
            "chunk_key",
            "full_outer",
        )
        .filter(F.col("c.ref_count") != F.col("m.n"))
        .count()
    )
    assert mismatch == 0


def test_delete_gc_semantics(engine):
    """Invariant 5.3: deleting one of N refs GCs nothing; the last ref GCs."""
    data = rand_bytes(30_000, seed=4)
    df = engine.spark.createDataFrame(
        [("x", bytearray(data)), ("y", bytearray(data))], "object_key string, data binary"
    )
    engine.write_batch(df)
    assert engine.delete("x") == []  # shared chunks survive
    assert engine.get("y") == data
    gc = engine.delete("y")
    assert len(gc) > 0  # last reference frees all chunks
    s = engine.stats()
    assert s.object_count == 0 and s.chunk_count == 0
    assert engine.chunk_store.count() == 0
    assert engine.object_map.count() == 0
    with pytest.raises(ObjectNotFoundError):
        engine.delete("x")


def test_delete_of_absent_keys_stages_nothing(engine):
    """A delete naming only keys the index does not hold returns [] and
    publishes nothing: every table keeps its version and its parts, and
    no ledger row is added."""
    engine.write("x", rand_bytes(6000, seed=6))
    tables = ("objects", "object_map", "chunks", "chunk_store", "checkpoints")

    def state():
        return {t: (engine.store.current_version(t), engine.store.live_parts(t)) for t in tables}

    before, n_points = state(), engine.checkpoints.count()
    assert engine.delete_batch(["missing", "also-missing"]) == []
    assert state() == before
    assert engine.checkpoints.count() == n_points
    frame = engine.spark.createDataFrame([("missing",)], "object_key string")
    assert engine.delete_batch(frame).count() == 0
    assert state() == before
    assert engine.get("x") == rand_bytes(6000, seed=6)


def test_metadata_and_coverage_invariants(engine):
    """FIXTURES §4.2/4.5: comp_length = sum(map.length), chunk_count =
    count(map rows), positions are 0..n-1 by address, addresses tile."""
    data = rand_bytes(70_000, seed=5)
    engine.write("big", data)
    meta = engine.get_metadata("big")
    assert meta.original_length == 70_000
    assert meta.comp_length == sum(r.length for r in meta.object_map)
    assert meta.chunk_count == len(meta.object_map)
    addr = 0
    for i, r in enumerate(meta.object_map):
        assert r.position == i and r.address == addr
        addr += r.length
    assert addr == 70_000
    assert {c.chunk_key for c in meta.chunks} == {r.chunk_key for r in meta.object_map}


def test_map_for_position(engine):
    data = rand_bytes(40_000, seed=6)
    engine.write("pos", data)
    for p in [0, 1, 2048, 39_999]:
        rows = engine.map_for_position("pos", p).collect()
        assert len(rows) == 1
        r = rows[0]
        assert r.address <= p < r.address + r.length
    assert engine.map_for_position("pos", 40_000).count() == 0


def test_get_range_matches_slices(engine):
    data = rand_bytes(50_000, seed=7)
    engine.write("rng", data)
    for off, ln in [(0, 10), (2047, 10), (16_000, 20_000), (49_990, 100), (50_000, 5)]:
        assert engine.get_range("rng", off, ln) == data[off : off + ln]
    assert engine.get_range("rng", 10, 0) == b""


def test_stream_read_and_seek(engine):
    """Invariant 5.4: DedupeStream reads equal slices at any seek position."""
    import io as _io

    data = rand_bytes(60_000, seed=8)
    engine.write("strm", data)
    s = engine.get_stream("strm")
    assert s.read(100) == data[:100]
    s.seek(30_000)
    assert s.read(5000) == data[30_000:35_000]
    s.seek(-100, _io.SEEK_END)
    assert s.read() == data[-100:]
    s.seek(0)
    assert s.read() == data
    assert s.read(10) == b""


def test_list_objects_keyset_pagination(engine):
    """Invariant 5.5: repeated pages walk all keys exactly once in id order."""
    df = engine.spark.createDataFrame(
        [(f"{i:03d}", bytearray(rand_bytes(300, i))) for i in range(25)],
        "object_key string, data binary",
    )
    engine.write_batch(df)
    seen: list[str] = []
    start, pages = 0, 0
    while True:
        page = engine.list_objects(index_start=start, max_results=10)
        seen += [o.object_key for o in page.objects]
        ids = [o.id for o in page.objects]
        assert ids == sorted(ids)
        pages += 1
        if page.next_index_start is None:
            break
        start = page.next_index_start
    assert seen == [f"{i:03d}" for i in range(25)]
    assert pages == 3

    pfx = engine.list_objects(prefix="01", max_results=100)
    assert [o.object_key for o in pfx.objects] == [f"01{i}" for i in range(10)]
    # page size is capped at 100 (EnumerationResult.cs:60)
    assert len(engine.list_objects(max_results=10_000).objects) == 25


def test_list_objects_prefix_supplementary_plane_keys(engine):
    """Round-9 advice (medium): the prefix prune bound must be the true
    prefix successor, not prefix + U+FFFF — a part holding only keys
    with supplementary-plane characters (emoji sort ABOVE U+FFFF) was
    silently pruned out of listings by the old bound."""
    # part 1: ONLY keys whose post-prefix char sorts above U+FFFF, so
    # the part's whole object_key span sits above "01" + U+FFFF
    hi = engine.spark.createDataFrame(
        [(f"01\U0001F600{i}", bytearray(rand_bytes(200, 90 + i))) for i in range(3)],
        "object_key string, data binary",
    )
    engine.write_batch(hi)
    # part 2: plain BMP keys under the same prefix, plus a decoy
    lo = engine.spark.createDataFrame(
        [("01a", bytearray(rand_bytes(200, 1))), ("02z", bytearray(rand_bytes(200, 2)))],
        "object_key string, data binary",
    )
    engine.write_batch(lo)
    got = sorted(o.object_key for o in engine.list_objects(prefix="01").objects)
    assert got == sorted([f"01\U0001F600{i}" for i in range(3)] + ["01a"])


def test_prefix_successor_bounds():
    from watsondedupe_spark.engine import _prefix_successor

    assert _prefix_successor("ab") == "ac"
    assert _prefix_successor("a\U0010FFFF") == "b"
    assert _prefix_successor("\U0010FFFF") is None
    # incrementing into the surrogate block skips to U+E000
    assert _prefix_successor("x퟿") == "x"
    # every string with the prefix sorts strictly below the successor
    for p in ("k", "01", "z\U0010FFFE"):
        s = _prefix_successor(p)
        assert p < s and (p + "\U0010FFFF" * 4) < s


def test_batch_rejects_duplicate_keys(engine):
    engine.write("taken", b"x")
    df = engine.spark.createDataFrame(
        [("new", bytearray(b"a")), ("taken", bytearray(b"b"))], "object_key string, data binary"
    )
    with pytest.raises(DuplicateKeyError):
        engine.write_batch(df)
    dup = engine.spark.createDataFrame(
        [("same", bytearray(b"a")), ("same", bytearray(b"b"))], "object_key string, data binary"
    )
    with pytest.raises(DuplicateKeyError):
        engine.write_batch(dup)


def test_ids_are_monotone_across_batches(engine):
    engine.write("first", b"1")
    engine.write("second", b"2")
    df = engine.spark.createDataFrame(
        [("third", bytearray(b"3")), ("fourth", bytearray(b"4"))], "object_key string, data binary"
    )
    engine.write_batch(df)
    rows = engine.objects.orderBy("id").collect()
    assert [r.id for r in rows] == [1, 2, 3, 4]
    assert rows[0].object_key == "first"


def test_empty_index_stats(engine):
    s = engine.stats()
    assert (s.object_count, s.chunk_count, s.logical_bytes, s.physical_bytes) == (0, 0, 0, 0)
    assert s.ratio_x == 0.0 and s.ratio_percent == 0.0


def test_get_batch_distributed_reassembly(engine):
    """get_batch reassembles every requested object byte-identically in
    one job; missing keys are absent (batched try_get semantics)."""
    payloads = {
        f"gb{i}": random.Random(400 + i).randbytes(5000 + 9000 * i) for i in range(4)
    }
    df = engine.spark.createDataFrame(
        [(k, bytearray(v)) for k, v in payloads.items()], "object_key string, data binary"
    )
    engine.write_batch(df)
    got = {
        r.object_key: bytes(r.data)
        for r in engine.get_batch([*payloads, "gb-missing"]).collect()
    }
    assert set(got) == set(payloads)  # missing key absent, no error
    for k, v in payloads.items():
        assert got[k] == v, k


def test_write_or_replace_batch_replaces_and_preserves_shared_chunks(spark, tmp_path):
    from pyspark.sql import functions as F

    from watsondedupe_spark.chunking import ChunkSettings
    from watsondedupe_spark.engine import DedupeEngine

    eng = DedupeEngine.create(spark, str(tmp_path / "ix"), ChunkSettings(2048, 16384, 128, 2))
    payload_a = b"alpha" * 2000
    payload_b = b"bravo" * 2000
    batch1 = spark.createDataFrame(
        [("k1", payload_a), ("k2", payload_a)], "object_key string, data binary"
    )
    eng.write_batch(batch1)

    # replace k2's content, add k3; k1 untouched
    batch2 = spark.createDataFrame(
        [("k2", payload_b), ("k3", payload_b)], "object_key string, data binary"
    )
    n = eng.write_or_replace_batch(batch2)
    assert n == 2

    assert bytes(eng.get("k1")) == payload_a  # shared chunks survived k2's delete
    assert bytes(eng.get("k2")) == payload_b
    assert bytes(eng.get("k3")) == payload_b
    # refcount invariant holds after the replace
    refs = {r.chunk_key: r.ref_count for r in eng.chunks.collect()}
    counts = {
        r.chunk_key: r.cnt
        for r in eng.object_map.groupBy("chunk_key").agg(F.count("*").alias("cnt")).collect()
    }
    assert refs == counts


def test_replace_batch_10k_keys_stays_distributed(spark, tmp_path, monkeypatch):
    """A bulk replace above the driver key cap must never materialize
    the existing-key set on the driver: write_or_replace_batch hands the
    commit sequence a DataFrame of doomed keys (the join path), and the
    GC set comes back as a DataFrame too. Refcount and GC semantics must
    match the list path exactly."""
    from pyspark.sql import DataFrame as SparkDataFrame
    from pyspark.sql import functions as F

    import watsondedupe_spark.engine as engine_mod
    from watsondedupe_spark.chunking import ChunkSettings
    from watsondedupe_spark.engine import DedupeEngine

    monkeypatch.setattr(engine_mod, "GC_BROADCAST_KEYS", 1_000)  # 10k keys: above it

    eng = DedupeEngine.create(spark, str(tmp_path / "ix"), ChunkSettings(2048, 16384, 128, 2))
    n = 10_000
    batch1 = spark.range(n).select(
        F.concat(F.lit("k"), F.col("id")).alias("object_key"),
        F.encode(F.concat(F.lit("payload-v1-"), F.col("id")), "UTF-8").alias("data"),
    )
    assert eng.write_batch(batch1) == n

    seen: dict[str, type] = {}
    orig = DedupeEngine._commit_mutation

    def spy(self, doomed=None, batch=None):
        seen["keys_type"] = type(doomed)
        return orig(self, doomed, batch)

    monkeypatch.setattr(DedupeEngine, "_commit_mutation", spy)

    # replace every key with new content (all old single-chunk payloads
    # become garbage), plus one brand-new key
    batch2 = spark.range(n + 1).select(
        F.concat(F.lit("k"), F.col("id")).alias("object_key"),
        F.encode(F.concat(F.lit("payload-v2-"), F.col("id")), "UTF-8").alias("data"),
    )
    assert eng.write_or_replace_batch(batch2) == n + 1
    assert issubclass(seen["keys_type"], SparkDataFrame)  # join path, not a list

    assert eng.stats().object_count == n + 1
    assert bytes(eng.get("k0")) == b"payload-v2-0"
    assert bytes(eng.get(f"k{n}")) == f"payload-v2-{n}".encode()
    # GC: every v1 payload chunk is gone — store carries exactly the live set
    assert eng.chunk_store.count() == eng.chunks.count()
    # refcount invariant after the replace
    bad = (
        eng.chunks.join(
            eng.object_map.groupBy("chunk_key").agg(F.count("*").alias("cnt")),
            "chunk_key",
            "full_outer",
        )
        .filter(
            F.coalesce(F.col("ref_count"), F.lit(-1)) != F.coalesce(F.col("cnt"), F.lit(-2))
        )
        .count()
    )
    assert bad == 0


def test_delete_batch_dataframe_returns_gc_set(spark, tmp_path):
    """The DataFrame form of delete_batch returns the GC'd chunk keys as
    a DataFrame with the same contents the list form would produce."""
    from pyspark.sql import functions as F

    from watsondedupe_spark.chunking import ChunkSettings
    from watsondedupe_spark.engine import DedupeEngine

    eng = DedupeEngine.create(spark, str(tmp_path / "ix"), ChunkSettings(2048, 16384, 128, 2))
    shared = b"shared" * 2000
    batch = spark.createDataFrame(
        [("a", shared), ("b", shared), ("c", b"solo" * 3000)],
        "object_key string, data binary",
    )
    eng.write_batch(batch)
    solo_chunks = {r.chunk_key for r in eng.object_map.filter("object_key = 'c'").collect()}

    doomed = spark.createDataFrame([("b",), ("c",)], "object_key string")
    gc = eng.delete_batch(doomed)
    assert {r.chunk_key for r in gc.collect()} == solo_chunks  # shared chunks survive via 'a'
    assert bytes(eng.get("a")) == shared
    assert eng.stats().object_count == 1


def test_delete_list_form_caps_gc_return(spark, tmp_path, monkeypatch):
    """A list-key delete whose GC set exceeds GC_RETURN_CAP returns a
    DataFrame (the distributed contract), never a driver-side list."""
    import watsondedupe_spark.engine as engine_mod
    from watsondedupe_spark.chunking import ChunkSettings
    from watsondedupe_spark.engine import DedupeEngine

    monkeypatch.setattr(engine_mod, "GC_RETURN_CAP", 3)
    eng = DedupeEngine.create(spark, str(tmp_path / "ix"), ChunkSettings(2048, 16384, 128, 2))
    eng.write("big", rand_bytes(120_000, seed=77))  # many unique chunks
    n_chunks = eng.object_map.count()
    assert n_chunks > 3

    gc = eng.delete("big")
    from pyspark.sql import DataFrame

    assert isinstance(gc, DataFrame)  # above-cap GC set stays distributed
    assert gc.count() == n_chunks
    assert eng.stats().object_count == 0
    assert eng.chunk_store.count() == 0  # payloads actually GC'd

    # under the cap the reference-faithful list still comes back
    eng.write("small", b"tiny")
    assert eng.delete("small") != []  # one chunk -> list form
    assert isinstance(eng.delete_batch([]), list)


def test_row_drops_above_the_driver_key_cap(spark, tmp_path, monkeypatch):
    """Above GC_BROADCAST_KEYS a row drop selects every part and
    anti-joins a distributed key set: a delete returns its GC set as a
    DataFrame, a replace lands, repair() heals an orphan payload, a
    NULL-key row and a garbage duplicate, and recover() prunes orphan
    map rows — as the bounded path does."""
    from pyspark.sql import DataFrame

    import watsondedupe_spark.engine as engine_mod
    from watsondedupe_spark.keys import chunk_key

    monkeypatch.setattr(engine_mod, "GC_BROADCAST_KEYS", 1)
    engine = DedupeEngine.create(spark, str(tmp_path / "idx"), SMALL)
    old_a, new_a, b = _aligned_pair()
    c = rand_bytes(9000, seed=7)
    engine.write_batch(_rows(spark, [("a", old_a), ("b", b), ("c", c)]))
    keys_of = lambda k: {r.chunk_key for r in engine.get_object_map(k).collect()}
    dying = (keys_of("a") | keys_of("c")) - keys_of("b")

    gc = engine.delete_batch(["a", "c"])
    assert isinstance(gc, DataFrame)
    assert {r.chunk_key for r in gc.collect()} == dying
    engine.write_or_replace_batch(_rows(spark, [("b", new_a), ("d", old_a)]))
    assert engine.get("b") == new_a and engine.get("d") == old_a

    victim = sorted(keys_of("b"))[0]
    orphan = b"above-cap-orphan"
    engine.store.append(
        "chunk_store",
        spark.createDataFrame(
            [(victim, bytearray(b"x")), (chunk_key(orphan), bytearray(orphan)), (None, bytearray(b"n"))],
            "chunk_key string, data binary",
        ),
    )
    deltas = engine.repair()
    assert deltas["chunk_store"] == -2 and deltas["chunk_store_canonicalized"] == -1
    engine.store.append(
        "object_map",
        spark.createDataFrame(
            [("ghost1", victim, 1, 0, 0), ("ghost2", victim, 1, 0, 0)],
            "object_key string, chunk_key string, length int, position int, address long",
        ),
    )
    assert engine.recover()["object_map"] == -2
    assert engine.verify().count() == 0
    assert engine.get("b") == new_a and engine.get("d") == old_a


def test_store_append_is_incremental_and_compaction_folds(spark, tmp_path):
    """Appends must write only the new part (O(batch) I/O) and fold into
    one part after max_parts accumulate."""
    from pyspark.sql import functions as F

    from watsondedupe_spark.store import IndexStore

    store = IndexStore(spark, str(tmp_path / "st"))
    store.max_parts = 4
    for i in range(4):
        store.append("config", spark.createDataFrame([(f"k{i}", f"v{i}")], "key string, value string"))
    assert len(store._state("config")["parts"]) == 4
    # 5th append exceeds max_parts: folds everything into one part + itself
    store.append("config", spark.createDataFrame([("k4", "v4")], "key string, value string"))
    assert len(store._state("config")["parts"]) == 1
    rows = {(r.key, r.value) for r in store.read("config").collect()}
    assert rows == {(f"k{i}", f"v{i}") for i in range(5)}
    # explicit compact is a no-op on one part but keeps contents intact
    store.compact("config")
    assert {(r.key, r.value) for r in store.read("config").collect()} == rows
    # commit retires all prior parts
    store.commit("config", spark.createDataFrame([("only", "row")], "key string, value string"))
    assert len(store._state("config")["parts"]) == 1
    assert store.read("config").count() == 1


def test_incremental_views_across_versions(spark, tmp_path):
    from watsondedupe_spark.engine import DedupeEngine

    eng = DedupeEngine.create(spark, str(tmp_path / "incr_idx"))
    eng.write("a", b"first payload " * 300)
    v_chunks = eng.store.current_version("chunks")
    v_objects = eng.store.current_version("objects")
    eng.write("b", b"second payload entirely different " * 300)

    new_chunks = {r.chunk_key for r in eng.chunks_added_since(v_chunks).collect()}
    b_chunks = {r.chunk_key for r in eng.get_chunks("b").collect()}
    a_chunks = {r.chunk_key for r in eng.get_chunks("a").collect()}
    assert new_chunks == b_chunks - a_chunks
    assert not (new_chunks & a_chunks)

    new_objects = eng.objects_added_since(v_objects).collect()
    assert [r.object_key for r in new_objects] == ["b"]


def test_op_lock_reentrant_same_thread(spark, tmp_path):
    """The composite-op lock is reentrant per thread (round-6 advice):
    nested acquisition must not deadlock — it is what lets a caller
    hold one critical section across several engine verbs."""
    from watsondedupe_spark.store import IndexStore

    store = IndexStore(spark, str(tmp_path / "reent"))
    with store.op_lock():
        with store.op_lock():  # would flock-deadlock without reentrancy
            with store.op_lock("other"):  # independent name, same tls
                pass
        # inner exit must NOT release the outer hold: a second store
        # instance (fresh file description) still blocks on the lock
        import fcntl

        other = IndexStore(spark, str(tmp_path / "reent"))
        fd = __import__("os").open(str(tmp_path / "reent" / "_OPLOCK.write"), 2)
        try:
            with pytest.raises(BlockingIOError):
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        finally:
            __import__("os").close(fd)
        assert other is not None
    # fully released after the outer exit
    fd = __import__("os").open(str(tmp_path / "reent" / "_OPLOCK.write"), 2)
    import fcntl

    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    fcntl.flock(fd, fcntl.LOCK_UN)
    __import__("os").close(fd)


def test_write_or_replace_batch_atomic_and_correct(engine, spark):
    """Batched O5 replaces existing keys and ingests new ones in one
    composite critical section (one op_lock hold — no DuplicateKeyError
    window)."""
    df1 = spark.createDataFrame(
        [("r1", bytearray(b"one" * 1000)), ("r2", bytearray(b"two" * 1000))],
        "object_key string, data binary",
    )
    engine.write_batch(df1)
    df2 = spark.createDataFrame(
        [("r2", bytearray(b"TWO" * 1500)), ("r3", bytearray(b"three" * 1000))],
        "object_key string, data binary",
    )
    assert engine.write_or_replace_batch(df2) == 2
    assert engine.get("r1") == b"one" * 1000
    assert engine.get("r2") == b"TWO" * 1500
    assert engine.get("r3") == b"three" * 1000
    assert engine.stats().object_count == 3


def test_recover_prunes_partial_ingest(engine, spark):
    """Crash-repair scan (round-6 advice): map/chunk/payload rows whose
    key never reached the objects table (the logical commit point) are
    pruned and refcounts rebuilt; shared chunks survive with corrected
    counts; a healthy index reports zero deltas."""
    from pyspark.sql import functions as F

    engine.write("keep", b"shared payload " * 500)
    assert engine.recover() == {"object_map": 0, "chunks": 0, "chunk_store": 0}

    # simulate a crashed ingest: a second key committed its map rows,
    # refcount increments, and one orphan-only payload — but no objects
    # row (the thread pool died before write_objects landed)
    keep_map = engine.get_object_map("keep").collect()
    ghost_map = [
        ("ghost", r.chunk_key, r.length, r.position, r.address) for r in keep_map
    ] + [("ghost", "ghost_only_chunk", 7, len(keep_map), keep_map[-1].address + keep_map[-1].length)]
    engine.store.append(
        "object_map",
        spark.createDataFrame(
            ghost_map,
            "object_key string, chunk_key string, length int, position int, address long",
        ),
    )
    v, chunks, _ = engine.store.snapshot("chunks")
    engine.store.commit(
        "chunks",
        chunks.withColumn("ref_count", F.col("ref_count") + 1).unionByName(
            spark.createDataFrame(
                [("ghost_only_chunk", 7, 1)], "chunk_key string, length int, ref_count long"
            )
        ),
        expected_version=v,
    )
    engine.store.append(
        "chunk_store",
        spark.createDataFrame(
            [("ghost_only_chunk", bytearray(b"ghostly"))], "chunk_key string, data binary"
        ),
    )

    deltas = engine.recover()
    assert deltas["object_map"] == -len(ghost_map)
    assert deltas["chunks"] == -1  # only the ghost-only chunk drops
    assert deltas["chunk_store"] == -1
    # the survivor is fully intact with its original refcounts
    assert engine.get("keep") == b"shared payload " * 500
    assert engine.chunks.filter(F.col("ref_count") != 1).count() == 0
    assert engine.recover() == {"object_map": 0, "chunks": 0, "chunk_store": 0}


def test_recover_is_resumable_after_partial_repair(engine, spark):
    """A crash mid-recover (map pruned, refcounts not yet rebuilt) must
    be finished by a second recover() — each table is verified
    independently, no early-out on a clean object_map."""
    from pyspark.sql import functions as F

    engine.write("solo", b"resumable payload " * 400)
    # the half-recovered state: object_map already clean, but chunks
    # carry inflated refcounts and an orphan chunk + payload linger
    v, chunks, _ = engine.store.snapshot("chunks")
    engine.store.commit(
        "chunks",
        chunks.withColumn("ref_count", F.col("ref_count") + 3).unionByName(
            spark.createDataFrame(
                [("lingering_chunk", 5, 2)], "chunk_key string, length int, ref_count long"
            )
        ),
        expected_version=v,
    )
    engine.store.append(
        "chunk_store",
        spark.createDataFrame(
            [("lingering_chunk", bytearray(b"xxxxx"))], "chunk_key string, data binary"
        ),
    )
    deltas = engine.recover()
    assert deltas["object_map"] == 0
    assert deltas["chunks"] == -1
    assert deltas["chunk_store"] == -1
    assert engine.chunks.filter(F.col("ref_count") != 1).count() == 0
    assert engine.get("solo") == b"resumable payload " * 400
    assert engine.recover() == {"object_map": 0, "chunks": -0, "chunk_store": -0}


_CLEAN = {"object_map": 0, "chunks": 0, "chunk_store": 0}


@pytest.mark.parametrize("crash_point", ["object_map", "chunks", "chunk_store", "objects"])
def test_crash_matrix_real_write_path(engine, spark, crash_point):
    """Crash-inject the REAL write path right after each table's part is
    staged (the store's fault hook, ``IndexStore._crash_after``): one
    catalog flip publishes all four tables, so every such crash leaves
    no table version moved, no victim visible and nothing for
    ``recover()`` to repair. Runs on both backends via the engine
    fixture."""
    from watsondedupe_spark.store import SimulatedCrash

    base = b"crash matrix shared payload " * 200
    engine.write("base", base)
    n_base_map = engine.get_object_map("base").count()
    n_base_chunks = engine.chunks.count()
    n_base_store = engine.chunk_store.count()
    before = engine.store._catalog()

    victims = spark.createDataFrame(
        [
            ("vic_dup", bytearray(base)),  # shares EVERY chunk with base
            ("vic_uniq", bytearray(b"unique victim bytes/" * 400)),
        ],
        "object_key string, data binary",
    )
    with pytest.raises(SimulatedCrash), engine.store._crash_after(crash_point):
        engine.write_batch(victims)

    assert engine.store._catalog() == before
    assert not engine.exists("vic_dup") and not engine.exists("vic_uniq")
    assert engine.recover() == _CLEAN
    assert engine.object_map.count() == n_base_map
    assert engine.chunks.count() == n_base_chunks
    assert engine.chunk_store.count() == n_base_store
    assert engine.chunks.filter(F.col("ref_count") != 1).count() == 0
    assert engine.get("base") == base
    assert engine.verify().count() == 0


def test_point_reads_prune_parts_at_plan_level(spark, tmp_path):
    """Round-8 data skipping: with three parts of disjoint key spans,
    a point read must PLAN a scan over exactly one part directory —
    the manifest min/max check runs before Spark ever opens a footer."""
    import re

    from pyspark.sql import functions as F

    from watsondedupe_spark import plans as P
    from watsondedupe_spark.chunking import ChunkSettings
    from watsondedupe_spark.engine import DedupeEngine

    eng = DedupeEngine.create(
        spark, str(tmp_path / "ix"), ChunkSettings(256, 2048, 16, 2)
    )
    for lo in (0, 10, 20):
        rows = [(f"k{lo + i:04d}", bytearray(f"payload-{lo + i}".encode() * 300))
                for i in range(10)]
        eng.write_batch(
            spark.createDataFrame(rows, "object_key string, data binary")
        )
    state = eng.store._state("objects")
    assert len(state["parts"]) == 3

    probe = eng.store.read_point("objects", "object_key", ["k0015"]).filter(
        F.col("object_key") == "k0015"
    )
    locs = re.findall(r"Location: InMemoryFileIndex \[([^\]]*)\]", P.physical_plan(probe))
    assert locs and all(len(loc.split(",")) == 1 for loc in locs), locs
    assert probe.count() == 1

    # engine-level reads resolve through the pruned path
    assert eng.exists("k0015") and not eng.exists("nope")
    assert eng.get("k0015") == b"payload-15" * 300
    assert eng.get_range("k0015", 3, 7) == (b"payload-15" * 300)[3:10]
    page = eng.list_objects(prefix="k00", max_results=100)
    assert len(page.objects) == 30


def test_verify_clean_index_and_planted_faults(engine):
    """engine.verify(): empty on a healthy index; each planted fault
    class is detected exactly once, including missing_payload (a
    payload row dropped by raw store surgery) which the graded query
    does not plant. Runs on both store backends via the fixture."""
    from watsondedupe_spark.keys import chunk_key

    spark = engine.spark
    engine.write_batch(
        spark.createDataFrame(
            [(f"k{i}", bytearray(rand_bytes(6000, 70 + i))) for i in range(4)],
            "object_key string, data binary",
        )
    )
    assert engine.verify().count() == 0

    victim, loser = [
        r.chunk_key
        for r in engine.chunks.orderBy("chunk_key").limit(2).collect()
    ]
    # garbage payload under an existing key + an unreferenced payload
    orphan = b"___orphan"
    engine.store.append(
        "chunk_store",
        spark.createDataFrame(
            [(victim, bytearray(b"x")), (chunk_key(orphan), bytearray(orphan))],
            "chunk_key string, data binary",
        ),
    )
    # ghost map row (object never committed) referencing the victim
    engine.store.append(
        "object_map",
        spark.createDataFrame(
            [("___ghost", victim, 1, 0, 0)],
            "object_key string, chunk_key string, length int, position int, address long",
        ),
    )
    # drop one payload entirely: missing_payload for `loser`
    v, cs, _ = engine.store.snapshot("chunk_store")
    engine.store.commit(
        "chunk_store", cs.filter(F.col("chunk_key") != loser), expected_version=v
    )

    got = {
        (r.check, r.key)
        for r in engine.verify().collect()
    }
    assert got == {
        ("hash_mismatch", victim),
        ("dup_payload", victim),
        ("length_drift", victim),
        ("orphan_payload", chunk_key(orphan)),
        ("orphan_map", "___ghost"),
        ("refcount_drift", victim),
        ("missing_payload", loser),
    }


def test_repair_heals_fixable_faults_and_escalates_unfixable(engine):
    """engine.repair(): the planted fault matrix heals to a clean
    verify(); a chunk whose ONLY payload row is corrupt cannot be
    healed from the index — its garbage is dropped and the loss
    surfaces as missing_payload (honest escalation, never silently
    wrong bytes)."""
    from watsondedupe_spark.keys import chunk_key

    spark = engine.spark
    engine.write_batch(
        spark.createDataFrame(
            [(f"r{i}", bytearray(rand_bytes(6000, 80 + i))) for i in range(3)],
            "object_key string, data binary",
        )
    )
    victim, lost = [
        r.chunk_key for r in engine.chunks.orderBy("chunk_key").limit(2).collect()
    ]
    orphan = b"___orphan2"
    engine.store.append(
        "chunk_store",
        spark.createDataFrame(
            [(victim, bytearray(b"x")), (chunk_key(orphan), bytearray(orphan))],
            "chunk_key string, data binary",
        ),
    )
    engine.store.append(
        "object_map",
        spark.createDataFrame(
            [("___ghost", victim, 1, 0, 0)],
            "object_key string, chunk_key string, length int, position int, address long",
        ),
    )
    # make `lost` solely-corrupt: replace its only payload with garbage
    v, cs, _ = engine.store.snapshot("chunk_store")
    surgically = cs.withColumn(
        "data",
        F.when(F.col("chunk_key") == lost, F.lit(b"rot")).otherwise(F.col("data")),
    )
    engine.store.commit("chunk_store", surgically, expected_version=v)

    assert engine.verify().count() > 0
    deltas = engine.repair()
    assert deltas["chunk_store_canonicalized"] < 0
    left = {(r.check, r.key) for r in engine.verify().collect()}
    # everything healed except the unhealable data loss, now explicit
    assert left == {("missing_payload", lost)}
    # repair is idempotent: a second pass changes nothing more
    again = engine.repair()
    assert again["chunk_store_canonicalized"] == 0
    assert {(r.check, r.key) for r in engine.verify().collect()} == left


def test_verify_and_repair_flag_null_payloads(engine):
    """Round-10 advice: a NULL chunk_store payload makes the recomputed
    hash and stored length NULL, and a plain ``!=`` evaluates to NULL —
    the unreadable row would escape hash_mismatch/length_drift AND
    repair()'s detection count. The null-safe comparisons must flag it
    like any other corruption: a NULL duplicate is canonicalized away,
    a solely-NULL chunk escalates honestly to missing_payload."""
    spark = engine.spark
    engine.write_batch(
        spark.createDataFrame(
            [(f"n{i}", bytearray(rand_bytes(6000, 90 + i))) for i in range(3)],
            "object_key string, data binary",
        )
    )
    victim, solo = [
        r.chunk_key for r in engine.chunks.orderBy("chunk_key").limit(2).collect()
    ]
    # NULL duplicate payload under `victim`
    engine.store.append(
        "chunk_store",
        spark.createDataFrame([(victim, None)], "chunk_key string, data binary"),
    )
    # make `solo`'s ONLY payload NULL via store surgery
    v, cs, _ = engine.store.snapshot("chunk_store")
    surgically = cs.withColumn(
        "data",
        F.when(F.col("chunk_key") == solo, F.lit(None).cast("binary")).otherwise(
            F.col("data")
        ),
    )
    engine.store.commit("chunk_store", surgically, expected_version=v)

    got = {(r.check, r.key) for r in engine.verify().collect()}
    assert got == {
        ("hash_mismatch", victim),
        ("dup_payload", victim),
        ("length_drift", victim),
        ("hash_mismatch", solo),
        ("length_drift", solo),
    }

    deltas = engine.repair()
    assert deltas["chunk_store_canonicalized"] == -2  # both NULL rows dropped
    left = {(r.check, r.key) for r in engine.verify().collect()}
    assert left == {("missing_payload", solo)}


def test_verify_scoped_modes(engine):
    """Scoped scrubs (round 10): shard runs partition the payload
    checks exactly (disjoint union == full scan's payload classes,
    metadata-wide checks reported only by the full scan); an
    incremental scan against the CURRENT version is empty; a bad shard
    index raises."""
    spark = engine.spark
    engine.write_batch(
        spark.createDataFrame(
            [(f"s{i}", bytearray(rand_bytes(6000, 100 + i))) for i in range(4)],
            "object_key string, data binary",
        )
    )
    victim = engine.chunks.agg(F.min("chunk_key")).collect()[0][0]
    engine.store.append(
        "chunk_store",
        spark.createDataFrame([(victim, bytearray(b"x"))],
                              "chunk_key string, data binary"),
    )
    full = {(r.check, r.key) for r in engine.verify().collect()}
    payload_full = {(c, k) for c, k in full if c not in ("refcount_drift", "orphan_map")}
    shard_union: set = set()
    for i in range(3):
        got = {(r.check, r.key) for r in engine.verify(shards=(i, 3)).collect()}
        assert not shard_union & got  # disjoint
        assert not {c for c, _ in got} & {"refcount_drift", "orphan_map"}
        shard_union |= got
    assert shard_union == payload_full
    # nothing appended since the current version -> empty incremental
    v_now = engine.store.versions("chunk_store")[-1]
    assert engine.verify(since_version=v_now).count() == 0
    with pytest.raises(ValueError):
        engine.verify(shards=(3, 3))


def test_clone_roundtrip_and_refusals(engine, tmp_path):
    """clone() (round 10): replica preserves settings and bytes on the
    OPPOSITE backend, refuses an existing destination, and keeps the
    ingest-id high-water so post-clone writes never collide."""
    from watsondedupe_spark.engine import DedupeEngine
    from watsondedupe_spark.store import IndexStore, SqliteIndexStore

    spark = engine.spark
    payloads = {f"c{i}": rand_bytes(6000, 110 + i) for i in range(3)}
    engine.write_batch(
        spark.createDataFrame(
            [(k, bytearray(v)) for k, v in payloads.items()],
            "object_key string, data binary",
        )
    )
    other = (
        SqliteIndexStore if isinstance(engine.store, IndexStore) else IndexStore
    )
    dest = str(tmp_path / "clone")
    engine.clone(dest, store_cls=other)
    clone = DedupeEngine.open(spark, dest)
    assert isinstance(clone.store, other)
    assert clone.settings == engine.settings
    for k, v in payloads.items():
        assert clone.get(k) == v
    # id continuity: next ingest id continues above the carried high-water
    clone.write("c_new", b"y" * 6000)
    ids = sorted(r.id for r in clone.objects.collect())
    assert ids == [1, 2, 3, 4]
    # destination already an index -> refuse
    with pytest.raises(ValueError):
        engine.clone(dest)


def test_checkpoint_ledger_and_pitr(engine, tmp_path):
    """Consistency-point ledger (round 10): each composite op appends
    one row inside its critical section; clone(at=) restores a named
    point — including objects deleted after it; unknown seq raises."""
    from watsondedupe_spark.engine import DedupeEngine

    spark = engine.spark
    assert engine.checkpoints.count() == 0
    engine.write_batch(
        spark.createDataFrame(
            [("p1", bytearray(rand_bytes(6000, 120))),
             ("p2", bytearray(rand_bytes(6000, 121)))],
            "object_key string, data binary",
        )
    )
    engine.write_batch(
        spark.createDataFrame(
            [("p3", bytearray(rand_bytes(6000, 122)))],
            "object_key string, data binary",
        )
    )
    engine.delete_batch(["p1"])
    ops = [(r.seq, r.op) for r in engine.checkpoints.orderBy("seq").collect()]
    assert ops == [(1, "ingest"), (2, "ingest"), (3, "delete")]

    engine.clone(str(tmp_path / "r"), at=2)
    restored = DedupeEngine.open(spark, str(tmp_path / "r"))
    keys = {r.object_key for r in restored.objects.collect()}
    assert keys == {"p1", "p2", "p3"}  # p1 is back, pre-delete state
    assert restored.get("p1") == rand_bytes(6000, 120)
    with pytest.raises(ValueError):
        engine.clone(str(tmp_path / "x"), at=99)


def test_restore_inplace_and_redo(engine):
    """restore(at=) (round 10): metadata-only rollback of the live
    index — deleted objects come back byte-identical, post-restore
    writes continue cleanly from the restored high-water, and the
    rollback is itself undoable (restore forward to a later point)."""
    spark = engine.spark
    p1, p2 = rand_bytes(6000, 130), rand_bytes(6000, 131)
    engine.write_batch(
        spark.createDataFrame(
            [("r1", bytearray(p1)), ("r2", bytearray(p2))],
            "object_key string, data binary",
        )
    )
    engine.delete_batch(["r1"])  # point 2
    assert not engine.exists("r1")
    engine.restore(at=1)
    assert engine.get("r1") == p1 and engine.get("r2") == p2
    # post-restore ingest: id continues from the restored high-water
    engine.write_batch(
        spark.createDataFrame(
            [("r3", bytearray(rand_bytes(6000, 132)))],
            "object_key string, data binary",
        )
    )
    assert sorted(r.id for r in engine.objects.collect()) == [1, 2, 3]
    # the rollback is itself undoable: restore forward to the
    # post-delete point — r1 gone again, r3 (written after) gone too
    engine.restore(at=2)
    keys = {r.object_key for r in engine.objects.collect()}
    assert keys == {"r2"}
    with pytest.raises(ValueError):
        engine.restore(at=99)


def test_verify_consistent_mode_suppresses_torn_reads(engine):
    """verify(consistent=True) (round 10): a scrub racing a live ingest
    must not page on a torn cross-table interleaving. Simulate the torn
    state with raw store surgery (a chunks row committed whose payload
    has not landed yet — exactly mid-_commit_mutation): the current-state
    scan reports it, the ledger-cut scan stays clean because the cut
    predates the tear; after the next composite op records a new point,
    consistent mode sees the (healed) real state again."""
    spark = engine.spark
    engine.write_batch(
        spark.createDataFrame(
            [("t1", bytearray(rand_bytes(6000, 140)))],
            "object_key string, data binary",
        )
    )
    assert engine.verify(consistent=True).count() == 0
    # torn state: chunks row without its payload (mid-ingest shape)
    engine.store.append(
        "chunks",
        spark.createDataFrame(
            [("zz_torn_key", 7, 1)], "chunk_key string, length int, ref_count long"
        ),
    )
    assert {r.check for r in engine.verify().collect()} >= {"missing_payload"}
    assert engine.verify(consistent=True).count() == 0  # pinned to the cut


def test_restore_refuses_expired_point_atomically(engine, spark):
    """restore(at=) must be all-or-nothing (round 11): tables version at
    different rates, so a ledger point can outlive SOME of its four
    manifest versions. Restoring such a point must fail BEFORE the first
    manifest flip — a mid-loop failure would leave the index torn (some
    tables rolled back, others current) and a later recover() would GC
    payloads for the torn-away objects."""
    engine.write_batch(
        spark.createDataFrame(
            [("e1", bytearray(rand_bytes(6000, 160))),
             ("e2", bytearray(rand_bytes(6000, 161)))],
            "object_key string, data binary",
        )
    )  # point 1
    # age ONLY the chunks table past the retention window (objects'
    # point-1 version stays retained — the asymmetry under test)
    for _ in range(engine.store.retain_versions + 2):
        v, chunks, _ = engine.store.snapshot("chunks")
        engine.store.commit("chunks", chunks, expected_version=v)
    before = {
        t: engine.store.current_version(t)
        for t in ("objects", "object_map", "chunks", "chunk_store")
    }
    with pytest.raises(ValueError, match="expired|not retained|restorable"):
        engine.restore(at=1)
    after = {
        t: engine.store.current_version(t)
        for t in ("objects", "object_map", "chunks", "chunk_store")
    }
    assert after == before  # NO table was flipped — not even objects
    assert engine.get("e1") == rand_bytes(6000, 160)
    assert engine.recover() == {"object_map": 0, "chunks": 0, "chunk_store": 0}


def test_recover_checkpoints_stale_refcount_repair(engine, spark):
    """recover() with inflated-but-same-cardinality refcounts rewrites
    chunks with deltas['chunks'] == 0 (round 11): the repair COMMIT, not
    the row delta, must drive the new consistency point — otherwise a
    restore/clone to the latest point silently rolls the repair back."""
    engine.write("s1", b"stale refcount payload " * 300)
    n_points = engine.checkpoints.count()
    v, chunks, _ = engine.store.snapshot("chunks")
    engine.store.commit(
        "chunks",
        chunks.withColumn("ref_count", F.col("ref_count") + 5),
        expected_version=v,
    )
    deltas = engine.recover()
    assert deltas == {"object_map": 0, "chunks": 0, "chunk_store": 0}
    last = engine.checkpoints.orderBy(F.desc("seq")).first()
    assert engine.checkpoints.count() == n_points + 1 and last.op == "recover"
    # the latest point now NAMES the repaired state: restoring to it
    # keeps the rebuilt refcounts
    engine.restore(at=int(last.seq))
    assert engine.chunks.filter(F.col("ref_count") != 1).count() == 0
    # and a genuinely clean pass still records nothing new
    n_points = engine.checkpoints.count()
    assert engine.recover() == {"object_map": 0, "chunks": 0, "chunk_store": 0}
    assert engine.checkpoints.count() == n_points


def test_clone_at_preserves_id_high_water(engine, tmp_path):
    """clone(at=) must carry the objects high-water mark AS OF the
    checkpoint from the manifest meta (round 11), not max(id) of the
    restored rows — ids of objects deleted before the point must never
    be reused by post-clone ingest."""
    from watsondedupe_spark.engine import DedupeEngine

    spark = engine.spark
    engine.write("h1", rand_bytes(6000, 170))  # id 1
    engine.write("h2", rand_bytes(6000, 171))  # id 2
    engine.delete("h2")  # point: objects == {h1}, meta max_id == 2
    point = engine.checkpoints.orderBy(F.desc("seq")).first()
    assert point.op == "delete"
    clone = engine.clone(str(tmp_path / "pitr"), at=int(point.seq))
    clone.write("h3", rand_bytes(6000, 172))
    ids = sorted(r.id for r in clone.objects.collect())
    assert ids == [1, 3]  # h2's id 2 is retired, not recycled


def test_verify_shard_validates_index_types(engine):
    """A float shard index would build a range predicate matching
    nothing — a silently-clean scan of zero chunks (round 11)."""
    for bad in ((1.5, 4), (0, 4.0), ("1", 4)):
        with pytest.raises(ValueError):
            engine.verify(shards=bad)


def test_cli_shard_parse_errors_are_argparse_errors():
    import argparse

    from watsondedupe_spark.cli import _parse_shard

    assert _parse_shard("2/4") == (2, 4)
    assert _parse_shard("0/1") == (0, 1)
    for bad in ("1.5/4", "3", "4/4", "2/0", "a/b", "-1/4"):
        with pytest.raises(argparse.ArgumentTypeError):
            _parse_shard(bad)


def test_shard_range_partitions_key_space_exactly():
    """The rolling-scrub cells are key RANGES (round 11): every possible
    urlsafe-b64 key lands in exactly one shard for any n, and the union
    of the n ranges is unbounded on both ends."""
    import random as _random

    from watsondedupe_spark.engine import SHARD_CELLS, shard_range

    alpha = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-_"
    rng = _random.Random(7)
    keys = ["".join(rng.choice(alpha) for _ in range(43)) for _ in range(500)]

    def member(k, lo, hi):
        return (lo is None or k >= lo) and (hi is None or k < hi)

    for n in (1, 2, 3, 4, 7, 64, 100):
        bounds = [shard_range(i, n) for i in range(n)]
        assert bounds[0][0] is None and bounds[-1][1] is None
        # contiguous: each hi == next lo
        for (lo_a, hi_a), (lo_b, hi_b) in zip(bounds, bounds[1:]):
            assert hi_a == lo_b and hi_a is not None
        for k in keys:
            assert sum(member(k, lo, hi) for lo, hi in bounds) == 1, (k, n)
    with pytest.raises(ValueError):
        shard_range(0, SHARD_CELLS + 1)
    with pytest.raises(ValueError):
        shard_range(-1, 4)


def test_shard_scan_pushes_range_predicate_and_prunes_io(spark, tmp_path):
    """The shard predicate must reach the parquet scan as PushedFilters
    (round 11): on the optimize()-range-clustered layout that is what
    makes a 1/n scrub read ~1/n of the payload bytes at 100 TB instead
    of post-filtering a full scan. Also pins the clustering itself:
    after optimize(), chunk_store files cover narrow disjoint key spans."""
    import glob
    import random as _random

    import pyarrow.parquet as pq

    engine = DedupeEngine.create(spark, str(tmp_path / "idx"), SMALL)
    rng = _random.Random(11)
    engine.write_batch(
        spark.createDataFrame(
            [(f"k{i}", bytearray(rng.randbytes(6000))) for i in range(32)],
            "object_key string, data binary",
        )
    )
    # at test scale the size-derived file count is 1; shrink the target
    # so the rewrite shows its multi-file shape (at 100 TB the 128 MB
    # default produces thousands of files)
    engine.OPTIMIZE_TARGET_FILE_BYTES = 16_384
    engine.optimize()
    plan = engine.verify(shards=(1, 4))._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(chunk_key" in plan, plan[:4000]
    assert "LessThan(chunk_key" in plan, plan[:4000]
    # the witness above can be satisfied by the chunks METADATA scan alone
    # (verify() eagerly checkpoints the payload branch before the plan is
    # captured) — so also pin pushdown on the PAYLOAD scan directly: the
    # only FileScan in this plan is the chunk_store relation, so range
    # pushdown here IS the 1/n-IO claim's witness
    from watsondedupe_spark.engine import shard_predicate

    payload_plan = (
        engine.chunk_store.filter(shard_predicate(1, 4))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the relation witness is the ReadSchema (only chunk_store carries a
    # binary data column) — the Location path string is truncated at
    # ~100 chars and cannot be matched reliably
    assert "data:binary" in payload_plan, payload_plan[:4000]
    assert "GreaterThanOrEqual(chunk_key" in payload_plan, payload_plan[:4000]
    assert "LessThan(chunk_key" in payload_plan, payload_plan[:4000]
    # layout: every rewritten file spans a narrow key range, files are
    # mutually disjoint (that disjointness IS the row-group prunability)
    part = engine.store._state("chunk_store")["parts"][-1]
    spans = []
    for f in glob.glob(part + "/*.parquet"):
        md = pq.read_metadata(f)
        cols = {md.schema.column(i).name: i for i in range(md.num_columns)}
        mins, maxs = [], []
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(cols["chunk_key"]).statistics
            mins.append(st.min)
            maxs.append(st.max)
        spans.append((min(mins), max(maxs)))
    assert len(spans) >= 2, "expected a multi-file range-clustered rewrite"
    spans.sort()
    for (_, hi_a), (lo_b, _) in zip(spans, spans[1:]):
        assert hi_a <= lo_b, spans


def test_shard_range_cell_bound_message():
    """n beyond the shard grid names the REAL problem (round-12 advice):
    the old message ('shard 0 out of range for 5000 shards') misstated a
    grid-capacity error as an index error."""
    from watsondedupe_spark.engine import SHARD_CELLS, shard_range

    with pytest.raises(ValueError, match="SHARD_CELLS"):
        shard_range(0, SHARD_CELLS + 1)


def test_cli_shard_grid_bound_is_usage_error(spark, tmp_path, capsys):
    """--shard 0/5000 must surface as an argparse usage error (exit 2),
    not a raw ValueError traceback from deep inside shard_range."""
    from watsondedupe_spark import cli

    root = str(tmp_path / "idx")
    assert cli.main([root, "create"], spark=spark) == 0
    capsys.readouterr()
    with pytest.raises(SystemExit) as exc:
        cli.main([root, "verify", "--shard", "0/5000"], spark=spark)
    assert exc.value.code == 2
    assert "4096" in capsys.readouterr().err


def test_optimize_records_consistency_point_quiet_window(spark, tmp_path):
    """A quiet window of RETAIN+1 back-to-back optimize() calls must not
    expire the newest ledger point's versions out from under
    verify(consistent=True) (round-11 verdict item #3): every completed
    compaction pass records its own consistency point."""
    engine = DedupeEngine.create(spark, str(tmp_path / "idx"), SMALL)
    engine.write_batch(
        spark.createDataFrame(
            [(f"k{i}", bytearray(rand_bytes(3000, i))) for i in range(6)],
            "object_key string, data binary",
        )
    )
    engine.store.retain_versions = 3  # shrink the window to keep this fast
    for _ in range(engine.store.retain_versions + 1):
        engine.optimize()
    rows = engine.store.table_meta("checkpoints")["rows"]
    assert rows[-1]["op"] == "optimize"
    # the newest point's four versions are all retained -> green scrub
    assert engine.verify(consistent=True).count() == 0


def test_consistent_verify_retention_fallback_raises_with_remediation(
    spark, tmp_path
):
    """When every ledger point's versions have expired (checkpoint-LESS
    store-level compactions), verify(consistent=True) raises one loud
    error naming the remediation — instead of an opaque read_version
    failure mid-scrub — and any composite op heals the mode."""
    engine = DedupeEngine.create(spark, str(tmp_path / "idx"), SMALL)
    engine.write_batch(
        spark.createDataFrame(
            [(f"k{i}", bytearray(rand_bytes(3000, 50 + i))) for i in range(4)],
            "object_key string, data binary",
        )
    )
    engine.store.retain_versions = 2
    for _ in range(3):
        for t in ("objects", "object_map", "chunks", "chunk_store"):
            engine.store.compact(t)  # store-level: records NO ledger point
    with pytest.raises(ValueError, match="no consistency point is fully retained"):
        engine.verify(consistent=True)
    engine.write("heal_key", b"heal payload " * 200)  # records a fresh point
    assert engine.verify(consistent=True).count() == 0


def test_optimize_incremental_rewrites_only_new_parts(spark, tmp_path):
    """optimize(incremental=True) after a small append folds ONLY the
    appended parts (O(new bytes)): the clustered chunk_store baseline
    part survives by PATH (its bytes untouched), the watermark covers
    every live part afterwards, a second incremental pass is a zero-IO
    no-op, and answers are byte-identical throughout."""
    import os

    tables = ("objects", "object_map", "chunks", "chunk_store")
    engine = DedupeEngine.create(spark, str(tmp_path / "idx"), SMALL)
    payloads = {f"k{i}": rand_bytes(4000, 700 + i) for i in range(28)}
    first = {k: payloads[k] for k in list(payloads)[:22]}
    second = {k: payloads[k] for k in list(payloads)[22:]}
    engine.write_batch(
        spark.createDataFrame(
            [(k, bytearray(v)) for k, v in first.items()],
            "object_key string, data binary",
        )
    )
    engine.OPTIMIZE_TARGET_FILE_BYTES = 16_384
    engine.optimize()
    cs_base = engine.store.live_parts("chunk_store")
    assert len(cs_base) == 1

    engine.write_batch(
        spark.createDataFrame(
            [(k, bytearray(v)) for k, v in second.items()],
            "object_key string, data binary",
        )
    )
    appended = [p for p in engine.store.live_parts("chunk_store") if p != cs_base[0]]
    assert appended, "the second batch must append new chunk_store parts"
    base_mtime = os.path.getmtime(cs_base[0])

    out = engine.optimize(incremental=True)
    assert out["chunk_store"] > 0
    post = engine.store.live_parts("chunk_store")
    assert cs_base[0] in post, "the clustered baseline part must survive untouched"
    assert os.path.getmtime(cs_base[0]) == base_mtime
    assert len(post) == 2, post  # baseline + ONE folded clustered delta part
    assert not any(p in post for p in appended)
    meta = engine.store.table_meta("chunk_store")
    assert sorted(meta["clustered_parts"]) == sorted(
        os.path.basename(p) for p in post
    )
    # the pass recorded a consistency point
    assert engine.store.table_meta("checkpoints")["rows"][-1]["op"] == "optimize"

    # second incremental pass: fully clustered -> zero IO, zero flips
    v_before = {t: engine.store.current_version(t) for t in tables}
    out2 = engine.optimize(incremental=True)
    assert all(v == 0 for v in out2.values()), out2
    assert {t: engine.store.current_version(t) for t in tables} == v_before

    # semantics: every object byte-identical, integrity scan clean, and
    # the shard scans still partition the chunks exactly across the
    # mixed (baseline + delta) clustered layout
    from watsondedupe_spark.engine import shard_predicate

    assert engine.verify().count() == 0
    for k, v in payloads.items():
        assert engine.get(k) == v
    n_chunks = engine.chunks.count()
    assert (
        sum(
            engine.chunks.filter(shard_predicate(i, 4)).count() for i in range(4)
        )
        == n_chunks
    )


def test_objects_append_preserves_clustered_watermark(spark, tmp_path):
    """The objects commit advances its max_id watermark via meta MERGE,
    not replace (r12): a write_batch between two optimize() passes must
    leave ``clustered_parts`` intact so the incremental fold rewrites
    only the appended objects part — before the fix the id-watermark
    meta replace silently degraded every incremental optimize() into a
    full objects-table refold."""
    import os

    engine = DedupeEngine.create(spark, str(tmp_path / "idx"), SMALL)
    engine.write_batch(
        spark.createDataFrame(
            [(f"k{i}", bytearray(rand_bytes(3000, 11 + i))) for i in range(12)],
            "object_key string, data binary",
        )
    )
    engine.optimize()
    obj_base = engine.store.live_parts("objects")
    assert len(obj_base) == 1
    meta0 = engine.store.table_meta("objects")
    assert meta0["clustered_parts"] == [os.path.basename(obj_base[0])]
    max_id0 = meta0["max_id"]

    engine.write_batch(
        spark.createDataFrame(
            [(f"n{i}", bytearray(rand_bytes(3000, 99 + i))) for i in range(3)],
            "object_key string, data binary",
        )
    )
    meta1 = engine.store.table_meta("objects")
    # both meta keys survive the append: the id watermark advanced AND
    # the clustering watermark was carried, not clobbered
    assert meta1["max_id"] == max_id0 + 3
    assert meta1["clustered_parts"] == [os.path.basename(obj_base[0])]

    base_mtime = os.path.getmtime(obj_base[0])
    engine.optimize(incremental=True)
    post = engine.store.live_parts("objects")
    assert obj_base[0] in post, "clustered objects baseline must survive by path"
    assert os.path.getmtime(obj_base[0]) == base_mtime
    assert len(post) == 2  # baseline + one folded delta part
    assert engine.objects.count() == 15
    assert engine.verify().count() == 0


def test_optimize_full_resets_incremental_watermark(spark, tmp_path):
    """A full optimize() after incremental passes re-tightens the layout
    to ONE part per table and a single-entry watermark."""
    engine = DedupeEngine.create(spark, str(tmp_path / "idx"), SMALL)
    for lo in (0, 8):
        engine.write_batch(
            spark.createDataFrame(
                [
                    (f"k{i}", bytearray(rand_bytes(3000, 300 + i)))
                    for i in range(lo, lo + 8)
                ],
                "object_key string, data binary",
            )
        )
        engine.optimize(incremental=True)
    engine.optimize()
    import os

    for t in ("objects", "object_map", "chunks", "chunk_store"):
        parts = engine.store.live_parts(t)
        assert len(parts) == 1, (t, parts)
        assert engine.store.table_meta(t)["clustered_parts"] == [
            os.path.basename(parts[0])
        ]
    assert engine.verify().count() == 0


def test_clone_at_without_max_id_fails_loudly(spark, tmp_path):
    """clone(at=) on a checkpoint whose objects manifest meta lacks the
    max_id high-water mark (pre-max_id-era index) must fail loudly
    (round-12 advice): a silent max(id)-of-rows fallback would re-issue
    ids of objects deleted before the point."""
    engine = DedupeEngine.create(spark, str(tmp_path / "idx"), SMALL)
    engine.write("a", b"payload a " * 300)
    engine.store._flip(
        [
            engine.store.meta_entry(
                "objects", lambda m, _: {k: v for k, v in m.items() if k != "max_id"}
            ),
            engine._checkpoint_entry("test"),
        ]
    )
    seq = int(engine.store.table_meta("checkpoints")["rows"][-1]["seq"])
    with pytest.raises(ValueError, match="max_id"):
        engine.clone(str(tmp_path / "c"), at=seq)
    # the LIVE clone path still works (meta restored by the next write)
    engine.write("b", b"payload b " * 300)
    clone = engine.clone(str(tmp_path / "c2"))
    assert sorted(r.object_key for r in clone.objects.collect()) == ["a", "b"]


def test_vacuum_reclaims_orphans_with_grace_and_retention(engine):
    """vacuum() (the Delta VACUUM analogue) removes a crashed writer's
    aged orphan part dirs, SPARES younger-than-grace dirs (possible
    in-flight writers) and everything referenced by any retained
    manifest version (time-travel readers), and changes no answers."""
    import os
    import time as _time

    data = {f"v{i}": rand_bytes(3000, 40 + i) for i in range(6)}
    engine.write_batch(
        engine.spark.createDataFrame(
            [(k, bytearray(v)) for k, v in data.items()],
            "object_key string, data binary",
        )
    )
    v_before = engine.store.current_version("chunk_store")
    engine.optimize()  # prior parts now referenced ONLY by retained history

    tdir = os.path.join(engine.store.root, "chunk_store")
    old = os.path.join(tdir, "p99999990_orphaned")
    fresh = os.path.join(tdir, "p99999991_inflight")
    for p in (old, fresh):
        os.makedirs(p)
        with open(os.path.join(p, "part-junk.parquet"), "wb") as f:
            f.write(b"x" * 4096)
    stale = _time.time() - 7200
    os.utime(old, (stale, stale))

    out = engine.vacuum()
    assert out["chunk_store"]["parts_removed"] == 1
    assert out["chunk_store"]["mb_reclaimed"] > 0
    assert not os.path.exists(old)
    assert os.path.exists(fresh), "younger-than-grace dir must be spared"
    # explicit zero grace (single-writer quiesced) removes the fresh one
    out2 = engine.vacuum(grace_seconds=0)
    assert out2["chunk_store"]["parts_removed"] == 1
    assert not os.path.exists(fresh)
    # retention protection: the pre-optimize version stays readable
    assert engine.store.read_version("chunk_store", v_before).count() > 0
    for k, v in data.items():
        assert engine.get(k) == v
    assert engine.verify().count() == 0


def test_cli_vacuum_verb(spark, tmp_path, capsys):
    import json as _json
    import os
    import time as _time

    from watsondedupe_spark import cli

    root = str(tmp_path / "idx")
    assert cli.main([root, "create"], spark=spark) == 0
    eng = DedupeEngine.open(spark, root)
    eng.write("k0", b"payload " * 500)
    orphan = os.path.join(root, "objects", "p99999990_orphaned")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "junk.parquet"), "wb") as f:
        f.write(b"y" * 1024)
    stale = _time.time() - 7200
    os.utime(orphan, (stale, stale))
    capsys.readouterr()
    assert cli.main([root, "vacuum"], spark=spark) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["objects"]["parts_removed"] == 1
    assert not os.path.exists(orphan)
    assert eng.get("k0") == b"payload " * 500


def test_surgical_repair_rewrites_only_affected_parts(engine, spark):
    """repair()/recover() canonicalization and GC rewrite ONLY the parts
    that may contain a bad key, on a store of any size — healthy parts
    survive BY PATH — and the healed state is byte-identical to the
    full-rewrite answer (verify() clean, payloads intact)."""
    from watsondedupe_spark.keys import chunk_key

    eng = engine
    # three separate batches -> three chunk_store PART DIRS, each with
    # its own Bloom sidecar (pruning is per part; hash keys need the
    # membership witness, spans cover the whole keyspace)
    for lo in (0, 8, 16):
        eng.write_batch(
            spark.createDataFrame(
                [(f"k{i:03d}", rand_bytes(40_000, seed=i)) for i in range(lo, lo + 8)],
                "object_key string, data binary",
            )
        )
    before_parts = set(eng.store.live_parts("chunk_store"))
    assert len(before_parts) > 1

    # plant: a duplicate-garbage payload under an existing key plus an
    # orphan payload (no chunks row) — the repair()+recover() classes
    victim = eng.chunks.agg(F.min("chunk_key")).collect()[0][0]
    orphan = b"surgical-orphan-payload"
    eng.store.append(
        "chunk_store",
        spark.createDataFrame(
            [(victim, bytearray(b"x")), (chunk_key(orphan), bytearray(orphan))],
            "chunk_key string, data binary",
        ),
    )
    planted_part = (set(eng.store.live_parts("chunk_store")) - before_parts).pop()

    deltas = eng.repair()
    # both planted rows are gone: the garbage dup via canonicalization,
    # the orphan via recover()'s GC
    assert deltas["chunk_store_canonicalized"] == -1
    assert deltas["chunk_store"] == -1
    assert eng.verify().count() == 0
    after_parts = set(eng.store.live_parts("chunk_store"))
    # surgical witness: every healthy pre-existing part whose key span
    # excludes the victim survived BY PATH (untouched bytes); the
    # planted part and the victim's part were rewritten
    survivors = before_parts & after_parts
    assert len(survivors) >= len(before_parts) - 2
    assert planted_part not in after_parts
    # and the data still reassembles exactly
    got = eng.get("k003")
    assert got == rand_bytes(40_000, seed=3)


def test_repair_gcs_orphan_payload_on_a_one_batch_store(engine, spark):
    """On a one-batch store the part-local rewrite covers the whole
    payload table and heals an orphan payload like any other."""
    from watsondedupe_spark.keys import chunk_key

    eng = engine
    objs = spark.createDataFrame(
        [(f"k{i:03d}", rand_bytes(30_000, seed=100 + i)) for i in range(4)],
        "object_key string, data binary",
    )
    eng.write_batch(objs)
    orphan = b"fallback-orphan"
    eng.store.append(
        "chunk_store",
        spark.createDataFrame(
            [(chunk_key(orphan), bytearray(orphan))],
            "chunk_key string, data binary",
        ),
    )
    deltas = eng.repair()
    assert deltas["chunk_store"] == -1
    assert eng.verify().count() == 0
    assert eng.get("k001") == rand_bytes(30_000, seed=101)


# -- driver-side point reads ---------------------------------------------------


def _several_parts(engine, batches=3, per=3):
    """``batches`` write batches -> that many parts per table. Every
    payload starts with one shared block, so dedup reuse reaches across
    parts. Returns ``{object_key: bytes}``."""
    shared = rand_bytes(12_000, seed=999)
    objs = {}
    for b in range(batches):
        rows = {
            f"mp{b}/{i}": shared + rand_bytes(15_000 + 4_000 * i, seed=300 + 10 * b + i)
            for i in range(per)
        }
        engine.write_batch(
            engine.spark.createDataFrame(
                [(k, bytearray(v)) for k, v in rows.items()],
                "object_key string, data binary",
            )
        )
        objs.update(rows)
    assert len(engine.store.live_parts("objects")) == batches
    assert len(engine.store.live_parts("chunk_store")) == batches
    return objs


def _same_row(got, want):
    assert got.__fields__ == want.__fields__
    assert tuple(got) == tuple(want)
    assert [type(v) for v in got] == [type(v) for v in want]


def test_list_objects_rows_match_spark_collect(engine):
    """Listing reads the objects parts on the driver; each row must
    equal the Spark collect row field for field, created_utc included."""
    objs = _several_parts(engine)
    want = {r.id: r for r in engine.objects.collect()}
    page = engine.list_objects(max_results=100)
    assert [r.id for r in page.objects] == sorted(want)
    assert page.next_index_start is None
    for r in page.objects:
        _same_row(r, want[r.id])
    first = engine.list_objects(prefix="mp1/", max_results=2)
    rest = engine.list_objects(prefix="mp1/", index_start=first.next_index_start)
    keys = [r.object_key for r in first.objects + rest.objects]
    assert keys == sorted(k for k in objs if k.startswith("mp1/"))
    for r in first.objects + rest.objects:
        _same_row(r, want[r.id])


def test_get_metadata_rows_match_spark_collect(engine):
    """get_metadata's object, map and chunk rows and get_chunk_metadata
    equal what the Spark DataFrame APIs collect."""
    objs = _several_parts(engine)
    objects = {r.object_key: r for r in engine.objects.collect()}
    chunks = {r.chunk_key: r for r in engine.chunks.collect()}
    for key in ("mp0/0", "mp2/2"):
        meta = engine.get_metadata(key)
        obj = objects[key]
        assert (meta.id, meta.object_key, meta.original_length, meta.comp_length,
                meta.chunk_count, meta.created_utc) == tuple(obj)
        assert type(meta.created_utc) is type(obj.created_utc)
        want_map = engine.get_object_map(key).collect()
        assert len(meta.object_map) == len(want_map) > 1
        for got, want in zip(meta.object_map, want_map):
            _same_row(got, want)
        want_chunks = sorted(engine.get_chunks(key).collect(), key=lambda r: r.chunk_key)
        got_chunks = sorted(meta.chunks, key=lambda r: r.chunk_key)
        assert len(got_chunks) == len(want_chunks)
        for got, want in zip(got_chunks, want_chunks):
            _same_row(got, want)
        assert meta.original_length == len(objs[key])
    ck = meta.object_map[0].chunk_key
    _same_row(engine.get_chunk_metadata(ck), chunks[ck])
    assert engine.get_chunk_metadata("never-written") is None
    with pytest.raises(ObjectNotFoundError):
        engine.get_metadata("never-written")


def test_point_reads_match_get_batch_reassembly(engine):
    """get, get_range and the read stream equal the distributed
    get_batch reassembly on a store with several parts."""
    objs = _several_parts(engine)
    batch = {r.object_key: bytes(r.data) for r in engine.get_batch(list(objs)).collect()}
    assert batch == objs
    for key, data in batch.items():
        assert engine.get(key) == data
        for off, ln in ((0, 1), (11_999, 2), (len(data) - 7, 100), (5_000, 20_000)):
            assert engine.get_range(key, off, ln) == data[off : off + ln]
        assert engine.get_range(key, len(data), 10) == b""
        assert engine.get_stream(key).read() == data


def test_point_verbs_run_no_spark_job(engine):
    """exists (hit and miss), get, try_get, get_range, get_metadata,
    the read stream and list_objects read on the driver: none of them
    adds a job to the calling thread's job group."""
    import uuid

    objs = _several_parts(engine, batches=2)
    key = "mp1/1"
    sc = engine.spark.sparkContext
    group = f"point-reads-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "driver-side point reads")
    try:
        assert engine.exists(key) and not engine.exists("never-written")
        assert engine.get(key) == objs[key]
        assert engine.try_get("never-written") is None
        assert engine.get_range(key, 100, 5_000) == objs[key][100:5_100]
        assert engine.get_metadata(key).original_length == len(objs[key])
        assert engine.get_stream(key).read() == objs[key]
        assert len(engine.list_objects(prefix="mp0/").objects) == 3
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        # the group does see jobs: a DataFrame API collected in it counts
        engine.get_object_map(key).collect()
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _jobs_in_group(spark, fn):
    """``(jobs of ``fn`` in a fresh job group, jobs started outside it,
    fn())``, read from ``statusTracker`` once the listener bus drains."""
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    group = f"verb-{uuid.uuid4().hex}"
    bus.waitUntilEmpty(30_000)
    before = max(tracker.getJobIdsForGroup(None), default=-1)
    sc.setJobGroup(group, "one engine verb")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    bus.waitUntilEmpty(30_000)
    outside = [j for j in tracker.getJobIdsForGroup(None) if j > before]
    return len(tracker.getJobIdsForGroup(group)), len(outside), out


def _commit_path(monkeypatch, path: str) -> None:
    """Send every mutation down ``path``: the driver path as shipped,
    the Spark path by a budget of 0 bytes, which nothing fits."""
    if path == "spark":
        monkeypatch.setattr(DedupeEngine, "OPTIMIZE_TARGET_FILE_BYTES", 0)


def test_mutations_run_a_pinned_number_of_spark_jobs(spark, tmp_path):
    """Spark jobs per mutation on a small store, on the driver path: an
    ingest runs the chunker's one job plus the ``toArrow()`` of its
    rows, and a delete runs none."""
    assert _mutation_jobs(spark, tmp_path) == (2, 2, 0, 0)


def test_mutations_on_the_spark_path_run_a_pinned_number_of_spark_jobs(
    spark, tmp_path, monkeypatch
):
    """Spark jobs per mutation on a small store, on the Spark path: a
    replace or delete runs its refcount merge once, pinned with its
    dead count, and the key sort of every part write adds no job."""
    _commit_path(monkeypatch, "spark")
    assert _mutation_jobs(spark, tmp_path) == (20, 23, 8, 6)


def _mutation_jobs(spark, tmp_path) -> tuple:
    """Spark jobs of (write_batch, write_or_replace_batch, delete_batch,
    delete_batch with nothing to GC) on a small store. A delete whose
    chunks all stay referenced returns [] without a post-flip take.
    Each verb runs under a job group and starts no job outside it: its
    stage threads inherit the group, so ``cancelJobGroup`` reaches
    every job."""
    engine = DedupeEngine.create(spark, str(tmp_path / "idx"), SMALL)

    def jobs(fn):
        n, outside, out = _jobs_in_group(spark, fn)
        assert outside == 0
        return n, out

    def batch(rows):
        return spark.createDataFrame(
            [(k, bytearray(v)) for k, v in rows.items()], "object_key string, data binary"
        )

    shared = rand_bytes(12_000, seed=999)
    twin = rand_bytes(20_000, seed=5)
    engine.write_batch(
        batch({**{f"o/{i}": shared + rand_bytes(15_000, seed=i) for i in range(3)},
               "twin/a": twin, "twin/b": twin})
    )
    n_write, _ = jobs(lambda: engine.write_batch(
        batch({f"new/{i}": shared + rand_bytes(9_000, seed=50 + i) for i in range(2)})
    ))
    n_replace, _ = jobs(lambda: engine.write_or_replace_batch(
        batch({f"o/{i}": rand_bytes(9_000, seed=70 + i) for i in range(2)})
    ))
    n_delete, gc = jobs(lambda: engine.delete_batch(["o/2", "new/0"]))
    n_delete_nogc, gc_none = jobs(lambda: engine.delete_batch(["twin/a"]))
    assert len(gc) > 0 and gc_none == []
    assert engine.get("twin/b") == twin
    return n_write, n_replace, n_delete, n_delete_nogc


@pytest.mark.parametrize("path", ["driver", "spark"])
def test_batch_writes_validate_every_key(engine, monkeypatch, path):
    """write_batch and write_or_replace_batch reject an empty, a NULL
    and an over-long key, as write() does, before anything is staged:
    no table version moves and no part dir appears."""
    import os

    _commit_path(monkeypatch, path)
    engine.write("ok", rand_bytes(3000, seed=1))

    def layout():
        root = engine.store.root
        return engine.store._catalog(), {
            t: sorted(os.listdir(os.path.join(root, t))) for t in _INDEX_TABLES
        }

    before = layout()
    for verb in ("write_batch", "write_or_replace_batch"):
        for bad in ("", None, "k" * 5_000):
            rows = engine.spark.createDataFrame(
                [("fine", bytearray(rand_bytes(3000, seed=2))), (bad, bytearray(b"payload"))],
                "object_key string, data binary",
            )
            with pytest.raises(ValueError, match="object key"):
                getattr(engine, verb)(rows)
    assert layout() == before
    assert not engine.exists("fine")
    assert engine.verify().count() == 0


def test_index_with_parts_of_both_writers_reads_and_verifies_alike(engine, monkeypatch):
    """An index whose tables hold parts from both writers — Spark's and
    the driver's pyarrow writer — reads, verifies and keeps its
    ``created_utc`` instants like one writer's. The replace prepares
    its batch for the driver, finds its rewrites over the budget and
    commits through Spark instead."""
    from datetime import datetime, timezone

    spark = engine.spark
    stamp = datetime(2024, 5, 6, 7, 8, 9, 123456, tzinfo=timezone.utc)
    old_a, new_a, b = _aligned_pair()
    c = rand_bytes(9000, seed=506)
    prepare = DedupeEngine._prepare_batch

    def over_budget(self, *args):
        batch = prepare(self, *args)
        assert batch.rows is not None
        m.setattr(DedupeEngine, "OPTIMIZE_TARGET_FILE_BYTES", 0)
        return batch

    with monkeypatch.context() as m:
        _commit_path(m, "spark")
        engine.write_batch(_rows(spark, [("a", old_a), ("b", b)]), created_utc=stamp)
    with monkeypatch.context() as m:
        m.setattr(DedupeEngine, "_prepare_batch", over_budget)
        engine.write_or_replace_batch(_rows(spark, [("a", new_a)]), created_utc=stamp)
    engine.write_batch(_rows(spark, [("c", c)]), created_utc=stamp)
    for table in _INDEX_TABLES:
        assert len(engine.store.live_parts(table)) == 2, table
    assert engine.verify().count() == 0
    assert (engine.get("a"), engine.get("b"), engine.get("c")) == (new_a, b, c)
    micros = int(stamp.timestamp()) * 1_000_000 + stamp.microsecond
    spark_rows = engine.objects.select("object_key", F.unix_micros("created_utc")).collect()
    assert sorted(tuple(r) for r in spark_rows) == [("a", micros), ("b", micros), ("c", micros)]
    arrow = engine.store.read_arrow("objects", ["created_utc"]).column("created_utc")
    assert arrow.cast("int64").to_pylist() == [micros] * 3
    want = engine.objects.filter("object_key = 'c'").first().created_utc
    assert engine.get_metadata("c").created_utc == want
    assert engine.delete_batch(["c"])
    assert engine.verify().count() == 0 and engine.try_get("c") is None


@pytest.mark.parametrize("backend", ["file", "sqlite"])
def test_key_drops_stage_bytes_of_the_batch_not_the_store(spark, tmp_path, monkeypatch, backend):
    """A 2-key delete_batch and write_or_replace_batch stage (write as
    new parts) about the same bytes of ``objects``, ``object_map``,
    ``chunks`` and ``chunk_store`` on a 10-batch store as on a 1-batch
    store: each rewrites only the parts that may hold its keys, not the
    table — the ``chunks`` refcount merge included."""
    from watsondedupe_spark.store import IndexStore, SqliteIndexStore

    store_cls = IndexStore if backend == "file" else SqliteIndexStore
    staged: dict[str, int] = {}
    write_part = IndexStore._write_part

    def spy(self, name, df, version_hint):
        path = write_part(self, name, df, version_hint)
        staged[name] = staged.get(name, 0) + self.parts_bytes([path])
        return path

    def staged_bytes(n_batches: int) -> dict[str, int]:
        engine = DedupeEngine.create(
            spark, str(tmp_path / f"idx{n_batches}"), SMALL, store_cls=store_cls
        )
        for b in range(n_batches):
            engine.write_batch(
                _rows(spark, [(f"b{b}/{i}", rand_bytes(40_000, seed=100 * b + i)) for i in range(4)])
            )
        last = n_batches - 1
        staged.clear()
        with monkeypatch.context() as m:
            m.setattr(IndexStore, "_write_part", spy)
            engine.delete_batch([f"b{last}/0", f"b{last}/1"])
            engine.write_or_replace_batch(
                _rows(spark, [(f"b{last}/{i}", rand_bytes(40_000, seed=7_000 + i)) for i in (2, 3)])
            )
        assert engine.get(f"b{last}/2") == rand_bytes(40_000, seed=7_002)
        assert n_batches == 1 or engine.verify().count() == 0
        return dict(staged)

    small, large = staged_bytes(1), staged_bytes(10)
    for table in _INDEX_TABLES:
        assert large[table] <= 1.5 * small[table], (table, small, large)


@pytest.mark.parametrize("verb", ["repair", "recover"])
def test_maintenance_raises_fix_thread_error_beside_commit_error(engine, monkeypatch, verb):
    """A chunks fix stages from a pool thread while the chunk_store
    phase runs. When both fail, both errors must surface: before, the
    chunk_store error skipped the join and the pool's exit dropped the
    fix thread's error. No ledger point may claim the failed pass."""
    from watsondedupe_spark.keys import chunk_key

    spark = engine.spark
    engine.write("f1", rand_bytes(6000, seed=400))
    # stale refcounts: the chunks fix is submitted to the pool
    v, chunks, _ = engine.store.snapshot("chunks")
    engine.store.commit(
        "chunks", chunks.withColumn("ref_count", F.col("ref_count") + 1), expected_version=v
    )
    # an orphan payload: the chunk_store GC commits on the calling thread
    orphan = b"fix-join-orphan"
    engine.store.append(
        "chunk_store",
        spark.createDataFrame([(chunk_key(orphan), bytearray(orphan))], "chunk_key string, data binary"),
    )
    n_points = engine.checkpoints.count()

    def failing_commit(name, *args, **kwargs):
        raise RuntimeError(f"{name} commit failed")

    with monkeypatch.context() as m:
        m.setattr(engine.store, "rewrite_entry", failing_commit)
        with pytest.raises(RuntimeError) as info:
            getattr(engine, verb)()
    chain, e = [], info.value
    while e is not None:
        chain.append(str(e))
        e = e.__context__
    assert "chunks commit failed" in chain and "chunk_store commit failed" in chain
    assert engine.checkpoints.count() == n_points
    # nothing was committed and the op lock was released: a clean rerun heals
    getattr(engine, verb)()
    assert engine.verify().count() == 0


def _raised_texts(exc) -> str:
    return " | ".join([str(exc)] + list(getattr(exc, "__notes__", [])))


def test_write_batch_surfaces_every_failed_table_commit(engine, monkeypatch):
    """Two of an ingest's overlapped table stages fail: the raised error
    carries the other one in its notes instead of dropping it."""
    orig = engine.store.rewrite_entry

    def failing_append(name, *args, **kwargs):
        if name in ("object_map", "chunk_store"):
            raise RuntimeError(f"{name} append failed")
        return orig(name, *args, **kwargs)

    monkeypatch.setattr(engine.store, "rewrite_entry", failing_append)
    with pytest.raises(RuntimeError) as info:
        engine.write("k", rand_bytes(6000, seed=410))
    text = _raised_texts(info.value)
    assert "object_map append failed" in text and "chunk_store append failed" in text


def test_optimize_surfaces_every_failed_table_compaction(engine, monkeypatch):
    """Two of optimize()'s overlapped per-table compactions fail: both
    errors surface."""
    engine.write("k", rand_bytes(6000, seed=411))

    def failing_compact(name, *args, **kwargs):
        if name in ("objects", "chunks"):
            raise RuntimeError(f"{name} compaction failed")
        return None

    monkeypatch.setattr(engine.store, "rewrite_entry", failing_compact)
    with pytest.raises(RuntimeError) as info:
        engine.optimize()
    text = _raised_texts(info.value)
    assert "objects compaction failed" in text and "chunks compaction failed" in text


def test_repair_drops_null_chunk_key_row_on_surgical_gate(engine):
    """A planted chunk_store row with a NULL chunk_key is dead (no chunk
    can reference it). A NULL key selects every part for the rewrite:
    repair() removes the row and its chunk_store delta equals the change
    in row count."""
    spark = engine.spark
    engine.write("k", rand_bytes(6000, seed=412))
    engine.store.append(
        "chunk_store",
        spark.createDataFrame([(None, bytearray(b"null-key"))], "chunk_key string, data binary"),
    )
    before = engine.store.read("chunk_store").count()
    deltas = engine.repair()
    after = engine.store.read("chunk_store")
    assert after.filter(F.col("chunk_key").isNull()).count() == 0
    assert deltas["chunk_store"] == after.count() - before == -1
    assert engine.get("k") == rand_bytes(6000, seed=412)


# -- the mutation commit floor -------------------------------------------------

_INDEX_TABLES = ("objects", "object_map", "chunks", "chunk_store")


def _aligned_pair():
    """Three payloads that share an aligned 40 KB prefix (whole chunks
    under the small-file profile) and differ after it: ``a``, a new
    version of ``a``, and ``b``."""
    shared = rand_bytes(40_000, seed=501)
    return (
        shared + rand_bytes(30_000, seed=502),
        shared + rand_bytes(30_000, seed=503),
        shared + rand_bytes(30_000, seed=504),
    )


def _rows(spark, items):
    return spark.createDataFrame(
        [(k, bytearray(v)) for k, v in items], "object_key string, data binary"
    )


@pytest.mark.parametrize("table", _INDEX_TABLES)
@pytest.mark.parametrize("verb", ["delete", "replace"])
def test_crash_mid_delete_or_replace_never_strands_a_live_key(engine, verb, table):
    """A crash right after any table's part of delete_batch or
    write_or_replace_batch is staged (the store's fault hook): the
    index verifies clean, recover() finds nothing, the untouched key is
    byte-identical, and the target key still reads its OLD bytes — a
    replaced key is never absent (the per-table commits this replaced
    lost it)."""
    from watsondedupe_spark.store import SimulatedCrash

    old_a, new_a, b = _aligned_pair()
    engine.write_batch(_rows(engine.spark, [("a", old_a), ("b", b)]))
    with pytest.raises(SimulatedCrash), engine.store._crash_after(table):
        if verb == "delete":
            engine.delete_batch(["a"])
        else:
            engine.write_or_replace_batch(_rows(engine.spark, [("a", new_a)]))

    assert engine.recover() == _CLEAN
    assert engine.verify().count() == 0
    assert engine.get("b") == b
    assert engine.get("a") == old_a


def test_mutations_flip_each_table_once(engine, monkeypatch):
    """Every composite op is ONE catalog flip, its ledger row included:
    write_batch, write_or_replace_batch, delete_batch, restore, clone,
    optimize (when it compacts) and repair/recover (when they fix)."""
    from watsondedupe_spark.store import IndexStore

    old_a, new_a, b = _aligned_pair()
    spark = engine.spark
    flips: list[list[str]] = []
    flip = IndexStore._flip

    def counting_flip(self, entries):
        flips.append(sorted(e[0] for e in entries if e))
        return flip(self, entries)

    monkeypatch.setattr(IndexStore, "_flip", counting_flip)

    def one_flip(fn, *args, **kwargs):
        flips.clear()
        out = fn(*args, **kwargs)
        assert len(flips) == 1, flips
        return out, flips[0]

    _, tables = one_flip(engine.write_batch, _rows(spark, [("a", old_a), ("b", b)]))
    assert tables == sorted(_INDEX_TABLES + ("checkpoints",))
    point = int(engine.checkpoints.orderBy(F.desc("seq")).first().seq)
    one_flip(engine.write_or_replace_batch, _rows(spark, [("a", new_a), ("b", old_a)]))
    assert engine.get("a") == new_a and engine.get("b") == old_a
    one_flip(engine.delete_batch, ["a", "b"])
    assert not engine.exists("a") and not engine.exists("b")
    one_flip(engine.restore, at=point)
    assert engine.get("a") == old_a
    _, tables = one_flip(engine.optimize)
    assert "checkpoints" in tables
    one_flip(engine.clone, str(engine.store.root) + "_clone")
    v, chunks, _ = engine.store.snapshot("chunks")
    engine.store.commit(
        "chunks", chunks.withColumn("ref_count", F.col("ref_count") + 1), expected_version=v
    )
    _, tables = one_flip(engine.recover)
    assert tables == ["checkpoints", "chunks"]
    engine.store.append(
        "chunk_store",
        spark.createDataFrame([("junk", bytearray(b"junk"))], "chunk_key string, data binary"),
    )
    one_flip(engine.repair)
    monkeypatch.undo()
    assert engine.verify().count() == 0


def test_index_snapshots_plan_no_spark_job(engine):
    """read() and snapshot() of the four index tables pin the declared
    schema instead of inferring it, so resolving a snapshot plans no
    Spark job; the pinned schema is the one inference would find."""
    import uuid

    _several_parts(engine, batches=2, per=2)
    sc = engine.spark.sparkContext
    group = f"snapshots-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "index snapshots")
    try:
        frames = {}
        for name in _INDEX_TABLES:
            frames[name] = engine.store.read(name)
            assert engine.store.snapshot(name)[1].schema == frames[name].schema
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    for name, df in frames.items():
        parts = engine.store.live_parts(name)
        assert df.schema == engine.spark.read.parquet(*parts).schema, name


# -- one catalog flip per composite op: crash coverage ---------------------------


def _ledger_names_current(engine) -> bool:
    """Whether the newest ledger row names exactly the current table
    versions."""
    row = engine.store.table_meta("checkpoints")["rows"][-1]
    catalog = engine.store._catalog()
    return all(row[f"{t}_v"] == catalog[t] for t in _INDEX_TABLES)


def _violations(engine) -> list:
    return sorted(tuple(r) for r in engine.verify().collect())


def _crash_walk(engine, run, check_before, check_after) -> int:
    """Crash ``run`` after its 1st, 2nd, ... staged part and finally
    right after its flip (the store's fault hook at ``"any"``). After
    every pre-flip crash no table version has moved and
    ``check_before`` holds; after the flip crash ``check_after`` holds.
    Either way ``recover()`` finds nothing and ``verify()`` reports what
    it reported before the op (or nothing, after it). The newest ledger
    row names the current versions after the flip, and before it
    whenever it did before the op (damage planted outside the engine
    moves a table without a ledger row). Returns the number of crash
    points."""
    from watsondedupe_spark.store import SimulatedCrash

    catalog = engine.store._catalog()
    violations = _violations(engine)
    named = _ledger_names_current(engine)
    for n in range(1, 20):
        with pytest.raises(SimulatedCrash) as crash, engine.store._crash_after("any", n):
            run()
        assert engine.recover() == _CLEAN, n
        if "flip" not in str(crash.value):
            assert engine.store._catalog() == catalog, n
            assert _violations(engine) == violations, n
            assert _ledger_names_current(engine) == named, n
            check_before()
            continue
        assert _violations(engine) == [], n
        assert _ledger_names_current(engine), n
        check_after()
        return n
    raise AssertionError("the op never reached its flip")


@pytest.mark.parametrize(
    "verb,path",
    [
        pytest.param(v, "driver", id=v)
        for v in ("write_batch", "write_or_replace_batch", "delete_batch", "restore", "optimize", "repair", "clone")
    ]
    + [
        pytest.param(v, "spark", id=f"{v}-spark")
        for v in ("write_batch", "write_or_replace_batch", "delete_batch")
    ],
)
def test_composite_verb_crash_shows_before_or_after_state(engine, monkeypatch, verb, path):
    """Every composite verb, crashed at every fault point on both
    backends, leaves its before-state or its after-state: no torn
    tables, nothing for recover() to repair, the untouched key ``b``
    byte-identical. The mutations are walked on both commit paths."""
    from watsondedupe_spark.store import open_store

    _commit_path(monkeypatch, path)
    spark = engine.spark
    old_a, new_a, b = _aligned_pair()
    c = rand_bytes(9000, seed=505)
    engine.write_batch(_rows(spark, [("a", old_a), ("b", b)]))

    def reads(**want):
        assert engine.get("b") == b
        for key, data in want.items():
            assert engine.try_get(key) == data, key

    if verb == "write_batch":
        run = lambda: engine.write_batch(_rows(spark, [("c", c)]))
        before, after = (lambda: reads(a=old_a, c=None)), (lambda: reads(a=old_a, c=c))
    elif verb == "write_or_replace_batch":
        run = lambda: engine.write_or_replace_batch(_rows(spark, [("a", new_a)]))
        before, after = (lambda: reads(a=old_a)), (lambda: reads(a=new_a))
    elif verb == "delete_batch":
        run = lambda: engine.delete_batch(["a"])
        before, after = (lambda: reads(a=old_a)), (lambda: reads(a=None))
    elif verb == "restore":
        point = int(engine.checkpoints.orderBy(F.desc("seq")).first().seq)
        engine.delete_batch(["a"])
        run = lambda: engine.restore(at=point)
        before, after = (lambda: reads(a=None)), (lambda: reads(a=old_a))
    elif verb == "optimize":
        engine.write_batch(_rows(spark, [("c", c)]))

        def parts():
            return {t: len(engine.store.live_parts(t)) for t in _INDEX_TABLES}

        many = parts()
        run = engine.optimize

        def before():
            reads(a=old_a, c=c)
            assert parts() == many

        def after():
            reads(a=old_a, c=c)
            assert parts() == dict.fromkeys(_INDEX_TABLES, 1)
    elif verb == "repair":
        # damage recover() cannot see: a second, garbage payload row
        # under a live chunk key of ``a`` only (dup_payload +
        # hash_mismatch); ``a`` reads back only once it is repaired
        keys_of = lambda k: {r.chunk_key for r in engine.get_object_map(k).collect()}
        rot_key = sorted(keys_of("a") - keys_of("b"))[0]
        engine.store.append(
            "chunk_store",
            spark.createDataFrame([(rot_key, bytearray(b"rot"))], "chunk_key string, data binary"),
        )
        assert _violations(engine)
        run = engine.repair
        before, after = reads, (lambda: reads(a=old_a))
    else:
        dest = str(engine.store.root) + "_clone"
        run = lambda: engine.clone(dest)

        def before():
            reads(a=old_a)
            assert not open_store(spark, dest).exists("config")

        def after():
            reads(a=old_a)
            clone = DedupeEngine.open(spark, dest)
            assert clone.get("a") == old_a and clone.get("b") == b

    _crash_walk(engine, run, before, after)


def test_crashed_restore_leaves_every_live_key_readable(engine):
    """A restore that crashes leaves no key that exists but cannot be
    read: all four tables and the ledger row move in one flip (when the
    tables were re-pointed one by one, a crash after object_map left
    ``a`` in objects with its chunks gone, and recover() saw nothing)."""
    from watsondedupe_spark.store import SimulatedCrash

    old_a, _, b = _aligned_pair()
    engine.write_batch(_rows(engine.spark, [("a", old_a), ("b", b)]))
    point = int(engine.checkpoints.orderBy(F.desc("seq")).first().seq)
    engine.delete_batch(["a"])
    with pytest.raises(SimulatedCrash), engine.store._crash_after("flip"):
        engine.restore(at=point)
    assert engine.recover() == _CLEAN
    assert engine.exists("a") and engine.get("a") == old_a
    assert engine.verify().count() == 0
    assert _ledger_names_current(engine)


def test_crash_never_leaves_a_committed_op_without_its_ledger_row(engine):
    """The ledger row rides in the op's own flip: a crash right after
    the flip leaves the op committed AND named by the newest ledger row
    (a separate ledger write could die after the tables flipped, leaving
    the op with no consistency point)."""
    from watsondedupe_spark.store import SimulatedCrash

    engine.write("a", rand_bytes(6000, seed=506))
    with pytest.raises(SimulatedCrash), engine.store._crash_after("flip"):
        engine.write("b", rand_bytes(6000, seed=507))
    assert engine.get("b") == rand_bytes(6000, seed=507)
    assert _ledger_names_current(engine)
    last = engine.checkpoints.orderBy(F.desc("seq")).first()
    assert last.op == "ingest" and engine.checkpoints.count() == 2

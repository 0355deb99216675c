"""Manifest-of-parts store: time travel, retention, GC safety, CAS.

Every test runs against BOTH backends (file-manifest ``IndexStore`` and
the SQLite-catalog ``SqliteIndexStore``): the engine's storage swap
point is only proven if a second implementation of the contract passes
the same suite — the analogue of the reference's DbProvider pluggability
(DbProvider.cs:10, MySQL proof in Test.External/Program.cs:188).
"""

import pytest

from watsondedupe_spark.store import (
    ConcurrentWriteError,
    IndexStore,
    SqliteIndexStore,
    open_store,
)


@pytest.fixture(params=["file", "sqlite"])
def store_cls(request):
    return IndexStore if request.param == "file" else SqliteIndexStore


#: the store's two part writers: Spark, and pyarrow on the driver
WRITERS = ("spark", "arrow")


def _commit(st, name, df, writer):
    """Commit ``df`` as ``name``'s one part, written by Spark or, for
    ``writer="arrow"``, by pyarrow on the driver (one file)."""
    if writer == "spark":
        return st.commit(name, df)
    tbl = df.toArrow()
    st._flip([st.rewrite_entry(name, None, None, lambda _: tbl, arrow=True)])


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "cast(id as string) as object_key",
        "cast(id as long) as id",
        "cast(id as long) as original_length",
        "cast(id as long) as comp_length",
        "cast(1 as long) as chunk_count",
        "timestamp'2024-01-01' as created_utc",
    ).select("id", "object_key", "original_length", "comp_length", "chunk_count", "created_utc")


def _payloads_df(spark, n, words=64, parts=2, lo=0):
    """``n`` chunk_store-shaped rows (ids from ``lo``): hex keys in hash
    (unsorted) order and ``words`` x 32 B of incompressible payload,
    over ``parts`` shuffled partitions."""
    return spark.range(lo, lo + n).selectExpr(
        "sha2(cast(id as string), 256) as chunk_key",
        f"unhex(concat_ws('', transform(sequence(1, {words}), "
        "i -> sha2(concat(cast(id as string), '-', cast(i as string)), 256)))) as data",
    ).repartition(parts)


def _spy_reads(monkeypatch):
    """``[(file, row groups or None for a whole-file read), ...]`` of
    every parquet read the store makes from now on."""
    import pyarrow.parquet as pq

    reads = []

    class Spy(pq.ParquetFile):
        def __init__(self, source, **kw):
            super().__init__(source, **kw)
            self._src = source

        def read_row_groups(self, row_groups, **kw):
            reads.append((self._src, list(row_groups)))
            return super().read_row_groups(row_groups, **kw)

        def read(self, **kw):
            reads.append((self._src, None))
            return super().read(**kw)

    monkeypatch.setattr(pq, "ParquetFile", Spy)
    return reads


def _group_spans(fpath, col):
    """Per-row-group ``(min, max)`` of ``col``, read independently of the
    store's footer cache."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(fpath).metadata
    ci = [md.schema.column(i).path for i in range(md.num_columns)].index(col)
    stats = [md.row_group(g).column(ci).statistics for g in range(md.num_row_groups)]
    return [(st.min, st.max) for st in stats]

def test_time_travel_reads_each_version(spark, tmp_path, store_cls):
    st = store_cls(spark, str(tmp_path))
    st.commit("objects", _df(spark, 0, 10))      # v1: 10 rows
    st.append("objects", _df(spark, 10, 15))     # v2: 15 rows
    st.append("objects", _df(spark, 15, 17))     # v3: 17 rows
    assert st.read("objects").count() == 17
    assert st.read_version("objects", 1).count() == 10
    assert st.read_version("objects", 2).count() == 15
    assert st.read_version("objects", 3).count() == 17
    assert st.versions("objects") == [1, 2, 3]


def test_retention_expires_old_versions(spark, tmp_path, store_cls):
    st = store_cls(spark, str(tmp_path))
    st.retain_versions = 3
    for i in range(6):
        st.append("objects", _df(spark, i * 2, i * 2 + 2))
    vs = st.versions("objects")
    assert vs == [3, 4, 5, 6]  # floor = 6 - 3
    with pytest.raises(ValueError):
        st.read_version("objects", 2)
    # retained versions still resolve to live parts
    assert st.read_version("objects", 3).count() == 6


def test_commit_gc_preserves_time_travel_parts(spark, tmp_path, store_cls):
    st = store_cls(spark, str(tmp_path))
    st.commit("objects", _df(spark, 0, 5))       # v1
    st.commit("objects", _df(spark, 0, 8))       # v2 (retires v1's part
    # from CURRENT state, but v1 manifest is retained -> part survives)
    assert st.read("objects").count() == 8
    assert st.read_version("objects", 1).count() == 5


def test_compaction_keeps_current_snapshot(spark, tmp_path, store_cls):
    """The max_parts bound holds for every kind of write: appends, key
    rewrites that select a part, and key rewrites that select none (at
    the bound they fold every part). The rows follow a dict model."""
    from pyspark.sql import functions as F

    st = store_cls(spark, str(tmp_path))
    st.max_parts = 3
    model = {}

    def check(before, selects_none=True):
        live = len(st.live_parts("objects"))
        assert live <= st.max_parts
        if selects_none and before >= st.max_parts:
            assert live == 1  # a write at the bound folds every part
        assert {r.id: r.object_key for r in st.read("objects").collect()} == model

    def drop(ids, selects_none):
        before = len(st.live_parts("objects"))
        fn = lambda rows: rows.filter(~F.col("id").isin(ids))
        st._flip([st.rewrite_entry("objects", "id", ids, fn)])
        for i in ids:
            model.pop(i, None)
        check(before, selects_none)

    for i in range(5):
        before = len(st.live_parts("objects"))
        st.append("objects", _df(spark, i * 3, i * 3 + 3))
        model.update({k: str(k) for k in range(i * 3, i * 3 + 3)})
        check(before)
        drop([i * 3], False)  # selects the parts that may hold the key
        drop([1000 + i], True)  # beyond every id span: selects no part
    assert st.read("objects").count() == 10


def test_manifest_meta_carries_forward_and_replaces(spark, tmp_path, store_cls):
    store = store_cls(spark, str(tmp_path / "meta_store"))
    df = spark.createDataFrame([(1,)], "x long")
    assert store.table_meta("t") == {}
    store.commit("t", df, meta={"max_id": 7})
    assert store.table_meta("t") == {"max_id": 7}
    # meta=None carries forward across append, commit, and the
    # append-triggered compaction fold
    store.append("t", df)
    assert store.table_meta("t") == {"max_id": 7}
    store.commit("t", df)
    assert store.table_meta("t") == {"max_id": 7}
    store.append("t", df, meta={"max_id": 9})
    assert store.table_meta("t") == {"max_id": 9}
    for _ in range(IndexStore.max_parts + 1):
        store.append("t", df)
    assert store.table_meta("t") == {"max_id": 9}


def test_traced_store_methods_exist_on_both_backends():
    """The traced benchmark run wraps the store methods its
    ``STORE_METHODS`` names by ``getattr``: each must stay a callable
    attribute of both backends, or every traced run fails."""
    import ast
    import pathlib

    src = pathlib.Path(__file__).parents[1] / "perfbench" / "spans.py"
    names: dict = {}
    for node in ast.parse(src.read_text()).body:
        if isinstance(node, ast.Assign) and getattr(node.targets[0], "id", None) in (
            "FLIPS",
            "STORE_METHODS",
        ):
            expr = ast.Expression(node.value)
            names[node.targets[0].id] = eval(compile(expr, str(src), "eval"), {}, names)
    assert names["STORE_METHODS"]
    for cls in (IndexStore, SqliteIndexStore):
        for meth in names["STORE_METHODS"]:
            assert callable(getattr(cls, meth, None)), (cls.__name__, meth)


# -- optimistic concurrency (CAS) -------------------------------------------


def test_cas_commit_refuses_stale_version(spark, tmp_path, store_cls):
    """A commit armed with expected_version must refuse to overwrite a
    concurrent writer's commit — the lost-update guard."""
    st = store_cls(spark, str(tmp_path))
    df = spark.createDataFrame([(1,)], "x long")
    st.commit("t", df)                       # v1
    v = st.current_version("t")
    st.commit("t", df)                       # concurrent writer lands v2
    with pytest.raises(ConcurrentWriteError):
        st.commit("t", df, expected_version=v)
    # the refused part must not leak into the table or onto disk
    assert st.current_version("t") == 2
    st.vacuum("t")
    live = {p.split("/")[-1] for p in st._state("t")["parts"]}
    import os

    on_disk = {e for e in os.listdir(st._table_dir("t")) if e.startswith("p")}
    retained = set()
    for ver in st.versions("t"):
        sv = st._state_version("t", ver)
        retained |= {p.split("/")[-1] for p in sv["parts"]}
    assert on_disk <= live | retained


def test_cas_append_refuses_stale_version(spark, tmp_path, store_cls):
    st = store_cls(spark, str(tmp_path))
    df = spark.createDataFrame([(1,)], "x long")
    st.commit("t", df)
    v = st.current_version("t")
    st.append("t", df)
    with pytest.raises(ConcurrentWriteError):
        st.append("t", df, expected_version=v)
    assert st.read("t").count() == 2  # the stale append added nothing


def test_concurrent_appends_rebase_no_lost_parts(spark, tmp_path, store_cls):
    """Interleaved appends from driver threads: every part must survive
    (the rebase inside the critical section) and versions must be
    monotone with no gaps."""
    from concurrent.futures import ThreadPoolExecutor

    st = store_cls(spark, str(tmp_path))
    st.commit("t", _df(spark, 0, 1))

    def one(i):
        st.append("t", _df(spark, 10 * (i + 1), 10 * (i + 1) + 3))

    with ThreadPoolExecutor(max_workers=4) as pool:
        list(pool.map(one, range(8)))
    assert st.read("t").count() == 1 + 8 * 3
    assert st.current_version("t") == 9  # 1 commit + 8 appends, no gaps


def test_open_store_autodetects_backend(spark, tmp_path):
    df = spark.createDataFrame([(1,)], "x long")
    f_root, s_root = str(tmp_path / "f"), str(tmp_path / "s")
    IndexStore(spark, f_root).commit("t", df)
    SqliteIndexStore(spark, s_root).commit("t", df)
    assert type(open_store(spark, f_root)) is IndexStore
    assert type(open_store(spark, s_root)) is SqliteIndexStore
    assert open_store(spark, s_root).read("t").count() == 1


def test_gc_spares_young_unreferenced_parts(spark, tmp_path, store_cls):
    """An unreferenced part dir may be a CONCURRENT writer's part
    mid-write (parts land before the manifest flip publishes them): GC
    must spare it until it ages past the grace window, then collect it
    as a crash orphan."""
    import os

    st = store_cls(spark, str(tmp_path))
    df = spark.createDataFrame([(1,)], "x long")
    st.commit("t", df)
    stray = os.path.join(st._table_dir("t"), "p99999999_deadbeef")
    os.makedirs(stray)
    st.commit("t", df)  # runs _gc
    assert os.path.isdir(stray), "in-flight-aged part must be spared"
    os.utime(stray, (1, 1))  # age it beyond the grace window
    st.commit("t", df)
    assert not os.path.exists(stray), "aged orphan must be collected"


def test_crash_artifacts_do_not_corrupt_store(spark, tmp_path, store_cls):
    """Simulated writer crash debris — a torn .tmp manifest, an orphan
    part dir, a stray history file for a version that never published —
    must leave reads and subsequent commits fully functional, and the
    debris must never become authoritative."""
    import json
    import os

    st = store_cls(spark, str(tmp_path))
    df = spark.createDataFrame([(1,)], "x long")
    st.commit("t", df)  # v1
    tdir = st._table_dir("t")
    # torn tmp from a crashed flip attempt (file backend artifact; write
    # it regardless — it must be inert for both backends)
    with open(os.path.join(tdir, "_MANIFEST.tmp"), "w") as fh:
        fh.write("{ torn json")
    # orphan part dir from a crashed data write
    os.makedirs(os.path.join(tdir, "p00000099_dead0000"))
    # stray history file claiming a version that never published
    if store_cls.__name__ == "IndexStore":
        with open(st._version_pointer("t", 99), "w") as fh:
            json.dump({"version": 99, "parts": []}, fh)
    assert st.read("t").count() == 1          # current state unaffected
    assert st.current_version("t") == 1
    v2 = st.commit("t", spark.createDataFrame([(1,), (2,)], "x long"))
    assert v2 == 2                             # versioning continues cleanly
    assert st.read("t").count() == 2
    # the stray future-version history must not shadow real commits as
    # they reach that number; aged orphans are GC'd
    os.utime(os.path.join(tdir, "p00000099_dead0000"), (1, 1))
    st.commit("t", df)
    assert not os.path.exists(os.path.join(tdir, "p00000099_dead0000"))


# -- manifest min/max data skipping (round 8) --------------------------------


def test_part_stats_recorded_on_commit_and_append(spark, tmp_path, store_cls):
    st = store_cls(spark, str(tmp_path))
    st.commit("objects", _df(spark, 0, 10))
    st.append("objects", _df(spark, 10, 20))
    state = st._state("objects")
    assert len(state["parts"]) == 2
    stats = state.get("stats", {})
    import os as _os

    spans = [stats[_os.path.basename(p)] for p in state["parts"]]
    assert all(set(s) == {"object_key", "id"} for s in spans)
    # the id spans are the two disjoint batch ranges
    assert sorted(s["id"] for s in spans) == [[0, 9], [10, 19]]


def test_read_point_prunes_to_matching_parts(spark, tmp_path, store_cls):
    st = store_cls(spark, str(tmp_path))
    st.commit("objects", _df(spark, 0, 10))
    st.append("objects", _df(spark, 10, 20))
    st.append("objects", _df(spark, 20, 30))
    state = st._state("objects")
    # id=25 lives only in the third part
    kept = st._prune_parts(state, {"id": [(25, 25)]})
    assert len(kept) == 1 and kept[0] == state["parts"][2]
    # correctness: the pruned read still returns exactly the probe row
    got = st.read_point("objects", "id", [25]).filter("id = 25").collect()
    assert len(got) == 1 and got[0].object_key == "25"
    # a miss outside every span prunes ALL parts -> empty typed frame
    assert st.read_point("objects", "id", [99]).count() == 0
    assert st._prune_parts(state, {"id": [(99, 99)]}) == []


def test_read_arrow_reads_only_kept_parts(spark, tmp_path, store_cls, monkeypatch):
    """The driver-side point read: a key probe reads only the parts
    parts_for_keys keeps, projects and filters in Arrow, and returns
    the INT96 timestamps at the microsecond precision Spark wrote."""
    import pyarrow as pa
    import pyarrow.compute as pc

    st = store_cls(spark, str(tmp_path))
    st.commit("objects", _df(spark, 0, 10))
    st.append("objects", _df(spark, 10, 20))
    st.append("objects", _df(spark, 20, 30))
    third = st._state("objects")["parts"][2]
    reads = _spy_reads(monkeypatch)
    got = st.read_arrow(
        "objects", ["id", "object_key", "created_utc"], pc.field("id") == 25, col="id", values=[25]
    )
    opened = [f for f, _ in reads]
    assert opened and all(f.startswith(third + "/") for f in opened)
    assert got.column_names == ["id", "object_key", "created_utc"]
    assert got.column("id").to_pylist() == [25] and got.column("object_key").to_pylist() == ["25"]
    assert got.schema.field("created_utc").type.unit == "us"
    # a miss outside every span and an empty probe keep no part: nothing
    # is read and the result is an empty table typed like the schema
    reads.clear()
    miss = st.read_arrow("objects", ["id"], col="id", values=[99])
    assert miss.num_rows == 0 and miss.schema.field("id").type == pa.int64()
    assert st.read_arrow("objects", col="id", values=[]).num_rows == 0
    assert reads == []


def test_read_arrow_string_ranges(spark, tmp_path, store_cls):
    import pyarrow.compute as pc

    st = store_cls(spark, str(tmp_path))
    st.commit("objects", _df(spark, 100, 110))  # keys "100".."109"
    st.append("objects", _df(spark, 300, 310))  # keys "300".."309"
    state = st._state("objects")
    kept = st._prune_parts(state, {"object_key": [("30", "30￿")]})
    assert kept == [state["parts"][1]]
    got = st.read_arrow(
        "objects",
        ["object_key"],
        pc.starts_with(pc.field("object_key"), pattern="30"),
        ranges={"object_key": [("30", "30￿")]},
    )
    assert got.num_rows == 10
    # a range no span overlaps keeps no part: nothing is read
    assert st.read_arrow("objects", ranges={"object_key": [("5", "6")]}).num_rows == 0


# -- row-group selection inside kept parts -----------------------------------


def _sorted_payload_store(spark, tmp_path, store_cls, files=2, writer="spark"):
    """A chunk_store of 300 2 KiB payload rows in one part of ``files``
    files (one file from the pyarrow writer), with 32 KiB row groups."""
    st = store_cls(spark, str(tmp_path))
    st.ROW_GROUP_BYTES = 32 << 10
    _commit(st, "chunk_store", _payloads_df(spark, 300, parts=files), writer)
    return st


def _pick(st, spark, probe):
    """``sorted([(chunk_key, data)])`` of ``probe`` by read_arrow and by
    a Spark filter of the same snapshot."""
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    got = st.read_arrow(
        "chunk_store", None, pc.field("chunk_key").isin(probe), col="chunk_key", values=probe
    )
    arrow = sorted(zip(got.column("chunk_key").to_pylist(), got.column("data").to_pylist()))
    want = st.read("chunk_store").filter(F.col("chunk_key").isin(probe)).collect()
    return arrow, sorted((r.chunk_key, bytes(r.data)) for r in want)


def test_write_part_sorts_by_key_and_bounds_row_groups(spark, tmp_path, store_cls):
    """Each writer's parts are key-sorted, cut into row groups of about
    ROW_GROUP_BYTES, and carry a Bloom sidecar."""
    import os

    import pyarrow.parquet as pq

    for writer in WRITERS:
        st = _sorted_payload_store(spark, tmp_path / writer, store_cls, writer=writer)
        _commit(st, "objects", _df(spark, 0, 40).repartition(2), writer)
        for name, col in (("chunk_store", "chunk_key"), ("objects", "object_key")):
            (part,) = st.live_parts(name)
            assert os.path.exists(os.path.join(part, f"_BLOOM.{col}"))
            files = st._part_files(part)
            assert len(files) == (2 if writer == "spark" else 1)
            for f in files:
                keys = pq.read_table(f, columns=[col]).column(col).to_pylist()
                assert keys == sorted(keys)
        for f in st._part_files(st.live_parts("chunk_store")[0]):
            spans = _group_spans(f, "chunk_key")
            assert len(spans) > 1
            # sorted: consecutive groups hold disjoint, ascending key spans
            assert all(a[1] < b[0] for a, b in zip(spans, spans[1:]))
            md = pq.ParquetFile(f).metadata
            sizes = [md.row_group(g).total_byte_size for g in range(md.num_row_groups)]
            # at most one 2 KiB row past the bound
            assert max(sizes) <= st.ROW_GROUP_BYTES + (4 << 10), (writer, sizes)


def test_read_arrow_reads_only_groups_holding_probe_keys(spark, tmp_path, store_cls, monkeypatch):
    """A k-key probe decodes only the groups whose span holds a probe
    key; an all-miss probe decodes none, for either writer's part. The
    miss keys sort between two groups' spans, and the Bloom sidecar is
    removed so the part itself is kept and the group test alone must
    skip them."""
    import os
    import random

    for writer in WRITERS:
        st = _sorted_payload_store(spark, tmp_path / writer, store_cls, files=1, writer=writer)
        (part,) = st.live_parts("chunk_store")
        os.remove(os.path.join(part, "_BLOOM.chunk_key"))
        st._bloom_cache.clear()
        (f,) = st._part_files(part)
        spans = _group_spans(f, "chunk_key")
        rng = random.Random(7)
        groups = sorted(rng.sample(range(len(spans)), 3))
        probe = [spans[g][rng.randrange(2)] for g in groups]
        with monkeypatch.context() as m:
            reads = _spy_reads(m)
            arrow, spark_rows = _pick(st, spark, probe)
            assert arrow == spark_rows and len(arrow) == 3
            assert reads == [(f, groups)]
            # between two groups' spans and above every span: no group holds them
            reads.clear()
            misses = [spans[0][1] + "!", spans[-1][1] + "!"]
            arrow, spark_rows = _pick(st, spark, misses)
            assert arrow == spark_rows == []
            assert reads == []


def test_read_arrow_matches_spark_filter_on_random_probes(spark, tmp_path, store_cls):
    """Random probes mixing hits, misses, duplicates and group-boundary
    keys return exactly what a Spark filter of the snapshot returns,
    from either writer's part."""
    import random

    for writer in WRITERS:
        st = _sorted_payload_store(spark, tmp_path / writer, store_cls, writer=writer)
        keys = [r.chunk_key for r in st.read("chunk_store").select("chunk_key").collect()]
        bounds = [
            k
            for f in st._part_files(st.live_parts("chunk_store")[0])
            for span in _group_spans(f, "chunk_key")
            for k in span
        ]
        rng = random.Random(11)
        for _ in range(4):
            probe = rng.sample(keys, 5) + rng.sample(bounds, 4)
            probe += [probe[0], "%064x" % rng.getrandbits(256), "0", "g"]
            rng.shuffle(probe)
            arrow, spark_rows = _pick(st, spark, probe)
            assert arrow == spark_rows and len(arrow) == len(set(probe) & set(keys)) >= 5


def test_read_arrow_matches_spark_filter_on_legacy_and_statless_parts(
    spark, tmp_path, store_cls, monkeypatch
):
    """Parts written before key sorting — one unsorted group — and files
    without footer statistics stay correct: the first is read as its
    one group, the second whole (every group), and both match a Spark
    filter of the snapshot."""
    import os

    import pyarrow.parquet as pq

    st = store_cls(spark, str(tmp_path))
    legacy = os.path.join(st._table_dir("chunk_store"), "p00000001_legacy")
    _payloads_df(spark, 60, parts=1).write.parquet(legacy)
    st.attach_part("chunk_store", legacy)
    statless = os.path.join(st._table_dir("chunk_store"), "p00000002_nostats")
    os.makedirs(statless)
    tbl = _payloads_df(spark, 60, parts=1, lo=1000).toArrow()
    pq.write_table(
        tbl, os.path.join(statless, "part-0.parquet"), row_group_size=8, write_statistics=False
    )
    st.attach_part("chunk_store", statless)
    keys = sorted(r.chunk_key for r in st.read("chunk_store").select("chunk_key").collect())
    (lf,) = st._part_files(legacy)
    (sf,) = st._part_files(statless)
    assert len(_group_spans(lf, "chunk_key")) == 1
    n_groups = pq.ParquetFile(sf).metadata.num_row_groups
    assert n_groups > 1
    reads = _spy_reads(monkeypatch)
    probe = keys[::23] + [keys[0], "0", "g"]
    arrow, spark_rows = _pick(st, spark, probe)
    assert arrow == spark_rows and len(arrow) == len(keys[::23])
    got = dict(reads)
    assert got.get(lf) in (None, [0]) and got[sf] == list(range(n_groups))


def test_read_arrow_ranges_prune_groups_and_match_spark(spark, tmp_path, store_cls, monkeypatch):
    """A list_objects-shaped read (key prefix plus id floor) keeps only
    the groups whose spans overlap both ranges, and returns what a
    Spark filter of the snapshot returns, from either writer's part."""
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    for writer in WRITERS:
        st = store_cls(spark, str(tmp_path / writer))
        st.ROW_GROUP_BYTES = 1 << 10
        _commit(st, "objects", _df(spark, 0, 600).repartition(1), writer)
        (f,) = st._part_files(st.live_parts("objects")[0])
        n_groups = len(_group_spans(f, "object_key"))
        assert n_groups > 4
        with monkeypatch.context() as m:
            reads = _spy_reads(m)
            got = st.read_arrow(
                "objects",
                ["id", "object_key"],
                pc.starts_with(pc.field("object_key"), pattern="3") & (pc.field("id") > 320),
                ranges={"object_key": [("3", "4")], "id": [(321, None)]},
            )
        want = (
            st.read("objects")
            .filter(F.col("object_key").startswith("3") & (F.col("id") > 320))
            .select("id", "object_key")
            .collect()
        )
        assert sorted(got.column("id").to_pylist()) == sorted(r.id for r in want)
        assert len(want) > 0
        ((_, groups),) = reads
        assert 0 < len(groups) < n_groups


def test_three_key_probe_of_a_full_size_payload_part_reads_three_groups(
    spark, tmp_path, store_cls, monkeypatch
):
    """At the shipped row-group bound, a 3-key probe of a >= 14 MB
    chunk_store part, from either writer, decodes at most three row
    groups."""
    import os

    payloads = _payloads_df(spark, 900, words=512, parts=1)
    for writer in WRITERS:
        st = store_cls(spark, str(tmp_path / writer))
        _commit(st, "chunk_store", payloads, writer)
        (part,) = st.live_parts("chunk_store")
        assert st.parts_bytes([part]) >= 14 << 20
        (f,) = st._part_files(part)
        keys = [r.chunk_key for r in st.read("chunk_store").select("chunk_key").collect()]
        probe = [keys[5], keys[400], keys[-3]]
        with monkeypatch.context() as m:
            reads = _spy_reads(m)
            arrow, spark_rows = _pick(st, spark, probe)
        assert arrow == spark_rows and len(arrow) == 3
        ((_, groups),) = reads
        assert 1 <= len(groups) <= 3 < len(_group_spans(f, "chunk_key"))
        assert os.path.getsize(f) >= 14 << 20


def test_parts_of_both_writers_read_alike(spark, tmp_path, store_cls):
    """A table holding a Spark part and a pyarrow part reads the same
    rows through the Spark snapshot (``_df_for``), ``read_arrow`` and
    ``read_point``: the same ``created_utc`` instants, and one
    all-nullable Arrow schema."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    from watsondedupe_spark.store import arrow_schema

    st = store_cls(spark, str(tmp_path))
    st.commit("objects", _df(spark, 0, 40))
    new = _df(spark, 40, 80).toArrow()
    st._flip(
        [
            st.rewrite_entry(
                "objects", None, [], lambda rows: pa.concat_tables([rows, new.cast(rows.schema)]), arrow=True
            )
        ]
    )
    assert len(st.live_parts("objects")) == 2
    micros = F.unix_micros("created_utc").alias("t")
    by_spark = sorted(tuple(r) for r in st.read("objects").select("object_key", "id", micros).collect())
    assert len(by_spark) == 80 and len({r[2] for r in by_spark}) == 1
    tbl = st.read_arrow("objects")
    assert tbl.schema == arrow_schema("objects")
    by_arrow = zip(
        tbl.column("object_key").to_pylist(),
        tbl.column("id").to_pylist(),
        tbl.column("created_utc").cast("int64").to_pylist(),
    )
    assert sorted(by_arrow) == by_spark
    keys = ["3", "39", "40", "77", "missing"]
    point = st.read_point("objects", "object_key", keys).filter(F.col("object_key").isin(keys))
    probe = st.read_arrow("objects", None, pc.field("object_key").isin(keys), col="object_key", values=keys)
    assert sorted(tuple(r) for r in point.select("object_key", "id", micros).collect()) == sorted(
        zip(
            probe.column("object_key").to_pylist(),
            probe.column("id").to_pylist(),
            probe.column("created_utc").cast("int64").to_pylist(),
        )
    )
    assert probe.num_rows == 4


def test_a_zero_row_file_keeps_its_part_prunable(spark, tmp_path, store_cls):
    """A part holding a zero-row file beside its rows — Spark writes one
    for an empty partition — keeps its skip stats, so a key probe
    outside its spans skips it and a rewrite of that key selects no
    part."""
    import os

    import pyarrow.parquet as pq

    st = store_cls(spark, str(tmp_path))
    part = os.path.join(st._table_dir("objects"), "p00000001_zerorow")
    os.makedirs(part)
    tbl = _df(spark, 0, 3).toArrow()
    pq.write_table(tbl, os.path.join(part, "part-00000.parquet"))
    pq.write_table(tbl.slice(0, 0), os.path.join(part, "part-00001.parquet"))
    st.attach_part("objects", part)
    assert st._state("objects")["stats"][os.path.basename(part)]["id"] == [0, 2]
    assert st.parts_for_keys("objects", "id", [1000]) == []
    assert st.parts_for_keys("objects", "id", [1]) == [part]


def test_parts_without_stats_are_never_pruned(spark, tmp_path, store_cls):
    st = store_cls(spark, str(tmp_path))
    st.commit("objects", _df(spark, 0, 10))
    state = st._state("objects")
    state.pop("stats", None)  # simulate a pre-round-8 manifest
    assert st._prune_parts(state, {"id": [(99, 99)]}) == state["parts"]


def test_stage_attach_records_stats(spark, tmp_path, store_cls):
    st = store_cls(spark, str(tmp_path))
    path = st.stage_part("objects", _df(spark, 0, 5), 1)
    st.attach_part("objects", path)
    state = st._state("objects")
    import os as _os

    assert state["stats"][_os.path.basename(path)]["id"] == [0, 4]


def test_fold_preserves_skipping(spark, tmp_path, store_cls):
    """After the max_parts fold collapses everything into one part, the
    folded part's stats cover the whole span — skipping stays correct."""
    st = store_cls(spark, str(tmp_path))
    st.max_parts = 3
    for i in range(5):
        st.append("objects", _df(spark, i * 10, i * 10 + 10))
    state = st._state("objects")
    got = st.read_point("objects", "id", [42]).filter("id = 42").collect()
    assert len(got) == 1
    # spans recorded for every live part
    import os as _os

    for p in state["parts"]:
        assert _os.path.basename(p) in state.get("stats", {})


def test_read_key_range_prunes_files_not_rows(spark, tmp_path, store_cls):
    """read_key_range (r12) plans only the parquet FILES whose footer
    span can overlap [lo, hi) — but stays a SUPERSET selection: rows
    outside the range in a kept file still come back (the caller owns
    the exact predicate), multi-file clustered parts prune per file,
    and a boundary-touching file is kept."""
    st = store_cls(spark, str(tmp_path))
    # one part, 4 range-clustered files over object_key "000".."199"
    df = spark.range(200).selectExpr(
        "cast(id as long) as id",
        "lpad(cast(id as string), 3, '0') as object_key",
        "cast(id as long) as original_length",
        "cast(id as long) as comp_length",
        "cast(1 as long) as chunk_count",
        "timestamp'2024-01-01' as created_utc",
    ).select("id", "object_key", "original_length", "comp_length",
             "chunk_count", "created_utc")
    from pyspark.sql import functions as F

    st.commit(
        "objects",
        df.repartitionByRange(4, F.col("object_key")).sortWithinPartitions(
            "object_key"
        ),
    )
    full = st.read("objects")
    n_files = len(full.inputFiles())
    assert n_files == 4

    pruned = st.read_key_range("objects", "object_key", "050", "100")
    kept = pruned.inputFiles()
    assert 0 < len(kept) < n_files  # really pruned, really kept some
    # superset semantics: every in-range row present, exact filter final
    got = pruned.filter(
        (F.col("object_key") >= "050") & (F.col("object_key") < "100")
    )
    assert got.count() == 50
    # open bounds return everything
    assert st.read_key_range("objects", "object_key", None, None).count() == 200
    # a range beyond every span prunes all files -> empty typed frame
    assert st.read_key_range("objects", "object_key", "900", None).count() == 0


def test_read_key_range_keeps_statless_files(spark, tmp_path, store_cls):
    """A file whose footer stats can't be trusted is always planned —
    pruning is an optimization, never a correctness gate."""
    st = store_cls(spark, str(tmp_path))
    st.commit("objects", _df(spark, 0, 10))
    state = st._state("objects")
    # poison the span cache as if the footer read failed for every file
    import os as _os

    for part in state["parts"]:
        for f in _os.listdir(part):
            if f.endswith(".parquet"):
                st._footer_cache[_os.path.join(part, f)] = None
    # with untrusted stats the files are kept, so all rows come back
    assert (
        st.read_key_range("objects", "object_key", "900", None).count()
        == st.read("objects").count()
    )


def test_read_key_range_span_cache_is_per_column(spark, tmp_path, store_cls):
    """Footer spans are cached per file AND column: a string-column
    range read must not leave a span that a later integer-column range
    read on the same files compares against."""
    from pyspark.sql import functions as F

    st = store_cls(spark, str(tmp_path))
    df = spark.range(200).selectExpr(
        "cast(id as long) as id",
        "lpad(cast(id as string), 3, '0') as object_key",
        "cast(id as long) as original_length",
        "cast(id as long) as comp_length",
        "cast(1 as long) as chunk_count",
        "timestamp'2024-01-01' as created_utc",
    )
    st.commit("objects", df.repartitionByRange(4, F.col("object_key")))
    st.read_key_range("objects", "object_key", "050", "100").count()
    got = st.read_key_range("objects", "id", 50, 100).filter(
        (F.col("id") >= 50) & (F.col("id") < 100)
    )
    assert got.count() == 50


# -- the manifest flip behind every write verb --------------------------------


def test_attach_part_at_max_parts_folds_staged_rows(spark, tmp_path, store_cls):
    """Attaching to a full part list folds the staged rows in: one live
    part holding every row, with its skip stats, and no staged dir left."""
    import os as _os

    st = store_cls(spark, str(tmp_path))
    st.max_parts = 3
    for i in range(3):
        st.append("objects", _df(spark, i * 10, i * 10 + 10))
    path = st.stage_part("objects", _df(spark, 30, 35), 4)
    st.attach_part("objects", path, meta_merge={"max_id": 34})
    state = st._state("objects")
    assert len(state["parts"]) == 1
    assert sorted(r.id for r in st.read("objects").collect()) == list(range(35))
    assert state["stats"][_os.path.basename(state["parts"][0])]["id"] == [0, 34]
    assert state["meta"] == {"max_id": 34}
    assert not _os.path.exists(path)


def test_compact_parts_refuses_retired_part(spark, tmp_path, store_cls):
    """A compaction whose input part was retired by another writer is
    refused, and its rewritten part never stays on disk."""
    import os as _os

    st = store_cls(spark, str(tmp_path))
    st.commit("objects", _df(spark, 0, 10))
    st.append("objects", _df(spark, 10, 20))
    parts = st.live_parts("objects")
    st.commit("objects", _df(spark, 0, 5))  # retires both parts
    tdir = st._table_dir("objects")
    before = {e for e in _os.listdir(tdir) if e.startswith("p")}
    v = st.current_version("objects")
    with pytest.raises(ConcurrentWriteError):
        st.compact_parts("objects", parts)
    assert st.current_version("objects") == v
    assert {e for e in _os.listdir(tdir) if e.startswith("p")} == before
    assert st.read("objects").count() == 5


def test_restore_version_brings_back_skip_stats(spark, tmp_path, store_cls):
    """A metadata-only rollback restores the old version's skip stats
    with its part list, so point probes still prune."""
    st = store_cls(spark, str(tmp_path))
    st.commit("objects", _df(spark, 0, 10))
    st.append("objects", _df(spark, 10, 20))
    st.append("objects", _df(spark, 20, 30))  # v3
    old = st._state("objects")
    st.commit("objects", _df(spark, 100, 110))  # v4 replaces everything
    assert st.restore_version("objects", 3) == 5
    state = st._state("objects")
    assert state["parts"] == old["parts"]
    assert state["stats"] == old["stats"]
    assert st.parts_for_keys("objects", "id", [25]) == [old["parts"][2]]
    assert st.read("objects").count() == 30


def test_update_meta_leaves_parts_and_stats(spark, tmp_path, store_cls):
    st = store_cls(spark, str(tmp_path))
    st.commit("objects", _df(spark, 0, 10), meta={"max_id": 9})
    st.append("objects", _df(spark, 10, 20))
    old = st._state("objects")
    assert st.update_meta("objects", lambda m: {**m, "note": 1}) == {"max_id": 9, "note": 1}
    state = st._state("objects")
    assert state["version"] == old["version"] + 1
    assert state["parts"] == old["parts"]
    assert state["stats"] == old["stats"]
    assert state["meta"] == {"max_id": 9, "note": 1}


def test_two_table_flip_is_refused_whole(spark, tmp_path, store_cls):
    """A two-entry flip where one table moved past its expected version
    is refused whole: neither table flips, and both staged parts are
    deleted."""
    import os

    st = store_cls(spark, str(tmp_path))
    one = lambda x: spark.createDataFrame([(x,)], "x long")
    st.commit("objects", _df(spark, 0, 5))
    st.commit("t", one(1))
    v_obj, v_t = st.current_version("objects"), st.current_version("t")
    replace = st.rewrite_entry("objects", None, None, lambda _: _df(spark, 0, 9), v_obj)
    append = st.rewrite_entry(
        "t", None, [], lambda rows: rows.unionByName(one(2), allowMissingColumns=True), v_t
    )
    st.commit("t", one(3))  # another writer moves t on
    with pytest.raises(ConcurrentWriteError):
        st._flip([replace, append])
    assert st.current_version("objects") == v_obj
    assert st.current_version("t") == v_t + 1
    assert not os.path.exists(replace[2]) and not os.path.exists(append[2])
    assert st.read("objects").count() == 5
    assert [r.x for r in st.read("t").collect()] == [3]

"""Snapshot-versioned parquet persistence for the index tables.

The reference keeps its index in SQLite with row-level CRUD serialized by
in-process mutexes (src/DedupeLibrary/Database/SqliteProvider.cs:29-30),
so concurrent callers can safely write. A Spark-native engine wants ACID
*table* commits instead. In production this layer is Delta Lake /
Iceberg (``MERGE INTO``, optimistic concurrency, time travel); this
container has plain parquet only, so we provide the same contract with a
manifest-of-parts design — the same file-log idea those formats use:

    {root}/{table}/p00000001_ab12cd34/...     immutable data part
    {root}/{table}/_MANIFEST.v{N}             json {version, parts, meta}: version N
    {root}/_CATALOG                           json {table: current version}

Every part is staged by ONE routine, :meth:`IndexStore.rewrite_entry`:
it reads only the parts that may hold some keys (or a named set of
parts), writes what a function makes of their rows as one part, and
retires exactly those parts. A *commit* (full replace) is a rewrite of
every part. An *append* is a rewrite of no part whose function unions
the new rows: its part holds ONLY the new rows and the manifest keeps
the old parts beside it — O(batch), not O(table), which is the
difference between linear and quadratic total ingest cost over many
batches. Every row drop by key — a delete, a replace, a payload GC, a
repair — and every compaction is a rewrite too, so a 2-key delete
costs the parts its keys live in, not the table (Delta's file-pruned
copy-on-write MERGE). Readers resolve the manifest once and scan the
listed parts as one multi-path parquet read. A rewrite that would
leave more than ``max_parts`` live parts selects every part instead, so
the read fan-in stays bounded for every kind of write (the
OPTIMIZE/compaction analogue).

Every manifest version is also retained for the last ``retain_versions``
commits, so ``read_version`` gives Delta-style time travel: part files
stay on disk as long as ANY retained manifest references them, and GC
only removes parts unreachable from every retained version. Retention
also protects in-flight concurrent readers: a job scanning version N's
parts survives a writer publishing N+1 and GC-ing, because N stays in
the retained window.

The commit shape (Iceberg's multi-table commit, the batched analogue of
the reference's single-connection SQLite transactions,
SqliteProvider.cs:29-30):

* Data parts are STAGED outside any lock under collision-free unique
  names; nothing references a staged part yet.
* One *catalog flip* then publishes any number of tables at once. Every
  write verb ends in the private ``IndexStore._flip``, which takes a list
  of ``(name, build, staged)`` entries. Inside ONE critical section
  (``fcntl.flock`` on ``{root}/_LOCK`` here, a ``BEGIN IMMEDIATE``
  transaction in the SQLite backend) every ``build`` derives its table's
  next part list and meta from the same fresh catalog — this is where a
  verb's rule lives: an append REBASES on the fresh part list (appends
  commute), a replace checks the table is still at the version the
  caller read (CAS, :class:`ConcurrentWriteError` otherwise), a
  compaction checks its inputs are still live, a restore checks its
  version is still retained. If any build refuses, nothing is published
  and every staged part is deleted; the caller re-derives from a fresh
  snapshot and retries. Otherwise each table's new manifest is written
  as history ``_MANIFEST.v{N}`` and the root ``_CATALOG`` pointer is
  flipped with one atomic ``os.replace``.

So a composite engine op — an ingest touching four tables plus the
checkpoint ledger — is one flip: a crash at any point shows either every
table before the op or every table after it. The ``*_entry`` methods
(``rewrite_entry``, ``restore_entry``, ``meta_entry``) build the entries;
a caller that publishes several tables together passes them to one
flip. Each single-table write verb (``commit``, ``append``,
``attach_part``, ``compact``, ``compact_parts``, ``restore_version``,
``update_meta``) is a one-entry flip of the same entries.

Parts have two writers behind the one ``_write_part``: Spark writes a
DataFrame, and pyarrow writes a ``pyarrow.Table`` on the driver with no
Spark job. The engine takes the second for a mutation whose payload and
selected parts fit one scan split (``rewrite_entry(..., arrow=True)``
hands ``fn`` its parts as a table), the first for everything else; the
selection, fold, CAS and flip are the same for both. Every part file,
whichever wrote it, is sorted by its table's key column and cut into
row groups of about ``ROW_GROUP_BYTES``, so its groups hold disjoint,
ascending key spans, and carries INT96 timestamps and all-optional
columns, so Spark and the driver read both writers' parts alike. A
driver-side point read
(``read_arrow``) first picks parts (manifest span stats and Bloom
sidecars), then picks row groups inside each kept file from its cached
footer, and decodes only those: a k-key probe costs about k row groups,
not k whole parts. Arrow's own dataset filter cannot do this — on
pyarrow 16.1 an ``isin`` filter prunes no row group, and an OR of
equalities, which does, costs ~100 ms to plan at 64 keys. Parts written
before the sort (one unsorted group) stay readable, just unpruned, and
stay plain parquet to Spark either way.

Two interchangeable backends prove the swap point (the reference's
``DbProvider`` pluggability, src/DedupeLibrary/Database/DbProvider.cs:10,
proven externally against MySQL in src/Test.External/Program.cs:188):
:class:`IndexStore` keeps manifests as JSON files; :class:`SqliteIndexStore`
keeps them in a SQLite catalog (``{root}/_manifest.db``) with the flip as
one ``BEGIN IMMEDIATE`` transaction. The engine only calls the shared
contract (``read / snapshot / read_arrow / rewrite_entry / _flip /
table_meta / ...``) and runs unchanged on either.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import uuid
from contextlib import contextmanager

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from watsondedupe_spark.schemas import TABLE_SCHEMAS


class ConcurrentWriteError(RuntimeError):
    """A CAS commit lost the race: the table advanced past the caller's
    snapshot version. Re-read, re-derive, retry."""


class SimulatedCrash(RuntimeError):
    """Crash-injection marker raised by the store's fault hook
    (:meth:`IndexStore._crash_after`) right after a staged part write or
    a published flip, leaving exactly the state a process kill at that
    point would — no cleanup, no rollback. Tests and the graded
    crash-matrix scenario catch it, then check that the index shows the
    op's before-state (any crash before the flip) or its after-state."""


def _check_version(name: str, found: int, expected: int | None) -> None:
    """The CAS test: refuse when the table is no longer at the
    caller's ``expected`` version (``None`` never refuses)."""
    if expected is not None and found != expected:
        raise ConcurrentWriteError(
            f"{name}: expected version {expected}, "
            f"found {found} — another writer committed first"
        )


def arrow_schema(name: str) -> pa.Schema:
    """``name``'s rows as Arrow holds them on the driver: the fields of
    :data:`TABLE_SCHEMAS`, every one nullable (Spark writes every parquet
    column optional) and timestamps as naive ``timestamp[us]`` holding
    UTC instants (how an INT96 column reads back). Both part writers
    write this schema and :meth:`IndexStore.read_arrow` returns it."""
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(TABLE_SCHEMAS[name], timestamp_utc=False)
    return pa.schema([f.with_nullable(True) for f in schema])


def _set_meta(meta: dict | None = None, merge: dict | None = None):
    """The ``meta_fn`` of a write verb's ``meta=`` and ``meta_merge=``:
    ``meta`` replaces the carried meta (None keeps it), then ``merge``'s
    keys are merged in."""
    return lambda old, *_: {**(old if meta is None else meta), **(merge or {})}


@contextmanager
def _flock(path: str):
    """Exclusive ``fcntl.flock`` on ``path``: between processes AND
    between threads of one process (each entry opens its own file
    description)."""
    import fcntl

    fd = os.open(path, os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def _group_span(md, rg: int, ci: int) -> list | None:
    """``[lo, hi]`` of column ``ci`` in row group ``rg`` of one parquet
    footer ``md``, or None when that group's stats can't be trusted."""
    st = md.row_group(rg).column(ci).statistics
    if st is None or not st.has_min_max:
        return None
    lo, hi = st.min, st.max
    if isinstance(lo, bytes):
        # strict decode only: a lossy ("replace") decode of
        # truncated/invalid UTF-8 stats is NOT order-preserving
        # (U+FFFD can sort a truncated max BELOW real values), so
        # an undecodable bound makes the span untrusted
        try:
            lo, hi = lo.decode("utf-8"), hi.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if not isinstance(lo, (str, int, float)):
        return None
    return [lo, hi]


def _union_span(groups: list | None) -> list | None:
    """The file-wide ``[lo, hi]`` of per-group spans, or None when the
    column is absent, there is no row group, or any group's span is
    untrusted."""
    if not groups or any(g is None for g in groups):
        return None
    return [min(g[0] for g in groups), max(g[1] for g in groups)]


def _overlaps(span: list | None, ranges: list[tuple]) -> bool:
    """Whether ANY ``(lo, hi)`` range (``None`` bounds open) can meet
    ``span``; a missing span (no trusted stats) always can."""
    if span is None:
        return True
    plo, phi = span
    return any((lo is None or lo <= phi) and (hi is None or hi >= plo) for lo, hi in ranges)


def _sorted_probe(values: list) -> list | None:
    """``values`` sorted once for :func:`_holds_probe`'s bisects, or None
    when they hold a NULL or mixed/unorderable types (no span pruning
    then)."""
    if None in values:
        return None
    try:
        return sorted(values)
    except TypeError:
        return None


def _holds_probe(span: list | None, probe: list | None) -> bool:
    """Whether ``span`` can hold a value of the SORTED ``probe`` list:
    the smallest probe at or above the low bound is a hit iff it also
    sits at or below the high bound (one bisect). A missing span or an
    unorderable (None) probe always can."""
    if span is None or probe is None:
        return True
    import bisect

    i = bisect.bisect_left(probe, span[0])
    return i < len(probe) and probe[i] <= span[1]


class IndexStore:
    """Parquet-backed table store with atomic catalog commits.

    File-manifest backend: each table's manifests live in
    ``{table}/_MANIFEST.v{N}``, the current version of every table in
    the one root pointer ``_CATALOG`` (atomic ``os.replace`` flip), and
    the critical section is an ``fcntl.flock`` on the root ``_LOCK`` —
    which serializes both threads of one process (locks attach to the
    open file description) and separate processes on one
    host/NFS-with-locks.
    """

    #: a rewrite that would leave more live parts than this folds them all
    max_parts = 16
    #: how many historical manifest versions stay readable (time travel)
    retain_versions = 8
    #: bounded optimistic retries for read-modify-writes (:meth:`_retry`)
    cas_retries = 6
    #: GC spares unreferenced part dirs younger than this: a concurrent
    #: writer's part is WRITTEN before its manifest flip, so for a
    #: window it is indistinguishable from a crashed writer's orphan —
    #: deleting it mid-write kills the other writer's Spark job (the
    #: Delta/Iceberg answer is the same: orphan removal only beyond a
    #: retention age). Crash orphans are collected once they age out.
    gc_grace_seconds = 3600.0
    #: the armed fault of :meth:`_crash_after` (tests only), else None
    _fault = None

    def __init__(self, spark: SparkSession, root: str):
        import threading

        self.spark = spark
        self.root = root
        # per-thread reentrancy depth for op_lock, keyed by lock name:
        # flock is NOT reentrant (a second acquisition from the same
        # thread opens a new file description and blocks forever), so
        # nested holds — a caller locking around several engine verbs,
        # each of which locks itself — ride the outer acquisition
        self._op_tls = threading.local()
        # parsed Bloom sidecars keyed by (part basename, col): parts
        # are immutable once published, so the cache never invalidates
        self._bloom_cache: dict = {}
        # per-file parsed footer plus per-row-group spans by column
        # (:meth:`_footer`): files are immutable too
        self._footer_cache: dict = {}
        self._footer_bytes = 0
        self._footer_lock = threading.Lock()
        os.makedirs(root, exist_ok=True)

    # -- backend primitives (the only parts a new backend overrides) --------

    def _table_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _version_pointer(self, name: str, version: int) -> str:
        return os.path.join(self._table_dir(name), f"_MANIFEST.v{version:08d}")

    def _catalog_pointer(self) -> str:
        return os.path.join(self.root, "_CATALOG")

    @contextmanager
    def _transact(self):
        """The one critical section for catalog flips: an flock on the
        root's ``_LOCK`` file."""
        with _flock(os.path.join(self.root, "_LOCK")):
            yield

    def _catalog(self) -> dict[str, int]:
        """``{table: current version}`` for every table ever flipped."""
        try:
            with open(self._catalog_pointer()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def _state_version(self, name: str, version: int) -> dict | None:
        try:
            with open(self._version_pointer(name, version)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _write_states(self, states: dict[str, dict], catalog: dict[str, int]) -> None:
        """Publish ``states`` (table -> its new manifest) together with
        ``catalog``; MUST be called inside :meth:`_transact`. The
        history files are written first, then one ``os.replace`` flips
        the root pointer — the commit point: a crash before it leaves
        the old catalog authoritative and at worst history files past
        the current version, which readers ignore and later flips
        overwrite."""
        for name, state in states.items():
            os.makedirs(self._table_dir(name), exist_ok=True)
            with open(self._version_pointer(name, state["version"]), "w") as f:
                json.dump(state, f)
        tmp = self._catalog_pointer() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(catalog, f)
        os.replace(tmp, self._catalog_pointer())  # atomic on POSIX
        # expire history beyond the retention window; the flip above is
        # already published, so a failure here must not escape
        for name, state in states.items():
            floor = state["version"] - self.retain_versions
            for v in self.versions(name):
                if v >= floor:
                    break
                try:
                    os.remove(self._version_pointer(name, v))
                except OSError:
                    pass

    def versions(self, name: str) -> list[int]:
        """Retained (time-travel-readable) manifest versions, ascending."""
        tdir = self._table_dir(name)
        if not os.path.isdir(tdir):
            return []
        prefix = "_MANIFEST.v"
        current = self.current_version(name)
        found = (int(e[len(prefix):]) for e in os.listdir(tdir) if e.startswith(prefix))
        return sorted(v for v in found if v <= current)

    # -- shared internals ----------------------------------------------------

    def current_version(self, name: str) -> int:
        return self._catalog().get(name, 0)

    def _state_in(self, catalog: dict[str, int], name: str) -> dict | None:
        """``name``'s manifest at its ``catalog`` version (None when that
        version's manifest is gone)."""
        version = catalog.get(name, 0)
        if not version:
            return {"version": 0, "parts": []}
        return self._state_version(name, version)

    def _state(self, name: str) -> dict:
        """``name``'s current manifest. The catalog and the manifest are
        two reads: a run of flips between them can expire the version
        just read, so the catalog is then read again."""
        for _ in range(self.cas_retries):
            state = self._state_in(self._catalog(), name)
            if state is not None:
                return state
        raise FileNotFoundError(f"{name}: the current manifest is missing")

    def _retained(self, name: str, version: int) -> dict:
        """Manifest state of retained ``version``; ValueError once it
        has expired."""
        state = self._state_version(name, version)
        if state is None or version > self.current_version(name):
            raise ValueError(
                f"version {version} of {name} is not retained "
                f"(have {self.versions(name)})"
            )
        return state

    def _df_for(
        self, name: str, paths: list[str], schema: StructType | None = None
    ) -> DataFrame:
        """One parquet read over ``paths`` (part dirs or files), or an
        empty frame typed ``schema`` (default: the table schema, or no
        column for a table without one) when there is nothing to read.
        A table with a registered schema (:data:`TABLE_SCHEMAS`) is read
        with it pinned: an inferring read plans a Spark job over a
        footer just to learn the schema the engine already declares, and
        every snapshot would pay it. Any other table infers. The empty
        frame carries ``limit(0)`` so the optimizer knows it is empty: a
        union with it (an append's rewrite) plans as the other side
        alone, with no extra tasks."""
        if not paths:
            empty = schema or TABLE_SCHEMAS.get(name, StructType())
            return self.spark.createDataFrame([], empty).limit(0)
        pinned = TABLE_SCHEMAS.get(name)
        reader = self.spark.read if pinned is None else self.spark.read.schema(pinned)
        return reader.parquet(*paths)

    # -- manifest-level data skipping (round 8) ------------------------------

    #: per-table columns whose min/max footer stats are recorded in the
    #: manifest at write time. Point reads prune the PART LIST against
    #: them before Spark plans a scan — at 100 TB an ``exists()`` that
    #: opens every part's footer is an O(parts) driver stall; with the
    #: manifest span check it opens only the parts whose key range can
    #: contain the probe (the Delta/Iceberg data-skipping shape; the
    #: reference gets the same effect from its b-tree PK,
    #: SqliteProvider.cs:258-270).
    SKIP_STATS_COLS: dict[str, list[str]] = {
        "objects": ["object_key", "id"],
        "object_map": ["object_key"],
        "chunks": ["chunk_key"],
        "chunk_store": ["chunk_key"],
    }

    @staticmethod
    def _part_files(part: str) -> list[str]:
        """A part dir's parquet files, sorted — the dir also holds
        Spark's marker files and the Bloom sidecars."""
        return sorted(
            os.path.join(part, f) for f in os.listdir(part) if f.endswith(".parquet")
        )

    #: serialized footer bytes :meth:`_footer` keeps parsed before it
    #: starts over — a 128 MB file of 256 KiB row groups has a ~100 KB
    #: footer, so the cache holds hundreds of such files, not every
    #: file of a 100 TB table
    FOOTER_CACHE_BYTES = 32 << 20

    def _footer(self, fpath: str, cols: list[str]) -> tuple | None:
        """``(footer, {col: [group span, ...]})`` of one parquet FILE,
        read on the driver (no Spark job — pyarrow reads only metadata):
        the parsed ``FileMetaData`` and, per column of ``cols``, one
        ``[lo, hi]`` per row group, None for a group whose stats can't
        be trusted (missing stats, unexpected types, undecodable
        UTF-8). A column absent from the file maps to None. Cached per
        file and column, since files are immutable; a cached None for
        the whole file means its footer could not be read. Parquet's
        truncated string statistics stay safe here — a truncated min is
        a lower bound and a truncated max an upper bound, so a span can
        only widen."""
        cache = self._footer_cache
        entry = cache.get(fpath, (None, {}))
        todo = [c for c in cols if entry is not None and c not in entry[1]]
        if todo:
            fresh = 0  # serialized bytes of a footer parsed by this call
            try:
                import pyarrow.parquet as pq

                md = entry[0]
                if md is None:
                    md = pq.ParquetFile(fpath).metadata
                index = {md.schema.column(i).path: i for i in range(md.num_columns)}
                groups = {
                    c: None
                    if index.get(c) is None
                    else [_group_span(md, rg, index[c]) for rg in range(md.num_row_groups)]
                    for c in todo
                }
                fresh = 0 if entry[0] is not None else md.serialized_size
                entry = (md, {**entry[1], **groups})
            except Exception:  # noqa: BLE001 — stats are an optimization only
                entry = None
            with self._footer_lock:
                self._footer_bytes += fresh
                if self._footer_bytes > self.FOOTER_CACHE_BYTES:
                    cache.clear()
                    self._footer_bytes = fresh
                cache[fpath] = entry
        return entry

    def _file_spans(self, fpath: str, cols: list[str]) -> dict:
        """``{col: [lo, hi]}`` of ``cols`` across one parquet FILE's row
        groups (the union of :meth:`_footer`'s group spans). A column
        maps to None when any group's stats can't be trusted or the
        file has no row group: a file is then never pruned on it."""
        entry = self._footer(fpath, cols)
        return {c: None if entry is None else _union_span(entry[1][c]) for c in cols}

    def _part_stats(self, name: str, path: str) -> dict | None:
        """Min/max of the table's skip columns across one part dir's
        parquet files, or None when stats can't be trusted for every
        file: the part is then never pruned. A zero-row file (Spark
        writes one for an empty partition) holds no key, so it bounds
        nothing and is skipped."""
        cols = self.SKIP_STATS_COLS.get(name)
        if not cols:
            return None
        try:
            files = self._part_files(path)
        except OSError:
            return None
        stats: dict[str, list] = {}
        for fpath in files:
            entry = self._footer(fpath, cols)
            if entry is not None and entry[0].num_rows == 0:
                continue
            for col, span in self._file_spans(fpath, cols).items():
                # every skip column must be covered, else a probe on the
                # missing column would wrongly prune this part
                if span is None:
                    return None
                cur = stats.get(col, span)
                stats[col] = [min(cur[0], span[0]), max(cur[1], span[1])]
        return stats or None

    def _prune_parts(
        self, state: dict, col_ranges: dict[str, list[tuple]]
    ) -> list[str]:
        """Parts whose recorded spans can satisfy EVERY column's range
        list (a part is kept when, for each column, ANY [lo, hi] range
        overlaps its span). Parts without recorded stats are always
        kept — skipping is an optimization, never a correctness gate."""
        stats = state.get("stats", {})
        return [
            p
            for p in state["parts"]
            if all(
                _overlaps((stats.get(os.path.basename(p)) or {}).get(col), ranges)
                for col, ranges in col_ranges.items()
            )
        ]

    def read_key_range(
        self,
        name: str,
        col: str,
        lo,
        hi,
        schema: StructType | None = None,
    ) -> DataFrame:
        """Current snapshot of ``name`` planning only the parquet FILES
        whose footer ``col`` span can overlap ``[lo, hi)`` (``None``
        bounds open). Parquet row-group pruning skips the BYTES of
        out-of-range files, but Spark still lists and plans a task per
        file — on a range-clustered 100 TB table a 1-of-n scrub shard
        would schedule the full file count to read 1/n of it. This is
        the Iceberg/Delta file-stats prune done manifest-side: footer
        spans (driver-side, cached; parts are immutable) select the
        shard's files BEFORE the scan is planned. Files without
        trustworthy stats are always kept, and the caller still applies
        the exact row predicate — pruning only shrinks the file list,
        exactly like :meth:`read_point`."""
        keep: list[str] = []
        for part in self.live_parts(name):
            try:
                files = self._part_files(part)
            except OSError:
                keep.append(part)  # unreadable listing: scan whole part
                continue
            for fpath in files:
                span = self._file_spans(fpath, [col])[col]
                if span is None or (
                    (lo is None or lo <= span[1]) and (hi is None or hi > span[0])
                ):
                    keep.append(fpath)
        # plain read like read() — same pinned schema as the unpruned
        # snapshot, so downstream plans are type-identical
        return self._df_for(name, keep, schema)

    #: (table, column) pairs whose keys are uniform cryptographic hashes
    #: (urlsafe-b64 SHA-256): any non-trivial part's span covers
    #: essentially the whole keyspace, so min/max SPAN pruning never
    #: skips a part there — parts_for_keys skips the per-part span test for
    #: these (round-9 advice) and relies on the Bloom sidecars instead,
    #: which prune on membership rather than order (round 12).
    HASH_KEYED: frozenset = frozenset({("chunks", "chunk_key"), ("chunk_store", "chunk_key")})

    # -- per-part Bloom sidecars (round 12) ----------------------------------

    #: key column per table that gets a Bloom sidecar at part-write
    #: time (see :mod:`watsondedupe_spark.bloom` for the design and the
    #: 100 TB rationale). Span stats answer "can this part's key RANGE
    #: contain the probe"; the bloom answers "does this part plausibly
    #: CONTAIN the probe" — the only question that prunes anything on
    #: the hash-keyed chunk tables, and the one that makes a negative
    #: ``exists()`` plan no scan at all.
    BLOOM_COLS: dict[str, str] = {
        "objects": "object_key",
        "object_map": "object_key",
        "chunks": "chunk_key",
        "chunk_store": "chunk_key",
    }

    #: row-group bound of every part file :meth:`_write_part` writes.
    #: A point read (:meth:`read_arrow`) decodes only the row groups
    #: whose key span can hold a probe, so this is the unit a point
    #: read pays per probed key: a 16 MB ``chunk_store`` part becomes
    #: ~70 groups instead of one, and a 128 MB ``optimize()`` file
    #: ~500. Smaller groups read faster but write slower (more
    #: flushes, a larger footer); the value was chosen by measuring
    #: both (CHANGES.md).
    ROW_GROUP_BYTES = 256 << 10

    def _write_part(self, name: str, rows, version_hint: int) -> str:
        """Write ``rows`` as an immutable part dir plus its Bloom sidecar
        and return its path — the single choke point every
        part-creating write path goes through, so no part can miss its
        sidecar by omission. The dir name is collision-free: the
        version hint for operator legibility plus a uuid suffix, so
        racing writers never share a path.

        Two writers lay out the same part. A DataFrame is written by
        Spark, one file per partition; a ``pyarrow.Table`` is written
        on the driver with pyarrow as one file, with no Spark job (the
        engine's small mutations, :meth:`rewrite_entry` with
        ``arrow=True``). Either way each file is sorted by the table's
        key column (:attr:`BLOOM_COLS`; Spark sorts per partition, so
        no exchange and no extra job) and cut into row groups of about
        :attr:`ROW_GROUP_BYTES`, so consecutive groups hold disjoint
        key spans that :meth:`read_arrow` picks from the footer. Spark
        gets the bound as ``parquet.block.size`` plus
        ``parquet.page.size.row.check.min``: parquet-mr otherwise
        measures its buffered size only every 100+ rows, which at
        16 KiB payload rows would still give groups of 1.6 MB and up.
        pyarrow gets it as rows per group from the table's Arrow bytes
        per row."""
        os.makedirs(self._table_dir(name), exist_ok=True)
        path = os.path.join(
            self._table_dir(name), f"p{version_hint:08d}_{uuid.uuid4().hex[:8]}"
        )
        key = self.BLOOM_COLS.get(name)
        if isinstance(rows, DataFrame):
            if key in rows.columns:
                rows = rows.sortWithinPartitions(key)
            (
                rows.write.mode("overwrite")
                .option("parquet.block.size", self.ROW_GROUP_BYTES)
                .option("parquet.page.size.row.check.min", 1)
                .parquet(path)
            )
            self._write_bloom(name, path)
        else:
            self._write_arrow_part(name, rows, path)
        self._tick(name)
        return path

    def _write_arrow_part(self, name: str, rows: pa.Table, path: str) -> None:
        """The pyarrow writer of :meth:`_write_part`: ``rows`` cast to
        :func:`arrow_schema`, key-sorted, written as one snappy file whose
        timestamps are INT96 like Spark's writer, so Spark and
        :meth:`read_arrow` read its parts and Spark's alike."""
        import pyarrow.parquet as pq

        schema = arrow_schema(name)
        tbl = rows.select(schema.names).cast(schema)
        key = self.BLOOM_COLS.get(name)
        if key:
            tbl = tbl.sort_by(key)
        per_group = self.ROW_GROUP_BYTES * tbl.num_rows // max(1, tbl.nbytes)
        os.makedirs(path)
        pq.write_table(
            tbl,
            os.path.join(path, f"part-00000-{uuid.uuid4()}.snappy.parquet"),
            row_group_size=max(1, per_group),
            compression="snappy",
            use_deprecated_int96_timestamps=True,
        )
        self._write_bloom(name, path, tbl.column(key) if key else None)

    def _write_bloom(self, name: str, path: str, keys=None) -> None:
        """Build ``{path}/_BLOOM.{col}`` from the part's key column:
        ``keys`` when the writer holds them, else a driver-side columnar
        read-back of ONLY that column (no Spark job; the part was just
        written and is OS-cache-hot). Written atomically; any failure
        leaves no sidecar, which readers treat as "never prune this
        part"."""
        col = self.BLOOM_COLS.get(name)
        if not col:
            return
        try:
            from watsondedupe_spark import bloom

            if keys is None:
                import pyarrow.dataset as pads

                part = pads.dataset(path, format="parquet")
                n, read = part.count_rows(), lambda: part.to_table(columns=[col]).column(col)
            else:
                n, read = len(keys), lambda: keys
            # safety valve: past ~16M keys the capped bitmap's FP rate
            # degrades toward useless while the build cost grows linear
            # on the driver — skip the sidecar (part is simply never
            # pruned) instead of stalling the commit
            if n > 16_000_000:
                return
            raw = bloom.build_arrow(read().drop_null())
            tmp = os.path.join(path, f"_BLOOM.{col}.tmp")
            with open(tmp, "wb") as f:
                f.write(raw)
            os.replace(tmp, os.path.join(path, f"_BLOOM.{col}"))
        except Exception:  # noqa: BLE001 — the sidecar is an optimization only
            pass

    def _part_bloom(self, path: str, col: str):
        """Parsed sidecar for one part (cached; parts are immutable),
        or None when absent/unreadable — meaning "cannot prune"."""
        key = (os.path.basename(path), col)
        cache = self._bloom_cache
        if key in cache:
            return cache[key]
        parsed = None
        try:
            from watsondedupe_spark import bloom

            with open(os.path.join(path, f"_BLOOM.{col}"), "rb") as f:
                parsed = bloom.parse(f.read())
        except Exception:  # noqa: BLE001 — absent/corrupt sidecar: keep part
            parsed = None
        if len(cache) >= 512:
            cache.clear()
        cache[key] = parsed
        return parsed

    def _bloom_prune(
        self, name: str, col: str, parts: list[str], values: list
    ) -> list[str]:
        """Parts whose Bloom sidecar says they MAY contain at least one
        of ``values``. Parts without a sidecar are always kept; false
        positives only widen the scan — skipping is an optimization,
        never a correctness gate (same contract as :meth:`_prune_parts`).
        """
        if not parts or not values or not all(isinstance(v, str) for v in values):
            return parts
        from watsondedupe_spark import bloom

        hashed = None  # probe hashes computed once, only if any sidecar exists
        kept = []
        for p in parts:
            parsed = self._part_bloom(p, col)
            if parsed is None:
                kept.append(p)
                continue
            if hashed is None:
                hashed = bloom.hash_pairs(values)
            if bloom.might_contain_any(parsed, *hashed):
                kept.append(p)
        return kept

    def read_point(
        self,
        name: str,
        col: str,
        values: list,
        schema: StructType | None = None,
    ) -> DataFrame:
        """Current snapshot of ``name`` for the APIs that return a
        DataFrame (``get_object_map``, ``get_chunks``,
        ``map_for_position``, ``get_batch``): Spark plans a scan over
        only the parts :meth:`parts_for_keys` keeps. An empty
        ``values`` asks for nothing and gets an empty typed frame. The
        engine's driver-returning point verbs do not plan a scan at all
        — they read the same pruned parts with :meth:`read_arrow`."""
        return self._df_for(
            name, self.parts_for_keys(name, col, values) if values else [], schema
        )

    def parts_for_keys(self, name: str, col: str, values: list) -> list[str]:
        """Live parts that MAY contain any of ``values`` in ``col`` —
        the one part-selection primitive behind :meth:`read_point`,
        :meth:`read_arrow` and :meth:`rewrite_entry`. Two independent
        witnesses apply: min/max SPANS (the probe set is sorted once and
        each part span is tested with a bisect: O(parts x log |values|),
        so a 100k-key batch probe against a many-part store stays
        driver-cheap), skipped on the :attr:`HASH_KEYED` tables whose
        spans cover the whole keyspace, then Bloom sidecars
        (:meth:`_bloom_prune`), which prune on MEMBERSHIP. Parts without
        stats/sidecars are always kept and false positives only widen
        the read — never a correctness gate. An empty ``values``, or one
        holding a NULL or unorderable key, keeps every part (the safe
        answer is "anywhere")."""
        return self._keyed_parts(name, self._state(name), col, values)

    def _keyed_parts(self, name: str, state: dict, col: str, values: list) -> list[str]:
        """:meth:`parts_for_keys` against the manifest ``state``."""
        parts = list(state.get("parts", []))
        if not parts or not values:
            return parts
        vals = _sorted_probe(values)
        if vals and (name, col) not in self.HASH_KEYED:
            stats = state.get("stats", {})
            parts = [
                p
                for p in parts
                if _holds_probe((stats.get(os.path.basename(p)) or {}).get(col), vals)
            ]
        if parts and self.BLOOM_COLS.get(name) == col:
            parts = self._bloom_prune(name, col, parts, list(values))
        return parts

    def read_arrow(
        self,
        name: str,
        columns: list[str] | None = None,
        filter=None,
        *,
        col: str | None = None,
        values: list | None = None,
        ranges: dict[str, list[tuple]] | None = None,
    ):
        """Rows of ``name`` as a ``pyarrow.Table`` read on the driver —
        no Spark job. Parts are chosen like the Spark readers choose
        them: by key probe (``col``/``values`` through
        :meth:`parts_for_keys`; an empty ``values`` reads nothing) or by
        span ranges (``ranges`` through :meth:`_prune_parts`: a part is
        kept when, for each column, any ``(lo, hi)`` range overlaps its
        span; ``None`` bounds are open).

        Inside each kept file the same test picks ROW GROUPS from the
        cached footer (:meth:`_footer`) before any data is read: a key
        probe keeps a group iff a sorted probe value falls inside its
        ``col`` span (one bisect per group), a ``ranges`` read keeps a
        group iff its spans overlap every column's ranges, and a group
        without trusted stats is always read. Parts are key-sorted with
        bounded groups (:meth:`_write_part`), so a k-key probe decodes
        at most ~k groups of :attr:`ROW_GROUP_BYTES`, not whole parts.
        An Arrow dataset ``isin`` filter cannot do this: on pyarrow
        16.1 it prunes no row group at all, and an OR of equalities,
        which does prune, costs ~100 ms to plan at 64 keys. Parts
        written as one unsorted group are read whole but stay correct.

        The kept groups are read with the cached footer (every column
        when a ``filter`` is given, since it may reference any of them;
        a group is at most :attr:`ROW_GROUP_BYTES`), concatenated,
        filtered by the Arrow ``filter`` expression and projected to
        ``columns`` (default: every column, in file order). When no
        group is kept, the result is an empty table typed from
        :data:`TABLE_SCHEMAS`. INT96 timestamps come back as
        ``timestamp[us]``, the precision Spark wrote them at.

        This is the reference's single indexed SQLite query
        (SqliteProvider.cs:203-270) as file and row-group skipping plus
        one columnar read: a point verb pays footer and row-group I/O
        on the groups that can hold its key, not the per-job scheduling
        floor of a Spark action."""
        import pyarrow.parquet as pq

        if col is not None:
            parts = self.parts_for_keys(name, col, values) if values else []
            probe = _sorted_probe(values or [])

            def keep(spans: dict, rg: int) -> bool:
                return spans[col] is None or _holds_probe(spans[col][rg], probe)

            cols = [col]
        else:
            ranges = ranges or {}
            parts = self._prune_parts(self._state(name), ranges)

            def keep(spans: dict, rg: int) -> bool:
                return all(
                    spans[c] is None or _overlaps(spans[c][rg], r) for c, r in ranges.items()
                )

            cols = list(ranges)
        read_cols = columns if filter is None else None
        pieces = []
        for fpath in (f for p in parts for f in self._part_files(p)):
            entry = self._footer(fpath, cols)
            md, groups = None, None  # an unreadable footer: read the whole file
            if entry is not None:
                md = entry[0]
                groups = [rg for rg in range(md.num_row_groups) if keep(entry[1], rg)]
                if not groups:
                    continue
            pf = pq.ParquetFile(fpath, metadata=md, coerce_int96_timestamp_unit="us")
            pieces.append(
                pf.read(columns=read_cols)
                if groups is None
                else pf.read_row_groups(groups, columns=read_cols)
            )
        if not pieces:
            schema = arrow_schema(name)
            if columns is not None:
                schema = pa.schema([schema.field(c) for c in columns])
            return schema.empty_table()
        # parts may differ in field nullability; the default promotion
        # unifies it
        tbl = pa.concat_tables(pieces, promote_options="default")
        if filter is not None:
            tbl = tbl.filter(filter)
        return tbl if columns is None else tbl.select(columns)

    def _arrow_for(self, name: str, parts: list[str]) -> pa.Table:
        """Every row of ``parts`` as one ``pyarrow.Table`` in
        :func:`arrow_schema` — the driver counterpart of :meth:`_df_for`
        that :meth:`rewrite_entry` hands ``fn`` when ``arrow=True``."""
        import pyarrow.parquet as pq

        schema = arrow_schema(name)
        pieces = [
            pq.ParquetFile(f, coerce_int96_timestamp_unit="us").read()
            for p in parts
            for f in self._part_files(p)
        ]
        if not pieces:
            return schema.empty_table()
        return pa.concat_tables(pieces, promote_options="default").select(schema.names).cast(schema)

    def read_version(self, name: str, version: int) -> DataFrame:
        """Snapshot of ``name`` as of ``version`` — Delta-style time
        travel over the retained manifest history."""
        return self._df_for(name, self._retained(name, version)["parts"])

    def table_bytes(self, name: str) -> int:
        """On-disk bytes of the table's LIVE parts — a driver-side walk
        of the manifest's part dirs (manifest-metadata scale, no Spark
        job). Used to size compaction layouts (file count = bytes /
        target) without an extra data pass."""
        return self.parts_bytes(self.live_parts(name))

    def version_meta(self, name: str, version: int) -> dict:
        """The caller-carried table meta AS OF retained ``version`` —
        the historical counterpart of :meth:`table_meta` (e.g. the
        objects high-water mark at a consistency point). Raises like
        :meth:`read_version` when the version has expired."""
        return self._retained(name, version).get("meta", {})

    def vacuum(self, name: str, grace_seconds: float | None = None) -> dict:
        """Orphan-part removal with stats — the Delta VACUUM analogue.
        Every flip that retires parts runs it (see :meth:`_flip`), so
        crashed writers leave at worst an orphan dir that ages out,
        never a dangling reference; a QUIET table never flips, so this
        is also the on-demand sweep for its crash orphans. A part is
        removed only when it is unreachable from the current manifest
        AND every retained historical manifest (concurrent readers of
        any retained version stay safe), and only when older than
        ``grace_seconds`` (default
        :attr:`gc_grace_seconds`) — an in-flight concurrent writer's
        part is written BEFORE its manifest flip publishes it, so a
        younger unreferenced dir is indistinguishable from one.
        Returns ``{"parts_removed": n, "mb_reclaimed": mb}``."""
        import time

        grace = self.gc_grace_seconds if grace_seconds is None else grace_seconds
        live: set[str] = set()
        states = [self._state(name)] + [
            s
            for s in (self._state_version(name, v) for v in self.versions(name))
            if s is not None
        ]
        for state in states:
            live.update(os.path.basename(p) for p in state["parts"])
        tdir = self._table_dir(name)
        removed, freed = 0, 0
        if not os.path.isdir(tdir):
            return {"parts_removed": 0, "mb_reclaimed": 0.0}
        now = time.time()
        for entry in os.listdir(tdir):
            if not entry.startswith("p") or entry in live:
                continue
            path = os.path.join(tdir, entry)
            try:
                if now - os.path.getmtime(path) < grace:
                    continue  # possibly a concurrent writer's in-flight part
            except OSError:
                continue  # vanished under us: its writer is cleaning up
            freed += self.parts_bytes([path])
            shutil.rmtree(path, ignore_errors=True)
            removed += 1
        return {"parts_removed": removed, "mb_reclaimed": round(freed / 1e6, 3)}

    # -- the catalog flip ----------------------------------------------------

    def _flip(self, entries: list) -> dict[str, dict]:
        """The one catalog flip behind every write: publish a new
        version of every entry's table, all or none. Returns ``{name:
        state written}``.

        An entry is ``(name, build, staged)`` (``None`` entries are
        skipped); ``staged`` is the part the caller wrote outside the
        lock, if any. Its footer stats are read here, before the lock —
        the part is immutable once written, so the flip stays a pure
        pointer update. Inside :meth:`_transact` each
        ``build(fresh, catalog)`` runs in entry order against the same
        fresh catalog: ``fresh`` is the table's current state and
        ``catalog`` maps every table to the version this flip leaves it
        at (entries before it already bumped — how a ledger entry names
        the versions it publishes). ``build`` returns ``{"parts",
        "meta"}`` (plus ``"stats"`` to carry instead of the fresh
        manifest's), or raises to refuse: then nothing is published and
        every staged part is deleted. Each table keeps skip stats for
        its live parts only and bumps its version, and all the states
        land in one :meth:`_write_states`. Tables whose flip retired
        parts are GC'd (:meth:`vacuum`) afterwards."""
        entries = [e for e in entries if e is not None]
        if not entries:
            return {}
        staged_stats = {
            name: self._part_stats(name, staged) for name, _, staged in entries if staged
        }
        fresh_of: dict[str, dict] = {}
        states: dict[str, dict] = {}
        with self._transact():
            catalog = self._catalog()
            try:
                for name, build, staged in entries:
                    fresh = fresh_of[name] = self._state_in(catalog, name)
                    nxt = build(fresh, catalog)
                    live = {os.path.basename(p) for p in nxt["parts"]}
                    carried = nxt.get("stats", fresh.get("stats", {}))
                    stats = {k: v for k, v in carried.items() if k in live}
                    if staged_stats.get(name) is not None:
                        stats[os.path.basename(staged)] = staged_stats[name]
                    state = states[name] = {
                        "version": fresh["version"] + 1,
                        "parts": nxt["parts"],
                        "meta": nxt["meta"],
                    }
                    if stats:
                        state["stats"] = stats
                    catalog[name] = state["version"]
            except BaseException:
                # refused: nothing is published. (A failure while
                # writing below leaves the staged parts as orphans for
                # vacuum() instead: past the root flip they are live.)
                for _, _, staged in entries:
                    if staged:
                        shutil.rmtree(staged, ignore_errors=True)
                raise
            self._write_states(states, catalog)
        self._tick("flip")
        for name, state in states.items():
            if set(fresh_of[name]["parts"]) - set(state["parts"]):
                self.vacuum(name)
        return states

    @contextmanager
    def _crash_after(self, point: str = "any", n: int = 1):
        """Fault hook for crash tests: inside the block, raise
        :class:`SimulatedCrash` right after the ``n``-th event at
        ``point`` — a table name counts that table's staged part
        writes, ``"flip"`` counts published flips, and ``"any"`` counts
        both. A staged part is written before its op's flip, so
        ``"any"`` with n = 1, 2, ... walks every crash point of an op in
        order, its flip last. The fault is armed on this store's CLASS,
        so a store the op opens itself (a clone's destination) counts
        too."""
        cls = type(self)
        cls._fault = (point, n, itertools.count(1))
        try:
            yield
        finally:
            cls._fault = None

    def _tick(self, event: str) -> None:
        """Count ``event`` (a table name for a staged part, or
        ``"flip"``) against the armed fault. ``next()`` on the counter
        is atomic under the GIL, so of several staging threads exactly
        one sees the n-th tick."""
        fault = self._fault
        if fault is None or fault[0] not in (event, "any"):
            return
        if next(fault[2]) == fault[1]:
            raise SimulatedCrash(f"after {event} ({fault[0]} #{fault[1]})")

    def _retry(self, attempt):
        """``attempt()`` until its flip wins, at most :attr:`cas_retries`
        times with a linear backoff; the last lost race is raised. Each
        attempt re-derives its rows from fresh snapshots, so concurrent
        read-modify-writes serialize per table with no lost update (the
        Delta commit-conflict shape — the batched analogue of the
        reference's writer mutexes, SqliteProvider.cs:29-30)."""
        import time

        for i in range(self.cas_retries):
            try:
                return attempt()
            except ConcurrentWriteError:
                if i == self.cas_retries - 1:
                    raise
                time.sleep(0.05 * (i + 1))

    # -- flip entries: stage a table's change, publish it with others ---------

    def rewrite_entry(
        self, name, col, keys, fn, expected_version=None, meta_fn=None, parts=None, arrow=False
    ) -> tuple:
        """Stage ``fn(rows of the selected parts)`` as one part whose flip
        retires exactly those parts and keeps every other one: the one
        routine that stages a part for a flip. From ONE manifest read it
        selects (:meth:`_selection`) the parts :meth:`parts_for_keys`
        keeps for ``keys`` in ``col`` (no false negatives: every row of
        every key is in the selection); every part for ``keys=None`` (a
        full replace), none for an empty ``keys`` (an append: ``fn``
        unions the new rows into an empty frame), or exactly ``parts``
        when given. One rule bounds the read fan-in (the OPTIMIZE
        analogue): a rewrite that would leave more than
        :attr:`max_parts` live parts selects every part, so ``fn`` must
        hold for any superset of its selection, as a key filter or a
        union does.

        The rows reach ``fn`` as a DataFrame, and Spark writes what it
        returns; with ``arrow=True`` they reach it as a
        ``pyarrow.Table`` read on the driver, and pyarrow writes what it
        returns (:meth:`_write_part`) — no Spark job, for a selection
        the caller knows to be small.

        ``expected_version`` arms the table-version CAS, checked before
        the part is written and again in the flip. Without it the flip
        rebases: it keeps parts appended since and refuses only when a
        selected part was retired meanwhile (rewriting retired rows
        would resurrect them). ``meta_fn(meta, new_parts, new_part)``
        updates the carried meta in the same flip."""
        state = self._state(name)
        _check_version(name, state["version"], expected_version)
        parts = self._selection(name, state, col, keys, parts)
        rows = self._arrow_for(name, parts) if arrow else self._df_for(name, parts)
        path = self._write_part(name, fn(rows), state["version"] + 1)
        todo = set(parts)

        def build(fresh, catalog):
            _check_version(name, fresh["version"], expected_version)
            missing = sorted(todo - set(fresh["parts"]))
            if missing:
                raise ConcurrentWriteError(
                    f"{name}: parts retired under a rewrite "
                    f"(another writer committed first): {missing}"
                )
            new_parts = [p for p in fresh["parts"] if p not in todo] + [path]
            meta = dict(fresh.get("meta", {}))
            if meta_fn is not None:
                meta = meta_fn(meta, new_parts, path)
            return {"parts": new_parts, "meta": meta}

        return name, build, path

    def _selection(self, name, state, col, keys, parts=None) -> list[str]:
        """The parts a rewrite of ``keys`` in ``col`` reads and retires,
        against the manifest ``state`` (see :meth:`rewrite_entry`):
        read from the manifest and the Bloom sidecars, no Spark job, so
        a caller can size a rewrite (:meth:`parts_bytes`) before
        staging it."""
        live = list(state["parts"])
        if parts is None:
            parts = live if keys is None else self._keyed_parts(name, state, col, keys) if keys else []
        if len(set(live) - set(parts)) >= self.max_parts:
            parts = live
        return parts

    def restore_entry(self, name: str, version: int) -> tuple:
        """The entry that re-points ``name`` at retained ``version``
        (see :meth:`restore_version`). The version is looked up inside
        the flip, so one that has expired refuses the whole flip with
        ValueError."""

        def build(fresh, catalog):
            hist = self._retained(name, version)
            return {
                "parts": hist["parts"],
                "meta": hist.get("meta", {}),
                "stats": hist.get("stats", {}),
            }

        return name, build, None

    def meta_entry(self, name: str, fn) -> tuple:
        """The entry that sets ``name``'s meta to ``fn(meta, catalog)``
        and leaves its parts alone (see :meth:`update_meta`)."""

        def build(fresh, catalog):
            return {
                "parts": fresh["parts"],
                "meta": fn(dict(fresh.get("meta") or {}), catalog),
            }

        return name, build, None

    # -- contract -----------------------------------------------------------

    @contextmanager
    def op_lock(self, name: str = "write"):
        """Per-INDEX advisory lock for composite multi-table operations
        (``{root}/_OPLOCK.{name}``, flock — cross-process and
        cross-thread on one host; both backends share it).

        A composite operation publishes all its tables in ONE catalog
        flip, so no reader or crash ever sees it half done. What the
        flip cannot exclude is a check-then-act across ops: two ingests
        of one key could both pass the duplicate-key pre-check before
        either flips. Engine write, delete, restore, repair and recover
        paths therefore hold this lock from their pre-checks through
        their flip — the batched analogue of the reference's writer
        mutex (SqliteProvider.cs:29-30) — while the expensive chunking
        work stays outside it. The flip's CAS checks remain as defense
        in depth for writers that bypass the lock. On a real Delta
        deployment this is replaced by commit-conflict retries within
        one transaction log.

        REENTRANT per thread (per store instance): a thread already
        holding the lock re-enters immediately instead of deadlocking on
        a second flock, which is what lets a caller hold one critical
        section across several engine verbs while each verb takes the
        lock itself. Reentrancy is tracked on THIS
        instance — a second store object on the same root still blocks
        (it is a different writer as far as the protocol is concerned).
        Custom ``store_cls`` backends must preserve both properties:
        cross-process exclusion and same-thread reentrancy (see
        :meth:`~watsondedupe_spark.engine.DedupeEngine.create`).
        """
        depth = getattr(self._op_tls, "depth", None)
        if depth is None:
            depth = self._op_tls.depth = {}
        if depth.get(name, 0) > 0:
            depth[name] += 1
            try:
                yield
            finally:
                depth[name] -= 1
            return
        with _flock(os.path.join(self.root, f"_OPLOCK.{name}")):
            depth[name] = 1
            try:
                yield
            finally:
                depth[name] = 0

    def exists(self, name: str) -> bool:
        return self.current_version(name) > 0

    def read(self, name: str, schema: StructType | None = None) -> DataFrame:
        """Current snapshot of ``name``; empty (typed) DataFrame if absent."""
        return self._df_for(name, self.live_parts(name), schema)

    def snapshot(self, name: str, schema: StructType | None = None):
        """``(version, DataFrame, meta)`` resolved from ONE manifest
        read — the consistent basis for a CAS read-modify-write: derive
        the new state from the DataFrame/meta, then
        ``commit(..., expected_version=version)``."""
        state = self._state(name)
        df = self._df_for(name, state["parts"], schema)
        return state["version"], df, state.get("meta", {})

    def table_meta(self, name: str) -> dict:
        """Caller-provided table statistics carried in the manifest (the
        Delta/Iceberg table-properties analogue). Empty dict if none."""
        return self._state(name).get("meta", {})

    def restore_version(self, name: str, version: int) -> int:
        """Metadata-only rollback (the Delta RESTORE analogue):
        re-point the table at ``version``'s part list / meta / skip
        stats as a NEW version. No data is copied — at 100 TB a
        rollback that rewrote the payload table would be a day-long
        job; this is one manifest write. History is preserved, so the
        rollback is itself undoable while retained, and the historical
        parts stay GC-protected because :meth:`vacuum` spares anything
        reachable from ANY retained manifest. Returns the new version.
        """
        return self._flip([self.restore_entry(name, version)])[name]["version"]

    def update_meta(self, name: str, fn) -> dict:
        """Transactional METADATA-ONLY update: ``meta = fn(meta)``
        inside the critical section, version bumped, parts untouched.
        O(one manifest write) — no Spark job, no parquet I/O. Works on
        both backends (one :meth:`_flip`)."""
        return self._flip([self.meta_entry(name, lambda meta, _: fn(meta))])[name]["meta"]

    def _flip_one(self, expected_version: int | None, stage) -> int:
        """Publish the one entry ``stage()`` builds and return the new
        version. An armed ``expected_version`` makes a lost race the
        caller's error; without it the entry is re-staged from a fresh
        manifest and retried (:meth:`_retry`)."""

        def attempt():
            entry = stage()
            return self._flip([entry])[entry[0]]["version"]

        return attempt() if expected_version is not None else self._retry(attempt)

    def commit(
        self,
        name: str,
        df: DataFrame,
        meta: dict | None = None,
        expected_version: int | None = None,
    ) -> int:
        """Write ``df`` as the full new table state: a one-entry flip of
        :meth:`rewrite_entry` over every part, each of which it retires.

        ``meta=None`` carries the previous manifest's meta forward; pass
        a dict to replace it. ``expected_version`` arms the CAS check:
        if the table has advanced past it the new part is discarded and
        :class:`ConcurrentWriteError` raised — the caller re-derives
        from a fresh :meth:`snapshot` and retries. Without it the commit
        rebases like :meth:`append`: it retires only the parts it read,
        keeps parts appended meanwhile, and is retried when one of its
        parts was retired under it.
        """
        return self._flip_one(
            expected_version,
            lambda: self.rewrite_entry(
                name, None, None, lambda _: df, expected_version, _set_meta(meta)
            ),
        )

    def append(
        self,
        name: str,
        df: DataFrame,
        meta: dict | None = None,
        expected_version: int | None = None,
        meta_merge: dict | None = None,
    ) -> int:
        """Append ONLY the new rows as a fresh part — O(batch) I/O: a
        one-entry flip of :meth:`rewrite_entry` that selects no part and
        unions ``df`` in.

        (With Delta this is a metadata-only append commit; the manifest
        gives plain parquet the same cost shape.) The part list REBASES
        inside the critical section, so concurrent appends interleave
        without lost parts. ``expected_version`` opts into the CAS check
        instead — for appends whose ROWS were derived from a snapshot
        (insert-if-absent, sequence-id assignment) and must be re-derived
        if another writer landed first. Every ``max_parts`` appends the
        parts fold into one (the fan-in bound of :meth:`rewrite_entry`);
        a fold that lost a race is re-derived and retried, so it can
        never swallow a concurrent writer's commit — unless the caller
        armed ``expected_version``, which makes any lost race its error.
        ``meta`` as in :meth:`commit`; ``meta_merge`` instead MERGES the
        given keys into the carried meta inside the critical section —
        an append that only advances its own watermark (e.g. the objects
        id high-water) must not clobber meta other machinery maintains
        (``clustered_parts``: wiping it silently degrades the next
        incremental ``optimize()`` into a full-table refold).
        """
        return self._flip_one(
            expected_version,
            lambda: self.rewrite_entry(
                name,
                None,
                [],
                lambda rows: rows.unionByName(df, allowMissingColumns=True),
                expected_version,
                _set_meta(meta, meta_merge),
            ),
        )

    def stage_part(self, name: str, df: DataFrame, version_hint: int) -> str:
        """Write ``df`` as an UNPUBLISHED part dir and return its path —
        the expensive half of an append (the Spark write job), split out
        so it can overlap other work; nothing references the part until
        :meth:`attach_part` flips it into the manifest. A crash between
        stage and attach leaves an invisible orphan dir that GC
        (:meth:`vacuum`) ages out (the same guarantee in-flight
        concurrent appends already rely on)."""
        return self._write_part(name, df, version_hint)

    def attach_part(
        self,
        name: str,
        path: str,
        expected_version: int | None = None,
        meta_merge: dict | None = None,
    ) -> int:
        """Publish a staged part: the manifest-flip half of an append —
        no Spark job, just the transactional pointer update (plus the
        bounded fold of :meth:`append` when the part list is full, which
        reads the staged rows and then deletes the staged dir). CAS
        semantics match :meth:`append`: on conflict the staged part is
        discarded and :class:`ConcurrentWriteError` raised.
        ``meta_merge`` as in :meth:`append`."""
        if len(self.live_parts(name)) >= self.max_parts:
            try:
                return self.append(
                    name,
                    self._df_for(name, [path]),
                    expected_version=expected_version,
                    meta_merge=meta_merge,
                )
            finally:
                shutil.rmtree(path, ignore_errors=True)

        def build(fresh, catalog):
            _check_version(name, fresh["version"], expected_version)
            meta = {**fresh.get("meta", {}), **(meta_merge or {})}
            return {"parts": fresh["parts"] + [path], "meta": meta}

        return self._flip([(name, build, path)])[name]["version"]

    def compact(self, name: str) -> int:
        """Fold all live parts into one (the OPTIMIZE analogue); no-op on
        an absent table. Retried on a lost race so compaction never
        swallows a concurrent writer's commit."""
        if not self.exists(name):
            return 0
        return self._retry(lambda: self.compact_parts(name, self.live_parts(name)))

    def live_parts(self, name: str) -> list[str]:
        """Current manifest's part paths (one manifest read, no Spark
        job) — what :meth:`compact_parts` callers select a rewrite
        subset from."""
        return list(self._state(name).get("parts", []))

    def parts_bytes(self, parts: list[str]) -> int:
        """On-disk bytes of the given part dirs (driver-side walk, no
        Spark job) — the :meth:`table_bytes` shape for a SUBSET, used to
        size an incremental compaction's output file count."""
        total = 0
        for part in parts:
            for dirpath, _, files in os.walk(part):
                for f in files:
                    try:
                        total += os.path.getsize(os.path.join(dirpath, f))
                    except OSError:
                        pass
        return total

    def compact_parts(self, name: str, parts: list[str], layout=None, meta_fn=None) -> int:
        """Rewrite ONLY ``parts`` into one new part, leaving every other
        live part's bytes untouched — the Delta/Iceberg OPTIMIZE-binpack
        commit shape, as a one-entry flip of :meth:`rewrite_entry`:
        commutes with concurrent APPENDS, refuses with
        :class:`ConcurrentWriteError` when one of ``parts`` was retired
        meanwhile. ``layout`` is an optional DataFrame->DataFrame
        reshaping applied before the rewrite (e.g. range-clustering by
        key); ``meta_fn(meta, new_parts, new_part)`` updates the carried
        meta in the same flip. Returns the new manifest version (0 when
        the table is absent or ``parts`` is empty)."""
        if not self.exists(name) or not parts:
            return 0
        entry = self.rewrite_entry(name, None, None, layout or (lambda df: df), None, meta_fn, parts)
        return self._flip([entry])[name]["version"]


class SqliteIndexStore(IndexStore):
    """Second backend proving the storage swap point: manifests live in
    a SQLite catalog instead of JSON files.

    Mirrors the reference's ``DbProvider`` pluggability
    (src/DedupeLibrary/Database/DbProvider.cs:10 — SQLite built in, the
    external test proves MySQL): the engine calls the same
    ``read/snapshot/rewrite_entry/_flip/table_meta`` contract and cannot tell
    the backends apart. Data parts stay immutable parquet dirs; only the
    STATE primitives differ — current/history manifests are rows in
    ``{root}/_manifest.db`` and the critical section is a
    ``BEGIN IMMEDIATE`` transaction, which also serializes writers
    across processes; its write lock is database-wide, so one
    transaction publishes every entry of a catalog flip at once (the
    ``current`` table is the catalog). Detection:
    :func:`open_store` picks this backend when the catalog file exists.
    """

    CATALOG = "_manifest.db"

    def __init__(self, spark: SparkSession, root: str):
        import threading
        from contextlib import closing

        super().__init__(spark, root)
        self._db_path = os.path.join(root, self.CATALOG)
        # the active transaction connection is THREAD-local: a flip on
        # one driver thread must not hand its connection to another
        self._tls = threading.local()
        with closing(self._conn()) as con:
            con.execute(
                "CREATE TABLE IF NOT EXISTS manifests ("
                " name TEXT NOT NULL, version INTEGER NOT NULL,"
                " state TEXT NOT NULL, PRIMARY KEY (name, version))"
            )
            con.execute(
                "CREATE TABLE IF NOT EXISTS current ("
                " name TEXT PRIMARY KEY, version INTEGER NOT NULL)"
            )

    def _conn(self):
        import sqlite3

        con = sqlite3.connect(self._db_path, timeout=30.0)
        con.isolation_level = None  # explicit transactions only
        return con

    # -- overridden state primitives ----------------------------------------

    @contextmanager
    def _transact(self):
        con = self._conn()
        try:
            # IMMEDIATE takes the write lock up front: the read-check-
            # write inside the critical section is atomic across
            # processes, the same guarantee flock gives the file backend
            con.execute("BEGIN IMMEDIATE")
            self._tls.txn = con
            try:
                yield
                con.execute("COMMIT")
            except BaseException:
                con.execute("ROLLBACK")
                raise
        finally:
            self._tls.txn = None
            con.close()

    def _q(self, sql: str, args=()):
        from contextlib import closing

        con = getattr(self._tls, "txn", None)
        if con is not None:
            return con.execute(sql, args).fetchall()
        with closing(self._conn()) as con:
            return con.execute(sql, args).fetchall()

    def _catalog(self) -> dict[str, int]:
        return dict(self._q("SELECT name, version FROM current"))

    def _state(self, name: str) -> dict:
        rows = self._q(
            "SELECT m.state FROM current c JOIN manifests m"
            " ON m.name = c.name AND m.version = c.version WHERE c.name = ?",
            (name,),
        )
        return json.loads(rows[0][0]) if rows else {"version": 0, "parts": []}

    def _state_version(self, name: str, version: int) -> dict | None:
        rows = self._q(
            "SELECT state FROM manifests WHERE name = ? AND version = ?",
            (name, version),
        )
        return json.loads(rows[0][0]) if rows else None

    def _write_states(self, states: dict[str, dict], catalog: dict[str, int]) -> None:
        # inside _transact: every statement commits atomically
        for name, state in states.items():
            self._q(
                "INSERT OR REPLACE INTO manifests (name, version, state) VALUES (?,?,?)",
                (name, state["version"], json.dumps(state)),
            )
            self._q(
                "INSERT OR REPLACE INTO current (name, version) VALUES (?,?)",
                (name, state["version"]),
            )
            self._q(
                "DELETE FROM manifests WHERE name = ? AND version < ?",
                (name, state["version"] - self.retain_versions),
            )

    def versions(self, name: str) -> list[int]:
        return [
            r[0]
            for r in self._q(
                "SELECT version FROM manifests WHERE name = ? ORDER BY version",
                (name,),
            )
        ]


def open_store(spark: SparkSession, root: str) -> IndexStore:
    """Backend autodetection: the SQLite catalog marks its indexes; the
    file-manifest layout is the default."""
    if os.path.exists(os.path.join(root, SqliteIndexStore.CATALOG)):
        return SqliteIndexStore(spark, root)
    return IndexStore(spark, root)

"""Per-layer metrics of the traced run, from the tracer's spans, Spark's
status stores and a few probes made from outside the program after the
measured loop.

Every workload reports every metric in :data:`PER_LAYER`; a layer the
workload does not exercise reads 0. Counts (jobs, flips) are those of the
verb's median call, bytes the median over its calls; every run with the
same seed makes the same calls on the same inputs.
"""

from __future__ import annotations

import time

import numpy as np

from statistics import median, median_low
from spans import FLIPS, SparkStatus, Tracer, attribute
from stats import stored_bytes_per_user_byte
from workloads import QUERY_SET, Result, du

VERBS = (
    "write_batch", "write_or_replace_batch", "delete_batch", "get", "exists",
    "get_range", "list_objects", "verify", "repair", "optimize",
)
IO_VERBS = ("write_batch", "delete_batch", "verify", "repair")
FLIP_VERBS = ("write_batch", "write_or_replace_batch", "delete_batch", "optimize", "repair")
TABLES = ("objects", "object_map", "chunks", "chunk_store")
TIMED_STORE = ("commit", "append", "stage_part", "attach_part", "update_meta")

#: (name, unit, better) of every per-layer metric
PER_LAYER: list[tuple[str, str, str]] = [
    ("session.start_s", "s", "lower"),
    ("session.warm_s", "s", "lower"),
    ("chunking.mb_s", "MB/s", "higher"),
    ("chunking.kernel_mb_s", "MB/s", "higher"),
    ("keys.sha256_share", "ratio", "lower"),
    ("chunking.forced_cut_share", "ratio", "lower"),
    ("chunking.chunks_per_mb", "1/MB", "lower"),
]
for _v in VERBS:
    PER_LAYER += [
        (f"engine.{_v}.jobs", "count", "lower"),
        (f"engine.{_v}.self_s", "s", "lower"),
        (f"engine.{_v}.skew", "ratio", "lower"),
    ]
for _v in IO_VERBS:
    PER_LAYER += [(f"engine.{_v}.scan_bytes", "B", "lower"), (f"engine.{_v}.shuffle_bytes", "B", "lower")]
PER_LAYER += [(f"store.flips.{_v}", "count", "lower") for _v in FLIP_VERBS]
PER_LAYER += [(f"store.{_m}_s", "s", "lower") for _m in TIMED_STORE]
PER_LAYER += [
    ("store.op_lock_wait_s", "s", "lower"),
    ("store.cas_retries", "count", "lower"),
    ("store.folds", "count", "lower"),
    ("store.fold_s", "s", "lower"),
    ("store.read_point_s", "s", "lower"),
    ("store.parts_kept_ratio", "ratio", "lower"),
    ("store.bytes_written_per_user_byte", "ratio", "lower"),
    ("store.stored_bytes_per_user_byte", "ratio", "lower"),
]
PER_LAYER += [(f"store.live_parts.{_t}", "count", "lower") for _t in TABLES]
PER_LAYER += [("bloom.build_s", "s", "lower"), ("bloom.fp_rate", "ratio", "lower")]
for _q in QUERY_SET:
    PER_LAYER += [
        (f"queries.{_q}.s", "s", "lower"),
        (f"queries.{_q}.jobs", "count", "lower"),
        (f"queries.{_q}.scan_bytes", "B", "lower"),
        (f"queries.{_q}.shuffle_bytes", "B", "lower"),
    ]
PER_LAYER.append(("trace.overhead_frac", "ratio", "lower"))

MB = 1e6
KERNEL_SAMPLE_BYTES = 4 << 20
FP_PROBES = 200


def _med(values: list[float]) -> float:
    return median(values) if values else 0.0


def _skew(status: SparkStatus, stage_ids: list[int]) -> list[float]:
    """max/median task time of each stage that ran at least two tasks."""
    out = []
    for sid in stage_ids:
        ts = status.stage(sid).task_s
        if len(ts) >= 2 and median(ts) > 0:
            out.append(max(ts) / median(ts))
    return out


def chunking_probe(ctx, result: Result) -> dict[str, float]:
    """The chunking and keying layers, timed from outside: the distributed
    chunker on one ingest frame, and the single-process kernel on a fixed
    sample of the workload's objects."""
    from watsondedupe_spark.chunking import SMALL_FILE_PROFILE, ChunkSettings, chunk_bytes, chunk_objects
    from watsondedupe_spark.keys import chunk_key

    out = {k: 0.0 for k in ("chunking.mb_s", "chunking.kernel_mb_s", "keys.sha256_share",
                            "chunking.forced_cut_share", "chunking.chunks_per_mb")}
    if result.ingest_frame is None:
        return out
    settings = ChunkSettings(*SMALL_FILE_PROFILE)
    frame_bytes = result.ingest_frame.selectExpr("sum(length(data))").collect()[0][0]
    t0 = time.perf_counter()
    chunk_objects(result.ingest_frame, settings).count()
    out["chunking.mb_s"] = frame_bytes / MB / (time.perf_counter() - t0)

    sample, size = [], 0
    for data in result.samples:
        sample.append(data)
        size += len(data)
        if size >= KERNEL_SAMPLE_BYTES:
            break
    t0 = time.perf_counter()
    chunks = [c for data in sample for c in chunk_bytes(data, settings)]
    kernel_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    for c in chunks:
        chunk_key(c.data)
    sha_s = time.perf_counter() - t0
    out["chunking.kernel_mb_s"] = size / MB / kernel_s
    out["keys.sha256_share"] = sha_s / kernel_s
    out["chunking.forced_cut_share"] = sum(c.length == settings.max_chunk_size for c in chunks) / len(chunks)
    out["chunking.chunks_per_mb"] = len(chunks) / (size / MB)
    return out


def store_metrics(ctx, result: Result) -> dict[str, float]:
    """Whole-store accounting and Bloom false positives, after the loop."""
    out = {f"store.live_parts.{t}": 0.0 for t in TABLES}
    out["store.stored_bytes_per_user_byte"] = 0.0
    out["store.bytes_written_per_user_byte"] = 0.0
    out["bloom.fp_rate"] = 0.0
    eng = result.engine
    if eng is None:
        return out
    live = {t: eng.store.table_bytes(t) for t in TABLES}
    out["store.stored_bytes_per_user_byte"] = stored_bytes_per_user_byte(live, result.model.logical_bytes)
    for t in TABLES:
        out[f"store.live_parts.{t}"] = float(len(eng.store.live_parts(t)))
    grown = du(eng.store.root) - result.store_bytes_before_loop
    out["store.bytes_written_per_user_byte"] = grown / result.inputs["bytes_written_in_loop"]
    # keys no object has: every part the Bloom sidecars keep is a false positive
    rng = np.random.default_rng(ctx.seed + 2)
    alphabet = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-_"))
    kept = total = 0
    n_live = len(eng.store.live_parts("chunk_store"))
    for _ in range(FP_PROBES):
        key = "".join(rng.choice(alphabet, 43))
        kept += len(eng.store.parts_for_keys("chunk_store", "chunk_key", [key]))
        total += n_live
    out["bloom.fp_rate"] = kept / total if total else 0.0
    return out


def traced_metrics(ctx, tracer: Tracer, result: Result) -> dict[str, float]:
    status = SparkStatus(ctx.spark)
    status.drain()
    ops = tracer.ops()
    jobs = status.jobs()
    job_owner = attribute(ops, [j.submitted for j in jobs])
    scans = status.scans()
    scan_owner = attribute(ops, [t for t, _ in scans])
    op_jobs: dict[int, list] = {}
    for j, owner in zip(jobs, job_owner):
        if owner is not None:
            op_jobs.setdefault(owner, []).append(j)
    op_scan: dict[int, float] = {}
    for (_, size), owner in zip(scans, scan_owner):
        if owner is not None:
            op_scan[owner] = op_scan.get(owner, 0.0) + size

    m: dict[str, float] = {
        "session.start_s": ctx.marks["session"],
        "session.warm_s": ctx.marks["warm"] - ctx.marks["session"],
    }

    def by_verb(name: str) -> list[int]:
        return [i for i, op in enumerate(ops) if op.name == name]

    def stages(i: int) -> list[int]:
        return [s for j in op_jobs.get(i, []) for s in j.stages]

    def count(name: str, per_op) -> float:
        """The median call's count: ``take()`` scans partitions
        incrementally, so one call in a few may run an extra job when
        the file listing puts its row in a later partition."""
        idx = by_verb(name)
        return float(median_low([per_op(i) for i in idx])) if idx else 0.0

    def io(name: str) -> tuple[float, float]:
        idx = by_verb(name)
        shuffle = [sum(status.stage(s).shuffle_write for s in stages(i)) for i in idx]
        return _med([op_scan.get(i, 0.0) for i in idx]), float(_med(shuffle))

    flip_names = {f"store.{x}" for x in FLIPS}
    for verb in VERBS:
        idx = by_verb(verb)
        m[f"engine.{verb}.jobs"] = count(verb, lambda i: len(op_jobs.get(i, [])))
        m[f"engine.{verb}.self_s"] = _med([tracer.self_s(ops[i]) for i in idx])
        m[f"engine.{verb}.skew"] = _med([r for i in idx for r in _skew(status, stages(i))])
    for verb in IO_VERBS:
        m[f"engine.{verb}.scan_bytes"], m[f"engine.{verb}.shuffle_bytes"] = io(verb)
    for verb in FLIP_VERBS:
        m[f"store.flips.{verb}"] = count(
            verb, lambda i: sum(c.name in flip_names for c in tracer.children(ops[i]))
        )

    children = [c for op in ops for c in tracer.children(op)]

    def spans(name: str):
        return [c for c in children if c.name == name]

    for meth in TIMED_STORE:
        m[f"store.{meth}_s"] = _med([c.end - c.start for c in spans(f"store.{meth}")])
    m["store.op_lock_wait_s"] = sum(c.end - c.start for c in spans("store.op_lock_wait"))
    m["store.cas_retries"] = float(sum(
        c.extra.get("raised") == "ConcurrentWriteError"
        for c in children if c.name in flip_names
    ))
    folds = [c for c in spans("store.append") if c.extra.get("fold")]
    m["store.folds"] = float(len(folds))
    m["store.fold_s"] = sum(c.end - c.start for c in folds)
    reads = spans("store.read_point")
    m["store.read_point_s"] = _med([c.end - c.start for c in reads])
    live = sum(c.extra.get("parts", (0, 0))[1] for c in reads)
    m["store.parts_kept_ratio"] = sum(c.extra.get("parts", (0, 0))[0] for c in reads) / live if live else 0.0
    m["bloom.build_s"] = _med([c.end - c.start for c in spans("bloom.build_arrow")])

    for q in QUERY_SET:
        m[f"queries.{q}.s"] = _med(ctx.ledger.samples.get(q, []))
        m[f"queries.{q}.jobs"] = count(q, lambda i: len(op_jobs.get(i, [])))
        m[f"queries.{q}.scan_bytes"], m[f"queries.{q}.shuffle_bytes"] = io(q)
    m["trace.overhead_frac"] = tracer.overhead / sum(op.end - op.start for op in ops)
    return m

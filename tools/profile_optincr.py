"""Phase profiler for the engine_optimize_incremental scale row.

Replicates bench.bench_engine_optimize_incr at an arbitrary staged dir
with per-phase timers inside the store commit machinery, so the
incr/full fraction's floor components are visible (which table's fold
dominates, and within it: read+write job vs bloom vs footer stats vs
the one catalog flip that publishes every table's fold).

Usage: python tools/profile_optincr.py [SF_DIR] [--reps N]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/wds_scale30x_e956e9a1"
    reps = 1
    if "--reps" in sys.argv:
        reps = int(sys.argv[sys.argv.index("--reps") + 1])

    import shutil
    import tempfile
    import threading

    from pyspark.sql import functions as F

    from watsondedupe_spark.chunking import ChunkSettings, SMALL_FILE_PROFILE
    from watsondedupe_spark.engine import DedupeEngine
    from watsondedupe_spark.session import get_spark
    from watsondedupe_spark import store as store_mod

    spark = get_spark("wds-profile-optincr")
    spark.sparkContext.setLogLevel("ERROR")

    # -- instrument the store commit machinery ----------------------------
    events: list[tuple] = []
    lock = threading.Lock()

    def timed(cls, meth):
        orig = getattr(cls, meth)

        def wrap(self, *a, **kw):
            t0 = time.time()
            try:
                return orig(self, *a, **kw)
            finally:
                arg0 = a[0] if a else ""
                detail = str(arg0)[:60]
                if meth == "_flip":
                    detail = ",".join(e[0] for e in arg0 if e)
                parts = (a[6] if len(a) > 6 else kw.get("parts")) or []
                if meth == "rewrite_entry" and parts:
                    try:
                        nb = sum(
                            os.path.getsize(os.path.join(dp, f))
                            for p in parts
                            for dp, _, fs in os.walk(p)
                            for f in fs
                        )
                        detail = f"{arg0} n_parts={len(parts)} mb={nb/1e6:.1f}"
                    except Exception:
                        pass
                with lock:
                    events.append((meth, detail, round(time.time() - t0, 3)))

        setattr(cls, meth, wrap)
        return orig

    for m in ("rewrite_entry", "_write_part", "_write_bloom", "_part_stats",
              "parts_bytes", "_flip", "vacuum"):
        timed(store_mod.IndexStore, m)

    spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    spark.range(64).mapInPandas(lambda it: it, schema="id long").count()

    objs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            F.col("doc_id").cast("long").alias("_id"),
            F.col("doc_id").cast("string").alias("object_key"),
            F.encode(F.repeat("text", 20), "UTF-8").alias("data"),
        )
    )
    main_df = objs.filter(F.col("_id") % 16 != 0).select("object_key", "data")
    small = objs.filter(F.col("_id") % 16 == 0).select("object_key", "data")

    for rep in range(reps):
        root = tempfile.mkdtemp(prefix="prof_optincr_")
        try:
            eng = DedupeEngine.create(
                spark, os.path.join(root, "idx"), ChunkSettings(*SMALL_FILE_PROFILE)
            )
            t0 = time.time()
            eng.write_batch(main_df)
            wb_sec = time.time() - t0
            eng.OPTIMIZE_TARGET_FILE_BYTES = 8 << 20
            events.clear()
            t0 = time.time()
            eng.optimize()
            full_sec = time.time() - t0
            full_events = list(events)
            events.clear()
            t0 = time.time()
            eng.write_batch(small)
            wb2_sec = time.time() - t0
            events.clear()
            t0 = time.time()
            eng.optimize(incremental=True)
            incr_sec = time.time() - t0
            incr_events = list(events)
            events.clear()
            t0 = time.time()
            eng.optimize(incremental=True)
            noop_sec = time.time() - t0
            noop_events = list(events)
            print(f"\n== rep {rep}: write_batch={wb_sec:.2f} full={full_sec:.2f} "
                  f"append={wb2_sec:.2f} incr={incr_sec:.2f} noop={noop_sec:.2f} "
                  f"frac={incr_sec/full_sec:.3f}")
            for tag, evs in (("FULL", full_events), ("INCR", incr_events),
                             ("NOOP", noop_events)):
                print(f"-- {tag}:")
                for meth, arg, sec in evs:
                    if sec >= 0.005:
                        print(f"   {meth:14s} {sec:7.3f}  {arg}")
        finally:
            shutil.rmtree(root, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

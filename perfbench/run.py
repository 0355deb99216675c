"""Benchmark of the watsondedupe_spark dedupe engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout that holds the ``watsondedupe_spark``
package. One process, one closed-loop client, Spark on
``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process may use).
The run starts a session, sets the workload up, measures its loop for
``--seconds``, checks every result against a model, and prints as its
last stdout line one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it carries the
workload's measured input properties and sample counts. A traced run
also writes its spans to ``perfbench/.out/``.

Everything the run writes stays under ``perfbench/.work/`` (removed at
exit) and ``perfbench/.out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time
from statistics import median

from stats import percentile, tail_percentile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("churn", "dedupe_queries")

#: (name, unit, better) of every end-to-end metric
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("p50_geomean_ms", "ms", "lower"),
    ("calls_per_s", "1/s", "higher"),
)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort, never leave it running
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def latency_summary(ctx, verbs) -> dict[str, dict]:
    """Per-verb sample count, median and the highest percentile with at
    least ten samples beyond it (absent when there are too few)."""
    out = {}
    for verb in verbs:
        s = ctx.ledger.samples.get(verb, [])
        if not s:
            continue
        out[verb] = {"n": len(s), "p50_s": median(s)}
        p = tail_percentile(len(s))
        if p is not None and p > 50:
            out[verb][f"p{p:g}_s"] = percentile(s, p)
    return out


def end_to_end(ctx, result) -> dict[str, float]:
    """The median of each call type is steady even when the loop mixes
    call types whose latencies differ tenfold; their geometric mean
    weighs a change to any call type by its relative size."""
    per_verb = [ctx.ledger.samples[v] for v in result.loop_verbs if ctx.ledger.samples.get(v)]
    calls = [s for samples in per_verb for s in samples]
    return {
        "setup_s": ctx.marks["setup"],
        "p50_geomean_ms": math.exp(sum(math.log(median(s)) for s in per_verb) / len(per_verb)) * 1000.0,
        "calls_per_s": len(calls) / sum(calls),
    }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "watsondedupe_spark")):
        print(f"no watsondedupe_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work)
    t_start = time.perf_counter()
    try:
        from watsondedupe_spark import bloom
        from watsondedupe_spark.session import get_spark
        from watsondedupe_spark.store import IndexStore

        import layers
        import workloads
        from spans import Tracer
    except ImportError as exc:
        print(f"cannot import the program: {exc}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    spark = None
    try:
        spark = get_spark(
            "perfbench",
            extra_conf={
                # JVM temp files go under the run's directory; no hsperfdata file in /tmp
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        ctx = workloads.Context(
            spark=spark, work=work, seed=args.seed, seconds=args.seconds,
            tracer=Tracer() if args.trace else None, t_start=t_start,
        )
        ctx.mark("session")
        if args.trace:
            ctx.tracer.install(IndexStore, bloom)
        result = workloads.WORKLOADS[args.workload](ctx)
        if args.trace:
            ctx.tracer.close()
            metrics = layers.traced_metrics(ctx, ctx.tracer, result)
            metrics.update(layers.store_metrics(ctx, result))
            metrics.update(layers.chunking_probe(ctx, result))
            units = {n: u for n, u, _ in layers.PER_LAYER}
            _write_spans(ctx.tracer, args)
        else:
            metrics = end_to_end(ctx, result)
            units = {n: u for n, u, _ in END_TO_END}
        ledger = ctx.ledger
        print(json.dumps({
            "workload": args.workload,
            "inputs": result.inputs,
            "latency": latency_summary(ctx, sorted(ledger.samples)),
            "failures": ledger.failures[:20],
            "setup_marks": ctx.marks,
        }))
        out = {
            "correct": ledger.failed == 0,
            "attempted": ledger.attempted,
            "failed": ledger.failed,
            "metrics": {n: {"value": float(metrics[n]), "unit": units[n]} for n in units},
        }
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return 0


def _write_spans(tracer, args) -> None:
    out_dir = os.path.join(HERE, ".out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl")
    with open(path, "w") as f:
        for i, s in enumerate(tracer.spans):
            f.write(json.dumps({
                "id": i, "name": s.name, "start": s.start, "end": s.end,
                "parent": s.parent, "op": s.op if s.op is not None else s.parent,
            }) + "\n")


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

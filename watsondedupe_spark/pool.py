"""The package's one driver-thread pool, for Spark jobs that overlap
each other or the caller's next phase: the engine's overlapped table
stages and the queries that run independent collects side by side."""

from __future__ import annotations

from contextlib import contextmanager


@contextmanager
def fix_pool(workers: int = 2):
    """``(submit, fixes)`` of a pool of ``workers`` driver threads.
    ``submit(fn, *args)`` runs ``fn`` on a pool thread that inherits the caller's Spark local
    properties as they are at submission
    (``pyspark.util.inheritable_thread_target``), so its jobs land in
    the caller's job group and ``cancelJobGroup`` reaches them; the
    future is appended to ``fixes`` and returned. On exit EVERY future
    in ``fixes`` is joined and the first failure (in submission order)
    re-raised — also when the body itself raised, in which case the
    fix's error carries the body's as ``__context__`` and neither is
    lost (a bare pool exit joins the threads but drops their
    exceptions). Further fix failures ride along as notes."""
    from concurrent import futures

    from pyspark.sql import SparkSession
    from pyspark.util import inheritable_thread_target

    session = SparkSession.active()
    fixes: list = []
    with futures.ThreadPoolExecutor(max_workers=workers) as pool:

        def submit(fn, *args, **kwargs):
            target = inheritable_thread_target(session)(fn)
            fixes.append(pool.submit(target, *args, **kwargs))
            return fixes[-1]

        try:
            yield submit, fixes
        finally:
            failure = None
            for f in fixes:
                try:
                    f.result()
                except Exception as e:  # noqa: BLE001 — re-raised below
                    if failure is None:
                        failure = e
                    else:
                        failure.add_note(f"another overlapped fix also failed: {e!r}")
            if failure is not None:
                raise failure

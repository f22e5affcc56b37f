"""The engine's one table-sink loop: a phase's tables written as
concurrent Spark jobs.

The tables an ETL phase writes are independent: each write reads only
its own inputs (the phase's persisted relation, or files an earlier
phase wrote), and no write reads another's output.  Written one after
another, a phase of small tables costs its job count times the per-job
floor (planning, job submission, the gap between jobs) and leaves most
cores idle, since a small table's write runs one to three tasks.
Spark runs jobs submitted from separate threads side by side, under
the session's scheduler mode (FIFO), so ``write_tables`` submits every
table's write at once, one thread per table.

The threads are ``pyspark.InheritableThread``s: in pinned-thread mode
each Python thread drives its own JVM thread, and only
``InheritableThread`` copies the caller's local properties (job group,
job description, scheduler pool) to it, so the writes stay attributed
to the caller's job group.

A relation several writes read is computed once: its persisted blocks
are guarded by the block manager's write lock, so a task that needs a
block another job is computing waits for it instead of recomputing it.
Over a persisted relation no job has computed yet, each adaptive plan
with an exchange submits a job of its own to materialize it, so such a
phase runs more jobs than it would one table at a time; the blocks are
still computed once.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark import InheritableThread
from pyspark.sql import DataFrame


def write_tables(
    tables: dict[str, DataFrame], write: Callable[[str, DataFrame], None]
) -> None:
    """Run ``write(name, df)`` for every table of ``tables``, each in a
    thread of its own, so their Spark jobs are submitted together.

    Every write runs to its end, whether or not another one failed;
    then the threads are joined, and the first error raised (in time)
    is re-raised in the caller.  No thread outlives the call."""
    errors: list[BaseException] = []

    def run(name: str, df: DataFrame) -> None:
        try:
            write(name, df)
        except BaseException as e:  # re-raised in the caller
            errors.append(e)

    threads = [
        InheritableThread(run, args=(name, df), name=f"write-{name}")
        for name, df in tables.items()
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]

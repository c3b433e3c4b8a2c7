"""The one timing protocol for bench.py and the timing tools.

``measure(run)`` times a zero-argument callable after a warm-up run whose
reading decides how many more runs to take:

- warm-up >= 60 s: the warm-up is the reading (a second run would cost a
  minute and the plan's own cold costs are noise at that size);
- 10-60 s: the min of the warm-up and one more run (a single reading still
  carries the plan's own cold costs — whole-stage codegen for this shape,
  first touch of its input files — and the min is the steady-state
  estimate when one sample is cold-biased);
- 2-10 s: the median of 3 further runs;
- < 2 s: the median of 5 further runs.

``before`` runs outside the timer before every run, the warm-up included;
the Spark callers pass ``release_checkpoint_blocks`` there.
"""

from __future__ import annotations

from statistics import median
from time import perf_counter
from typing import Callable


def measure(run: Callable[[], object], *, before: Callable[[], object] | None = None) -> float:
    """Seconds one call of ``run`` takes, by the protocol above."""

    def once() -> float:
        if before is not None:
            before()
        t0 = perf_counter()
        run()
        return perf_counter() - t0

    warm = once()
    if warm >= 60:
        return warm
    if warm >= 10:
        return min(warm, once())
    return median(once() for _ in range(3 if warm >= 2 else 5))


def release_checkpoint_blocks(spark) -> None:
    """Unpersist every persistent RDD of ``spark``'s context.

    Ops that eagerly ``localCheckpoint`` a bounded intermediate leave
    executor blocks that outlive the run's Python handles (the JVM-side
    release is asynchronous and GC-driven), so a long timing session
    accumulates earlier queries' dead blocks and later queries read slower
    under block-manager pressure: five checkpoint-adjacent ops late in an
    sf0.1 bench run read 1.5-2.9x their fresh-session medians, with
    identical code and inputs.  This releases state only; it belongs
    outside every timer, and every timed run still recomputes from its
    inputs.
    """
    try:
        for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist(True)
    except Exception:
        pass  # measurement hygiene must never fail a timing run

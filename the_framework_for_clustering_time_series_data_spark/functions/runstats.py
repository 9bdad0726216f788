"""The measurement protocol every registry runner shares: one timed
noop-write action, then one untimed release of what the run left in
the session (bench.py, tools/scale_sweep.py, tools/sweep_registry.py,
the coarse and vanilla-parity tools, and the oracle-parity suite)."""

from __future__ import annotations

import gc
import time


def noop_write(df) -> None:
    """The timed action: a NOOP WRITE, not ``count()`` and not
    ``collect()``. count() lets Catalyst PRUNE cardinality-preserving
    expression work — Window/projection stages vanish from the counted
    plan (round-7 adjudication: ts_interpolate_linear "ran" in 0.3 s
    under count while full evaluation was 2-36 s) — and collect() adds
    1M-row py4j serialization that no 100-TB pipeline pays (they write
    to storage). The noop sink evaluates every output column and
    discards rows executor-side: the honest engine cost. BASELINE.md
    re-bases all round-7+ numbers on this."""
    df.write.format("noop").mode("overwrite").save()


def release(spark) -> int:
    """Return the session to its pre-run state: drop catalog-cached
    frames, collect Python garbage (DataFrame/Column wrappers sit in
    reference cycles whose py4j refs keep JVM plans and broadcasts
    alive), then unpersist every RDD still registered — the
    ``localCheckpoint`` blocks of ``stage_checkpoint``, which neither
    ``clearCache()`` nor any GC frees. Returns how many it unpersisted."""
    spark.catalog.clearCache()
    gc.collect()
    n = 0
    it = spark.sparkContext._jsc.getPersistentRDDs().entrySet().iterator()
    while it.hasNext():
        it.next().getValue().unpersist(True)
        n += 1
    return n


def timed(spark, build) -> tuple[float, int]:
    """Time ``noop_write(build())`` — building the frame is inside the
    timed region — then :func:`release` outside it. Returns (seconds,
    RDDs released)."""
    t0 = time.perf_counter()
    noop_write(build())
    dt = time.perf_counter() - t0
    return dt, release(spark)

"""Full-registry perf sweep: time EVERY registered query once at a
given sf dir (default sf0.1), one pass per query with cache clears so
each plan pays its own codegen — the whole-surface perf record the
48-query curated bench headline cannot give (BASELINE.md sweep
sections).

Writes one JSON object to SWEEP.json (never BENCH_FULL.json — that
file is the bench CLI's and gets overwritten by any bench run) and
prints a compact summary: total, errors, 15 slowest.

Every run is ``functions.runstats.timed`` — a timed noop write, then an
untimed release (clearCache, gc.collect, unpersist of leftover
localCheckpoint blocks) — the hygiene a long-lived query server would
apply. JVM health (code cache, metaspace, GC time, loaded classes,
heap) is sampled to stderr at start, every JVM_EVERY queries and at
the end: the record that adjudicates late-sweep inflation (query
COUNT / JVM state vs data size).

Usage: python tools/sweep_registry.py [--sf-dir DIR] [--out FILE]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from functools import partial
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

#: queries between two JVM health samples
JVM_EVERY = 20


def jvm_stats(spark) -> str:
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    parts = []
    it = mf.getMemoryPoolMXBeans().iterator()
    while it.hasNext():
        p = it.next()
        name = p.getName()
        if "CodeHeap" in name or "Code Cache" in name or "Metaspace" in name:
            u = p.getUsage()
            parts.append(
                f"{name}={u.getUsed() // (1024 * 1024)}/"
                f"{max(u.getMax(), 0) // (1024 * 1024)}MB"
            )
    gct = 0
    it = mf.getGarbageCollectorMXBeans().iterator()
    while it.hasNext():
        gct += it.next().getCollectionTime()
    cl = mf.getClassLoadingMXBean()
    heap = mf.getMemoryMXBean().getHeapMemoryUsage()
    parts.append(f"gc_ms={gct}")
    parts.append(f"classes={cl.getLoadedClassCount()}")
    parts.append(f"heap={heap.getUsed() // (1024 * 1024)}MB")
    return " ".join(parts)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="SWEEP.json")
    args = ap.parse_args()

    # Use the SAME session factory as bench.py — a hand-rolled builder
    # here left spark.driver.memory at the 1 GiB default, and across
    # ~260 queries in one local-mode JVM the resulting GC pressure
    # inflated window-heavy queries 30-100x (ts_interpolate_linear
    # 38.6 s in-sweep vs 0.3 s isolated under get_spark's 8g heap).
    from the_framework_for_clustering_time_series_data_spark.functions.runstats import release, timed
    from the_framework_for_clustering_time_series_data_spark.session import get_spark

    spark = get_spark("the_framework_for_clustering_time_series_data_spark-sweep")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    names = sorted(queries)
    print(f"[start] {jvm_stats(spark)}", file=sys.stderr)
    # untimed JVM/parquet-footer warm-up so the alphabetically-first
    # query does not absorb session startup (a1_value_stats read 5.8 s
    # in the r7 sweep vs ~1 s steady)
    timed(spark, partial(queries[names[0]], spark, args.sf_dir))
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    t_all = time.perf_counter()
    for i, name in enumerate(names):
        try:
            timings[name] = round(timed(spark, partial(queries[name], spark, args.sf_dir))[0], 3)
        except Exception as ex:  # record, keep sweeping
            errors[name] = f"{type(ex).__name__}: {ex}"[:200]
            release(spark)
        print(
            f"[{i + 1}/{len(queries)}] {name}: "
            f"{timings.get(name, 'ERR')}s",
            file=sys.stderr,
        )
        if (i + 1) % JVM_EVERY == 0:
            print(f"[jvm @{i + 1}] {jvm_stats(spark)}", file=sys.stderr)
    total = round(time.perf_counter() - t_all, 1)
    print(f"[end] {jvm_stats(spark)}", file=sys.stderr)
    record = {
        "metric": "full_registry_sweep",
        "n_queries": len(queries),
        "n_errors": len(errors),
        "total_sec": total,
        "sf_dir": args.sf_dir,
        "timings": timings,
        "errors": errors,
    }
    Path(args.out).write_text(json.dumps(record, indent=1))
    slow = sorted(timings.items(), key=lambda kv: -kv[1])[:15]
    print(
        json.dumps(
            {
                "n": len(queries),
                "errors": len(errors),
                "total_sec": total,
                "slowest15": dict(slow),
            }
        )
    )


if __name__ == "__main__":
    main()

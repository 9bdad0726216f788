"""Vanilla-session parity check (round-8 verdict ask #6): the local
parity suite runs on ``session.get_spark`` (which pins semantic configs
— parquet nanosAsLong, UTC timezone), while the DRIVER runs registry
entries on a VANILLA SparkSession. This tool closes the exposure gap
in-repo: it builds a vanilla session (builder defaults only, exactly
like the driver), runs a CORE of events.ts-consuming entries — one
oracle-backed consumer per plans module, auto-discovered so new
modules are covered without editing this file — plus seeded-rotating
extras from the whole oracle registry, and compares each against its
DuckDB oracle at sf0.01.

The events.ts column is parquet TIMESTAMP(NANOS): a vanilla session
rejects it unless sources/tables.py's defensive per-read conf works,
which is precisely what this tool exercises.

Usage: python tools/vanilla_parity.py [--sf-dir DIR] [--n N] [--seed S]
Prints one JSON line:
{"ok": bool, "n": N, "core": [...], "rotating": [...],
 "mismatches": [...], "sf_dir": ..., "seed": ...}

tests/test_vanilla_parity.py runs this in a subprocess (fresh JVM, no
inherited session) so the gap stays covered at HEAD; per-round runs
are recorded in BASELINE.md.
"""

from __future__ import annotations

import argparse
import hashlib
import inspect
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

# canonicalization + view setup shared with tests/test_oracle_parity.py
# — ONE definition of "same result" (functions/parity.py)
from the_framework_for_clustering_time_series_data_spark.functions.parity import canon, duck_connect  # noqa: E402


def pick_entries(n: int, seed: str) -> tuple[list[str], list[str]]:
    """CORE: per plans module with an events consumer, the first
    (sorted) oracle entry whose source reads the events table.
    ROTATING: n - |core| further oracle entries ordered by
    md5(seed:name) — a different slice each seed, deterministic
    within one."""
    from the_framework_for_clustering_time_series_data_spark.plans.registry import ORACLE, QUERIES

    by_module: dict[str, list[str]] = {}
    for name in sorted(ORACLE):
        fn = QUERIES[name]
        try:
            src = inspect.getsource(fn)
        except OSError:
            src = ""
        if '"events"' in src or "'events'" in src:
            by_module.setdefault(fn.__module__, []).append(name)
    core = [names[0] for _, names in sorted(by_module.items())]
    rest = [x for x in sorted(ORACLE) if x not in core]
    rest.sort(key=lambda x: hashlib.md5(f"{seed}:{x}".encode()).hexdigest())
    return core, rest[: max(0, n - len(core))]


def run_twin_bounds_vanilla() -> None:
    """Round-9 verdict ask #8 (the round-8 optional): exercise EVERY
    rows-only query's twin-bound guarantee on a VANILLA session —
    tests/test_twin_bounds.py (plus the rows-only smoke suite inside
    it) re-run in a subprocess with SPARK_GRAFT_VANILLA=1, which makes
    conftest's session fixture build the driver-shaped builder-default
    session. One pass covers all 21+ rows-only entries per round — no
    rotation needed. Prints the pytest tail and exits with its rc."""
    import os
    import subprocess

    env = dict(os.environ, SPARK_GRAFT_VANILLA="1")
    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "pytest",
            "tests/test_twin_bounds.py",
            "-q",
            "--no-header",
        ],
        cwd=str(Path(__file__).resolve().parents[1]),
        env=env,
        capture_output=True,
        text=True,
    )
    tail = "\n".join((proc.stdout + proc.stderr).splitlines()[-12:])
    print(tail, file=sys.stderr)
    print(
        json.dumps(
            {"ok": proc.returncode == 0, "mode": "twin-bounds-vanilla", "rc": proc.returncode}
        )
    )
    sys.exit(proc.returncode)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--n", type=int, default=14)
    ap.add_argument("--seed", default="r8")
    ap.add_argument(
        "--twin-bounds",
        action="store_true",
        help="run the whole twin-bounds suite on a vanilla session instead",
    )
    args = ap.parse_args()

    if args.twin_bounds:
        run_twin_bounds_vanilla()
        return

    core, rotating = pick_entries(args.n, args.seed)

    from pyspark.sql import SparkSession

    # vanilla: builder defaults only — the driver's session shape
    spark = SparkSession.builder.master("local[8]").config(
        "spark.ui.enabled", "false"
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    con = duck_connect(args.sf_dir)

    from the_framework_for_clustering_time_series_data_spark.functions.runstats import release
    from the_framework_for_clustering_time_series_data_spark.plans.registry import ORACLE, QUERIES

    mismatches: list[str] = []
    for name in core + rotating:
        ok = True
        try:
            df = QUERIES[name](spark, args.sf_dir)
            cols = df.columns
            s = canon(cols, [tuple(r) for r in df.collect()])
            res = con.execute(ORACLE[name])
            d = canon([c[0] for c in res.description], res.fetchall())
            if s != d:
                ok = False
                mismatches.append(name)
        except Exception as e:  # a vanilla-session crash IS the finding
            ok = False
            mismatches.append(f"{name}: {type(e).__name__}: {e}")
        release(spark)
        print(f"# {name}: {'ok' if ok else 'FAIL'}", file=sys.stderr)

    print(
        json.dumps(
            {
                "ok": not mismatches,
                "n": len(core) + len(rotating),
                "core": core,
                "rotating": rotating,
                "mismatches": mismatches,
                "sf_dir": args.sf_dir,
                "seed": args.seed,
            }
        )
    )
    sys.exit(0 if not mismatches else 1)


if __name__ == "__main__":
    main()

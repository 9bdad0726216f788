"""Scale-validation sweep (round-9 verdict ask #1): measure each
query at sf0.1 AND sf1 (the tools/gen_sf1.py 10x decade) back-to-back
in ONE idle session, and record the per-query scaling ratio — the
measured exponent that converts "the plan looks linear" into evidence.

Reading the ratio: data grows 10x, so

- ratio ~<= 10 — at-or-below-linear (fixed per-job scheduling
  constants amortize, so most healthy queries land well UNDER 10x
  at these absolute sizes);
- ratio >> 10 — superlinear: either a documented bounded-corpus /
  inherently-quadratic kernel (exact pairwise silhouette, brute-force
  kNN: the CANDIDATE SET grows 10x on both sides) or a real plan
  hazard — each one gets a named adjudication in BASELINE.md.

Protocol per query, each run through ``functions.runstats.timed`` (a
timed noop write, then an untimed release): one untimed sf0.1 warm
run (codegen), one timed sf0.1 steady run, one timed sf1 first run
(absorbs the sf1 footer/listing costs, reported as t1_cold), one
timed sf1 steady run (the ratio numerator). Queries whose sf1 first
run exceeds --sf1-budget seconds skip the steady rerun (ratio uses
the cold run, flagged) so one pathological query cannot eat the sweep.

Usage: python tools/scale_sweep.py [--queries a,b | --set headline+slow15]
       [--sf1-dir /root/repo/testdata_sf1] [--out SCALE_SF1.json]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from functools import partial
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF01 = "/root/testdata/sf0.1"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf1-dir", default=str(REPO / "testdata_sf1"))
    ap.add_argument(
        "--base-dir",
        default=SF01,
        help="denominator dir (default sf0.1); pass testdata_sf1 with "
        "--sf1-dir testdata_sf10 to measure the SECOND decade",
    )
    ap.add_argument("--out", default=str(REPO / "SCALE_SF1.json"))
    ap.add_argument("--queries", default=None, help="comma list; overrides --set")
    ap.add_argument("--set", default="headline+slow15", dest="qset")
    ap.add_argument("--sf1-budget", type=float, default=180.0)
    args = ap.parse_args()

    from bench import HEADLINE
    from the_framework_for_clustering_time_series_data_spark.functions.runstats import timed
    from the_framework_for_clustering_time_series_data_spark.plans.registry import QUERIES
    from the_framework_for_clustering_time_series_data_spark.session import get_spark

    if args.queries:
        names = args.queries.split(",")
    else:
        names = [n for n in HEADLINE if n in QUERIES]
        if "slow15" in args.qset:
            sweep = json.loads((REPO / "SWEEP.json").read_text())
            slow = [
                n
                for n, _ in sorted(
                    sweep["timings"].items(), key=lambda kv: -kv[1]
                )[:15]
            ]
            names += [n for n in slow if n not in names]
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    from the_framework_for_clustering_time_series_data_spark.preflight import memory_preflight

    # abort BEFORE Spark starts when the heap can't hold the decade —
    # an under-heaped sweep dies mid-loop as a silent JVM abort and
    # loses every row (sweep JSONs are written at loop end)
    memory_preflight([args.base_dir, args.sf1_dir], label="scale sweep")

    spark = get_spark("the_framework_for_clustering_time_series_data_spark-scale-sweep")
    spark.sparkContext.setLogLevel("ERROR")

    def evaluate(name: str, sf_dir: str) -> float:
        return timed(spark, partial(QUERIES[name], spark, sf_dir))[0]

    base = args.base_dir
    # untimed warm-up (JVM + parquet footers for both dirs)
    evaluate(names[0], base)
    evaluate(names[0], args.sf1_dir)

    rows: dict[str, dict] = {}
    errors: dict[str, str] = {}
    t_all = time.perf_counter()
    for i, name in enumerate(names):
        try:
            evaluate(name, base)  # codegen warm (untimed)
            t01 = evaluate(name, base)
            t1_cold = evaluate(name, args.sf1_dir)
            if t1_cold <= args.sf1_budget:
                t1 = evaluate(name, args.sf1_dir)
                over_budget = False
            else:
                t1 = t1_cold
                over_budget = True
            rows[name] = {
                "t01": round(t01, 3),
                "t1_cold": round(t1_cold, 3),
                "t1": round(t1, 3),
                "ratio": round(t1 / t01, 2) if t01 > 0 else None,
                "over_budget": over_budget,
            }
            print(
                f"[{i + 1}/{len(names)}] {name}: base {t01:.2f}s -> target "
                f"{t1:.2f}s  ratio {rows[name]['ratio']}"
                + (" OVER-BUDGET(cold)" if over_budget else ""),
                file=sys.stderr,
            )
        except Exception as ex:  # record, keep sweeping
            errors[name] = f"{type(ex).__name__}: {ex}"[:300]
            print(f"[{i + 1}/{len(names)}] {name}: ERR {errors[name][:80]}", file=sys.stderr)

    record = {
        # derive the label from the actual dirs — a hardcoded name
        # mislabeled the sf1->sf10 record (review finding)
        "metric": (
            f"scale_sweep_{Path(base).name}_to_{Path(args.sf1_dir).name}"
        ),
        "base_dir": base,
        "n_queries": len(names),
        "n_errors": len(errors),
        "total_sec": round(time.perf_counter() - t_all, 1),
        "sf1_dir": args.sf1_dir,
        "rows": rows,
        "errors": errors,
    }
    Path(args.out).write_text(json.dumps(record, indent=1))
    worst = sorted(
        ((n, r["ratio"]) for n, r in rows.items() if r["ratio"]),
        key=lambda kv: -kv[1],
    )[:12]
    print(json.dumps({"n": len(rows), "errors": len(errors), "worst_ratios": worst}))


if __name__ == "__main__":
    main()

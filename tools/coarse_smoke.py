"""1M-vector two-level SemDeDup measurement (round-11 verdict ask #5):
time semantic_dedup_coarse (coarse-routed assignment, kc=ceil(sqrt(k)))
against flat semantic_dedup_prod on the SAME 1M-vector planted-twin
corpus, and record twin-recall parity — the evidence that the routed
form's assignment cost is bounded by the coarse fan-in
(~2·n·sqrt(k)·dim flops vs prod's n·k·dim) without changing what the
dedup catches.

Protocol: one idle session, noop-free (the operators end in
applyInPandas — the timed action is a full .count() materialization
plus the invariant aggregation, identical for both forms), untimed
warm-up on a 100k prefix, ``functions.runstats.release`` between runs.

Usage: python tools/coarse_smoke.py [--n 1000000] [--out SCALE_COARSE_1M.json]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tests"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=1_000_000)
    ap.add_argument("--out", default=str(REPO / "SCALE_COARSE_1M.json"))
    args = ap.parse_args()

    from the_framework_for_clustering_time_series_data_spark.functions.runstats import release
    from the_framework_for_clustering_time_series_data_spark.operators.dedup import (
        semantic_dedup_coarse,
        semantic_dedup_prod,
    )
    from the_framework_for_clustering_time_series_data_spark.session import get_spark

    from test_scale_smoke import _ann_corpus  # the planted-twin fixture

    spark = get_spark("coarse-smoke")
    spark.sparkContext.setLogLevel("WARN")

    import math

    k = math.ceil(args.n / 250)
    kc = math.ceil(math.sqrt(k))

    def run(fn, n):
        out = fn(
            _ann_corpus(spark, n), target_cell_size=250, threshold=0.999999
        )
        t0 = time.perf_counter()
        cnt = out.count()
        t = time.perf_counter() - t0
        sample = out.where("id < 100").select("id", "group_id").collect()
        gid = {r["id"]: r["group_id"] for r in sample}
        hits = sum(1 for q in range(0, 100, 2) if gid.get(q) == gid.get(q + 1))
        release(spark)
        return cnt, round(t, 2), hits

    # warm-up (codegen + Arrow paths) on a small prefix, untimed
    run(semantic_dedup_coarse, 100_000)
    run(semantic_dedup_prod, 100_000)

    rec = {"n": args.n, "k": k, "kc": kc, "target_cell_size": 250}
    cnt, rec["t_coarse_sec"], rec["twin_hits_coarse_of50"] = run(
        semantic_dedup_coarse, args.n
    )
    assert cnt == args.n
    cnt, rec["t_prod_sec"], rec["twin_hits_prod_of50"] = run(
        semantic_dedup_prod, args.n
    )
    assert cnt == args.n
    rec["speedup"] = round(rec["t_prod_sec"] / rec["t_coarse_sec"], 2)
    rec["flops_ratio_assign"] = round(k / (2 * kc), 1)
    with open(args.out, "w") as fh:
        json.dump(rec, fh, indent=1)
    print(json.dumps(rec))
    spark.stop()


if __name__ == "__main__":
    main()

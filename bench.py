"""Benchmark runner: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line.

Usage: python bench.py [--sf-dir DIR] [--queries a,b,c]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from functools import partial
from pathlib import Path

REPO = str(Path(__file__).resolve().parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def detail_filename(queries_arg: str | None) -> str:
    """Which detail artifact a run may write. Full headline runs own
    BENCH_FULL.json; any ``--queries`` subset writes BENCH_PARTIAL.json
    instead — round-11 post-mortem: a 3-query re-verification run
    overwrote the committed 51-query idle anchor, leaving the judged
    artifact holding a partial total recoverable only from git
    history. The subset file is scratch; the anchor is append-only per
    full run."""
    return "BENCH_PARTIAL.json" if queries_arg else "BENCH_FULL.json"

# Headline rotation (round-6 continuation): 22 fast-or-stable entries that
# held their bands for 2+ rounds rotated OUT so the compact stdout line
# stays inside the driver's ~2000-char capture window as new families
# rotate in (g5, dedup_exact, text_quality, j1, j3, r1, q6, q14,
# ts_resample/gapfill/ewma/decompose/paa_sax/anomaly_preq/rollup_inc,
# corpus_epoch_shards, q2, q3, q18, sim_bruteforce, text_bigram_fluency,
# ts_lttb, q25). Rotated-out queries remain correctness-gated in
# the registry and the full suite; BENCH_FULL.json keeps full history
# whenever they are run explicitly via --queries.
#: the load canary: a scan+agg plan byte-identical since round 8 —
#: its steady/median ratio measures session load, not regressions
_CANARY = "q1_pricing_summary"

#: median runs: every headline query whose steady run takes at least
#: MEDIAN_MIN seconds, and never fewer than the MEDIAN_TOP slowest, is
#: re-run to MEDIAN_RUNS samples (the steady run included); the stdout
#: line carries the MEDIAN_LINE_N slowest medians
MEDIAN_TOP = 10
MEDIAN_MIN = 1.0
MEDIAN_RUNS = 5
MEDIAN_LINE_N = 15

HEADLINE = [
    "q1_pricing_summary",
    "q5_region_revenue",
    "flagship_series_summary",
    "p5_preprocess_table",
    "dedup_minhash_lsh",
    # round-2 additions: timeseries rollup family, LM scoring, and the
    # two heaviest of the newly-completed TPC-H analogs
    "q21_blamed_suppliers",
    # symbolic/diagnostic + batch-assembly additions
    "pack_sequences_chunks",
    # flagship LLM-corpus composition + online-anomaly + incremental rollup
    "corpus_training_assembly",
    # round-2 additions: the former perf tail, benched so regressions on
    # the WORST plans are visible round-over-round, not just the fast set
    "c8_graph_clusters",
    "curate_corpus",
    "ts_sbd_pairs",
    "dedup_connected_groups",
    "dedup_edit_blocked",
    "dedup_ngram_jaccard_capped",
    # round-3 additions: the queries whose scale paths this round
    # rebuilt (distributed ntile, capped exact correlation, shared
    # silhouette fits, CLARA) — benched so the rebuilt plans are
    # tracked round-over-round
    "t5_representative_plotdata",
    "ts_pair_correlation",
    "c4_silhouette_selection",
    "c9b_kmedoids_clara",
    # round-3 late additions: the two new layout/ordering plans (both
    # built on the distributed-ntile/prefix machinery) and the LTTB
    # render path now that its oracle pins the pick loop
    "layout_zorder_pruning",
    # round-4 additions: the plans this round rebuilt (md5-doc-capped
    # exact jaccard, oracle-backed motif verification, deterministic-
    # Lloyd semantic dedup) — benched so the new shapes are tracked
    "dedup_ngram_jaccard",
    "ts_motif_verified",
    "dedup_semantic",
    "c4b_selection_md5lloyd",
    # round-5 additions: the deterministic oracle twins this round
    # shipped (K-Shape, GMM-EM, PQ-ANN, the facade's det spine) plus
    # the now-fully-oracled recall audit — benched so the new shapes
    # are tracked round-over-round
    "c3b_kshape_md5",
    "c7b_gmm_md5em",
    "sim_pqb_topk",
    "pipeline_e2e_det",
    "sim_ann_recall_audit",
    "sim_ivfpqb_topk",
    "c9c_kmedoids_md5pam",
    "text_tfidf_md5kmeans",
    # round-6 additions: the deterministic twins this round shipped
    # (power-iteration PCA, persisted-IVF, BPE merge replay)
    "e2c_pca_powerit",
    "sim_ivfb_persisted",
    "text_bpe_merges",
    "e3b_spectral_md5",
    "text_bpe_apply",
    # round-6 continuation: the deterministic sketch family (HLL /
    # daily-merge proof / Bloom runtime pruning / theta set-ops /
    # bottom-k quantiles) — benched so the sketch plans are tracked
    "d2b_hll_md5",
    "d2c_hll_merge_daily",
    "d4_bloom_md5",
    "d5b_kmv_setops",
    "a5c_quantile_bottomk",
    # round-6 continuation 2: CDC pack, DBA barycenter, validity
    # indices, WordPiece — the session's new oracle families
    "cdc_scd2_compact",
    "cdc_merge_apply",
    "c11_dba_md5",
    "c12_validity_indices",
    "text_wordpiece_apply",
    "c13_dtwkmeans_md5",
    "boot_poisson_ci",
    # round-11 additions: the production SemDeDup form (k ∝ n, local
    # union-find closure) and the length-guarded imaging caps — benched
    # so the new shapes are tracked round-over-round. The maintenance
    # ops (sim_sq8_requantize / sim_ivf_recenter / _partial) stay out of
    # the headline like r10's: they build a full index per run, which
    # is constants-dominated at sf0.1 — their perf record is the
    # BASELINE.md maintenance table + the SCALE_SF100 steady row.
    "dedup_semantic_prod",
    "i1b_rp_capped",
    "i2b_gaf_capped",
    # round-12 addition: the two-level coarse-routed SemDeDup — benched
    # so the routed shape is tracked round-over-round next to its flat
    # sibling
    "dedup_semantic_coarse",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--queries", default=None)
    args = ap.parse_args()

    from the_framework_for_clustering_time_series_data_spark.functions.runstats import release, timed
    from the_framework_for_clustering_time_series_data_spark.plans.registry import QUERIES
    from the_framework_for_clustering_time_series_data_spark.preflight import memory_preflight
    from the_framework_for_clustering_time_series_data_spark.session import get_spark

    # refuse-with-sizing-message beats the silent JVM abort an
    # under-heaped local run dies as (the sf100 lesson)
    memory_preflight([args.sf_dir], label="bench")

    spark = get_spark("the_framework_for_clustering_time_series_data_spark-bench")
    spark.sparkContext.setLogLevel("WARN")

    names = args.queries.split(",") if args.queries else [n for n in HEADLINE if n in QUERIES]
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        sys.exit(f"unknown queries: {unknown}; available: {sorted(QUERIES)}")

    # warm the JVM + parquet footers once (untimed)
    timed(spark, partial(QUERIES[names[0]], spark, args.sf_dir))

    # Each query runs twice: the first (cold) run pays one-time Janino
    # whole-stage-codegen compilation (~2-5 s for the widest plans —
    # pure per-plan constant, not data-dependent); the second (steady)
    # run is the per-scan cost that actually multiplies at 100 TB.
    # The steady run skips compilation only while the cold run's classes
    # stay in Spark's compiled-class cache: get_spark keeps 2,000 (Spark's
    # default of 100 is fewer than a wide query's own classes). Some
    # queries still compile on their second run: AQE stage-order
    # variants and generated limit counters (ROADMAP direction 2).
    # ``value`` totals the steady-state runs; cold runs are reported
    # alongside in ``queries_cold`` for transparency.
    # MEASUREMENT-HYGIENE: every run goes through runstats.timed, whose
    # untimed release (clearCache, gc.collect, unpersist of leftover
    # localCheckpoint blocks) runs between runs, so no run reads a
    # cache or pays GC pressure a previous run left. Round-13
    # diagnosis: without the gc.collect, sim_ann_recall_audit's five
    # in-bench median runs grew MONOTONICALLY 7.8 → 35.8 s (r12's
    # canary_ratio 1.361 was this contamination, not plan changes).
    # The timed region is untouched — every run still computes from
    # parquet.
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in names:
        build = partial(QUERIES[name], spark, args.sf_dir)
        cold[name] = round(timed(spark, build)[0], 3)
        timings[name] = round(timed(spark, build)[0], 3)
        n = build().count()  # untimed row report
        # the untimed count can itself materialize an operator's
        # .cache(); release so it can't warm the NEXT query's cold run
        release(spark)
        print(
            f"# {name}: {timings[name]}s steady / {cold[name]}s cold ({n} rows)",
            file=sys.stderr,
        )

    # 5-run medians for the SLOW queries: single steady runs drift
    # with machine state (round-4 verdict: 68.5 s under driver load vs
    # a 60.5 s idle median over the same set), so the emitted record
    # carries both — the median map ends the drift-vs-regression
    # ambiguity for the queries that dominate the total. Round 6
    # (verdict ask #8): medians cover every slow headline query (see
    # MEDIAN_MIN / MEDIAN_TOP), so next round's regression adjudication
    # needs no out-of-band BASELINE.md lookup.
    median5: dict[str, float] = {}
    by_cost = [n for n, _ in sorted(timings.items(), key=lambda kv: -kv[1])]
    slowest = [n for i, n in enumerate(by_cost) if i < MEDIAN_TOP or timings[n] >= MEDIAN_MIN]
    # the canary always gets a median so the emitted record carries
    # its own load evidence (round-11 verdict ask #8): q1's plan has
    # been byte-identical since round 8, so steady/median >> 1 on it
    # means driver-session load, not a regression
    if _CANARY in timings and _CANARY not in slowest:
        slowest.append(_CANARY)
    for name in slowest:
        build = partial(QUERIES[name], spark, args.sf_dir)
        samples = [timings[name]]
        for _ in range(MEDIAN_RUNS - 1):
            samples.append(round(timed(spark, build)[0], 3))
        samples.sort()
        median5[name] = samples[len(samples) // 2]
        print(f"# median{MEDIAN_RUNS} {name}: {median5[name]}s {samples}", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    # load evidence (round-11 verdict ask #8): in-sequence steady time
    # of the canary over its end-of-run median — >>1 flags a loaded
    # session window, not a plan regression
    canary_ratio = (
        round(timings[_CANARY] / median5[_CANARY], 3)
        if _CANARY in timings and median5.get(_CANARY)
        else None
    )
    sf = args.sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # The driver tail-captures only the LAST ~2000 chars of stdout, so the
    # single stdout JSON line must stay compact: steady per-query map only
    # (the spec's required "queries" key), totals, and a pointer to the
    # full detail file.  Cold per-query timings (which doubled the line
    # past the capture window in round 3 and left BENCH_r03.json with
    # parsed: null) go to BENCH_FULL.json instead.
    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_cold": cold,
        "cold_total": round(sum(cold.values()), 3),
        "median5": median5,
        "canary_ratio": canary_ratio,
        "sf": float(sf),
    }
    detail_name = detail_filename(args.queries)
    detail_path = os.path.join(REPO, detail_name)
    with open(detail_path, "w") as fh:
        json.dump(full, fh, indent=1)
    # Compact-line economy (the window is ~2000 chars and the headline
    # set is 50+ queries): timings round to 2 dp, tight JSON separators
    # (no spaces — worth ~150 chars over the default), the in-line
    # median map keeps the 15 slowest (full map in BENCH_FULL.json),
    # and cold totals stay in BENCH_FULL.json — the full-precision
    # record is always the detail file.
    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": {q: round(t, 2) for q, t in timings.items()},
        "median5": {
            q: round(t, 2)
            for q, t in sorted(median5.items(), key=lambda kv: -kv[1])[:MEDIAN_LINE_N]
        },
        "canary_ratio": canary_ratio,
        "sf": float(sf),
        "detail": detail_name,
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:
        # stay inside the driver's capture window: drop to the slowest
        # queries only (full map is always in BENCH_FULL.json)
        slowest = dict(sorted(compact["queries"].items(), key=lambda kv: -kv[1])[:20])
        compact["queries"] = slowest
        compact["queries_truncated_to_slowest"] = len(slowest)
        line = json.dumps(compact, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()

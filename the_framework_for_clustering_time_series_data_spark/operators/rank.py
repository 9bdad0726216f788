"""Exact global ranking/ntile without a single-partition sort.

``ntile(k) OVER (ORDER BY ...)`` — the quantile-segmentation idiom the
reference's silhouette top-k and the RFM/cluster-quartile plans lean on
(app.py:798-806 is the tiny in-driver analogue) — is the classic
scale-killer: Spark plans an unpartitioned window as ``Exchange
SinglePartition`` + one sort of the ENTIRE table on one executor. Fine
for a 1.5k-row dimension at sf0.1; fatal for the 10⁸-row per-customer /
per-series tables a 100 TB corpus produces.

This module computes the *bit-identical* ntile result distributively:

1. **Range buckets from a sketch.** One eager sketch pass (the
   ``percentile_approx`` aggregate behind ``approxQuantile``) over the
   numeric proxies of all leading sort keys yields ~``buckets``
   boundary values per spec, held on the driver (≤ buckets×specs
   doubles) and embedded as array LITERALS. Every row's bucket =
   #boundaries ≤ its proxy, a JVM ``size(filter(...))`` over a
   63-element array. Buckets are contiguous spans of the global order
   by construction (the proxy is monotone in the leading key), so
   bucket boundaries never have to be *accurate* — only order-aligned.
   Sketch error only skews bucket SIZES, never the final rank.
   Literals, not a broadcast of a lazy sketch aggregate: the input
   subtree feeds the bucket histogram AND each spec's output lineage,
   and Spark's exchange reuse does NOT dedupe the sketch across those
   consumers (measured: six scan+sketch executions per
   two-spec query) — one driver-held pass makes the sketch cost exactly
   one job regardless of how many lineages consume the buckets. The
   eager action at call time is deliberate and mirrors
   sources/writers.write_zordered.
2. **Local rank.** ``row_number`` partitioned by bucket — a parallel
   hash exchange, each partition sorting ~N/buckets rows.
3. **Exact offsets.** Bucket counts aggregate to ≤ buckets×specs rows
   in one eager pass; their prefix sums embed as a map LITERAL (no
   join of the fact lineage back onto itself — the self-join form both
   recomputed the input per consumer and tripped Catalyst's relation
   dedup). Global rank = bucket offset + local rank — exact,
   independent of where the sketch put the boundaries.
4. **Closed-form ntile.** With N = total rows, q = N div k,
   r = N mod k, SQL-standard ntile gives the first r tiles q+1 rows:
   ``tile = (rank-1) div (q+1) + 1`` when ``rank <= r*(q+1)`` else
   ``r + (rank-1-r*(q+1)) div q + 1``. Matches Spark's and DuckDB's
   ntile exactly (ties impossible: callers pass a unique tie-break
   key), so DuckDB oracles keep stating the flat ``ntile() OVER``
   form — the point of the comparison.

Cost model: two eager metadata jobs at call time (the quantile sketch
and the bucket histogram — each one scan with map-side partials,
yielding driver-held literals), then a returned plan that scans the
input ONCE with one hash exchange + per-bucket window per scored
column. Callers composing several lazy consumers of the result pay no
re-derivation of the metadata — that is the point of the literals.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from the_framework_for_clustering_time_series_data_spark.functions.plan_tools import (
    lit_double_array,
    lit_int_map,
    stage_checkpoint,
)

# Rank exactness does not depend on sketch accuracy (see module
# docstring), so the sketch runs at a loose 0.01 relative error
# (percentile_approx accuracy 100 = 1 / relative error).
_SKETCH_ACCURACY = 100


def _sketch_bounds(base: DataFrame, cols: list[str], buckets: int) -> list[list[float]]:
    """``buckets - 1`` equi-depth boundaries per column of ``base`` in one
    collect: the values ``base.stat.approxQuantile(cols, probs, 0.01)``
    returns. Spark 4.1 runs approxQuantile as this same
    ``percentile_approx`` aggregate over each column's non-null, non-NaN
    values, but PySpark's wrapper passes the probabilities in and
    converts the ``double[][]`` result out one element per py4j round
    trip (433 calls for two columns at 64 buckets)."""
    probs = lit_double_array([i / buckets for i in range(1, buckets)])
    sketches = [
        F.percentile_approx(F.expr(f"IF(isnan({c}), NULL, {c})"), probs, _SKETCH_ACCURACY)
        for c in cols
    ]
    return [list(b or []) for b in base.select(*sketches).collect()[0]]


def with_global_ntiles(
    df: DataFrame,
    n: int,
    specs: list[tuple[str, list[str], Column | None]],
    buckets: int = 64,
) -> DataFrame:
    """Append one exact ``ntile(n) OVER (ORDER BY order_cols)`` column
    per spec, without any unbounded single-partition window.

    ``specs``: ``(out_col, order_cols, lead_proxy)`` triples. The last
    entry of ``order_cols`` must make the ordering a total order (the
    same tie-break discipline the flat ntile form needs for
    determinism). ``lead_proxy`` is a numeric Column strictly monotone
    in ``order_cols[0]`` (None → the column cast to double); it only
    steers bucket placement, never the result. Leading keys must be
    non-null (rank of a null-keyed row is undefined here).

    EAGER CONTRACT: calling this function runs two Spark jobs (the
    quantile sketch and the bucket histogram) and materializes the
    input via :func:`~...functions.plan_tools.stage_checkpoint` —
    construction is not free, unlike a plain withColumn. The
    materialization is localCheckpoint by default: executor-local
    unreplicated blocks (an executor loss during the downstream job
    makes the plan unrecoverable; the input must fit executor
    memory+disk). For fleet runs set
    ``spark.graft.checkpoint.reliable=true`` +
    ``sc.setCheckpointDir(...)`` to switch every such site to a
    fault-tolerant reliable checkpoint.
    """
    if not 2 <= buckets <= 4096:
        raise ValueError("buckets must be in [2, 4096]")
    base = df
    for i, (_, order_cols, proxy) in enumerate(specs):
        pv = proxy if proxy is not None else F.col(order_cols[0]).cast("double")
        base = base.withColumn(f"_pv{i}", pv.cast("double"))
    # one materialization feeds the two metadata jobs AND the returned
    # plan (executor-local blocks, no session cache entry; they stay
    # registered after the frame is dropped until an explicit
    # unpersist — runners free them with functions.runstats.release);
    # without it each consumer recomputes the upstream pipeline per job
    base = base.transform(stage_checkpoint, eager=False)

    # 1. all boundary arrays in ONE eager pass, driver-held, embedded
    # as literals (see module docstring: exchange reuse does not dedupe
    # a lazy sketch across this plan's multiple consumers of the input)
    all_bounds = _sketch_bounds(base, [f"_pv{i}" for i in range(len(specs))], buckets)

    def _le_pv(i: int):
        return lambda b: b <= F.col(f"_pv{i}")

    tagged = base
    for i in range(len(specs)):
        barr = lit_double_array(all_bounds[i])
        tagged = tagged.withColumn(
            f"_bk{i}", F.size(F.filter(barr, _le_pv(i)))
        )

    # 2. exact per-bucket counts for every spec in one tiny aggregate,
    # collected (≤ buckets×specs rows) and embedded as map LITERALS —
    # no self-join of the fact lineage, so the returned plan is ONE
    # scan, one exchange per spec, per-bucket windows, literal lookups
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("_i"), F.col(f"_bk{i}").alias("_bk")
                )
                for i in range(len(specs))
            ]
        )
    )
    hist_rows = (
        tagged.select(pairs.alias("_p"))
        .select("_p._i", "_p._bk")
        .groupBy("_i", "_bk")
        .agg(F.count("*").alias("_bn"))
        .collect()
    )

    # 3+4. per spec: partitioned local rank + literal offsets + formula
    out = tagged
    for i, (out_col, order_cols, _) in enumerate(specs):
        w_in = Window.partitionBy(f"_bk{i}").orderBy(*order_cols)
        counts = sorted((r["_bk"], r["_bn"]) for r in hist_rows if r["_i"] == i)
        offs: dict[int, int] = {}
        acc = 0
        for bk, cnt in counts:
            offs[bk] = acc
            acc += cnt
        big_n = acc
        off_map = lit_int_map(offs.items(), "bigint")
        rank = F.element_at(off_map, F.col(f"_bk{i}")) + F.row_number().over(w_in)
        q, rem = divmod(big_n, n)
        thr = rem * (q + 1)
        tile = F.when(
            rank <= F.lit(thr), F.floor((rank - 1) / (q + 1)) + 1
        ).otherwise(rem + F.floor((rank - thr - 1) / q) + 1)
        out = out.withColumn(out_col, tile.cast("int"))
    return out.drop(
        *[f"_pv{i}" for i in range(len(specs))],
        *[f"_bk{i}" for i in range(len(specs))],
    )


def with_global_cumsum(
    df: DataFrame,
    order_by: list[Column],
    weight: Column,
    out_col: str,
    proxy: Column,
    buckets: int = 64,
) -> DataFrame:
    """Exact inclusive running sum of ``weight`` over a global order,
    without a single-partition sort — the value-ordered sibling of
    packing.global_running_sum (whose md5-prefix buckets only work
    because its sort key IS the hash; here the order is an arbitrary
    total order, so buckets come from the same percentile sketch as
    :func:`with_global_ntiles`).

    ``order_by``: Column sort expressions forming a total order.
    ``proxy``: numeric column ASCENDING along that order (pass the
    negated leading key for descending orders); steers bucket
    placement only — the sum is exact wherever boundaries land.
    ``weight`` should be integer-typed for bit-exact cross-engine
    totals (the BIGINT micro-unit discipline); doubles work but
    inherit two-level association drift. Decimal weights are
    supported: offset literals take SUM's own Catalyst output type.

    EAGER CONTRACT + checkpoint caveats: same as
    :func:`with_global_ntiles` — two metadata jobs at call time over a
    stage_checkpoint'd input (localCheckpoint by default; opt into
    reliable checkpointing via ``spark.graft.checkpoint.reliable``).
    """
    if not 2 <= buckets <= 4096:
        raise ValueError("buckets must be in [2, 4096]")
    base = df.withColumn("_pv", proxy.cast("double")).withColumn("_wt", weight)
    # one materialization for metadata jobs + returned plan (see
    # with_global_ntiles)
    base = base.transform(stage_checkpoint, eager=False)
    # driver-held boundary literals, one eager pass — same rationale as
    # with_global_ntiles (exchange reuse does not dedupe a lazy sketch
    # across the histogram and output lineages)
    (bounds,) = _sketch_bounds(base, ["_pv"], buckets)
    barr = lit_double_array(bounds)
    tagged = base.withColumn(
        "_bk", F.size(F.filter(barr, lambda b: b <= F.col("_pv")))
    )
    # bucket totals collected (≤ buckets rows) and their prefix sums
    # embedded as a map literal — same no-self-join shape as
    # with_global_ntiles
    btot_df = tagged.groupBy("_bk").agg(F.sum("_wt").alias("_bt"))
    # offset literal type follows SUM's Catalyst output type (long /
    # double / decimal(p,s)) — a value sniff on the collected Python
    # objects missed Decimal and silently truncated fractional offsets
    # to long
    off_t = btot_df.schema["_bt"].dataType.simpleString()
    btot = sorted((r["_bk"], r["_bt"]) for r in btot_df.collect())
    offs: dict[int, object] = {}
    acc = 0
    for bk, tot in btot:
        offs[bk] = acc
        acc += tot
    off_map = lit_int_map(offs.items(), off_t)
    w_in = (
        Window.partitionBy("_bk")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return tagged.withColumn(
        out_col, F.element_at(off_map, F.col("_bk")) + F.sum("_wt").over(w_in)
    ).drop("_pv", "_wt", "_bk")

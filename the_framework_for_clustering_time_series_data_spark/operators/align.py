"""Length-alignment operators (reference G3-G7,
/root/reference/app.py:246-350, 1763-1829).

All operate on long-form ``(series_id, t, value, ...)``; any extra
columns (e.g. a normalized twin track, G7 app.py:1783-1818) ride along
untouched, which removes the reference's parallel-arrays hazard — one
DataFrame carries both tracks through one pass.

Scale notes:
  * global min/max length is a two-level aggregate (per-series count →
    global min/max), broadcast back — no wide shuffle;
  * truncation filters on a per-series ``row_number`` window — the
    shuffle is partitioned by series_id, the natural key;
  * padding generates filler rows with ``sequence`` + ``explode`` from
    the per-series length table (tiny) — no touch of the fact rows;
  * sliding window assigns each row to its covering windows by exploding
    a per-row window-id range — each row fans out ≤ ceil(w/s) times,
    fully distributed, instead of a range join or single-task window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from the_framework_for_clustering_time_series_data_spark.operators.stats import series_lengths


def _with_global_len(df: DataFrame, agg_fn, name: str) -> DataFrame:
    bound = series_lengths(df).agg(agg_fn(F.col("length")).alias(name))
    return df.crossJoin(F.broadcast(bound))


def truncate_to_min(df: DataFrame) -> DataFrame:
    """G3 — cut every series to the global minimum length, keeping the
    first ``min_len`` points (app.py:246-261).
    """
    w = Window.partitionBy("series_id").orderBy("t")
    return (
        _with_global_len(df, F.min, "_min_len")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= F.col("_min_len"))
        .drop("_rn", "_min_len")
    )


def pad_to_max(df: DataFrame, pad_value: float = 0.0) -> DataFrame:
    """G4 — pad every series with trailing ``pad_value`` rows up to the
    global maximum length (app.py:266-280; np.pad constant 0).

    Filler rows are generated from the per-series length table (one row
    per series), never by scanning the fact rows.
    """
    lens = series_lengths(df)
    max_len = lens.agg(F.max("length").alias("_max_len"))
    value_cols = [c for c in df.columns if c not in ("series_id", "t")]
    pads = (
        lens.crossJoin(F.broadcast(max_len))
        .where(F.col("length") < F.col("_max_len"))
        .select(
            "series_id",
            F.explode(
                F.sequence(F.col("length"), F.col("_max_len") - F.lit(1))
            ).alias("t"),
            *[F.lit(pad_value).cast("double").alias(c) for c in value_cols],
        )
    )
    return df.select("series_id", "t", *value_cols).unionByName(pads)


def sliding_windows(
    df: DataFrame, window_size: int, shift_size: int = 1
) -> DataFrame:
    """G5 — split each series into overlapping fixed windows of
    ``window_size`` every ``shift_size`` points, dropping the remainder
    (app.py:285-295; tf.data.Dataset.window drop_remainder=True).

    Output long form: ``(series_id, window_id, pos, value)`` where each
    window becomes a synthetic sub-series (the reference labels windows
    0..n-1, app.py:1788-1793).

    Each input row is assigned to the window ids that cover it:
    ``wid in [ceil((t-w+1)/s), floor(t/s)]`` clamped to the valid range
    ``[0, floor((L-w)/s)]`` — an explode with fan-out ≤ ceil(w/s), no
    self-join, no single-partition window function.
    """
    w, s = int(window_size), int(shift_size)
    lens = series_lengths(df).select(
        "series_id", ((F.col("length") - w) / s).cast("long").alias("_max_wid"),
        F.col("length").alias("_len"),
    )
    df2 = df.join(F.broadcast(lens), "series_id")
    lo = F.greatest(F.lit(0), F.ceil((F.col("t") - F.lit(w - 1)) / F.lit(s)).cast("long"))
    hi = F.least(F.col("_max_wid"), F.floor(F.col("t") / F.lit(s)).cast("long"))
    value_cols = [c for c in df.columns if c not in ("series_id", "t")]
    return (
        df2.where((F.col("_len") >= w) & (lo <= hi))
        .select(
            "series_id",
            F.explode(F.sequence(lo, hi)).alias("window_id"),
            F.col("t"),
            *value_cols,
        )
        .select(
            "series_id",
            "window_id",
            (F.col("t") - F.col("window_id") * s).alias("pos"),
            *value_cols,
        )
    )


def dtw_stretch_align(df: DataFrame) -> DataFrame:
    """G6 — DTW stretch-alignment: warp every shorter series up to the
    single globally-longest series (app.py:300-350).

    Semantics (from DTW_resize_algorithm, app.py:321-350): with the
    longest series ``long`` and each shorter ``short``, compute the DTW
    path between them (|.| point cost); for each long index ``j``,
    ``delta[j] = sum(long[j] - short[i] for path steps (i, j))``; the
    aligned series is ``long - delta``. Equal-length series pass through
    unchanged (identity branch, app.py:322-323).

    The reference uses fastdtw (approximate); we compute the exact
    O(n·m) DTW path in NumPy inside an ``applyInPandas`` per series —
    per-series work is embarrassingly parallel across executors; the
    longest series is broadcast via closure.

    Not SQL-expressible → rows-only oracle check.
    """
    import numpy as np
    import pandas as pd

    nested = (
        df.groupBy("series_id")
        .agg(F.sort_array(F.collect_list(F.struct("t", "value"))).alias("_pts"))
        .select("series_id", F.col("_pts.value").alias("values"))
    )
    longest = (
        nested.select("series_id", F.size("values").alias("n"), "values")
        .orderBy(F.desc("n"), "series_id")
        .limit(1)
        .collect()[0]
    )
    long_vals = np.asarray(longest["values"], dtype=np.float64)

    def warp(pdf: pd.DataFrame) -> pd.DataFrame:
        # zip over the two columns directly (no pdf.iterrows() — Series
        # construction per row is pure overhead in an Arrow kernel);
        # the delta accumulation is a vectorized scatter-add over the
        # path's index arrays rather than a Python step loop.
        out = []
        for sid, vals in zip(pdf["series_id"], pdf["values"]):
            short = np.asarray(vals, dtype=np.float64)
            if len(short) == len(long_vals):
                aligned = short
            else:
                path = np.asarray(_dtw_path(short, long_vals)[0], dtype=np.int64)
                delta = np.zeros(len(long_vals))
                np.add.at(delta, path[:, 1], long_vals[path[:, 1]] - short[path[:, 0]])
                aligned = long_vals - delta
            out.append({"series_id": sid, "values": aligned.tolist()})
        return pd.DataFrame(out, columns=["series_id", "values"])

    from the_framework_for_clustering_time_series_data_spark.operators.corpus_guard import id_spark_type

    # follow the input id type (sliding-window synthetic ids are strings)
    schema = f"series_id {id_spark_type(df, 'series_id')}, values array<double>"
    # warp already iterates rows — run it per Arrow batch (each nested
    # row IS one series; per-group dispatch would call Python once per
    # series for a loop body that handles many)
    aligned = nested.repartition("series_id").mapInPandas(
        lambda batches: (warp(pdf) for pdf in batches), schema=schema
    )
    return aligned.select(
        "series_id",
        F.posexplode("values").alias("t", "value"),
    )


def _dtw_path(a, b):
    """Exact DTW between 1-D series (cost = |a_i - b_j|, steps {diag,
    up, left}): the standard O(n·m) dynamic program with backtracking.
    Float input runs in float64 (sentinel ``inf``); integer input stays
    INT64 (sentinel ``1 << 62``), so every cell, tie-break and the
    distance are reproducible bit-for-bit in any engine (the property
    the c11/c13 DuckDB oracles rely on). Backtrack ties resolve
    diag -> up -> left, the lexicographic (acc, i, j) preference the g6
    oracle replays. Returns (path, distance): the 0-based cells from
    (0, 0) to (n-1, m-1), and the total cost.
    """
    import numpy as np

    if np.issubdtype(np.result_type(np.asarray(a), np.asarray(b)), np.integer):
        dtype, big = np.int64, 1 << 62
    else:
        dtype, big = np.float64, np.inf
    a, b = np.asarray(a, dtype=dtype), np.asarray(b, dtype=dtype)
    n, m = len(a), len(b)
    cost = np.abs(a[:, None] - b[None, :])
    acc = np.full((n + 1, m + 1), big, dtype=dtype)
    # a zero corner gives every cell a finite predecessor, so the int
    # sums never touch the sentinel
    acc[0, 0] = 0
    for i in range(1, n + 1):
        row = cost[i - 1]
        prev = acc[i - 1]
        cur = acc[i]
        for j in range(1, m + 1):
            cur[j] = row[j - 1] + min(prev[j], cur[j - 1], prev[j - 1])
    path = []
    i, j = n, m
    while i > 0 and j > 0:
        path.append((i - 1, j - 1))
        moves = ((acc[i - 1, j - 1], i - 1, j - 1), (acc[i - 1, j], i - 1, j), (acc[i, j - 1], i, j - 1))
        _, i, j = min(moves)
    path.reverse()
    return path, acc[n, m].item()


def to_nested(df: DataFrame, value_col: str = "value") -> DataFrame:
    """G1 — group-collect: long form → nested ``(series_id,
    values: array<double>)`` ordered by ``t`` (app.py:204-217).
    Deterministic (sorted by key downstream; the reference's Python-set
    group order was nondeterministic — SURVEY.md §2.3 G1).
    """
    return (
        df.groupBy("series_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("t", value_col))).alias("_pts")
        )
        .select("series_id", F.col(f"_pts.{value_col}").alias("values"))
    )

"""Clustering operators (reference C1-C6,
/root/reference/app.py:704-824).

C1 K-Means — MLlib (distributed Lloyd), seed pinned.
C2 DBSCAN — no MLlib equivalent: ε-grid bucketed neighbor join +
   iterative min-label propagation (connected components) — all
   DataFrame ops, scales by cell locality instead of n².
C3 K-Shape — the reference's call is broken (SURVEY.md §2.6 C3);
   implemented from the public SIGMOD'15 semantics (Paparrizos &
   Gravano): SBD assignment + Rayleigh-quotient shape extraction.
C4 Silhouette selection — MLlib ClusteringEvaluator for the scalable
   path plus an EXACT pairwise silhouette (DataFrame self-join) that
   matches the reference's full O(n²) silhouette_score for modest n.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from the_framework_for_clustering_time_series_data_spark.functions.plan_tools import stage_checkpoint, tiny_window
from the_framework_for_clustering_time_series_data_spark.operators.align import _dtw_path


# --------------------------------------------------------------------------
# C1 — K-Means
# --------------------------------------------------------------------------

def kmeans_fit_predict(
    emb: DataFrame, k: int, seed: int = 10, feature_cols: tuple[str, ...] = ("x", "y")
) -> tuple[DataFrame, list[list[float]]]:
    """C1 — K-Means on the embedding coordinates (app.py:704-720).
    Returns (DataFrame(series_id, ..., prediction), centers).
    Seed pinned (the reference leaves KMeans unseeded — SURVEY §4
    numeric-determinism note)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import VectorAssembler

    va = VectorAssembler(inputCols=list(feature_cols), outputCol="_features")
    vecs = va.transform(emb)
    model = KMeans(k=k, seed=seed, featuresCol="_features", predictionCol="prediction").fit(vecs)
    out = model.transform(vecs).drop("_features")
    return out, [[float(x) for x in c] for c in model.clusterCenters()]


def md5_seed_cells(points: DataFrame, k: int) -> DataFrame:
    """The md5 seeding shared by every deterministic clusterer: the
    ``k`` rows of ``points`` ``(id, v, …)`` with the smallest md5(id)
    (ties → id), returned as ``(cell, cvec)`` with ``cell`` the 0-based
    rank in that order — the DuckDB twin is ``row_number() OVER (ORDER
    BY md5(id::VARCHAR), id) - 1`` over the same LIMIT. A ``k`` above
    the row count yields one cell per row."""
    init = (
        points.withColumn("_h", F.md5(F.col("id").cast("string")))
        .orderBy("_h", "id")
        .limit(k)
    )
    # k rows — constant-key window over the seed set only (tiny_window)
    w_seed = tiny_window("_h", "id", key="_h")
    return init.withColumn("cell", F.row_number().over(w_seed) - 1).select(
        "cell", F.col("v").alias("cvec")
    )


def md5_lloyd(
    points: DataFrame,
    seeds: DataFrame,
    keys: tuple[str, ...] = (),
    rounds: int = 2,
    exact_mean: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """The engine's one deterministic, cross-engine-replayable Lloyd
    iteration (md5-Lloyd) — the reproducible k-means twin the
    RNG-seeded MLlib fit cannot be (kmeans|| init and parallel float
    reductions are implementation-defined). ``points`` is ``(keys…,
    id, v)`` with ``v`` an ``array<double>``; ``seeds`` is the initial
    ``(keys…, cell, cvec)`` centroid table, normally
    :func:`md5_seed_cells` or slices/prefixes of it. ``keys`` runs
    independent fits side by side in ONE plan: points join the
    centroids on the keys they carry, and a key the points lack fans
    every point out to each of its values (c4b's k = 2..6 over one
    point set). ``rounds`` fixed assignment rounds (no data-dependent
    convergence test — both engines run the identical schedule).

    Parity disciplines (every md5-Lloyd caller and DuckDB twin relies
    on them; callers refer here instead of restating them):

    * distances are SEQUENTIAL left-to-right folds (``zip_with`` +
      ``aggregate`` ↔ DuckDB list_transform/list_aggregate) —
      bit-identical given identical inputs;
    * assignment is the argmin on ``(d2, cell)`` — ties → smaller
      cell — as a map-side-combinable ``min_by`` grouped by
      ``keys + id`` (the ``partitionBy(id)`` window form shuffles AND
      sorts the candidate frame);
    * updated centroid components round half-up to 6 dp,
      ``floor(x*1e6+0.5)/1e6`` in both engines. CAVEAT (accepted risk,
      as in the matrix-profile discipline): ``F.avg``'s
      partial-aggregation association order differs from the oracle's
      sequential mean, so a mean within an ulp of a 0.5e-6 boundary
      can round differently across engines (~1e-10/value).
      ``exact_mean=True`` — valid only when the inputs are already
      6-dp quanta — sums exact int64 micro-units and divides once,
      removing that caveat (the c3b/pqb discipline).

    Returns ``(assignments, centroids)``: ``(keys…, id, v, cell, d2)``
    — one row per point (per key value), ``d2`` the squared distance
    to the FINAL centroid, which downstream survivor/exemplar picks
    key on — and the final ``(keys…, cell, cvec)`` table the last
    assignment used (index metadata, ≤ |keys|×k rows). Each round's
    centroid table goes through ``stage_checkpoint(eager=False)``, so
    a consumer of both outputs runs the rounds once, not once per
    consumer."""
    keys = list(keys)
    on = [c for c in keys if c in points.columns] if keys else []
    d2_expr = F.aggregate(
        F.zip_with("v", "cvec", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )

    def _assign(centroids: DataFrame) -> DataFrame:
        c = F.broadcast(centroids)
        j = (points.join(c, on) if on else points.crossJoin(c)).withColumn(
            "d2", d2_expr
        )
        best = j.groupBy(*keys, "id").agg(
            F.min_by(
                F.struct("cell", "v", "d2"), F.struct("d2", "cell")
            ).alias("_best")
        )
        return best.select(*keys, "id", "_best.v", "_best.cell", "_best.d2")

    cdf = seeds
    for _ in range(rounds - 1):
        ex = _assign(cdf).select(
            *keys, "cell", F.posexplode("v").alias("pos", "val")
        )
        if exact_mean:
            micro = F.floor(F.col("val") * F.lit(1e6) + F.lit(0.5)).cast("long")
            mean6 = F.floor(
                F.sum(micro).cast("double") / F.count("*") + F.lit(0.5)
            ) / F.lit(1e6)
        else:
            mean6 = F.floor(F.avg("val") * 1e6 + 0.5) / 1e6
        cm = ex.groupBy(*keys, "cell", "pos").agg(mean6.alias("cv"))
        cdf = cm.groupBy(*keys, "cell").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "cv"))), lambda s: s.cv
            ).alias("cvec")
        ).transform(stage_checkpoint, eager=False)
    return _assign(cdf), cdf


def deterministic_lloyd_assign(
    df: DataFrame,
    k: int,
    id_col: str = "id",
    vec_col: str = "v",
    lloyd_rounds: int = 2,
    exact_mean: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """One md5-Lloyd fit (:func:`md5_lloyd`, parity disciplines there)
    over ``df``'s ``array<double>`` column ``vec_col``: ``k``
    :func:`md5_seed_cells` seeds, ``lloyd_rounds`` rounds. Returns
    ``(assignments, centroids)`` = ``(id, v, cell, d2)`` per input row
    and the final ``(cell, cvec)`` table.

    Building runs Spark jobs: ``stage_checkpoint(eager=False)`` still
    truncates each update round's centroid lineage at build time, and
    with AQE on that executes the round's shuffle and broadcast stages
    then — 4 jobs per update round for a standalone call, none at
    ``lloyd_rounds=1``. Only the final assignment waits for the first
    action. ``perfbench/run.py --trace 1`` reports ``plans.build_jobs``
    14 for pipeline_e2e_det and 12 for text_tfidf_md5kmeans, each
    including one two-round fit."""
    v0 = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    ).transform(stage_checkpoint, eager=False)
    return md5_lloyd(
        v0, md5_seed_cells(v0, k), rounds=lloyd_rounds, exact_mean=exact_mean
    )


def bisecting_lloyd_assign(
    df: DataFrame,
    k: int,
    id_col: str = "id",
    vec_col: str = "v",
) -> DataFrame:
    """Deterministic bisecting k-means assignment — the
    cross-engine-replayable twin of MLlib's BisectingKMeans (whose
    split RNG and float reductions are implementation-defined), built
    on :func:`md5_lloyd` (parity disciplines there, ``F.avg`` means).

    Start with every row in cluster 0; repeat ``k−1`` times (step s):
    split the LARGEST cluster (ties → smallest label) with a
    two-centroid, two-round md5-Lloyd seeded by the cluster's two
    smallest-md5(id) members; members assigned to the second centroid
    take the new label ``s``. Labels are therefore the split-step ids
    0..k−1 — deterministic, no relabeling pass. A cluster too small to
    seed two centroids simply keeps its members (both engines behave
    identically), so degenerate inputs stay well-defined.

    Returns ``(id, v, lab)``. EAGER CONTRACT: each split materializes
    the label frame via stage_checkpoint (k−1 short job chains) — the
    fixed-depth loop form every iterative operator here uses; opt into
    reliable checkpointing via ``spark.graft.checkpoint.reliable``.
    """
    labels = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.lit(0).alias("lab"),
    ).transform(stage_checkpoint, eager=True)

    for step in range(1, k):
        tgt = (
            labels.groupBy("lab")
            .agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), "lab")
            .limit(1)
        )
        mem = labels.join(F.broadcast(tgt.select("lab")), "lab").select("id", "v")
        b, _ = md5_lloyd(mem, md5_seed_cells(mem, 2), rounds=2)
        labels = (
            labels.join(b.select("id", F.col("cell").alias("_cell")), "id", "left")
            .select(
                "id",
                "v",
                F.when(F.col("_cell") == 1, F.lit(step))
                .otherwise(F.col("lab"))
                .alias("lab"),
            )
            .transform(stage_checkpoint, eager=True)
        )
    return labels


# --------------------------------------------------------------------------
# C4 — silhouette
# --------------------------------------------------------------------------

def silhouette_exact(pred: DataFrame, keys: tuple[str, ...] = ()) -> DataFrame:
    """Exact full silhouette per sample over (series_id, x, y,
    prediction) — the reference's sklearn silhouette_score semantics
    (app.py:796): a = mean dist to own cluster (excl. self), b = min
    over other clusters of mean dist, s = (b-a)/max(a,b); singleton
    clusters get s = 0.

    Pure DataFrame pairwise self-join — O(n²) rows but fully
    distributed and SQL-expressible (oracle-checkable); use the MLlib
    evaluator for large n. ``keys`` are extra grouping columns carried
    through every stage (pairs only form within equal keys), so N
    independent clusterings — e.g. model selection's k = 2..6 over the
    SAME points — score in ONE fused job instead of N sequential ones
    (identical per-k arithmetic: same pair sets, same aggregates)."""
    ks = list(keys)
    # Keyed form (model selection): the equi-join key is k alone — a
    # handful of distinct values, so a plain sort-merge join lands ALL
    # n² pair work on ≤|k| tasks (guide §2.5: a single enormous key
    # that AQE cannot split). Salt it: the LEFT point picks one of
    # ``nsalt`` deterministic buckets, the RIGHT side replicates into
    # every bucket — pair sets per (series_id, other_prediction) group
    # are unchanged (each left row still meets every right row of its
    # k exactly once), so aggregates are value-identical while the
    # pair work spreads over |k|·nsalt tasks.
    if ks:
        try:
            nsalt = int(
                pred.sparkSession.conf.get("spark.graft.silhouette.pair.salt", "16")
            )
        except (TypeError, ValueError):
            nsalt = 16
        nsalt = max(1, nsalt)
    else:
        nsalt = 1
    # collision-safe internal name: pred is caller-supplied and could
    # legitimately carry a `_ps` column
    _salt = "__graft_pair_salt"
    if ks and nsalt > 1:
        a = pred.withColumn(
            _salt, F.pmod(F.xxhash64(F.col("series_id")), F.lit(nsalt)).cast("int")
        ).alias("a")
        b = pred.withColumn(
            _salt, F.explode(F.sequence(F.lit(0), F.lit(nsalt - 1)))
        ).alias("b")
        salt_cond = [F.col(f"a.{_salt}") == F.col(f"b.{_salt}")]
    else:
        a, b = pred.alias("a"), pred.alias("b")
        salt_cond = []
    cond = (
        [F.col(f"a.{c}") == F.col(f"b.{c}") for c in ks]
        + salt_cond
        + [F.col("a.series_id") != F.col("b.series_id")]
    )
    pair_means = (
        a.join(b, cond)
        .select(
            *[F.col(f"a.{c}").alias(c) for c in ks],
            F.col("a.series_id").alias("series_id"),
            F.col("a.prediction").alias("prediction"),
            F.col("b.prediction").alias("other_prediction"),
            F.sqrt(
                F.pow(F.col("a.x") - F.col("b.x"), 2)
                + F.pow(F.col("a.y") - F.col("b.y"), 2)
            ).alias("dist"),
        )
        .groupBy(*ks, "series_id", "prediction", "other_prediction")
        .agg(F.avg("dist").alias("mean_dist"))
    )
    own = pair_means.where(F.col("prediction") == F.col("other_prediction")).select(
        *ks, "series_id", F.col("mean_dist").alias("a_dist")
    )
    other = (
        pair_means.where(F.col("prediction") != F.col("other_prediction"))
        .groupBy(*ks, "series_id")
        .agg(F.min("mean_dist").alias("b_dist"))
    )
    # left join: singleton clusters have no own-cluster pairs → a NULL → s=0
    return (
        pred.select(*ks, "series_id", "prediction")
        .join(own, [*ks, "series_id"], "left")
        .join(other, [*ks, "series_id"], "left")
        .select(
            *ks,
            "series_id",
            "prediction",
            F.when(
                F.col("a_dist").isNull() | F.col("b_dist").isNull(), F.lit(0.0)
            )
            .otherwise(
                (F.col("b_dist") - F.col("a_dist"))
                / F.greatest(F.col("a_dist"), F.col("b_dist"))
            )
            .alias("silhouette"),
        )
    )


def silhouette_score_exact(pred: DataFrame) -> float:
    return silhouette_exact(pred).agg(F.avg("silhouette")).collect()[0][0]


def silhouette_selection(
    emb: DataFrame,
    max_k: int = 10,
    seed: int = 10,
    top_n: int = 5,
    exact: bool = True,
) -> DataFrame:
    """C4 — fit K-Means for k = 2..max_k-1, score each clustering, and
    return the top-``top_n`` k's by silhouette (app.py:790-808 returns
    top-5 with score %).

    Unlike the reference (which re-runs the whole loop twice and
    re-fits the chosen k up to 3×, app.py:2172/2435/2437/2491), each k
    is fitted exactly once, the ASSEMBLED vector frame is cached once
    up front (every fit and evaluation reads the same materialized
    vectors — previously 2(max_k-2) re-assemblies), and the per-k
    fit+score pipelines run CONCURRENTLY: each MLlib fit on a
    dimension-sized embedding is dominated by fixed per-iteration job
    scheduling, so the k's are independent seeded jobs the scheduler
    overlaps — wall-clock ≈ the slowest single fit instead of the sum.
    Results are identical to the serial loop (same seeded models).
    ``exact=False`` uses MLlib's squared-Euclidean ClusteringEvaluator
    (the scalable path).
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.evaluation import ClusteringEvaluator
    from pyspark.ml.feature import VectorAssembler

    spark = emb.sparkSession
    va = VectorAssembler(inputCols=["x", "y"], outputCol="_features")
    vecs = va.transform(emb).cache()
    vecs.count()  # materialize before the loop: one assembly, 2(max_k-2) readers

    def fit_and_score(k: int) -> tuple[int, float]:
        model = KMeans(
            k=k, seed=seed, featuresCol="_features", predictionCol="prediction"
        ).fit(vecs)
        fitted = model.transform(vecs)
        if exact:
            s = silhouette_score_exact(fitted.drop("_features"))
        else:
            s = ClusteringEvaluator(
                featuresCol="_features", predictionCol="prediction"
            ).evaluate(fitted)
        return (k, float(s))

    # one driver thread per k (round-13, guide §2.6): each seeded fit
    # is a chain of tiny scheduling-bound jobs, so a pool narrower
    # than the k count serializes whole fit+score pipelines — measured
    # 8 fits at sf0.1: 8.6 s with 4 workers, 3.5 s with 8. Driver
    # threads are cheap; the executor-side work is unchanged and the
    # scheduler back-fills the fits' straggler tails.
    with ThreadPoolExecutor(max_workers=max(1, max_k - 2)) as pool:
        scores = sorted(pool.map(fit_and_score, range(2, max_k)))
    # the result is a k-row literal — the shared vector cache can go now
    vecs.unpersist()
    top = sorted(scores, key=lambda t: (-t[1], t[0]))[:top_n]
    return spark.createDataFrame(
        [(k, round(s * 100, 1)) for k, s in top], "k int, score_pct double"
    )


# --------------------------------------------------------------------------
# C2 — DBSCAN
# --------------------------------------------------------------------------

def dbscan(
    emb: DataFrame,
    eps: float,
    min_samples: int,
    max_iter: int = 50,
) -> DataFrame:
    """C2 — DBSCAN over (series_id, x, y) (app.py:748-752; sklearn
    semantics: min_samples counts the point itself; label -1 = noise).

    Distributed plan:
      1. bucket points into ε-grid cells; candidate pairs come from a
         3×3 neighboring-cell join (cell key equi-join after exploding
         each point to its 9 neighbor cells — bounded fan-out, no n²);
      2. neighbor counts → core points (≥ min_samples);
      3. connected components over core-core ε-edges by iterative
         min-label propagation (each round: join edges, take min
         neighbor label, converge when no label changes);
      4. border points adopt the cluster of their minimum-labeled core
         ε-neighbor; everything else is -1.

    Labels are the dense rank of each component's minimum series_id —
    deterministic; compare against other implementations with ARI (or
    exact noise-set equality), not raw label values.
    """
    spark = emb.sparkSession
    # the propagation loop runs many small shuffle stages; inheriting a
    # large spark.sql.shuffle.partitions (200 default) makes task
    # overhead dominate. Scope a parallelism-sized setting to this call.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(max(spark.sparkContext.defaultParallelism, 8)),
    )
    pts = emb.select("series_id", "x", "y").cache()

    cell_x = F.floor(F.col("x") / eps).cast("long")
    cell_y = F.floor(F.col("y") / eps).cast("long")
    # each point lands in its own cell; the join side explodes to the
    # 3×3 neighborhood so any ε-pair shares a key
    offsets = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    left = pts.select(
        "series_id", "x", "y", cell_x.alias("cx"), cell_y.alias("cy")
    )
    right = pts.select(
        F.col("series_id").alias("nbr_id"),
        F.col("x").alias("nx"),
        F.col("y").alias("ny"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        (cell_x + dx).alias("cx"), (cell_y + dy).alias("cy")
                    )
                    for dx, dy in offsets
                ]
            )
        ).alias("c"),
    ).select("nbr_id", "nx", "ny", "c.cx", "c.cy")
    dist2 = F.pow(F.col("x") - F.col("nx"), 2) + F.pow(F.col("y") - F.col("ny"), 2)
    edges = (
        left.join(right, ["cx", "cy"])
        .where(dist2 <= eps * eps)  # includes self-pair → self-count
        .select("series_id", "nbr_id")
    ).cache()

    counts = edges.groupBy("series_id").agg(F.count("*").alias("n_nbrs"))
    core = counts.where(F.col("n_nbrs") >= min_samples).select("series_id").cache()

    # core-core edges for the component search, columns renamed so the
    # iterative joins below never alias the same lineage twice
    core_ids = core.select(F.col("series_id").alias("e_src"))
    core_ids2 = core.select(F.col("series_id").alias("e_dst"))
    # the propagation loop's joins/aggs group on e_src/series_id; pin a
    # partition count proportional to the edge set instead of inheriting
    # spark.sql.shuffle.partitions (200 default) — the per-round stages
    # are many and small, so task overhead dominates otherwise
    n_parts = max(edges.sparkSession.sparkContext.defaultParallelism, 8)
    core_edges = (
        edges.select(F.col("series_id").alias("e_src"), F.col("nbr_id").alias("e_dst"))
        .where(F.col("e_src") != F.col("e_dst"))
        .join(core_ids, "e_src")
        .join(core_ids2, "e_dst")
        .repartition(n_parts, "e_src")
        .transform(stage_checkpoint, eager=True)  # truncate lineage before the loop
    )

    # component search: dedup.connected_components carries both the
    # driver-side union-find fast path (small edge lists — the common
    # case for the bounded embedding sets this op clusters, where the
    # old per-round Spark jobs were pure scheduling overhead) and the
    # distributed min-label loop beyond its threshold. Isolated core
    # points (no core-core edge) label themselves.
    from the_framework_for_clustering_time_series_data_spark.operators.dedup import connected_components

    comp_edges = connected_components(
        core_edges, src="e_src", dst="e_dst", max_iter=max_iter
    ).select(F.col("node").alias("series_id"), F.col("component").alias("label"))
    labels = core.join(comp_edges, "series_id", "left").select(
        "series_id",
        F.coalesce(F.col("label"), F.col("series_id")).alias("label"),
    )

    # dense-rank component labels by min member id (deterministic)
    from pyspark.sql.window import Window

    comp = labels.select("series_id", "label")
    rank = (
        comp.select("label").distinct()
        .withColumn("cluster", F.dense_rank().over(tiny_window("label", key="label")) - 1)
    )
    core_labeled = comp.join(rank, "label").select("series_id", "cluster").transform(stage_checkpoint, eager=True)

    # border points: non-core with a core ε-neighbor → min core neighbor's cluster
    non_core = pts.select("series_id").join(core, "series_id", "left_anti")
    border = (
        edges.select(F.col("series_id").alias("b_id"), F.col("nbr_id").alias("b_nbr"))
        .join(non_core.select(F.col("series_id").alias("b_id")), "b_id")
        .join(
            core_labeled.select(
                F.col("series_id").alias("b_nbr"), F.col("cluster").alias("nbr_cluster")
            ),
            "b_nbr",
        )
        .groupBy("b_id")
        .agg(F.min("nbr_cluster").alias("cluster"))
        .select(F.col("b_id").alias("series_id"), "cluster")
    )

    out = (
        pts.select("series_id")
        .join(core_labeled.unionByName(border), "series_id", "left")
        .select(
            "series_id",
            F.coalesce(F.col("cluster"), F.lit(-1)).cast("int").alias("prediction"),
        )
    )
    result = out.cache()
    result.count()
    for c in (pts, edges, core):
        c.unpersist()
    spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return result


# --------------------------------------------------------------------------
# C3 — K-Shape (SIGMOD'15 semantics)
# --------------------------------------------------------------------------

def kshape(
    nested: DataFrame,
    k: int,
    max_iter: int = 20,
    seed: int = 0,
    values_col: str = "values",
) -> DataFrame:
    """C3 — K-Shape clustering of equal-length series per Paparrizos &
    Gravano, SIGMOD'15 (the reference's own call is broken — SURVEY.md
    §2.6 C3 — and its UI feeds the 2-D embedding; this operator
    implements the published algorithm on the series themselves).

    SBD(x, y) = 1 - max_w NCC_c(x, y) (coefficient-normalized
    cross-correlation, FFT-computed); centroid update = principal
    eigenvector of the spread matrix of aligned series (Rayleigh
    quotient maximizer).

    This implementation collects the (n_series × L) matrix to the
    driver — faithful to the reference's single-node scale (thousands
    of series, SURVEY.md §6). For cluster-scale n, swap the assignment
    step to a pandas UDF over broadcast centroids (same math; the
    Lloyd loop stays on the driver either way).
    Deterministic: init = rank(series_id) % k, ties → lowest cluster.
    """
    import numpy as np
    import pandas as pd

    def znorm(a: np.ndarray) -> np.ndarray:
        s = a.std()
        return (a - a.mean()) / s if s > 0 else a - a.mean()

    def ncc_max(x: np.ndarray, y: np.ndarray) -> float:
        # max over shifts of cross-correlation, coefficient normalized
        n = len(x)
        fsize = 1 << (2 * n - 1).bit_length()
        cc = np.fft.irfft(np.fft.rfft(x, fsize) * np.conj(np.fft.rfft(y, fsize)), fsize)
        cc = np.concatenate((cc[-(n - 1):], cc[:n]))
        denom = np.linalg.norm(x) * np.linalg.norm(y)
        return float(cc.max() / denom) if denom > 0 else 0.0

    def shift_to(x: np.ndarray, ref: np.ndarray) -> np.ndarray:
        n = len(x)
        fsize = 1 << (2 * n - 1).bit_length()
        cc = np.fft.irfft(np.fft.rfft(ref, fsize) * np.conj(np.fft.rfft(x, fsize)), fsize)
        cc = np.concatenate((cc[-(n - 1):], cc[:n]))
        shift = int(np.argmax(cc)) - (n - 1)
        if shift >= 0:
            return np.concatenate((np.zeros(shift), x[: n - shift]))
        return np.concatenate((x[-shift:], np.zeros(-shift)))

    def extract_shape(members: np.ndarray, cur: np.ndarray | None) -> np.ndarray:
        n = members.shape[1]
        ref = cur if cur is not None and np.any(cur) else members[0]
        aligned = np.vstack([shift_to(znorm(m), ref) for m in members])
        S = aligned.T @ aligned
        Q = np.eye(n) - np.ones((n, n)) / n
        M = Q @ S @ Q
        _, vecs = np.linalg.eigh(M)
        c = vecs[:, -1]
        # sign disambiguation: centroid closer to the data than its negation
        if np.linalg.norm(aligned[0] - c) > np.linalg.norm(aligned[0] + c):
            c = -c
        return znorm(c)

    pdf_all = nested.select("series_id", values_col).toPandas()
    # driver orchestrates; heavy steps stay in Spark for big n — here the
    # centroid set is tiny so assignment runs as a pandas UDF below.
    spark = nested.sparkSession
    n_len = len(pdf_all[values_col].iloc[0])
    ids = pdf_all["series_id"].to_numpy()
    X = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf_all[values_col]])
    Xz = np.vstack([znorm(x) for x in X])

    labels = (np.argsort(np.argsort(ids)) % k).astype(int)
    centroids = np.zeros((k, n_len))
    for _ in range(max_iter):
        for j in range(k):
            members = Xz[labels == j]
            if len(members):
                centroids[j] = extract_shape(members, centroids[j])
        sims = np.array([[ncc_max(c, x) for c in centroids] for x in Xz])
        new_labels = sims.argmax(axis=1).astype(int)
        if np.array_equal(new_labels, labels):
            break
        labels = new_labels

    out = pd.DataFrame({"series_id": ids, "prediction": labels})
    return spark.createDataFrame(out)


def _round6(c: F.Column) -> F.Column:
    """Half-up 6-dp round — the engine's shared cross-engine rounding
    discipline (``floor(x*1e6+0.5)/1e6`` in both Spark and DuckDB).
    Never yields -0.0 (the integer floor divides to +0.0), so rounded
    values order identically under ASC/DESC in both engines."""
    return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)


def _znorm6(df: DataFrame, src: str, dst: str) -> DataFrame:
    """Sequential-fold z-normalization of an ``array<double>`` column
    with the half-up-6dp discipline: mean and population std are
    LEFT-TO-RIGHT folds (``F.aggregate`` ↔ DuckDB list_aggregate),
    each rounded to 6 dp before use, as is every output element —
    cross-engine-replayable, unlike per-row ``F.avg`` reductions.
    Constant series (sd = 0) center only."""
    L = F.size(F.col(src)).cast("double")
    with_m = df.withColumn(
        "_zm",
        _round6(
            F.aggregate(F.col(src), F.lit(0.0), lambda a, x: a + x) / L
        ),
    )
    with_sd = with_m.withColumn(
        "_zsd",
        _round6(
            F.sqrt(
                F.aggregate(
                    F.col(src),
                    F.lit(0.0),
                    lambda a, x: a + (x - F.col("_zm")) * (x - F.col("_zm")),
                )
                / L
            )
        ),
    )
    z = F.when(
        F.col("_zsd") > 0,
        F.transform(
            F.col(src), lambda x: _round6((x - F.col("_zm")) / F.col("_zsd"))
        ),
    ).otherwise(F.transform(F.col(src), lambda x: _round6(x - F.col("_zm"))))
    return with_sd.withColumn(dst, z).drop("_zm", "_zsd")


def kshape_md5_assign(
    nested: DataFrame,
    k: int,
    max_lag: int = 4,
    rounds: int = 2,
    id_col: str = "series_id",
    values_col: str = "values",
) -> DataFrame:
    """Deterministic, cross-engine-replayable K-Shape twin — the
    c1b/c4b/c6b md5-Lloyd discipline applied to the reference's
    HEADLINE algorithm (app.py:731-737; Paparrizos & Gravano SIGMOD'15
    semantics). The full algorithm's RNG init and eigenvector shape
    extraction are implementation-defined, so :func:`kshape` stays
    rows-only at the gate; this twin replaces exactly those two pieces
    with replayable forms and keeps the K-Shape structure:

    * series are z-normalized (sequential folds, 6-dp half-up — see
      :func:`_znorm6`);
    * initial shape centroids = the ``k`` smallest-md5(id) series;
    * assignment = argmax over (cell, lag ∈ [−max_lag, max_lag]) of
      the coefficient-normalized cross-correlation
      ``NCC(w) = Σ_p x[p]·c[p−w] / √(Σx²·Σc²)`` — every sum a
      SEQUENTIAL fold, NCC rounded 6 dp, ties → (cell, lag) ascending
      (the bounded-lag NCC is the same kernel ts_sbd_pairs oracles);
    * shape update = per-position mean of members SHIFTED by their
      best lag (zero-padded), mean rounded 6 dp, then z-normalized
      with the same sequential discipline — the aligned-mean baseline
      the SIGMOD'15 paper evaluates, standing in for the Rayleigh
      eigenvector;
    * fixed ``rounds`` assignment rounds (no data-dependent
      convergence test — both engines run the identical schedule).

    Input series must be equal length (truncate_to_min upstream).
    Returns ``(id, cell, lag, ncc)`` — final assignment, aligning lag,
    and the 6-dp NCC to the winning centroid. Unlike c1b's ``F.avg``
    centroid means, the member mean here sums exact int64 micro-units
    (the inputs are 6-dp quanta), so every reduction in the pipeline
    is association-order-proof — no probabilistic rounding caveat.

    EAGER CONTRACT: materializes the z-normed input via
    stage_checkpoint (lazily); one short job chain per round.
    """
    v0 = _znorm6(
        nested.select(
            F.col(id_col).alias("id"),
            F.col(values_col).cast("array<double>").alias("_v0"),
        ),
        "_v0",
        "v",
    ).select("id", "v").transform(stage_checkpoint, eager=False)

    cdf = md5_seed_cells(v0, k)

    lag_arr = F.array(*[F.lit(w) for w in range(-max_lag, max_lag + 1)])

    def _assign(centroids: DataFrame) -> DataFrame:
        j = (
            v0.crossJoin(F.broadcast(centroids))
            .withColumn("lag", F.explode(lag_arr))
        )
        L = F.size("v")
        # Guard the degenerate overlap (series shorter than max_lag+1,
        # where start > stop): Spark's sequence(start, stop) would emit
        # a DESCENDING range there — element_at past the array end →
        # nulls → cc/ncc diverging from the DuckDB twin whose
        # range(start, stop+1) is simply empty (coalesce 0). An empty
        # array keeps both engines at cc = 0 for the impossible lags.
        _start = F.greatest(F.lit(1), F.lit(1) + F.col("lag"))
        _stop = F.least(L, L + F.col("lag"))
        overlap = F.when(_start <= _stop, F.sequence(_start, _stop)).otherwise(
            F.array().cast("array<int>")
        )
        cc = F.aggregate(
            overlap,
            F.lit(0.0),
            lambda acc, p: acc
            + F.element_at(F.col("v"), p)
            * F.element_at(F.col("cvec"), (p - F.col("lag")).cast("int")),
        )
        sx2 = F.aggregate(F.col("v"), F.lit(0.0), lambda a, x: a + x * x)
        sc2 = F.aggregate(F.col("cvec"), F.lit(0.0), lambda a, x: a + x * x)
        den = sx2 * sc2
        ncc = F.when(den > 0, _round6(cc / F.sqrt(den))).otherwise(F.lit(0.0))
        # argmax as a map-side-combinable min_by on (-ncc, cell, lag):
        # best NCC wins, ties → smaller cell, then smaller lag — the
        # ts_sbd_pairs tie discipline (6-dp-rounded NCC, so the argmax
        # is deterministic cross-engine)
        best = (
            j.withColumn("ncc", ncc)
            .groupBy("id")
            .agg(
                F.min_by(
                    F.struct("cell", "v", "lag", "ncc"),
                    F.struct(
                        (F.col("ncc") * F.lit(-1.0)).alias("_neg"),
                        "cell",
                        "lag",
                    ),
                ).alias("_b")
            )
        )
        return best.select("id", "_b.v", "_b.cell", "_b.lag", "_b.ncc")

    a = _assign(cdf)
    for _ in range(rounds - 1):
        L = F.size("v")
        shifted = F.transform(
            F.sequence(F.lit(1), L),
            lambda q: F.when(
                ((q + F.col("lag")) >= 1) & ((q + F.col("lag")) <= L),
                F.element_at(F.col("v"), (q + F.col("lag")).cast("int")),
            ).otherwise(F.lit(0.0)),
        )
        ex = a.select("cell", F.posexplode(shifted).alias("pos", "val"))
        # association-order-PROOF member mean (unlike c1b's F.avg): the
        # values are already 6-dp quanta, so summing them as exact
        # int64 micro-units is order-free under any partial-aggregation
        # plan; one double division + half-up round then matches DuckDB
        # bit-for-bit (the 1e-6*40-series boundary flip observed at
        # sf0.1 with F.avg cannot occur)
        micro = F.floor(F.col("val") * F.lit(1e6) + F.lit(0.5)).cast("long")
        cm = ex.groupBy("cell", "pos").agg(
            (
                F.floor(
                    F.sum(micro).cast("double") / F.count("*") + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("cv")
        )
        cg = cm.groupBy("cell").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "cv"))),
                lambda s: s.cv,
            ).alias("_cg")
        )
        cdf = _znorm6(cg, "_cg", "cvec").select("cell", "cvec")
        a = _assign(cdf)
    return a.select("id", "cell", "lag", "ncc")


def gmm_md5em_assign(
    df: DataFrame,
    k: int,
    dim: int = 2,
    em_rounds: int = 2,
    var_floor: float = 1e-6,
    id_col: str = "id",
    vec_col: str = "v",
) -> DataFrame:
    """Deterministic, cross-engine-replayable diagonal-covariance GMM
    twin — the md5-Lloyd discipline applied to EM, standing in for
    MLlib GaussianMixture (c7) whose random init and float-reduction
    responsibilities are implementation-defined.

    Replayable schedule: input vectors quantized to 6 dp; initial
    means = the ``k`` smallest-md5(id) vectors, unit variances, uniform
    weights; each of the fixed ``em_rounds`` E-steps computes diagonal
    Gaussian log-densities with SEQUENTIAL dimension folds and
    normalizes responsibilities with the log-sum-exp trick folded in
    CELL ORDER (underflow-proof, order-deterministic), rounding each
    responsibility half-up to 6 dp; the M-step between rounds updates
    weights/means/variances from the ROUNDED responsibilities (counts
    via exact int64 micro-sums; mean/variance numerators are float
    sums), floors variances at ``var_floor``, rounds every parameter
    to 6 dp, and drops cells whose soft count rounds to zero.

    PARITY IS PROBABILISTIC, NOT ABSOLUTE (documented contract, same
    class as the matrix-profile discipline): exp/ln are not
    IEEE-mandated correctly-rounded, and the float M-step numerators
    are association-order-dependent — each 6-dp round can flip across
    engines with probability ~1e-10/value. The 6-dp rounding of every
    decision input makes the assignment argmax and the emitted
    confidences agree except on those measure-zero boundaries.

    Returns ``(id, cell, r)`` — hard assignment (argmax responsibility,
    ties → smaller cell) and the winning 6-dp responsibility.
    EAGER CONTRACT: one ``count()`` job for the corpus size plus one
    short job chain per round (stage_checkpoint, lazy).
    """
    import math

    v0 = (
        df.select(
            F.col(id_col).alias("id"),
            F.transform(
                F.col(vec_col).cast("array<double>"), lambda x: _round6(x)
            ).alias("v"),
        )
        .transform(stage_checkpoint, eager=False)
    )
    n_total = v0.count()

    params = md5_seed_cells(v0, k).select(
        "cell",
        F.col("cvec").alias("mu"),
        F.transform(F.col("cvec"), lambda _: F.lit(1.0)).alias("var"),
        F.lit(1.0 / k).alias("w"),
    )

    two_pi = F.lit(2.0 * math.pi)

    def _estep(p: DataFrame) -> DataFrame:
        j = v0.crossJoin(F.broadcast(p))
        # per-dimension term parenthesized as ONE unit so the fold is
        # acc + (quad_d + log_d) — the association the oracle's list
        # elements produce (acc + A + C would differ in ulps)
        quad = F.aggregate(
            F.sequence(F.lit(1), F.size("v")),
            F.lit(0.0),
            lambda acc, d: acc
            + (
                (F.element_at(F.col("v"), d) - F.element_at(F.col("mu"), d))
                * (F.element_at(F.col("v"), d) - F.element_at(F.col("mu"), d))
                / F.element_at(F.col("var"), d)
                + F.log(two_pi * F.element_at(F.col("var"), d))
            ),
        )
        rows = j.select(
            "id", "v", "cell", (F.log("w") + F.lit(-0.5) * quad).alias("s")
        )
        g = (
            rows.groupBy("id")
            .agg(
                F.first("v").alias("v"),  # identical per id
                F.sort_array(F.collect_list(F.struct("cell", "s"))).alias("cs"),
            )
            .withColumn(
                "m", F.array_max(F.transform("cs", lambda x: x["s"]))
            )
            .withColumn(
                "den",
                F.aggregate(
                    F.col("cs"),
                    F.lit(0.0),
                    lambda a, x: a + F.exp(x["s"] - F.col("m")),
                ),
            )
        )
        return g.select(
            "id",
            "v",
            F.explode(
                F.transform(
                    "cs",
                    lambda x: F.struct(
                        x["cell"].alias("cell"),
                        _round6(
                            F.exp(x["s"] - F.col("m")) / F.col("den")
                        ).alias("r"),
                    ),
                )
            ).alias("cr"),
        ).select("id", "v", "cr.cell", "cr.r")

    resp = _estep(params)
    for _ in range(em_rounds - 1):
        # the M-step consumes resp TWICE (soft-count/mean aggregate +
        # the variance pass joined back on the new means), and the next
        # round's E-step re-derives everything upstream of params — the
        # unrolled DAG re-instantiated each E-step per consumer (the
        # 18-exchange c7b plan). Checkpoint the (n×k)-row responsibility
        # frame so the E-step runs once per round (guide §2.4, the c4b
        # fusion lesson applied to EM).
        resp = resp.transform(stage_checkpoint, eager=False)
        micro_r = F.floor(F.col("r") * F.lit(1e6) + F.lit(0.5)).cast("long")
        aggs = [F.sum(micro_r).alias("nr")] + [
            F.sum(F.col("r") * F.element_at(F.col("v"), d)).alias(f"_s{d}")
            for d in range(1, dim + 1)
        ]
        nc = F.col("nr").cast("double") / F.lit(1e6)
        base = (
            resp.groupBy("cell")
            .agg(*aggs)
            .where(F.col("nr") > 0)
            .select(
                "cell",
                _round6(nc / F.lit(float(n_total))).alias("w"),
                F.array(
                    *[_round6(F.col(f"_s{d}") / nc) for d in range(1, dim + 1)]
                ).alias("mu"),
                F.col("nr").alias("nr"),
            )
        )
        withmu = resp.join(F.broadcast(base), "cell")
        var_aggs = [
            F.sum(
                F.col("r")
                * (F.element_at(F.col("v"), d) - F.element_at(F.col("mu"), d))
                * (F.element_at(F.col("v"), d) - F.element_at(F.col("mu"), d))
            ).alias(f"_q{d}")
            for d in range(1, dim + 1)
        ]
        params = (
            withmu.groupBy("cell")
            .agg(
                F.first("w").alias("w"),
                F.first("mu").alias("mu"),
                F.first("nr").alias("nr"),
                *var_aggs,
            )
            .select(
                "cell",
                "mu",
                F.array(
                    *[
                        F.greatest(
                            _round6(F.col(f"_q{d}") / nc), F.lit(var_floor)
                        )
                        for d in range(1, dim + 1)
                    ]
                ).alias("var"),
                "w",
            )
        )
        # ≤ k parameter rows — checkpointing them truncates the nested
        # broadcast chain the next E-step would otherwise re-plan (the
        # Lloyd-centroid-table discipline, guide §2.4)
        params = params.transform(stage_checkpoint, eager=False)
        resp = _estep(params)
    best = resp.groupBy("id").agg(
        F.min_by(
            F.struct("cell", "r"),
            F.struct((F.col("r") * F.lit(-1.0)).alias("_n"), "cell"),
        ).alias("_b")
    )
    return best.select("id", "_b.cell", "_b.r")


def pam_md5_assign(
    df: DataFrame,
    k: int,
    rounds: int = 2,
    id_col: str = "id",
    vec_col: str = "v",
    dim: int = 2,
) -> DataFrame:
    """Deterministic, cross-engine-replayable PAM (k-medoids) twin —
    the c1b/c3b/c7b md5 discipline applied to the alternating
    Voronoi scheme :func:`kmedoids` runs (reference context
    app.py:704-737's clustering tab; PAM is the outlier-robust
    centers-are-members sibling). The full :func:`kmedoids` stays
    rows-only at the gate because its convergence loop is
    data-dependent; this twin replaces exactly the non-replayable
    pieces and keeps the PAM structure:

    * init: medoids = the ``k`` smallest-md5(id) points (cell = md5
      rank), replacing the farthest-point chain;
    * assignment: argmin over the broadcast medoids of the squared
      Euclidean distance — a fixed-order two-term sum of IEEE
      products, bit-identical across engines; ties → smaller cell
      (the c1b ``(d2, cell)`` discipline), expressed as a map-side
      combinable ``min_by``;
    * medoid update: per cluster, the member minimizing the summed
      distance to all members — each pairwise distance half-up
      6-dp-rounded into exact int64 MICRO-units before the sum, so
      the reduction is association-order-proof under any partial
      aggregation plan; ties → smaller id. The per-cluster quadratic
      self-join is hash-local per cell (the same bounded-exact shape
      :func:`kmedoids` documents; CLARA is the uncapped scale path);
    * fixed ``rounds`` update rounds, then one final assignment —
      both engines run the identical schedule.

    Returns ``(id, cell, dist)`` — final cell and the 6-dp distance
    to the winning medoid.
    """
    pts = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    meds = md5_seed_cells(pts, k).withColumnRenamed("cvec", "mvec")

    def _d2(a: str, b: str) -> F.Column:
        # fixed-order sum of IEEE products — no pow(), no fold
        acc = None
        for j in range(dim):
            t = (F.col(a)[j] - F.col(b)[j]) * (F.col(a)[j] - F.col(b)[j])
            acc = t if acc is None else acc + t
        return acc

    def _assign(meds: DataFrame) -> DataFrame:
        j = pts.crossJoin(F.broadcast(meds)).withColumn("_q", _d2("v", "mvec"))
        best = j.groupBy("id").agg(
            F.min_by(
                F.struct("v", "cell", "_q"), F.struct("_q", "cell")
            ).alias("_b")
        )
        return best.select("id", "_b.v", "_b.cell", "_b._q")

    a = _assign(meds)
    for _ in range(rounds):
        # the round's assignment feeds BOTH sides of the per-cell
        # self-join — checkpoint so the assign + upstream rounds run
        # once per round, not once per consumer (guide §2.4)
        a = a.transform(stage_checkpoint, eager=False)
        rhs = a.select(F.col("cell").alias("_c2"), F.col("v").alias("v2"))
        pairs = a.join(rhs, F.col("cell") == F.col("_c2"))
        # 6-dp micro-unit distance: floor(d*1e6+0.5) as int64 — the
        # association-order-proof sum discipline (c3b/c8b); the
        # self-pair contributes an exact 0 in both engines
        micro = F.floor(
            F.sqrt(_d2("v", "v2")) * F.lit(1e6) + F.lit(0.5)
        ).cast("long")
        cost = pairs.groupBy("cell", "id", "v").agg(
            F.sum(micro).alias("_cost")
        )
        meds = cost.groupBy("cell").agg(
            F.min_by(F.struct("v"), F.struct("_cost", "id")).alias("_m")
        ).select("cell", F.col("_m.v").alias("mvec"))
        a = _assign(meds)
    return a.select(
        "id",
        "cell",
        (F.floor(F.sqrt(F.col("_q")) * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "dist"
        ),
    )


# --------------------------------------------------------------------------
# C6+ — Spark-native clustering beyond the reference's three algorithms
# (the reference stops at KMeans/DBSCAN/K-Shape, app.py:704-824; these
# are the MLlib family members a Spark-first engine gets distributed
# for free, exposed through the same fit-predict surface)
# --------------------------------------------------------------------------

def bisecting_kmeans_fit_predict(
    emb: DataFrame, k: int, seed: int = 10, feature_cols: tuple[str, ...] = ("x", "y")
) -> tuple[DataFrame, list[list[float]]]:
    """Hierarchical (divisive) clustering via MLlib BisectingKMeans —
    the scalable stand-in for sklearn AgglomerativeClustering: top-down
    splits need k passes over the data instead of the bottom-up O(n²)
    merge matrix, so it survives cluster-scale n."""
    from pyspark.ml.clustering import BisectingKMeans
    from pyspark.ml.feature import VectorAssembler

    va = VectorAssembler(inputCols=list(feature_cols), outputCol="_features")
    vecs = va.transform(emb)
    model = BisectingKMeans(
        k=k, seed=seed, featuresCol="_features", predictionCol="prediction"
    ).fit(vecs)
    out = model.transform(vecs).drop("_features")
    return out, [[float(x) for x in c] for c in model.clusterCenters()]


def gmm_fit_predict(
    emb: DataFrame, k: int, seed: int = 10, feature_cols: tuple[str, ...] = ("x", "y")
) -> DataFrame:
    """Soft clustering via MLlib GaussianMixture (distributed EM).
    Returns hard assignments plus the posterior of the chosen component
    (``confidence``) — the soft-membership information KMeans discards.
    Seeded; EM on fixed data/partitioning is deterministic."""
    from pyspark.ml.clustering import GaussianMixture
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.functions import vector_to_array

    va = VectorAssembler(inputCols=list(feature_cols), outputCol="_features")
    vecs = va.transform(emb)
    model = GaussianMixture(
        k=k, seed=seed, featuresCol="_features", predictionCol="prediction",
        probabilityCol="_prob",
    ).fit(vecs)
    return (
        model.transform(vecs)
        .withColumn("confidence", F.round(F.array_max(vector_to_array("_prob")), 6))
        .drop("_features", "_prob")
    )


def power_iteration_clusters(
    pairs: DataFrame,
    k: int,
    max_iter: int = 20,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    weight_col: str = "jaccard",
    disk_edge_rows: int = 2_000_000,
) -> DataFrame:
    """Graph clustering of a similarity pair list (e.g. near-duplicate
    pairs from dedup.ngram_jaccard_pairs) via MLlib
    PowerIterationClustering: embeds the affinity graph's nodes by
    power-iterating the normalized affinity matrix, then k-means on the
    1-D embedding — O(edges) per iteration, all distributed, no n×n
    matrix ever materializes. Returns (id, cluster) for every node that
    appears in at least one pair."""
    from pyspark import StorageLevel
    from pyspark.ml.clustering import PowerIterationClustering

    # Materialize the edge frame ON DISK first: PIC's internal RDD
    # conversion re-evaluates its input several times per power
    # iteration — without materializing, an expensive upstream (the
    # pair kernel) reruns each time. DISK_ONLY (not a memory-backed
    # localCheckpoint) because the edge frame is PIC's per-iteration
    # re-read state: at the third measured decade (sf100, 5M docs) the
    # memory-resident edge blocks plus PIC's own cached vectors pressed
    # the 48 GiB local JVM into GCLocker allocation retries (round-11
    # verdict) — a disk-backed edge frame keeps every power iteration a
    # sequential columnar read and leaves the heap to PIC's internals.
    g = pairs.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
        F.col(weight_col).cast("double").alias("weight"),
    ).persist(StorageLevel.DISK_ONLY)
    # Size the partitioning to the EDGE COUNT (cheap: the count also
    # materializes the persist): every power iteration launches one
    # task per partition, so a 256-edge graph inheriting the kernel's
    # 13+ shuffle partitions pays ~10×13 empty-task schedulings — the
    # dominant cost at small SF (measured 7.0s → 1.7s at sf0.1).
    # Large graphs keep their partitioning: coalesce only shrinks,
    # targeting ~50k edges/partition.
    n_edges = g.count()
    target = max(1, min(g.rdd.getNumPartitions(), 1 + n_edges // 50_000))
    if n_edges < disk_edge_rows:
        # small graph: promote to an executor-memory localCheckpoint
        # (reading the just-written disk blocks once) so the iteration
        # loop runs at memory speed, and drop the disk copy
        g2 = g.coalesce(target) if target < g.rdd.getNumPartitions() else g
        g2 = g2.localCheckpoint(eager=True)
        g.unpersist(blocking=False)
        g = g2
    elif target < g.rdd.getNumPartitions():
        g = g.coalesce(target)
    pic = PowerIterationClustering(k=k, maxIter=max_iter, initMode="degree", weightCol="weight")
    return pic.assignClusters(g).select(F.col("id"), F.col("cluster"))


# --------------------------------------------------------------------------
# C9 — K-medoids (PAM-style, distributed steps, driver-coordinated loop)
# --------------------------------------------------------------------------


def _pam_numpy(ids: list, X, k: int, max_iter: int = 20) -> list:
    """Driver-side PAM on a small sample (the CLARA inner loop):
    same deterministic conventions as the distributed PAM — greedy
    farthest-point init seeded at the smallest md5(id), every argmin
    tie-broken toward the smaller id. Returns the medoid ids."""
    import hashlib

    import numpy as np

    s = len(ids)
    k = min(k, s)
    diff = X[:, None, :] - X[None, :, :]
    D = np.sqrt((diff**2).sum(axis=2))
    id_rank = sorted(
        range(s), key=lambda i: (hashlib.md5(str(ids[i]).encode()).hexdigest(), str(ids[i]))
    )
    med = [id_rank[0]]
    while len(med) < k:
        dmin = D[:, med].min(axis=1)
        cands = [i for i in range(s) if i not in med]
        dbest = max(dmin[i] for i in cands)
        # farthest point next; deterministic tie-break → smaller id
        med.append(
            min((i for i in cands if dmin[i] == dbest), key=lambda i: ids[i])
        )
    by_id = sorted(range(s), key=lambda i: ids[i])
    pos = {i: r for r, i in enumerate(by_id)}  # id order for tie-breaks
    for _ in range(max_iter):
        med_sorted = sorted(med, key=lambda i: ids[i])
        dm = D[:, med_sorted]
        assign = dm.argmin(axis=1)  # first (= smallest medoid id) wins ties
        new_med = []
        for c in range(len(med_sorted)):
            members = np.flatnonzero(assign == c)
            costs = D[np.ix_(members, members)].sum(axis=1)
            order = sorted(
                range(len(members)), key=lambda j: (costs[j], pos[members[j]])
            )
            new_med.append(int(members[order[0]]))
        if sorted(new_med) == sorted(med):
            break
        med = new_med
    return sorted((ids[i] for i in med))


def kmedoids(
    emb: DataFrame,
    k: int = 3,
    max_iter: int = 10,
    feature_cols: tuple[str, ...] = ("x", "y"),
    method: str = "pam",
    clara_samples: int = 5,
    clara_sample_size: int | None = None,
) -> DataFrame:
    """K-medoids over the embedding coordinates — the outlier-robust
    sibling of C1's K-Means (centers are actual MEMBERS minimizing
    total intra-cluster distance, so a single far outlier cannot drag
    a center). MLlib has no k-medoids; this is the alternating PAM
    scheme with every step distributed:

    * assignment: broadcast the k medoid rows, min-distance argmin per
      point via a window over k candidates (ties → smaller medoid id);
    * update: per cluster, the member minimizing the summed distance
      to its cluster — a cluster-keyed self-join (O(Σ nᵢ²), each
      cluster's quadratic term local to its hash partition) + argmin
      window (ties → smaller id);
    * convergence: the driver compares k medoid ids per round (a
      k-row collect — the only driver data) and stops when stable.

    Deterministic end-to-end: greedy farthest-point init (first
    medoid = smallest md5(series_id); each next = the point farthest
    from its nearest chosen medoid, ties → smaller id — k tiny
    1-row collects), and every argmin tie-breaks on id. Farthest
    -point guarantees one seed per well-separated mass, the failure
    mode a hash init leaves open (two seeds in one blob is a PAM
    local optimum the alternation cannot escape).

    ``method="clara"`` is the fleet-scale form: PAM fitted on
    ``clara_samples`` deterministic md5-salted samples of
    ``clara_sample_size`` (default 40+2k, Kaufman & Rousseeuw's
    recommendation) driver-side, each candidate medoid set scored
    against the full corpus with one linear broadcast pass, best set
    wins — the quadratic update never touches the corpus.
    Returns (series_id, prediction, is_medoid).
    """
    cols = list(feature_cols)
    pts = emb.select("series_id", *cols).cache()

    def dist2(a_prefix: str, b_prefix: str):
        d = None
        for c in cols:
            t = (F.col(f"{a_prefix}{c}") - F.col(f"{b_prefix}{c}")) ** 2
            d = t if d is None else d + t
        return F.sqrt(d)

    if method not in ("pam", "clara"):
        raise ValueError(f"unknown kmedoids method {method!r}")

    idt = emb.schema["series_id"].dataType.simpleString()
    med_schema = f"_mid {idt}, " + ", ".join(f"_m{c} double" for c in cols)

    def finalize(medoid_ids: list, assign: DataFrame) -> DataFrame:
        # relabel clusters 0..k-1 by medoid id order for stable output
        label = {mid: i for i, mid in enumerate(sorted(medoid_ids))}
        mapping = F.create_map(
            *[F.lit(x) for pair in label.items() for x in pair]
        )
        out = assign.select(
            "series_id",
            mapping[F.col("prediction")].alias("prediction"),
            F.col("series_id").isin(medoid_ids).alias("is_medoid"),
        )
        pts.unpersist()
        return out

    def assign_to_rows(med_rows: list) -> DataFrame:
        med = F.broadcast(
            emb.sparkSession.createDataFrame(med_rows, med_schema)
        )
        cand = pts.crossJoin(med).withColumn("_d", dist2("", "_m"))
        w = Window.partitionBy("series_id").orderBy("_d", "_mid")
        return (
            cand.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("series_id", *cols, F.col("_mid").alias("prediction"))
        )

    if method == "clara":
        # CLARA (Kaufman & Rousseeuw 1990): PAM exactly, but fitted on
        # small deterministic samples — the scale path the PAM
        # docstring promises. Each of ``clara_samples`` md5-salted
        # samples (the engine's reproducible-sample discipline) is
        # PAM-solved ON THE DRIVER (40+2k rows — microseconds), then
        # scored against the FULL corpus with one broadcast
        # assignment pass; the cheapest medoid set wins. Total
        # distributed cost: clara_samples+1 linear broadcast passes —
        # no Σ nᵢ² pair join ever touches the corpus, so this form
        # holds at 100k+ points where PAM's quadratic update cannot.
        import numpy as np

        from concurrent.futures import ThreadPoolExecutor

        s_size = clara_sample_size or (40 + 2 * k)
        # materialize the cache ONCE before the concurrent trials (five
        # threads racing to build the same cache would duplicate the scan)
        pts.count()

        def solve_trial(t: int):
            # md5-salted deterministic sample via orderBy+limit —
            # TakeOrderedAndProject, i.e. map-side top-K with a driver
            # merge: no shuffle, no single-task corpus sort, the form
            # that holds at fleet scale. The trials are independent
            # seeded jobs the scheduler overlaps (same pattern as
            # silhouette_selection) — wall-clock ≈ one trial instead of
            # clara_samples sequential job rounds.
            salt = f"clara{t}:"
            sample = (
                pts.orderBy(
                    F.md5(
                        F.concat(F.lit(salt), F.col("series_id").cast("string"))
                    ),
                    "series_id",
                )
                .limit(s_size)
                .collect()
            )
            ids = [r["series_id"] for r in sample]
            X = np.array([[r[c] for c in cols] for r in sample], dtype=float)
            mids = _pam_numpy(ids, X, k)
            chosen = set(mids)
            med_rows = [
                tuple([r["series_id"]] + [float(r[c]) for c in cols])
                for r in sample
                if r["series_id"] in chosen
            ]
            return (t, mids, med_rows)

        with ThreadPoolExecutor(max_workers=clara_samples) as pool:
            cand_rows = sorted(pool.map(solve_trial, range(clara_samples)))
        # score ALL candidate medoid sets in ONE broadcast pass: the
        # tagged union of every trial's k medoids (clara_samples × k
        # rows, still broadcast-tiny) cross-joins the corpus once;
        # per-(trial, point) min distance then per-trial sum gives every
        # trial's cost in a single job instead of clara_samples jobs.
        tagged = [
            (t,) + row for t, _, rows in cand_rows for row in rows
        ]
        med_all = F.broadcast(
            emb.sparkSession.createDataFrame(
                tagged, f"_trial int, {med_schema}"
            )
        )
        costs = {
            r["_trial"]: r["c"]
            for r in (
                pts.crossJoin(med_all)
                .withColumn("_d", dist2("", "_m"))
                .groupBy("_trial", "series_id")
                .agg(F.min("_d").alias("_dmin"))
                .groupBy("_trial")
                .agg(F.sum("_dmin").alias("c"))
                .collect()
            )
        }
        best = min(
            (costs[t], mids, rows) for t, mids, rows in cand_rows
        )
        assign = assign_to_rows(best[2]).transform(stage_checkpoint, eager=True)
        return finalize(best[1], assign)

    first = (
        pts.select("series_id")
        .orderBy(F.md5(F.col("series_id").cast("string")), "series_id")
        .limit(1)
        .collect()[0]["series_id"]
    )
    medoid_ids = [first]
    while len(medoid_ids) < k:
        med = pts.where(F.col("series_id").isin(medoid_ids)).select(
            F.col("series_id").alias("_mid"),
            *[F.col(c).alias(f"_m{c}") for c in cols],
        )
        nearest = (
            pts.crossJoin(F.broadcast(med))
            .withColumn("_d", dist2("", "_m"))
            .groupBy("series_id")
            .agg(F.min("_d").alias("_dmin"))
        )
        # exclude already-chosen medoids so k > n distinct points can
        # never append duplicates; an empty frontier means the point
        # set is exhausted — clamp k to it rather than looping
        frontier = (
            nearest.where(~F.col("series_id").isin(medoid_ids))
            .orderBy(F.col("_dmin").desc(), "series_id")
            .limit(1)
            .collect()
        )
        if not frontier:
            break
        medoid_ids.append(frontier[0]["series_id"])

    def assign_to(mids):
        med = pts.where(F.col("series_id").isin(mids)).select(
            F.col("series_id").alias("_mid"),
            *[F.col(c).alias(f"_m{c}") for c in cols],
        )
        cand = pts.crossJoin(F.broadcast(med)).withColumn(
            "_d", dist2("", "_m")
        )
        w = Window.partitionBy("series_id").orderBy("_d", "_mid")
        return (
            cand.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("series_id", *cols, F.col("_mid").alias("prediction"))
            .transform(stage_checkpoint, eager=True)
        )

    assign = None
    converged = False
    for _ in range(max_iter):
        assign = assign_to(medoid_ids)
        a = assign.select(
            "prediction",
            F.col("series_id").alias("_ida"),
            *[F.col(c).alias(f"_a{c}") for c in cols],
        )
        b = assign.select(
            "prediction",
            F.col("series_id").alias("_idb"),
            *[F.col(c).alias(f"_b{c}") for c in cols],
        )
        costs = (
            a.join(b, "prediction")
            .withColumn("_d", dist2("_a", "_b"))
            .groupBy("prediction", "_ida")
            .agg(F.sum("_d").alias("_cost"))
        )
        wbest = Window.partitionBy("prediction").orderBy("_cost", "_ida")
        new_ids = sorted(
            r["_ida"]
            for r in costs.withColumn("_rn", F.row_number().over(wbest))
            .where(F.col("_rn") == 1)
            .collect()
        )
        if new_ids == sorted(medoid_ids):
            converged = True
            break
        medoid_ids = new_ids
    if not converged:
        # max_iter exhaustion: the last swap advanced medoid_ids AFTER
        # assign was computed — recompute once so predictions, the
        # relabel map, and is_medoid all use the FINAL medoid set
        assign = assign_to(medoid_ids)
    # assign is eagerly checkpointed — pts is no longer referenced
    return finalize(medoid_ids, assign)


# --------------------------------------------------------------------------
# C10 — single-linkage clustering at a distance threshold
# --------------------------------------------------------------------------


def single_link(
    emb: DataFrame,
    d: float,
    feature_cols: tuple[str, ...] = ("x", "y"),
) -> DataFrame:
    """Single-linkage hierarchical clustering CUT AT distance ``d``:
    two points share a cluster iff a chain of ≤d hops connects them —
    exactly the connected components of the d-threshold graph, which
    is how SLINK's dendrogram level is computed distributively (a full
    agglomerative merge matrix is O(n²) memory and inherently
    sequential; the threshold cut is the parallelizable query).

    Reuses the engine's two graph primitives: the ε-grid equi-join
    (dbscan's candidate generator — only 3×3 neighbor cells pair, so
    no quadratic scan) builds the threshold edges, and min-label
    propagation (dedup.connected_components) closes them transitively.
    Returns (series_id, cluster, cluster_size) with cluster = min
    member id, singletons included.
    """
    from the_framework_for_clustering_time_series_data_spark.operators.dedup import connected_components

    if d <= 0:
        raise ValueError(
            f"single_link: threshold d must be > 0, got {d} "
            "(d=0 divides the grid-cell computation by zero; negative d "
            "scrambles the cell join)"
        )
    cols = list(feature_cols)
    pts = emb.select("series_id", *cols).cache()
    cx = F.floor(F.col(cols[0]) / d).cast("long")
    cy = F.floor(F.col(cols[1]) / d).cast("long")
    offsets = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    left = pts.select("series_id", *cols, cx.alias("cx"), cy.alias("cy"))
    right = pts.select(
        F.col("series_id").alias("nbr_id"),
        *[F.col(c).alias(f"n_{c}") for c in cols],
        F.explode(
            F.array(
                *[
                    F.struct((cx + dx).alias("cx"), (cy + dy).alias("cy"))
                    for dx, dy in offsets
                ]
            )
        ).alias("c"),
    ).select("nbr_id", *[f"n_{c}" for c in cols], "c.cx", "c.cy")
    dist2 = sum(
        (F.col(c) - F.col(f"n_{c}")) ** 2 for c in cols
    )
    edges = (
        left.join(right, ["cx", "cy"])
        .where((F.col("nbr_id") > F.col("series_id")) & (dist2 <= d * d))
        .select(F.col("series_id").alias("id_a"), F.col("nbr_id").alias("id_b"))
    )
    comp = connected_components(edges).withColumnRenamed("node", "series_id")
    out = pts.select("series_id").join(comp, "series_id", "left").select(
        "series_id",
        F.coalesce(F.col("component"), F.col("series_id")).alias("cluster"),
    )
    w = Window.partitionBy("cluster")
    # materialize before unpersisting pts (the result plan reads it)
    res = out.withColumn("cluster_size", F.count("*").over(w)).transform(
        stage_checkpoint, eager=True
    )
    pts.unpersist()
    return res


# --------------------------------------------------------------------------
# C11 — DTW Barycenter Averaging (DBA), deterministic twin
# --------------------------------------------------------------------------

def dba_md5(
    nested: DataFrame,
    n_series: int = 12,
    length: int = 24,
    rounds: int = 2,
) -> DataFrame:
    """C11 — deterministic DTW Barycenter Averaging (Petitjean et al.,
    Pattern Recognition 2011): the centroid computation under the DTW
    metric that tslearn-style TimeSeriesKMeans uses where the
    reference's K-Shape uses SBD (app.py:731-737 family). Fully
    replayable, hence fully DuckDB-oracle-able:

    * corpus = the ``n_series`` smallest-md5(id) equal-``length``
      series, values quantized to INT64 micro-units (floor(v*1e6+.5))
      — from here the ENTIRE computation is integer-exact;
    * b0 = per-position mean, integer round-half-up
      ``(2*sum + cnt) // (2*cnt)`` (values nonnegative);
    * each round: exact integer DTW path of every series against the
      broadcast barycenter (:func:`~.align._dtw_path`, distributed via
      applyInPandas — per-series work is embarrassingly parallel), new
      barycenter[j] = integer round-half-up mean of ALL aligned values
      across series, inertia = sum of path distances;
    * fixed ``rounds`` (no data-dependent stopping — both engines run
      the identical schedule).

    Per round, only the path cells come back to the driver —
    ``n_series * (2*length)`` rows of bounded model state (the
    barycenter update), never corpus data; exact Python-int sums
    mirror DuckDB's HUGEINT. Returns the full round history
    ``(rnd, j, bary, inertia)`` — barycenter trajectories plus the
    monotone DBA inertia — so the oracle verifies every iteration,
    not just the fixed point.
    """
    spark = nested.sparkSession
    MICRO = 1_000_000
    sub = (
        nested.where(F.size("values") >= length)
        .select(
            "series_id",
            F.transform(
                F.slice("values", 1, length),
                lambda x: F.floor(x * MICRO + F.lit(0.5)).cast("long"),
            ).alias("vus"),
        )
        .withColumn("_h", F.md5(F.col("series_id").cast("string")))
        .orderBy("_h", "series_id")
        .limit(n_series)
        .drop("_h")
        .transform(stage_checkpoint, eager=False)
    )

    rows = (
        sub.select(F.posexplode("vus").alias("j", "v"))
        .groupBy("j")
        .agg(F.sum("v").alias("s"), F.count("*").alias("c"))
        .collect()
    )
    if not rows:
        raise ValueError(
            f"dba_md5: no input series has >= {length} points; "
            "shorten `length` or check the upstream filter"
        )
    b = [0] * length
    for r in rows:
        b[r["j"]] = (2 * r["s"] + r["c"]) // (2 * r["c"])
    barys, inertias = [list(b)], [0]

    import pandas as pd

    for _ in range(rounds):
        bref = list(b)

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            out = {"series_id": [], "j": [], "a_us": [], "dist_us": []}
            for sid, vals in zip(pdf["series_id"], pdf["vus"]):
                path, dist = _dtw_path(vals, bref)
                for pi, pj in path:
                    out["series_id"].append(sid)
                    out["j"].append(pj)
                    out["a_us"].append(int(vals[pi]))
                    out["dist_us"].append(dist)
            return pd.DataFrame(out)

        prows = (
            sub.groupBy("series_id")
            .applyInPandas(kernel, "series_id long, j int, a_us long, dist_us long")
            .collect()
        )
        sums, cnts = [0] * length, [0] * length
        dist_by_id: dict = {}
        for r in prows:
            sums[r["j"]] += r["a_us"]
            cnts[r["j"]] += 1
            dist_by_id[r["series_id"]] = r["dist_us"]
        b = [(2 * sums[j] + cnts[j]) // (2 * cnts[j]) for j in range(length)]
        barys.append(list(b))
        inertias.append(sum(dist_by_id.values()))

    data = [
        (rnd, j, v / MICRO, iner / MICRO)
        for rnd, (bb, iner) in enumerate(zip(barys, inertias))
        for j, v in enumerate(bb)
    ]
    return spark.createDataFrame(data, "rnd int, j int, bary double, inertia double")


def dtw_kmeans_md5(
    nested: DataFrame,
    k: int = 3,
    n_series: int = 12,
    length: int = 24,
) -> DataFrame:
    """C13 — deterministic DTW-k-means (tslearn's TimeSeriesKMeans with
    metric='dtw', made replayable): the c3b schedule (assign → one DBA
    update → assign) under the DTW metric instead of SBD, on the same
    integer micro-unit discipline as :func:`dba_md5` so every distance,
    path, tie-break, and centroid mean is bit-identical across engines.

    * corpus = the ``n_series`` smallest-md5(id) ``length``-point
      series in INT64 micro-units;
    * initial centroids = the ``k`` smallest-md5 series (cell = rank);
    * assignment = argmin over (integer DTW distance, cell);
    * update = DBA step per cell: aligned-value integer half-up means
      over the members' DTW paths to their centroid; empty cells keep
      their previous centroid;
    * final output = the SECOND assignment, distributed (one grouped
      Arrow kernel per round; only the k×length centroid state and the
      bounded path rows touch the driver).

    Returns ``(series_id, prediction, dist)`` with dist the exact DTW
    distance (micro-units / 1e6) to the winning centroid.
    """
    MICRO = 1_000_000
    sub = (
        nested.where(F.size("values") >= length)
        .select(
            "series_id",
            F.transform(
                F.slice("values", 1, length),
                lambda x: F.floor(x * MICRO + F.lit(0.5)).cast("long"),
            ).alias("vus"),
        )
        .withColumn("_h", F.md5(F.col("series_id").cast("string")))
        .orderBy("_h", "series_id")
        .limit(n_series)
        .drop("_h")
        .transform(stage_checkpoint, eager=False)
    )

    seeds = (
        sub.withColumn("_h", F.md5(F.col("series_id").cast("string")))
        .orderBy("_h", "series_id")
        .limit(k)
        .collect()
    )
    if len(seeds) < k:
        raise ValueError(
            f"dtw_kmeans_md5: only {len(seeds)} series of length >= {length} "
            f"available for k={k} seeds; shorten `length` or lower `k`"
        )
    cents = {i: list(r["vus"]) for i, r in enumerate(seeds)}

    import pandas as pd

    def assign_paths_kernel(cref):
        def kern(pdf: pd.DataFrame) -> pd.DataFrame:
            out = {"series_id": [], "cell": [], "j": [], "a_us": [], "dist_us": []}
            for sid, vals in zip(pdf["series_id"], pdf["vus"]):
                best = None
                for cell in sorted(cref):
                    path, dist = _dtw_path(vals, cref[cell])
                    if best is None or (dist, cell) < (best[0], best[1]):
                        best = (dist, cell, path)
                dist, cell, path = best
                for pi, pj in path:
                    out["series_id"].append(sid)
                    out["cell"].append(cell)
                    out["j"].append(pj)
                    out["a_us"].append(int(vals[pi]))
                    out["dist_us"].append(dist)
            return pd.DataFrame(out)

        return kern

    schema = "series_id long, cell int, j int, a_us long, dist_us long"
    prows = (
        sub.groupBy("series_id")
        .applyInPandas(assign_paths_kernel(cents), schema)
        .collect()
    )
    sums: dict = {}
    cnts: dict = {}
    for r in prows:
        key = (r["cell"], r["j"])
        sums[key] = sums.get(key, 0) + r["a_us"]
        cnts[key] = cnts.get(key, 0) + 1
    cents1 = {}
    for cell in range(k):
        if (cell, 0) in cnts:
            cents1[cell] = [
                (2 * sums[(cell, j)] + cnts[(cell, j)]) // (2 * cnts[(cell, j)])
                for j in range(length)
            ]
        else:
            cents1[cell] = list(cents[cell])

    final = sub.groupBy("series_id").applyInPandas(
        assign_paths_kernel(cents1), schema
    )
    return (
        final.groupBy("series_id")
        .agg(
            F.first("cell").alias("prediction"),
            F.first("dist_us").alias("_d"),
        )
        .select(
            "series_id",
            F.col("prediction").cast("int").alias("prediction"),
            (F.col("_d").cast("double") / MICRO).alias("dist"),
        )
    )

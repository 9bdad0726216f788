"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k (exact). Scale paths: multi-probe
LSH buckets, IVF cells, PQ and SQ8 codes, and IVF×PQ (IVFADC) — each
in an RNG-defined MLlib/numpy form and a DuckDB-replayable md5-Lloyd
twin. Every form keeps only its own quantizer or candidate step and
ends in one serving tail: :func:`_top_per_query` (the per-query
``row_number`` cut behind every final top-k and every pre-rerank cut),
:func:`_score_topk` (6-dp cosine, (cosine DESC, nbr_id) top-k) and,
for the compressed scans, :func:`_exact_rerank` /
:func:`_pq_adc_rank`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, LongType
from pyspark.sql.window import Window

from the_framework_for_clustering_time_series_data_spark.functions.plan_tools import stage_checkpoint
from the_framework_for_clustering_time_series_data_spark.operators.cluster import (
    deterministic_lloyd_assign,
    md5_lloyd,
    md5_seed_cells,
)
from the_framework_for_clustering_time_series_data_spark.operators.corpus_guard import (
    collect_bounded,
    id_spark_type,
)


def dot_expr(a: Column, b: Column) -> Column:
    """JVM-side dot product of two array<double> columns (zip_with +
    aggregate fold — whole-stage codegen, no Python)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def _corpus(df: DataFrame, id_col: str, vec_col: str, query: bool = False) -> DataFrame:
    """The raw projection every float form starts from: ``(nbr_id, v)``,
    or ``(query_id, qv)`` for the query side."""
    ids, v = ("query_id", "qv") if query else ("nbr_id", "v")
    return df.select(F.col(id_col).alias(ids), F.col(vec_col).cast("array<double>").alias(v))


def _r6_corpus(df: DataFrame, id_col: str, vec_col: str, query: bool = False) -> DataFrame:
    """The 6-dp-quantized twin of :func:`_corpus` every deterministic
    ANN build (and its query side) starts from."""
    ids, v = ("query_id", "qv") if query else ("nbr_id", "v")
    return df.select(
        F.col(id_col).alias(ids),
        F.transform(F.col(vec_col).cast("array<double>"), _r6).alias(v),
    )


def _top_per_query(df: DataFrame, n: int, *order) -> DataFrame:
    """The first ``n`` rows of each ``query_id`` under ``order``,
    numbered 1..n in ``rank`` — the one cut behind every final top-k
    and every pre-rerank candidate window. Every caller's order ends
    on a unique key (``nbr_id`` or ``cell``), so the cut is the same
    in both engines."""
    w = Window.partitionBy("query_id").orderBy(*order)
    return df.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= n)


def _score_topk(pairs: DataFrame, k: int) -> DataFrame:
    """Exact cosine of ``(query_id, nbr_id, qv, v)`` pairs, rounded to
    6 dp, and the final (cosine DESC, nbr_id) top-``k`` — the output
    shape ``(query_id, nbr_id, cosine, rank)`` every form returns."""
    scored = pairs.select(
        "query_id",
        "nbr_id",
        F.round(cosine_expr(F.col("qv"), F.col("v")), 6).alias("cosine"),
    )
    return _top_per_query(scored, k, F.desc("cosine"), "nbr_id").select(
        "query_id", "nbr_id", "cosine", "rank"
    )


def _exact_rerank(cand: DataFrame, vectors: DataFrame, qs: DataFrame, k: int) -> DataFrame:
    """The exact re-rank every compressed scan ends with: the candidate
    ``(query_id, nbr_id)`` ids fetch their stored vectors
    (``vectors``' ``(nbr_id, v)``) and the broadcast query vectors
    ``qs (query_id, qv)``, then :func:`_score_topk`. Bounded at
    |Q|·rerank rows, so emitted scores are true cosines and only the
    ordering beyond the candidate window is approximate."""
    return _score_topk(
        cand.select("query_id", "nbr_id")
        .join(vectors.select("nbr_id", "v"), "nbr_id")
        .join(F.broadcast(qs), "query_id"),
        k,
    )


def _collect_queries(
    queries: DataFrame, id_col: str, vec_col: str, op: str, scale_route: str
) -> tuple[list, list, str]:
    """The query side the driver-side forms collect — small by
    contract, enforced, not assumed. Returns ``(ids, vectors,
    id_type)``; ids keep the query frame's type (string ids stay
    strings)."""
    rows = collect_bounded(
        _corpus(queries, id_col, vec_col, query=True), op=op, scale_route=scale_route, limit=100_000
    )
    return [r["query_id"] for r in rows], [r["qv"] for r in rows], id_spark_type(queries, id_col)


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    The query side is small by contract (collected and broadcast); the
    corpus is scanned once by mapInPandas — each Arrow batch scores
    ALL queries against the batch with ONE NumPy matrix multiply and
    emits only its per-batch top-k per query (exact: top-k is
    distributive over batches; ties at the k-th place are cut by the
    same (-cosine, nbr_id) total order the final cut uses). Rows
    entering the final :func:`_top_per_query` shuffle: n_batches × |Q|
    × k, independent of corpus size.

    At cluster scale this is the classic broadcast-NN scan:
    O(|corpus| · |Q| · d) flops distributed over corpus partitions, no
    shuffle of the corpus itself.
    """
    qids, qvs, qid_t = _collect_queries(
        queries, id_col, vec_col, "brute_force_topk (query side)",
        "ann_lsh_topk / ivf_topk (bucketed candidates)",
    )
    # query_id follows the QUERY frame's id type, nbr_id the corpus's
    schema = f"query_id {qid_t}, nbr_id {id_spark_type(emb, id_col)}, cosine double"
    if qids:
        partial = _corpus(emb, id_col, vec_col).mapInPandas(_batch_topk(emb, qids, qvs, k), schema)
    else:
        # an empty query side (e.g. an empty filter) scores nothing: the
        # same output shape, empty
        partial = emb.sparkSession.createDataFrame([], schema)
    return _top_per_query(partial, k, F.desc("cosine"), "nbr_id").select(
        "query_id", "nbr_id", "cosine", "rank"
    )


def _batch_topk(emb: DataFrame, qids: list, qvs: list, k: int):
    """The mapInPandas scorer of :func:`brute_force_topk`: the
    L2-normalized query matrix is broadcast once, and each Arrow batch
    of ``(nbr_id, v)`` emits its own top-``k`` per query."""
    qids = np.array(qids)
    qmat = np.array(qvs, dtype=np.float64)
    qmat = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
    bq = emb.sparkSession.sparkContext.broadcast((qids, qmat))

    def score(batches):
        bqids, bqmat = bq.value
        for pdf in batches:
            ids = pdf["nbr_id"].to_numpy()
            vm = np.array(pdf["v"].tolist(), dtype=np.float64)
            vm = vm / np.linalg.norm(vm, axis=1, keepdims=True)
            sim = bqmat @ vm.T  # (|Q|, batch)
            parts = []
            for qi, qid in enumerate(bqids):
                s = sim[qi]
                idx = np.nonzero(ids != qid)[0]
                # same total order as the final cut: (-cos, id)
                take = idx[np.lexsort((ids[idx], -s[idx]))[:k]]
                parts.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "nbr_id": ids[take],
                            "cosine": np.round(s[take], 6),
                        }
                    )
                )
            yield pd.concat(parts)

    return score


def mmr_rerank(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    pool: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-Marginal-Relevance diversification of a cosine top-``pool``
    candidate set (Carbonell & Goldstein, SIGIR'98) — the rerank stage a
    retrieval / training-data-selection pipeline runs after ANN recall
    to trade relevance against redundancy: greedily pick
    ``argmax 0.7·sim(q,d) − 0.3·max_{s∈S} sim(d,s)`` until ``k``
    documents are selected.

    Returns ``(query_id, nbr_id, mmr_rank, mmr_score)`` —
    ``mmr_rank`` is selection order (1 = plain top-1), ``mmr_score``
    the (rounded) objective at selection time.

    Determinism/parity: candidate cosines carry the brute-force 6-dp
    quantization; pairwise candidate cosines are re-rounded to 6 dp,
    so every objective value is the same IEEE double in both engines
    (the literals 0.7/0.3 are written EXACTLY in both — never 1−λ,
    which is a different double); argmax ties break on nbr_id. The
    DuckDB twin replays the greedy loop as ``k`` unrolled CTE rounds.

    Shape: one brute-force candidate pass (broadcast queries, single
    corpus scan, per-batch top-pool), then ONE applyInPandas over
    query_id groups — each group is ≤ pool rows, the greedy loop is
    O(pool²·k) NumPy on a ~20×64 matrix, and queries rerank
    embarrassingly parallel across executors. No driver-side state;
    at 100 TB this is exactly the serving rerank topology (candidate
    generation distributed, rerank per query-group).
    """
    qid_t = id_spark_type(queries, id_col)
    id_t = id_spark_type(emb, id_col)
    cands = brute_force_topk(emb, queries, k=pool, id_col=id_col, vec_col=vec_col)
    cv = cands.join(_corpus(emb, id_col, vec_col), "nbr_id").select(
        "query_id", "nbr_id", "cosine", "v"
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = pdf["query_id"].iloc[0]
        ids = pdf["nbr_id"].to_numpy()
        cosq = pdf["cosine"].to_numpy(dtype=np.float64)
        vm = np.array(pdf["v"].tolist(), dtype=np.float64)
        vm = vm / np.linalg.norm(vm, axis=1, keepdims=True)
        sim = np.round(vm @ vm.T, 6)  # the oracle's 6-dp pair quanta
        n = len(ids)
        take = min(k, n)
        picked: list[int] = []
        scores: list[float] = []
        remaining = np.ones(n, dtype=bool)
        for _ in range(take):
            if not picked:
                obj = cosq.copy()
            else:
                pen = sim[:, picked].max(axis=1)
                obj = 0.7 * cosq - 0.3 * pen
            cand_idx = np.nonzero(remaining)[0]
            # argmax with nbr_id tie-break: identical to the oracle's
            # row_number() ORDER BY score DESC, nbr_id
            best = cand_idx[np.lexsort((ids[cand_idx], -obj[cand_idx]))[0]]
            picked.append(best)
            scores.append(float(np.round(obj[best], 6)))
            remaining[best] = False
        return pd.DataFrame(
            {
                "query_id": qid,
                "nbr_id": ids[picked],
                "mmr_rank": np.arange(1, take + 1, dtype=np.int32),
                "mmr_score": scores,
            }
        )

    return cv.groupBy("query_id").applyInPandas(
        greedy,
        f"query_id {qid_t}, nbr_id {id_t}, mmr_rank int, mmr_score double",
    )


def ann_lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    n_tables: int = 8,
    probe_bits: int = 1,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via multi-probe random-hyperplane LSH.

    Each vector gets ``n_tables`` bucket keys (sign pattern of
    ``n_planes`` fixed random hyperplanes). Corpus and queries join on
    (table, bucket); with ``probe_bits=1`` the QUERY side additionally
    probes every bucket at Hamming distance 1 (each single bit
    flipped), so a near neighbor that disagrees on one plane in a
    table is still found there. Only same-bucket candidates are
    scored. Recall grows with n_tables and probing; cost scales with
    bucket collisions, not n².

    Parameter choice: for a neighbor at angle θ, P(one plane agrees) =
    1 − θ/π, so P(same bucket) decays exponentially in n_planes. The
    defaults (6 planes × 8 tables, 1-bit probing) give ≈85% recall@5
    even on quasi-random embeddings whose true neighbors sit at cosine
    ≈0.3 (like the synthetic test table). Clustered real corpora —
    where neighbors are much closer than random — should RAISE
    n_planes (12-16) to prune harder at the same recall.

    Hyperplanes are generated deterministically from ``seed`` on the
    driver (tiny: n_tables × n_planes × d floats) and broadcast via
    literal arrays.
    """
    dim = len(emb.select(vec_col).first()[0])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables, n_planes, dim))
    plane_mat = planes.reshape(n_tables * n_planes, dim).T  # dim × (T·P)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def buckets_udf(vs: pd.Series) -> pd.Series:
        # one matrix multiply per Arrow batch computes EVERY table's
        # sign pattern at once (the per-plane zip_with/aggregate HOF
        # version evaluated 48 interpreted dot products per row and
        # dominated the query's runtime)
        M = np.stack([np.asarray(x, dtype=np.float64) for x in vs])
        bits = (M @ plane_mat > 0).astype(np.int64).reshape(len(M), n_tables, n_planes)
        codes = bits @ weights  # n × n_tables bucket ints
        return pd.Series(list(codes))

    c_b = _corpus(emb, id_col, vec_col).select(
        "nbr_id", "v", F.posexplode(buckets_udf("v")).alias("tbl", "bkt")
    )
    # probe set per table = the exact bucket plus, when probe_bits >= 1,
    # each 1-bit flip — derived from the MATERIALIZED bucket value, so
    # the hyperplane math runs once per query vector, not per probe
    q_exact = _corpus(queries, id_col, vec_col, query=True).select(
        "query_id", "qv", F.posexplode(buckets_udf("qv")).alias("tbl", "_b")
    )
    probes = [F.col("_b")]
    if probe_bits >= 1:
        probes += [F.col("_b").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]
    q_b = q_exact.select(
        "query_id", "qv", "tbl", F.explode(F.array(*probes)).alias("bkt")
    )
    cand = (
        c_b.join(F.broadcast(q_b), ["tbl", "bkt"])
        .where(F.col("nbr_id") != F.col("query_id"))
        .select("query_id", "nbr_id", "qv", "v")
        .dropDuplicates(["query_id", "nbr_id"])
    )
    return _score_topk(cand, k)


def _kmeans_cells(
    corpus: DataFrame, n_cells: int, seed: int
) -> tuple[DataFrame, list[list[float]]]:
    """The MLlib coarse quantizer of the IVF family (:func:`ivf_topk`,
    :func:`build_ivf_index`, :func:`ivfpq_topk`): KMeans fits
    ``n_cells`` centroids on ``corpus (nbr_id, v)`` and assigns every
    vector its cell. Returns ``(cells (nbr_id, v, cell), centers)``.
    A corpus with fewer vectors than ``n_cells`` fails inside MLlib's
    fit; only then is the corpus counted, to refuse with its size."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import CapturedException
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = corpus.withColumn("_features", array_to_vector("v"))
    try:
        model = KMeans(
            k=n_cells, seed=seed, featuresCol="_features", predictionCol="_cell"
        ).fit(vecs)
    except (Py4JJavaError, CapturedException) as e:
        n = corpus.count()
        if n < n_cells:
            raise ValueError(
                f"IVF build: the corpus has {n} vectors; n_cells={n_cells} "
                f"needs at least {n_cells}"
            ) from e
        raise
    centers = [[float(x) for x in c] for c in model.clusterCenters()]
    cells = model.transform(vecs).select("nbr_id", "v", F.col("_cell").alias("cell"))
    return cells, centers


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) partitioning — the
    scale path complementing ``ann_lsh_topk``.

    Build: MLlib KMeans (distributed, :func:`_kmeans_cells`) fits
    ``n_cells`` centroids; every corpus vector is assigned to its
    nearest cell — at 100 TB this is the *index build*, done once and
    persisted as a cell-partitioned table. Probe: each query scores
    only the vectors in its ``nprobe`` nearest cells (centroids are
    driver-side literals — tiny), so scan cost drops by
    ~n_cells/nprobe versus brute force while recall stays high for
    clustered corpora.

    Everything after the fit is pure DataFrame ops: cell assignment via
    model.transform, probe-cell selection via array_sort over literal
    centroid distances, candidate scoring via a (cell) equi-join.
    """
    cells, centers = _kmeans_cells(_corpus(emb, id_col, vec_col), n_cells, seed)
    qs = _corpus(queries, id_col, vec_col, query=True)
    return _ivf_probe_scored(cells, qs, centers, k, nprobe)


def ivf_topk_deterministic(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    lloyd_rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k with a DETERMINISTIC coarse quantizer — the
    oracle-checkable twin of :func:`ivf_topk`, whose MLlib KMeans index
    build is RNG/impl-defined.

    The index build is one md5-Lloyd fit
    (``cluster.deterministic_lloyd_assign``; its parity disciplines
    make every value DuckDB-replayable); the probe tail is the SAME
    ``_ivf_probe_scored`` the MLlib variant uses, fed the collected
    final centroids (≤ n_cells×dim values — index metadata, the
    legitimate collect class). Probe-cell ranking keys on (fold
    distance, cell) — bit-identical across engines because the
    centroid literals are.
    """
    assign, cdf = deterministic_lloyd_assign(
        _corpus(emb, id_col, vec_col), n_cells, id_col="nbr_id", vec_col="v",
        lloyd_rounds=lloyd_rounds,
    )
    cells = assign.select(F.col("id").alias("nbr_id"), "v", "cell")
    # ordered by cell id; empty cells simply have no members
    crows = sorted((r["cell"], [float(x) for x in r["cvec"]]) for r in cdf.collect())
    return _ivf_probe_scored(
        cells, _corpus(queries, id_col, vec_col, query=True), [c for _, c in crows],
        k, nprobe, cell_ids=[i for i, _ in crows],
    )


def _ivf_probe_scored(
    cells: DataFrame, qs: DataFrame, centers: list[list[float]], k: int,
    nprobe: int, cell_ids: list[int] | None = None,
) -> DataFrame:
    """Shared IVF probe tail: pick each query's nprobe nearest cells
    (literal centroid distances — the centroid table is index metadata,
    tiny by construction), then score only same-cell candidates.
    ``cell_ids`` maps positions in ``centers`` to cell labels when the
    quantizer's cells are not a dense 0..k-1 range (the deterministic
    Lloyd build can leave empty cells)."""
    ranked = _cells_by_distance("qv", centers, cell_ids)
    q_probe = qs.select(
        "query_id", "qv",
        F.expr(f"explode(transform(slice({ranked}, 1, {nprobe}), s -> s.cell))").alias("cell"),
    )
    return _score_topk(
        cells.join(F.broadcast(q_probe), "cell").where(F.col("nbr_id") != F.col("query_id")), k
    )


def _sq_dist_sql(a: str, b: str) -> str:
    """Squared Euclidean distance of two array<double> SQL expressions
    as the sequential zip_with fold — the ONE definition of the IVF
    probes' cell ranking and of frozen-centroid assignment, as text
    for a single ``F.expr`` parse (guide §7.3: the Column-by-Column
    form burned ~140 py4j round trips per centroid; the parsed tree is
    the same aggregate/zip_with HOFs)."""
    return f"aggregate(zip_with({a}, {b}, (a, b) -> (a - b) * (a - b)), 0.0D, (acc, x) -> acc + x)"


def _cells_by_distance(vname: str, centers, cell_ids=None) -> str:
    """SQL for the literal centroids as ``(d, cell)`` structs sorted
    nearest first — distance ties break on the cell label. Centroid
    values are repr() literals, the shortest round-trip decimal, which
    the SQL double parse reads back bit-identically."""
    ids = cell_ids if cell_ids is not None else range(len(centers))
    structs = []
    for c, i in zip(centers, ids):
        lit = "array(" + ",".join(repr(float(x)) + "D" for x in c) + ")"
        structs.append(f"named_struct('d', {_sq_dist_sql(vname, lit)}, 'cell', {int(i)})")
    return f"array_sort(array({','.join(structs)}))"


def assign_cells_frozen(
    emb: DataFrame,
    centers: list[list[float]],
    cell_ids: list[int] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest FROZEN centroid — the
    incremental-ingest half of an IVF index (round-9 streaming
    maintainer): the coarse quantizer is index METADATA fixed at build
    time, so assignment is a pure per-row expression (literal centroid
    distances via the same sequential zip_with fold the probe uses,
    deterministic (distance, cell) tie-break) — no shuffle, no Python,
    embarrassingly parallel over any batch size. Returns
    ``(nbr_id, v, cell)`` rows shaped exactly like the persisted
    ``cells`` table of :func:`build_ivf_index_deterministic`."""
    nearest = F.expr(f"element_at({_cells_by_distance('v', centers, cell_ids)}, 1)")
    return _corpus(emb, id_col, vec_col).select("nbr_id", "v", nearest["cell"].alias("cell"))


def build_ivf_index(
    emb: DataFrame,
    path: str,
    n_cells: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist an IVF ANN index: the corpus written hive-partitioned by
    its nearest-centroid cell (``<path>/cells/cell=N/``) plus a tiny
    centroid-metadata table (``<path>/centroids``).

    This is the 100 TB serving layout: the expensive KMeans build
    (:func:`_kmeans_cells`) runs ONCE, and every later probe
    (``ivf_probe_index``) joins on the partition column, so Spark's
    dynamic partition pruning reads only the ~nprobe probed cell
    directories — scan cost drops by ≈ n_cells/nprobe without
    recomputing anything.
    """
    cells, centers = _kmeans_cells(_corpus(emb, id_col, vec_col), n_cells, seed)
    # repartition by the partition column first: each cell lands in ONE
    # task, so the layout is one file per cell instead of (tasks x
    # cells) small files — the LSM/delta small-file tax the serving
    # scan otherwise pays (parquet stays splittable if cells grow big)
    cells.repartition("cell").write.mode("overwrite").partitionBy("cell").parquet(f"{path}/cells")
    emb.sparkSession.createDataFrame(
        list(enumerate(centers)), "cell int, center array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def build_ivf_index_deterministic(
    emb: DataFrame,
    path: str,
    n_cells: int = 16,
    lloyd_rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist an IVF index whose coarse quantizer is the DETERMINISTIC
    md5-Lloyd build (``cluster.deterministic_lloyd_assign``, the
    sim_ivfb_topk quantizer) instead of MLlib KMeans — same serving
    layout as :func:`build_ivf_index` (hive-partitioned ``cells`` +
    ``centroids`` metadata), but every persisted value is
    DuckDB-replayable from the corpus alone, so the probe path carries
    a full value-hash oracle (sim_ivfb_persisted). The deterministic
    build can leave empty cells; the centroid table's explicit ``cell``
    labels (not positional 0..k-1) carry that through the probe."""
    assign, cdf = deterministic_lloyd_assign(
        _corpus(emb, id_col, vec_col), n_cells, id_col="nbr_id", vec_col="v",
        lloyd_rounds=lloyd_rounds,
    )
    # one file per cell (see build_ivf_index's repartition note)
    assign.select(F.col("id").alias("nbr_id"), "v", "cell").repartition(
        "cell"
    ).write.mode("overwrite").partitionBy("cell").parquet(f"{path}/cells")
    cdf.select(
        F.col("cell").cast("int").alias("cell"), F.col("cvec").alias("center")
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_probe_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k against a persisted IVF index
    (``build_ivf_index`` or ``build_ivf_index_deterministic``): reads
    the centroid metadata (n_cells rows), computes each query's nprobe
    nearest cells, and equi-joins the cell-partitioned corpus on
    ``cell``. The broadcast query side makes the join eligible for
    dynamic partition pruning, so the parquet scan touches only probed
    ``cell=N`` directories (asserted on the physical plan in
    tests/test_similarity_ann.py). Cell labels come from the centroid
    table (not positional), so sparse cell id ranges — which the
    deterministic build can produce — probe correctly."""
    rows = sorted(spark.read.parquet(f"{path}/centroids").collect(), key=lambda r: r["cell"])
    return _ivf_probe_scored(
        spark.read.parquet(f"{path}/cells"), _corpus(queries, id_col, vec_col, query=True),
        [list(r["center"]) for r in rows], k, nprobe, cell_ids=[int(r["cell"]) for r in rows],
    )


def _train_pq_codebooks(
    sample: np.ndarray, m: int, n_codes: int, seed: int, iters: int = 10
) -> np.ndarray:
    """Driver-side codebook training (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): split the
    dimensionality into ``m`` subspaces and run a tiny seeded k-means
    (``n_codes`` centroids, ``iters`` Lloyd steps) per subspace on a
    SAMPLE of the corpus. Training on a bounded sample is the standard
    PQ recipe at scale — the codebook is index metadata
    (m × n_codes × d/m floats), the full corpus is only ever ENCODED,
    never collected. Returns (m, n_codes, sub_dim).
    """
    n, d = sample.shape
    sub = d // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, n_codes, sub))
    for j in range(m):
        X = sample[:, j * sub : (j + 1) * sub]
        C = X[rng.choice(n, size=n_codes, replace=False)].copy()
        for _ in range(iters):
            d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(n_codes):
                pts = X[assign == c]
                if len(pts):
                    C[c] = pts.mean(axis=0)
        books[j] = C
    return books


def _numpy_pq(corpus: DataFrame, m: int, n_codes: int, train_sample: int, seed: int):
    """The numpy-PQ build shared by :func:`pq_topk` and
    :func:`ivfpq_topk`: a ``train_sample``-row sample of ``corpus (nbr_id,
    v)``, L2-normalized, trains the codebooks on the driver
    (:func:`_train_pq_codebooks`), which are broadcast once. Returns
    ``(encode, unit_lut)``: a pandas UDF mapping ``v`` to its m codes
    (normalized vector, nearest centroid per subspace), and
    ``unit_lut(qv) -> (q, lut)``, the normalized query and its flat ADC
    table ``lut[j·n_codes + c] = <q_j, books[j][c]>`` that
    :func:`_adc_fold` reads. A sample with fewer vectors than
    ``n_codes`` is refused with its size (no extra job: the sample is
    collected anyway)."""
    sample = np.array(
        [r["v"] for r in corpus.limit(train_sample).collect()], dtype=np.float64
    )
    if len(sample) < n_codes:
        raise ValueError(
            f"PQ build: the training sample has {len(sample)} vectors (the corpus, "
            f"capped at train_sample={train_sample}); n_codes={n_codes} needs at least {n_codes}"
        )
    sample /= np.linalg.norm(sample, axis=1, keepdims=True)
    books = _train_pq_codebooks(sample, m, n_codes, seed)
    sub = sample.shape[1] // m
    b_books = corpus.sparkSession.sparkContext.broadcast(books)

    @F.pandas_udf(ArrayType(IntegerType()))
    def encode(vs: pd.Series) -> pd.Series:
        B = b_books.value
        M = np.stack([np.asarray(x, dtype=np.float64) for x in vs])
        M /= np.linalg.norm(M, axis=1, keepdims=True)
        codes = np.empty((len(M), m), dtype=np.int32)
        for j in range(m):
            X = M[:, j * sub : (j + 1) * sub]
            d2 = ((X[:, None, :] - B[j][None, :, :]) ** 2).sum(axis=2)
            codes[:, j] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    def unit_lut(qv) -> tuple[np.ndarray, list[float]]:
        q = np.asarray(qv, dtype=np.float64)
        q /= np.linalg.norm(q)
        lut = np.stack([q[j * sub : (j + 1) * sub] @ books[j].T for j in range(m)]).ravel()
        return q, [float(x) for x in lut]

    return encode, unit_lut


def _adc_fold(m: int, n_codes: int) -> Column:
    """The float ADC score of the numpy-PQ forms: Σ_j
    ``lut[j·n_codes + code_j]``, the approximate cosine of the
    normalized vectors (larger is nearer)."""
    return F.aggregate(
        F.zip_with(
            F.col("code"),
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda c, j: F.element_at(F.col("lut"), (j * n_codes + c + 1).cast("int")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_adc_rank(
    pairs: DataFrame, order: Column, vectors: DataFrame, qs: DataFrame, k: int, rerank: int
) -> DataFrame:
    """The ADC serving tail of every PQ form. The caller builds the
    ``(query_id, nbr_id, code, lut)`` pairs (a cross join against the
    per-query LUTs for PQ and the persisted probe, the probed-cell
    join for IVFADC) and names the fold that orders them best first
    (``_adc_fold6`` ascending for the deterministic forms,
    ``_adc_fold(...).desc()`` for the numpy ones); this drops
    self-matches, keeps the top ``rerank`` per query (ties → nbr_id)
    and hands them to :func:`_exact_rerank`."""
    pairs = pairs.where(F.col("nbr_id") != F.col("query_id"))
    return _exact_rerank(_top_per_query(pairs, rerank, order, "nbr_id"), vectors, qs, k)


def pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    rerank: int = 50,
    train_sample: int = 2048,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via product quantization with exact re-ranking.

    The 100 TB memory story: each L2-normalized corpus vector is
    compressed to ``m`` 4-bit-ish codes (64 dims × 4 B → 8 B, 32×), so
    the first-pass scan touches only the code table (:func:`_numpy_pq`
    trains and encodes). Per query, an ADC lookup table (inner product
    of each query subvector with each codebook centroid) is broadcast;
    the approximate score (:func:`_adc_fold`) is m array lookups per
    row — JVM-side, no Python in the scan. The top ``rerank``
    candidate IDS then fetch their full vectors back from the corpus
    (:func:`_pq_adc_rank` → :func:`_exact_rerank`, bounded at
    |Q|·rerank rows) for EXACT cosine, so the emitted scores are true
    cosines and only ordering beyond rank ``rerank`` is approximate.

    Complements ``ann_lsh_topk`` (hash pruning) and ``ivf_topk`` (cell
    pruning): PQ prunes BYTES per vector, and composes with IVF in
    real systems (IVFADC).
    """
    corpus = _corpus(emb, id_col, vec_col)
    encode, unit_lut = _numpy_pq(corpus, m, n_codes, train_sample, seed)
    qids, qvs, id_t = _collect_queries(
        queries, id_col, vec_col, "pq_topk (query side)", "ivf_topk for bulk query fan-out"
    )
    luts = emb.sparkSession.createDataFrame(
        [(qid, unit_lut(qv)[1]) for qid, qv in zip(qids, qvs)],
        f"query_id {id_t}, lut array<double>",
    )
    pairs = corpus.select("nbr_id", encode("v").alias("code")).crossJoin(F.broadcast(luts))
    return _pq_adc_rank(
        pairs, _adc_fold(m, n_codes).desc(), corpus,
        _corpus(queries, id_col, vec_col, query=True), k, rerank,
    )


def _r6(c: Column) -> Column:
    """Half-up 6-dp round — the shared cross-engine discipline."""
    return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)


def _pq_det_build(
    corpus: DataFrame, m: int, n_codes: int, sub: int, lloyd_rounds: int
) -> tuple[DataFrame, DataFrame]:
    """Deterministic per-subspace codebook build + code assignment over
    a 6-dp-quantized corpus ``(nbr_id, v)`` — the replayable core
    shared by :func:`pq_topk_deterministic` and
    :func:`ivfpq_topk_deterministic`. ONE keyed md5-Lloyd
    (``cluster.md5_lloyd`` with ``keys=("j",)`` and ``exact_mean``;
    parity disciplines there) trains all ``m`` subspaces; subspace
    ``j``'s seeds are the ``j``-th slices of the n_codes smallest-md5(id)
    vectors. The codebook feeds both the code assignment and the
    per-query ADC LUT broadcast, so the kernel's per-round centroid
    checkpoint keeps the rounds from running once per consumer.
    Returns ``(codes_arr, cdf)``: per-vector code arrays (j-ordered)
    and the final ``(j, cell, cvec)`` codebooks."""
    jgrid = F.array(*[F.lit(j) for j in range(m)])

    def _slices(frame: DataFrame, key: str, vec: str) -> DataFrame:
        # one row per subspace j, the vector replaced by its j-th slice
        return frame.select(key, F.explode(jgrid).alias("j"), vec).select(
            key,
            "j",
            F.transform(
                F.sequence(F.lit(1), F.lit(sub)),
                lambda p: F.element_at(F.col(vec), (F.col("j") * sub + p).cast("int")),
            ).alias(vec),
        )

    points = corpus.select(F.col("nbr_id").alias("id"), "v")
    a, cdf = md5_lloyd(
        _slices(points, "id", "v"),
        _slices(md5_seed_cells(points, n_codes), "cell", "cvec"),
        keys=("j",),
        rounds=lloyd_rounds,
        exact_mean=True,
    )
    codes_arr = a.groupBy(F.col("id").alias("nbr_id")).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("j", "cell"))),
            lambda s: s.cell,
        ).alias("code")
    )
    return codes_arr, cdf


def _pq_adc_lut(
    qs: DataFrame, cdf: DataFrame, m: int, n_codes: int, sub: int
) -> DataFrame:
    """Dense per-query ADC lookup tables as a DataFrame: one
    (j, cell)-ordered flat list per query (missing codes hold 0.0
    placeholders that encoded vectors can never reference)."""
    spark = qs.sparkSession
    qd2 = F.aggregate(
        F.sequence(F.lit(1), F.lit(sub)),
        F.lit(0.0),
        lambda acc, p: acc
        + (
            F.element_at(F.col("qv"), (F.col("j") * sub + p).cast("int"))
            - F.element_at(F.col("cvec"), p)
        )
        * (
            F.element_at(F.col("qv"), (F.col("j") * sub + p).cast("int"))
            - F.element_at(F.col("cvec"), p)
        ),
    )
    lutd = qs.crossJoin(F.broadcast(cdf)).select(
        "query_id", "j", "cell", qd2.alias("d2")
    )
    grid = spark.createDataFrame(
        [(j, c) for j in range(m) for c in range(n_codes)], "j int, cell int"
    )
    return (
        qs.select("query_id")
        .crossJoin(F.broadcast(grid))
        .join(lutd, ["query_id", "j", "cell"], "left")
        .groupBy("query_id")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct("j", "cell", F.coalesce("d2", F.lit(0.0)).alias("dv"))
                    )
                ),
                lambda s: s.dv,
            ).alias("lut")
        )
    )


def _adc_fold6(m: int, n_codes: int) -> Column:
    """The j-ordered sequential ADC fold over ``code`` against ``lut``,
    floored to 6-dp micro-units (an exact int — rank ties on it are
    deterministic in both engines)."""
    return F.floor(
        F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0.0),
            lambda acc, j: acc
            + F.element_at(
                F.col("lut"),
                (
                    j * n_codes
                    + F.element_at(F.col("code"), (j + 1).cast("int"))
                    + 1
                ).cast("int"),
            ),
        )
        * F.lit(1e6)
        + F.lit(0.5)
    )


def pq_topk_deterministic(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    rerank: int = 50,
    lloyd_rounds: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ top-k with DETERMINISTIC md5-Lloyd codebooks — the
    oracle-checkable twin of :func:`pq_topk`, whose driver-trained
    seeded-numpy codebooks are RNG/impl-defined.

    Replayable build: vectors quantize to 6 dp; each of the ``m``
    subspaces trains an ``n_codes``-centroid md5-Lloyd quantizer in ONE
    keyed dataflow (:func:`_pq_det_build` — identical seed ids across
    subspaces, exact-mean centroids). ADC lookup tables are
    computed as a DataFrame (dense (subspace, code) grid per query —
    missing codes hold 0.0 placeholders that encoded vectors can never
    reference), the approximate distance is a SEQUENTIAL fold over the
    code array in subspace order (j-ordered, like the oracle's list
    fold), rounded 6 dp; the top ``rerank`` candidates per query
    re-rank by exact cosine on the quantized vectors (the shared
    :func:`_pq_adc_rank` tail). Everything — codebooks, codes, ADC,
    both rankings — replays in DuckDB.

    Shape notes for scale: the grouped Lloyd shuffles m·n subvector
    rows (constant fan-out), the code table is the only per-corpus
    state the ADC scan touches (m small ints per vector — the PQ
    memory story), LUTs are |Q|·m·n_codes rows broadcast, and the
    exact re-rank is bounded at |Q|·rerank rows.
    """
    sub = dim // m
    corpus = _r6_corpus(emb, id_col, vec_col).transform(stage_checkpoint, eager=False)
    codes_arr, cdf = _pq_det_build(corpus, m, n_codes, sub, lloyd_rounds)
    qs = _r6_corpus(queries, id_col, vec_col, query=True)
    pairs = codes_arr.crossJoin(F.broadcast(_pq_adc_lut(qs, cdf, m, n_codes, sub)))
    return _pq_adc_rank(pairs, _adc_fold6(m, n_codes), corpus, qs, k, rerank)


def sq8_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank: int = 50,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar-quantized (SQ8) approximate top-k — the third classic ANN
    serving form next to IVF (partition pruning) and PQ (codebook
    compression): per-dimension symmetric int8 quantization, an
    EXACT-INTEGER dot-product scan over the int8 codes, and a bounded
    float re-rank of the top ``rerank`` candidates.

    Replayable build: vectors quantize to 6 dp (the shared _r6
    discipline); per-dim scales are the corpus max(|v_d|) (a dim-sized
    aggregate — kilobytes — carried as a one-row broadcast, never a
    driver collect); codes are ``floor(v/s·127 + 0.5)`` (half-up,
    |code| ≤ 127 by construction, zero-scale dims encode 0). The scan
    scores int64 dots and int64 norms — EXACT integers in both engines
    — so the 6-dp-rounded approximate cosine and its (cos DESC,
    nbr_id) candidate order replay bit-for-bit in DuckDB; the final
    top-k re-ranks |Q|·rerank rows by exact float cosine on the
    quantized vectors (sim_bruteforce's rank discipline).

    Scale shape: the hot scan reads 1 byte/dim semantics instead of 8
    (int codes in this engine; a fleet deployment stores the code
    array as binary), the scales row is constant-size, candidates are
    bounded at |Q|·rerank, and there is no training step at all —
    SQ8's operational advantage over PQ/IVF (re-quantize = one pass,
    no codebook drift on append)."""
    corpus = _r6_corpus(emb, id_col, vec_col)
    # one-row frame, but its SUBTREE is a corpus-wide aggregation —
    # checkpoint it so the corpus and query encoders don't each rerun
    # the posexplode/groupBy (review finding)
    scales = sq8_scales(corpus).transform(stage_checkpoint, eager=False)
    codes = sq8_encode(corpus, scales, dim)
    qdf = _r6_corpus(queries, id_col, vec_col)
    qcodes = sq8_encode(qdf, scales, dim).select(
        F.col("nbr_id").alias("query_id"), F.col("q8").alias("qq8")
    )
    qs = qdf.select(
        F.col("nbr_id").alias("query_id"), F.col("v").alias("qv")
    )
    return sq8_rank(codes, qcodes, qs, k, rerank)


def sq8_scales(corpus: DataFrame) -> DataFrame:
    """Per-dimension SQ8 scales as a ONE-ROW frame ``(s array<double>)``
    — the corpus max(|v_d|) per dim (a dim-sized aggregate, kilobytes,
    broadcast to encoders; never a driver collect)."""
    return (
        corpus.select(F.posexplode("v").alias("pos", "val"))
        .groupBy("pos")
        .agg(F.max(F.abs(F.col("val"))).alias("s"))
        .groupBy()
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "s"))),
                lambda x: x.s,
            ).alias("s")
        )
    )


def _sq8_raw(p) -> Column:
    """Pre-clamp SQ8 code at 1-based dim ``p``: half-up ``v/s·127``."""
    return F.floor(
        F.element_at("v", p.cast("int"))
        / F.element_at("s", p)
        * F.lit(127.0)
        + F.lit(0.5)
    ).cast("long")


def sq8_encode(
    df: DataFrame, scales: DataFrame, dim: int = 64, with_clip_count: bool = False
) -> DataFrame:
    """Encode ``(nbr_id, v)`` against a scales frame: half-up int8
    codes CLAMPED to [−127, 127]. Clamping is a no-op when the scales
    are the encoding corpus's own maxima (sim_sq8_topk) and the
    defined saturation behavior when scales are FROZEN from an earlier
    batch (the streaming maintainer) — out-of-range later values
    saturate exactly like a production SQ8 index. A NULL component
    (short vector, malformed row) stays NULL through the clamp — the
    downstream dot/norm folds propagate it and the scored row filters
    out, the same fail-safe the float path has; Spark's least/greatest
    SKIP nulls, so an unguarded clamp would silently encode missing
    dims as +127 (review finding). Returns ``(nbr_id, q8, v)`` —
    codes for the scan, vectors for the bounded re-rank (parquet
    column pruning keeps ``v`` out of the scan when this frame is
    persisted) — plus a per-row saturated-component count when
    ``with_clip_count`` (counted on the PRE-clamp code, |raw| > 127:
    the actual saturation criterion, not |v| > s, which fires on
    values that still round into range)."""
    code = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda p: F.when(F.element_at("s", p) == 0.0, F.lit(0).cast("long"))
        .when(
            _sq8_raw(p).isNotNull(),
            F.greatest(
                F.lit(-127).cast("long"),
                F.least(F.lit(127).cast("long"), _sq8_raw(p)),
            ),
        ),
    )
    cols = ["nbr_id", code.alias("q8"), "v"]
    if with_clip_count:
        clip = F.aggregate(
            F.sequence(F.lit(1), F.lit(dim)),
            F.lit(0).cast("long"),
            lambda acc, p: acc
            + F.when(
                (F.element_at("s", p) != 0.0)
                & (F.abs(F.coalesce(_sq8_raw(p), F.lit(0).cast("long"))) > 127),
                1,
            )
            .otherwise(0)
            .cast("long"),
        )
        cols.append(clip.alias("clipped"))
    return df.crossJoin(F.broadcast(scales)).select(*cols)


def sq8_rank(
    codes: DataFrame,
    qcodes: DataFrame,
    qs: DataFrame,
    k: int = 5,
    rerank: int = 50,
) -> DataFrame:
    """The SQ8 serving tail: exact-int64 dot/norm scan over
    ``codes (nbr_id, q8, v)`` against broadcast query codes, 6-dp
    approximate-cosine candidate window, exact re-rank of the top
    ``rerank`` per query on the stored vectors (:func:`_exact_rerank`)."""
    dot8 = F.aggregate(
        F.zip_with("q8", "qq8", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n8 = lambda c: F.aggregate(  # noqa: E731
        F.transform(F.col(c), lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # norms precomputed BEFORE the corpus×query join: a corpus row's
    # norm must not be re-folded |Q| times inside the scan (review
    # finding) — both are exact integers either way
    scored = (
        codes.select("nbr_id", "q8", n8("q8").alias("_na"))
        .crossJoin(F.broadcast(qcodes.withColumn("_nq", n8("qq8"))))
        .where(F.col("nbr_id") != F.col("query_id"))
        .select(
            "query_id",
            "nbr_id",
            F.round(
                dot8
                / F.sqrt(
                    F.col("_na").cast("double") * F.col("_nq").cast("double")
                ),
                6,
            ).alias("cos8"),
        )
        .where(F.col("cos8").isNotNull())
    )
    cand = _top_per_query(scored, rerank, F.desc("cos8"), "nbr_id")
    return _exact_rerank(cand, codes, qs, k)


def build_pq_index_deterministic(
    emb: DataFrame,
    path: str,
    m: int = 8,
    n_codes: int = 16,
    lloyd_rounds: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist a PQ ANN index built with the DETERMINISTIC md5-Lloyd
    codebooks (:func:`_pq_det_build`, the sim_pqb_topk quantizer):
    ``<path>/codes`` holds one row per corpus vector —
    ``(nbr_id, code, v)``, where ``code`` is the m-byte PQ code the ADC
    scan reads and ``v`` the 6-dp-quantized vector the exact re-rank
    reads — and ``<path>/codebooks`` the tiny ``(j, cell, cvec)``
    codebook table (m × n_codes rows).

    This is the PQ serving split: the codebook Lloyd build (the
    chained-small-job construction phase profiled in BASELINE.md's
    round-9 watch-item record) runs ONCE at build time; every probe
    (:func:`pq_probe_index`) pays only LUT computation against the
    m·n_codes-row codebook plus the ADC scan over the code column.
    Storing codes and vectors in one table is deliberate — parquet
    column pruning keeps ``v`` out of the ADC scan (asserted on
    ReadSchema in tests/test_similarity_ann.py) while the bounded
    re-rank join reads it for |Q|·rerank rows only."""
    sub = dim // m
    corpus = _r6_corpus(emb, id_col, vec_col)
    codes_arr, cdf = _pq_det_build(corpus, m, n_codes, sub, lloyd_rounds)
    codes_arr.join(corpus, "nbr_id").select("nbr_id", "code", "v").write.mode(
        "overwrite"
    ).parquet(f"{path}/codes")
    cdf.coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")


def pq_probe_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    rerank: int = 50,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k against a persisted PQ index
    (:func:`build_pq_index_deterministic`): reads the codebook table
    (m·n_codes rows), computes the per-query dense ADC LUT, broadcast
    ADC-scans the persisted code column, and exact-reranks the top
    ``rerank`` candidates against the persisted quantized vectors.
    Identical results to :func:`pq_topk_deterministic` over the same
    corpus (same quantizer, same fold discipline) — the full
    value-hash oracle of sim_pqb_topk carries over to the persisted
    path unchanged (sim_pqb_persisted)."""
    sub = dim // m
    codes = spark.read.parquet(f"{path}/codes")
    qs = _r6_corpus(queries, id_col, vec_col, query=True)
    lut = _pq_adc_lut(qs, spark.read.parquet(f"{path}/codebooks"), m, n_codes, sub)
    # the scan reads only (nbr_id, code): column pruning keeps ``v`` out
    # of it (asserted in tests/test_similarity_ann.py)
    pairs = codes.select("nbr_id", "code").crossJoin(F.broadcast(lut))
    return _pq_adc_rank(pairs, _adc_fold6(m, n_codes), codes, qs, k, rerank)


def ivfpq_topk_deterministic(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    rerank: int = 50,
    lloyd_rounds: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC top-k with DETERMINISTIC quantizers end to end — the
    oracle-checkable twin of :func:`ivfpq_topk` (whose MLlib coarse
    cells and driver-numpy PQ codebooks are RNG/impl-defined),
    composing the two already-verified deterministic builds:

    * coarse quantizer: ``deterministic_lloyd_assign`` over the
      6-dp-quantized vectors with ``exact_mean=True`` (int64
      micro-unit centroid sums — association-order-proof; the inputs
      are 6-dp quanta by construction, unlike sim_ivfb's raw-vector
      build which keeps the F.avg caveat);
    * PQ codebooks/codes: the same grouped md5-Lloyd build
      :func:`pq_topk_deterministic` oracles (``_pq_det_build``);
    * probe: each query ranks the coarse centroids by sequential-fold
      distance (ties → cell) and keeps ``nprobe`` cells — a
      :func:`_top_per_query` cut over |Q|×n_cells rows, all index
      metadata;
    * ADC scan: candidates = codes of vectors WHOSE COARSE CELL IS
      PROBED only (the IVF×PQ composition — ≈ n_cells/nprobe scan
      and 8-byte-code read reduction), joined to the per-query dense
      LUT (``_pq_adc_lut``); the shared :func:`_pq_adc_rank` tail
      folds them (``_adc_fold6``), keeps the top ``rerank`` by (ad6,
      nbr_id) and re-ranks by exact cosine on the quantized vectors.

    Everything — both quantizers, codes, probe ranking, ADC, and both
    rankings — replays in DuckDB. Scale shape matches ivfpq_topk:
    per-corpus state is (cell, m small ints) per vector; the probe
    join broadcasts |Q|·nprobe rows; rerank is bounded at |Q|·rerank.
    """
    sub = dim // m
    corpus = _r6_corpus(emb, id_col, vec_col).transform(stage_checkpoint, eager=False)
    coarse, coarse_cdf = deterministic_lloyd_assign(
        corpus, n_cells, id_col="nbr_id", vec_col="v",
        lloyd_rounds=lloyd_rounds, exact_mean=True,
    )
    codes_arr, cdf = _pq_det_build(corpus, m, n_codes, sub, lloyd_rounds)
    qs = _r6_corpus(queries, id_col, vec_col, query=True)
    probed = _top_per_query(
        qs.crossJoin(F.broadcast(coarse_cdf)), nprobe, F.expr(_sq_dist_sql("qv", "cvec")), "cell"
    ).select("query_id", "cell")
    pairs = (
        codes_arr.join(coarse.select(F.col("id").alias("nbr_id"), "cell"), "nbr_id")
        .join(F.broadcast(probed), "cell")
        .join(F.broadcast(_pq_adc_lut(qs, cdf, m, n_codes, sub)), "query_id")
    )
    return _pq_adc_rank(pairs, _adc_fold6(m, n_codes), corpus, qs, k, rerank)


def ivfpq_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    rerank: int = 50,
    train_sample: int = 2048,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC (Jégou et al. 2011, the structure behind FAISS's
    IVFx,PQy): IVF cell pruning × PQ byte pruning composed — the
    serving-scale ANN path. The probe scans only the query's
    ``nprobe`` nearest cells (≈ n_cells/nprobe scan reduction) AND
    reads only 8-byte PQ codes inside them (≈ 32× byte reduction);
    the top ``rerank`` ADC candidates fetch their full vectors back
    for exact cosine, so emitted scores are true cosines. Codes here
    quantize the normalized vectors directly (classic IVFADC encodes
    cell residuals — noted refinement; at these dims the plain-code
    recall is already audited ≥ the PQ-only path in tests).

    Plan shape: the KMeans fit of :func:`ivf_topk`
    (:func:`_kmeans_cells`) and the codebooks and encode pass of
    :func:`pq_topk` (:func:`_numpy_pq`) build the index (both
    one-time, persistable like build_ivf_index); the probe is a
    broadcast join on (cell) carrying each query's ADC lookup table
    (probed cells ranked on the driver by distance to the normalized
    query), then the shared :func:`_pq_adc_rank` tail: an all-JVM
    array-fold scan, a per-query rerank cut over candidate rows only,
    and a bounded id fetch-back join.
    """
    corpus = _corpus(emb, id_col, vec_col)
    cells, centers = _kmeans_cells(corpus, n_cells, seed)
    encode, unit_lut = _numpy_pq(corpus, m, n_codes, train_sample, seed)
    qids, qvs, id_t = _collect_queries(
        queries, id_col, vec_col, "ivfpq_topk (query side)", "per-cell batch probes"
    )
    probes = []
    for qid, qv in zip(qids, qvs):
        q, lut = unit_lut(qv)
        d2 = [((q - np.asarray(c)) ** 2).sum() for c in centers]
        probes += [(qid, int(c), lut) for c in np.argsort(d2, kind="stable")[:nprobe]]
    qcl = emb.sparkSession.createDataFrame(probes, f"query_id {id_t}, cell int, lut array<double>")
    pairs = cells.select("nbr_id", "cell", encode("v").alias("code")).join(F.broadcast(qcl), "cell")
    return _pq_adc_rank(
        pairs, _adc_fold(m, n_codes).desc(), corpus,
        _corpus(queries, id_col, vec_col, query=True), k, rerank,
    )

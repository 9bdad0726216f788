"""ML plans (imaging / embedding / clustering / DTW) — SURVEY.md §2.4-
§2.6. SQL-expressible ones (RP/GAF matrices, exact silhouette) carry
DuckDB oracles; model-driven ones (PCA/KMeans/DBSCAN/KShape/AE) are
rows-only per the driver contract, with invariant tests in
tests/test_ml.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from the_framework_for_clustering_time_series_data_spark.operators import align, cluster, embed, imaging
from the_framework_for_clustering_time_series_data_spark.plans.registry import register
from the_framework_for_clustering_time_series_data_spark.plans.timeseries_plans import EV
from the_framework_for_clustering_time_series_data_spark.sources.tables import events_as_series, load_table


#: DTW stretch-align replayed in SQL: the DP fills by ANTI-DIAGONAL
#: waves — one recursive-CTE row per (series, wave) carrying the two
#: previous diagonals as DOUBLE[] state (cell (i,j) on wave i+j needs
#: up/left from wave k-1 and diag from wave k-2), so the recursion
#: references itself exactly once and runs with no joins against its
#: own history. acc is BIT-identical to the NumPy kernel: each cell is
#: the same |a_i-b_j| + min(three neighbors) IEEE arithmetic, and the
#: recurrence's value is evaluation-order-independent. The backtrack
#: walks all series in parallel (one cell per series per step) against
#: the MATERIALIZED cell table (without the hint DuckDB re-evaluates
#: the unnested DP per iteration — measured minutes instead of ~6 s at
#: sf0.01), replicating Python's lexicographic (acc, i, j) tie-break:
#: diag wins ties, then up, then left. delta sums per long-index j run
#: in increasing-i order (list ORDER BY i, sequential fold) exactly as
#: the kernel's forward path loop.
_G6_DTW_ORACLE = r"""
WITH RECURSIVE ev AS (
  SELECT user_id AS series_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS t,
         value
  FROM events
),
arr AS (SELECT series_id, list(value ORDER BY t) AS vs, count(*)::INT AS n
        FROM ev GROUP BY 1),
lng AS (SELECT vs AS lvs, n AS m FROM arr ORDER BY n DESC, series_id LIMIT 1),
wrp AS MATERIALIZED (
  SELECT a.series_id, a.vs, a.n, l.lvs, l.m FROM arr a, lng l WHERE a.n <> l.m
),
dp(series_id, k, d1, d2) AS (
  SELECT series_id, 2, [abs(vs[1] - lvs[1])], CAST([] AS DOUBLE[]) FROM wrp
  UNION ALL
  SELECT w.series_id, dp.k + 1,
         list_transform(
           range(greatest(1, dp.k + 1 - w.m), least(w.n, dp.k) + 1),
           i -> abs(w.vs[i] - w.lvs[dp.k + 1 - i]) + least(
             CASE WHEN i - 1 - greatest(1, dp.k - w.m) + 1 >= 1
                  THEN coalesce(dp.d1[CAST(i - 1 - greatest(1, dp.k - w.m) + 1 AS INT)], 'infinity'::DOUBLE)
                  ELSE 'infinity'::DOUBLE END,
             CASE WHEN i - greatest(1, dp.k - w.m) + 1 >= 1
                  THEN coalesce(dp.d1[CAST(i - greatest(1, dp.k - w.m) + 1 AS INT)], 'infinity'::DOUBLE)
                  ELSE 'infinity'::DOUBLE END,
             CASE WHEN i - 1 - greatest(1, dp.k - 1 - w.m) + 1 >= 1
                  THEN coalesce(dp.d2[CAST(i - 1 - greatest(1, dp.k - 1 - w.m) + 1 AS INT)], 'infinity'::DOUBLE)
                  ELSE 'infinity'::DOUBLE END)),
         dp.d1
  FROM dp JOIN wrp w USING (series_id)
  WHERE dp.k < w.n + w.m
),
cells AS MATERIALIZED (
  SELECT dp.series_id,
         CAST(greatest(1, dp.k - w.m) + generate_subscripts(dp.d1, 1) - 1 AS INT) AS i,
         CAST(dp.k - (greatest(1, dp.k - w.m) + generate_subscripts(dp.d1, 1) - 1) AS INT) AS j,
         unnest(dp.d1) AS acc
  FROM dp JOIN wrp w USING (series_id)
),
bt(series_id, i, j) AS (
  SELECT series_id, n, m FROM wrp
  UNION ALL
  SELECT b.series_id,
         CASE WHEN dga <= upa AND dga <= lfa THEN b.i - 1
              WHEN upa <= lfa THEN b.i - 1
              ELSE b.i END,
         CASE WHEN dga <= upa AND dga <= lfa THEN b.j - 1
              WHEN upa <= lfa THEN b.j
              ELSE b.j - 1 END
  FROM (
    SELECT b.series_id, b.i, b.j,
           CASE WHEN b.i = 1 AND b.j = 1 THEN 0.0
                WHEN b.i = 1 OR b.j = 1 THEN 'infinity'::DOUBLE
                ELSE cd.acc END AS dga,
           CASE WHEN b.i = 1 THEN 'infinity'::DOUBLE ELSE cu.acc END AS upa,
           CASE WHEN b.j = 1 THEN 'infinity'::DOUBLE ELSE cl.acc END AS lfa
    FROM bt b
    LEFT JOIN cells cu ON cu.series_id = b.series_id AND cu.i = b.i - 1 AND cu.j = b.j
    LEFT JOIN cells cl ON cl.series_id = b.series_id AND cl.i = b.i AND cl.j = b.j - 1
    LEFT JOIN cells cd ON cd.series_id = b.series_id AND cd.i = b.i - 1 AND cd.j = b.j - 1
  ) b
  WHERE NOT (b.i = 1 AND b.j = 1)
),
dlt AS (
  SELECT b.series_id, b.j,
         list_aggregate(list(w.lvs[b.j] - w.vs[b.i] ORDER BY b.i), 'sum') AS delta
  FROM bt b JOIN wrp w USING (series_id)
  GROUP BY 1, 2
),
warped AS (
  SELECT d.series_id, d.j - 1 AS t, l.lvs[d.j] - d.delta AS value
  FROM dlt d, lng l
),
idn AS (
  SELECT a.series_id, generate_subscripts(a.vs, 1) - 1 AS t, unnest(a.vs) AS value
  FROM arr a, lng l WHERE a.n = l.m
)
SELECT series_id, CAST(t AS INT) AS t, value FROM warped
UNION ALL
SELECT series_id, CAST(t AS INT) AS t, value FROM idn
"""


@register("g6_dtw_align", _G6_DTW_ORACLE)
def g6_dtw_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6 — DTW stretch-alignment of every series to the longest one
    (app.py:300-350), exact O(n·m) DTW in applyInPandas. Full
    value-hash oracle: DTW is a deterministic DP, so the DuckDB twin
    replays it bit-exactly as an anti-diagonal recursive CTE + parallel
    backtrack (see _G6_DTW_ORACLE's header comment for the wave-state
    formulation and the float-parity argument)."""
    return align.dtw_stretch_align(events_as_series(spark, sf_dir))


@register(
    "i1_recurrence_plot",
    f"""
WITH {EV},
sel AS (SELECT * FROM ev WHERE series_id < 5),
s AS (SELECT series_id, min(value) AS vmin, max(value) AS vmax FROM sel GROUP BY series_id)
SELECT a.series_id, a.t AS i, b.t AS j,
       CAST(floor(abs(a.value - b.value) / (s.vmax - s.vmin) * 255) AS INT) AS pixel
FROM sel a
JOIN sel b ON a.series_id = b.series_id
JOIN s ON a.series_id = s.series_id
""",
)
def i1_recurrence_plot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I1 — recurrence plots (long form) for series_id < 5
    (app.py:394-402): |v_i - v_j| scaled 0-255. JVM-side nested
    transform; the oracle is the equivalent self-join."""
    ev = events_as_series(spark, sf_dir).where(F.col("series_id") < 5)
    return imaging.rp_long(align.to_nested(ev))


@register(
    "i2_gramian_angular_field",
    f"""
WITH {EV},
sel AS (SELECT * FROM ev WHERE series_id < 5),
s AS (SELECT series_id, min(value) AS vmin, max(value) AS vmax FROM sel GROUP BY series_id),
p AS (
  SELECT a.series_id, a.t,
         acos(greatest(-1.0, least(1.0, (2 * a.value - s.vmax - s.vmin) / (s.vmax - s.vmin)))) AS phi
  FROM sel a JOIN s ON a.series_id = s.series_id
)
SELECT x.series_id, x.t AS i, y.t AS j,
       round((cos(x.phi + y.phi) + 1) * 255 / 2, 4) AS pixel
FROM p x JOIN p y ON x.series_id = y.series_id
""",
)
def i2_gramian_angular_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I2 — GAF (long form) for series_id < 5 (app.py:422-448)."""
    ev = events_as_series(spark, sf_dir).where(F.col("series_id") < 5)
    return _gaf_long4(align.to_nested(ev))


def _gaf_long4(nested: DataFrame) -> DataFrame:
    """GAF long form at the registry's 4-dp pixel round — the pixel
    pipeline shared by i2_gramian_angular_field and i2b_gaf_capped (one
    definition, so the two registered plans cannot drift)."""
    phi = imaging._gaf_phi("values")
    rows = F.transform(
        phi,
        lambda a, i: F.struct(
            i.alias("i"),
            F.transform(phi, lambda b: F.round((F.cos(a + b) + 1) * 255 / 2, 4)).alias("row"),
        ),
    )
    return (
        nested.select("series_id", F.explode(rows).alias("r"))
        .select("series_id", F.col("r.i").cast("long").alias("i"), F.posexplode("r.row").alias("j", "pixel"))
        .withColumn("j", F.col("j").cast("long"))
    )


def _capped_series_sel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """series_id < 5 subset truncated to the DATASET-WIDE G3 bound
    (global min series length over ALL series, not the subset — the e1
    skew lesson: a within-subset min is no guard when the subset is
    all hot keys). One broadcast 1-row bound, then an ordinal filter."""
    from the_framework_for_clustering_time_series_data_spark.operators.stats import series_lengths

    ev = events_as_series(spark, sf_dir)
    bound = series_lengths(ev).agg(F.min("length").alias("_cap"))
    return (
        ev.where(F.col("series_id") < 5)
        .crossJoin(F.broadcast(bound))
        .where(F.col("t") < F.col("_cap"))
        .drop("_cap")
    )


_CAPPED_SEL = f"""{EV},
b AS (SELECT min(cnt) AS cap FROM (
  SELECT count(*) AS cnt FROM ev GROUP BY series_id)),
sel AS (SELECT ev.* FROM ev, b WHERE series_id < 5 AND t < b.cap)"""


@register(
    "i1b_rp_capped",
    f"""
WITH {_CAPPED_SEL},
s AS (SELECT series_id, min(value) AS vmin, max(value) AS vmax FROM sel GROUP BY series_id)
SELECT a.series_id, a.t AS i, b.t AS j,
       CAST(floor(abs(a.value - b.value) / (s.vmax - s.vmin) * 255) AS INT) AS pixel
FROM sel a
JOIN sel b ON a.series_id = b.series_id
JOIN s ON a.series_id = s.series_id
""",
)
def i1b_rp_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I1's LENGTH-GUARDED production form (round-10 verdict ask #7):
    recurrence plots are O(L²) per series in both compute and output,
    so a single hot series blows the raw-length i1 up quadratically —
    the exact class the round-10 skew sweep caught in e1 (30+ min at
    sf1_skew until dataset-wide G3 truncation, commit 826ed77). Every
    series is truncated to the dataset-wide minimum length BEFORE
    imaging (the bound is one broadcast scalar from the length table,
    computed over ALL series — a within-subset min is no guard when
    the subset is all hot keys), then the identical |v_i − v_j| scaled
    self-join runs over bounded matrices. i1_recurrence_plot keeps the
    reference's raw-length semantics; this is the form a skewed corpus
    runs at scale."""
    return imaging.rp_long(align.to_nested(_capped_series_sel(spark, sf_dir)))


@register(
    "i2b_gaf_capped",
    f"""
WITH {_CAPPED_SEL},
s AS (SELECT series_id, min(value) AS vmin, max(value) AS vmax FROM sel GROUP BY series_id),
p AS (
  SELECT a.series_id, a.t,
         acos(greatest(-1.0, least(1.0, (2 * a.value - s.vmax - s.vmin) / (s.vmax - s.vmin)))) AS phi
  FROM sel a JOIN s ON a.series_id = s.series_id
)
SELECT x.series_id, x.t AS i, y.t AS j,
       round((cos(x.phi + y.phi) + 1) * 255 / 2, 4) AS pixel
FROM p x JOIN p y ON x.series_id = y.series_id
""",
)
def i2b_gaf_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I2's length-guarded production form — the GAF sibling of
    i1b_rp_capped: dataset-wide G3 truncation before the O(L²) angular
    self-join, same min-max→arccos→cos(φᵢ+φⱼ) pipeline over the
    bounded series. Note the min-max normalization (and hence every
    pixel) is computed on the TRUNCATED series — G3-then-image, the
    same composition order the reference's own pipeline applies
    (truncate at ingest, image downstream; app.py:246-261→422-448)."""
    return _gaf_long4(align.to_nested(_capped_series_sel(spark, sf_dir)))


def _emb_xy(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        F.col("vec_id").alias("series_id"),
        F.col("embedding")[0].cast("double").alias("x"),
        F.col("embedding")[1].cast("double").alias("y"),
        F.col("label"),
    )


@register(
    "c4_silhouette_exact",
    """
WITH emb AS (
  SELECT vec_id AS series_id, embedding[1]::DOUBLE AS x, embedding[2]::DOUBLE AS y, label
  FROM embeddings
),
p AS (
  SELECT a.series_id, a.label AS la, b.label AS lb,
         avg(sqrt((a.x - b.x)^2 + (a.y - b.y)^2)) AS md
  FROM emb a JOIN emb b ON a.series_id != b.series_id
  GROUP BY a.series_id, a.label, b.label
),
own AS (SELECT series_id, md AS a_dist FROM p WHERE la = lb),
oth AS (SELECT series_id, min(md) AS b_dist FROM p WHERE la != lb GROUP BY series_id)
SELECT e.series_id, e.label AS prediction,
       round(CASE WHEN own.a_dist IS NULL OR oth.b_dist IS NULL THEN 0.0
                  ELSE (oth.b_dist - own.a_dist) / greatest(own.a_dist, oth.b_dist)
             END, 6) AS silhouette
FROM emb e
LEFT JOIN own ON e.series_id = own.series_id
LEFT JOIN oth ON e.series_id = oth.series_id
""",
)
def c4_silhouette_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/C5 — exact full silhouette per sample for the given labels
    (sklearn silhouette_samples semantics, app.py:760-808): pairwise
    self-join, SQL-expressible."""
    e = _emb_xy(spark, sf_dir).withColumnRenamed("label", "prediction")
    out = cluster.silhouette_exact(e)
    return out.select(
        "series_id", "prediction", F.round("silhouette", 6).alias("silhouette")
    )


@register("c1_kmeans")  # MLlib model → rows-only oracle (ARI-tested in tests/)
def c1_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 — K-Means(k=9, seeded) on the 2-D embedding coordinates
    (app.py:704-720)."""
    out, _ = cluster.kmeans_fit_predict(_emb_xy(spark, sf_dir), k=9, seed=10)
    return out.select("series_id", "prediction")


def _lloyd_assign_sql(src: str, cent: str, out: str, dim: int) -> str:
    """One deterministic-Lloyd assignment round as a CTE (sequential-
    fold distances, (d2, cell) argmin ties) — shared discipline with
    dedup_plans._semantic_assign_sql, restated here for the 2-D case."""
    d2 = (
        f"list_aggregate(list_transform(range(1, {dim + 1}), "
        f"k -> (s.v[k] - c.cvec[k]) * (s.v[k] - c.cvec[k])), 'sum')"
    )
    return f"""{out} AS (
  SELECT id, v, cell, d2 FROM (
    SELECT s.id, s.v, c.cell, {d2} AS d2,
           row_number() OVER (PARTITION BY s.id ORDER BY {d2}, c.cell) AS rn
    FROM {src} s CROSS JOIN {cent} c
  ) WHERE rn = 1
)"""


def _c6b_split_chain(s: int, dim: int = 2) -> str:
    """One bisecting split step as a CTE chain: largest cluster
    (count DESC, lab) → two md5-seeded centroids among its members →
    two-round Lloyd → members on centroid 1 take label ``s``.
    ``L{s-1}`` in, ``L{s}`` out."""
    d2 = (
        f"list_aggregate(list_transform(range(1, {dim + 1}), "
        f"j -> (s.v[j] - c.cvec[j]) * (s.v[j] - c.cvec[j])), 'sum')"
    )

    def assign(src, cent, out):
        return f"""{out} AS (
  SELECT id, v, cell FROM (
    SELECT s.id, s.v, c.cell,
           row_number() OVER (PARTITION BY s.id ORDER BY {d2}, c.cell) AS rn
    FROM {src} s CROSS JOIN {cent} c
  ) WHERE rn = 1
)"""

    p = s - 1
    return f"""tgt{s} AS (
  SELECT lab FROM (SELECT lab, count(*) AS n FROM L{p} GROUP BY lab)
  ORDER BY n DESC, lab LIMIT 1
),
mem{s} AS MATERIALIZED (SELECT l.id, l.v FROM L{p} l JOIN tgt{s} t ON l.lab = t.lab),
sd{s} AS (
  SELECT row_number() OVER (ORDER BY md5(id::VARCHAR), id) - 1 AS cell,
         v AS cvec
  FROM (SELECT id, v FROM mem{s} ORDER BY md5(id::VARCHAR), id LIMIT 2)
),
{assign(f"mem{s}", f"sd{s}", f"a{s}")},
cmm{s} AS (
  SELECT cell, pos, floor(avg(val) * 1e6 + 0.5) / 1e6 AS cv
  FROM (SELECT cell, generate_subscripts(v, 1) AS pos, unnest(v) AS val
        FROM a{s})
  GROUP BY 1, 2
),
cc{s} AS (SELECT cell, list(cv ORDER BY pos) AS cvec FROM cmm{s} GROUP BY 1),
{assign(f"mem{s}", f"cc{s}", f"b{s}")},
L{s} AS MATERIALIZED (
  SELECT l.id, l.v,
         CASE WHEN b.cell = 1 THEN {s} ELSE l.lab END AS lab
  FROM L{p} l LEFT JOIN b{s} b ON b.id = l.id
)"""


_C6B_K = 8


@register(
    "c6b_bisecting_md5lloyd",
    f"""
WITH e AS (
  SELECT vec_id AS id,
         [embedding[1]::DOUBLE, embedding[2]::DOUBLE] AS v
  FROM embeddings
),
L0 AS MATERIALIZED (SELECT id, v, 0 AS lab FROM e),
{",".join(_c6b_split_chain(s) for s in range(1, _C6B_K))}
SELECT id AS series_id, CAST(lab AS INT) AS prediction
FROM L{_C6B_K - 1}
""",
)
def c6b_bisecting_md5lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6b — DETERMINISTIC bisecting k-means twin of c6 (k=8): each of
    the 7 splits divides the largest cluster with a two-centroid
    md5-seeded two-round Lloyd (cluster.bisecting_lloyd_assign),
    labels = split-step ids — fully DuckDB-replayable where MLlib's
    BisectingKMeans split RNG is implementation-defined. Same parity
    disciplines as c1b/c4b."""
    e = _emb_xy(spark, sf_dir)
    v = e.select("series_id", F.array("x", "y").alias("v"))
    out = cluster.bisecting_lloyd_assign(
        v, _C6B_K, id_col="series_id", vec_col="v"
    )
    return out.select(
        F.col("id").alias("series_id"), F.col("lab").cast("int").alias("prediction")
    )


_C1B_K = 9


@register(
    "c1b_kmeans_md5lloyd",
    f"""
WITH e AS (
  SELECT vec_id AS id,
         [embedding[1]::DOUBLE, embedding[2]::DOUBLE] AS v
  FROM embeddings
),
c0 AS (
  SELECT row_number() OVER (ORDER BY md5(id::VARCHAR), id) - 1 AS cell,
         v AS cvec
  FROM (SELECT id, v FROM e ORDER BY md5(id::VARCHAR), id LIMIT {_C1B_K})
),
{_lloyd_assign_sql("e", "c0", "a0", 2)},
cm AS (
  SELECT cell, pos, floor(avg(val) * 1e6 + 0.5) / 1e6 AS cv
  FROM (SELECT cell, generate_subscripts(v, 1) AS pos, unnest(v) AS val
        FROM a0)
  GROUP BY 1, 2
),
c1 AS (SELECT cell, list(cv ORDER BY pos) AS cvec FROM cm GROUP BY 1),
{_lloyd_assign_sql("e", "c1", "a1", 2)}
SELECT id AS series_id, CAST(cell AS INT) AS prediction
FROM a1
""",
)
def c1b_kmeans_md5lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1b — DETERMINISTIC k-means twin of C1 (k=9): md5-seeded
    centroids + fixed two-round Lloyd assignment
    (cluster.deterministic_lloyd_assign), fully DuckDB-replayable —
    the reproducible-clustering form a regression-tested pipeline
    pins, where MLlib's kmeans|| init is RNG/impl-defined and
    therefore rows-only at the gate. Same parity disciplines as
    dedup_semantic (sequential-fold distances, half-up-6dp centroid
    means, (d2, cell) ties)."""
    e = _emb_xy(spark, sf_dir)
    v = e.select("series_id", F.array("x", "y").alias("v"))
    out, _ = cluster.deterministic_lloyd_assign(
        v, _C1B_K, id_col="series_id", vec_col="v"
    )
    return out.select(
        F.col("id").alias("series_id"), F.col("cell").cast("int").alias("prediction")
    )


def _c4b_k_chain(k: int) -> str:
    """Per-k CTE chain for the deterministic model-selection oracle:
    md5-seeded two-round Lloyd (dim 2) + exact silhouette + per-k mean
    score. Ends in ``sc{k}(k, score)``."""
    kk = f"k{k}"
    d2 = (
        "list_aggregate(list_transform(range(1, 3), "
        "j -> (s.v[j] - c.cvec[j]) * (s.v[j] - c.cvec[j])), 'sum')"
    )

    def assign(src, cent, out):
        return f"""{out} AS (
  SELECT id, v, cell FROM (
    SELECT s.id, s.v, c.cell,
           row_number() OVER (PARTITION BY s.id ORDER BY {d2}, c.cell) AS rn
    FROM {src} s CROSS JOIN {cent} c
  ) WHERE rn = 1
)"""

    return f"""c0{kk} AS (
  SELECT row_number() OVER (ORDER BY md5(id::VARCHAR), id) - 1 AS cell,
         v AS cvec
  FROM (SELECT id, v FROM e ORDER BY md5(id::VARCHAR), id LIMIT {k})
),
{assign("e", f"c0{kk}", f"a0{kk}")},
cm{kk} AS (
  SELECT cell, pos, floor(avg(val) * 1e6 + 0.5) / 1e6 AS cv
  FROM (SELECT cell, generate_subscripts(v, 1) AS pos, unnest(v) AS val
        FROM a0{kk})
  GROUP BY 1, 2
),
c1{kk} AS (SELECT cell, list(cv ORDER BY pos) AS cvec FROM cm{kk} GROUP BY 1),
{assign("e", f"c1{kk}", f"a1{kk}")},
p{kk} AS (
  SELECT a.id, a.cell AS la, b.cell AS lb,
         avg(sqrt((a.v[1] - b.v[1])^2 + (a.v[2] - b.v[2])^2)) AS md
  FROM a1{kk} a JOIN a1{kk} b ON a.id != b.id
  GROUP BY 1, 2, 3
),
own{kk} AS (SELECT id, md AS a_dist FROM p{kk} WHERE la = lb),
oth{kk} AS (SELECT id, min(md) AS b_dist FROM p{kk} WHERE la != lb GROUP BY id),
sil{kk} AS (
  SELECT a1.id,
         round(CASE WHEN o1.a_dist IS NULL OR o2.b_dist IS NULL THEN 0.0
                    ELSE (o2.b_dist - o1.a_dist)
                         / greatest(o1.a_dist, o2.b_dist) END, 6) AS s
  FROM a1{kk} a1
  LEFT JOIN own{kk} o1 ON o1.id = a1.id
  LEFT JOIN oth{kk} o2 ON o2.id = a1.id
),
sc{kk} AS (SELECT {k} AS k, round(avg(s), 6) AS score FROM sil{kk})"""


_C4B_KS = (2, 3, 4, 5, 6)


@register(
    "c4b_selection_md5lloyd",
    f"""
WITH e AS (
  SELECT vec_id AS id,
         [embedding[1]::DOUBLE, embedding[2]::DOUBLE] AS v
  FROM embeddings
),
{",".join(_c4b_k_chain(k) for k in _C4B_KS)},
allk AS ({" UNION ALL ".join(f"SELECT * FROM sck{k}" for k in _C4B_KS)})
SELECT CAST(k AS INT) AS k, score,
       CAST(row_number() OVER (ORDER BY score DESC, k) AS INT) AS rank
FROM allk
""",
)
def c4b_selection_md5lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4b — fully oracle-checked model selection: for k = 2..6 fit
    the DETERMINISTIC md5-seeded Lloyd clustering
    (cluster.deterministic_lloyd_assign), score each with the EXACT
    mean silhouette (same pairwise arithmetic as c4_silhouette_exact,
    per-point 6-dp round then 6-dp rounded mean in BOTH engines), and
    rank (score DESC, k). The end-to-end verifiable twin of
    c4_silhouette_selection, whose MLlib fits keep it rows-only —
    here fits, scores, and the ranking all replay in DuckDB.

    Shape (round-8 rework): the five Lloyd assignments are UNIONED
    into one (k, point, label) frame and stage-checkpointed, then ONE
    fused silhouette job scores every k (silhouette_exact's ``keys``
    — pairs only form within equal k). Before, each k ran its own
    silhouette whose self-join + a/b/final joins re-evaluated that
    k's whole Lloyd chain ~3×, and the five k's paid five sequential
    jobs' scheduling; arithmetic per k is IDENTICAL (same pair sets,
    same aggregates — oracle hash unchanged). sf0.1 median 5.0 → 4.16
    (the residual is the inherent 125M-row exact-silhouette pair
    volume, which IS the oracle-able semantics)."""
    from the_framework_for_clustering_time_series_data_spark.functions.plan_tools import stage_checkpoint

    e = _emb_xy(spark, sf_dir)
    v = e.select(F.col("series_id").alias("id"), F.array("x", "y").alias("v")).transform(
        stage_checkpoint, eager=False
    )
    # ONE keyed md5-Lloyd for all five k's instead of five Lloyd DAGs
    # (the five fits' scheduling constants were the measured bulk of
    # this plan's cost, 3.8-4.1 s of ~4.6 at sf0.1). Per-k arithmetic
    # is identical to the standalone fit: each k's seeds are the
    # k-prefix of one md5 ranking, and every aggregate groups by k.
    ks = spark.createDataFrame([(k,) for k in _C4B_KS], "k int")
    seeds = cluster.md5_seed_cells(v, max(_C4B_KS)).join(
        F.broadcast(ks), F.col("cell") < F.col("k")
    ).select("k", "cell", "cvec")
    assign, _ = cluster.md5_lloyd(v, seeds, keys=("k",))
    allpred = (
        assign.select(
            "k",
            F.col("id").alias("series_id"),
            F.col("v")[0].alias("x"),
            F.col("v")[1].alias("y"),
            F.col("cell").alias("prediction"),
        )
        .transform(stage_checkpoint, eager=False)
    )
    allk = (
        cluster.silhouette_exact(allpred, keys=("k",))
        .select("k", F.round("silhouette", 6).alias("s"))
        .groupBy("k")
        .agg(F.round(F.avg("s"), 6).alias("score"))
    )
    from pyspark.sql.window import Window as W

    return allk.withColumn(
        "rank",
        F.row_number().over(W.orderBy(F.desc("score"), "k")).cast("int"),
    )


@register(
    "c2_dbscan",
    """
WITH RECURSIVE emb AS (
  SELECT vec_id AS series_id, embedding[1]::DOUBLE AS x, embedding[2]::DOUBLE AS y
  FROM embeddings
),
e AS (  -- ε-neighbor pairs INCLUDING the self-pair (sklearn counts self)
  SELECT a.series_id AS sid, b.series_id AS nid
  FROM emb a JOIN emb b ON (a.x - b.x)^2 + (a.y - b.y)^2 <= 0.0004
),
core AS (SELECT sid FROM e GROUP BY sid HAVING count(*) >= 5),
ce AS (
  SELECT e.sid AS src, e.nid AS dst FROM e
  JOIN core c1 ON c1.sid = e.sid JOIN core c2 ON c2.sid = e.nid
  WHERE e.sid <> e.nid
),
reach(src, dst) AS (
  SELECT src, dst FROM ce
  UNION
  SELECT r.src, b.dst FROM reach r JOIN ce b ON b.src = r.dst WHERE b.dst <> r.src
),
comp AS (
  SELECT c.sid AS series_id,
         least(c.sid, coalesce(min(r.dst), c.sid)) AS label
  FROM core c LEFT JOIN reach r ON r.src = c.sid
  GROUP BY c.sid
),
rk AS (
  SELECT label, dense_rank() OVER (ORDER BY label) - 1 AS cluster
  FROM (SELECT DISTINCT label FROM comp)
),
core_lab AS (SELECT comp.series_id, rk.cluster FROM comp JOIN rk USING (label)),
border AS (
  SELECT e.sid AS series_id, min(cl.cluster) AS cluster
  FROM e JOIN core_lab cl ON cl.series_id = e.nid
  WHERE e.sid NOT IN (SELECT sid FROM core)
  GROUP BY e.sid
),
lab AS (SELECT * FROM core_lab UNION ALL SELECT * FROM border)
SELECT emb.series_id, CAST(coalesce(lab.cluster, -1) AS INT) AS prediction
FROM emb LEFT JOIN lab USING (series_id)
""",
)
def c2_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 — DBSCAN(eps=0.02, min_samples=5) via ε-grid join + two-phase
    component search (app.py:748-752). Fully deterministic (labels =
    dense rank of each component's min id, border → min core
    neighbor's cluster), so unlike the model-driven clusterings it
    carries a complete value-hash oracle: the DuckDB twin states the
    ε-graph directly and closes core components with a recursive CTE."""
    return cluster.dbscan(_emb_xy(spark, sf_dir), eps=0.02, min_samples=5)


@register("c4_silhouette_selection")  # KMeans loop → rows-only oracle
def c4_silhouette_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 — silhouette-based k selection, top-5 of k=2..9 with score %
    (app.py:790-808); each k fitted once (vs the reference's double
    loop + triple refit)."""
    return cluster.silhouette_selection(
        _emb_xy(spark, sf_dir), max_k=10, seed=10, exact=False
    )


def _c3b_znorm_sql(src: str, col: str, key: str, out: str, outcol: str) -> str:
    """Sequential-fold z-norm of a list column, 6-dp half-up at every
    step — the SQL mirror of cluster._znorm6 (mean and pop-std as
    list_aggregate left folds, rounded before use; constant lists
    center only)."""
    return f"""{out} AS (
  SELECT {key},
         CASE WHEN _zsd > 0
              THEN list_transform({col}, x -> floor((x - _zm) / _zsd * 1e6 + 0.5) / 1e6)
              ELSE list_transform({col}, x -> floor((x - _zm) * 1e6 + 0.5) / 1e6)
         END AS {outcol}
  FROM (
    SELECT *, floor(sqrt(list_aggregate(
             list_transform({col}, x -> (x - _zm) * (x - _zm)), 'sum')
             / len({col})) * 1e6 + 0.5) / 1e6 AS _zsd
    FROM (
      SELECT *, floor(list_aggregate({col}, 'sum') / len({col}) * 1e6 + 0.5) / 1e6 AS _zm
      FROM {src}
    )
  )
)"""


_C3B_LAG = 4


def _c3b_assign_sql(src: str, cent: str, out: str) -> str:
    """One NCC assignment round: for every (series, cell, lag) compute
    the coefficient-normalized cross-correlation with sequential-fold
    sums, round 6 dp, argmax by (ncc DESC, cell, lag) — the SQL mirror
    of cluster.kshape_md5_assign's _assign."""
    ncc_expr = (
        "CASE WHEN sx2 * sc2 > 0 "
        "THEN floor(cc / sqrt(sx2 * sc2) * 1e6 + 0.5) / 1e6 ELSE 0.0 END"
    )
    return f"""{out}_raw AS (
  SELECT s.series_id, s.z AS v, c.cell, l.lag,
         coalesce(list_aggregate(list_transform(
             range(greatest(1, 1 + l.lag), least(len(s.z), len(s.z) + l.lag) + 1),
             p -> s.z[CAST(p AS INT)] * c.cvec[CAST(p - l.lag AS INT)]),
           'sum'), 0.0) AS cc,
         list_aggregate(list_transform(s.z, x -> x * x), 'sum') AS sx2,
         list_aggregate(list_transform(c.cvec, x -> x * x), 'sum') AS sc2
  FROM {src} s CROSS JOIN {cent} c
  CROSS JOIN (SELECT unnest(range(-{_C3B_LAG}, {_C3B_LAG + 1})) AS lag) l
),
{out} AS (
  SELECT series_id, v, cell, lag, ncc FROM (
    SELECT series_id, v, cell, lag, {ncc_expr} AS ncc,
           row_number() OVER (PARTITION BY series_id
             ORDER BY {ncc_expr} DESC, cell, lag) AS rn
    FROM {out}_raw
  ) WHERE rn = 1
)"""


def _c3b_update_sql(src: str, out: str) -> str:
    """Shape update: members shifted by their best lag (zero-padded),
    per-position mean rounded 6 dp, then the sequential z-norm — the
    SQL mirror of the kshape_md5_assign update step."""
    return f"""{out}_sh AS (
  SELECT a.cell, q.q AS pos,
         CASE WHEN q.q + a.lag BETWEEN 1 AND len(a.v)
              THEN a.v[CAST(q.q + a.lag AS INT)] ELSE 0.0 END AS val
  FROM {src} a CROSS JOIN qs q
),
{out}_cm AS (
  -- order-free member mean: exact int64 micro-unit sum, one division
  SELECT cell, pos,
         floor(CAST(sum(CAST(floor(val * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
               / count(*) + 0.5) / 1e6 AS cv
  FROM {out}_sh GROUP BY 1, 2
),
{out}_cg AS (SELECT cell, list(cv ORDER BY pos) AS cg FROM {out}_cm GROUP BY 1),
{_c3b_znorm_sql(f"{out}_cg", "cg", "cell", out, "cvec")}"""


@register(
    "c3b_kshape_md5",
    f"""
WITH {EV},
sel AS (SELECT * FROM ev WHERE series_id < 40),
ml AS (SELECT min(cnt) AS L
       FROM (SELECT count(*) AS cnt FROM sel GROUP BY series_id)),
tr AS (SELECT s.series_id, s.t, s.value FROM sel s, ml WHERE s.t < ml.L),
arr AS (SELECT series_id, list(value ORDER BY t) AS raw FROM tr GROUP BY 1),
{_c3b_znorm_sql("arr", "raw", "series_id", "zn", "z")},
qs AS (SELECT unnest(range(1, (SELECT L FROM ml) + 1)) AS q),
c0 AS (
  SELECT row_number() OVER (ORDER BY md5(series_id::VARCHAR), series_id) - 1 AS cell,
         z AS cvec
  FROM (SELECT series_id, z FROM zn
        ORDER BY md5(series_id::VARCHAR), series_id LIMIT 3)
),
{_c3b_assign_sql("zn", "c0", "a0")},
{_c3b_update_sql("a0", "c1")},
{_c3b_assign_sql("zn", "c1", "a1")}
SELECT series_id, CAST(cell AS INT) AS prediction,
       CAST(lag AS INT) AS lag, ncc
FROM a1
""",
)
def c3b_kshape_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3b — DETERMINISTIC K-Shape twin of c3 (k=3) with a FULL
    value-hash oracle: md5-seeded shape centroids, bounded-lag NCC
    assignment (the ts_sbd_pairs kernel), aligned-mean shape update,
    two fixed rounds (cluster.kshape_md5_assign) — every sum a
    sequential fold, every value 6-dp half-up in BOTH engines. The
    replayable form of the reference's headline algorithm
    (app.py:731-737), whose full RNG/eigenvector form keeps c3_kshape
    rows-only."""
    ev = events_as_series(spark, sf_dir).where(F.col("series_id") < 40)
    nested = align.to_nested(align.truncate_to_min(ev))
    out = cluster.kshape_md5_assign(nested, k=3, max_lag=_C3B_LAG)
    return out.select(
        F.col("id").alias("series_id"),
        F.col("cell").cast("int").alias("prediction"),
        F.col("lag").cast("int").alias("lag"),
        "ncc",
    )


@register("c3_kshape")  # driver Lloyd loop → rows-only oracle
def c3_kshape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 — K-Shape(k=3) per SIGMOD'15 on min-length-truncated series
    for series_id < 40 (the reference's call is broken; SURVEY §2.6)."""
    ev = events_as_series(spark, sf_dir).where(F.col("series_id") < 40)
    nested = align.to_nested(align.truncate_to_min(ev))
    return cluster.kshape(nested, k=3)


@register("e2_pca")  # sign-indeterminate → rows-only oracle (invariants in tests/)
def e2_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — PCA(2) of min-length-truncated series (app.py:677-691),
    MLlib distributed Gramian."""
    nested = align.to_nested(align.truncate_to_min(events_as_series(spark, sf_dir)))
    out, _ = embed.embedding_pca(nested, k=2)
    return out.select("series_id", F.round("x", 6).alias("x"), F.round("y", 6).alias("y"))


@register("e3_umap")  # driver-side fit / deterministic stand-in → rows-only
def e3_umap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — UMAP(2) of min-length-truncated series (app.py:661-667).
    umap-learn is absent in this environment, so this exercises the
    documented deterministic stand-in (seeded Gaussian random
    projection, JVM-side — operators.embed.embedding_umap)."""
    nested = align.to_nested(align.truncate_to_min(events_as_series(spark, sf_dir)))
    out = embed.embedding_umap(nested, n_components=2, seed=0)
    return out.select("series_id", F.round("x", 6).alias("x"), F.round("y", 6).alias("y"))


@register(
    "i3_resize",
    f"""
WITH {EV},
sel AS (SELECT * FROM ev WHERE series_id < 5),
s AS (
  SELECT series_id, count(*) AS n, min(value) AS vmin, max(value) AS vmax
  FROM sel GROUP BY 1
),
px AS MATERIALIZED (
  SELECT a.series_id, a.t AS i, b.t AS j,
         CAST(floor(abs(a.value - b.value) / (s.vmax - s.vmin) * 255)
              AS DOUBLE) AS p
  FROM sel a
  JOIN sel b ON a.series_id = b.series_id
  JOIN s ON a.series_id = s.series_id
),
ks AS (SELECT unnest(generate_series(0, 15)) AS k),
co AS (
  SELECT s.series_id, ks.k, s.n,
         CASE WHEN ks.k = 15 THEN CAST(s.n - 1 AS DOUBLE)
              ELSE ks.k * ((s.n - 1) / 15.0) END AS idx
  FROM s CROSS JOIN ks
),
cof AS MATERIALIZED (
  SELECT series_id, k, i0, idx - i0 AS fr FROM (
    SELECT series_id, k, idx,
           CAST(least(greatest(floor(idx), 0.0), n - 2) AS BIGINT) AS i0
    FROM co)
),
ri AS MATERIALIZED (
  SELECT r.series_id, r.k AS oi, p0.j,
         p0.p * (1.0 - r.fr) + p1.p * r.fr AS v
  FROM cof r
  JOIN px p0 ON p0.series_id = r.series_id AND p0.i = r.i0
  JOIN px p1 ON p1.series_id = r.series_id AND p1.i = r.i0 + 1 AND p1.j = p0.j
),
o AS (
  SELECT r0.series_id, r0.v * (1.0 - c.fr) + r1.v * c.fr AS val
  FROM cof c
  JOIN ri r0 ON r0.series_id = c.series_id AND r0.j = c.i0
  JOIN ri r1 ON r1.series_id = c.series_id AND r1.j = c.i0 + 1 AND r1.oi = r0.oi
)
SELECT series_id, 16 AS side,
       round(CAST(sum(CAST(floor(least(greatest(val, 0), 255)) AS BIGINT))
                  AS DOUBLE), 2) AS pixel_sum
FROM o GROUP BY series_id
""",
)
def i3_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I3 — image resize to 16×16 (app.py:457-473) of RP images for
    series_id < 5, digest form (per-series pixel-sum checksum) to keep
    the output row set small and stable.

    Full value-hash oracle (formerly rows-only): the align-corners
    bilinear kernel (imaging.resize_images) writes uint8 pixels, so the
    digest is an ORDER-FREE integer sum — the oracle only needs the
    same truncated ints, and the per-element interpolation
    (rows-then-columns, (1-frac) as a runtime subtraction, linspace's
    forced exact endpoint) is mirrored operation-for-operation in SQL;
    IEEE determinism then makes every uint8 cast agree."""
    ev = events_as_series(spark, sf_dir).where(F.col("series_id") < 5)
    images = imaging.recurrence_plot(align.to_nested(ev))
    resized = imaging.resize_images(images, 16)
    flat = F.flatten(F.col("image"))
    return resized.select(
        "series_id",
        F.size(F.col("image")).alias("side"),
        F.round(
            F.aggregate(flat, F.lit(0.0), lambda acc, x: acc + x), 2
        ).alias("pixel_sum"),
    )


@register(
    "i3b_resize_area",
    f"""
WITH {EV},
sel AS (SELECT * FROM ev WHERE series_id < 5 AND t < 48),
n48 AS (SELECT series_id FROM sel GROUP BY series_id HAVING count(*) = 48),
s AS (
  SELECT sel.series_id, min(value) AS vmin, max(value) AS vmax
  FROM sel JOIN n48 USING (series_id) GROUP BY sel.series_id
),
px AS (
  SELECT a.series_id, a.t AS i, b.t AS j,
         CAST(floor(abs(a.value - b.value) / (s.vmax - s.vmin) * 255) AS BIGINT)
           AS pixel
  FROM sel a
  JOIN sel b ON a.series_id = b.series_id
  JOIN s ON a.series_id = s.series_id
)
SELECT series_id, CAST(i // 3 AS INT) AS i, CAST(j // 3 AS INT) AS j,
       round(sum(pixel) / 9.0, 6) AS v
FROM px GROUP BY series_id, i // 3, j // 3
""",
)
def i3b_resize_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I3b — the reference's shrink path (cv2 INTER_AREA,
    app.py:468-470) made exact: for integer factors INTER_AREA is the
    f×f box mean, so resizing the 48×48 RP image (first-48-point
    truncation of each series) down 3× is pure integer block sums with
    one final division — bit-reproducible in DuckDB, giving the resize
    family its first full value-hash oracle (the general bilinear
    kernel in resize_images stays rows-only: its accumulation order is
    NumPy's). Output: the full 16×16 pixel grid per series, long
    form.

    Plan note: the box mean is computed RELATIONALLY — rp_long pixels
    grouped by (i//3, j//3) — rather than through the nested
    imaging.area_downsample form: one tiny shuffle instead of a
    2304-cell × 256-block nested-HOF expression whose codegen compiles
    for tens of seconds (equivalence of the two forms is pinned in
    tests/test_ml.py)."""
    ev = events_as_series(spark, sf_dir).where(F.col("series_id") < 5)
    nested = align.to_nested(ev)
    n48 = nested.where(F.size("values") >= 48).select(
        "series_id", F.slice("values", 1, 48).alias("values")
    )
    px = imaging.rp_long(n48)
    return (
        px.groupBy(
            "series_id",
            F.floor(F.col("i") / 3).cast("int").alias("i"),
            F.floor(F.col("j") / 3).cast("int").alias("j"),
        )
        .agg(F.round(F.sum("pixel") / 9.0, 6).alias("v"))
    )


@register(
    "e2b_pca_variance",
    """
WITH emb AS (
  SELECT embedding[1]::DOUBLE AS x, embedding[2]::DOUBLE AS y FROM embeddings
),
c AS (
  SELECT var_samp(x) AS a, covar_samp(x, y) AS b, var_samp(y) AS d FROM emb
),
e AS (
  SELECT (a + d + sqrt((a - d)^2 + 4 * b * b)) / 2 AS l1,
         (a + d - sqrt((a - d)^2 + 4 * b * b)) / 2 AS l2,
         a + d AS tot
  FROM c
)
SELECT 0 AS component, round(l1 / tot * 100, 4) AS explained_pct FROM e
UNION ALL
SELECT 1 AS component, round(l2 / tot * 100, 4) AS explained_pct FROM e
""",
)
def e2b_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2b/A4 — PCA explained-variance percentages (app.py:678-680)
    over the 2-D embedding coordinates, MLlib PCA. With two features
    the covariance eigenvalues have a closed form
    ((a+d ± sqrt((a-d)²+4b²))/2), so the variance-ratio output —
    unlike the sign-indeterminate projections of e2_pca — carries a
    full value-hash oracle against DuckDB's co-moment aggregates."""
    from pyspark.ml.feature import PCA as MLPCA
    from pyspark.ml.feature import VectorAssembler

    emb = _emb_xy(spark, sf_dir)
    va = VectorAssembler(inputCols=["x", "y"], outputCol="_features")
    model = MLPCA(k=2, inputCol="_features", outputCol="_pc").fit(
        va.transform(emb)
    )
    ratios = model.explainedVariance
    return spark.createDataFrame(
        [(i, round(float(r) * 100, 4)) for i, r in enumerate(ratios)],
        "component int, explained_pct double",
    )


_E2C_ROUNDS = 8


def _e2c_round1_sql(prev: str, out: str) -> str:
    """One PC1 power-iteration round: t = S·u as exact (micro×micro)
    integer sums, then L1-normalize back to a 6-dp micro-unit vector
    (no sqrt — the c8b norm discipline)."""
    return f"""{out}_t AS (
  SELECT s.p, sum(s.s6u * {prev}.umu) AS t
  FROM S s JOIN {prev} ON {prev}.p = s.q GROUP BY s.p
),
{out}_n AS (SELECT greatest(sum(abs(t)), 1) AS nn FROM {out}_t),
{out} AS MATERIALIZED (
  SELECT p, CAST(floor(CAST(t AS DOUBLE) / CAST((SELECT nn FROM {out}_n) AS DOUBLE)
                       * 1e6 + 0.5) AS BIGINT) AS umu
  FROM {out}_t
)"""


def _e2c_round2_sql(prev: str, out: str, ufinal: str) -> str:
    """One deflated PC2 round: t6 = round6(S·w); Gram-Schmidt against
    the final PC1 (α = exact-pico dots, ONE double division); then
    L1-normalize. Every sum an integer sum, every stored vector a
    micro-unit int."""
    return f"""{out}_t AS (
  SELECT s.p,
         CAST(floor(CAST(sum(s.s6u * {prev}.wmu) AS DOUBLE) / 1e6 + 0.5)
              AS BIGINT) AS t6
  FROM S s JOIN {prev} ON {prev}.p = s.q GROUP BY s.p
),
{out}_a AS (
  SELECT CAST(sum(u.umu * t.t6) AS DOUBLE)
         / CAST(greatest(sum(u.umu * u.umu), 1) AS DOUBLE) AS alpha
  FROM {ufinal} u JOIN {out}_t t ON t.p = u.p
),
{out}_r AS (
  SELECT t.p,
         t.t6 - CAST(floor((SELECT alpha FROM {out}_a)
                           * CAST(u.umu AS DOUBLE) + 0.5) AS BIGINT) AS r
  FROM {out}_t t JOIN {ufinal} u ON u.p = t.p
),
{out}_rn AS (SELECT greatest(sum(abs(r)), 1) AS nn FROM {out}_r),
{out} AS MATERIALIZED (
  SELECT p, CAST(floor(CAST(r AS DOUBLE) / CAST((SELECT nn FROM {out}_rn) AS DOUBLE)
                       * 1e6 + 0.5) AS BIGINT) AS wmu
  FROM {out}_r
)"""


def _e2c_oracle_sql() -> str:
    r1 = ",\n".join(
        _e2c_round1_sql(f"pu{r - 1}", f"pu{r}") for r in range(1, _E2C_ROUNDS + 1)
    )
    uf = f"pu{_E2C_ROUNDS}"
    r2 = ",\n".join(
        _e2c_round2_sql(f"pw{r - 1}", f"pw{r}", uf)
        for r in range(1, _E2C_ROUNDS + 1)
    )
    wf = f"pw{_E2C_ROUNDS}"
    return f"""
WITH lf AS (
  SELECT id, p, CAST(floor(v * 1e6 + 0.5) AS BIGINT) AS vu
  FROM (SELECT vec_id AS id, generate_subscripts(embedding, 1) AS p,
               unnest(embedding)::DOUBLE AS v
        FROM embeddings)
),
mm AS (
  SELECT p, CAST(floor(CAST(sum(vu) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS mmu
  FROM lf GROUP BY p
),
c AS MATERIALIZED (
  SELECT id, lf.p, vu - mmu AS cmu FROM lf JOIN mm ON mm.p = lf.p
),
S AS MATERIALIZED (
  SELECT a.p AS p, b.p AS q,
         CAST(floor(CAST(sum(a.cmu * b.cmu) AS DOUBLE) / 1e6 + 0.5) AS BIGINT)
           AS s6u
  FROM c a JOIN c b ON a.id = b.id
  GROUP BY 1, 2
),
pu0 AS (SELECT p, CAST(1000000 AS BIGINT) AS umu FROM mm),
{r1},
pw0 AS (SELECT p, CAST(CASE WHEN p % 2 = 1 THEN 1000000
                            ELSE -1000000 END AS BIGINT) AS wmu
        FROM mm),
{r2},
sc AS (
  SELECT c.id, sum(c.cmu * u.umu) AS xs, sum(c.cmu * w.wmu) AS ys
  FROM c JOIN {uf} u ON u.p = c.p JOIN {wf} w ON w.p = c.p
  GROUP BY c.id
)
SELECT id AS series_id,
       floor(CAST(xs AS DOUBLE) / 1e6 + 0.5) / 1e6 AS x,
       floor(CAST(ys AS DOUBLE) / 1e6 + 0.5) / 1e6 AS y
FROM sc
"""


@register("e2c_pca_powerit", _e2c_oracle_sql())
def e2c_pca_powerit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2c — deterministic power-iteration PCA twin of e2_pca
    (app.py:677-691) over the 64-d ``embeddings`` vectors, with a FULL
    DuckDB value-hash oracle — closing the last SURVEY-§2 family
    (E2) whose production form is sign/impl-indeterminate (e2b checks
    eigenvalues only). Exact-integer scatter, 8 power rounds per
    component with deflation, L1 norms — see
    operators/embed.py:pca_powerit_det. The oracle replays all 16
    rounds as unrolled CTEs (the c8b_graph_md5pic pattern); the Spark
    side runs the d-vector iterations on the collected d×d scatter
    (bounded model-state fetch) and scores rows distributed."""
    return embed.pca_powerit_det(load_table(spark, sf_dir, "embeddings"))


_E3B_CAP = 1000
_E3B_NN = 8
_E3B_ROUNDS = 6
_E3B_DIM = 64


def _e3b_center_norm_sql(o: str, src_expr: str) -> str:
    """Shared per-round tail: exact-mean centering + L1 normalization
    of a 6-dp vector CTE ``{o}_pre(id, c)`` into ``{o}(id, v)``."""
    return f"""{o}_n AS (
  SELECT greatest(CAST(sum(CAST(floor(abs(c) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
                  / 1e6, 1e-6) AS nn
  FROM {src_expr}
),
{o} AS MATERIALIZED (
  SELECT id, floor(c / (SELECT nn FROM {o}_n) * 1e6 + 0.5) / 1e6 AS v
  FROM {src_expr}
)"""


def _e3b_matvec_sql(prev: str, o: str) -> str:
    """round6(P·prev) with exact pico-unit integer sums, then exact-mean
    centering — the ``{o}_c(id, c)`` frame both round flavors share."""
    return f"""{o}_t AS (
  SELECT p.src AS id,
         floor(CAST(sum(CAST(floor(p.pw * 1e6 + 0.5) AS BIGINT)
                        * CAST(floor(q.v * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1e6 + 0.5) / 1e6 AS t
  FROM p JOIN {prev} q ON q.id = p.dst GROUP BY 1
),
{o}_m AS (
  SELECT floor(CAST(sum(CAST(floor(t * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
               / count(*) + 0.5) / 1e6 AS m
  FROM {o}_t
),
{o}_c AS (SELECT id, t - (SELECT m FROM {o}_m) AS c FROM {o}_t)"""


def _e3b_round1_sql(prev: str, o: str) -> str:
    return (
        _e3b_matvec_sql(prev, o) + ",\n" + _e3b_center_norm_sql(o, f"{o}_c")
    )


def _e3b_round2_sql(prev: str, o: str, uf: str) -> str:
    """Second-component round: matvec + center, then Gram-Schmidt
    deflation against the final first component (exact pico dots, one
    double division), then L1-normalize."""
    return f"""{_e3b_matvec_sql(prev, o)},
{o}_a AS (
  SELECT CAST(sum(CAST(floor(u.v * 1e6 + 0.5) AS BIGINT)
                  * CAST(floor(c.c * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
         / CAST(greatest(sum(CAST(floor(u.v * 1e6 + 0.5) AS BIGINT)
                             * CAST(floor(u.v * 1e6 + 0.5) AS BIGINT)),
                         1) AS DOUBLE) AS alpha
  FROM {uf} u JOIN {o}_c c ON c.id = u.id
),
{o}_r AS (
  SELECT c.id,
         c.c - floor((SELECT alpha FROM {o}_a) * u.v * 1e6 + 0.5) / 1e6 AS c
  FROM {o}_c c JOIN {uf} u ON u.id = c.id
),
{_e3b_center_norm_sql(o, f"{o}_r")}"""


def _e3b_oracle_sql() -> str:
    r1 = ",\n".join(
        _e3b_round1_sql(f"xu{r - 1}", f"xu{r}") for r in range(1, _E3B_ROUNDS + 1)
    )
    uf = f"xu{_E3B_ROUNDS}"
    r2 = ",\n".join(
        _e3b_round2_sql(f"xw{r - 1}", f"xw{r}", uf)
        for r in range(1, _E3B_ROUNDS + 1)
    )
    wf = f"xw{_E3B_ROUNDS}"
    return f"""
WITH keep AS (
  SELECT vec_id FROM embeddings
  ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {_E3B_CAP}
),
e AS MATERIALIZED (
  SELECT vec_id AS id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS v
  FROM embeddings JOIN keep USING (vec_id)
),
knn AS (
  -- EXACT integer pico-unit distances (micro-unit coordinate diffs
  -- squared and integer-summed): order-free, so the Spark side may
  -- compute them as int64 matmuls
  SELECT src, dst, d2p FROM (
    SELECT src, dst, d2p,
           row_number() OVER (PARTITION BY src ORDER BY d2p, dst) AS rn
    FROM (
      SELECT a.id AS src, b.id AS dst,
             list_aggregate(list_transform(range(1, {_E3B_DIM + 1}),
               j -> (a.v[j] - b.v[j]) * (a.v[j] - b.v[j])), 'sum') AS d2p
      FROM e a JOIN e b ON a.id <> b.id
    )
  ) WHERE rn <= {_E3B_NN}
),
ed AS MATERIALIZED (
  SELECT src, dst, max(w) AS w FROM (
    SELECT src, dst,
           floor(1.0 / (1.0 + CAST(d2p AS DOUBLE) / 1e12) * 1e6 + 0.5) / 1e6 AS w
    FROM knn
    UNION ALL
    SELECT dst, src,
           floor(1.0 / (1.0 + CAST(d2p AS DOUBLE) / 1e12) * 1e6 + 0.5) / 1e6
    FROM knn
  ) GROUP BY 1, 2
),
deg AS MATERIALIZED (
  SELECT src AS id,
         CAST(sum(CAST(floor(w * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS d
  FROM ed GROUP BY 1
),
p AS MATERIALIZED (
  SELECT ed.src, ed.dst,
         floor(ed.w / greatest(deg.d, 1e-6) * 1e6 + 0.5) / 1e6 AS pw
  FROM ed JOIN deg ON deg.id = ed.src
),
dtot AS (
  SELECT CAST(sum(CAST(floor(d * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS s
  FROM deg
),
xu0 AS (SELECT id,
               floor(d / greatest((SELECT s FROM dtot), 1e-6) * 1e6 + 0.5)
                 / 1e6 AS v
        FROM deg),
{r1},
xw0 AS (SELECT id, CASE WHEN id % 2 = 0 THEN 1.0 ELSE -1.0 END AS v FROM deg),
{r2}
SELECT u.id AS series_id, u.v AS x, w.v AS y
FROM {uf} u JOIN {wf} w ON w.id = u.id
"""


@register("e3b_spectral_md5", _e3b_oracle_sql())
def e3b_spectral_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3b — DETERMINISTIC spectral-embedding twin of e3_umap with a
    FULL DuckDB value-hash oracle: diffusion-map coordinates (Coifman
    & Lafon 2006 — the spectral structure UMAP's own init builds on)
    over the md5-capped kNN graph of the embeddings table, made
    cross-engine-replayable with the c8b/e2c discipline where the
    umap-learn / eigensolver paths are solver-defined:

    * corpus capped to the {_E3B_CAP} smallest-md5(vec_id) rows (full
      corpus below the cap — sf0.01 has 500); coordinates quantize to
      int64 MICRO-units, so pairwise distances are EXACT pico-unit
      integers — order-free, computable as one int64 Gramian matmul
      (overflow bound: 64·(2e7)² ≈ 2.6e16 « 2⁶³);
    * exact kNN ({_E3B_NN} neighbors, ties → nbr id), symmetrized;
      UMAP-shaped rational weights ``round6(1/(1+d²))`` — no
      transcendentals, so parity is absolute;
    * random-walk normalization P = D⁻¹W (exact micro-unit degrees);
    * {_E3B_ROUNDS} power rounds per component: round6(P·v) with exact
      pico-unit int sums, exact-mean centering (deflates the trivial
      all-ones eigenvector), L1 normalization; the second component
      additionally Gram-Schmidts against the first (exact pico dots);
    * x, y = the two final vectors — every reduction an integer sum,
      replayed by unrolled CTEs.

    Like the e3_umap production path it twins (umap-learn is a
    driver-side fit BY NATURE — the reference collects the matrix), the
    cap-bounded graph build and d-vector rounds run on the driver in
    exact Python ints (≤ cap·(dim + 2·{_E3B_NN}) values — the
    PQ-codebook/CLARA bounded-model-state pattern; a first cut as 12
    chained Spark jobs measured 38 s of pure scheduling constants at
    sf0.1 vs ~1 s for the same arithmetic here). The corpus-scale
    route swaps in sim_knn_graph's ANN candidates + the c8b
    distributed iteration."""
    import math

    import numpy as np

    base = (
        load_table(spark, sf_dir, "embeddings")
        .withColumn("_h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("_h", "vec_id")
        .limit(_E3B_CAP)
        .select(
            F.col("vec_id").alias("id"),
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)).cast("long"),
            ).alias("v"),
        )
        .collect()
    )
    ids = [int(r["id"]) for r in base]
    n = len(ids)
    Vu = np.array([r["v"] for r in base], dtype=np.int64)
    idarr = np.array(ids, dtype=np.int64)
    norms = (Vu * Vu).sum(axis=1)
    D2 = norms[:, None] + norms[None, :] - 2 * (Vu @ Vu.T)  # exact pico ints

    wmap: dict[tuple[int, int], float] = {}
    for i in range(n):
        order = np.lexsort((idarr, D2[i]))  # by (d2p, dst id)
        picked = [j for j in order if j != i][:_E3B_NN]
        for j in picked:
            w = math.floor(1.0 / (1.0 + float(int(D2[i, j])) / 1e12) * 1e6 + 0.5) / 1e6
            for a, b in ((i, j), (j, i)):
                if wmap.get((a, b), -1.0) < w:
                    wmap[(a, b)] = w

    deg_us = [0] * n
    for (i, _j), w in wmap.items():
        deg_us[i] += int(math.floor(w * 1e6 + 0.5))
    d = [float(du) / 1e6 for du in deg_us]
    adj: list[list[tuple[int, int]]] = [[] for _ in range(n)]
    for (i, j), w in wmap.items():
        pw = math.floor(w / max(d[i], 1e-6) * 1e6 + 0.5) / 1e6
        adj[i].append((j, int(math.floor(pw * 1e6 + 0.5))))
    s_tot = float(sum(deg_us)) / 1e6

    def matvec_centered(vec: list[float]) -> list[float]:
        vus = [int(math.floor(v * 1e6 + 0.5)) for v in vec]
        t6 = []
        for i in range(n):
            sp = 0
            for j, pw_us in adj[i]:
                sp += pw_us * vus[j]
            t6.append(math.floor(float(sp) / 1e6 + 0.5) / 1e6)
        m = (
            math.floor(
                float(sum(int(math.floor(t * 1e6 + 0.5)) for t in t6)) / n + 0.5
            )
            / 1e6
        )
        return [t - m for t in t6]

    def l1_unit(c: list[float]) -> list[float]:
        nn_ = max(
            float(sum(abs(int(math.floor(x * 1e6 + 0.5))) for x in c)) / 1e6,
            1e-6,
        )
        return [math.floor(x / nn_ * 1e6 + 0.5) / 1e6 for x in c]

    u = [
        math.floor(d[i] / max(s_tot, 1e-6) * 1e6 + 0.5) / 1e6 for i in range(n)
    ]
    for _ in range(_E3B_ROUNDS):
        u = l1_unit(matvec_centered(u))

    wv = [1.0 if ids[i] % 2 == 0 else -1.0 for i in range(n)]
    u_us = [int(math.floor(v * 1e6 + 0.5)) for v in u]
    # greatest(…,1) (mirrored in the oracle): a zero-variance corpus
    # degenerates u to all-zero — α must be 0, not a ZeroDivisionError
    b_den = max(sum(x * x for x in u_us), 1)
    for _ in range(_E3B_ROUNDS):
        c = matvec_centered(wv)
        c_us = [int(math.floor(x * 1e6 + 0.5)) for x in c]
        alpha = float(sum(u_us[i] * c_us[i] for i in range(n))) / float(b_den)
        resid = [
            c[i] - math.floor(alpha * u[i] * 1e6 + 0.5) / 1e6 for i in range(n)
        ]
        wv = l1_unit(resid)

    return spark.createDataFrame(
        [(ids[i], u[i], wv[i]) for i in range(n)],
        "series_id long, x double, y double",
    )


@register("e1_autoencoder_latent")  # trained model → rows-only oracle
def e1_autoencoder_latent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 — autoencoder latent pipeline: truncate (G3) → RP-image →
    resize(64) → TRAINED dense autoencoder (NumPy Adam+MSE, early stop
    — the reference's fit protocol, app.py:490-641; conv layers
    replaced by dense since TF is unavailable) → 2-D latent; training
    driver-side like the reference, inference distributed via
    mapInPandas.

    The G3 pre-truncation is the reference's own pipeline order (its
    cutting stage always runs before imaging) AND the length-skew
    guard: a recurrence plot is O(L²) in series LENGTH, so one
    heavy-tail series (10k events vs the ~70 median in the skewed
    decade) inflates the image 20,000× — found by the round-10 skew
    sweep, where unbounded-L imaging ran 30+ min at sf1_skew. Uniform
    replicas can never catch this class: they preserve every
    per-series length. The truncation length is the DATASET-wide min
    (the reference's semantics — it cuts the whole table before any
    clustering), computed before the 20-series cost subset: a
    within-subset min would be no guard at all when the subset itself
    is all hot series."""
    ev = align.truncate_to_min(events_as_series(spark, sf_dir)).where(
        F.col("series_id") < 20
    )
    images = imaging.recurrence_plot(align.to_nested(ev))
    out = embed.embedding_autoencoder(images, img_size=64)
    return out.select("series_id", F.round("x", 6).alias("x"), F.round("y", 6).alias("y"))


_P_E2E_D2 = (
    "list_aggregate(list_transform(range(1, len(s.v) + 1), "
    "j -> (s.v[j] - c.cvec[j]) * (s.v[j] - c.cvec[j])), 'sum')"
)


def _e2e_assign_sql(src: str, cent: str, out: str) -> str:
    return f"""{out} AS (
  SELECT id, v, cell, d2 FROM (
    SELECT s.id, s.v, c.cell, {_P_E2E_D2} AS d2,
           row_number() OVER (PARTITION BY s.id
                              ORDER BY {_P_E2E_D2}, c.cell) AS rn
    FROM {src} s CROSS JOIN {cent} c
  ) WHERE rn = 1
)"""


@register(
    "pipeline_e2e_det",
    f"""
WITH {EV},
s AS (SELECT min(value) AS vmin, max(value) AS vmax FROM ev),
pre AS (
  SELECT series_id, t,
         CASE WHEN vmax - vmin != 0
              THEN (value - vmin) / (vmax - vmin) ELSE 0.0 END AS mm
  FROM ev, s
),
ml AS (SELECT min(cnt) AS L
       FROM (SELECT count(*) AS cnt FROM pre GROUP BY series_id)),
tr AS (SELECT p.series_id, p.t, p.mm FROM pre p, ml WHERE p.t < ml.L),
arr AS (SELECT series_id AS id,
               list(floor(mm * 1e6 + 0.5) / 1e6 ORDER BY t) AS v
        FROM tr GROUP BY 1),
c0 AS (
  SELECT row_number() OVER (ORDER BY md5(id::VARCHAR), id) - 1 AS cell,
         v AS cvec
  FROM (SELECT id, v FROM arr ORDER BY md5(id::VARCHAR), id LIMIT 4)
),
{_e2e_assign_sql("arr", "c0", "a0")},
cm AS (
  SELECT cell, pos,
         floor(CAST(sum(CAST(floor(val * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
               / count(*) + 0.5) / 1e6 AS cv
  FROM (SELECT cell, generate_subscripts(v, 1) AS pos, unnest(v) AS val
        FROM a0)
  GROUP BY 1, 2
),
c1 AS (SELECT cell, list(cv ORDER BY pos) AS cvec FROM cm GROUP BY 1),
{_e2e_assign_sql("arr", "c1", "a1")}
SELECT id AS series_id, CAST(cell AS INT) AS prediction,
       floor(d2 * 1e6 + 0.5) / 1e6 AS dist,
       row_number() OVER (PARTITION BY cell ORDER BY d2, id) = 1 AS is_rep
FROM a1
""",
)
def pipeline_e2e_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DETERMINISTIC pipeline spine as ONE oracle-checked composite
    through the facade: load events → preprocess (P3 global min-max) →
    truncate (G3) → md5-Lloyd clustering of the 6-dp-quantized
    normalized series vectors (exact_mean micro-sums) → per-cluster
    representative pick (T2 semantics: member minimizing distance to
    the final centroid, ties → smaller id). Unlike pipeline_e2e (whose
    PCA/KMeans stages are solver-defined, rows-only), EVERY stage here
    replays in DuckDB, and — because min/max are exact aggregates and
    all later reductions are sequential folds or integer micro-sums —
    parity is order-proof end to end, with no probabilistic caveat."""
    from the_framework_for_clustering_time_series_data_spark.pipeline import TimeSeriesPipeline

    pipe = TimeSeriesPipeline(spark)
    pipe.load_events(sf_dir)
    pipe.preprocess()
    pipe.align("truncation")
    pipe.cluster("md5lloyd", k=4)
    return pipe.det_assignments()


@register("pipeline_e2e")  # model-driven → rows-only oracle
def pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full reference workflow as ONE lazy chain through the
    facade (SURVEY §3): load events → preprocess (P1-P5) → truncate
    (G3) → PCA embed (E2) → seeded K-Means (C1) → cluster
    representatives (T1+T2), each stage a cached DataFrame keyed by
    series_id — the 36-combination pipeline's spine, end to end."""
    from the_framework_for_clustering_time_series_data_spark.pipeline import TimeSeriesPipeline

    pipe = TimeSeriesPipeline(spark)
    pipe.load_events(sf_dir)
    pipe.preprocess()
    pipe.align("truncation")
    pipe.embed("pca")
    pipe.cluster("kmeans", k=4, seed=10)
    reps = pipe.representatives()
    return reps.select(
        "prediction",
        "series_id",
        F.round("x", 6).alias("x"),
        F.round("y", 6).alias("y"),
    )


@register("c6_bisecting_kmeans")  # MLlib model → rows-only oracle (ARI-tested)
def c6_bisecting_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6 — hierarchical (divisive) clustering on the 2-D embedding:
    the scalable counterpart of sklearn agglomerative clustering the
    reference lacks (k passes instead of an O(n²) merge matrix)."""
    out, _ = cluster.bisecting_kmeans_fit_predict(_emb_xy(spark, sf_dir), k=9, seed=10)
    return out.select("series_id", "prediction")


_C7B_K = 9


def _c7b_estep_sql(params: str, out: str, dim: int = 2) -> str:
    """One deterministic-EM E-step as a CTE chain: diagonal Gaussian
    log-densities with sequential dimension folds, log-sum-exp
    normalization folded in cell order, responsibilities rounded 6 dp
    half-up — the SQL mirror of cluster.gmm_md5em_assign's _estep."""
    return f"""{out}_s AS (
  SELECT e.id, e.v, c.cell,
         ln(c.w) + -0.5 * list_aggregate(list_transform(range(1, {dim + 1}),
           d -> (e.v[d] - c.mu[d]) * (e.v[d] - c.mu[d]) / c.var[d]
                + ln(2 * pi() * c.var[d])), 'sum') AS s
  FROM e CROSS JOIN {params} c
),
{out}_g AS (
  SELECT id, any_value(v) AS v,
         list(struct_pack(cell := cell, s := s) ORDER BY cell) AS cs
  FROM {out}_s GROUP BY id
),
{out}_g2 AS (
  SELECT *, list_aggregate(list_transform(cs, x -> x.s), 'max') AS m
  FROM {out}_g
),
{out}_g3 AS (
  SELECT *, list_aggregate(list_transform(cs, x -> exp(x.s - m)), 'sum') AS den
  FROM {out}_g2
),
{out}_u AS (SELECT id, v, m, den, unnest(cs) AS u FROM {out}_g3),
{out} AS (
  SELECT id, v, u.cell AS cell,
         floor(exp(u.s - m) / den * 1e6 + 0.5) / 1e6 AS r
  FROM {out}_u
)"""


@register(
    "c7b_gmm_md5em",
    f"""
WITH e AS (
  SELECT vec_id AS id,
         [floor(embedding[1]::DOUBLE * 1e6 + 0.5) / 1e6,
          floor(embedding[2]::DOUBLE * 1e6 + 0.5) / 1e6] AS v
  FROM embeddings
),
n AS (SELECT count(*)::DOUBLE AS nt FROM e),
p0 AS (
  SELECT row_number() OVER (ORDER BY md5(id::VARCHAR), id) - 1 AS cell,
         v AS mu, [1.0, 1.0] AS var, 1.0 / {_C7B_K} AS w
  FROM (SELECT id, v FROM e ORDER BY md5(id::VARCHAR), id LIMIT {_C7B_K})
),
{_c7b_estep_sql("p0", "r0")},
ms1 AS (
  SELECT cell,
         sum(CAST(floor(r * 1e6 + 0.5) AS BIGINT)) AS nr,
         sum(r * v[1]) AS _s1, sum(r * v[2]) AS _s2
  FROM r0 GROUP BY cell
),
p1a AS (
  SELECT cell,
         floor((CAST(nr AS DOUBLE) / 1e6) / (SELECT nt FROM n) * 1e6 + 0.5)
           / 1e6 AS w,
         [floor(_s1 / (CAST(nr AS DOUBLE) / 1e6) * 1e6 + 0.5) / 1e6,
          floor(_s2 / (CAST(nr AS DOUBLE) / 1e6) * 1e6 + 0.5) / 1e6] AS mu,
         nr
  FROM ms1 WHERE nr > 0
),
ms2 AS (
  SELECT r0.cell,
         any_value(p1a.w) AS w, any_value(p1a.mu) AS mu,
         any_value(p1a.nr) AS nr,
         sum(r0.r * (r0.v[1] - p1a.mu[1]) * (r0.v[1] - p1a.mu[1])) AS _q1,
         sum(r0.r * (r0.v[2] - p1a.mu[2]) * (r0.v[2] - p1a.mu[2])) AS _q2
  FROM r0 JOIN p1a ON r0.cell = p1a.cell
  GROUP BY r0.cell
),
p1 AS (
  SELECT cell, mu,
         [greatest(floor(_q1 / (CAST(nr AS DOUBLE) / 1e6) * 1e6 + 0.5) / 1e6, 1e-6),
          greatest(floor(_q2 / (CAST(nr AS DOUBLE) / 1e6) * 1e6 + 0.5) / 1e6, 1e-6)]
           AS var,
         w
  FROM ms2
),
{_c7b_estep_sql("p1", "r1")}
SELECT id AS series_id, CAST(cell AS INT) AS prediction, r AS confidence
FROM (
  SELECT id, cell, r,
         row_number() OVER (PARTITION BY id ORDER BY r DESC, cell) AS rn
  FROM r1
) WHERE rn = 1
""",
)
def c7b_gmm_md5em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7b — DETERMINISTIC diagonal-covariance GMM twin of c7 (k=9):
    md5-seeded means, fixed two-round EM with log-sum-exp
    responsibilities rounded 6 dp, parameters rounded 6 dp per round
    (cluster.gmm_md5em_assign) — DuckDB-replayable where MLlib's
    GaussianMixture init/reductions are RNG/impl-defined. Parity is
    PROBABILISTIC (exp/ln ulps + float M-step numerators under 6-dp
    rounds, ~1e-10/value — the documented matrix-profile class), the
    accepted discipline for the one clustering family whose math
    cannot avoid transcendentals."""
    e = _emb_xy(spark, sf_dir)
    v = e.select(F.col("series_id").alias("id"), F.array("x", "y").alias("v"))
    out = cluster.gmm_md5em_assign(v, k=_C7B_K, dim=2)
    return out.select(
        F.col("id").alias("series_id"),
        F.col("cell").cast("int").alias("prediction"),
        F.col("r").alias("confidence"),
    )


@register("c7_gmm")  # MLlib EM model → rows-only oracle (ARI-tested)
def c7_gmm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 — Gaussian-mixture soft clustering (distributed EM) with the
    winning component's posterior as a confidence column — the
    soft-membership view KMeans discards."""
    out = cluster.gmm_fit_predict(_emb_xy(spark, sf_dir), k=9, seed=10)
    return out.select("series_id", "prediction", "confidence")


_C8B_ROUNDS = 4
_C8B_K = 4


def _c8b_round_sql(prev: str, out: str) -> str:
    """One deterministic power-iteration round: u_i = round6(Σ_j
    w_ij·v_j / d_i) with the w·v products summed as EXACT pico-unit
    integers (both factors are 6-dp quanta — order-proof), then L1
    renormalization via micro-unit sums."""
    return f"""{out}_u AS MATERIALIZED (
  SELECT ed.src AS id,
         floor(CAST(sum(CAST(floor(ed.w * 1e6 + 0.5) AS BIGINT)
                        * CAST(floor(p.v * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1e12 / deg.d * 1e6 + 0.5) / 1e6 AS u
  FROM ed JOIN {prev} p ON p.id = ed.dst JOIN deg ON deg.id = ed.src
  GROUP BY ed.src, deg.d
),
{out}_n AS (
  SELECT CAST(sum(CAST(floor(abs(u) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
         / 1e6 AS nn
  FROM {out}_u
),
{out} AS MATERIALIZED (
  SELECT id, floor(u / (SELECT nn FROM {out}_n) * 1e6 + 0.5) / 1e6 AS v
  FROM {out}_u
)"""


def _c8b_oracle_sql() -> str:
    from the_framework_for_clustering_time_series_data_spark.plans.dedup_plans import JACCARD_EXACT_CTES

    rounds = ",\n".join(
        _c8b_round_sql(f"pv{r - 1}" if r > 1 else "v0", f"pv{r}")
        for r in range(1, _C8B_ROUNDS + 1)
    )
    last = f"pv{_C8B_ROUNDS}"
    return f"""
WITH {JACCARD_EXACT_CTES},
ed AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst, jaccard AS w FROM jpairs
  UNION ALL
  SELECT id_b, id_a, jaccard FROM jpairs
),
deg AS MATERIALIZED (
  SELECT src AS id,
         CAST(sum(CAST(floor(w * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS d
  FROM ed GROUP BY 1
),
dtot AS (
  SELECT CAST(sum(CAST(floor(d * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS s
  FROM deg
),
v0 AS (
  SELECT id, floor(d / (SELECT s FROM dtot) * 1e6 + 0.5) / 1e6 AS v FROM deg
),
{rounds},
arr AS (SELECT id, [v] AS v FROM {last}),
c0 AS (
  SELECT row_number() OVER (ORDER BY md5(id::VARCHAR), id) - 1 AS cell,
         v AS cvec
  FROM (SELECT id, v FROM arr ORDER BY md5(id::VARCHAR), id LIMIT {_C8B_K})
),
{_e2e_assign_sql("arr", "c0", "a0")},
cm8 AS (
  SELECT cell, pos,
         floor(CAST(sum(CAST(floor(val * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
               / count(*) + 0.5) / 1e6 AS cv
  FROM (SELECT cell, generate_subscripts(v, 1) AS pos, unnest(v) AS val
        FROM a0)
  GROUP BY 1, 2
),
c1 AS (SELECT cell, list(cv ORDER BY pos) AS cvec FROM cm8 GROUP BY 1),
{_e2e_assign_sql("arr", "c1", "a1")}
SELECT id AS doc_id, CAST(cell AS INT) AS cluster, v[1] AS v
FROM a1
"""


@register("c8b_graph_md5pic", _c8b_oracle_sql())
def c8b_graph_md5pic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8b — DETERMINISTIC graph-clustering twin of c8: power iteration
    on the normalized near-duplicate affinity graph (the PIC embedding,
    Lin & Cohen ICML'10) made cross-engine-replayable. Edges come from
    the md5-capped exact Jaccard kernel (threshold 0.2 — the same CTE
    text dedup_ngram_jaccard's oracle uses, shared via
    dedup_plans.JACCARD_EXACT_CTES); the iteration vector starts at the
    L1-normalized degree (PIC's 'degree' init), and each of the fixed
    {_C8B_ROUNDS} rounds computes u_i = round6(Σ_j w_ij·v_j / d_i) with
    the products summed as exact pico-unit int64s (both factors 6-dp
    quanta — association-order-PROOF) and renormalizes by the micro-
    exact L1 norm; the 1-D embedding is then clustered with the
    md5-Lloyd (k={_C8B_K}, exact_mean). Everything — pairs, degrees,
    iteration, clustering — replays in DuckDB, where MLlib PIC's RDD
    float reductions keep c8 rows-only. O(edges) per round, every
    reduction distributed.

    Returns (doc_id, cluster, v) for every node of the pair graph."""
    from the_framework_for_clustering_time_series_data_spark.operators import dedup
    from the_framework_for_clustering_time_series_data_spark.plans.dedup_plans import _JACCARD_DOC_CAP

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, threshold=0.2, n=3, max_docs=_JACCARD_DOC_CAP
    )
    ed = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"),
        F.col("jaccard").alias("w"),
    ).unionAll(
        pairs.select(
            F.col("id_b").alias("src"), F.col("id_a").alias("dst"),
            F.col("jaccard").alias("w"),
        )
    )
    from the_framework_for_clustering_time_series_data_spark.functions.plan_tools import stage_checkpoint

    ed = ed.transform(stage_checkpoint, eager=False)

    def micro(c):
        return F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("long")

    def r6(c):
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    deg = ed.groupBy("src").agg(
        (F.sum(micro(F.col("w"))).cast("double") / F.lit(1e6)).alias("d")
    ).select(F.col("src").alias("id"), "d")
    dtot = deg.agg(
        (F.sum(micro(F.col("d"))).cast("double") / F.lit(1e6)).alias("s")
    )
    v = deg.crossJoin(F.broadcast(dtot)).select(
        "id", r6(F.col("d") / F.col("s")).alias("v")
    )
    for _ in range(_C8B_ROUNDS):
        edj = ed.join(
            v.select(F.col("id").alias("dst"), F.col("v").alias("pv")), "dst"
        ).join(
            deg.select(F.col("id").alias("src"), F.col("d").alias("dd")), "src"
        )
        u = (
            edj.groupBy("src", "dd")
            .agg(F.sum(micro(F.col("w")) * micro(F.col("pv"))).alias("sp"))
            .select(
                F.col("src").alias("id"),
                (
                    F.floor(
                        F.col("sp").cast("double")
                        / F.lit(1e12)
                        / F.col("dd")
                        * F.lit(1e6)
                        + F.lit(0.5)
                    )
                    / F.lit(1e6)
                ).alias("u"),
            )
        )
        nn = u.agg(
            (F.sum(micro(F.abs(F.col("u")))).cast("double") / F.lit(1e6)).alias("nn")
        )
        v = (
            u.crossJoin(F.broadcast(nn))
            .select("id", r6(F.col("u") / F.col("nn")).alias("v"))
            .transform(stage_checkpoint, eager=False)
        )
    arr = v.select("id", F.array(F.col("v")).alias("vec"))
    assign, _ = cluster.deterministic_lloyd_assign(
        arr, _C8B_K, id_col="id", vec_col="vec", exact_mean=True
    )
    return assign.select(
        F.col("id").alias("doc_id"),
        F.col("cell").cast("int").alias("cluster"),
        F.col("v")[0].alias("v"),
    )


@register("c8_graph_clusters")  # PIC on similarity graph → rows-only oracle
def c8_graph_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8 — graph clustering of the document near-duplicate similarity
    graph: n-gram Jaccard pairs (threshold 0.2) → PowerIterationClustering
    over the affinity matrix — O(edges) per iteration; the n×n affinity
    matrix never materializes. Complements dedup_connected_groups
    (hard transitive closure) with a soft graph partition."""
    from the_framework_for_clustering_time_series_data_spark.operators import dedup
    from the_framework_for_clustering_time_series_data_spark.plans.dedup_plans import NGRAM_DOC_FREQ_CAP

    docs = load_table(spark, sf_dir, "documents")
    # capped hashed-shingle kernel: the affinity graph does not need
    # boilerplate-shingle pairs, and xxhash64 is the fast prod family
    # (this entry is rows-only — no oracle constrains the hash)
    pairs = dedup.ngram_jaccard_pairs(
        docs, threshold=0.2,
        max_doc_freq=NGRAM_DOC_FREQ_CAP, shingle_hash="xxhash64",
    )
    # 10 power iterations suffice for the near-dup affinity graph's
    # strong block structure (PIC's per-iteration cost here is RDD
    # scheduling overhead, not compute — half the iterations, same
    # partition; the two-clique invariant test runs the operator at 20)
    return cluster.power_iteration_clusters(pairs, k=4, max_iter=10).select(
        F.col("id").alias("doc_id"), "cluster"
    )


@register("text_tfidf_kmeans")  # HashingTF+IDF+KMeans → rows-only oracle
def text_tfidf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus topic clustering: hashing TF-IDF (no vocabulary broadcast
    — fixed-width sparse vectors at any corpus size) → L2 normalize →
    seeded k-means, so euclidean k-means acts as cosine k-means."""
    from the_framework_for_clustering_time_series_data_spark.operators import text as text_ops

    docs = load_table(spark, sf_dir, "documents")
    vecs = text_ops.tfidf_vectors(docs)
    from pyspark.ml.clustering import KMeans

    model = KMeans(k=6, seed=10, featuresCol="features", predictionCol="prediction").fit(vecs)
    return (
        model.transform(vecs)
        .select(F.col("id").alias("doc_id"), "prediction")
    )


_TTK_DIMS = 64
_TTK_K = 6


def _ttk_lloyd_sql(dim: int, k: int) -> str:
    """md5-Lloyd CTE chain over an ``e (id, v)`` frame of 6-dp quanta:
    seeds by md5 rank, two assignment rounds, exact-mean centroid
    update (the ivfpqb coarse-quantizer discipline)."""
    from the_framework_for_clustering_time_series_data_spark.plans.dedup_plans import _semantic_assign_sql

    return f"""k0 AS (
  SELECT row_number() OVER (ORDER BY md5(id::VARCHAR), id) - 1 AS cell,
         v AS cvec
  FROM (SELECT id, v FROM e ORDER BY md5(id::VARCHAR), id LIMIT {k})
),
{_semantic_assign_sql("e", "k0", "b0", dim)},
gm AS (
  SELECT cell, pos,
         floor(CAST(sum(CAST(floor(val * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
               / count(*) + 0.5) / 1e6 AS cv
  FROM (SELECT cell, generate_subscripts(v, 1) AS pos, unnest(v) AS val
        FROM b0)
  GROUP BY 1, 2
),
g1 AS (SELECT cell, list(cv ORDER BY pos) AS cvec FROM gm GROUP BY 1),
{_semantic_assign_sql("e", "g1", "b1", dim)}"""


@register(
    "text_tfidf_md5kmeans",
    rf"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
nn AS (SELECT count(*) AS n_docs FROM documents),
sc AS (
  SELECT tf.doc_id,
         CAST(('0x' || substr(md5(tf.term), 1, 8)) AS BIGINT) % {_TTK_DIMS} AS dim,
         CAST(floor(tf.tf * (ln((nn.n_docs + 1.0) / (dfq.df + 1.0)) + 1.0)
                    * 1e6 + 0.5) AS BIGINT) AS score_us
  FROM tf JOIN dfq USING (term) CROSS JOIN nn
),
comp AS (SELECT doc_id, dim, sum(score_us) AS c_us FROM sc GROUP BY 1, 2),
grid AS (SELECT unnest(range(0, {_TTK_DIMS})) AS dim),
dense AS (
  SELECT d.doc_id, list(coalesce(c.c_us, 0) / 1e6 ORDER BY g.dim) AS raw
  FROM (SELECT doc_id FROM documents) d CROSS JOIN grid g
  LEFT JOIN comp c ON c.doc_id = d.doc_id AND c.dim = g.dim
  GROUP BY 1
),
e AS (
  SELECT doc_id AS id,
         CASE WHEN nrm > 0
              THEN list_transform(raw, x -> floor(x / nrm * 1e6 + 0.5) / 1e6)
              ELSE list_transform(raw, x -> x * 0.0) END AS v
  FROM (SELECT doc_id, raw,
               sqrt(list_aggregate(list_transform(raw, x -> x * x), 'sum')) AS nrm
        FROM dense)
),
{_ttk_lloyd_sql(_TTK_DIMS, _TTK_K)}
SELECT id AS doc_id, CAST(cell AS INT) AS prediction
FROM b1
""",
)
def text_tfidf_md5kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC topic-clustering twin of text_tfidf_kmeans (whose
    murmur3 HashingTF + MLlib kmeans|| keep it rows-only): md5-bucketed
    64-dim TF-IDF vectors (sklearn-smoothed idf — the
    text_keywords_tfidf arithmetic — each term score half-up-rounded
    into int64 MICRO-units before the bucket sum, so components are
    association-order-proof), L2-normalized with a SEQUENTIAL fold +
    6-dp round per component, then the md5-Lloyd clustering
    (cluster.deterministic_lloyd_assign, exact_mean — valid because
    the normalized inputs are 6-dp quanta). Vectorization, normalize,
    seeds, both assignment rounds, and the centroid means all replay
    in DuckDB.

    Shape matches the scale story of the original: no vocabulary
    broadcast (hash bucketing), ONE tokenize pass (tf rows are already
    distinct (doc, term) pairs, so document frequency is a count(*)
    re-aggregate of the checkpointed tf frame — the oracle's second
    corpus scan fused away), a 1-row corpus count broadcast, a per-doc
    map lookup for the dense form (no doc×64 grid blow-up), and the
    broadcast-k Lloyd."""
    from the_framework_for_clustering_time_series_data_spark.functions.plan_tools import stage_checkpoint
    from the_framework_for_clustering_time_series_data_spark.operators.text import length_balanced, tokens_expr

    docs = load_table(spark, sf_dir, "documents")
    # length-balance ONLY the tokenize path: the other docs consumers
    # (the 1-row count, the doc_id spine of the dense form) are
    # metadata-sized and must not inherit the full-text shuffle
    tok = length_balanced(docs).select(
        "doc_id",
        F.explode(tokens_expr("text")).alias("term"),
    )
    tf = (
        tok.groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .transform(stage_checkpoint, eager=False)
    )
    dfq = tf.groupBy("term").agg(F.count("*").alias("df"))
    nn = docs.agg(F.count("*").alias("n_docs"))
    idf = F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)
    sc = (
        tf.join(dfq, "term")
        .crossJoin(F.broadcast(nn))
        .select(
            "doc_id",
            (
                F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("long")
                % _TTK_DIMS
            ).alias("dim"),
            F.floor(F.col("tf") * idf * F.lit(1e6) + F.lit(0.5))
            .cast("long")
            .alias("score_us"),
        )
    )
    comp = sc.groupBy("doc_id", "dim").agg(F.sum("score_us").alias("c_us"))
    # dense form as a per-doc map lookup: dims are unique per doc after
    # the comp aggregate, so one map + a constant 64-slot sequence scan
    # replaces the doc×64 grid crossJoin (which shuffled 64n rows)
    sparse = comp.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("dim", "c_us"))).alias("_m")
    )
    dims = F.sequence(F.lit(0).cast("long"), F.lit(_TTK_DIMS - 1).cast("long"))
    dense = (
        docs.select("doc_id")
        .join(sparse, "doc_id", "left")
        .select(
            "doc_id",
            F.transform(
                dims,
                lambda i: F.coalesce(
                    F.element_at(F.col("_m"), i), F.lit(0).cast("long")
                ).cast("double")
                / F.lit(1e6),
            ).alias("raw"),
        )
    )
    nrm = F.sqrt(
        F.aggregate(F.col("raw"), F.lit(0.0), lambda a, x: a + x * x)
    )
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    vec = dense.withColumn("_n", nrm).select(
        F.col("doc_id").alias("id"),
        F.when(
            F.col("_n") > 0,
            F.transform(F.col("raw"), lambda x: r6(x / F.col("_n"))),
        )
        .otherwise(F.transform(F.col("raw"), lambda x: x * F.lit(0.0)))
        .alias("v"),
    )
    out, _ = cluster.deterministic_lloyd_assign(
        vec, _TTK_K, id_col="id", vec_col="v", exact_mean=True
    )
    return out.select(
        F.col("id").alias("doc_id"), F.col("cell").cast("int").alias("prediction")
    )


@register("c9_kmedoids")  # iterative PAM → rows-only oracle (property-tested)
def c9_kmedoids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9 — K-medoids (PAM alternation, deterministic farthest-point
    init) on the 2-D embedding: the outlier-robust centers-are-members
    clustering MLlib lacks. Assignment is a broadcast-k argmin; the
    update step's per-cluster quadratic cost is hash-local, so the
    EXACT form is bounded to the 2000 points with the smallest
    md5(series_id) — the deterministic-sample discipline
    ts_pair_correlation uses; below the cap (sf0.01's 500 vectors)
    output is identical to uncapped. CLARA (c9b) is the uncapped
    fleet-scale path this exact baseline measures."""
    e = _emb_xy(spark, sf_dir)
    keep = (
        e.select("series_id")
        .orderBy(F.md5(F.col("series_id").cast("string")), "series_id")
        .limit(2000)
    )
    return cluster.kmedoids(e.join(F.broadcast(keep), "series_id", "left_semi"), k=5)


@register("c9b_kmedoids_clara")  # sampled PAM → rows-only oracle (blob/scale-tested)
def c9b_kmedoids_clara(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9b — CLARA (Kaufman & Rousseeuw): k-medoids' fleet-scale form.
    PAM solved driver-side on 5 deterministic md5-salted samples of
    40+2k points, each candidate medoid set scored against the FULL
    corpus in one broadcast pass, cheapest set wins — no quadratic
    update ever touches the corpus, so this is the plan that holds at
    100k+ points (scale test in tests/test_ml.py)."""
    return cluster.kmedoids(_emb_xy(spark, sf_dir), k=5, method="clara")


def _pam_assign_sql(src: str, meds: str, out: str) -> str:
    """One deterministic PAM assignment round as a CTE — the c1b
    (d2, cell) argmin discipline against a medoid table. MATERIALIZED:
    the following update step self-joins the assignment twice."""
    d2 = (
        "(s.v[1] - m.mvec[1]) * (s.v[1] - m.mvec[1])"
        " + (s.v[2] - m.mvec[2]) * (s.v[2] - m.mvec[2])"
    )
    return f"""{out} AS MATERIALIZED (
  SELECT id, v, cell, d2 FROM (
    SELECT s.id, s.v, m.cell, {d2} AS d2,
           row_number() OVER (PARTITION BY s.id ORDER BY {d2}, m.cell) AS rn
    FROM {src} s CROSS JOIN {meds} m
  ) WHERE rn = 1
)"""


def _pam_update_sql(asg: str, out: str) -> str:
    """One PAM medoid-update round: per cluster, the member minimizing
    the summed 6-dp micro-unit distance to all members (exact BIGINT
    sum — association-order-proof), ties → smaller id."""
    d2 = (
        "(a.v[1] - b.v2[1]) * (a.v[1] - b.v2[1])"
        " + (a.v[2] - b.v2[2]) * (a.v[2] - b.v2[2])"
    )
    return f"""cost_{out} AS (
  SELECT a.cell, a.id, a.v,
         sum(CAST(floor(sqrt({d2}) * 1e6 + 0.5) AS BIGINT)) AS cost
  FROM {asg} a JOIN (SELECT cell AS _c2, v AS v2 FROM {asg}) b ON a.cell = b._c2
  GROUP BY a.cell, a.id, a.v
),
{out} AS (
  SELECT cell, v AS mvec FROM (
    SELECT cell, v, row_number() OVER (PARTITION BY cell ORDER BY cost, id) AS rn
    FROM cost_{out}
  ) WHERE rn = 1
)"""


@register(
    "c9c_kmedoids_md5pam",
    f"""
WITH e AS (
  SELECT vec_id AS id,
         [embedding[1]::DOUBLE, embedding[2]::DOUBLE] AS v
  FROM embeddings
),
m0 AS (
  SELECT row_number() OVER (ORDER BY md5(id::VARCHAR), id) - 1 AS cell,
         v AS mvec
  FROM (SELECT id, v FROM e ORDER BY md5(id::VARCHAR), id LIMIT 5)
),
{_pam_assign_sql("e", "m0", "a0")},
{_pam_update_sql("a0", "m1")},
{_pam_assign_sql("e", "m1", "a1")},
{_pam_update_sql("a1", "m2")},
{_pam_assign_sql("e", "m2", "a2")}
SELECT id AS series_id, CAST(cell AS INT) AS prediction,
       floor(sqrt(d2) * 1e6 + 0.5) / 1e6 AS dist
FROM a2
""",
)
def c9c_kmedoids_md5pam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9c — DETERMINISTIC PAM (k-medoids) twin of c9 (k=5): md5-rank
    medoid seeds + fixed two alternation rounds
    (cluster.pam_md5_assign), fully DuckDB-replayable — the last
    clustering family without a verified twin (c9/c9b's convergence
    loop and farthest-point argmin chain are data-dependent float
    cascades). Assignment replays the c1b (d2, cell) discipline;
    medoid updates sum exact 6-dp micro-unit int64 distances, so every
    reduction is association-order-proof (the c3b/c8b discipline)."""
    e = _emb_xy(spark, sf_dir)
    v = e.select(F.col("series_id").alias("id"), F.array("x", "y").alias("v"))
    out = cluster.pam_md5_assign(v, k=5, rounds=2)
    return out.select(
        F.col("id").alias("series_id"),
        F.col("cell").cast("int").alias("prediction"),
        "dist",
    )


@register(
    "c10_single_link",
    """
WITH RECURSIVE emb AS (
  SELECT vec_id AS series_id, embedding[1]::DOUBLE AS x, embedding[2]::DOUBLE AS y
  FROM embeddings
),
e AS (
  SELECT a.series_id AS src, b.series_id AS dst
  FROM emb a JOIN emb b
    ON a.series_id <> b.series_id
   AND (a.x - b.x)^2 + (a.y - b.y)^2 <= 0.0025
),
reach(src, dst) AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.src, b.dst FROM reach r JOIN e b ON b.src = r.dst WHERE b.dst <> r.src
),
comp AS (
  SELECT emb.series_id,
         least(emb.series_id, coalesce(min(r.dst), emb.series_id)) AS cluster
  FROM emb LEFT JOIN reach r ON r.src = emb.series_id
  GROUP BY emb.series_id
)
SELECT series_id, cluster,
       count(*) OVER (PARTITION BY cluster) AS cluster_size
FROM comp
""",
)
def c10_single_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10 — single-linkage clustering cut at d=0.05 on the 2-D
    embedding: connected components of the d-threshold graph via the
    ε-grid equi-join + two-phase star contraction — the
    chaining-sensitive complement of DBSCAN (no core-point density
    gate). Deterministic (cluster = min member id, singletons
    included) ⇒ full value-hash oracle via a recursive CTE over the
    same threshold graph."""
    return cluster.single_link(_emb_xy(spark, sf_dir), d=0.05)


# --------------------------------------------------------------------------
# C11 — DTW Barycenter Averaging twin
# --------------------------------------------------------------------------

_DBA_BIG = str(1 << 62)
_DBA_L = 24  # series/barycenter length (square DP)


def _dba_round_sql(r: int, b_prev: str) -> str:
    """One unrolled DBA round: integer DTW DP against barycenter CTE
    ``b_prev`` (the g6 anti-diagonal recursion, BIGINT arithmetic with a
    2^62 sentinel instead of float infinity), MATERIALIZED cell table,
    path backtrack with the diag->up->left tie-break, and the
    round-half-up integer mean barycenter update."""
    L, BIG = _DBA_L, _DBA_BIG
    return f"""
dp{r}(series_id, k, d1, d2) AS (
  SELECT s.series_id, 2, [abs(s.vs[1] - b.bs[1])], CAST([] AS BIGINT[])
  FROM sub s CROSS JOIN {b_prev} b
  UNION ALL
  SELECT d.series_id, d.k + 1,
         list_transform(
           range(greatest(1, d.k + 1 - {L}), least({L}, d.k) + 1),
           i -> abs(s.vs[i] - b.bs[d.k + 1 - i]) + least(
             CASE WHEN i - 1 - greatest(1, d.k - {L}) + 1 >= 1
                  THEN coalesce(d.d1[CAST(i - 1 - greatest(1, d.k - {L}) + 1 AS INT)], {BIG})
                  ELSE {BIG} END,
             CASE WHEN i - greatest(1, d.k - {L}) + 1 >= 1
                  THEN coalesce(d.d1[CAST(i - greatest(1, d.k - {L}) + 1 AS INT)], {BIG})
                  ELSE {BIG} END,
             CASE WHEN i - 1 - greatest(1, d.k - 1 - {L}) + 1 >= 1
                  THEN coalesce(d.d2[CAST(i - 1 - greatest(1, d.k - 1 - {L}) + 1 AS INT)], {BIG})
                  ELSE {BIG} END)),
         d.d1
  FROM dp{r} d JOIN sub s USING (series_id) CROSS JOIN {b_prev} b
  WHERE d.k < {2 * L}
),
cells{r} AS MATERIALIZED (
  SELECT d.series_id,
         CAST(greatest(1, d.k - {L}) + generate_subscripts(d.d1, 1) - 1 AS INT) AS i,
         CAST(d.k - (greatest(1, d.k - {L}) + generate_subscripts(d.d1, 1) - 1) AS INT) AS j,
         unnest(d.d1) AS acc
  FROM dp{r} d
),
bt{r}(series_id, i, j) AS (
  SELECT series_id, {L}, {L} FROM sub
  UNION ALL
  SELECT b.series_id,
         CASE WHEN b.dga <= b.upa AND b.dga <= b.lfa THEN b.i - 1
              WHEN b.upa <= b.lfa THEN b.i - 1
              ELSE b.i END,
         CASE WHEN b.dga <= b.upa AND b.dga <= b.lfa THEN b.j - 1
              WHEN b.upa <= b.lfa THEN b.j
              ELSE b.j - 1 END
  FROM (
    SELECT t.series_id, t.i, t.j,
           CASE WHEN t.i > 1 AND t.j > 1 THEN cd.acc ELSE {BIG} END AS dga,
           CASE WHEN t.i > 1 THEN cu.acc ELSE {BIG} END AS upa,
           CASE WHEN t.j > 1 THEN cl.acc ELSE {BIG} END AS lfa
    FROM bt{r} t
    LEFT JOIN cells{r} cu ON cu.series_id = t.series_id AND cu.i = t.i - 1 AND cu.j = t.j
    LEFT JOIN cells{r} cl ON cl.series_id = t.series_id AND cl.i = t.i AND cl.j = t.j - 1
    LEFT JOIN cells{r} cd ON cd.series_id = t.series_id AND cd.i = t.i - 1 AND cd.j = t.j - 1
  ) b
  WHERE NOT (b.i = 1 AND b.j = 1)
),
b{r} AS MATERIALIZED (
  SELECT list(b ORDER BY j) AS bs FROM (
    SELECT t.j, CAST((2 * sum(s.vs[t.i]) + count(*)) // (2 * count(*)) AS BIGINT) AS b
    FROM bt{r} t JOIN sub s USING (series_id)
    GROUP BY t.j)
)"""


_C11_DBA_ORACLE = f"""
WITH RECURSIVE ev AS (
  SELECT user_id AS series_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS t,
         value
  FROM events
),
arr AS (
  SELECT series_id,
         list(CAST(floor(value * 1000000 + 0.5) AS BIGINT) ORDER BY t) AS vs
  FROM ev WHERE t < {_DBA_L} GROUP BY series_id HAVING count(*) = {_DBA_L}
),
sub AS MATERIALIZED (
  SELECT series_id, vs FROM arr ORDER BY md5(series_id::VARCHAR), series_id LIMIT 12
),
b0 AS MATERIALIZED (
  SELECT list(b ORDER BY j) AS bs FROM (
    SELECT g.j, CAST((2 * sum(s.vs[g.j]) + count(*)) // (2 * count(*)) AS BIGINT) AS b
    FROM sub s CROSS JOIN (SELECT unnest(range(1, {_DBA_L} + 1)) AS j) g
    GROUP BY g.j)
),
{_dba_round_sql(1, "b0")},
{_dba_round_sql(2, "b1")}
SELECT CAST(0 AS INT) AS rnd,
       CAST(generate_subscripts(bs, 1) - 1 AS INT) AS j,
       unnest(bs) / 1000000.0 AS bary, 0.0 AS inertia
FROM b0
UNION ALL
SELECT CAST(1 AS INT), CAST(generate_subscripts(bs, 1) - 1 AS INT),
       unnest(bs) / 1000000.0,
       (SELECT sum(acc) / 1000000.0 FROM cells1 WHERE i = {_DBA_L} AND j = {_DBA_L})
FROM b1
UNION ALL
SELECT CAST(2 AS INT), CAST(generate_subscripts(bs, 1) - 1 AS INT),
       unnest(bs) / 1000000.0,
       (SELECT sum(acc) / 1000000.0 FROM cells2 WHERE i = {_DBA_L} AND j = {_DBA_L})
FROM b2
"""


@register("c11_dba_md5", _C11_DBA_ORACLE)
def c11_dba_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C11 — deterministic DTW Barycenter Averaging (Petitjean 2011),
    the DTW-metric centroid the reference's clustering family implies
    but never ships (its K-Shape uses the SBD analogue, app.py:731-737)
    — with a FULL value-hash oracle: the 12 smallest-md5 24-point
    series in INT64 micro-units, integer DTW paths (align._dtw_path
    == the oracle's BIGINT anti-diagonal recursive-CTE DP, sentinel
    2^62), round-half-up integer barycenter means, two fixed rounds.
    Output is the whole round HISTORY (rnd, j, bary, inertia), so the
    oracle pins every iteration and the monotone inertia drop, not just
    the final centroid."""
    ev = events_as_series(spark, sf_dir).where(F.col("t") < 24)
    nested = align.to_nested(ev)
    return cluster.dba_md5(nested, n_series=12, length=24, rounds=2)


# --------------------------------------------------------------------------
# C12 — cluster validity indices over the deterministic labels
# --------------------------------------------------------------------------

_C12_ORACLE = f"""
WITH e AS (
  SELECT vec_id AS id,
         [embedding[1]::DOUBLE, embedding[2]::DOUBLE] AS v
  FROM embeddings
),
c0 AS (
  SELECT row_number() OVER (ORDER BY md5(id::VARCHAR), id) - 1 AS cell,
         v AS cvec
  FROM (SELECT id, v FROM e ORDER BY md5(id::VARCHAR), id LIMIT {_C1B_K})
),
{_lloyd_assign_sql("e", "c0", "a0", 2)},
cm AS (
  SELECT cell, pos, floor(avg(val) * 1e6 + 0.5) / 1e6 AS cv
  FROM (SELECT cell, generate_subscripts(v, 1) AS pos, unnest(v) AS val
        FROM a0)
  GROUP BY 1, 2
),
c1 AS (SELECT cell, list(cv ORDER BY pos) AS cvec FROM cm GROUP BY 1),
{_lloyd_assign_sql("e", "c1", "a1", 2)},
q AS (
  SELECT id, cell,
         CAST(floor(v[1] * 1e6 + 0.5) AS BIGINT) AS q1,
         CAST(floor(v[2] * 1e6 + 0.5) AS BIGINT) AS q2
  FROM a1
),
st AS (SELECT cell, count(*) AS n_c, sum(q1) AS s1, sum(q2) AS s2 FROM q GROUP BY 1),
ct AS (
  SELECT cell, n_c,
         CAST(floor(CAST(2 * s1 + n_c AS DOUBLE) / CAST(2 * n_c AS DOUBLE)) AS BIGINT) AS c1us,
         CAST(floor(CAST(2 * s2 + n_c AS DOUBLE) / CAST(2 * n_c AS DOUBLE)) AS BIGINT) AS c2us
  FROM st
),
gl AS (
  SELECT count(*) AS n,
         CAST(floor(CAST(2 * sum(q1) + count(*) AS DOUBLE) / CAST(2 * count(*) AS DOUBLE)) AS BIGINT) AS g1us,
         CAST(floor(CAST(2 * sum(q2) + count(*) AS DOUBLE) / CAST(2 * count(*) AS DOUBLE)) AS BIGINT) AS g2us
  FROM q
),
wm AS (
  SELECT q.cell,
         (q.q1 - ct.c1us) * (q.q1 - ct.c1us)
           + (q.q2 - ct.c2us) * (q.q2 - ct.c2us) AS d2i
  FROM q JOIN ct USING (cell)
),
wc AS (
  SELECT cell, sum(d2i) AS w_c,
         sum(CAST(floor(sqrt(CAST(d2i AS DOUBLE)) + 0.5) AS BIGINT)) AS sum_du
  FROM wm GROUP BY 1
),
tot AS (SELECT sum(w_c) AS w_all FROM wc),
bb AS (
  SELECT sum(ct.n_c * ((ct.c1us - gl.g1us) * (ct.c1us - gl.g1us)
                       + (ct.c2us - gl.g2us) * (ct.c2us - gl.g2us))) AS b_all
  FROM ct, gl
),
ch AS (
  SELECT floor(CAST(bb.b_all * (gl.n - {_C1B_K}) AS DOUBLE)
               / CAST(tot.w_all * ({_C1B_K} - 1) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS ch_index
  FROM bb, gl, tot
),
sc AS (
  SELECT ct.cell, ct.n_c, ct.c1us, ct.c2us,
         CAST(floor(CAST(2 * wc.sum_du + ct.n_c AS DOUBLE)
                    / CAST(2 * ct.n_c AS DOUBLE)) AS BIGINT) AS s_us
  FROM ct JOIN wc USING (cell)
),
pr AS (
  SELECT a.cell,
         max(CAST(a.s_us + b.s_us AS DOUBLE)
             / CAST(floor(sqrt(CAST((a.c1us - b.c1us) * (a.c1us - b.c1us)
                                    + (a.c2us - b.c2us) * (a.c2us - b.c2us) AS DOUBLE)) + 0.5) AS DOUBLE)) AS r_max
  FROM sc a JOIN sc b ON a.cell <> b.cell
  WHERE floor(sqrt(CAST((a.c1us - b.c1us) * (a.c1us - b.c1us)
                        + (a.c2us - b.c2us) * (a.c2us - b.c2us) AS DOUBLE)) + 0.5) > 0
  GROUP BY a.cell
),
dbc AS (SELECT cell, CAST(floor(r_max * 1e6 + 0.5) AS BIGINT) AS dbc_us FROM pr),
dbi AS (SELECT CAST(sum(dbc_us) AS DOUBLE) / ({_C1B_K} * 1000000.0) AS db_index FROM dbc)
SELECT CAST(sc.cell AS INT) AS cell, sc.n_c AS n_c,
       CAST(sc.s_us AS DOUBLE) / 1000000.0 AS scatter,
       CAST(dbc.dbc_us AS DOUBLE) / 1000000.0 AS db_component,
       ch.ch_index AS ch_index, dbi.db_index AS db_index
FROM sc JOIN dbc USING (cell), ch, dbi
"""


@register("c12_validity_indices", _C12_ORACLE)
def c12_validity_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12 — Calinski-Harabasz and Davies-Bouldin cluster-validity
    indices over the c1b deterministic labels: the two standard
    internal indices the reference's silhouette-based model selection
    (app.py:745-760, C4) does NOT cover, and the scalable ones — both
    are O(n + k^2) single-pass aggregates (no pairwise point scan like
    the exact silhouette), so they remain computable at 100 TB where
    silhouette needs sampling. Fully integer-exact twin discipline:
    member coordinates micro-quantized once, centroid/global means as
    floor-division integer half-up means, CH from exact integer
    between/within sums (decimal(38,0) accumulators — micro^2 units
    overflow int64 near 3e7 rows/cluster), DB from integer-quantized
    scatter and centroid-gap distances. Output: per-cluster rows
    (size, scatter, DB component) with the global CH/DB repeated.

    Round-12 shape (guide §2.3/§2.4 — aggregate before you shuffle,
    remove repeated subtrees): the Lloyd assignment is materialized
    ONCE via stage_checkpoint instead of re-executing its unrolled
    2-round DAG for every downstream consumer (the pre-r12 plan held
    102 Exchange nodes for this reason), and the per-cell sufficient
    statistics carry Σq and Σq² so the within-cluster sum W_c is the
    exact integer identity Σ(q−c)² = Σq² − 2cΣq + n·c² (decimal
    accumulators, value-identical to the per-point form) while the
    global mean folds from the per-cell sums. Only sum_du — a
    per-point floor(sqrt(d2i)+0.5) — still needs a second pass over
    the (checkpointed) assignment."""
    from the_framework_for_clustering_time_series_data_spark.functions.plan_tools import stage_checkpoint

    K = _C1B_K
    e = _emb_xy(spark, sf_dir)
    v = e.select("series_id", F.array("x", "y").alias("v"))
    a1, _ = cluster.deterministic_lloyd_assign(
        v, K, id_col="series_id", vec_col="v"
    )
    a1 = a1.transform(stage_checkpoint, eager=False)

    def fdiv(a, b):
        return F.floor(a.cast("double") / b.cast("double")).cast("long")

    q = a1.select(
        "cell",
        F.floor(F.col("v")[0] * 1e6 + 0.5).cast("long").alias("q1"),
        F.floor(F.col("v")[1] * 1e6 + 0.5).cast("long").alias("q2"),
    )
    dec = "decimal(38,0)"
    st = (
        q.groupBy("cell")
        .agg(
            F.count("*").alias("n_c"),
            F.sum("q1").alias("s1"),
            F.sum("q2").alias("s2"),
            F.sum((F.col("q1") * F.col("q1")).cast(dec)).alias("sq1"),
            F.sum((F.col("q2") * F.col("q2")).cast(dec)).alias("sq2"),
        )
        .transform(stage_checkpoint, eager=False)
    )
    ct = st.select(
        "cell",
        "n_c",
        fdiv(2 * F.col("s1") + F.col("n_c"), 2 * F.col("n_c")).alias("c1us"),
        fdiv(2 * F.col("s2") + F.col("n_c"), 2 * F.col("n_c")).alias("c2us"),
    )
    gl = st.agg(
        F.sum("n_c").alias("n"),
        fdiv(2 * F.sum("s1") + F.sum("n_c"), 2 * F.sum("n_c")).alias("g1us"),
        fdiv(2 * F.sum("s2") + F.sum("n_c"), 2 * F.sum("n_c")).alias("g2us"),
    )
    # W_c via the exact integer identity (all terms decimal(38,0)):
    # Σ(q−c)² = Σq² − 2·c·Σq + n·c², per coordinate.
    stc = st.join(ct.select("cell", "c1us", "c2us"), "cell")
    w_c_expr = (
        F.col("sq1")
        - F.lit(2).cast(dec) * F.col("c1us").cast(dec) * F.col("s1").cast(dec)
        + F.col("n_c").cast(dec) * F.col("c1us").cast(dec) * F.col("c1us").cast(dec)
        + F.col("sq2")
        - F.lit(2).cast(dec) * F.col("c2us").cast(dec) * F.col("s2").cast(dec)
        + F.col("n_c").cast(dec) * F.col("c2us").cast(dec) * F.col("c2us").cast(dec)
    )
    d2i = (F.col("q1") - F.col("c1us")) * (F.col("q1") - F.col("c1us")) + (
        F.col("q2") - F.col("c2us")
    ) * (F.col("q2") - F.col("c2us"))
    du = (
        q.join(F.broadcast(ct.select("cell", "c1us", "c2us")), "cell")
        .groupBy("cell")
        .agg(
            F.sum(
                F.floor(F.sqrt(d2i.cast("double")) + 0.5).cast("long")
            ).alias("sum_du")
        )
    )
    wc = (
        stc.select("cell", w_c_expr.cast(dec).alias("w_c"))
        .join(du, "cell")
        .select("cell", "w_c", "sum_du")
        .transform(stage_checkpoint, eager=False)
    )
    tot = wc.agg(F.sum("w_c").alias("w_all"))
    bgap = (F.col("c1us") - F.col("g1us")) * (F.col("c1us") - F.col("g1us")) + (
        F.col("c2us") - F.col("g2us")
    ) * (F.col("c2us") - F.col("g2us"))
    bb = (
        ct.crossJoin(F.broadcast(gl))
        .select((F.col("n_c") * bgap).cast("decimal(38,0)").alias("bterm"))
        .agg(F.sum("bterm").alias("b_all"))
    )
    ch = (
        bb.crossJoin(F.broadcast(gl))
        .crossJoin(F.broadcast(tot))
        .select(
            (
                F.floor(
                    (F.col("b_all") * (F.col("n") - K)).cast("double")
                    / (F.col("w_all") * (K - 1)).cast("double")
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("ch_index")
        )
    )
    sc = ct.join(wc, "cell").select(
        "cell",
        "n_c",
        "c1us",
        "c2us",
        fdiv(2 * F.col("sum_du") + F.col("n_c"), 2 * F.col("n_c")).alias("s_us"),
    )
    a = sc.select(
        F.col("cell"), F.col("s_us").alias("sa"), F.col("c1us").alias("x1"), F.col("c2us").alias("y1")
    )
    b = sc.select(
        F.col("cell").alias("cell_b"),
        F.col("s_us").alias("sb"),
        F.col("c1us").alias("x2"),
        F.col("c2us").alias("y2"),
    )
    gap2 = (F.col("x1") - F.col("x2")) * (F.col("x1") - F.col("x2")) + (
        F.col("y1") - F.col("y2")
    ) * (F.col("y1") - F.col("y2"))
    m_us = F.floor(F.sqrt(gap2.cast("double")) + 0.5)
    pr = (
        a.join(F.broadcast(b), F.col("cell") != F.col("cell_b"))
        .where(m_us > 0)
        .select(
            "cell",
            (
                (F.col("sa") + F.col("sb")).cast("double") / m_us.cast("double")
            ).alias("r"),
        )
        .groupBy("cell")
        .agg(F.max("r").alias("r_max"))
    )
    dbc = pr.select(
        "cell", F.floor(F.col("r_max") * 1e6 + 0.5).cast("long").alias("dbc_us")
    )
    dbi = dbc.agg(
        (F.sum("dbc_us").cast("double") / (K * 1000000.0)).alias("db_index")
    )
    return (
        sc.join(dbc, "cell")
        .crossJoin(F.broadcast(ch))
        .crossJoin(F.broadcast(dbi))
        .select(
            F.col("cell").cast("int").alias("cell"),
            "n_c",
            (F.col("s_us").cast("double") / 1000000.0).alias("scatter"),
            (F.col("dbc_us").cast("double") / 1000000.0).alias("db_component"),
            "ch_index",
            "db_index",
        )
    )


# --------------------------------------------------------------------------
# C13 — DTW-k-means twin (assignment under the DTW metric + DBA update)
# --------------------------------------------------------------------------


def _dtwkm_dp_sql(r: int, cents: str) -> str:
    """Integer DTW DP for EVERY (series, centroid) pair — the c11
    anti-diagonal recursion with the key widened to (series_id, cell)
    — ending in the exact distance table ``distA{r}``."""
    L, BIG = _DBA_L, _DBA_BIG
    return f"""
dpA{r}(series_id, cell, k, d1, d2) AS (
  SELECT s.series_id, c.cell, 2, [abs(s.vs[1] - c.bs[1])], CAST([] AS BIGINT[])
  FROM sub s CROSS JOIN {cents} c
  UNION ALL
  SELECT d.series_id, d.cell, d.k + 1,
         list_transform(
           range(greatest(1, d.k + 1 - {L}), least({L}, d.k) + 1),
           i -> abs(s.vs[i] - c.bs[d.k + 1 - i]) + least(
             CASE WHEN i - 1 - greatest(1, d.k - {L}) + 1 >= 1
                  THEN coalesce(d.d1[CAST(i - 1 - greatest(1, d.k - {L}) + 1 AS INT)], {BIG})
                  ELSE {BIG} END,
             CASE WHEN i - greatest(1, d.k - {L}) + 1 >= 1
                  THEN coalesce(d.d1[CAST(i - greatest(1, d.k - {L}) + 1 AS INT)], {BIG})
                  ELSE {BIG} END,
             CASE WHEN i - 1 - greatest(1, d.k - 1 - {L}) + 1 >= 1
                  THEN coalesce(d.d2[CAST(i - 1 - greatest(1, d.k - 1 - {L}) + 1 AS INT)], {BIG})
                  ELSE {BIG} END)),
         d.d1
  FROM dpA{r} d JOIN sub s USING (series_id) JOIN {cents} c USING (cell)
  WHERE d.k < {2 * L}
),
distA{r} AS (SELECT series_id, cell, d1[1] AS dist FROM dpA{r} WHERE k = {2 * L}),
asg{r} AS MATERIALIZED (
  SELECT series_id, cell, dist FROM (
    SELECT series_id, cell, dist,
           row_number() OVER (PARTITION BY series_id ORDER BY dist, cell) AS rn
    FROM distA{r}
  ) WHERE rn = 1
)"""


_C13_ORACLE = f"""
WITH RECURSIVE ev AS (
  SELECT user_id AS series_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS t,
         value
  FROM events
),
arr AS (
  SELECT series_id,
         list(CAST(floor(value * 1000000 + 0.5) AS BIGINT) ORDER BY t) AS vs
  FROM ev WHERE t < {_DBA_L} GROUP BY series_id HAVING count(*) = {_DBA_L}
),
sub AS MATERIALIZED (
  SELECT series_id, vs FROM arr ORDER BY md5(series_id::VARCHAR), series_id LIMIT 12
),
cents0 AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY md5(series_id::VARCHAR), series_id) - 1 AS cell,
         vs AS bs
  FROM (SELECT series_id, vs FROM sub ORDER BY md5(series_id::VARCHAR), series_id LIMIT 3)
),
{_dtwkm_dp_sql(1, "cents0")},
cellsA1 AS MATERIALIZED (
  SELECT d.series_id, d.cell,
         CAST(greatest(1, d.k - {_DBA_L}) + generate_subscripts(d.d1, 1) - 1 AS INT) AS i,
         CAST(d.k - (greatest(1, d.k - {_DBA_L}) + generate_subscripts(d.d1, 1) - 1) AS INT) AS j,
         unnest(d.d1) AS acc
  FROM dpA1 d
),
btU1(series_id, cell, i, j) AS (
  SELECT series_id, cell, {_DBA_L}, {_DBA_L} FROM asg1
  UNION ALL
  SELECT b.series_id, b.cell,
         CASE WHEN b.dga <= b.upa AND b.dga <= b.lfa THEN b.i - 1
              WHEN b.upa <= b.lfa THEN b.i - 1
              ELSE b.i END,
         CASE WHEN b.dga <= b.upa AND b.dga <= b.lfa THEN b.j - 1
              WHEN b.upa <= b.lfa THEN b.j
              ELSE b.j - 1 END
  FROM (
    SELECT t.series_id, t.cell, t.i, t.j,
           CASE WHEN t.i > 1 AND t.j > 1 THEN cd.acc ELSE {_DBA_BIG} END AS dga,
           CASE WHEN t.i > 1 THEN cu.acc ELSE {_DBA_BIG} END AS upa,
           CASE WHEN t.j > 1 THEN cl.acc ELSE {_DBA_BIG} END AS lfa
    FROM btU1 t
    LEFT JOIN cellsA1 cu ON cu.series_id = t.series_id AND cu.cell = t.cell
                        AND cu.i = t.i - 1 AND cu.j = t.j
    LEFT JOIN cellsA1 cl ON cl.series_id = t.series_id AND cl.cell = t.cell
                        AND cl.i = t.i AND cl.j = t.j - 1
    LEFT JOIN cellsA1 cd ON cd.series_id = t.series_id AND cd.cell = t.cell
                        AND cd.i = t.i - 1 AND cd.j = t.j - 1
  ) b
  WHERE NOT (b.i = 1 AND b.j = 1)
),
cu1 AS (
  SELECT cell, list(bv ORDER BY j) AS bs FROM (
    SELECT t.cell, t.j,
           CAST((2 * sum(s.vs[t.i]) + count(*)) // (2 * count(*)) AS BIGINT) AS bv
    FROM btU1 t JOIN sub s USING (series_id)
    GROUP BY t.cell, t.j)
  GROUP BY cell
),
cents1 AS MATERIALIZED (
  SELECT c0.cell, coalesce(cu.bs, c0.bs) AS bs
  FROM cents0 c0 LEFT JOIN cu1 cu USING (cell)
),
{_dtwkm_dp_sql(2, "cents1")}
SELECT a.series_id, CAST(a.cell AS INT) AS prediction,
       CAST(a.dist AS DOUBLE) / 1000000.0 AS dist
FROM asg2 a
"""


@register("c13_dtwkmeans_md5", _C13_ORACLE)
def c13_dtwkmeans_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C13 — deterministic DTW-k-means (k=3) with a FULL value-hash
    oracle: the c3b assign→update→assign schedule under the DTW metric
    instead of SBD — tslearn's TimeSeriesKMeans(metric='dtw') made
    replayable, completing the clustering-metric matrix next to the
    reference's K-Shape (app.py:731-737). Assignment is argmin over
    (exact integer DTW distance, cell); the update is a per-cell DBA
    step (cluster.dtw_kmeans_md5, same integer micro-unit discipline
    as c11); empty cells keep their centroid. The oracle widens the
    c11 DP recursion key to (series_id, cell) — 36 integer DPs per
    round — and backtracks only the winning pairs for the update."""
    ev = events_as_series(spark, sf_dir).where(F.col("t") < 24)
    nested = align.to_nested(ev)
    return cluster.dtw_kmeans_md5(nested, k=3, n_series=12, length=24)


# --------------------------------------------------------------------------
# Isotonic regression — exact minimax twin + MLlib production variant
# --------------------------------------------------------------------------

_ISO_CTES = """
pts AS (
  SELECT CAST(floor(embedding[1]::DOUBLE * 1000000 + 0.5) AS BIGINT) AS x_us,
         label % 2 AS y
  FROM embeddings
),
tie AS (
  SELECT x_us, sum(y) AS sy, count(*) AS w
  FROM pts GROUP BY 1
),
ix AS (
  SELECT x_us, sy, w,
         row_number() OVER (ORDER BY x_us) AS i,
         sum(sy) OVER (ORDER BY x_us) AS cy,
         sum(w) OVER (ORDER BY x_us) AS cw
  FROM tie
),
grid AS (
  SELECT a.i AS j, b.i AS k, b.x_us,
         CAST(b.cy - (a.cy - a.sy) AS DOUBLE)
           / CAST(b.cw - (a.cw - a.w) AS DOUBLE) AS m
  FROM ix a JOIN ix b ON a.i <= b.i
),
sm AS (
  SELECT j, k, x_us,
         min(m) OVER (PARTITION BY j ORDER BY k DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS suffmin
  FROM grid
)
"""


@register(
    "ml_isotonic_minimax",
    f"""
WITH {_ISO_CTES}
SELECT CAST(x_us AS DOUBLE) / 1000000.0 AS x,
       round(max(suffmin), 6) AS iso_p
FROM sm
GROUP BY x_us
""",
)
def ml_isotonic_minimax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic regression (PAV) via the exact minimax identity
    ``iso[i] = max_{{j<=i}} min_{{k>=i}} mean(y[j..k])`` — the
    monotone probability calibration step of a training pipeline
    (score → P(label)), value-verified: prefix sums are exact
    integers, each block mean is ONE double division of exact ints,
    and the min/max lattice is order-free, so both engines produce
    bit-identical fits. Ties aggregate per distinct 6-dp-quantized
    score FIRST, so the O(n²) grid is over DISTINCT SCORES (bounded by
    the quantization, not the corpus — at 100 TB you calibrate on
    binned scores); the fully-distributed production alternative is
    ml_isotonic (MLlib's parallel PAV), which tests/test_ml.py holds
    to this exact fit. Output: (score, calibrated monotone
    probability)."""
    e = load_table(spark, sf_dir, "embeddings")
    pts = e.select(
        F.floor(F.col("embedding")[0].cast("double") * 1e6 + 0.5)
        .cast("long")
        .alias("x_us"),
        (F.col("label") % 2).alias("y"),
    )
    tie = pts.groupBy("x_us").agg(F.sum("y").alias("sy"), F.count("*").alias("w"))
    wx = Window.orderBy("x_us").rowsBetween(Window.unboundedPreceding, 0)
    # single-partition windows over the DISTINCT-SCORE table only
    # (bounded model-sized state, not the corpus)
    ix = tie.select(
        "x_us",
        "sy",
        "w",
        F.row_number().over(Window.orderBy("x_us")).alias("i"),
        F.sum("sy").over(wx).alias("cy"),
        F.sum("w").over(wx).alias("cw"),
    )
    a = ix.select(
        F.col("i").alias("j"),
        (F.col("cy") - F.col("sy")).alias("cy0"),
        (F.col("cw") - F.col("w")).alias("cw0"),
    )
    b = ix.select("i", "x_us", "cy", "cw")
    grid = F.broadcast(a).join(b, F.col("j") <= F.col("i")).select(
        "j",
        F.col("i").alias("k"),
        "x_us",
        (
            (F.col("cy") - F.col("cy0")).cast("double")
            / (F.col("cw") - F.col("cw0")).cast("double")
        ).alias("m"),
    )
    wsuff = (
        Window.partitionBy("j")
        .orderBy(F.col("k").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sm = grid.select("k", "x_us", F.min("m").over(wsuff).alias("suffmin"))
    return sm.groupBy("x_us").agg(
        F.round(F.max("suffmin"), 6).alias("iso_p")
    ).select(
        (F.col("x_us").cast("double") / 1000000.0).alias("x"), "iso_p"
    )


@register("ml_isotonic")  # MLlib parallel PAV — impl-defined ties → rows-only
def ml_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production isotonic calibration: MLlib's DISTRIBUTED PAV
    (per-partition pools merged associatively — the form that runs on
    a 100 TB score table). Same (score, binary label) task as
    ml_isotonic_minimax; tests/test_ml.py asserts the two fits agree
    to 1e-6 on shared scores and that this fit is monotone. Rows-only
    at the gate (MLlib's pooling order is impl-defined)."""
    from pyspark.ml.regression import IsotonicRegression
    from pyspark.ml.feature import VectorAssembler

    e = load_table(spark, sf_dir, "embeddings")
    pts = e.select(
        F.round(F.col("embedding")[0].cast("double"), 6).alias("x"),
        (F.col("label") % 2).cast("double").alias("y"),
    )
    va = VectorAssembler(inputCols=["x"], outputCol="features")
    model = IsotonicRegression(labelCol="y").fit(va.transform(pts))
    out = model.transform(va.transform(pts.dropDuplicates(["x"])))
    return out.select("x", F.round(F.col("prediction"), 6).alias("iso_p"))


# --------------------------------------------------------------------------
# Split-conformal prediction intervals
# --------------------------------------------------------------------------

@register(
    "ml_conformal_interval",
    """
WITH x AS (
  SELECT event_id, event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents,
         CAST(('0x' || substr(md5(event_id || ':cal'), 1, 15)) AS BIGINT) % 2 AS is_cal
  FROM events WHERE value IS NOT NULL
),
mu AS (
  SELECT event_type,
         CAST(sum(CASE WHEN is_cal = 0 THEN v_cents ELSE 0 END) AS DOUBLE)
           / sum(CASE WHEN is_cal = 0 THEN 1 ELSE 0 END) AS mu_cents
  FROM x GROUP BY 1
),
res AS (
  SELECT x.event_type, abs(x.v_cents - mu.mu_cents) AS r
  FROM x JOIN mu USING (event_type) WHERE x.is_cal = 1
),
qh AS (
  SELECT event_type, r AS q_cents FROM (
    SELECT event_type, r,
           row_number() OVER (PARTITION BY event_type ORDER BY r) AS rn,
           count(*) OVER (PARTITION BY event_type) AS nc
    FROM res
  ) WHERE rn = CAST(ceil((nc + 1) * 0.9) AS BIGINT)
)
SELECT m.event_type,
       round(m.mu_cents / 100.0, 6) AS pred,
       round(q.q_cents / 100.0, 6) AS q_hat,
       round((m.mu_cents - q.q_cents) / 100.0, 6) AS lo,
       round((m.mu_cents + q.q_cents) / 100.0, 6) AS hi
FROM mu m JOIN qh q USING (event_type)
""",
)
def ml_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals (Vovk; the
    distribution-free coverage guarantee modern ML serving pipelines
    attach to point predictions): rows md5-split into a training half
    (fits the base predictor — here the per-type mean, exact integer
    cents) and a calibration half whose absolute residuals supply the
    conformal quantile q_hat = the ceil((n+1)·0.9)-th order statistic
    — giving >= 90% finite-sample coverage regardless of the data
    distribution. Interval = prediction ± q_hat. Deterministic: the
    split is hashed, the quantile is an exact order-statistic pick
    (residuals are |int − double| of identical ops), no interpolation.
    One grouped pass for the fit + one window over calibration
    residuals per type — the same two-shuffle shape at any scale."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    x = ev.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v_cents"),
        (
            F.conv(
                F.substring(F.md5(F.concat(F.col("event_id"), F.lit(":cal"))), 1, 15),
                16,
                10,
            ).cast("long")
            % 2
        ).alias("is_cal"),
    )
    mu = x.groupBy("event_type").agg(
        (
            F.sum(F.when(F.col("is_cal") == 0, F.col("v_cents")).otherwise(0)).cast(
                "double"
            )
            / F.sum(F.when(F.col("is_cal") == 0, 1).otherwise(0))
        ).alias("mu_cents")
    )
    res = (
        x.where(F.col("is_cal") == 1)
        .join(F.broadcast(mu), "event_type")
        .select(
            "event_type", F.abs(F.col("v_cents") - F.col("mu_cents")).alias("r")
        )
    )
    wq = Window.partitionBy("event_type").orderBy("r")
    wn = Window.partitionBy("event_type")
    qh = (
        res.withColumn("rn", F.row_number().over(wq))
        .withColumn("nc", F.count("*").over(wn))
        .where(F.col("rn") == F.ceil((F.col("nc") + 1) * 0.9).cast("long"))
        .select("event_type", F.col("r").alias("q_cents"))
    )
    return mu.join(qh, "event_type").select(
        "event_type",
        F.round(F.col("mu_cents") / 100.0, 6).alias("pred"),
        F.round(F.col("q_cents") / 100.0, 6).alias("q_hat"),
        F.round((F.col("mu_cents") - F.col("q_cents")) / 100.0, 6).alias("lo"),
        F.round((F.col("mu_cents") + F.col("q_cents")) / 100.0, 6).alias("hi"),
    )

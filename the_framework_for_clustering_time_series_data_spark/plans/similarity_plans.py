"""Similarity-search plans over the ``embeddings`` table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from the_framework_for_clustering_time_series_data_spark.operators import similarity

from the_framework_for_clustering_time_series_data_spark.functions.plan_tools import (
    lit_double_array,
    stage_checkpoint,
)
from the_framework_for_clustering_time_series_data_spark.plans.registry import register
from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table


_BF_ORACLE_SQL = """
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS nbr_id,
         round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS cosine
  FROM q JOIN embeddings e ON e.vec_id != q.vec_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id) AS rank
  FROM scored
)
SELECT query_id, nbr_id, cosine, rank FROM r WHERE rank <= 5
"""


@register("sim_bruteforce_topk", _BF_ORACLE_SQL)
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for query vectors (vec_id < 10): broadcast
    queries × one corpus scan; JVM-side zip_with/aggregate dot product.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(emb, emb.where(F.col("vec_id") < 10), k=5)


def _jl_signs(m: int = 16, dim: int = 64, seed: int = 7):
    """The deterministic Achlioptas sign matrix (entries ±1/√m = ±0.25,
    exactly representable doubles) shared by the Spark plan and its
    DuckDB twin — drawn once from ``np.random.default_rng(seed)`` and
    embedded as literals on both sides (the _lsh_oracle_sql trick)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.integers(0, 2, size=(m, dim)) * 0.5 - 0.25


def _jl_oracle_sql(m: int = 16, dim: int = 64, seed: int = 7, sample: int = 30) -> str:
    w = _jl_signs(m, dim, seed)
    rows = ",\n  ".join(
        f"({i + 1}, [{', '.join(repr(float(x)) for x in w[i])}]::DOUBLE[])"
        for i in range(m)
    )
    return f"""
WITH wm(i, w) AS (VALUES
  {rows}
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id < {sample}),
p0 AS (
  SELECT e.vec_id, wm.i,
         list_aggregate(
           list_transform(range(1, {dim + 1}), j -> wm.w[j] * e.v[j]),
           'sum') AS comp
  FROM e CROSS JOIN wm
),
p AS MATERIALIZED (
  SELECT e.vec_id, e.v, pr.pv
  FROM e JOIN (SELECT vec_id, list(comp ORDER BY i) AS pv
               FROM p0 GROUP BY vec_id) pr USING (vec_id)
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cos_orig,
       round(list_cosine_similarity(a.pv, b.pv), 6) AS cos_proj,
       round(abs(round(list_cosine_similarity(a.v, b.v), 6)
                 - round(list_cosine_similarity(a.pv, b.pv), 6)), 6) AS abs_err
FROM p a JOIN p b ON a.vec_id < b.vec_id
"""


@register("emb_rand_projection", _jl_oracle_sql())
def emb_rand_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64→16 dims with a
    cosine-distortion audit: project every sampled vector (vec_id <
    30) through a deterministic Achlioptas ±1/√16 sign matrix and
    report, per pair, the original vs projected cosine and their
    absolute gap — the audit run before trusting a JL-compressed
    prefilter in an ANN pipeline (4× fewer FLOPs/bytes per distance).

    The projection is a map-only JVM pass (16 zip_with/aggregate folds
    per vector — no Python, no shuffle); the audit joins the 30-row
    sample against itself under a broadcast (435 pairs). At 100 TB the
    projection runs over the full corpus as the same map stage and
    only the audit stays sampled. Sign matrix literals are shared with
    the DuckDB twin (seed 7); cosines round to the 6-dp grid before
    differencing, so abs_err is a difference of shared quanta."""
    import numpy as np

    w = _jl_signs()
    e = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 30)
        .select(
            "vec_id",
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
        )
    )
    proj = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    lit_double_array(w[i]),
                    F.col("v"),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for i in range(len(w))
        ]
    )
    p = e.select("vec_id", "v", proj.alias("pv"))
    a = p.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("pv").alias("pa")
    )
    b = p.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), F.col("pv").alias("pb")
    )
    cos_o = F.round(similarity.cosine_expr(F.col("va"), F.col("vb")), 6)
    cos_p = F.round(similarity.cosine_expr(F.col("pa"), F.col("pb")), 6)
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            cos_o.alias("cos_orig"),
            cos_p.alias("cos_proj"),
            F.round(F.abs(cos_o - cos_p), 6).alias("abs_err"),
        )
    )


def _mmr_oracle_sql(k: int = 10, pool: int = 20, nq: int = 3) -> str:
    """DuckDB twin of ``similarity.mmr_rerank``: candidate generation
    reuses the sim_bruteforce discipline (6-dp cosine, (cosine DESC,
    nbr_id) rank), pairwise candidate cosines re-round to the same
    grid, and the greedy selection is ``k`` unrolled MATERIALIZED CTE
    rounds — each round scores every unselected candidate as
    ``0.7·cos_q − 0.3·max(cos to selected)`` (the literals written
    exactly, never 1−λ) and picks row_number()=1 on (score DESC,
    nbr_id)."""
    rounds = []
    for t in range(2, k + 1):
        rounds.append(f"""s{t} AS MATERIALIZED (
  SELECT query_id, nbr_id, {t} AS mmr_rank, round(score, 6) AS mmr_score
  FROM (
    SELECT sc.query_id, sc.nbr_id, sc.score,
           row_number() OVER (PARTITION BY sc.query_id
                              ORDER BY sc.score DESC, sc.nbr_id) AS rk
    FROM (
      SELECT c.query_id, c.nbr_id,
             CAST(0.7 AS DOUBLE) * c.cosine
               - CAST(0.3 AS DOUBLE) * max(p.cos_ab) AS score
      FROM cand c
      JOIN pair p ON p.query_id = c.query_id AND p.a_id = c.nbr_id
      JOIN cum{t - 1} s ON s.query_id = p.query_id AND s.nbr_id = p.b_id
      WHERE NOT EXISTS (SELECT 1 FROM cum{t - 1} x
                        WHERE x.query_id = c.query_id AND x.nbr_id = c.nbr_id)
      GROUP BY c.query_id, c.nbr_id, c.cosine
    ) sc
  ) WHERE rk = 1
),
cum{t} AS MATERIALIZED (
  SELECT * FROM cum{t - 1} UNION ALL SELECT * FROM s{t}
)""")
    rounds_sql = ",\n".join(rounds)
    return f"""
WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id < {nq}),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS nbr_id,
         round(list_cosine_similarity(q.v, CAST(e.embedding AS DOUBLE[])), 6) AS cosine
  FROM q JOIN embeddings e ON e.vec_id != q.vec_id
),
cand AS MATERIALIZED (
  SELECT query_id, nbr_id, cosine FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, nbr_id) AS rk
    FROM scored) WHERE rk <= {pool}
),
cv AS MATERIALIZED (
  SELECT c.query_id, c.nbr_id, c.cosine, CAST(e.embedding AS DOUBLE[]) AS v
  FROM cand c JOIN embeddings e ON e.vec_id = c.nbr_id
),
pair AS MATERIALIZED (
  SELECT a.query_id, a.nbr_id AS a_id, b.nbr_id AS b_id,
         round(list_cosine_similarity(a.v, b.v), 6) AS cos_ab
  FROM cv a JOIN cv b ON a.query_id = b.query_id AND a.nbr_id != b.nbr_id
),
cum1 AS MATERIALIZED (
  SELECT query_id, nbr_id, 1 AS mmr_rank, round(cosine, 6) AS mmr_score
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, nbr_id) AS rk
        FROM cand) WHERE rk = 1
),
{rounds_sql}
SELECT query_id, nbr_id, mmr_rank, mmr_score FROM cum{k}
"""


@register("retrieval_mmr_rerank", _mmr_oracle_sql())
def retrieval_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-10 from a cosine top-20 candidate pool for
    query vectors vec_id < 3 (Carbonell & Goldstein SIGIR'98) — the
    relevance-vs-redundancy rerank between ANN recall and final
    serving/selection. Candidate generation is the distributed
    brute-force scan; the greedy rerank runs per query group in ONE
    applyInPandas (≤ pool rows each, queries parallel across
    executors). Full value-hash oracle: k unrolled greedy CTE rounds
    on shared 6-dp cosine quanta."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.mmr_rerank(emb, emb.where(F.col("vec_id") < 3), k=10, pool=20)


def _lsh_oracle_sql(k: int = 5, n_planes: int = 6, n_tables: int = 8,
                    seed: int = 42, dim: int = 64) -> str:
    """DuckDB twin of ``ann_lsh_topk``: the seeded hyperplanes are
    drawn HERE from the same ``np.random.default_rng(seed)`` the kernel
    uses and embedded as repr() literals (shortest-round-trip floats —
    DuckDB parses them to the identical doubles; the minhash_xor_family
    trick scaled up to 48×64 floats). Bucket bits compare the
    sequential-fold dot against 0 — the kernel's BLAS matmul sign can
    differ only if a dot sits within ~1 ulp of 0, negligible for O(1)
    magnitudes. Scoring reuses the sim_bruteforce discipline
    (list_cosine_similarity, 6-dp round, (cosine DESC, nbr_id) rank).
    ``dim`` is pinned to the embeddings tables' width (64 at every test
    SF)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables, n_planes, dim))
    rows = []
    for t in range(n_tables):
        for p in range(n_planes):
            vec = ", ".join(repr(float(x)) for x in planes[t, p])
            rows.append(f"({t}, {p}, [{vec}]::DOUBLE[])")
    plv = ",\n  ".join(rows)
    return f"""
WITH plv(tbl, pl, w) AS (VALUES
  {plv}
),
e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
bits AS (
  SELECT e.id, plv.tbl, plv.pl,
         CASE WHEN list_aggregate(
                list_transform(range(1, {dim + 1}), j -> e.v[j] * plv.w[j]),
                'sum') > 0
              THEN 1::BIGINT ELSE 0::BIGINT END AS bit
  FROM e CROSS JOIN plv
),
codes AS (
  SELECT id, tbl, CAST(sum(bit << pl) AS BIGINT) AS bkt FROM bits GROUP BY 1, 2
),
qcodes AS (SELECT id AS query_id, tbl, bkt FROM codes WHERE id < 10),
qp AS (
  SELECT query_id, tbl, bkt FROM qcodes
  UNION ALL
  SELECT query_id, tbl, xor(bkt, 1::BIGINT << CAST(r.range AS INT))
  FROM qcodes CROSS JOIN range(0, {n_planes}) r
),
cand AS (
  SELECT DISTINCT q.query_id, c.id AS nbr_id
  FROM qp q JOIN codes c ON c.tbl = q.tbl AND c.bkt = q.bkt
  WHERE c.id <> q.query_id
),
sc AS (
  SELECT cand.query_id, cand.nbr_id,
         round(list_cosine_similarity(a.v, b.v), 6) AS cosine
  FROM cand
  JOIN e a ON a.id = cand.query_id
  JOIN e b ON b.id = cand.nbr_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, nbr_id) AS rank
  FROM sc
)
SELECT query_id, nbr_id, cosine, rank FROM r WHERE rank <= {k}
"""


@register("sim_ann_lsh_topk", _lsh_oracle_sql())
def sim_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via multi-probe random-hyperplane LSH (6
    planes × 8 tables, 1-bit probing, seed 42): candidates =
    same-bucket pairs only — the scale path where brute force is
    O(n²). Full value-hash oracle: the seeded hyperplanes embed as
    literals in the generated DuckDB twin (_lsh_oracle_sql), which
    replays bucketing, multi-probe, and ranking exactly. Recall vs
    brute force additionally asserted in tests/test_similarity_ann.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ann_lsh_topk(emb, emb.where(F.col("vec_id") < 10), k=5)


def _ivfb_oracle_sql(k: int = 5, n_cells: int = 16, nprobe: int = 4,
                     dim: int = 64) -> str:
    """DuckDB twin of ``ivf_topk_deterministic``: the md5-seeded Lloyd
    quantizer (shared CTE shape with dedup_plans._semantic_assign_sql),
    probe-cell ranking on (sequential-fold distance, cell), and the
    sim_bruteforce cosine/rank discipline."""
    from the_framework_for_clustering_time_series_data_spark.plans.dedup_plans import _semantic_assign_sql

    qd2 = (
        f"list_aggregate(list_transform(range(1, {dim + 1}), "
        f"j -> (q.qv[j] - c.cvec[j]) * (q.qv[j] - c.cvec[j])), 'sum')"
    )
    return f"""
WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c0 AS (
  SELECT row_number() OVER (ORDER BY md5(id::VARCHAR), id) - 1 AS cell,
         v AS cvec
  FROM (SELECT id, v FROM e ORDER BY md5(id::VARCHAR), id LIMIT {n_cells})
),
{_semantic_assign_sql("e", "c0", "a0", dim)},
cm AS (
  SELECT cell, pos, floor(avg(val) * 1e6 + 0.5) / 1e6 AS cv
  FROM (SELECT cell, generate_subscripts(v, 1) AS pos, unnest(v) AS val
        FROM a0)
  GROUP BY 1, 2
),
c1 AS (SELECT cell, list(cv ORDER BY pos) AS cvec FROM cm GROUP BY 1),
{_semantic_assign_sql("e", "c1", "a1", dim)},
q AS (SELECT id AS query_id, v AS qv FROM e WHERE id < 10),
qc AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, c.cell,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {qd2}, c.cell) AS rn
    FROM q CROSS JOIN c1 c
  ) WHERE rn <= {nprobe}
),
cand AS (
  SELECT qc.query_id, qc.qv, a.id AS nbr_id, a.v
  FROM qc JOIN a1 a ON a.cell = qc.cell
  WHERE a.id <> qc.query_id
),
sc AS (
  SELECT query_id, nbr_id,
         round(list_cosine_similarity(qv, v), 6) AS cosine
  FROM cand
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, nbr_id) AS rank
  FROM sc
)
SELECT query_id, nbr_id, cosine, rank FROM r WHERE rank <= {k}
"""


@register("sim_ivfb_topk", _ivfb_oracle_sql())
def sim_ivfb_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via IVF with a DETERMINISTIC md5-seeded Lloyd
    coarse quantizer (16 cells, probe 4) — the fully oracle-checked
    twin of sim_ivf_topk (whose MLlib KMeans index build is
    RNG-defined): index build, probe-cell ranking, candidate scoring,
    and the final ranking all replay in DuckDB."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk_deterministic(
        emb, emb.where(F.col("vec_id") < 10), k=5, n_cells=16, nprobe=4
    )


#: quantized-corpus CTE shared by the PQ-family oracles
_PQ_E_CTE = """e AS (
  SELECT vec_id AS id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> floor(x * 1e6 + 0.5) / 1e6) AS v
  FROM embeddings
)"""


def _pq_build_ctes(m: int, n_codes: int, sub: int) -> str:
    """The PQ codebook / code / ADC-LUT CTE block shared by
    ``_pqb_oracle_sql`` and ``_ivfpqb_oracle_sql`` (the DuckDB twin of
    ``similarity._pq_det_build`` + ``_pq_adc_lut``): per-subspace
    md5-Lloyd codebooks with order-proof micro-unit centroid means,
    j-ordered code lists, dense (j, cell)-ordered LUT lists. Expects
    CTEs ``e`` (quantized vectors) and ``q (query_id, qv)`` upstream;
    defines ``codes`` and ``lut``."""
    d2 = (
        f"list_aggregate(list_transform(range(1, {sub + 1}), "
        f"p -> (s.sv[p] - c.cvec[p]) * (s.sv[p] - c.cvec[p])), 'sum')"
    )

    def assign(cent: str, out: str) -> str:
        return f"""{out} AS (
  SELECT j, id, sv, cell FROM (
    SELECT s.j, s.id, s.sv, c.cell,
           row_number() OVER (PARTITION BY s.j, s.id
                              ORDER BY {d2}, c.cell) AS rn
    FROM sub s JOIN {cent} c ON c.j = s.j
  ) WHERE rn = 1
)"""

    return f"""js AS (SELECT unnest(range(0, {m})) AS j),
sub AS (
  SELECT js.j, e.id,
         list_transform(range(1, {sub + 1}),
                        p -> e.v[CAST(js.j * {sub} + p AS INT)]) AS sv
  FROM e CROSS JOIN js
),
sd AS (
  SELECT row_number() OVER (ORDER BY md5(id::VARCHAR), id) - 1 AS cell, v
  FROM (SELECT id, v FROM e ORDER BY md5(id::VARCHAR), id LIMIT {n_codes})
),
c0 AS (
  SELECT js.j, sd.cell,
         list_transform(range(1, {sub + 1}),
                        p -> sd.v[CAST(js.j * {sub} + p AS INT)]) AS cvec
  FROM sd CROSS JOIN js
),
{assign("c0", "a0")},
cm AS (
  SELECT j, cell, pos,
         floor(CAST(sum(CAST(floor(val * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
               / count(*) + 0.5) / 1e6 AS cv
  FROM (SELECT j, cell, generate_subscripts(sv, 1) AS pos, unnest(sv) AS val
        FROM a0)
  GROUP BY 1, 2, 3
),
c1 AS (SELECT j, cell, list(cv ORDER BY pos) AS cvec FROM cm GROUP BY 1, 2),
{assign("c1", "a1")},
codes AS (SELECT id, list(cell ORDER BY j) AS code FROM a1 GROUP BY id),
lutd AS (
  SELECT q.query_id, c.j, c.cell,
         list_aggregate(list_transform(range(1, {sub + 1}),
           p -> (q.qv[CAST(c.j * {sub} + p AS INT)] - c.cvec[p])
              * (q.qv[CAST(c.j * {sub} + p AS INT)] - c.cvec[p])), 'sum') AS d2
  FROM q CROSS JOIN c1 c
),
grid AS (
  SELECT a.j, b.cell
  FROM js a, (SELECT unnest(range(0, {n_codes})) AS cell) b
),
lut AS (
  SELECT g.query_id, list(coalesce(l.d2, 0.0) ORDER BY g.j, g.cell) AS lut
  FROM (SELECT q.query_id, gr.j, gr.cell FROM q CROSS JOIN grid gr) g
  LEFT JOIN lutd l
    ON l.query_id = g.query_id AND l.j = g.j AND l.cell = g.cell
  GROUP BY 1
)"""


def _adc_fold_sql(m: int, n_codes: int) -> str:
    """The j-ordered sequential ADC fold floored to 6-dp micro-units —
    the DuckDB twin of ``similarity._adc_fold6`` (aliases ``c`` =
    codes row, ``l`` = lut row)."""
    return (
        f"floor(list_aggregate(list_transform(range(0, {m}), "
        f"j -> l.lut[CAST(j * {n_codes} + c.code[CAST(j + 1 AS INT)] + 1 "
        f"AS INT)]), 'sum') * 1e6 + 0.5)"
    )


def _pqb_oracle_sql(k: int = 5, m: int = 8, n_codes: int = 16,
                    rerank: int = 50, dim: int = 64) -> str:
    """DuckDB twin of ``pq_topk_deterministic``: 6-dp-quantized
    vectors, per-subspace md5-Lloyd codebooks (order-proof micro-unit
    centroid means), dense ADC LUT lists, j-ordered sequential ADC
    folds, and the sim_bruteforce cosine/rank discipline."""
    sub = dim // m
    return f"""
WITH {_PQ_E_CTE},
q AS (SELECT id AS query_id, v AS qv FROM e WHERE id < 10),
{_pq_build_ctes(m, n_codes, sub)},
approx AS (
  SELECT l.query_id, c.id AS nbr_id,
         {_adc_fold_sql(m, n_codes)} AS ad6
  FROM codes c CROSS JOIN lut l
  WHERE c.id <> l.query_id
),
cand AS (
  SELECT query_id, nbr_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY ad6, nbr_id) AS rn
    FROM approx
  ) WHERE rn <= {rerank}
),
sc AS (
  SELECT cand.query_id, cand.nbr_id,
         round(list_cosine_similarity(a.v, b.v), 6) AS cosine
  FROM cand
  JOIN e a ON a.id = cand.query_id
  JOIN e b ON b.id = cand.nbr_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, nbr_id) AS rank
  FROM sc
)
SELECT query_id, nbr_id, cosine, rank FROM r WHERE rank <= {k}
"""


@register("sim_pqb_topk", _pqb_oracle_sql())
def sim_pqb_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via product quantization with DETERMINISTIC
    md5-Lloyd codebooks (8 subspaces × 16 codes, rerank 50) — the
    fully oracle-checked twin of sim_pq_topk (whose driver-numpy
    codebook training is RNG-defined): codebook build, ADC scan, and
    both rankings all replay in DuckDB (see
    similarity.pq_topk_deterministic for the parity disciplines)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pq_topk_deterministic(
        emb, emb.where(F.col("vec_id") < 10), k=5, m=8, n_codes=16, rerank=50
    )


def _ivfpqb_oracle_sql(k: int = 5, n_cells: int = 16, nprobe: int = 4,
                       m: int = 8, n_codes: int = 16, rerank: int = 50,
                       dim: int = 64) -> str:
    """DuckDB twin of ``ivfpq_topk_deterministic``: the exact-mean
    md5-Lloyd coarse quantizer (the inputs are 6-dp quanta, so the
    centroid means sum exact BIGINT micro-units — no F.avg caveat)
    composed with the shared PQ codebook/LUT block; candidates are
    restricted to probed coarse cells before the ADC fold."""
    from the_framework_for_clustering_time_series_data_spark.plans.dedup_plans import _semantic_assign_sql

    sub = dim // m
    qd2 = (
        f"list_aggregate(list_transform(range(1, {dim + 1}), "
        f"j -> (q.qv[j] - c.cvec[j]) * (q.qv[j] - c.cvec[j])), 'sum')"
    )
    return f"""
WITH {_PQ_E_CTE},
q AS (SELECT id AS query_id, v AS qv FROM e WHERE id < 10),
k0 AS (
  SELECT row_number() OVER (ORDER BY md5(id::VARCHAR), id) - 1 AS cell,
         v AS cvec
  FROM (SELECT id, v FROM e ORDER BY md5(id::VARCHAR), id LIMIT {n_cells})
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
{_semantic_assign_sql("e", "g1", "b1", dim)},
qc AS (
  SELECT query_id, cell FROM (
    SELECT q.query_id, c.cell,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {qd2}, c.cell) AS rn
    FROM q CROSS JOIN g1 c
  ) WHERE rn <= {nprobe}
),
{_pq_build_ctes(m, n_codes, sub)},
approx AS (
  SELECT qc.query_id, c.id AS nbr_id,
         {_adc_fold_sql(m, n_codes)} AS ad6
  FROM codes c
  JOIN b1 mem ON mem.id = c.id
  JOIN qc ON qc.cell = mem.cell
  JOIN lut l ON l.query_id = qc.query_id
  WHERE c.id <> qc.query_id
),
cand AS (
  SELECT query_id, nbr_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY ad6, nbr_id) AS rn
    FROM approx
  ) WHERE rn <= {rerank}
),
sc AS (
  SELECT cand.query_id, cand.nbr_id,
         round(list_cosine_similarity(a.v, b.v), 6) AS cosine
  FROM cand
  JOIN e a ON a.id = cand.query_id
  JOIN e b ON b.id = cand.nbr_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, nbr_id) AS rank
  FROM sc
)
SELECT query_id, nbr_id, cosine, rank FROM r WHERE rank <= {k}
"""


@register("sim_ivfpqb_topk", _ivfpqb_oracle_sql())
def sim_ivfpqb_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via IVFADC with DETERMINISTIC quantizers end
    to end (16 coarse cells probe 4 × 8 subspaces × 16 codes, rerank
    50) — the fully oracle-checked twin of sim_ivfpq_topk (whose MLlib
    cells + driver-numpy codebooks are RNG-defined): both quantizer
    builds, the probe ranking, the cell-pruned ADC scan, and both
    rankings all replay in DuckDB (see
    similarity.ivfpq_topk_deterministic for the parity disciplines)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivfpq_topk_deterministic(
        emb, emb.where(F.col("vec_id") < 10),
        k=5, n_cells=16, nprobe=4, m=8, n_codes=16, rerank=50,
    )


@register("sim_ivf_topk")  # KMeans index build → rows-only oracle
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via IVF partitioning (16 KMeans cells, probe
    4): queries only score their nprobe nearest cells — the classic
    inverted-file ANN index expressed as a cell equi-join (recall vs
    brute force asserted in tests/test_similarity_ann.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5, n_cells=16, nprobe=4
    )


def _scratch_index_dir(prefix: str) -> str:
    """A fresh index scratch dir, removed at interpreter exit —
    per-invocation rebuild keeps the measured build→persist→probe
    semantics honest, while the atexit sweep stops repeated bench/test
    invocations from accumulating corpus copies in /tmp."""
    import atexit
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


@register("sim_ivf_persisted_topk")  # KMeans index build + disk layout → rows-only oracle
def sim_ivf_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 against a PERSISTED IVF index: the corpus is
    written hive-partitioned by nearest-centroid cell plus a centroid
    metadata table, then probed via a broadcast cell join that
    dynamic-partition-prunes the scan to the 4 probed cells. Same
    results as sim_ivf_topk (asserted in tests/test_similarity_ann.py);
    this entry exercises the build→persist→probe serving path."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = _scratch_index_dir("the_framework_for_clustering_time_series_data_spark_ivf_")
    similarity.build_ivf_index(emb, path, n_cells=16)
    return similarity.ivf_probe_index(
        spark, path, emb.where(F.col("vec_id") < 10), k=5, nprobe=4
    )


@register("sim_ivfb_persisted", _ivfb_oracle_sql())
def sim_ivfb_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVING path with a FULL value-hash oracle: the
    deterministic md5-Lloyd coarse quantizer (sim_ivfb_topk's index
    build) PERSISTED in the production layout — corpus
    hive-partitioned by cell + centroid metadata table — then probed
    via the dynamic-partition-pruned broadcast cell join
    (similarity.build_ivf_index_deterministic / ivf_probe_index). The
    oracle re-derives the index from the corpus exactly as
    sim_ivfb_topk's does, so build → persist → scan-pruned probe is
    value-verified end to end; DPP on the probe scan is asserted on
    the physical plan in tests/test_similarity_ann.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = _scratch_index_dir("the_framework_for_clustering_time_series_data_spark_ivfb_")
    similarity.build_ivf_index_deterministic(emb, path, n_cells=16)
    return similarity.ivf_probe_index(
        spark, path, emb.where(F.col("vec_id") < 10), k=5, nprobe=4
    )


@register("sim_pqb_persisted", _pqb_oracle_sql())
def sim_pqb_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ SERVING path with a FULL value-hash oracle: the
    deterministic md5-Lloyd codebooks (sim_pqb_topk's build) PERSISTED
    in the production layout — per-vector ``(nbr_id, code, v)`` code
    table + tiny ``(j, cell, cvec)`` codebook table — then probed via
    the broadcast-LUT ADC scan and bounded exact re-rank
    (similarity.build_pq_index_deterministic / pq_probe_index). Same
    results as sim_pqb_topk, so the probe replays in DuckDB end to
    end; this is the serve split BASELINE.md's round-9 watch-item
    record prescribes for sim_pqb_topk — the chained codebook-build
    jobs leave the probe path entirely. Column pruning keeps ``v`` out
    of the ADC scan (asserted in tests/test_similarity_ann.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = _scratch_index_dir("the_framework_for_clustering_time_series_data_spark_pqb_")
    similarity.build_pq_index_deterministic(emb, path, m=8, n_codes=16)
    return similarity.pq_probe_index(
        spark, path, emb.where(F.col("vec_id") < 10), k=5, rerank=50,
        m=8, n_codes=16,
    )


def _sq8_oracle_sql(k: int = 5, rerank: int = 50, dim: int = 64) -> str:
    """DuckDB twin of ``similarity.sq8_topk``: per-dim max-|v| scales,
    half-up int8 codes, EXACT int64 dot/norm scan, 6-dp approximate
    cosine candidate ranking, bounded exact re-rank."""
    return f"""
WITH {_PQ_E_CTE},
sc AS (
  SELECT pos, max(abs(val)) AS s
  FROM (SELECT generate_subscripts(v, 1) AS pos, unnest(v) AS val FROM e)
  GROUP BY 1
),
sarr AS (SELECT list(s ORDER BY pos) AS s FROM sc),
q8 AS (
  SELECT e.id,
         list_transform(range(1, {dim + 1}),
           p -> CASE WHEN sa.s[CAST(p AS INT)] = 0 THEN CAST(0 AS BIGINT)
                     ELSE greatest(CAST(-127 AS BIGINT), least(
                          CAST(127 AS BIGINT),
                          CAST(floor(e.v[CAST(p AS INT)]
                                     / sa.s[CAST(p AS INT)] * 127 + 0.5)
                               AS BIGINT))) END) AS q
  FROM e CROSS JOIN sarr sa
),
qq AS (SELECT id AS query_id, q AS qq FROM q8 WHERE id < 10),
scored AS (
  SELECT qq.query_id, c.id AS nbr_id,
         round(
           CAST(list_aggregate(list_transform(range(1, {dim + 1}),
                  p -> c.q[CAST(p AS INT)] * qq.qq[CAST(p AS INT)]),
                'sum') AS DOUBLE)
           / sqrt(
               CAST(list_aggregate(list_transform(c.q, x -> x * x), 'sum')
                    AS DOUBLE)
             * CAST(list_aggregate(list_transform(qq.qq, x -> x * x), 'sum')
                    AS DOUBLE)),
           6) AS cos8
  FROM q8 c CROSS JOIN qq
  WHERE c.id <> qq.query_id
),
cand AS (
  SELECT query_id, nbr_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos8 DESC, nbr_id) AS rn
    FROM scored WHERE cos8 IS NOT NULL
  ) WHERE rn <= {rerank}
),
sx AS (
  SELECT cand.query_id, cand.nbr_id,
         round(list_cosine_similarity(a.v, b.v), 6) AS cosine
  FROM cand
  JOIN e a ON a.id = cand.query_id
  JOIN e b ON b.id = cand.nbr_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, nbr_id) AS rank
  FROM sx
)
SELECT query_id, nbr_id, cosine, rank FROM r WHERE rank <= {k}
"""


@register("sim_sq8_persisted", _sq8_oracle_sql())
def sim_sq8_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQ8 SERVING path with a FULL value-hash oracle — and
    deliberately the SAME on-disk layout the streaming maintainer
    writes (scales metadata + codes delta), so batch build and
    streaming ingest share one probe: the batch build IS a single
    maintenance step (streaming.ops.sq8_maintain_batch with
    batch_id 0 — scales derived and frozen, corpus encoded, metadata
    versioned), and the probe IS the stream probe
    (sq8_probe_stream_index: frozen-scale query encode + the shared
    int64 ADC-style scan + bounded exact re-rank). Same results as
    sim_sq8_topk over the same corpus — batch-0 scales ARE the
    corpus's own maxima here, so the clamp is a no-op and the oracle
    carries over unchanged. Column pruning of ``v`` (and ``clipped``)
    out of the code scan is asserted in tests/test_similarity_ann.py."""
    from the_framework_for_clustering_time_series_data_spark.streaming.ops import (
        sq8_maintain_batch,
        sq8_probe_stream_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = _scratch_index_dir("the_framework_for_clustering_time_series_data_spark_sq8_")
    sq8_maintain_batch(emb, 0, path)
    return sq8_probe_stream_index(
        spark, path, emb.where(F.col("vec_id") < 10), k=5, rerank=50
    )


@register("sim_sq8_requantize", _sq8_oracle_sql())
def sim_sq8_requantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift-DRIVEN SQ8 re-quantization with a FULL value-hash oracle
    (round-9 verdict ask #4 — metadata that is ACTED on, not just
    emitted): batch 0 freezes scales from a quarter-of-id-range PREFIX of
    the corpus (too small — the frozen range undershoots the full
    distribution), batch 1 ingests the rest and its saturated
    components accumulate in the versioned clip metadata; then
    streaming.ops.sq8_requantize reads that metadata, the policy fires
    (clip_rate > 0 against a 0 tolerance here; prod default 0.5%),
    and the rebuild re-derives the scales over the FULL corpus under
    the crash-safe two-phase swap. After the swap the frozen scales
    ARE the corpus maxima again, so the probe is exactly the one-pass
    batch SQ8 build — _sq8_oracle_sql carries over unchanged, making
    the DECISION + REBUILD + SWAP path itself value-hash-checked."""
    from the_framework_for_clustering_time_series_data_spark.streaming.ops import (
        sq8_maintain_batch,
        sq8_probe_stream_index,
        sq8_requantize,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = _scratch_index_dir("the_framework_for_clustering_time_series_data_spark_sq8rq_")
    # prefix = first quarter of the id range at ANY sf (a fixed cut
    # would swallow the whole corpus at small sf and nothing would
    # clip); one max() metadata pull
    cut = emb.agg(F.max("vec_id")).collect()[0][0] // 4
    sq8_maintain_batch(emb.where(F.col("vec_id") < cut), 0, path)
    sq8_maintain_batch(emb.where(F.col("vec_id") >= cut), 1, path)
    fired = sq8_requantize(spark, path, max_clip_rate=0.0)
    assert fired, "prefix-frozen scales must clip on the full corpus"
    return sq8_probe_stream_index(
        spark, path, emb.where(F.col("vec_id") < 10), k=5, rerank=50
    )


@register("sim_ivf_recenter", _ivfb_oracle_sql())
def sim_ivf_recenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift-driven IVF re-centering with a FULL value-hash oracle —
    the coarse-quantizer sibling of sim_sq8_requantize: batch 0 trains
    the deterministic 16-cell quantizer on a quarter-of-id-range PREFIX, batch 1
    assigns the rest against those frozen (now off-center) centroids
    and the per-cell counts skew; streaming.ops.ivf_recenter reads the
    versioned counts, the policy fires (max/mean > 1 against a 1.0
    tolerance here; prod default 4x), retrains the md5-seeded Lloyd
    quantizer over the full delta union and swaps
    centroids+cells+meta crash-safely. The retrained index is
    bit-identical to the from-scratch deterministic build, so
    _ivfb_oracle_sql (sim_ivfb_topk's oracle) checks the decision +
    rebuild + swap end-to-end."""
    from the_framework_for_clustering_time_series_data_spark.streaming.ops import (
        ivf_maintain_batch,
        ivf_recenter,
        streaming_ivf_probe,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = _scratch_index_dir("the_framework_for_clustering_time_series_data_spark_ivfrc_")
    cut = emb.agg(F.max("vec_id")).collect()[0][0] // 4
    ivf_maintain_batch(emb.where(F.col("vec_id") < cut), 0, path, n_cells=16)
    ivf_maintain_batch(emb.where(F.col("vec_id") >= cut), 1, path, n_cells=16)
    fired = ivf_recenter(spark, path, max_cell_skew=1.0)
    assert fired, "prefix-trained quantizer must skew on the full corpus"
    return streaming_ivf_probe(
        spark, path, emb.where(F.col("vec_id") < 10), k=5, nprobe=4
    )


def _ivf_partial_oracle_sql(
    k: int = 5, n_cells: int = 16, nprobe: int = 4, dim: int = 64
) -> str:
    """DuckDB twin of the sim_ivf_recenter_partial pipeline: prefix
    16-cell build → full-corpus assign against the frozen quantizer →
    hot-cell policy (exact integer arithmetic: n·k·5 > 6·total, argmax
    fallback) → per-hot-cell md5-seeded Lloyd split (k_c = ceil(n·k /
    total) sub-cells, fresh ids above the max in (cell, sub) order) →
    cold cells folded through untouched → the standard IVF probe tail
    over the combined index."""
    from the_framework_for_clustering_time_series_data_spark.plans.dedup_plans import _semantic_assign_sql

    def d2hs(cv: str) -> str:
        return (
            f"list_aggregate(list_transform(range(1, {dim + 1}), "
            f"j -> (h.v[j] - {cv}[j]) * (h.v[j] - {cv}[j])), 'sum')"
        )

    qd2 = (
        f"list_aggregate(list_transform(range(1, {dim + 1}), "
        f"j -> (q.qv[j] - c.cvec[j]) * (q.qv[j] - c.cvec[j])), 'sum')"
    )
    return f"""
WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
p AS (SELECT id, v FROM e WHERE id < (SELECT max(id) // 4 FROM e)),
c0 AS (
  SELECT row_number() OVER (ORDER BY md5(id::VARCHAR), id) - 1 AS cell,
         v AS cvec
  FROM (SELECT id, v FROM p ORDER BY md5(id::VARCHAR), id LIMIT {n_cells})
),
{_semantic_assign_sql("p", "c0", "a0", dim)},
cm AS (
  SELECT cell, pos, floor(avg(val) * 1e6 + 0.5) / 1e6 AS cv
  FROM (SELECT cell, generate_subscripts(v, 1) AS pos, unnest(v) AS val
        FROM a0)
  GROUP BY 1, 2
),
c1 AS (SELECT cell, list(cv ORDER BY pos) AS cvec FROM cm GROUP BY 1),
{_semantic_assign_sql("e", "c1", "a1", dim)},
nc AS (SELECT cell, count(*) AS n FROM a1 GROUP BY 1),
tot AS (SELECT sum(n) AS t, (SELECT count(*) FROM c1) AS kk FROM nc),
hot0 AS (SELECT nc.cell, nc.n FROM nc, tot WHERE nc.n * tot.kk * 5 > 6 * tot.t),
hot1 AS (
  SELECT cell, n, 0 AS fb FROM hot0
  UNION ALL
  SELECT cell, n, 1 AS fb
  FROM (SELECT cell, n FROM nc ORDER BY n DESC, cell LIMIT 1)
  WHERE NOT EXISTS (SELECT 1 FROM hot0)
),
hot AS (
  -- fallback rows clamp kc to >= 2: the argmax cell on a balanced
  -- index would ceil to 1 — a pure renumber; a split that fires must
  -- split (mirrors ivf_recenter_partial's fallback clamp)
  SELECT cell, n,
         CASE WHEN fb = 1
              THEN greatest(CAST(2 AS BIGINT), CAST((n * kk + t - 1) // t AS BIGINT))
              ELSE CAST((n * kk + t - 1) // t AS BIGINT) END AS kc
  FROM hot1, tot
),
hm AS (SELECT a1.id, a1.v, a1.cell FROM a1 JOIN hot USING (cell)),
sd AS (
  SELECT cell, rn - 1 AS sub, v AS cvec FROM (
    SELECT hm.cell, hm.v, hot.kc,
           row_number() OVER (PARTITION BY hm.cell
                              ORDER BY md5(hm.id::VARCHAR), hm.id) AS rn
    FROM hm JOIN hot USING (cell)
  ) WHERE rn <= kc
),
s0 AS (
  SELECT id, v, cell, sub FROM (
    SELECT h.id, h.v, h.cell, s.sub,
           row_number() OVER (PARTITION BY h.id
                              ORDER BY {d2hs("s.cvec")}, s.sub) AS rn
    FROM hm h JOIN sd s ON s.cell = h.cell
  ) WHERE rn = 1
),
sm AS (
  SELECT cell, sub, pos, floor(avg(val) * 1e6 + 0.5) / 1e6 AS cv
  FROM (SELECT cell, sub, generate_subscripts(v, 1) AS pos, unnest(v) AS val
        FROM s0)
  GROUP BY 1, 2, 3
),
s1 AS (SELECT cell, sub, list(cv ORDER BY pos) AS cvec FROM sm GROUP BY 1, 2),
s2 AS (
  SELECT id, v, cell, sub FROM (
    SELECT h.id, h.v, h.cell, s.sub,
           row_number() OVER (PARTITION BY h.id
                              ORDER BY {d2hs("s.cvec")}, s.sub) AS rn
    FROM hm h JOIN s1 s ON s.cell = h.cell
  ) WHERE rn = 1
),
ren AS (
  SELECT cell,
         (SELECT max(cell) + 1 FROM c1)
         + coalesce(sum(kc) OVER (ORDER BY cell
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nbase
  FROM hot
),
fa AS (
  SELECT id, v, cell FROM a1 WHERE cell NOT IN (SELECT cell FROM hot)
  UNION ALL
  SELECT s2.id, s2.v, ren.nbase + s2.sub AS cell
  FROM s2 JOIN ren ON ren.cell = s2.cell
),
fc AS (
  SELECT cell, cvec FROM c1 WHERE cell NOT IN (SELECT cell FROM hot)
  UNION ALL
  SELECT ren.nbase + s1.sub AS cell, s1.cvec
  FROM s1 JOIN ren ON ren.cell = s1.cell
),
q AS (SELECT id AS query_id, v AS qv FROM e WHERE id < 10),
qc AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, c.cell,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {qd2}, c.cell) AS rn
    FROM q CROSS JOIN fc c
  ) WHERE rn <= {nprobe}
),
cand AS (
  SELECT qc.query_id, qc.qv, a.id AS nbr_id, a.v
  FROM qc JOIN fa a ON a.cell = qc.cell
  WHERE a.id <> qc.query_id
),
sc AS (
  SELECT query_id, nbr_id,
         round(list_cosine_similarity(qv, v), 6) AS cosine
  FROM cand
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, nbr_id) AS rank
  FROM sc
)
SELECT query_id, nbr_id, cosine, rank FROM r WHERE rank <= {k}
"""


@register("sim_ivf_recenter_partial", _ivf_partial_oracle_sql())
def sim_ivf_recenter_partial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL drift-driven IVF re-centering with a FULL value-hash
    oracle (round-10 verdict ask #6): the same prefix-trained 16-cell
    index as sim_ivf_recenter, but streaming.ops.ivf_recenter_partial
    splits ONLY the cells the drift metadata names hot (>1.2× mean, or
    the argmax cell when none clears it) and folds every cold cell —
    rows AND centroid — through unchanged. The full retrain's two
    broadcast argmin rounds over the whole corpus shrink to rounds
    over the hot minority; the only remaining full-corpus cost is the
    fold's one IO pass. The oracle replays the prefix build, the
    frozen full-corpus assignment, the exact-integer hot policy, the
    per-cell md5-Lloyd splits, the (cell, sub)-ordered renumbering,
    and the combined-index probe end-to-end."""
    from the_framework_for_clustering_time_series_data_spark.streaming.ops import (
        ivf_maintain_batch,
        ivf_recenter_partial,
        streaming_ivf_probe,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = _scratch_index_dir("the_framework_for_clustering_time_series_data_spark_ivfrp_")
    cut = emb.agg(F.max("vec_id")).collect()[0][0] // 4
    ivf_maintain_batch(emb.where(F.col("vec_id") < cut), 0, path, n_cells=16)
    ivf_maintain_batch(emb.where(F.col("vec_id") >= cut), 1, path, n_cells=16)
    fired = ivf_recenter_partial(spark, path, max_cell_skew=1.0)
    assert fired, "prefix-trained quantizer must skew on the full corpus"
    return streaming_ivf_probe(
        spark, path, emb.where(F.col("vec_id") < 10), k=5, nprobe=4
    )


@register("sim_sq8_topk", _sq8_oracle_sql())
def sim_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via SCALAR quantization (SQ8) — the third
    classic ANN serving form beside IVF and PQ, with a FULL value-hash
    oracle: per-dim max-|v| scales, half-up int8 codes, an
    exact-int64 dot/norm scan ranked at 6 dp, and a bounded exact
    re-rank (rerank 50). No training step at all — SQ8's operational
    edge for append-heavy corpora (re-quantize is one pass; no
    codebook drift). See similarity.sq8_topk for the parity
    disciplines; recall vs brute force asserted in
    tests/test_similarity_ann.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.sq8_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5, rerank=50
    )


@register(
    "emb_label_centroids",
    """
WITH e AS (
  SELECT label,
         unnest(embedding::DOUBLE[]) AS v,
         unnest(range(len(embedding))) AS dim
  FROM embeddings
)
SELECT label, dim, round(avg(v), 6) AS centroid
FROM e GROUP BY label, dim
""",
)
def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, one row per (label, dimension).

    posexplode → groupBy(label, dim) mean: a single shuffle whose key
    cardinality is |labels|·|dims| (bounded, tiny), with map-side
    partial aggregation doing the heavy lifting — the 100 TB of vectors
    reduce to kilobytes before the exchange.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    return (
        emb.select("label", F.posexplode("emb").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg("v"), 6).alias("centroid"))
    )


@register(
    "emb_mislabel_candidates",
    """
WITH e AS (
  SELECT vec_id, label,
         unnest(embedding::DOUBLE[]) AS v,
         unnest(range(len(embedding))) AS dim
  FROM embeddings
),
c AS (SELECT label, dim, avg(v) AS cv FROM e GROUP BY label, dim),
s AS (
  SELECT e.vec_id, e.label,
         round(sum(e.v * c.cv)
               / (sqrt(sum(e.v * e.v)) * sqrt(sum(c.cv * c.cv))), 6) AS cos_to_centroid
  FROM e JOIN c ON e.label = c.label AND e.dim = c.dim
  GROUP BY e.vec_id, e.label
),
r AS (
  SELECT vec_id, label, cos_to_centroid,
         row_number() OVER (
           PARTITION BY label ORDER BY cos_to_centroid, vec_id
         ) AS rn
  FROM s
)
SELECT label, vec_id, cos_to_centroid, rn FROM r WHERE rn <= 5
""",
)
def emb_mislabel_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise screen: the 5 vectors per label FARTHEST (lowest
    cosine) from their own label's centroid — the standard first pass
    for finding mislabeled training examples.

    Plan: centroid aggregate (bounded output) → collect each centroid
    into an ordered array → BROADCAST join back to the vectors (labels
    are a bounded category set, so the centroid table always fits) →
    JVM-side zip_with/aggregate fold for the dot products — no
    per-row Python, no second shuffle over the corpus; the only full
    exchange is the per-label top-N window at the end, keyed on a
    bounded category (at production scale, replace with a map-side
    partial top-N; rank ties broken on rounded cosine then vec_id so
    the result is engine-stable).
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    cent = (
        emb.select("label", F.posexplode("emb").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.avg("v").alias("cv"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "cv"))).alias("s"))
        .select("label", F.transform("s", lambda x: x.cv).alias("cvec"))
    )
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    scored = (
        emb.join(F.broadcast(cent), "label")
        .select(
            "vec_id",
            "label",
            F.round(
                dot(F.col("emb"), F.col("cvec"))
                / (F.sqrt(dot(F.col("emb"), F.col("emb")))
                   * F.sqrt(dot(F.col("cvec"), F.col("cvec")))),
                6,
            ).alias("cos_to_centroid"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("label").orderBy("cos_to_centroid", "vec_id")
    return (
        scored.select(
            "label", "vec_id", "cos_to_centroid",
            F.row_number().over(w).alias("rn"),
        ).where(F.col("rn") <= 5)
    )


@register("sim_ivfpq_topk")  # KMeans cells + PQ codes → rows-only oracle
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via IVFADC (Jégou et al. 2011): IVF cell
    pruning (16 cells, probe 4) composed with PQ byte pruning (8×16
    codebooks, ADC lookup scan) and exact top-50 re-rank — the
    serving-scale composition of sim_ivf_topk and sim_pq_topk; recall
    vs brute force asserted in tests/test_similarity_ann.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivfpq_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5, n_cells=16, nprobe=4,
        rerank=100,
    )


@register("sim_pq_topk")  # driver-trained codebooks → rows-only oracle
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via product quantization (8 subspaces × 16
    codes, Jégou et al. 2011) with exact re-ranking of the top-50 ADC
    candidates: the compressed-bytes ANN path (32× smaller first-pass
    scan) complementing LSH (hash pruning) and IVF (cell pruning).
    Recall vs brute force asserted in tests/test_similarity_ann.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pq_topk(emb, emb.where(F.col("vec_id") < 10), k=5)


@register(
    "emb_int8_quantize",
    """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings
),
b AS (
  SELECT vec_id, v,
         list_aggregate(v, 'min') AS mn,
         list_aggregate(v, 'max') AS mx
  FROM e
),
q AS (
  SELECT vec_id, v, mn, mx,
         CASE WHEN mx > mn
              THEN list_transform(v, x -> round((x - mn) / (mx - mn) * 255))
              ELSE list_transform(v, x -> 0.0) END AS code
  FROM b
),
r AS (
  SELECT vec_id, len(v) AS n_dims, mn, mx,
         list_sum(
           list_transform(
             range(1, len(v) + 1),
             i -> pow(v[i] - (mn + code[i] * (mx - mn) / 255), 2)
           )
         ) / len(v) AS mse
  FROM q
)
SELECT vec_id, n_dims, round(mn, 6) AS v_min, round(mx, 6) AS v_max,
       round(mse * 1000000, 6) AS mse_ppm
FROM r
""",
)
def emb_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar quantization of the embedding column —
    the 4× storage/bandwidth compression an ANN serving tier applies
    before PQ-level tricks (sim_pq_topk): affine-map each component to
    a 0..255 code against the vector's own [min, max], then report the
    reconstruction MSE (in parts-per-million so the 6-dp driver
    comparison keeps signal). Everything is JVM-side array folds on
    one scan — transform/aggregate over the 64-float array, no
    explode, no shuffle, no Python; at 100 TB this is a map-only pass
    whose output is 1/4 the input bytes plus two floats of scale
    metadata per vector (the codes themselves are computed here and
    would be written by the caller; the plan returns the quality
    audit)."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    b = e.select("vec_id", v.alias("v")).select(
        "vec_id",
        "v",
        F.array_min("v").alias("mn"),
        F.array_max("v").alias("mx"),
    )
    scale = F.col("mx") - F.col("mn")
    code = F.when(
        F.col("mx") > F.col("mn"),
        F.transform(
            F.col("v"), lambda x: F.round((x - F.col("mn")) / scale * 255, 0)
        ),
    ).otherwise(F.transform(F.col("v"), lambda x: F.lit(0.0)))
    q = b.withColumn("code", code)
    recon_err2 = F.zip_with(
        F.col("v"),
        F.col("code"),
        lambda x, c: F.pow(x - (F.col("mn") + c * scale / 255), F.lit(2.0)),
    )
    mse = F.aggregate(
        recon_err2, F.lit(0.0), lambda acc, x: acc + x
    ) / F.size("v")
    return q.select(
        "vec_id",
        F.size("v").alias("n_dims"),
        F.round("mn", 6).alias("v_min"),
        F.round("mx", 6).alias("v_max"),
        F.round(mse * 1e6, 6).alias("mse_ppm"),
    )


@register(
    "sim_knn_graph",
    """
WITH s AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         round(list_cosine_similarity(a.embedding::DOUBLE[],
                                      b.embedding::DOUBLE[]), 6) AS cosine
  FROM embeddings a JOIN embeddings b ON b.vec_id != a.vec_id
),
r AS (
  SELECT src, dst, cosine,
         row_number() OVER (PARTITION BY src
                            ORDER BY cosine DESC, dst) AS rnk
  FROM s
)
SELECT src, rnk, dst, cosine FROM r WHERE rnk <= 3
""",
)
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN graph construction (k=3, cosine) over the whole
    embedding table — the adjacency structure label propagation,
    graph clustering (c8), and SemDeDup-style analyses consume. Each
    Arrow batch scores itself against the broadcast L2-normalized
    corpus with one BLAS matmul and emits only its rows' top-3
    (exact: per-row top-k needs no cross-batch merge), so the shuffle
    carries 3 rows per vector instead of the n² score matrix. Ties
    break on neighbor id for deterministic cross-engine ranking. At
    fleet scale the same contract runs behind an ANN candidate pass
    (sim_ann_lsh_topk / sim_ivf_topk) — this is the exact baseline
    those are measured against."""
    import numpy as np
    import pandas as pd

    from the_framework_for_clustering_time_series_data_spark.operators.corpus_guard import (
        collect_bounded,
        id_spark_type,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    id_t = id_spark_type(emb, "vec_id")
    v = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    rows = collect_bounded(
        v,
        op="sim_knn_graph",
        scale_route="sim_ann_lsh_topk / sim_ivf_topk as the candidate pass",
    )
    # id dtype follows the input column (string ids stay strings)
    ids = np.array([r["id"] for r in rows])
    mat = np.array([r["v"] for r in rows], dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    bc = emb.sparkSession.sparkContext.broadcast((ids, mat))

    def knn(batches):
        all_ids, all_mat = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            bids = pdf["id"].to_numpy()
            bm = np.array(pdf["v"].tolist(), dtype=np.float64)
            bm = bm / np.linalg.norm(bm, axis=1, keepdims=True)
            sims = np.round(bm @ all_mat.T, 6)
            out = []
            for i, qid in enumerate(bids):
                s = sims[i]
                mask = all_ids != qid
                idx = np.nonzero(mask)[0]
                take = idx[np.lexsort((all_ids[idx], -s[idx]))[:3]]
                for rnk, j in enumerate(take, start=1):
                    out.append((qid, rnk, all_ids[j], s[j]))
            yield pd.DataFrame(out, columns=["src", "rnk", "dst", "cosine"])

    return v.mapInPandas(knn, f"src {id_t}, rnk int, dst {id_t}, cosine double")


@register(
    "emb_label_propagation",
    """
WITH s AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         round(list_cosine_similarity(a.embedding::DOUBLE[],
                                      b.embedding::DOUBLE[]), 6) AS cosine
  FROM embeddings a JOIN embeddings b ON b.vec_id != a.vec_id
),
knn AS (
  SELECT src, dst FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src
                              ORDER BY cosine DESC, dst) AS rnk
    FROM s
  ) WHERE rnk <= 3
),
seeds AS (
  SELECT vec_id, label,
         (('0x' || substr(md5(vec_id::VARCHAR || ':lp'), 1, 6))::BIGINT
            / 16777216.0 < 0.2) AS seeded
  FROM embeddings
),
l0 AS (
  SELECT vec_id, CASE WHEN seeded THEN label ELSE -1 END AS cur FROM seeds
),
v1 AS (
  SELECT k.src, l.cur AS nbr_label, count(*) AS votes
  FROM knn k JOIN l0 l ON l.vec_id = k.dst
  WHERE l.cur != -1 GROUP BY 1, 2
),
p1 AS (
  SELECT src, nbr_label FROM (
    SELECT src, nbr_label,
           row_number() OVER (PARTITION BY src
                              ORDER BY votes DESC, nbr_label) AS rn
    FROM v1
  ) WHERE rn = 1
),
l1 AS (
  SELECT l0.vec_id,
         CASE WHEN l0.cur != -1 THEN l0.cur
              ELSE coalesce(p1.nbr_label, -1) END AS cur
  FROM l0 LEFT JOIN p1 ON p1.src = l0.vec_id
),
v2 AS (
  SELECT k.src, l.cur AS nbr_label, count(*) AS votes
  FROM knn k JOIN l1 l ON l.vec_id = k.dst
  WHERE l.cur != -1 GROUP BY 1, 2
),
p2 AS (
  SELECT src, nbr_label FROM (
    SELECT src, nbr_label,
           row_number() OVER (PARTITION BY src
                              ORDER BY votes DESC, nbr_label) AS rn
    FROM v2
  ) WHERE rn = 1
),
l2 AS (
  SELECT l1.vec_id,
         CASE WHEN l1.cur != -1 THEN l1.cur
              ELSE coalesce(p2.nbr_label, -1) END AS cur
  FROM l1 LEFT JOIN p2 ON p2.src = l1.vec_id
)
SELECT s.vec_id, s.label AS true_label, s.seeded::INT AS seeded,
       l2.cur AS predicted,
       (l2.cur = s.label)::INT AS correct
FROM seeds s JOIN l2 ON l2.vec_id = s.vec_id
""",
)
def emb_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation (Zhu & Ghahramani 2002,
    majority-vote form): a deterministic 20% of vectors keep their
    label as seeds; every other node takes the majority label of its
    3 cosine nearest neighbors, two unrolled rounds (ties → smallest
    label; no labeled neighbor → stays -1). Reports per-node truth vs
    propagated label — the cheap label-densification pass a labeling
    pipeline runs before training on sparse annotations.

    Shape: the kNN adjacency comes from sim_knn_graph's broadcast
    -matmul scan (3 rows per vector); each round is one
    dimension-sized join + a ≤(k·labels)-row vote aggregate + a top-1
    window — the finite unrolled form, so the whole algorithm is a
    value-hash-checked DAG like graph_pagerank_purchases (rare for
    iterative ML). Fleet scale swaps the exact kNN for an ANN
    candidate graph; rounds stay identical."""
    knn = sim_knn_graph(spark, sf_dir).select("src", "dst")
    emb = load_table(spark, sf_dir, "embeddings")
    unit = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.col("vec_id").cast("string"), F.lit(":lp")).cast(
                        "binary"
                    )
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(16777216.0)
    )
    seeds = emb.select(
        "vec_id", "label", (unit < 0.2).alias("seeded")
    ).transform(stage_checkpoint, eager=True)
    cur = seeds.select(
        "vec_id",
        F.when(F.col("seeded"), F.col("label")).otherwise(F.lit(-1)).alias("cur"),
    )
    from pyspark.sql.window import Window

    for _ in range(2):
        votes = (
            knn.join(
                cur.select(F.col("vec_id").alias("dst"), F.col("cur").alias("nbr_label")),
                "dst",
            )
            .where(F.col("nbr_label") != -1)
            .groupBy("src", "nbr_label")
            .agg(F.count("*").alias("votes"))
        )
        w = Window.partitionBy("src").orderBy(F.col("votes").desc(), "nbr_label")
        pick = (
            votes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("src").alias("vec_id"), F.col("nbr_label").alias("pick"))
        )
        cur = cur.join(pick, "vec_id", "left").select(
            "vec_id",
            F.when(F.col("cur") != -1, F.col("cur"))
            .otherwise(F.coalesce(F.col("pick"), F.lit(-1)))
            .alias("cur"),
        )
    return (
        seeds.join(cur, "vec_id")
        .select(
            "vec_id",
            F.col("label").alias("true_label"),
            F.col("seeded").cast("int").alias("seeded"),
            F.col("cur").alias("predicted"),
            (F.col("cur") == F.col("label")).cast("int").alias("correct"),
        )
    )


@register(
    "emb_hygiene_audit",
    """
WITH v AS (
  SELECT vec_id, label,
         len(embedding) AS n_dims,
         sqrt(list_sum(list_transform(embedding, x -> (x::DOUBLE) * (x::DOUBLE))))
           AS norm,
         len(list_filter(embedding, x -> x = 0)) AS n_zero,
         len(list_filter(embedding, x -> isnan(x::DOUBLE))) AS n_nan
  FROM embeddings
)
SELECT n_dims,
       count(*) AS n_vecs,
       round(quantile_cont(norm, 0.5), 6) AS norm_p50,
       round(min(norm), 6) AS norm_min,
       round(max(norm), 6) AS norm_max,
       CAST(sum(CASE WHEN norm < 1e-9 THEN 1 ELSE 0 END) AS BIGINT) AS n_degenerate,
       CAST(sum(CASE WHEN n_nan > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_nan,
       round(avg(n_zero * 1.0 / n_dims), 6) AS zero_frac_avg,
       count(DISTINCT label) AS n_labels
FROM v GROUP BY n_dims
""",
)
def emb_hygiene_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-hygiene gate for the embeddings table — the
    data-quality pass every similarity/dedup/ANN consumer should run
    first: dimension-group counts (a second n_dims row = mixed
    embedding versions, the classic silent killer of cosine math),
    norm percentiles and min/max (≈0 norms break normalization;
    wildly varying norms flag unnormalized mixtures), NaN carriers,
    mean zero-fraction (quantization/sparsity drift), and label
    cardinality. The embedding-table sibling of the relational DQ
    profiling plans (quality_plans).

    Shape: one scan, all array folds JVM-side, aggregate onto the
    n_dims group — map-only plus one tiny exchange."""
    emb = load_table(spark, sf_dir, "embeddings")
    xd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    v = emb.select(
        "vec_id",
        "label",
        F.size("embedding").alias("n_dims"),
        F.sqrt(
            F.aggregate(xd, F.lit(0.0), lambda a, x: a + x * x)
        ).alias("norm"),
        F.size(F.filter(F.col("embedding"), lambda x: x == 0)).alias("n_zero"),
        F.size(F.filter(xd, lambda x: F.isnan(x))).alias("n_nan"),
    )
    return v.groupBy("n_dims").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.expr("percentile(norm, 0.5)"), 6).alias("norm_p50"),
        F.round(F.min("norm"), 6).alias("norm_min"),
        F.round(F.max("norm"), 6).alias("norm_max"),
        F.sum(F.when(F.col("norm") < 1e-9, 1).otherwise(0)).alias("n_degenerate"),
        F.sum(F.when(F.col("n_nan") > 0, 1).otherwise(0)).alias("n_with_nan"),
        F.round(F.avg(F.col("n_zero") * F.lit(1.0) / F.col("n_dims")), 6).alias(
            "zero_frac_avg"
        ),
        F.countDistinct("label").alias("n_labels"),
    )


def _recall_audit_oracle_sql() -> str:
    """The audit's DuckDB twin: each deterministic ANN variant's oracle
    embeds as a named subquery (nested WITH — legal in DuckDB), the
    brute-force top-5 is the ground truth, and recall@5 joins the
    bounded |Q|×5 result sets exactly like the Spark plan."""
    return f"""
WITH bf AS ({_BF_ORACLE_SQL}),
lshq AS ({_lsh_oracle_sql()}),
ivfbq AS ({_ivfb_oracle_sql()}),
pqbq AS ({_pqb_oracle_sql()}),
apx AS (
  SELECT 'lsh' AS method, query_id, nbr_id FROM lshq
  UNION ALL SELECT 'ivfb', query_id, nbr_id FROM ivfbq
  UNION ALL SELECT 'pqb', query_id, nbr_id FROM pqbq
),
kk AS (SELECT query_id, count(*) AS k FROM bf GROUP BY 1),
mm AS (SELECT unnest(['lsh', 'ivfb', 'pqb']) AS method),
hits AS (
  SELECT a.method, b.query_id, count(*) AS n_hits
  FROM bf b JOIN apx a ON a.query_id = b.query_id AND a.nbr_id = b.nbr_id
  GROUP BY 1, 2
)
SELECT mm.method, kk.query_id,
       round(coalesce(h.n_hits, 0) * 1.0 / kk.k, 6) AS recall_at_5
FROM mm CROSS JOIN kk
LEFT JOIN hits h ON h.method = mm.method AND h.query_id = kk.query_id
"""


@register("sim_ann_recall_audit", _recall_audit_oracle_sql())
def sim_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximation-quality audit AS A QUERY: recall@5 of the three
    DETERMINISTIC ANN variants (multi-probe LSH, md5-Lloyd IVF, and
    md5-Lloyd PQ) against the exact brute-force top-5, per query
    vector and per method — the continuous-monitoring form of the
    recall assertions in tests/test_similarity_ann.py. Run it per
    index rebuild; a recall drop flags a bad cell split or an unlucky
    hyperplane seed before serving traffic does. FULLY oracle-checked
    since round 5 (every audited variant is replayable, so the audit
    itself is); the MLlib-quantized variants' recall floors remain
    asserted by tests/test_similarity_ann.py.

    Shape: three top-k result sets (each already bounded to |Q|×5
    rows) semi-joined on (query, neighbor) and counted — the audit
    costs a fraction of any single index scan. The brute-force ground
    truth is stage-checkpointed ONCE (it feeds one join plus the
    per-query k-count for EACH audited method — six consumers without
    the checkpoint, and Spark would re-run the full exact top-k scan
    for every one), and the k-count is hoisted out of the method loop
    so the |Q|-row denominator is computed a single time."""
    exact = (
        sim_bruteforce_topk(spark, sf_dir)
        .select("query_id", F.col("nbr_id").alias("exact_nbr"))
        .transform(stage_checkpoint, eager=False)
    )
    kk = exact.groupBy(F.col("query_id").alias("qid")).agg(
        F.count("*").alias("k")
    )
    out = []
    for method, fn in (
        ("lsh", sim_ann_lsh_topk),
        ("ivfb", sim_ivfb_topk),
        ("pqb", sim_pqb_topk),
    ):
        approx = fn(spark, sf_dir).select(
            "query_id", F.col("nbr_id").alias("approx_nbr")
        )
        hits = exact.join(
            approx,
            (exact["query_id"] == approx["query_id"])
            & (exact["exact_nbr"] == approx["approx_nbr"]),
        ).groupBy(exact["query_id"].alias("qid")).agg(
            F.count("*").alias("n_hits")
        )
        per_q = (
            kk.join(hits, "qid", "left")
            .select(
                F.lit(method).alias("method"),
                F.col("qid").alias("query_id"),
                F.round(
                    F.coalesce(F.col("n_hits"), F.lit(0)) * F.lit(1.0) / F.col("k"),
                    6,
                ).alias("recall_at_5"),
            )
        )
        out.append(per_q)
    res = out[0]
    for more in out[1:]:
        res = res.unionByName(more)
    return res

"""Dedup plans over the ``documents`` table (north-star extensions,
SURVEY.md §7 phase 4)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from the_framework_for_clustering_time_series_data_spark.operators import dedup
from the_framework_for_clustering_time_series_data_spark.operators.text import tokens_expr
from the_framework_for_clustering_time_series_data_spark.plans.registry import register
from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table


@register(
    "dedup_exact_groups",
    """
SELECT md5(text) AS text_hash, count(*) AS n_dups, min(doc_id) AS keep_id
FROM documents
GROUP BY md5(text)
""",
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5-hash groupBy — shuffle key is 16 bytes per doc
    regardless of document size."""
    return dedup.exact_dedup_groups(load_table(spark, sf_dir, "documents"))


#: Deterministic document-sample cap bounding the EXACT Jaccard form's
#: self-join (the ts_pair_correlation sampling discipline): the
#: _JACCARD_DOC_CAP docs with the smallest md5(doc_id) — stable across
#: engines and corpus growth, pair budget ≤ cap²/2 at ANY corpus size.
#: sf0.01's 500 documents sit below the cap, so the registered output
#: is identical to the uncapped form there (oracle continuity).
_JACCARD_DOC_CAP = 1000

#: Shared CTE chain (no leading WITH) ending in ``jpairs(id_a, id_b,
#: jaccard)`` — the exact md5-capped trigram-Jaccard pair kernel.
#: Consumed by dedup_ngram_jaccard's oracle AND by downstream
#: graph-over-pairs oracles (ml_plans c8b) so the two stay in lockstep.
JACCARD_EXACT_CTES = f"""keep AS (
  SELECT doc_id FROM documents
  ORDER BY md5(doc_id::VARCHAR), doc_id LIMIT {_JACCARD_DOC_CAP}
),
d AS (
  SELECT doc_id AS id,
         list_distinct([
           array_to_string(toks[i:i+2], ' ')
           FOR i IN range(1, len(toks) - 1)
         ]) AS sh
  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
        FROM documents JOIN keep USING (doc_id))
  WHERE len(toks) >= 3
),
e AS (SELECT id, len(sh) AS n_sh, unnest(sh) AS shingle FROM d),
i AS (
  SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
         count(*) AS n_inter
  FROM e a JOIN e b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2, 3, 4
),
jpairs AS MATERIALIZED (
  SELECT id_a, id_b,
         round(n_inter / (n_a + n_b - n_inter), 6) AS jaccard
  FROM i
  WHERE round(n_inter / (n_a + n_b - n_inter), 6) >= 0.2
)"""
# ^ admission test matches the Spark operator's round(J, 6) >= θ (the
#   very rounded-admission set the PPJoin prefix bound is sized for);
#   filtering on the raw ratio would disagree with the twin on pairs
#   whose exact J sits within 5e-7 below θ (reachable only at union
#   sizes >~400k shingles, but the contract must be consistent).


@register(
    "dedup_ngram_jaccard",
    f"""
WITH {JACCARD_EXACT_CTES}
SELECT id_a, id_b, jaccard FROM jpairs
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs (threshold 0.2) via
    inverted-index join — only co-shingled pairs are compared. The
    EXACT (string-shingle) form, kept as the oracle-literal reference
    and bounded by a deterministic {_JACCARD_DOC_CAP}-doc md5 sample
    stated in BOTH engines (identical to uncapped below the cap —
    sf0.01 has 500 docs). The corpus-wide scale form is
    dedup_ngram_jaccard_capped (hashed shingles + df cap)."""
    return dedup.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.2, n=3,
        max_docs=_JACCARD_DOC_CAP,
    )


#: Hot-shingle document-frequency cap for the scale-twin queries. A
#: shingle present in >100 documents separates almost nothing at
#: θ=0.2 (a qualifying pair must share ≥ ~1/6 of its shingles) while
#: contributing O(df²) rows to the inverted-index join — the classic
#: boilerplate blowup at 100× corpus growth.
NGRAM_DOC_FREQ_CAP = 100


def _hashed_jaccard_pairs_ctes(threshold: float, cap: int) -> str:
    """CTE chain (no leading WITH) ending in ``pairs(id_a, id_b,
    jaccard)`` — the DuckDB twin of ``ngram_jaccard_pairs(...,
    max_doc_freq=cap, shingle_hash="md5")``: portable md5-60-bit token
    hashes, shift-xor trigram shingle hashes, doc-frequency cap
    applied to the join side only (denominators stay full), Jaccard
    thresholded on the 6-dp rounded value exactly as the operator
    does."""
    return f"""dtk AS (
  SELECT doc_id AS id, string_split_regex(lower(trim(text)), '\\s+') AS arr
  FROM documents
),
tk0 AS (SELECT id, generate_subscripts(arr, 1) AS pos, unnest(arr) AS tok FROM dtk),
th0 AS (SELECT id, pos,
               CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
        FROM tk0),
nbr AS (SELECT id, h AS h0, lead(h, 1) OVER w AS h1, lead(h, 2) OVER w AS h2
        FROM th0 WINDOW w AS (PARTITION BY id ORDER BY pos)),
shl AS (SELECT DISTINCT id, xor(xor(h0 << 2, h1 << 1), h2) AS sh
        FROM nbr WHERE h2 IS NOT NULL),
nshc AS (SELECT id, count(*) AS n_sh FROM shl GROUP BY id),
dfq AS (SELECT sh, count(*) AS c FROM shl GROUP BY sh),
surv AS (SELECT s.id, s.sh FROM shl s JOIN dfq ON dfq.sh = s.sh WHERE dfq.c <= {cap}),
ppre AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
  FROM surv a JOIN surv b ON a.sh = b.sh AND a.id < b.id
  GROUP BY 1, 2
),
pairs AS (
  SELECT i.id_a, i.id_b,
         round(i.n_inter / (na.n_sh + nb.n_sh - i.n_inter), 6) AS jaccard
  FROM ppre i
  JOIN nshc na ON na.id = i.id_a
  JOIN nshc nb ON nb.id = i.id_b
  WHERE round(i.n_inter / (na.n_sh + nb.n_sh - i.n_inter), 6) >= {threshold}
)"""


@register(
    "dedup_ngram_jaccard_capped",
    f"""
WITH {_hashed_jaccard_pairs_ctes(0.2, NGRAM_DOC_FREQ_CAP)}
SELECT id_a, id_b, jaccard FROM pairs
""",
)
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale twin of dedup_ngram_jaccard: 64-bit hashed shingles (no
    shingle strings materialize or shuffle) + hot-shingle doc-frequency
    cap bounding the inverted-index join at Σ df² over RARE shingles
    only. Registered on the portable md5 hash family so the DuckDB
    oracle reproduces every value."""
    return dedup.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        threshold=0.2, n=3,
        max_doc_freq=NGRAM_DOC_FREQ_CAP, shingle_hash="md5",
    )


def _minhash_oracle_sql(num_hashes: int = 32, band_size: int = 4,
                        threshold: float = 0.2, max_bucket: int = 1000) -> str:
    """DuckDB twin of ``minhash_lsh_pairs(hash_family="md5")`` — the
    identical pipeline (md5-60-bit token hash → shift-xor trigram
    shingles → seeded XOR minhash family → 4-wide band buckets →
    bucket pairs → exact-Jaccard verify) expressed in SQL, drawing the
    same ``minhash_xor_family`` constants so every intermediate value
    is bit-equal across engines."""
    rs = dedup.minhash_xor_family(num_hashes)
    n_bands = num_hashes // band_size
    mins = ",\n         ".join(
        f"min(xor(sh, {r})) AS s{i}" for i, r in enumerate(rs)
    )
    band_arms = "\n  UNION ALL ".join(
        "SELECT id, {b} AS band_id, {es} FROM sig".format(
            b=b,
            es=", ".join(
                f"s{b * band_size + j} AS e{j}" for j in range(band_size)
            ),
        )
        for b in range(n_bands)
    )
    on_band = " AND ".join(
        ["a.band_id = b.band_id"] + [f"a.e{j} = b.e{j}" for j in range(band_size)]
    )
    bucket_cols = ", ".join(["band_id"] + [f"e{j}" for j in range(band_size)])
    return f"""
WITH d AS (
  SELECT doc_id AS id, string_split_regex(lower(trim(text)), '\\s+') AS arr
  FROM documents
),
tk AS (SELECT id, generate_subscripts(arr, 1) AS pos, unnest(arr) AS tok FROM d),
th AS (SELECT id, pos,
              CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
       FROM tk),
nb AS (SELECT id, h AS h0, lead(h, 1) OVER w AS h1, lead(h, 2) OVER w AS h2
       FROM th WINDOW w AS (PARTITION BY id ORDER BY pos)),
sh AS (SELECT id, xor(xor(h0 << 2, h1 << 1), h2) AS sh
       FROM nb WHERE h2 IS NOT NULL),
sig AS (
  SELECT id,
         {mins}
  FROM sh GROUP BY id
),
bands AS (
  {band_arms}
),
bsz AS (SELECT {bucket_cols}, count(*) AS n FROM bands GROUP BY {bucket_cols}),
okb AS (SELECT * FROM bsz WHERE n BETWEEN 2 AND {max_bucket}),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a
  JOIN okb k ON {" AND ".join(["a.band_id = k.band_id"] + [f"a.e{j} = k.e{j}" for j in range(band_size)])}
  JOIN bands b ON {on_band} AND a.id < b.id
),
shs AS (SELECT DISTINCT id, sh FROM sh),
nsh AS (SELECT id, count(*) AS n FROM shs GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS ni
  FROM cand c
  JOIN shs a ON a.id = c.id_a
  JOIN shs b ON b.id = c.id_b AND a.sh = b.sh
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b,
       round(i.ni / (na.n + nb2.n - i.ni), 6) AS jaccard
FROM inter i
JOIN nsh na ON na.id = i.id_a
JOIN nsh nb2 ON nb2.id = i.id_b
WHERE round(i.ni / (na.n + nb2.n - i.ni), 6) >= {threshold}
"""


@register("dedup_minhash_lsh", _minhash_oracle_sql())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32)+LSH-banded near-dup candidates, exact-Jaccard
    verified at 0.2 — registered on the portable md5-60-bit hash
    family so the DuckDB oracle reproduces every value bit-for-bit
    (the xxhash64 family stays the prod default of the operator; its
    recall-vs-exact test covers it)."""
    return dedup.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        threshold=0.2, n=3, num_hashes=32, hash_family="md5",
    )


#: DuckDB CTE chain ending in fp(id, simhash) — the 60-bit portable
#: SimHash twin of ``dedup.simhash(bits=60, hash_family="md5")``: the
#: same md5-60-bit token hashes, per-bit ±1 votes, fingerprint bit b
#: set iff the vote sum is positive. 60 bits keep the fingerprint off
#: the sign bit in both engines.
_SIMHASH_FP_CTES = """
tk AS (
  SELECT doc_id AS id,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents
),
th AS (SELECT id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM tk),
bv AS (
  SELECT id, b.range AS b,
         sum(CASE WHEN (h >> b.range) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM th CROSS JOIN range(0, 60) b
  GROUP BY 1, 2
),
fp AS (
  SELECT id,
         CAST(sum(CASE WHEN v > 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT)
           AS simhash
  FROM bv GROUP BY id
)"""


@register(
    "dedup_simhash",
    f"""
WITH {_SIMHASH_FP_CTES}
SELECT id AS doc_id, simhash FROM fp
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints per document (token-hash bit votes, single
    grouped aggregate) — registered on the portable md5-60-bit family
    so the DuckDB oracle reproduces every fingerprint bit-for-bit (the
    64-bit xxhash64 family stays the operator default)."""
    d = dedup.simhash(
        load_table(spark, sf_dir, "documents"), bits=60, hash_family="md5"
    )
    return d.withColumnRenamed("id", "doc_id")


@register(
    "dedup_embedding_cosine",
    """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.4
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine ≥ 0.4), brute-force
    baseline; the LSH-pruned scale path is sim_ann_lsh_topk.

    The threshold sits in the test table's actual near-dup regime: the
    synthetic embeddings are quasi-random 64-dim vectors whose closest
    pairs land at cosine ≈0.4-0.6, so a 0.9 cutoff would (vacuously)
    match nothing at any scale factor. Real embedding corpora with
    true duplicates should raise it back to 0.9+."""
    return dedup.embedding_cosine_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4
    )


@register(
    "dedup_simhash_pairs",
    f"""
WITH {_SIMHASH_FP_CTES},
bands AS (
  SELECT id, simhash, b.range AS band_id,
         (simhash >> (15 * b.range)) & 32767 AS band_val
  FROM fp CROSS JOIN range(0, 4) b
),
bsz AS (SELECT band_id, band_val, count(*) AS n FROM bands GROUP BY 1, 2),
cand AS (
  SELECT DISTINCT a.id AS id_a, b2.id AS id_b,
                  a.simhash AS ha, b2.simhash AS hb
  FROM bands a
  JOIN bsz k ON k.band_id = a.band_id AND k.band_val = a.band_val
            AND k.n BETWEEN 2 AND 1000
  JOIN bands b2 ON b2.band_id = a.band_id AND b2.band_val = a.band_val
               AND b2.id > a.id
)
SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= 3
""",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3) via 15-bit pigeonhole
    banding + bit_count verification — no O(n²) scan. Registered on the
    portable md5-60-bit family for a full value-hash oracle."""
    return dedup.simhash_pairs(
        load_table(spark, sf_dir, "documents"), bits=60, hash_family="md5"
    )


@register(
    "dedup_connected_groups",
    f"""
WITH RECURSIVE {_hashed_jaccard_pairs_ctes(0.2, NGRAM_DOC_FREQ_CAP)},
bi AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach(src, dst) AS (
  SELECT src, dst FROM bi
  UNION
  SELECT r.src, b.dst FROM reach r JOIN bi b ON b.src = r.dst WHERE b.dst <> r.src
),
comp AS (SELECT src AS doc_id, least(src, min(dst)) AS group_id FROM reach GROUP BY src)
SELECT doc_id, group_id, count(*) OVER (PARTITION BY group_id) AS group_size FROM comp
""",
)
def dedup_connected_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate GROUP formation — the step after pair detection in a
    real dedup pipeline: transitive closure of the word-3-gram
    Jaccard≥0.2 pairs via distributed min-label propagation
    (operators.dedup.connected_components), each group keyed by its
    min doc id. Routed through the CAPPED hashed-shingle pair kernel
    (exactness of borderline pairs is not the point of group
    formation; the df cap is what survives 100× corpus growth). The
    oracle computes the identical capped pairs + closure with a DuckDB
    recursive CTE."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, threshold=0.2, n=3,
        max_doc_freq=NGRAM_DOC_FREQ_CAP, shingle_hash="md5",
    )
    return dedup.duplicate_groups(pairs)


def _semantic_assign_sql(src: str, cent: str, out: str, dim: int) -> str:
    """One Lloyd assignment round as a CTE pair: nearest centroid by
    sequential-fold squared distance, ties to the lower cell index —
    the exact argmin discipline of semantic_dedup_deterministic."""
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


def _semantic_oracle_sql(n_cells: int, threshold: float, dim: int = 64) -> str:
    """DuckDB twin of ``semantic_dedup_deterministic`` (two md5-Lloyd
    rounds): md5-seeded centroids → assign → half-up-6dp mean update →
    final assign → in-cell cosine pairs (all sequential folds) →
    recursive-CTE transitive closure → centroid-closest survivor."""
    seq = f"range(1, {dim + 1})"
    cos = (
        f"list_aggregate(list_transform({seq}, k -> a.v[k] * b.v[k]), 'sum')"
        " / (sqrt(list_aggregate(list_transform(a.v, x -> x * x), 'sum'))"
        " * sqrt(list_aggregate(list_transform(b.v, x -> x * x), 'sum')))"
    )
    return f"""
WITH RECURSIVE e AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
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
p AS (
  -- the cosine DECISION keys on the half-up-6dp round in both engines
  -- (kernel: np.floor(sims*1e6+0.5)/1e6) so BLAS/fold ulp drift can't
  -- flip a pair across the threshold
  SELECT a.id AS id_a, b.id AS id_b
  FROM a1 a JOIN a1 b ON a.cell = b.cell AND a.id < b.id
  WHERE floor(({cos}) * 1e6 + 0.5) / 1e6 >= {threshold}
),
ed AS (SELECT id_a AS u, id_b AS nb FROM p
       UNION ALL SELECT id_b, id_a FROM p),
reach(src, dst) AS (
  SELECT u, nb FROM ed
  UNION
  SELECT r.src, ed.nb FROM reach r JOIN ed ON ed.u = r.dst
  WHERE ed.nb <> r.src
),
comp AS (
  SELECT n.id, least(n.id, min(r.dst)) AS group_id
  FROM (SELECT DISTINCT u AS id FROM ed) n
  LEFT JOIN reach r ON r.src = n.id
  GROUP BY n.id
),
gsz AS (SELECT group_id, count(*) AS group_size FROM comp GROUP BY 1),
mem AS (
  SELECT a1.id, a1.cell, coalesce(comp.group_id, a1.id) AS group_id,
         coalesce(gsz.group_size, 1) AS group_size, a1.d2
  FROM a1 LEFT JOIN comp ON comp.id = a1.id
  LEFT JOIN gsz ON gsz.group_id = comp.group_id
)
SELECT id, CAST(cell AS INT) AS cell, group_id,
       CAST(group_size AS BIGINT) AS group_size,
       (row_number() OVER (PARTITION BY group_id ORDER BY d2, id) = 1) AS keep
FROM mem
"""


@register("dedup_semantic", _semantic_oracle_sql(4, 0.4))
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup over the embeddings table: k-means cells
    bound the pairwise cosine scan, duplicate groups close
    transitively, the centroid-closest member of each group survives.
    Threshold 0.4 sits in the synthetic table's actual near-dup regime
    (see dedup_embedding_cosine); real corpora use 0.9+.

    Registered on the DETERMINISTIC md5-seeded fixed-Lloyd variant
    (operators/dedup.semantic_dedup_deterministic) so the full pipeline
    carries a DuckDB value-hash oracle — the MLlib-seeded
    semantic_dedup kernel stays available for library users who prefer
    kmeans|| initialization over determinism."""
    return dedup.semantic_dedup_deterministic(
        load_table(spark, sf_dir, "embeddings"), n_cells=4, threshold=0.4
    )


@register("dedup_semantic_scaled", _semantic_oracle_sql(32, 0.4))
def dedup_semantic_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_semantic's PRODUCTION-SCALE form: identical SemDeDup
    semantics, n_cells=32 instead of 4. The round-10 skew sweep showed
    the pairwise in-cell scan is the skew axis — a hot embedding
    direction (10% of the corpus in one direction, the
    boilerplate-crawl shape) made the 4-cell form 3.5× worse than its
    uniform-decade ratio (14.5× vs 4.1×) because every cell holds n/4
    vectors and the hot clique's closure rides on top. Cells bound the
    candidate volume quadratically, so k is THE scale knob (SemDeDup
    sizes k with the corpus); the giant dup-group clique itself stays
    quadratic in the hot fraction — that part is the semantics (each
    in-group pair must be evaluated to close the group). Same md5
    determinism, same DuckDB oracle shape, so the scaled form is
    value-hash-checked too."""
    return dedup.semantic_dedup_deterministic(
        load_table(spark, sf_dir, "embeddings"), n_cells=32, threshold=0.4
    )


def _semantic_prod_oracle_sql(target: int, threshold: float, dim: int = 64) -> str:
    """DuckDB twin of ``semantic_dedup_prod`` (two Lloyd rounds): identical
    SemDeDup pipeline shape to :func:`_semantic_oracle_sql`, but k is
    DERIVED (ceil(n/target), the paper's k ∝ n sizing) and every
    distance/dot runs on int64 micro-unit quantized vectors — exact in
    any summation order, so the Spark matmul kernels and these
    sequential folds agree bit-for-bit with NO float-association
    caveat (the fixed-k twin's accepted ~1e-10 risk class)."""
    seq = f"range(1, {dim + 1})"
    cos = (
        f"list_aggregate(list_transform({seq}, k -> a.v[k] * b.v[k]), 'sum')"
        " / (sqrt(list_aggregate(list_transform(a.v, x -> x * x), 'sum'))"
        " * sqrt(list_aggregate(list_transform(b.v, x -> x * x), 'sum')))"
    )
    return f"""
WITH RECURSIVE e AS (
  SELECT vec_id AS id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS v
  FROM embeddings
),
c0 AS (
  SELECT rk - 1 AS cell, v AS cvec FROM (
    SELECT v, row_number() OVER (ORDER BY md5(id::VARCHAR), id) AS rk,
           count(*) OVER () AS n
    FROM e
  ) WHERE rk <= ceil(n / {target}.0)
),
{_semantic_assign_sql("e", "c0", "a0", dim)},
cm AS (
  SELECT cell, pos,
         CAST(floor(sum(val)::DOUBLE / count(*) + 0.5) AS BIGINT) AS cv
  FROM (SELECT cell, generate_subscripts(v, 1) AS pos, unnest(v) AS val
        FROM a0)
  GROUP BY 1, 2
),
c1 AS (SELECT cell, list(cv ORDER BY pos) AS cvec FROM cm GROUP BY 1),
{_semantic_assign_sql("e", "c1", "a1", dim)},
p AS (
  -- int64 dot (exact) / (sqrt·sqrt) then the half-up-6dp decision —
  -- the Spark kernel runs the identical fp64 op chain
  SELECT a.id AS id_a, b.id AS id_b
  FROM a1 a JOIN a1 b ON a.cell = b.cell AND a.id < b.id
  WHERE floor(({cos}) * 1e6 + 0.5) / 1e6 >= {threshold}
),
ed AS (SELECT id_a AS u, id_b AS nb FROM p
       UNION ALL SELECT id_b, id_a FROM p),
reach(src, dst) AS (
  SELECT u, nb FROM ed
  UNION
  SELECT r.src, ed.nb FROM reach r JOIN ed ON ed.u = r.dst
  WHERE ed.nb <> r.src
),
comp AS (
  SELECT n.id, least(n.id, min(r.dst)) AS group_id
  FROM (SELECT DISTINCT u AS id FROM ed) n
  LEFT JOIN reach r ON r.src = n.id
  GROUP BY n.id
),
gsz AS (SELECT group_id, count(*) AS group_size FROM comp GROUP BY 1),
mem AS (
  SELECT a1.id, a1.cell, coalesce(comp.group_id, a1.id) AS group_id,
         coalesce(gsz.group_size, 1) AS group_size, a1.d2
  FROM a1 LEFT JOIN comp ON comp.id = a1.id
  LEFT JOIN gsz ON gsz.group_id = comp.group_id
)
SELECT id, CAST(cell AS INT) AS cell, group_id,
       CAST(group_size AS BIGINT) AS group_size,
       (row_number() OVER (PARTITION BY group_id ORDER BY d2, id) = 1) AS keep
FROM mem
"""


@register("dedup_semantic_prod", _semantic_prod_oracle_sql(250, 0.4))
def dedup_semantic_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup at the paper's PRODUCTION sizing (round-10 verdict ask
    #1): k = ceil(n/250) derived from one corpus count, so in-cell
    pair volume is n·125 — LINEAR in the corpus — where the fixed-k
    dedup_semantic_scaled is n²/32 (measured 12.02× over the 10×
    sf1→sf10 decade). Assignment is an Arrow-batched int64 matmul
    argmin against the broadcast k×dim centroid table; the int64
    micro-unit quantization makes every distance/dot exact in both
    engines, so the value-hash oracle carries no float-association
    caveat. dedup_semantic_scaled stays registered as the
    oracle-comparison twin."""
    return dedup.semantic_dedup_prod(
        load_table(spark, sf_dir, "embeddings"),
        target_cell_size=250,
        threshold=0.4,
    )


def _semantic_coarse_oracle_sql(target: int, threshold: float, dim: int = 64) -> str:
    """DuckDB twin of ``semantic_dedup_coarse`` (two Lloyd rounds): the
    two-level routed assignment replayed bit-for-bit — fine seeds as in
    the prod twin, coarse seeds = first ceil(sqrt(k)) fine seeds with
    one exact-int refinement round then FROZEN, every vector routed
    coarse-argmin (over buckets owning >=1 fine centroid) then
    fine-argmin within the bucket, one exact-int fine update round,
    and the prod pair/closure/survivor tail. All ties deterministic
    (lower g / lower cell / lower id)."""
    seq = f"range(1, {dim + 1})"
    cos = (
        f"list_aggregate(list_transform({seq}, k -> a.v[k] * b.v[k]), 'sum')"
        " / (sqrt(list_aggregate(list_transform(a.v, x -> x * x), 'sum'))"
        " * sqrt(list_aggregate(list_transform(b.v, x -> x * x), 'sum')))"
    )

    def d2(x: str, y: str) -> str:
        return (
            f"list_aggregate(list_transform({seq}, "
            f"j -> ({x}[j] - {y}[j]) * ({x}[j] - {y}[j])), 'sum')"
        )

    def route(src: str, out: str) -> str:
        # fine centroids -> FROZEN coarse centers, ties to the lower g
        return f"""{out} AS (
  SELECT cell, cvec, g FROM (
    SELECT s.cell, s.cvec, t.g,
           row_number() OVER (PARTITION BY s.cell
                              ORDER BY {d2("s.cvec", "t.gvec")}, t.g) AS rn
    FROM {src} s CROSS JOIN g1 t
  ) WHERE rn = 1
)"""

    def assign2(route_cte: str, vg: str, out: str) -> str:
        # two-level vector assignment: coarse-argmin over live buckets,
        # then fine-argmin among the bucket's fine centroids
        return f"""{vg} AS (
  SELECT id, v, g FROM (
    SELECT e.id, e.v, t.g,
           row_number() OVER (PARTITION BY e.id
                              ORDER BY {d2("e.v", "t.gvec")}, t.g) AS rn
    FROM e CROSS JOIN (
      SELECT g, gvec FROM g1
      WHERE g IN (SELECT DISTINCT g FROM {route_cte})
    ) t
  ) WHERE rn = 1
),
{out} AS (
  SELECT id, v, cell, d2 FROM (
    SELECT s.id, s.v, c.cell, {d2("s.v", "c.cvec")} AS d2,
           row_number() OVER (PARTITION BY s.id
                              ORDER BY {d2("s.v", "c.cvec")}, c.cell) AS rn
    FROM {vg} s JOIN {route_cte} c ON c.g = s.g
  ) WHERE rn = 1
)"""

    return f"""
WITH RECURSIVE e AS (
  SELECT vec_id AS id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS v
  FROM embeddings
),
c0 AS (
  SELECT rk - 1 AS cell, v AS cvec FROM (
    SELECT v, row_number() OVER (ORDER BY md5(id::VARCHAR), id) AS rk,
           count(*) OVER () AS n
    FROM e
  ) WHERE rk <= ceil(n / {target}.0)
),
g0 AS (
  SELECT cell AS g, cvec AS gvec FROM c0
  WHERE cell < (SELECT ceil(sqrt(count(*))) FROM c0)
),
ga AS (
  SELECT cell, cvec, g FROM (
    SELECT s.cell, s.cvec, t.g,
           row_number() OVER (PARTITION BY s.cell
                              ORDER BY {d2("s.cvec", "t.gvec")}, t.g) AS rn
    FROM c0 s CROSS JOIN g0 t
  ) WHERE rn = 1
),
gm AS (
  SELECT g, pos, CAST(floor(sum(val)::DOUBLE / count(*) + 0.5) AS BIGINT) AS gv
  FROM (SELECT g, generate_subscripts(cvec, 1) AS pos, unnest(cvec) AS val
        FROM ga)
  GROUP BY 1, 2
),
g1 AS (SELECT g, list(gv ORDER BY pos) AS gvec FROM gm GROUP BY 1),
{route("c0", "r0")},
{assign2("r0", "vg0", "a0")},
cm AS (
  SELECT cell, pos,
         CAST(floor(sum(val)::DOUBLE / count(*) + 0.5) AS BIGINT) AS cv
  FROM (SELECT cell, generate_subscripts(v, 1) AS pos, unnest(v) AS val
        FROM a0)
  GROUP BY 1, 2
),
c1 AS (SELECT cell, list(cv ORDER BY pos) AS cvec FROM cm GROUP BY 1),
{route("c1", "r1")},
{assign2("r1", "vg1", "a1")},
p AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM a1 a JOIN a1 b ON a.cell = b.cell AND a.id < b.id
  WHERE floor(({cos}) * 1e6 + 0.5) / 1e6 >= {threshold}
),
ed AS (SELECT id_a AS u, id_b AS nb FROM p
       UNION ALL SELECT id_b, id_a FROM p),
reach(src, dst) AS (
  SELECT u, nb FROM ed
  UNION
  SELECT r.src, ed.nb FROM reach r JOIN ed ON ed.u = r.dst
  WHERE ed.nb <> r.src
),
comp AS (
  SELECT n.id, least(n.id, min(r.dst)) AS group_id
  FROM (SELECT DISTINCT u AS id FROM ed) n
  LEFT JOIN reach r ON r.src = n.id
  GROUP BY n.id
),
gsz AS (SELECT group_id, count(*) AS group_size FROM comp GROUP BY 1),
mem AS (
  SELECT a1.id, a1.cell, coalesce(comp.group_id, a1.id) AS group_id,
         coalesce(gsz.group_size, 1) AS group_size, a1.d2
  FROM a1 LEFT JOIN comp ON comp.id = a1.id
  LEFT JOIN gsz ON gsz.group_id = comp.group_id
)
SELECT id, CAST(cell AS INT) AS cell, group_id,
       CAST(group_size AS BIGINT) AS group_size,
       (row_number() OVER (PARTITION BY group_id ORDER BY d2, id) = 1) AS keep
FROM mem
"""


@register("dedup_semantic_coarse", _semantic_coarse_oracle_sql(50, 0.4))
def dedup_semantic_coarse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with two-level coarse-routed assignment (round-11
    verdict ask #5 — the lever past dedup_semantic_prod's ~50M-vector
    centroid-broadcast ceiling): vectors route through a
    ceil(sqrt(k))-center coarse quantizer, then fine-argmin among only
    that bucket's fine centroids, delivered per-bucket via a cogrouped
    applyInPandas — the k×dim fine table is never broadcast whole and
    per-vector assignment flops drop from n·k·dim to ~2·n·sqrt(k)·dim.
    Registered at target_cell_size=50 so the driver decade exercises a
    real multi-bucket routing (k=10, kc=4 at sf0.01); prod keeps the
    paper's 250. Same int-exact posture: the oracle replays the
    routing, refinement, and closure bit-for-bit."""
    return dedup.semantic_dedup_coarse(
        load_table(spark, sf_dir, "embeddings"),
        target_cell_size=50,
        threshold=0.4,
    )


@register(
    "dedup_incremental",
    """
WITH t AS (
  SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
d AS (
  SELECT doc_id AS id, md5(text) AS h,
         list_distinct([
           array_to_string(toks[i:i+2], ' ')
           FOR i IN range(1, len(toks) - 1)
         ]) AS sh
  FROM t WHERE doc_id % 5 = 0 AND len(toks) >= 3
),
b AS (
  SELECT doc_id AS id,
         list_distinct([
           array_to_string(toks[i:i+2], ' ')
           FOR i IN range(1, len(toks) - 1)
         ]) AS sh
  FROM t WHERE doc_id % 5 != 0 AND len(toks) >= 3
),
bh AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 5 != 0),
de AS (SELECT id, len(sh) AS n_a, unnest(sh) AS shingle FROM d),
be AS (SELECT id, len(sh) AS n_b, unnest(sh) AS shingle FROM b),
i AS (
  SELECT de.id AS id, be.id AS bid, de.n_a, be.n_b, count(*) AS n_inter
  FROM de JOIN be ON de.shingle = be.shingle
  GROUP BY 1, 2, 3, 4
),
q AS (
  SELECT id, min(bid) AS near_dup_of, count(*) AS n_near
  FROM i WHERE n_inter / (n_a + n_b - n_inter) >= 0.2
  GROUP BY id
)
SELECT d.id AS id,
       (d.h IN (SELECT h FROM bh))::INT AS is_exact_dup,
       coalesce(q.near_dup_of, -1) AS near_dup_of,
       coalesce(q.n_near, 0) AS n_near
FROM d LEFT JOIN q ON d.id = q.id
""",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (delta-vs-corpus) dedup: documents with doc_id % 5
    == 0 play the newly-ingested batch, the rest the existing corpus.
    Exact dups by text hash, near-dups by word-3-gram Jaccard ≥ 0.2 —
    only the delta is shingled fresh; the base side is the write-once
    signature state an ingestion pipeline would keep."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.incremental_dedup(
        docs.where(F.col("doc_id") % 5 == 0),
        docs.where(F.col("doc_id") % 5 != 0),
        threshold=0.2,
        n=3,
    )


@register(
    "dedup_edit_blocked",
    """
WITH w AS (
  SELECT doc_id, lang, text, n_chars, string_split(text, ' ') AS ws
  FROM documents
),
sh AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(1, len(ws) - 3),
                               i -> array_to_string(ws[i:i+4], ' '))) AS shingle
  FROM w
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.lang
  FROM sh a JOIN sh b
    ON a.shingle = b.shingle AND a.lang = b.lang AND b.doc_id > a.doc_id
)
SELECT cand.id_a, cand.id_b, cand.lang,
       levenshtein(x.text, y.text) AS dist,
       greatest(x.n_chars, y.n_chars) AS max_chars,
       round(levenshtein(x.text, y.text)
             / greatest(x.n_chars, y.n_chars), 6) AS rel_dist
FROM cand
JOIN w x ON x.doc_id = cand.id_a
JOIN w y ON y.doc_id = cand.id_b
WHERE levenshtein(x.text, y.text) <= 0.10 * greatest(x.n_chars, y.n_chars)
""",
)
def dedup_edit_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-level near-dup pairs by bounded edit distance behind
    5-word-shingle blocking: candidates share a language and ≥1 exact
    5-word sequence; survivors have Levenshtein ≤ 10% of the longer
    text. The distance the reference never computes (its dedup story
    is absent; SURVEY.md §2.9) but fuzzy curation needs for
    close-variant collapse below the n-gram-Jaccard radar.

    Shape: blocking is the whole game for edit-distance dedup — the
    O(len²) Levenshtein kernel must only ever see pairs that are
    plausibly duplicates. Exact-shingle blocking does that as a plain
    shuffled EQUI join on (lang, shingle): a 5-word sequence is
    specific enough that random same-vocabulary docs essentially never
    collide (at sf0.1, 380 candidates from 12.5M possible pairs —
    ~0.003%), while true close variants share most of their shingles.
    The candidate set then re-joins the docs table twice to fetch
    texts, so shingle rows never carry payloads through the shuffle.
    A naive length-bucket block at the same scale fed ~500k pairs to
    the kernel and was ~200× slower. At fleet scale a hot shingle
    (boilerplate) caps like any skewed key — filter shingles with
    document frequency above a bound before the self-join (the exact
    move dedup_minhash_lsh's band-bucket join makes)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    w = docs.withColumn("ws", F.split(F.col("text"), " "))
    sh = w.select(
        "doc_id",
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("ws") - 5),
                lambda i: F.concat_ws(" ", F.slice(F.col("ws"), i + 1, 5)),
            )
        ).alias("shingle"),
    )
    # NOT checkpointed (round-12 A/B): the explode is cheap compute
    # with a large materialized footprint (shingle strings), so
    # re-computing it per join side beats localCheckpoint write+read
    # (measured 2.4-3.1 s/run vs 4.5-5.4 s/run checkpointed at sf0.1)
    a = sh.select(
        F.col("doc_id").alias("id_a"), "lang", "shingle"
    )
    b = sh.select(
        F.col("doc_id").alias("id_b"), "lang", "shingle"
    )
    cand = (
        a.join(b, ["lang", "shingle"])
        .where(F.col("id_b") > F.col("id_a"))
        .select("id_a", "id_b", "lang")
        .distinct()
    )
    x = docs.select(
        F.col("doc_id").alias("id_a"),
        F.col("text").alias("text_a"),
        F.col("n_chars").alias("len_a"),
    )
    y = docs.select(
        F.col("doc_id").alias("id_b"),
        F.col("text").alias("text_b"),
        F.col("n_chars").alias("len_b"),
    )
    mx = F.greatest(F.col("len_a"), F.col("len_b"))
    # merge-hint the text dimension joins: the payload sides scale
    # with the corpus, and letting AQE broadcast them OOMs the driver
    # one decade up (found by the sf10 sweep on the same-shaped
    # dedup_containment — "Not enough memory to build and broadcast")
    return (
        cand.join(x.hint("merge"), "id_a")
        .join(y.hint("merge"), "id_b")
        .withColumn("dist", F.levenshtein(F.col("text_a"), F.col("text_b")))
        .where(F.col("dist") <= 0.10 * mx)
        .select(
            "id_a",
            "id_b",
            "lang",
            "dist",
            mx.alias("max_chars"),
            F.round(F.col("dist") / mx, 6).alias("rel_dist"),
        )
    )


@register(
    "dedup_containment",
    r"""
WITH w AS (
  SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS ws
  FROM documents
),
g AS (
  SELECT doc_id, lang,
         list_distinct([array_to_string(ws[i:i+2], ' ')
                        FOR i IN range(1, len(ws) - 1)]) AS sh3
  FROM w WHERE len(ws) >= 5
),
sh AS (
  SELECT doc_id, lang,
         unnest(list_distinct([array_to_string(ws[i:i+4], ' ')
                               FOR i IN range(1, len(ws) - 3)])) AS s5
  FROM w WHERE len(ws) >= 5
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b
    ON a.s5 = b.s5 AND a.lang = b.lang AND b.doc_id > a.doc_id
),
ct AS (
  SELECT id_a, id_b,
         len(list_intersect(x.sh3, y.sh3)) AS n_inter,
         len(x.sh3) AS n_a, len(y.sh3) AS n_b
  FROM cand JOIN g x ON x.doc_id = id_a JOIN g y ON y.doc_id = id_b
)
SELECT id_a, id_b, n_inter, n_a, n_b,
       CASE WHEN n_a <= n_b THEN id_a ELSE id_b END AS contained_id,
       round(n_inter * 1.0 / least(n_a, n_b), 6) AS containment
FROM ct
WHERE n_inter * 1.0 / least(n_a, n_b) >= 0.5
""",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup (Broder's containment coefficient):
    ``|S_A ∩ S_B| / min(|S_A|, |S_B|)`` over distinct word-3-gram
    sets — catches a short doc embedded in a longer one (quotes,
    concatenated corpora), which symmetric Jaccard under-scores by
    construction (small A in big B ⇒ Jaccard ≈ |A|/|B| however
    complete the containment). Candidates come from the same exact
    5-word-shingle equi-blocking as dedup_edit_blocked; the contained
    side is the smaller shingle set (pure integer comparison — the
    ratio argmax reduces to n_a ≤ n_b because the numerators are
    equal, so no float tie-break exists).

    Shape: shingle self-join on (lang, shingle) → distinct pair set →
    two dimension joins fetch the 3-gram arrays → JVM array_intersect
    per candidate. 3-gram sets are built with transform over a
    sequence (no token explode for the set side; only the 5-gram
    blocking stream explodes)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    ws = tokens_expr("text")
    w = docs.select("doc_id", "lang", ws.alias("ws")).where(F.size("ws") >= 5)

    def grams(n: int):
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size("ws") - n),
                lambda i: F.concat_ws(" ", F.slice(F.col("ws"), i + 1, n)),
            )
        )

    g = w.select("doc_id", "lang", grams(3).alias("sh3"))
    sh = w.select(
        "doc_id", "lang", F.explode(grams(5)).alias("s5")
    )
    cand = (
        sh.select(F.col("doc_id").alias("id_a"), "lang", "s5")
        .join(sh.select(F.col("doc_id").alias("id_b"), "lang", "s5"), ["lang", "s5"])
        .where(F.col("id_b") > F.col("id_a"))
        .select("id_a", "id_b")
        .distinct()
    )
    x = g.select(F.col("doc_id").alias("id_a"), F.col("sh3").alias("sh_a"))
    y = g.select(F.col("doc_id").alias("id_b"), F.col("sh3").alias("sh_b"))
    # merge-hint the 3-gram dimension joins: the arrays scale with the
    # corpus, and AQE broadcasting them OOMs the driver at sf10 (found
    # by the second-decade sweep: "Not enough memory to build and
    # broadcast the table") — the shuffle join is the 100× plan
    ct = (
        cand.join(x.hint("merge"), "id_a")
        .join(y.hint("merge"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_inter"),
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"),
        )
    )
    mn = F.least(F.col("n_a"), F.col("n_b"))
    return ct.where(F.col("n_inter") * F.lit(1.0) / mn >= 0.5).select(
        "id_a",
        "id_b",
        "n_inter",
        "n_a",
        "n_b",
        F.when(F.col("n_a") <= F.col("n_b"), F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("contained_id"),
        F.round(F.col("n_inter") * F.lit(1.0) / mn, 6).alias("containment"),
    )


_SPAN_N = 15


@register(
    "dedup_substring_spans",
    f"""
WITH d AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS arr
  FROM documents
),
sp AS (
  SELECT doc_id,
         md5(array_to_string(arr[i : i + {_SPAN_N} - 1], ' ')) AS sh
  FROM d, unnest(range(1, len(arr) - {_SPAN_N} + 2)) AS t(i)
  WHERE len(arr) >= {_SPAN_N}
),
hot AS (
  SELECT sh FROM sp GROUP BY sh HAVING count(DISTINCT doc_id) >= 2
)
SELECT sp.doc_id, count(*) AS n_windows,
       count(hot.sh) AS n_dup_windows,
       round(count(hot.sh) * 1.0 / count(*), 6) AS dup_frac
FROM sp LEFT JOIN hot ON hot.sh = sp.sh
GROUP BY sp.doc_id
""",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-substring audit (operators/dedup.substring_span_audit):
    per-doc count and fraction of 15-token windows whose content
    appears in at least one OTHER document — the span-granular
    duplication signal document-level dedup misses (boilerplate
    headers, templated paragraphs, quoted chunks). One shuffle on the
    span hash; window derivation is map-side JVM array math."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.substring_span_audit(docs, span=_SPAN_N)


def _span_hash_oracle_sql(span: int) -> str:
    """DuckDB twin of ``substring_span_audit_hashed(..., family="md5")``:
    per-token 60-bit md5 hashes via lead() windows, composed with the
    SAME right-shift xor chain (``xor_j(h_j >> j)``) — right shifts
    because DuckDB raises on int64 left-shift overflow while Spark
    wraps (see operators/dedup._hashed_spans_raw)."""
    leads = ",\n         ".join(
        f"lead(h, {j}) OVER w AS h{j}" for j in range(1, span)
    )
    sh = "h0"
    for j in range(1, span):
        sh = f"xor({sh}, h{j} >> {j})"
    return f"""
WITH d AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS arr
  FROM documents
),
tk AS (SELECT doc_id, generate_subscripts(arr, 1) AS pos, unnest(arr) AS tok FROM d),
th AS (SELECT doc_id, pos,
              CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
       FROM tk),
nbr AS (
  SELECT doc_id, h AS h0,
         {leads}
  FROM th WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
sp AS (SELECT doc_id, {sh} AS sh FROM nbr WHERE h{span - 1} IS NOT NULL),
hot AS (SELECT sh FROM sp GROUP BY sh HAVING count(DISTINCT doc_id) >= 2)
SELECT sp.doc_id, count(*) AS n_windows,
       count(hot.sh) AS n_dup_windows,
       round(count(hot.sh) * 1.0 / count(*), 6) AS dup_frac
FROM sp LEFT JOIN hot ON hot.sh = sp.sh
GROUP BY sp.doc_id
"""


@register("dedup_substring_spans_hashed", _span_hash_oracle_sql(_SPAN_N))
def dedup_substring_spans_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The span audit's SCALE twin (round-8 verdict ask #4): 64-bit
    composed-hash window keys instead of md5-of-span-string — no
    per-window string build/hash, 8-byte long shuffle keys. Registered
    with the portable md5-60-bit token family so the DuckDB oracle
    replays every hash bit-identically; production swaps
    ``family="xxhash64"`` (one JVM op per token) with the same plan.
    Equivalence with the string form is asserted in
    tests/test_dedup.py (identical outputs — collisions whp-never)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.substring_span_audit_hashed(
        docs, span=_SPAN_N, family="md5"
    )


@register(
    "dedup_quality_survivor",
    f"""
WITH RECURSIVE {_hashed_jaccard_pairs_ctes(0.2, NGRAM_DOC_FREQ_CAP)},
bi AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach(src, dst) AS (
  SELECT src, dst FROM bi
  UNION
  SELECT r.src, b.dst FROM reach r JOIN bi b ON b.src = r.dst WHERE b.dst <> r.src
),
comp AS (SELECT src AS doc_id, least(src, min(dst)) AS group_id FROM reach GROUP BY src),
sc AS (
  SELECT c.doc_id, c.group_id,
         len(string_split_regex(lower(trim(d.text)), '\\s+')) AS n_tokens
  FROM comp c JOIN documents d USING (doc_id)
),
rk AS (
  SELECT *, row_number() OVER (
    PARTITION BY group_id ORDER BY n_tokens DESC, doc_id
  ) AS rn,
  count(*) OVER (PARTITION BY group_id) AS n_members
  FROM sc
)
SELECT group_id, doc_id AS survivor_id, n_members,
       CAST(n_tokens AS BIGINT) AS survivor_tokens
FROM rk WHERE rn = 1
""",
)
def dedup_quality_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivorship — the step after group formation:
    instead of dedup_connected_groups' keep-min-id convention, each
    near-dup group keeps its LONGEST member (token count, doc_id
    tie-break) — the containment heuristic: when a⊂b⊂c chain into one
    group, the superset document survives. Same capped pair kernel +
    two-phase closure; the survivor pick is one group-keyed window
    over the group-sized table."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, threshold=0.2, n=3,
        max_doc_freq=NGRAM_DOC_FREQ_CAP, shingle_hash="md5",
    )
    comp = dedup.connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("component").alias("group_id")
    )
    toks = docs.select(
        "doc_id",
        F.size(tokens_expr("text")).cast("long").alias("n_tokens"),
    )
    sc = comp.join(toks, "doc_id")
    w = Window.partitionBy("group_id").orderBy(F.desc("n_tokens"), "doc_id")
    wc = Window.partitionBy("group_id")
    return (
        sc.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(wc))
        .where(F.col("rn") == 1)
        .select(
            "group_id",
            F.col("doc_id").alias("survivor_id"),
            "n_members",
            F.col("n_tokens").alias("survivor_tokens"),
        )
    )

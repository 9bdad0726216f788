"""Keyword and hybrid retrieval over the ``documents`` /
``embeddings`` tables: BM25 scoring (Robertson et al., TREC-3; the
Lucene ``k1``/``b`` practical form) and reciprocal-rank-fusion hybrid
search (Cormack, Clarke & Buettcher, SIGIR'09) that merges the BM25
ranking with an embedding-cosine ranking.

Reference tie-in: the reference has no retrieval surface at all — this
is part of the LLM-data-pipeline north star (SURVEY.md §7 phase 4):
any corpus engine feeding training or eval pipelines needs a keyword
index twin of its ANN search, and RRF is the standard way the two are
combined. Both plans are pure DataFrame compositions and fully
DuckDB-oracle-checkable.

Scale notes (100 TB posture): BM25's per-document work is a handful of
higher-order-function folds over the token array — no explode of the
full token stream, so the scan stays narrow and shuffle-free. The only
exchanges are two tiny aggregates (per-term document frequency: one
row per query term; corpus N/avgdl: one row), both broadcast back.
The final top-k is ``orderBy().limit(k)`` — Spark's TakeOrdered, a
per-partition heap + driver merge, never a single-partition window;
the rank column is assigned AFTER the limit on the k-row result. RRF
fuses two bounded top-50 lists with a full outer join on ids — at any
corpus size the fusion input is ≤100 rows.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from the_framework_for_clustering_time_series_data_spark.operators.text import tokens_expr
from the_framework_for_clustering_time_series_data_spark.plans.registry import register
from the_framework_for_clustering_time_series_data_spark.functions.plan_tools import tiny_window
from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table

_QUERY_TERMS = ("spark", "join", "window", "scan")
_K1 = 1.2
_B = 0.75
_TOPK = 20
_FUSE_DEPTH = 50  # per-ranking candidate depth fed into RRF
_RRF_K = 60  # standard RRF dampening constant (SIGIR'09)

_TERMS_SQL = ", ".join(f"'{t}'" for t in _QUERY_TERMS)

_BM25_CTE = f"""
base AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
dl AS (SELECT doc_id, toks, len(toks) AS dl FROM base),
corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
q AS (SELECT unnest([{_TERMS_SQL}]) AS term),
tf AS (
  SELECT doc_id, dl, term,
         len(list_filter(toks, x -> x = term)) AS tf
  FROM dl CROSS JOIN q
),
df AS (
  SELECT term, count(*) AS df FROM tf WHERE tf > 0 GROUP BY term
),
contrib AS (
  SELECT t.doc_id,
         ln(1 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
           * t.tf * ({_K1} + 1)
           / (t.tf + {_K1} * (1 - {_B} + {_B} * t.dl / c.avgdl)) AS w
  FROM tf t JOIN df d USING (term) CROSS JOIN corpus c
  WHERE t.tf > 0
),
bm25 AS (
  SELECT doc_id, round(sum(w), 6) AS bm25
  FROM contrib GROUP BY doc_id
)"""


@register(
    "text_bm25_topk",
    f"""
WITH {_BM25_CTE},
r AS (
  SELECT doc_id, bm25,
         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
  FROM bm25
)
SELECT doc_id, bm25, rank FROM r WHERE rank <= {_TOPK}
""",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-{k} for the fixed query ``{terms}``: Lucene-form
    ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))`` with k1=1.2, b=0.75,
    whitespace tokens (same convention as text_token_stats). Scores
    are 6-dp rounded before ranking so the rank order (ties → doc_id)
    is identical cross-engine.

    Shape: one narrow scan computes dl and the per-term tf as
    higher-order ``filter`` folds over the token array (constant work
    per query term, no token-stream explode); df and N/avgdl are two
    tiny broadcast aggregates; the top-k is TakeOrdered with the rank
    assigned after the limit.
    """
    scored = _bm25_scores(spark, sf_dir)
    top = scored.orderBy(F.col("bm25").desc(), "doc_id").limit(_TOPK)
    w = tiny_window(F.col("bm25").desc(), "doc_id", key="doc_id")  # k rows post-limit
    return top.withColumn("rank", F.row_number().over(w))


def _bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        tokens_expr("text").alias("toks"),
    ).withColumn("dl", F.size("toks"))

    # Per-term tf as array folds — one pass over the scan, no explode.
    # (A one-arg lambda is required: a second lambda param would be
    # interpreted by F.filter as the element index.)
    def _eq(term: str):
        return lambda x: x == F.lit(term)

    tf_cols = [
        F.size(F.filter(F.col("toks"), _eq(t))).alias(f"tf_{i}")
        for i, t in enumerate(_QUERY_TERMS)
    ]
    wide = base.select("doc_id", "dl", *tf_cols)
    stack = ", ".join(
        f"'{t}', tf_{i}" for i, t in enumerate(_QUERY_TERMS)
    )
    long = wide.select(
        "doc_id",
        "dl",
        F.expr(f"stack({len(_QUERY_TERMS)}, {stack}) AS (term, tf)"),
    ).where(F.col("tf") > 0)

    df_tbl = long.groupBy("term").agg(F.count("*").alias("df"))
    corpus = base.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    w = (
        F.log(
            F.lit(1)
            + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        * F.col("tf")
        * (_K1 + 1)
        / (
            F.col("tf")
            + _K1 * (1 - _B + _B * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        long.join(F.broadcast(df_tbl), "term")
        .crossJoin(F.broadcast(corpus))
        .withColumn("w", w)
        .groupBy("doc_id")
        .agg(F.round(F.sum("w"), 6).alias("bm25"))
    )


@register(
    "retrieval_hybrid_rrf",
    f"""
WITH {_BM25_CTE},
br AS (
  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
  FROM bm25
),
btop AS (SELECT doc_id, r FROM br WHERE r <= {_FUSE_DEPTH}),
qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
cos AS (
  SELECT e.vec_id AS doc_id,
         round(list_cosine_similarity(qv.embedding::DOUBLE[],
                                      e.embedding::DOUBLE[]), 6) AS cosine
  FROM embeddings e CROSS JOIN qv
  WHERE e.vec_id != 0
),
cr AS (
  SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id) AS r
  FROM cos
),
ctop AS (SELECT doc_id, r FROM cr WHERE r <= {_FUSE_DEPTH}),
fused AS (
  SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
         coalesce(b.r, 0) AS bm25_rank, coalesce(c.r, 0) AS cosine_rank,
         round(coalesce(1.0 / ({_RRF_K} + b.r), 0)
             + coalesce(1.0 / ({_RRF_K} + c.r), 0), 6) AS rrf
  FROM btop b FULL OUTER JOIN ctop c USING (doc_id)
),
fr AS (
  SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank
  FROM fused
)
SELECT doc_id, bm25_rank, cosine_rank, rrf, rank
FROM fr WHERE rank <= {_TOPK}
""",
)
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 ranking
    (query ``{terms}``) and the embedding-cosine ranking against the
    query vector ``vec_id = 0``, joined on ``vec_id = doc_id`` (the
    synthetic tables are row-aligned; the oracle applies the identical
    join, so the check holds independent of that semantic).
    ``rrf = Σ_lists 1/(60 + rank)`` over each list's top-{depth};
    a document absent from one list contributes nothing from it
    (standard RRF). All ranks use 6-dp-rounded scores with doc_id
    tie-break, so the fusion input is identical cross-engine.

    Shape: the BM25 branch is text_bm25_topk's plan; the cosine branch
    is one corpus scan against a 1-row broadcast query vector with a
    JVM zip_with dot product; each branch ends in TakeOrdered(depth).
    The fusion itself is a full outer join of two ≤{depth}-row local
    results — constant-size regardless of corpus scale.
    """
    from the_framework_for_clustering_time_series_data_spark.operators.similarity import cosine_expr

    bm = _bm25_scores(spark, sf_dir)
    btop = (
        bm.orderBy(F.col("bm25").desc(), "doc_id")
        .limit(_FUSE_DEPTH)
        .withColumn(
            "bm25_rank",
            F.row_number().over(tiny_window(F.col("bm25").desc(), "doc_id", key="doc_id")),
        )
        .select("doc_id", "bm25_rank")
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qvec")
    )
    cos = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                cosine_expr(
                    F.col("embedding").cast("array<double>"), F.col("qvec")
                ),
                6,
            ).alias("cosine"),
        )
    )
    ctop = (
        cos.orderBy(F.col("cosine").desc(), "doc_id")
        .limit(_FUSE_DEPTH)
        .withColumn(
            "cosine_rank",
            F.row_number().over(tiny_window(F.col("cosine").desc(), "doc_id", key="doc_id")),
        )
        .select("doc_id", "cosine_rank")
    )

    # Rank 0 = "absent from this list" — NULL-free output sorts/hashes
    # cleanly in the driver's canonical comparator.
    fused = btop.join(ctop, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce("bm25_rank", F.lit(0)).alias("bm25_rank"),
        F.coalesce("cosine_rank", F.lit(0)).alias("cosine_rank"),
        F.round(
            F.coalesce(1.0 / (_RRF_K + F.col("bm25_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("cosine_rank")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    top = fused.orderBy(F.col("rrf").desc(), "doc_id").limit(_TOPK)
    w = tiny_window(F.col("rrf").desc(), "doc_id", key="doc_id")
    return top.withColumn("rank", F.row_number().over(w))


# Docstring format placeholders resolved statically for readability.
text_bm25_topk.__doc__ = text_bm25_topk.__doc__.replace("{k}", str(_TOPK)).replace(
    "{terms}", " ".join(_QUERY_TERMS)
)
retrieval_hybrid_rrf.__doc__ = retrieval_hybrid_rrf.__doc__.replace(
    "{terms}", " ".join(_QUERY_TERMS)
).replace("{depth}", str(_FUSE_DEPTH))


@register(
    "retrieval_phrase_topk",
    """
WITH tk AS (
  SELECT doc_id, tok,
         row_number() OVER (PARTITION BY doc_id ORDER BY p) AS pos
  FROM (
    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok,
           generate_subscripts(string_split_regex(lower(trim(text)), '\\s+'), 1) AS p
    FROM documents
  ) WHERE tok != ''
),
bg AS (
  SELECT a.tok AS w1, b.tok AS w2, count(*) AS n
  FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  GROUP BY 1, 2
),
q AS (SELECT w1, w2 FROM bg ORDER BY n DESC, w1, w2 LIMIT 1),
hits AS (
  SELECT a.doc_id, count(*) AS n_occ
  FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1, q
  WHERE a.tok = q.w1 AND b.tok = q.w2
  GROUP BY 1
)
SELECT h.doc_id, h.n_occ, q.w1, q.w2
FROM hits h, q
ORDER BY h.n_occ DESC, h.doc_id
LIMIT 20
""",
)
def retrieval_phrase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PHRASE retrieval over a positional index — the capability
    BM25 bag-of-words scoring (text_bm25_topk) cannot express: token
    positions per doc, the query phrase learned in-plan as the
    corpus's most frequent bigram ((count DESC, w1, w2) argmax — the
    bpe-style deterministic pick), adjacency matched by the positional
    equi-join (doc_id, pos+1), top-20 docs by occurrence count with
    doc_id-pinned ties. Scale shape: the positional index is the
    (term, doc, pos) postings relation — adjacency is an equi-join on
    (doc, pos), never a scan of raw text per query, and a real
    deployment partitions postings by term so the phrase join touches
    only the query terms' postings."""
    docs = load_table(spark, sf_dir, "documents")
    tk = (
        docs.select(
            "doc_id",
            F.posexplode(tokens_expr("text")).alias("p", "tok"),
        )
        .where(F.col("tok") != "")
        .select(
            "doc_id",
            "tok",
            F.row_number()
            .over(Window.partitionBy("doc_id").orderBy("p"))
            .alias("pos"),
        )
    )
    a = tk.select("doc_id", F.col("tok").alias("w1"), "pos")
    b = tk.select(
        F.col("doc_id").alias("doc_b"), F.col("tok").alias("w2"), F.col("pos").alias("pos_b")
    )
    from the_framework_for_clustering_time_series_data_spark.functions.plan_tools import stage_checkpoint

    # the tokenize + positional self-join feeds BOTH the bigram argmax
    # and the hit count — checkpoint it once instead of scanning the
    # corpus twice (the dba_md5 `sub` discipline)
    pairs = a.join(
        b, (F.col("doc_id") == F.col("doc_b")) & (F.col("pos_b") == F.col("pos") + 1)
    ).transform(stage_checkpoint, eager=False)
    bg = pairs.groupBy("w1", "w2").agg(F.count("*").alias("n"))
    q = bg.orderBy(F.col("n").desc(), "w1", "w2").limit(1).select("w1", "w2")
    hits = (
        pairs.join(F.broadcast(q), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_occ"))
    )
    return (
        hits.crossJoin(F.broadcast(q))
        .orderBy(F.col("n_occ").desc(), "doc_id")
        .limit(20)
        .select("doc_id", "n_occ", "w1", "w2")
    )

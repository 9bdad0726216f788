"""Training-batch assembly over the ``documents`` corpus: deterministic
sequence packing (concatenate-and-chunk into fixed token-budget blocks)
and source-mixture rebalancing — the two ops that sit between a curated
corpus and a training run.

Both are engine-reproducible by construction: ordering and sampling key
off md5(doc_id), never rand(), so the same rows land in the same chunks
across engines, runs, and partitionings (the auditability property a
training pipeline needs — same rationale as sample_hash_bernoulli in
text_plans.py).

Scale notes: the global running sum behind packing is computed as a
TWO-LEVEL scan — per-bucket partial sums (256 hash-prefix range
buckets), a tiny bucket-prefix table (≤256 rows) broadcast back, then
a within-bucket window. No single-partition window over the corpus
ever exists, so the plan holds at 100 TB; the oracle states the same
semantics as one flat window, which is the point of the comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from the_framework_for_clustering_time_series_data_spark.functions.plan_tools import stage_checkpoint
from the_framework_for_clustering_time_series_data_spark.operators import packing
from the_framework_for_clustering_time_series_data_spark.operators.text import tokens_expr
from the_framework_for_clustering_time_series_data_spark.plans.registry import register
from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table

_CHUNK = 2048  # token budget per packed training block


@register(
    "pack_sequences_chunks",
    f"""
WITH t AS (
  SELECT doc_id,
         len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens,
         md5(doc_id::VARCHAR) AS sk
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY sk, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
)
SELECT doc_id, n_tokens,
       ((cum - n_tokens) // {_CHUNK})::BIGINT AS first_chunk,
       (((cum - 1) // {_CHUNK}) - ((cum - n_tokens) // {_CHUNK}) + 1)::BIGINT
         AS chunks_spanned
FROM c
""",
)
def pack_sequences_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: documents are laid out in
    deterministic hash order, concatenated, and cut into fixed
    2048-token chunks; each doc reports the chunk its first token lands
    in and how many chunks it straddles.

    The global inclusive running sum is two-level: (1) docs carry a
    256-way range bucket = first md5 byte (hex order == string order,
    so buckets are contiguous spans of the global order); (2) bucket
    totals cumulate in a single tiny window (≤256 rows — constant,
    independent of corpus size); (3) the bucket-start offsets broadcast
    back and a per-bucket window finishes the sum. Shuffle cost: one
    exchange on the bucket key; the offset join is a broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", F.size(tokens_expr("text")).cast("long").alias("n_tokens")
    )
    return packing.pack_chunks(base, "doc_id", "n_tokens", _CHUNK)


@register(
    "mix_langs_resample",
    """
WITH r AS (
  SELECT lang, count(*) AS n_in FROM documents GROUP BY 1
),
tot AS (SELECT sum(n_in) AS n, count(*) AS k FROM r),
rates AS (
  SELECT lang, n_in, least(1.0, (n / k) / n_in) AS rate FROM r, tot
),
kept AS (
  SELECT d.lang
  FROM documents d JOIN rates USING (lang)
  WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || ':mix'), 1, 6))::BIGINT
        < rate * 16777216
)
SELECT r.lang, r.n_in, count(k.lang) AS n_out, round(r2.rate, 6) AS rate
FROM r
JOIN rates r2 USING (lang)
LEFT JOIN kept k ON k.lang = r.lang
GROUP BY r.lang, r.n_in, r2.rate
""",
)
def mix_langs_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing toward a uniform per-language share:
    overrepresented languages are downsampled to ~total/k docs by a
    deterministic hash-threshold Bernoulli filter (keep iff the first
    24 md5 bits of a salted doc key fall under the acceptance rate);
    underrepresented languages keep everything. Returns the per-language
    audit table (n_in, n_out, rate).

    Shape: one aggregate for the rate table (k rows — broadcast), a
    broadcast join + pushdown-friendly filter over the corpus, then a
    bounded-key aggregate. The corpus is scanned once and never
    shuffled on a large key; rates are exact corpus-level counts, not
    estimates. The same acceptance hash keeps the SAME docs when the
    corpus grows — reproducible mixtures across snapshots."""
    docs = load_table(spark, sf_dir, "documents")
    r = docs.groupBy("lang").agg(F.count("*").alias("n_in"))
    tot = r.agg(
        F.sum("n_in").alias("n"), F.count("*").alias("k")
    )
    rates = r.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_in",
        F.least(F.lit(1.0), (F.col("n") / F.col("k")) / F.col("n_in")).alias("rate"),
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":mix")).cast("binary")),
            1,
            6,
        ),
        16,
        10,
    ).cast("long")
    kept = (
        docs.join(F.broadcast(rates), "lang")
        .where(h < F.col("rate") * F.lit(16777216))
        .groupBy("lang")
        .agg(F.count("*").alias("n_out"))
    )
    return (
        rates.join(F.broadcast(kept), "lang", "left")
        .select(
            "lang",
            "n_in",
            F.coalesce("n_out", F.lit(0)).alias("n_out"),
            F.round("rate", 6).alias("rate"),
        )
    )


@register(
    "split_train_val_test",
    """
WITH u AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(doc_id::VARCHAR || ':split'), 1, 6))::BIGINT
           / 16777216.0 AS unit
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN unit < 0.8 THEN 'train'
            WHEN unit < 0.9 THEN 'val'
            ELSE 'test' END AS split
FROM u
""",
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 corpus split keyed on a salted md5 of the
    doc id: reproducible across engines, runs, partitionings, and
    corpus growth (a doc never migrates between splits when new docs
    arrive — the property that keeps eval sets uncontaminated across
    snapshots). Pure per-row projection: no shuffle, pushdown-friendly,
    trivially parallel at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    unit = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.col("doc_id").cast("string"), F.lit(":split")).cast(
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
    split = (
        F.when(unit < 0.8, "train").when(unit < 0.9, "val").otherwise("test")
    )
    return docs.select("doc_id", "lang", split.alias("split"))


@register(
    "corpus_training_assembly",
    r"""
WITH t AS (
  SELECT doc_id, lang, text, length(text) AS n_chars,
         string_split_regex(lower(trim(text)), '\s+') AS toks,
         len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens
  FROM documents
),
q AS (
  SELECT doc_id FROM t
  WHERE round(least(len(toks) / 100.0, 1.0) * 0.3
        + (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / n_chars) * 0.4
        + least((len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is','that','for','it')))::DOUBLE
                 / len(toks)) * 5, 1.0) * 0.3, 6) >= 0.5
),
ek AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
base AS (
  SELECT t.doc_id, t.lang, t.n_tokens
  FROM t JOIN q USING (doc_id) JOIN ek USING (doc_id)
),
r AS (SELECT lang, count(*) AS n_in FROM base GROUP BY 1),
tot AS (SELECT sum(n_in) AS n, count(*) AS k FROM r),
rates AS (SELECT lang, least(1.0, (n / k) / n_in) AS rate FROM r, tot),
mixed AS (
  SELECT base.* FROM base JOIN rates USING (lang)
  WHERE ('0x' || substr(md5(doc_id::VARCHAR || ':mix'), 1, 6))::BIGINT
        < rate * 16777216
),
sp AS (
  SELECT doc_id, lang, n_tokens,
         CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT *, ('0x' || substr(md5(doc_id::VARCHAR || ':split'), 1, 6))::BIGINT
                  / 16777216.0 AS u
        FROM mixed)
),
packed AS (
  SELECT doc_id,
         ((sum(n_tokens) OVER (ORDER BY md5(doc_id::VARCHAR), doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
          // 2048)::BIGINT AS first_chunk
  FROM sp WHERE split = 'train'
)
SELECT sp.doc_id, sp.lang, sp.split, sp.n_tokens, packed.first_chunk
FROM sp LEFT JOIN packed USING (doc_id)
""",
)
def corpus_training_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full batch-assembly composition a pretraining pipeline runs
    between a raw corpus and a training job, as ONE declarative plan:
      1. quality gate (combined heuristic score ≥ 0.5);
      2. exact dedup survivorship (min-id doc per md5(text));
      3. mixture rebalance to a uniform per-language share
         (deterministic salted-hash Bernoulli, exact rate table);
      4. 80/10/10 train/val/test split (independent salted hash —
         split membership never depends on mixture order);
      5. sequence packing of the TRAIN split into 2048-token chunks
         (two-level global running sum — no single-partition window).
    Output: one row per surviving doc with its split and, for train
    docs, the chunk its first token lands in (NULL otherwise).

    Every stage is a filter, broadcast join, or bounded-key aggregate
    over one corpus scan lineage; Catalyst fuses the quality and
    mixture predicates into the scan side of the dedup semi-join. The
    same five stages at fleet scale differ only in parallelism."""
    from the_framework_for_clustering_time_series_data_spark.operators import text as T

    docs = load_table(spark, sf_dir, "documents")
    quality = T.quality_score(docs).select("doc_id", "quality")
    exact_keep = (
        docs.groupBy(F.md5(F.col("text").cast("binary")).alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    base = (
        docs.select(
            "doc_id", "lang", F.size(tokens_expr("text")).cast("long").alias("n_tokens")
        )
        .join(quality, "doc_id")
        .where(F.col("quality") >= 0.5)
        .join(exact_keep, "doc_id", "left_semi")  # corpus-sized: no broadcast hint
        .drop("quality")
        # feeds both the per-lang rate aggregate and the mixture
        # filter — checkpoint so the quality scan + dedup semi-join
        # run once (guide §2.4); rows are (id, lang, n_tokens) narrow
        .transform(stage_checkpoint, eager=False)
    )
    r = base.groupBy("lang").agg(F.count("*").alias("n_in"))
    tot = r.agg(F.sum("n_in").alias("n"), F.count("*").alias("k"))
    rates = r.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.least(F.lit(1.0), (F.col("n") / F.col("k")) / F.col("n_in")).alias("rate"),
    )

    def salted_hash24(salt: str) -> F.Column:
        return F.conv(
            F.substring(
                F.md5(
                    F.concat(F.col("doc_id").cast("string"), F.lit(salt)).cast("binary")
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")

    mixed = base.join(F.broadcast(rates), "lang").where(
        salted_hash24(":mix") < F.col("rate") * F.lit(16777216)
    )
    u = salted_hash24(":split") / F.lit(16777216.0)
    sp = mixed.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test").alias("split"),
    ).transform(stage_checkpoint, eager=False)  # feeds packing + final join
    packed = packing.pack_chunks(
        sp.where(F.col("split") == "train").select("doc_id", "n_tokens"),
        "doc_id",
        "n_tokens",
        2048,
    ).select("doc_id", "first_chunk")
    return sp.join(packed, "doc_id", "left").select(
        "doc_id", "lang", "split", "n_tokens", "first_chunk"
    )


@register(
    "split_oov_rate",
    r"""
WITH u AS (
  SELECT doc_id,
         string_split_regex(lower(trim(text)), '\s+') AS toks,
         CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || ':split'), 1, 6))::BIGINT
                   / 16777216.0 < 0.8 THEN 'train'
              WHEN ('0x' || substr(md5(doc_id::VARCHAR || ':split'), 1, 6))::BIGINT
                   / 16777216.0 < 0.9 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
tok AS (SELECT split, unnest(toks) AS tok FROM u),
vocab AS (SELECT DISTINCT tok FROM tok WHERE split = 'train'),
ev AS (
  SELECT t.split, count(*) AS n_tokens,
         CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         count(DISTINCT CASE WHEN v.tok IS NULL THEN t.tok END) AS n_oov_types
  FROM tok t LEFT JOIN vocab v ON v.tok = t.tok
  WHERE t.split <> 'train'
  GROUP BY t.split
)
SELECT split, n_tokens, n_oov, n_oov_types,
       round(n_oov * 1.0 / n_tokens, 6) AS oov_rate
FROM ev
""",
)
def split_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary audit across the deterministic 80/10/10 split
    (same salted-md5 membership as split_train_val_test): token and
    type OOV rates of val/test against the train vocabulary — the
    leakage/coverage check run before training a tokenizer or LM on
    the split. A high OOV rate flags distribution drift between
    splits; 0 everywhere flags a suspicious split (val ⊂ train's
    surface forms — likely duplication).

    Shape: one token explode feeds both sides; the train vocabulary
    (distinct) broadcasts into a left anti-style null-probe join
    against the val/test token stream; exact integer counts divide at
    the end. At 100 TB the vocabulary side is the small one by
    Heaps' law, and the probe is the same broadcast-semi-join shape
    as decontaminate_ngram_overlap."""
    docs = load_table(spark, sf_dir, "documents")
    unit = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.col("doc_id").cast("string"), F.lit(":split")).cast(
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
    split = F.when(unit < 0.8, "train").when(unit < 0.9, "val").otherwise("test")
    tok = docs.select(
        split.alias("split"),
        F.explode(tokens_expr("text")).alias("tok"),
    )
    vocab = tok.where(F.col("split") == "train").select("tok").distinct()
    probe = tok.where(F.col("split") != "train").join(
        F.broadcast(vocab.withColumn("_in_vocab", F.lit(1))), "tok", "left"
    )
    return probe.groupBy("split").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        F.countDistinct(
            F.when(F.col("_in_vocab").isNull(), F.col("tok"))
        ).alias("n_oov_types"),
        F.round(
            F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0))
            * F.lit(1.0)
            / F.count("*"),
            6,
        ).alias("oov_rate"),
    )


@register(
    "split_label_drift",
    """
WITH u AS (
  SELECT lang,
         CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || ':split'), 1, 6))::BIGINT
                   / 16777216.0 < 0.8 THEN 'train'
              WHEN ('0x' || substr(md5(doc_id::VARCHAR || ':split'), 1, 6))::BIGINT
                   / 16777216.0 < 0.9 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
c AS (SELECT split, lang, count(*) AS n FROM u GROUP BY split, lang),
t AS (SELECT split, sum(n) AS n_split FROM c GROUP BY split),
p AS (
  SELECT c.split, c.lang, c.n, c.n * 1.0 / t.n_split AS frac
  FROM c JOIN t ON t.split = c.split
),
tr AS (SELECT lang, frac AS frac_train FROM p WHERE split = 'train')
SELECT p.split, p.lang, p.n,
       round(p.frac, 6) AS frac,
       round(abs(p.frac - coalesce(tr.frac_train, 0)), 6) AS drift_vs_train
FROM p LEFT JOIN tr ON tr.lang = p.lang
WHERE p.split <> 'train'
""",
)
def split_label_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language composition drift of val/test vs train under the
    deterministic split — |frac_split − frac_train| per language, the
    stratification audit that catches a split whose eval sets don't
    represent the training mixture (run it after
    mix_langs_resample to confirm rebalancing survived the split).
    Two tiny aggregates and a broadcast join; exact integer counts
    under the ratios."""
    docs = load_table(spark, sf_dir, "documents")
    unit = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.col("doc_id").cast("string"), F.lit(":split")).cast(
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
    split = F.when(unit < 0.8, "train").when(unit < 0.9, "val").otherwise("test")
    c = docs.select(split.alias("split"), "lang").groupBy("split", "lang").agg(
        F.count("*").alias("n")
    )
    t = c.groupBy("split").agg(F.sum("n").alias("n_split"))
    p = c.join(t, "split").select(
        "split", "lang", "n", (F.col("n") * F.lit(1.0) / F.col("n_split")).alias("frac")
    )
    tr = p.where(F.col("split") == "train").select(
        "lang", F.col("frac").alias("frac_train")
    )
    return (
        p.where(F.col("split") != "train")
        .join(F.broadcast(tr), "lang", "left")
        .select(
            "split",
            "lang",
            "n",
            F.round("frac", 6).alias("frac"),
            F.round(
                F.abs(F.col("frac") - F.coalesce(F.col("frac_train"), F.lit(0.0))), 6
            ).alias("drift_vs_train"),
        )
    )


@register(
    "sample_weighted_es",
    """
WITH u AS (
  SELECT doc_id, lang, n_chars,
         (('0x' || substr(md5(doc_id::VARCHAR || ':es'), 1, 6))::BIGINT + 1)
           / 16777217.0 AS unit
  FROM documents
),
k AS (
  SELECT doc_id, lang, n_chars,
         pow(unit, 1.0 / n_chars) AS es_key
  FROM u
),
r AS (
  SELECT doc_id, lang, n_chars, es_key,
         row_number() OVER (PARTITION BY lang
                            ORDER BY es_key DESC, doc_id) AS rnk
  FROM k
)
SELECT lang, rnk, doc_id, n_chars, round(es_key, 6) AS es_key
FROM r WHERE rnk <= 3
""",
)
def sample_weighted_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, Efraimidis–Spirakis
    (IPL 2006): each doc draws key = u^(1/w) with weight w = n_chars
    and a DETERMINISTIC salted-md5 unit u ∈ (0,1]; the top-3 keys per
    language are the sample. Longer docs win proportionally more often
    — the importance-sampling primitive behind loss-weighted corpus
    subsetting — yet the draw is reproducible across engines, runs,
    and partitionings, exactly like sample_hash_bernoulli's
    deterministic coin.

    Shape: pure per-row projection (no RNG state, nothing driver-side)
    + one per-language top-k window over bounded key cardinality.
    One-pass, shuffle only on the tiny (lang) ranking."""
    docs = load_table(spark, sf_dir, "documents")
    unit = (
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"), F.lit(":es")
                        ).cast("binary")
                    ),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("long")
            + 1
        )
        / F.lit(16777217.0)
    )
    k = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.pow(unit, F.lit(1.0) / F.col("n_chars")).alias("es_key"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("lang").orderBy(F.col("es_key").desc(), "doc_id")
    return (
        k.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("lang", "rnk", "doc_id", "n_chars", F.round("es_key", 6).alias("es_key"))
    )


@register(
    "mix_temperature_resample",
    """
WITH r AS (SELECT lang, count(*) AS n_in FROM documents GROUP BY 1),
tot AS (SELECT sum(n_in) AS n FROM r),
w AS (SELECT lang, n_in, pow(n_in / n, 0.7) AS wgt FROM r, tot),
sh AS (SELECT lang, n_in, wgt / sum(wgt) OVER () AS share FROM w),
rates AS (
  SELECT sh.lang, sh.n_in, round(sh.share, 6) AS share,
         round(least(1.0, sh.share * tot.n / sh.n_in), 6) AS rate
  FROM sh, tot
),
kept AS (
  SELECT d.lang
  FROM documents d JOIN rates USING (lang)
  WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || ':mixT'), 1, 6))::BIGINT
        < rate * 16777216
)
SELECT r2.lang, r2.n_in, count(k.lang) AS n_out, r2.rate, r2.share
FROM rates r2 LEFT JOIN kept k ON k.lang = r2.lang
GROUP BY r2.lang, r2.n_in, r2.rate, r2.share
""",
)
def mix_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture rebalancing (the mT5/XLM-R recipe,
    Conneau et al. 2020): language share_i ∝ p_i^α with α = 0.7 —
    softer than mix_langs_resample's uniform target, so
    high-resource languages shrink without head languages collapsing
    to the tail's size. Downsample-only (rate = min(1, target/n_in)),
    via the same deterministic salted-md5 Bernoulli filter; rates are
    ROUNDED to 6 dp before thresholding so both engines draw the
    identical keep set despite libm pow differences. Same broadcast
    shape as mix_langs_resample: the corpus scans once, never
    shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    r = docs.groupBy("lang").agg(F.count("*").alias("n_in"))
    tot = r.agg(F.sum("n_in").alias("n"))
    w = r.crossJoin(F.broadcast(tot)).withColumn(
        "wgt", F.pow(F.col("n_in") / F.col("n"), 0.7)
    )
    sw = w.agg(F.sum("wgt").alias("sw"))
    rates = w.crossJoin(F.broadcast(sw)).select(
        "lang",
        "n_in",
        F.round(F.col("wgt") / F.col("sw"), 6).alias("share"),
        F.round(
            F.least(
                F.lit(1.0),
                (F.col("wgt") / F.col("sw")) * F.col("n") / F.col("n_in"),
            ),
            6,
        ).alias("rate"),
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(F.col("doc_id").cast("string"), F.lit(":mixT")).cast(
                    "binary"
                )
            ),
            1,
            6,
        ),
        16,
        10,
    ).cast("long")
    kept = (
        docs.join(F.broadcast(rates), "lang")
        .where(h < F.col("rate") * F.lit(16777216))
        .groupBy("lang")
        .agg(F.count("*").alias("n_out"))
    )
    return rates.join(F.broadcast(kept), "lang", "left").select(
        "lang",
        "n_in",
        F.coalesce("n_out", F.lit(0)).alias("n_out"),
        "rate",
        "share",
    )


@register(
    "corpus_epoch_shards",
    """
WITH e AS (
  SELECT d.doc_id, CAST(ep.range AS INT) AS epoch,
         md5(ep.range::VARCHAR || '#' || d.doc_id::VARCHAR) AS sk
  FROM documents d CROSS JOIN range(0, 2) ep
),
s AS (
  SELECT doc_id, epoch, sk,
         CAST(('0x' || substr(sk, 1, 2))::INT % 8 AS INT) AS shard
  FROM e
)
SELECT epoch, shard, doc_id,
       CAST(row_number() OVER (PARTITION BY epoch, shard
                               ORDER BY sk, doc_id) AS BIGINT) AS pos
FROM s
""",
)
def corpus_epoch_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-epoch training-shard assignment: the data-loader layout
    step between a packed corpus and a training run. Each epoch gets
    its own deterministic global reshuffle — shard = first byte of
    md5(epoch # doc_id) mod 8, in-shard read order = md5 order — so
    epoch 1 visits documents in a different order than epoch 0 without
    any rand() (same engine-reproducibility contract as
    pack_sequences_chunks; md5 hex order is ASCII order in both
    engines).

    Scale shape: the only exchange is hash-partitioning on
    (epoch, shard) and each row_number window sorts ONE shard — shards
    are the parallelism unit (a real pipeline uses n_shards ≈ cluster
    width, so per-shard sorts stay ~corpus/n_shards regardless of
    total size; at 100 TB you'd raise n_shards, never this plan
    shape). No global sort, no single-partition window; epochs fan out
    executor-side from one corpus scan (explode, not a re-read)."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    e = docs.select(
        "doc_id", F.explode(F.array(F.lit(0), F.lit(1))).alias("epoch")
    ).withColumn(
        "sk",
        F.md5(F.concat_ws("#", F.col("epoch"), F.col("doc_id"))),
    )
    s = e.withColumn(
        "shard", (F.conv(F.substring("sk", 1, 2), 16, 10).cast("int") % 8).cast("int")
    )
    w = Window.partitionBy("epoch", "shard").orderBy("sk", "doc_id")
    return s.select(
        "epoch",
        "shard",
        "doc_id",
        F.row_number().over(w).cast("long").alias("pos"),
    )


_HB_CAP = 256  # token capacity per bin


@register(
    "pack_harmonic_bins",
    f"""
WITH d AS (
  SELECT doc_id,
         len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens
  FROM documents
  WHERE len(string_split_regex(lower(trim(text)), '\\s+')) <= {_HB_CAP}
),
cls AS (
  SELECT doc_id, n_tokens, {_HB_CAP} // n_tokens AS k
  FROM d
),
asg AS (
  SELECT doc_id, n_tokens, k,
         (row_number() OVER (PARTITION BY k ORDER BY n_tokens DESC, doc_id) - 1)
           // k AS bin_idx
  FROM cls
)
SELECT CAST(k AS BIGINT) AS class_k, CAST(bin_idx AS BIGINT) AS bin_idx,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS load_tokens,
       round(CAST(sum(n_tokens) AS DOUBLE) / {_HB_CAP}, 6) AS util
FROM asg
GROUP BY 1, 2
""",
)
def pack_harmonic_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic bin packing for WHOLE-document batch assembly — the
    no-split counterpart of pack_sequences_chunks (which concatenates
    and cuts): each document lands in exactly one bin of capacity
    256, no truncation. First-fit-decreasing is inherently
    sequential (global bin state), so the scalable form is HARMONIC
    packing (Lee & Lee, JACM'85): documents classify by
    k = capacity // n_tokens (k items of this class fit per bin), and
    within a class bins are pure index arithmetic over a
    (length DESC, doc_id) rank — every class packs in parallel, no
    global state, and each bin provably holds <= capacity
    (k * max_len_in_class <= k * (capacity // k)). The price of
    parallelism is bounded utilization loss (harmonic's classic
    ~1.69x competitive ratio), which the emitted per-bin ``util``
    column makes measurable. All arithmetic integer-exact; windows
    partition by class."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.size(tokens_expr("text")).alias("n_tokens"),
    ).where(F.col("n_tokens") <= _HB_CAP)
    cls = d.withColumn("k", F.floor(F.lit(_HB_CAP) / F.col("n_tokens")).cast("long"))
    w = Window.partitionBy("k").orderBy(F.col("n_tokens").desc(), "doc_id")
    asg = cls.withColumn(
        "bin_idx", F.floor((F.row_number().over(w) - 1) / F.col("k")).cast("long")
    )
    return asg.groupBy(
        F.col("k").alias("class_k"), "bin_idx"
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("load_tokens"),
        F.round(F.sum("n_tokens").cast("double") / _HB_CAP, 6).alias("util"),
    )


@register(
    "corpus_token_budget",
    r"""
WITH t AS (
  SELECT doc_id, lang, text,
         len(string_split_regex(lower(trim(text)), '\s+')) AS n_tok,
         length(text) AS n_chars,
         string_split_regex(lower(trim(text)), '\s+') AS toks
  FROM documents
),
q AS (
  SELECT doc_id, lang, n_tok,
         round(least(n_tok / 100.0, 1.0) * 0.3
               + (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / n_chars) * 0.4
               + least((len(list_filter(toks,
                     x -> x IN ('the','and','of','to','a','in','is','that','for','it')))::DOUBLE
                     / n_tok) * 5, 1.0) * 0.3, 6) AS quality
  FROM t
),
r AS (
  SELECT doc_id, lang, n_tok, quality,
         sum(n_tok) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM q
)
SELECT doc_id, lang, n_tok, quality, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM r WHERE cum_tokens <= 5000
""",
)
def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted corpus selection: per language, keep the
    highest-quality documents (heuristic gate score, doc_id tiebreak)
    while the RUNNING token total stays within a 5000-token budget —
    the 'best N tokens per language' cut every pretraining data recipe
    makes between curation and packing (the greedy prefix by quality
    under a cumulative constraint; the boundary-crossing doc is
    dropped, the standard conservative form).

    Shape: one map pass for tokens+quality (the gate score folded into
    the token projection via ``quality_expr`` — a SINGLE FileScan of
    documents, no join-back on doc_id), ONE shuffle on lang with a
    streaming running-sum frame, a pushable filter on the cumulative —
    no joins, no driver state. At 100 TB the per-lang sort is the only
    superlinear stage and rides the same exchange as the window; for
    heavily-skewed language mixes, pre-aggregate to (quality-bucket,
    lang) partial sums first (the a5c bottom-k discipline). Quality
    replays the gate's exact expression (shared with the DuckDB twin);
    the running sum is exact integer tokens."""
    from the_framework_for_clustering_time_series_data_spark.operators.text import quality_expr, tokens_expr

    docs = load_table(spark, sf_dir, "documents")
    q = docs.select(
        "doc_id",
        "lang",
        F.size(tokens_expr()).alias("n_tok"),
        quality_expr().alias("quality"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("quality").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    r = q.withColumn("cum_tokens", F.sum("n_tok").over(w))
    return r.where(F.col("cum_tokens") <= 5000).select(
        "doc_id", "lang", "n_tok", "quality", F.col("cum_tokens").cast("long").alias("cum_tokens")
    )

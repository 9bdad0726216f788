"""Text-analysis plans over the ``documents`` table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from the_framework_for_clustering_time_series_data_spark.operators import text as T
from the_framework_for_clustering_time_series_data_spark.plans.dedup_plans import (
    NGRAM_DOC_FREQ_CAP,
    _hashed_jaccard_pairs_ctes,
)
from the_framework_for_clustering_time_series_data_spark.plans.registry import register
from the_framework_for_clustering_time_series_data_spark.functions.plan_tools import tiny_window
from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table


@register(
    "text_token_stats",
    """
WITH t AS (
  SELECT doc_id, length(text) AS n_chars,
         string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
)
SELECT doc_id, n_chars, len(toks) AS n_tokens,
       round(list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks), 6) AS avg_token_len
FROM t
""",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count, char count, mean token length."""
    return T.token_stats(load_table(spark, sf_dir, "documents"))


@register(
    "text_quality",
    """
WITH t AS (
  SELECT doc_id, text, length(text) AS n_chars,
         string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
m AS (
  SELECT doc_id,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / n_chars AS alpha_ratio,
         length(regexp_replace(text, '[^.,;:!?''"]', '', 'g'))::DOUBLE / n_chars AS punct_ratio,
         len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is','that','for','it')))::DOUBLE
           / len(toks) AS stop_ratio,
         len(toks) AS n_tokens
  FROM t
)
SELECT doc_id,
       round(alpha_ratio, 6) AS alpha_ratio,
       round(punct_ratio, 6) AS punct_ratio,
       round(stop_ratio, 6) AS stop_ratio,
       round(least(n_tokens / 100.0, 1.0) * 0.3 + alpha_ratio * 0.4
             + least(stop_ratio * 5, 1.0) * 0.3, 6) AS quality
FROM m
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining-style quality gates: alpha/punct/stopword ratios +
    combined score."""
    return T.quality_score(load_table(spark, sf_dir, "documents"))


@register(
    "text_lang_id",
    """
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
s AS (
  SELECT doc_id,
    len(list_filter(toks, x -> x IN ('der','die','und','das','von','den','im','ein','mit','des'))) AS de,
    len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is','that','for','it'))) AS en,
    len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','los','del','se','las'))) AS es,
    len(list_filter(toks, x -> x IN ('le','la','de','et','les','des','en','un','du','une'))) AS fr,
    len(list_filter(toks, x -> x IN ('的','是','在','了','和','有','我','他','这','中'))) AS zh
  FROM t
)
SELECT doc_id,
  CASE WHEN de >= en AND de >= es AND de >= fr AND de >= zh THEN 'de'
       WHEN en >= es AND en >= fr AND en >= zh THEN 'en'
       WHEN es >= fr AND es >= zh THEN 'es'
       WHEN fr >= zh THEN 'fr'
       ELSE 'zh' END AS pred_lang,
  greatest(de, en, es, fr, zh) AS stopword_hits
FROM s
""",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID, ties → lexicographically first
    language."""
    return T.lang_id(load_table(spark, sf_dir, "documents"))


@register(
    "text_fingerprint",
    """
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
w AS (
  SELECT doc_id,
         [md5(array_to_string(toks[i:i+7], ' '))
          FOR i IN range(1, greatest(len(toks) - 8, 0) + 2)] AS fps
  FROM t
)
SELECT doc_id, list_min(fps) AS min_fp, len(list_distinct(fps)) AS n_distinct_windows
FROM w
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 8-token window fingerprints; min window hash + distinct
    window count (md5 variant so the oracle can reproduce it)."""
    return T.fingerprint(load_table(spark, sf_dir, "documents"), use_md5=True)


@register(
    "text_bpe_tokens",
    """
WITH t AS (
  SELECT doc_id,
         len(string_split_regex(lower(trim(text)), '\\s+')) AS n_words,
         len(regexp_extract_all(lower(trim(text)),
             '''[a-z]{1,2}| ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+', 0)) AS n_bpe_tokens
  FROM documents
)
SELECT doc_id, n_words, n_bpe_tokens,
       round(n_bpe_tokens / n_words, 6) AS tokens_per_word
FROM t
""",
)
def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting vs whitespace words per document — LLM
    token-budget proxy, all JVM regex (SURVEY north-star text ops)."""
    from the_framework_for_clustering_time_series_data_spark.operators.text import bpe_token_stats

    d = load_table(spark, sf_dir, "documents")
    return bpe_token_stats(d)


@register(
    "text_lang_fertility",
    """
WITH t AS (
  SELECT lang,
         octet_length(encode(text)) AS n_bytes,
         len(string_split_regex(lower(trim(text)), '\\s+')) AS n_words,
         len(regexp_extract_all(lower(trim(text)),
             '''[a-z]{1,2}| ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+', 0)) AS n_bpe
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       CAST(sum(n_words) AS BIGINT) AS total_words,
       CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
       round(CAST(sum(n_bpe) AS DOUBLE) / CAST(sum(n_bytes) AS DOUBLE) * 100, 6)
         AS tokens_per_100_bytes,
       round(CAST(sum(n_bytes) AS DOUBLE) / CAST(sum(n_bpe) AS DOUBLE), 6)
         AS bytes_per_token
FROM t GROUP BY lang
""",
)
def text_lang_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-LANGUAGE tokenizer fertility — the mixture diagnostic that
    drives per-language token budgeting (a tokenizer that spends 2× the
    tokens per byte on one language silently halves that language's
    effective share of a token-capped mixture): utf-8 bytes, whitespace
    words, and BPE-ish tokens rolled up per lang, with
    tokens-per-100-bytes and bytes-per-token. One scan + one tiny
    shuffle on lang (map-side partials carry four int64 sums); exact
    integer totals, 6-dp rounded ratios over exact sums in both
    engines. Complements the per-doc views (text_bpe_tokens /
    text_bpe_apply) with the corpus-level mixture lens that
    corpus_token_budget's per-language budgets should be calibrated
    against."""
    from the_framework_for_clustering_time_series_data_spark.operators.text import bpe_tokens_expr, tokens_expr

    d = load_table(spark, sf_dir, "documents").select(
        "lang",
        F.octet_length(F.encode(F.col("text"), "UTF-8")).alias("n_bytes"),
        F.size(tokens_expr()).alias("n_words"),
        F.size(bpe_tokens_expr()).alias("n_bpe"),
    )
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bytes").cast("long").alias("total_bytes"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.sum("n_bpe").cast("long").alias("total_bpe_tokens"),
        F.round(
            F.sum("n_bpe").cast("double") / F.sum("n_bytes").cast("double") * 100, 6
        ).alias("tokens_per_100_bytes"),
        F.round(
            F.sum("n_bytes").cast("double") / F.sum("n_bpe").cast("double"), 6
        ).alias("bytes_per_token"),
    )


@register(
    "curate_corpus",
    r"""
WITH RECURSIVE t AS (
  SELECT doc_id, lang, text, length(text) AS n_chars,
         string_split_regex(lower(trim(text)), '\s+') AS toks
  FROM documents
),
q AS (
  SELECT doc_id, lang,
         round(least(len(toks) / 100.0, 1.0) * 0.3
               + (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / n_chars) * 0.4
               + least((len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is','that','for','it')))::DOUBLE
                        / len(toks)) * 5, 1.0) * 0.3, 6) AS quality
  FROM t
),
exact_keep AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
__PAIRS_CTES__,
bi AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach(src, dst) AS (
  SELECT src, dst FROM bi
  UNION
  SELECT r.src, b.dst FROM reach r JOIN bi b ON b.src = r.dst WHERE b.dst <> r.src
),
near_drop AS (
  SELECT src AS doc_id FROM reach GROUP BY src HAVING least(src, min(dst)) <> src
)
SELECT q.doc_id, q.lang, q.quality
FROM q
JOIN exact_keep USING (doc_id)
WHERE q.quality >= 0.5
  AND q.doc_id NOT IN (SELECT doc_id FROM near_drop)
  AND (q.lang <> 'en' OR q.doc_id % 10 < 8)
""".replace(
        "__PAIRS_CTES__", _hashed_jaccard_pairs_ctes(0.2, NGRAM_DOC_FREQ_CAP)
    ),
)
def curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation in ONE declarative plan — the
    composition a pretraining-data pipeline actually runs:
      1. quality gate (combined score ≥ 0.5);
      2. exact dedup (keep the min-id doc per md5 hash);
      3. near-dedup survivorship (drop every member of a Jaccard≥0.2
         connected group except its min-id canonical — transitive, so
         a chain a~b~c keeps only a);
      4. deterministic stratified downsampling (keep 80% of the
         dominant 'en' stratum by id residue; all other langs whole).
    Catalyst fuses the quality gate and sampling predicate into one
    scan; the two dedup stages are an exact-hash aggregate and the
    min-label-propagation closure, each joined back as survivorship
    filters (semi/anti joins on doc_id)."""
    from the_framework_for_clustering_time_series_data_spark.operators import dedup as D
    from the_framework_for_clustering_time_series_data_spark.operators import text as T

    docs = load_table(spark, sf_dir, "documents")
    quality = T.quality_score(docs).select("doc_id", "quality")
    exact_keep = (
        D.exact_dedup_groups(docs).select(F.col("keep_id").alias("doc_id"))
    )
    near_drop = (
        D.duplicate_groups(
            D.ngram_jaccard_pairs(
                docs, threshold=0.2, n=3,
                max_doc_freq=NGRAM_DOC_FREQ_CAP, shingle_hash="md5",
            )
        )
        .where(F.col("doc_id") != F.col("group_id"))
        .select("doc_id")
    )
    return (
        docs.select("doc_id", "lang")
        .join(quality, "doc_id")
        .where(F.col("quality") >= 0.5)
        .join(exact_keep, "doc_id", "left_semi")
        .join(near_drop, "doc_id", "left_anti")
        .where((F.col("lang") != "en") | (F.col("doc_id") % 10 < 8))
    )


@register(
    "text_vocab_topk",
    r"""
WITH tok AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
  FROM documents
)
SELECT token, count(*) AS freq
FROM tok
GROUP BY token
ORDER BY freq DESC, token
LIMIT 100
""",
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-100 tokens by frequency
    (deterministic tie-break on the token) — the vocab-building scan a
    tokenizer-training pipeline runs. explode → count groupBy →
    TakeOrdered; the shuffle carries one row per DISTINCT token thanks
    to map-side partial counts, not one per occurrence."""
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens_expr("text")
    return (
        docs.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), "token")
        .limit(100)
    )


@register(
    "text_bigram_fluency",
    r"""
WITH docs AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(list_zip(list_slice(toks, 1, len(toks) - 1),
                         list_slice(toks, 2, len(toks)))) AS b
  FROM docs WHERE len(toks) >= 2
),
bgf AS (SELECT doc_id, b[1] AS w1, b[2] AS w2 FROM bg),
c2 AS (SELECT w1, w2, count(*) AS n12 FROM bgf GROUP BY 1, 2),
c1 AS (SELECT w1, sum(n12) AS n1 FROM c2 GROUP BY 1),
p AS (SELECT c2.w1, c2.w2, c2.n12 / c1.n1 AS prob FROM c2 JOIN c1 ON c1.w1 = c2.w1)
SELECT g.doc_id, count(*) AS n_bigrams, round(avg(ln(p.prob)), 6) AS fluency
FROM bgf g JOIN p ON p.w1 = g.w1 AND p.w2 = g.w2
GROUP BY g.doc_id
""",
)
def text_bigram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram LM mean log-probability per document — the
    cheap fluency/typicality filter of a curation pipeline. The LM
    "training" and the scoring are the same distributed plan; no model
    ever concentrates on one node."""
    return T.bigram_fluency(load_table(spark, sf_dir, "documents"))


@register(
    "text_repetition",
    r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
),
g AS (
  SELECT doc_id,
         len(t) - 2 AS n_grams,
         len(list_distinct(list_transform(range(1, len(t) - 1),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS n_distinct
  FROM toks WHERE len(t) >= 3
)
SELECT doc_id, n_grams, n_distinct,
       floor((1.0 - n_distinct / n_grams) * 1000000 + 0.5) / 1000000 AS rep_ratio
FROM g
""",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition ratio (1 - distinct/total word
    3-grams) — the boilerplate / degenerate-generation quality gate."""
    return T.repetition_score(load_table(spark, sf_dir, "documents"), n=3)


@register(
    "decontaminate_ngram_overlap",
    r"""
WITH toks AS (
  SELECT doc_id, source, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
),
grams AS (
  SELECT doc_id, source,
         unnest(list_distinct(list_transform(range(1, len(t) - 2),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS gram
  FROM toks WHERE len(t) >= 4
),
eval_grams AS (SELECT DISTINCT gram FROM grams WHERE source = 'src0'),
corpus AS (SELECT doc_id, gram FROM grams WHERE source != 'src0'),
per_doc AS (SELECT doc_id, count(*) AS n_grams FROM corpus GROUP BY 1),
hits AS (
  SELECT c.doc_id, count(*) AS n_overlap
  FROM corpus c JOIN eval_grams e ON e.gram = c.gram
  GROUP BY 1
)
SELECT h.doc_id, h.n_overlap, p.n_grams,
       floor(h.n_overlap / p.n_grams * 1000000 + 0.5) / 1000000 AS overlap_ratio
FROM hits h JOIN per_doc p ON p.doc_id = h.doc_id
""",
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs (source != src0) sharing
    word 4-grams with the src0 "evaluation set" — the pre-training
    hygiene pass. The eval-gram union is benchmark-sized and
    broadcastable; the corpus streams through one gram pass."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("source") != "src0")
    eval_set = docs.where(F.col("source") == "src0")
    return T.decontaminate_overlap(corpus, eval_set, n=4)


@register(
    "text_entropy",
    r"""
WITH w AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
  FROM documents
),
c AS (SELECT doc_id, word, count(*) AS cnt FROM w GROUP BY 1, 2),
tot AS (SELECT doc_id, word, cnt, sum(cnt) OVER (PARTITION BY doc_id) AS n FROM c)
SELECT doc_id, round(-sum((cnt / n) * ln(cnt / n)), 6) AS entropy,
       count(*) AS n_unique
FROM tot GROUP BY doc_id
""",
)
def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram Shannon entropy (nats) — the
    distributional-diversity quality signal (near-zero = one token
    dominates; high = flat vocabulary). Word counts shuffle once on
    (doc, word); the doc total is a whole-partition window so the final
    per-doc aggregate reuses the doc partitioning."""
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens_expr("text")
    words = docs.select(F.col("doc_id"), F.explode(toks).alias("word"))
    counts = words.groupBy("doc_id", "word").agg(F.count("*").alias("cnt"))
    n = F.sum("cnt").over(Window.partitionBy("doc_id"))
    p = F.col("cnt") / F.col("n")
    return (
        counts.select("doc_id", "cnt", n.alias("n"))
        .groupBy("doc_id")
        .agg(
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy"),
            F.count("*").alias("n_unique"),
        )
    )


@register(
    "text_pii_redact",
    """
WITH aug AS (
  SELECT doc_id,
         text || ' Contact user' || doc_id::VARCHAR || '@example.com or call +1-555-'
              || lpad((doc_id % 10000)::VARCHAR, 4, '0') || ' from 10.'
              || (doc_id % 256)::VARCHAR || '.0.1 now' AS full_text
  FROM documents
),
red AS (
  SELECT doc_id, full_text,
         regexp_replace(
           regexp_replace(
             regexp_replace(full_text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\\+1-555-\\d{4}', '<PHONE>', 'g'),
           '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') AS redacted
  FROM aug
)
SELECT doc_id,
       len(regexp_extract_all(full_text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
       len(regexp_extract_all(full_text, '\\+1-555-\\d{4}')) AS n_phones,
       len(regexp_extract_all(redacted, '<EMAIL>|<PHONE>|<IP>')) AS n_redactions,
       md5(redacted) AS redacted_md5
FROM red
""",
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: detect + mask emails / phone numbers / IPs.

    The synthetic corpus contains no PII, so the plan first APPENDS
    deterministic doc_id-derived PII to every document (identically on
    both engines), then redacts it — the regexes are exercised on every
    row, not vacuously. All string work is JVM-side regexp expressions
    inside one projection: no shuffle at all, embarrassingly parallel
    at any scale. Patterns are restricted to the Java-regex/RE2 common
    subset so Spark and DuckDB agree byte-for-byte.
    """
    email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    phone = "\\+1-555-\\d{4}"
    ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    full = F.concat(
        F.col("text"),
        F.lit(" Contact user"), did, F.lit("@example.com or call +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".0.1 now"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("full_text"), email, "<EMAIL>"),
            phone, "<PHONE>"),
        ip, "<IP>")
    return (
        docs.select("doc_id", full.alias("full_text"))
        .select(
            "doc_id",
            F.regexp_count("full_text", F.lit(email)).alias("n_emails"),
            F.regexp_count("full_text", F.lit(phone)).alias("n_phones"),
            redacted.alias("redacted"),
        )
        .select(
            "doc_id",
            "n_emails",
            "n_phones",
            F.regexp_count("redacted", F.lit("<EMAIL>|<PHONE>|<IP>")).alias("n_redactions"),
            F.md5(F.col("redacted").cast("binary")).alias("redacted_md5"),
        )
    )


@register(
    "sample_hash_bernoulli",
    """
SELECT doc_id, lang, n_chars
FROM documents
WHERE substr(md5(doc_id::VARCHAR), 1, 2) <= '28'
""",
)
def sample_hash_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~16% Bernoulli sample keyed on md5(doc_id).

    Unlike rand()-based sampling this is reproducible across engines,
    runs, and partitionings (the property a training-data pipeline
    needs for auditable subsets), and is a pure filter: no shuffle,
    pushdown-friendly, and the SAME rows are kept when the corpus is
    re-partitioned or appended to.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2)
    return docs.where(bucket <= "28").select("doc_id", "lang", "n_chars")


@register(
    "sample_stratified_topn",
    """
WITH r AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang ORDER BY md5(doc_id::VARCHAR), doc_id
         ) AS rn
  FROM documents
)
SELECT doc_id, lang, rn FROM r WHERE rn <= 20
""",
)
def sample_stratified_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified exact-count sample: 20 docs per language, selected by
    hash order (deterministic, engine-independent). One shuffle on the
    stratum key; at scale the per-stratum top-N is computed with
    map-side partial top-N under AQE rather than a full sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string").cast("binary"))
    w = Window.partitionBy("lang").orderBy(h, "doc_id")
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 20)
    )


@register("text_quality_classifier")  # MLlib LR fit → rows-only oracle
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distilled quality classifier: logistic regression trained on the
    heuristic gate's quartile extremes, scoring every document."""
    return T.quality_classifier_scores(load_table(spark, sf_dir, "documents"))


# Shared quality-feature + weak-label CTE prefix (DuckDB): the exact
# frame text.quality_features6 / with_global_ntiles_quality build —
# used by the logit-det twin (training) and ml_auc_features (the
# feature audit), so both oracles replay ONE labeling definition.
_QUALITY_LAB_SQL = r"""t AS (
  SELECT doc_id, text, length(text) AS n_chars,
         string_split_regex(lower(trim(text)), '\s+') AS toks
  FROM documents
),
m AS (
  SELECT doc_id, n_chars, toks,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / n_chars AS alpha_ratio,
         length(regexp_replace(text, '[^.,;:!?''"]', '', 'g'))::DOUBLE / n_chars AS punct_ratio,
         len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is','that','for','it')))::DOUBLE
           / len(toks) AS stop_ratio
  FROM t
),
fx AS (
  SELECT doc_id AS id,
         floor(alpha_ratio * 1e6 + 0.5) / 1e6 AS x1,
         floor(punct_ratio * 1e6 + 0.5) / 1e6 AS x2,
         floor(stop_ratio * 1e6 + 0.5) / 1e6 AS x3,
         floor(ln(1.0 + len(toks)) * 1e6 + 0.5) / 1e6 AS x4,
         floor(n_chars::DOUBLE / len(toks) * 1e6 + 0.5) / 1e6 AS x5,
         floor(len(list_distinct(toks))::DOUBLE / len(toks) * 1e6 + 0.5) / 1e6 AS x6,
         round(least(len(toks) / 100.0, 1.0) * 0.3 + alpha_ratio * 0.4
               + least(stop_ratio * 5, 1.0) * 0.3, 6) AS quality
  FROM m
),
lab AS MATERIALIZED (
  SELECT *, ntile(4) OVER (ORDER BY quality, id) AS q4 FROM fx
),
train AS MATERIALIZED (
  SELECT *, CASE WHEN q4 = 4 THEN 1.0 ELSE 0.0 END AS y
  FROM lab WHERE q4 IN (1, 4)
)"""


def _logit_det_sql(rounds: int = 8, lr: float = 0.5) -> str:
    """DuckDB twin of ``text.quality_logit_det``: exact-quartile weak
    labels, 6-dp-quantized features, and ``rounds`` unrolled full-batch
    GD steps whose gradients sum exact int64 pico-units."""
    z = "w.b + " + " + ".join(f"w.w{i} * d.x{i}" for i in range(1, 7))
    chain = []
    for t in range(1, rounds + 1):
        gs = ",\n         ".join(
            f"floor(CAST(sum(CAST(floor((p - y) * x{i} * 1e12 + 0.5) AS BIGINT))"
            f" AS DOUBLE) / count(*) + 0.5) / 1e12 AS g{i}"
            for i in range(1, 7)
        )
        ws = ",\n         ".join(
            f"floor((w.w{i} - {lr} * g.g{i}) * 1e6 + 0.5) / 1e6 AS w{i}"
            for i in range(1, 7)
        )
        # r{t} is referenced twice (by p{t+1} and r{t+1}) — without
        # MATERIALIZED DuckDB re-inlines the whole weight chain per
        # reference and the train aggregate re-evaluates 2^rounds
        # times (the DTW/c8b oracle lesson)
        chain.append(f"""p{t} AS (
  SELECT d.*, floor(1.0 / (1.0 + exp(-({z}))) * 1e6 + 0.5) / 1e6 AS p
  FROM train d CROSS JOIN r{t - 1} w
),
g{t} AS (
  SELECT floor(CAST(sum(CAST(floor((p - y) * 1e6 + 0.5) AS BIGINT))
               AS DOUBLE) / count(*) + 0.5) / 1e6 AS gb,
         {gs}
  FROM p{t}
),
r{t} AS MATERIALIZED (
  SELECT floor((w.b - {lr} * g.gb) * 1e6 + 0.5) / 1e6 AS b,
         {ws}
  FROM r{t - 1} w CROSS JOIN g{t} g
)""")
    rounds_sql = ",\n".join(chain)
    return rf"""
WITH {_QUALITY_LAB_SQL},
r0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3,
              0.0 AS w4, 0.0 AS w5, 0.0 AS w6),
{rounds_sql}
SELECT d.id,
       CASE WHEN d.q4 = 4 THEN 1 WHEN d.q4 = 1 THEN 0 ELSE -1 END AS weak_label,
       floor(1.0 / (1.0 + exp(-({z}))) * 1e6 + 0.5) / 1e6 AS quality_prob
FROM lab d CROSS JOIN r{rounds} w
"""


@register("text_quality_logit_det", _logit_det_sql())
def text_quality_logit_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC twin of text_quality_classifier: exact-quartile
    weak labels (distributed ntile, not the approxQuantile sketch) and
    8 fixed full-batch GD steps from zero weights in place of MLlib's
    LBFGS — features, labels, every gradient (exact int64 pico-unit
    sums), the weight schedule, and the final scores all replay in
    DuckDB (see text.quality_logit_det for the parity disciplines;
    exp/ln carry the measure-zero ulp caveat the c7b twin documents)."""
    return T.quality_logit_det(load_table(spark, sf_dir, "documents"))


@register(
    "text_gopher_rules",
    """
WITH t AS (
  SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
m AS (
  SELECT doc_id,
         len(toks) AS n_words,
         list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks) AS mean_wl,
         (length(text) - length(replace(text, '#', ''))
          + floor((length(text) - length(regexp_replace(text, '\\.\\.\\.', 'x', 'g'))) / 2))
           AS n_symbols,
         len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))::DOUBLE / len(toks) AS alpha_frac,
         len(list_intersect(toks, ['the','be','to','of','and','that','have','with'])) AS stop_hits
  FROM t
),
r AS (
  SELECT *,
         (n_words BETWEEN 50 AND 100000) AS ok_word_count,
         (mean_wl BETWEEN 3.0 AND 10.0) AS ok_mean_word_len,
         (n_symbols / n_words < 0.10) AS ok_symbol_ratio,
         (alpha_frac > 0.80) AS ok_alpha_words,
         (stop_hits >= 2) AS ok_stopwords
  FROM m
)
SELECT doc_id, n_words,
       round(mean_wl, 6) AS mean_word_len,
       round(n_symbols / n_words, 6) AS symbol_word_ratio,
       round(alpha_frac, 6) AS alpha_word_frac,
       stop_hits,
       ok_word_count, ok_mean_word_len, ok_symbol_ratio, ok_alpha_words, ok_stopwords,
       (ok_word_count AND ok_mean_word_len AND ok_symbol_ratio
        AND ok_alpha_words AND ok_stopwords) AS passes_gopher
FROM r
""",
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher (Rae et al. 2021) pretraining quality gates: word count,
    mean word length, symbol ratio, alphabetic-word fraction, stopword
    presence — one shuffle-free JVM pass."""
    return T.gopher_rules(load_table(spark, sf_dir, "documents"))


@register(
    "text_boilerplate_shingles",
    r"""
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
  FROM documents
),
g AS (
  SELECT doc_id, list_aggregate(toks[i:i+2], 'string_agg', ' ') AS gram
  FROM t, unnest(range(1, len(toks) - 1)) AS u(i)
  WHERE len(toks) >= 3
),
dfreq AS (SELECT gram, count(DISTINCT doc_id) AS gram_df FROM g GROUP BY 1)
SELECT g.doc_id,
       count(*) AS n_grams,
       CAST(sum(CASE WHEN d.gram_df >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       floor(CAST(sum(CASE WHEN d.gram_df >= 5 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) * 1e6 + 0.5) / 1e6 AS boiler_frac
FROM g JOIN dfreq d USING (gram)
GROUP BY 1
""",
)
def text_boilerplate_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency boilerplate per document (CCNet/RefinedWeb
    template-removal signal): a word trigram appearing in >= 5 distinct
    docs is boilerplate; each doc reports its instance count and
    fraction. Complements text_repetition (INTRA-doc) and
    dedup_substring_spans (pairwise spans) with the corpus-level
    document-frequency view — see operators.text.boilerplate_shingles
    for the scale shape (gram-keyed shuffles, no driver state)."""
    return T.boilerplate_shingles(load_table(spark, sf_dir, "documents"))


@register(
    "ml_auc_features",
    f"""
WITH {_QUALITY_LAB_SQL},
long AS (
  SELECT y, 'x1' AS feature, x1 AS x FROM train
  UNION ALL SELECT y, 'x2', x2 FROM train
  UNION ALL SELECT y, 'x3', x3 FROM train
  UNION ALL SELECT y, 'x4', x4 FROM train
  UNION ALL SELECT y, 'x5', x5 FROM train
  UNION ALL SELECT y, 'x6', x6 FROM train
),
grp AS (
  SELECT feature, x, count(*) AS t,
         sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS t1
  FROM long GROUP BY 1, 2
),
rk AS (
  SELECT feature, t, t1,
         sum(t) OVER (PARTITION BY feature ORDER BY x
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS below
  FROM grp
),
mo AS (
  SELECT feature,
         sum(t1 * (2 * coalesce(below, 0) + t + 1)) AS r2_1,
         sum(t1) AS n1,
         sum(t - t1) AS n0
  FROM rk GROUP BY 1
)
SELECT feature,
       CAST(n1 AS BIGINT) AS n_pos,
       CAST(n0 AS BIGINT) AS n_neg,
       floor(CAST(r2_1 - n1 * (n1 + 1) AS DOUBLE)
             / CAST(2 * n1 * n0 AS DOUBLE) * 1e6 + 0.5) / 1e6 AS auc
FROM mo
""",
)
def ml_auc_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-feature ROC-AUC against the weak quality labels — the
    feature audit run before trusting the distilled classifier: which
    of the six deterministic quality features best ranks the top
    weak-label quartile above the bottom one. AUC via the Mann-Whitney
    identity on half-unit midrank integers (exact ties, one division,
    floor-rounded — the ab_mann_whitney discipline); labels replay the
    exact-quartile definition quality_logit_det trains on (shared
    _QUALITY_LAB_SQL prefix, shared Spark labeling stage)."""
    return T.quality_feature_auc(load_table(spark, sf_dir, "documents"))


@register(
    "text_chunk_docs",
    """
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
s AS (
  SELECT doc_id, toks,
         unnest(range(1, greatest(len(toks), 1)::BIGINT + 1, 48)) AS chunk_start
  FROM t
),
c AS (
  SELECT doc_id, ((chunk_start - 1) // 48) AS chunk_id, chunk_start,
         toks[chunk_start : chunk_start + 63] AS chunk
  FROM s
)
SELECT doc_id, chunk_id, chunk_start,
       len(chunk) AS n_chunk_tokens,
       md5(array_to_string(chunk, ' ')) AS chunk_md5
FROM c
""",
)
def text_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 64-token chunks every 48 tokens per document —
    narrow ``sequence``+``posexplode`` fan-out, no shuffle; the corpus
    generalization of the reference's G5 sliding window
    (app.py:285-295)."""
    return T.chunk_documents(load_table(spark, sf_dir, "documents"))


@register(
    "udtf_chunk_docs",
    """
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
s AS (
  SELECT doc_id, toks,
         unnest(range(1, greatest(len(toks), 1)::BIGINT + 1, 48)) AS chunk_start
  FROM t
),
c AS (
  SELECT doc_id, ((chunk_start - 1) // 48) AS chunk_id, chunk_start,
         toks[chunk_start : chunk_start + 63] AS chunk
  FROM s
)
SELECT doc_id, chunk_id, chunk_start,
       len(chunk) AS n_chunk_tokens,
       md5(array_to_string(chunk, ' ')) AS chunk_md5
FROM c
""",
)
def udtf_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same overlapping-chunk semantics as ``text_chunk_docs``,
    expressed through the Spark 4 Python UDTF surface (SURVEY.md §2.9's
    UDTF checkbox): a table function applied per document row via a SQL
    LATERAL join, yielding one row per 64-token/48-stride chunk. Shares
    text_chunk_docs' oracle verbatim — the two formulations are
    interchangeable by construction, and the declarative
    sequence+posexplode one is the recommended hot path (JVM-side,
    no Python workers); the UDTF exists for logic a lambda can't
    express (stateful per-row expansion, external libraries) and to
    pin the API's semantics (one eval per row, iterator yield,
    outer-row columns joined back laterally)."""
    import hashlib
    import re

    from pyspark.sql.functions import udtf

    @udtf(
        returnType=(
            "chunk_id bigint, chunk_start bigint, "
            "n_chunk_tokens bigint, chunk_md5 string"
        )
    )
    class ChunkDoc:
        def eval(self, text: str):
            toks = re.split(r"\s+", text.strip().lower())
            for start in range(1, max(len(toks), 1) + 1, 48):
                chunk = toks[start - 1 : start + 63]
                yield (
                    (start - 1) // 48,
                    start,
                    len(chunk),
                    hashlib.md5(" ".join(chunk).encode()).hexdigest(),
                )

    spark.udtf.register("chunk_doc_udtf", ChunkDoc)
    docs = load_table(spark, sf_dir, "documents")
    view = f"_udtf_docs_{abs(hash(sf_dir)) % 10**8}"
    docs.select("doc_id", "text").createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT d.doc_id, c.chunk_id, c.chunk_start,
               c.n_chunk_tokens, c.chunk_md5
        FROM {view} d, LATERAL chunk_doc_udtf(d.text) c
        """
    )


@register(
    "text_keywords_tfidf",
    r"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
nn AS (SELECT count(*) AS n_docs FROM documents),
s AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         tf.tf * (ln((nn.n_docs + 1.0) / (df.df + 1.0)) + 1.0) AS score
  FROM tf JOIN df USING (term) CROSS JOIN nn
),
r AS (
  SELECT doc_id, term, tf, df, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term) AS rnk
  FROM s
)
SELECT doc_id, rnk, term, tf, df, round(score, 6) AS score
FROM r WHERE rnk <= 5
""",
)
def text_keywords_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-5 terms by smoothed TF-IDF
    (``tf · (ln((N+1)/(df+1)) + 1)``, the sklearn smoothing so no term
    ever gets a zero or negative weight) — the classic summarization /
    tagging primitive, and the per-doc complement of
    text_tfidf_kmeans's corpus-level hashed vectors (here terms stay
    readable strings, which hashing destroys).

    Shape: one token explode feeds the (doc, term) tf aggregate and
    the term-keyed df aggregate; the 1-row corpus count broadcasts;
    scoring is a map; the per-doc top-5 window partitions on doc_id —
    bounded fan-in per partition. Ties break lexicographically for
    deterministic cross-engine ranking."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(T.tokens_expr("text")).alias("term"),
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    nn = docs.agg(F.count("*").alias("n_docs"))
    s = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(nn))
        .withColumn(
            "score",
            F.col("tf")
            * (
                F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
                + F.lit(1.0)
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        s.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("doc_id", "rnk", "term", "tf", "df", F.round("score", 6).alias("score"))
    )


@register(
    "text_lang_confusion",
    """
WITH t AS (
  SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
s AS (
  SELECT doc_id, lang,
    len(list_filter(toks, x -> x IN ('der','die','und','das','von','den','im','ein','mit','des'))) AS de,
    len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is','that','for','it'))) AS en,
    len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','los','del','se','las'))) AS es,
    len(list_filter(toks, x -> x IN ('le','la','de','et','les','des','en','un','du','une'))) AS fr,
    len(list_filter(toks, x -> x IN ('的','是','在','了','和','有','我','他','这','中'))) AS zh
  FROM t
),
p AS (
  SELECT lang AS true_lang,
    CASE WHEN de >= en AND de >= es AND de >= fr AND de >= zh THEN 'de'
         WHEN en >= es AND en >= fr AND en >= zh THEN 'en'
         WHEN es >= fr AND es >= zh THEN 'es'
         WHEN fr >= zh THEN 'fr'
         ELSE 'zh' END AS pred_lang
  FROM s
),
c AS (SELECT true_lang, pred_lang, count(*) AS n FROM p GROUP BY 1, 2),
tot AS (SELECT true_lang, sum(n) AS n_true FROM c GROUP BY true_lang)
SELECT c.true_lang, c.pred_lang, c.n,
       round(c.n * 1.0 / tot.n_true, 6) AS frac_of_true,
       (c.true_lang = c.pred_lang)::INT AS is_correct
FROM c JOIN tot ON tot.true_lang = c.true_lang
""",
)
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword-vote language-ID heuristic
    against the corpus's TRUE lang column — classifier evaluation as
    a query: per (true, predicted) counts, recall share per true
    language, and the diagonal flag. The pattern every model-quality
    gate in a data pipeline reduces to (text_quality_classifier's
    score audit is its probabilistic sibling); run it per snapshot to
    catch silent lang-id drift as the corpus mixture shifts.

    Shape: the per-doc vote is text_lang_id's JVM-side one-pass array
    filters; the matrix aggregate is ≤25 cells with map-side
    partials; the recall normalization broadcasts the 5-row per-truth
    totals."""
    docs = load_table(spark, sf_dir, "documents")
    pred = T.lang_id(docs).select("doc_id", "pred_lang")
    p = docs.select("doc_id", F.col("lang").alias("true_lang")).join(pred, "doc_id")
    c = p.groupBy("true_lang", "pred_lang").agg(F.count("*").alias("n"))
    tot = c.groupBy("true_lang").agg(F.sum("n").alias("n_true"))
    return c.join(F.broadcast(tot), "true_lang").select(
        "true_lang",
        "pred_lang",
        "n",
        F.round(F.col("n") * F.lit(1.0) / F.col("n_true"), 6).alias("frac_of_true"),
        (F.col("true_lang") == F.col("pred_lang")).cast("int").alias("is_correct"),
    )


_BPE_MERGES = 10


def _bpe_round_sql(prev: str, k: int) -> str:
    """One BPE merge round replayed in SQL. Symbol sequences live as
    MARKER-WRAPPED strings (chr(30)||sym||chr(31) per symbol — the
    corpus is verified ASCII, see the registering docstring): pair
    counts re-split the wrapped string; the argmax keys on
    (count DESC, left, right) exactly like the operator; and the merge
    application is ONE ``replace()`` — non-overlapping left-to-right
    with the scan resuming AFTER each replacement, which is precisely
    the operator's greedy ``i += 2`` kernel (wrapping markers make a
    mid-symbol false match impossible and adjacent matches share no
    boundary chars)."""
    return f"""sy{k} AS (
  SELECT freq, string_split(substr(s, 2, length(s) - 2),
                            chr(31) || chr(30)) AS sy
  FROM b{prev}
),
p{k} AS (
  SELECT l, r, sum(freq) AS n FROM (
    SELECT freq, sy[CAST(i AS INT)] AS l, sy[CAST(i AS INT) + 1] AS r
    FROM (SELECT freq, sy, unnest(range(1, len(sy))) AS i FROM sy{k})
  ) GROUP BY 1, 2
),
m{k} AS MATERIALIZED (SELECT l, r, n FROM p{k} ORDER BY n DESC, l, r LIMIT 1),
b{k} AS MATERIALIZED (
  SELECT word, freq,
         replace(s,
                 chr(30) || (SELECT l FROM m{k}) || chr(31)
                   || chr(30) || (SELECT r FROM m{k}) || chr(31),
                 chr(30) || (SELECT l FROM m{k}) || (SELECT r FROM m{k})
                   || chr(31)) AS s
  FROM b{prev}
)"""


def _bpe_learn_ctes() -> str:
    """Shared CTE chain (no leading WITH) replaying the 10 BPE merge
    rounds; ends with per-round argmax CTEs ``m1..mN`` AND the fully
    merged vocabulary ``b{N}(word, freq, s)`` — consumed by BOTH the
    text_bpe_merges oracle and text_bpe_apply's (tokenizer application
    shares the learned state, so the two stay in lockstep)."""
    rounds = ",\n".join(
        _bpe_round_sql(str(k - 1), k) for k in range(1, _BPE_MERGES + 1)
    )
    return f"""wf AS (
  SELECT word, count(*) AS freq FROM (
    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
    FROM documents
  ) WHERE word != '' GROUP BY word
),
b0 AS MATERIALIZED (
  SELECT word, freq,
         list_aggregate(
           list_transform(range(1, length(word) + 1),
                          i -> chr(30) || substr(word, CAST(i AS INT), 1)
                               || chr(31)),
           'string_agg', '') AS s
  FROM wf
),
{rounds}"""


def _bpe_oracle_sql() -> str:
    finals = "\nUNION ALL\n".join(
        f'SELECT {k - 1} AS rank, l AS "left", r AS "right", '
        f"CAST(n AS BIGINT) AS pair_count FROM m{k}"
        for k in range(1, _BPE_MERGES + 1)
    )
    return f"""
WITH {_bpe_learn_ctes()}
{finals}
"""


@register("text_bpe_merges", _bpe_oracle_sql())
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FITTING with a FULL value-hash oracle (round 6;
    formerly rows-only): the first 10 BPE merges learned over the
    documents corpus (word-frequency table → per-round pair-count
    aggregate + deterministic (count DESC, left, right) argmax +
    vectorized merge application — operators/text.bpe_learn_merges).
    The oracle unrolls all 10 rounds as CTEs, representing each word's
    symbol sequence as a chr(30)/chr(31)-wrapped string whose greedy
    left-to-right pair merge is exactly ``replace()`` (the
    text_quality_logit_det round-replay discipline). The wrapping
    markers are sound because the corpus is pure ASCII with no control
    chars (verified for the test tables; a production corpus would
    pick codepoints outside its alphabet). The merge table is the
    tokenizer every downstream token-count/packing operator
    presupposes. The corpus is length-balanced first (round-11: one
    row-level repartition, operators/text.length_balanced) so the
    heavy-tail stratum's tokenize work can't ride a few
    compressed-byte-sized scan splits."""
    return T.bpe_learn_merges(
        T.length_balanced(load_table(spark, sf_dir, "documents")),
        n_merges=_BPE_MERGES,
    )


@register(
    "text_bpe_apply",
    f"""
WITH {_bpe_learn_ctes()},
vs AS (
  SELECT word, length(s) - length(replace(s, chr(30), '')) AS n_sym
  FROM b{_BPE_MERGES}
),
dw AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
  FROM documents
)
SELECT doc_id,
       CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens,
       CAST(count(*) AS BIGINT) AS n_words,
       round(CAST(sum(n_sym) AS DOUBLE) / count(*), 6) AS tokens_per_word
FROM dw JOIN vs USING (word)
WHERE word != ''
GROUP BY doc_id
""",
)
def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION with a full oracle — the learned BPE
    tokenizer (text_bpe_merges) applied corpus-wide: per-doc true BPE
    token counts (not the regex approximation of text_bpe_tokens).

    Spark-first shape: the merge table (10 rows, collected — model
    state) applies to the DISTINCT-WORD vocabulary only, as 10 chained
    JVM ``replace`` calls over the same marker-wrapped representation
    the learn oracle replays (greedy left-to-right pair merge ==
    non-overlapping replace — no Python, no per-word loop); per-doc
    counts come from one word-level join back to the corpus + one
    groupBy. At 100 TB the vocabulary is orders of magnitude smaller
    than the corpus, so the expensive per-word merge work is
    vocab-sized while the corpus pass is a plain shuffle join. The
    oracle re-learns the merges and re-applies them through the SHARED
    ``_bpe_learn_ctes`` chain, so learn and apply can never drift.
    Length-balanced input (operators/text.length_balanced) keeps the
    heavy-tail stratum's tokenize work off a few scan splits."""
    docs = T.length_balanced(load_table(spark, sf_dir, "documents"))
    merges = T.bpe_learn_merges(docs, n_merges=_BPE_MERGES).collect()
    RS, US = "\x1e", "\x1f"
    words = docs.select(
        "doc_id",
        F.explode(T.tokens_expr("text")).alias("word"),
    ).where(F.col("word") != "")
    vocab = words.select("word").distinct()
    # wrap every char: one regex pass builds the marker representation
    s = F.regexp_replace(F.col("word"), "(.)", RS + "$1" + US)
    for row in sorted(merges, key=lambda r: r["rank"]):
        l, r = row["left"], row["right"]
        s = F.replace(s, F.lit(RS + l + US + RS + r + US), F.lit(RS + l + r + US))
    vs = vocab.select(
        "word",
        (F.length(s) - F.length(F.replace(s, F.lit(RS), F.lit("")))).alias("n_sym"),
    )
    return (
        words.join(vs, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_sym").alias("n_bpe_tokens"),
            F.count("*").alias("n_words"),
            F.round(
                F.sum("n_sym").cast("double") / F.count("*"), 6
            ).alias("tokens_per_word"),
        )
    )


@register(
    "dsir_importance_select",
    """
WITH tk AS (
  SELECT doc_id, lang,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents
),
b AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 128 AS bkt
  FROM tk
),
tgt AS (SELECT bkt, count(*) AS ct FROM b WHERE lang = 'en' GROUP BY 1),
rw AS (SELECT bkt, count(*) AS cr FROM b GROUP BY 1),
tots AS (
  SELECT (SELECT sum(ct) FROM tgt) AS nt, (SELECT sum(cr) FROM rw) AS nr
),
lr AS (
  SELECT rw.bkt,
         ln(((coalesce(tgt.ct, 0) + 1) / (tots.nt + 128)) /
            ((rw.cr + 1) / (tots.nr + 128))) AS logr
  FROM rw LEFT JOIN tgt USING (bkt), tots
),
sc AS (
  SELECT b.doc_id, count(*) AS n_tokens, round(avg(lr.logr), 6) AS score
  FROM b JOIN lr USING (bkt)
  GROUP BY b.doc_id
),
rk AS (
  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rn FROM sc
)
SELECT doc_id, n_tokens, score, CAST(rn AS INT) AS rank
FROM rk WHERE rn <= 100
""",
)
def dsir_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023, arXiv:2302.03169), hashed-n-gram form: estimate
    target/raw log-likelihood ratios over 128 hashed unigram buckets
    (target = the corpus' English slice standing in for the
    high-quality target distribution; +1 smoothing) and score every
    document by its mean token log-ratio; the top-100 by (rounded
    score, doc_id) are the importance-selected training candidates.

    Shape: one token-explode scan feeds both bucket histograms (tiny —
    ≤128 rows each, broadcast back with their totals); doc scoring is
    a broadcast join + one doc-keyed aggregate; top-k is TakeOrdered
    with post-limit rank, so no corpus-wide window exists. Ranking
    happens on the 6-dp ROUNDED score with a doc_id tie-break —
    deterministic cross-engine despite float-sum ordering."""
    from the_framework_for_clustering_time_series_data_spark.operators.dedup import md5_60bit_hash

    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        "doc_id", "lang", F.explode(T.tokens_expr("text")).alias("tok")
    ).select("doc_id", "lang", (md5_60bit_hash("tok") % 128).alias("bkt"))
    tgt = b.where(F.col("lang") == "en").groupBy("bkt").agg(
        F.count("*").alias("ct")
    )
    rw = b.groupBy("bkt").agg(F.count("*").alias("cr"))
    tots = tgt.agg(F.sum("ct").alias("nt")).crossJoin(
        rw.agg(F.sum("cr").alias("nr"))
    )
    lr = (
        rw.join(tgt, "bkt", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "bkt",
            F.log(
                ((F.coalesce(F.col("ct"), F.lit(0)) + 1) / (F.col("nt") + 128))
                / ((F.col("cr") + 1) / (F.col("nr") + 128))
            ).alias("logr"),
        )
    )
    sc = (
        b.join(F.broadcast(lr), "bkt")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("logr"), 6).alias("score"),
        )
    )
    top = sc.orderBy(F.desc("score"), "doc_id").limit(100)
    w = tiny_window(F.desc("score"), "doc_id", key="doc_id")
    return top.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "n_tokens", "score", "rank"
    )


_WP_MAXL = 4  # longest learned piece (raw chars)
_WP_TOPK = 40  # learned multi-char vocabulary size


@register(
    "text_wordpiece_apply",
    f"""
WITH wf AS (
  SELECT word, count(*) AS freq FROM (
    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
    FROM documents
  ) WHERE word != '' GROUP BY word
),
gr AS (
  SELECT word, freq, p, L,
         CASE WHEN p = 1 THEN substr(word, CAST(p AS INT), CAST(L AS INT))
              ELSE '##' || substr(word, CAST(p AS INT), CAST(L AS INT)) END AS piece
  FROM (SELECT word, freq, unnest(range(1, length(word) + 1)) AS p FROM wf),
       (SELECT unnest(range(1, {_WP_MAXL} + 1)) AS L)
  WHERE p + L - 1 <= length(word)
),
cand AS (SELECT piece, L, sum(freq) AS w FROM gr GROUP BY 1, 2),
multi AS (SELECT piece FROM cand WHERE L >= 2 ORDER BY w DESC, piece LIMIT {_WP_TOPK}),
vocab AS (
  SELECT DISTINCT piece FROM cand WHERE L = 1
  UNION
  SELECT piece FROM multi
),
step AS MATERIALIZED (
  SELECT g.word, g.p, max(g.L) AS best_l
  FROM gr g JOIN vocab v ON v.piece = g.piece
  GROUP BY 1, 2
),
seg AS (
  WITH RECURSIVE r(word, pos, n) AS (
    SELECT word, 1, 0 FROM wf
    UNION ALL
    SELECT s.word, CAST(s.pos + st.best_l AS INT), s.n + 1
    FROM r s JOIN step st ON st.word = s.word AND st.p = s.pos
    WHERE s.pos <= length(s.word)
  )
  SELECT word, n AS n_sym FROM r WHERE pos = length(word) + 1
),
vs AS (SELECT wf.word, coalesce(seg.n_sym, 1) AS n_sym
       FROM wf LEFT JOIN seg USING (word)),
dw AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
  FROM documents
)
SELECT doc_id,
       CAST(sum(n_sym) AS BIGINT) AS n_wp_tokens,
       CAST(count(*) AS BIGINT) AS n_words,
       round(CAST(sum(n_sym) AS DOUBLE) / count(*), 6) AS tokens_per_word
FROM dw JOIN vs USING (word)
WHERE word != ''
GROUP BY doc_id
""",
)
def text_wordpiece_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece (BERT-family) tokenization with a FULL oracle — the
    OTHER major subword family next to BPE (text_bpe_apply), covering
    greedy longest-match-first inference with '##' continuation
    pieces. The vocabulary is learned deterministically from the same
    corpus: every start/continuation substring up to 4 chars scored by
    corpus frequency, all single characters admitted (so no word is
    untokenizable), plus the top-40 multi-char pieces on the
    (weight DESC, piece ASC) order. Segmentation is per DISTINCT
    word — at 100 TB the vocabulary-sized greedy matching is orders of
    magnitude smaller than the corpus, and the corpus pass is one word
    join + groupBy (the text_bpe_apply scale shape). The matcher runs
    as one Arrow-batched kernel against the broadcast piece set; the
    oracle replays it as a longest-match step table + recursive-CTE
    walk. The '##' marker is sound because the corpus contains no '#'
    (verified; a production corpus would pick an out-of-alphabet
    marker, the chr(30) discipline). Unmatchable words would emit one
    [UNK] token in both engines (unreachable here: single chars are
    always admitted)."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(T.tokens_expr("text")).alias("word"),
    ).where(F.col("word") != "")
    wf = words.groupBy("word").agg(F.count("*").alias("freq"))
    gr = (
        wf.select(
            "word",
            "freq",
            F.explode(F.sequence(F.lit(1), F.length("word"))).alias("p"),
        )
        .crossJoin(
            F.broadcast(
                spark.range(1, _WP_MAXL + 1).select(F.col("id").alias("L"))
            )
        )
        .where(F.col("p") + F.col("L") - 1 <= F.length("word"))
        .select(
            "word",
            "freq",
            "p",
            "L",
            F.when(
                F.col("p") == 1, F.expr("substr(word, p, L)")
            )
            .otherwise(F.concat(F.lit("##"), F.expr("substr(word, p, L)")))
            .alias("piece"),
        )
    )
    cand = gr.groupBy("piece", "L").agg(F.sum("freq").alias("w"))
    multi = (
        cand.where(F.col("L") >= 2)
        .orderBy(F.col("w").desc(), "piece")
        .limit(_WP_TOPK)
        .select("piece")
    )
    singles = cand.where(F.col("L") == 1).select("piece").distinct()
    vocab = {r["piece"] for r in singles.union(multi).distinct().collect()}

    import pandas as pd

    def segment(batches):
        for pdf in batches:
            ns = []
            for word in pdf["word"]:
                pos, n = 0, 0
                ok = True
                while pos < len(word):
                    m = 0
                    for L in range(min(_WP_MAXL, len(word) - pos), 0, -1):
                        piece = word[pos : pos + L] if pos == 0 else "##" + word[pos : pos + L]
                        if piece in vocab:
                            m = L
                            break
                    if m == 0:
                        ok = False
                        break
                    pos += m
                    n += 1
                ns.append(n if ok else 1)
            yield pd.DataFrame({"word": pdf["word"], "n_sym": ns})

    vs = (
        wf.select("word")
        .repartition("word")
        .mapInPandas(segment, "word string, n_sym long")
    )
    return (
        words.join(F.broadcast(vs), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_sym").alias("n_wp_tokens"),
            F.count("*").alias("n_words"),
            F.round(F.sum("n_sym").cast("double") / F.count("*"), 6).alias(
                "tokens_per_word"
            ),
        )
    )


@register(
    "text_collocations_chi2",
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
  SELECT a.tok AS w1, b.tok AS w2, count(*) AS a
  FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  GROUP BY 1, 2
),
tot AS (SELECT sum(a) AS n FROM bg),
l AS (SELECT w1, sum(a) AS n1 FROM bg GROUP BY 1),
r AS (SELECT w2, sum(a) AS n2 FROM bg GROUP BY 1),
cell AS (
  SELECT bg.w1, bg.w2,
         CAST(bg.a AS HUGEINT) AS a,
         CAST(l.n1 - bg.a AS HUGEINT) AS b,
         CAST(r.n2 - bg.a AS HUGEINT) AS c,
         CAST(tot.n - l.n1 - r.n2 + bg.a AS HUGEINT) AS d,
         CAST(tot.n AS HUGEINT) AS n
  FROM bg JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN tot
  WHERE bg.a >= 5
),
sc AS (
  SELECT w1, w2, CAST(a AS BIGINT) AS pair_count,
         round(CAST(n * (a * d - b * c) * (a * d - b * c) AS DOUBLE)
               / CAST((a + b) * (c + d) * (a + c) * (b + d) AS DOUBLE), 6) AS chi2
  FROM cell
)
SELECT w1, w2, pair_count, chi2 FROM sc
ORDER BY chi2 DESC, w1, w2
LIMIT 20
""",
)
def text_collocations_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining via the chi-square association statistic —
    the Dunning-style bigram extraction a tokenizer/vocab pipeline
    runs to find multi-word units, on chi2 rather than LLR
    DELIBERATELY: chi2 is pure rational arithmetic (no ln), so the
    statistic is exact integer products divided once — fully
    replayable, where LLR's transcendental would reduce parity to
    probabilistic. Contingency products promote to
    decimal(38,0)/HUGEINT BEFORE multiplication ((ad-bc)^2 overflows
    int64 at corpus sizes >= ~3e5 bigrams). One bigram aggregate +
    two marginal joins; top-20 with (w1, w2)-pinned ties."""
    docs = load_table(spark, sf_dir, "documents")
    tk = (
        docs.select(
            "doc_id",
            F.posexplode(T.tokens_expr("text")).alias("p", "tok"),
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
    x = tk.select("doc_id", F.col("tok").alias("w1"), "pos")
    y = tk.select(
        F.col("doc_id").alias("doc_b"), F.col("tok").alias("w2"), F.col("pos").alias("pos_b")
    )
    bg = (
        x.join(y, (F.col("doc_id") == F.col("doc_b")) & (F.col("pos_b") == F.col("pos") + 1))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("a"))
    )
    tot = bg.agg(F.sum("a").alias("n"))
    l = bg.groupBy("w1").agg(F.sum("a").alias("n1"))
    r = bg.groupBy("w2").agg(F.sum("a").alias("n2"))
    dec = lambda col: col.cast("decimal(38,0)")
    cell = (
        bg.join(F.broadcast(l), "w1")
        .join(F.broadcast(r), "w2")
        .crossJoin(F.broadcast(tot))
        .where(F.col("a") >= 5)
        .select(
            "w1",
            "w2",
            F.col("a").alias("pair_count"),
            dec(F.col("a")).alias("ca"),
            dec(F.col("n1") - F.col("a")).alias("cb"),
            dec(F.col("n2") - F.col("a")).alias("cc"),
            dec(F.col("n") - F.col("n1") - F.col("n2") + F.col("a")).alias("cd"),
            dec(F.col("n")).alias("cn"),
        )
    )
    det = F.col("ca") * F.col("cd") - F.col("cb") * F.col("cc")
    chi2 = F.round(
        (F.col("cn") * det * det).cast("double")
        / (
            (F.col("ca") + F.col("cb"))
            * (F.col("cc") + F.col("cd"))
            * (F.col("ca") + F.col("cc"))
            * (F.col("cb") + F.col("cd"))
        ).cast("double"),
        6,
    )
    return (
        cell.select("w1", "w2", "pair_count", chi2.alias("chi2"))
        .orderBy(F.col("chi2").desc(), "w1", "w2")
        .limit(20)
    )


_UNI_ROUNDS, _UNI_TOPK, _UNI_MAXP, _UNI_MAXW = 3, 40, 4, 18


def _unigram_round_sql(r: int) -> str:
    """One hard-EM round replayed in SQL: quantized micro-nat log-prob
    table from round-r counts, per-segmentation exact int64 score sum,
    the (score DESC, np ASC, lens ASC) argmax per word, usage recount
    weighted by word frequency, +1-smoothed next-round counts over the
    FIXED vocabulary (c0's piece set)."""
    return f"""t{r} AS (SELECT CAST(sum(cnt) AS DOUBLE) AS tot FROM c{r}),
lp{r} AS MATERIALIZED (
  SELECT piece,
         CAST(floor(ln(CAST(cnt AS DOUBLE) / (SELECT tot FROM t{r}))
                    * 1000000 + 0.5) AS BIGINT) AS lp
  FROM c{r}
),
sc{r} AS (
  SELECT sp.word, sp.lens, sum(l.lp) AS score, count(*) AS np
  FROM sp JOIN lp{r} l ON l.piece = sp.piece
  GROUP BY 1, 2
),
best{r} AS MATERIALIZED (
  SELECT word, lens FROM (
    SELECT word, lens,
           row_number() OVER (PARTITION BY word
                              ORDER BY score DESC, np ASC, lens ASC) AS rn
    FROM sc{r}) WHERE rn = 1
),
u{r} AS (
  SELECT sp.piece, sum(wf.freq) AS used
  FROM best{r} b
  JOIN sp ON sp.word = b.word AND sp.lens = b.lens
  JOIN wf ON wf.word = b.word
  GROUP BY 1
),
c{r + 1} AS MATERIALIZED (
  SELECT v.piece, CAST(1 + coalesce(u.used, 0) AS BIGINT) AS cnt
  FROM c0 v LEFT JOIN u{r} u USING (piece)
)"""


def _unigram_ctes() -> str:
    """Shared CTE chain (no leading WITH; caller supplies
    WITH RECURSIVE) replaying unigram_lm_fit: word-frequency table,
    overlapping substring counts, the singles ∪ top-K seed vocabulary,
    ONE recursive enumeration of every vocab-valid segmentation (the
    vocabulary is fixed across rounds — +1 smoothing never prunes —
    so segmentations enumerate once and only SCORES change per round),
    then the unrolled EM rounds. Ends with lp{R}/sc{R}/best{R} (the
    final model and segmentations) consumed by both the schedule and
    fertility oracles."""
    R = _UNI_ROUNDS
    rounds = ",\n".join(_unigram_round_sql(r) for r in range(R))
    final = f"""t{R} AS (SELECT CAST(sum(cnt) AS DOUBLE) AS tot FROM c{R}),
lp{R} AS MATERIALIZED (
  SELECT piece,
         CAST(floor(ln(CAST(cnt AS DOUBLE) / (SELECT tot FROM t{R}))
                    * 1000000 + 0.5) AS BIGINT) AS lp
  FROM c{R}
),
sc{R} AS (
  SELECT sp.word, sp.lens, sum(l.lp) AS score, count(*) AS np
  FROM sp JOIN lp{R} l ON l.piece = sp.piece
  GROUP BY 1, 2
),
best{R} AS MATERIALIZED (
  SELECT word, lens FROM (
    SELECT word, lens,
           row_number() OVER (PARTITION BY word
                              ORDER BY score DESC, np ASC, lens ASC) AS rn
    FROM sc{R}) WHERE rn = 1
)"""
    return f"""wf AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
    FROM documents
  ) WHERE word != '' AND length(word) <= {_UNI_MAXW} GROUP BY word
),
pos AS (
  SELECT word, freq, CAST(unnest(range(1, length(word) + 1)) AS INT) AS s
  FROM wf
),
spl AS (
  SELECT word, freq, s,
         CAST(unnest(range(1, least({_UNI_MAXP}, length(word) - s + 1) + 1)) AS INT) AS l
  FROM pos
),
sub AS (SELECT substr(word, s, l) AS piece, sum(freq) AS cnt FROM spl GROUP BY 1),
extras AS MATERIALIZED (
  SELECT piece, cnt FROM sub WHERE length(piece) >= 2
  ORDER BY cnt DESC, piece LIMIT {_UNI_TOPK}
),
c0 AS MATERIALIZED (
  SELECT piece, CAST(cnt AS BIGINT) AS cnt FROM sub WHERE length(piece) = 1
  UNION ALL
  SELECT piece, CAST(cnt AS BIGINT) FROM extras
),
walk(word, pos_i, lens) AS (
  SELECT word, CAST(1 AS INT), CAST('' AS VARCHAR) FROM wf
  UNION ALL
  SELECT w.word, w.pos_i + ls.l, w.lens || CAST(ls.l AS VARCHAR)
  FROM walk w, (SELECT CAST(unnest(range(1, {_UNI_MAXP} + 1)) AS INT) AS l) ls
  WHERE w.pos_i + ls.l <= length(w.word) + 1
    AND substr(w.word, w.pos_i, ls.l) IN (SELECT piece FROM c0)
),
segs AS MATERIALIZED (
  SELECT word, lens FROM walk WHERE pos_i = length(word) + 1
),
sp AS MATERIALIZED (
  SELECT word, lens,
         substr(word,
                CAST(1 + coalesce(sum(CAST(substr(lens, CAST(i AS INT), 1) AS INT))
                         OVER (PARTITION BY word, lens ORDER BY i
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING), 0) AS INT),
                CAST(substr(lens, CAST(i AS INT), 1) AS INT)) AS piece
  FROM (SELECT word, lens, unnest(range(1, length(lens) + 1)) AS i FROM segs)
),
{rounds},
{final}"""


def _unigram_schedule_oracle() -> str:
    finals = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, c.piece, c.cnt, l.lp AS lp_micro "
        f"FROM c{r} c JOIN lp{r} l USING (piece)"
        for r in range(_UNI_ROUNDS + 1)
    )
    return f"""
WITH RECURSIVE {_unigram_ctes()}
{finals}
"""


@register("text_unigram_lm", _unigram_schedule_oracle())
def text_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer fitting (Kudo 2018 — the SentencePiece
    objective) as a fully-oracled deterministic twin (round-9 verdict
    ask #6), completing the subword trifecta next to BPE
    (text_bpe_merges) and WordPiece (text_wordpiece_apply): seed
    vocabulary = singles ∪ top-40 substrings, then 3 hard-EM rounds
    whose E-step is exact-integer Viterbi over 6-dp-quantized micro-nat
    log-probs (int64 score sums — the c7b_gmm_md5em fold discipline,
    here with NO float folds at all) and whose M-step is a
    +1-smoothed usage recount over the fixed vocabulary. Output is the
    VOCABULARY SCHEDULE: (round, piece, count, lp_micro) for rounds
    0..3 — the trajectory a tokenizer-training audit inspects. The
    oracle unrolls all rounds as CTEs and enumerates segmentations
    ONCE via a recursive walk (vocabulary stability makes the
    enumeration round-invariant; only scores change). Corpus-sized
    work is one scan + one substring explode; EM runs on the bounded
    ≤(alphabet+40)-row state (operators/text.unigram_lm_fit)."""
    docs = load_table(spark, sf_dir, "documents")
    schedule, _ = T.unigram_lm_fit(
        docs,
        rounds=_UNI_ROUNDS,
        top_k=_UNI_TOPK,
        max_piece=_UNI_MAXP,
        max_word=_UNI_MAXW,
    )
    return spark.createDataFrame(
        schedule, "round int, piece string, cnt long, lp_micro long"
    )


@register(
    "text_unigram_fertility",
    f"""
WITH RECURSIVE {_unigram_ctes()},
npf AS (SELECT word, CAST(length(lens) AS BIGINT) AS np FROM best{_UNI_ROUNDS}),
dw AS (
  SELECT lang, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
  FROM documents
),
dwf AS (SELECT lang, word FROM dw WHERE word != '' AND length(word) <= {_UNI_MAXW})
SELECT lang,
       CAST(count(*) AS BIGINT) AS total_words,
       CAST(sum(np) AS BIGINT) AS total_unigram_tokens,
       round(CAST(sum(np) AS DOUBLE) / count(*), 6) AS unigram_fertility
FROM dwf JOIN npf USING (word)
GROUP BY lang
""",
)
def text_unigram_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language fertility of the learned unigram-LM tokenizer —
    the comparison row next to text_lang_fertility (same lang keys and
    total_words, so joining the two gives the unigram-vs-BPE-ish
    fertility comparison per language; kept as its own query so
    text_lang_fertility's single-scan plan stays untouched).
    Application is the scale shape every tokenizer plan here uses:
    per-DISTINCT-word segment counts (bounded, broadcast) joined to
    one corpus word explode + a tiny lang shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    _, npf = T.unigram_lm_fit(
        docs,
        rounds=_UNI_ROUNDS,
        top_k=_UNI_TOPK,
        max_piece=_UNI_MAXP,
        max_word=_UNI_MAXW,
    )
    dw = docs.select(
        "lang", F.explode(T.tokens_expr()).alias("word")
    ).where((F.col("word") != "") & (F.length("word") <= _UNI_MAXW))
    return dw.join(F.broadcast(npf), "word").groupBy("lang").agg(
        F.count("*").alias("total_words"),
        F.sum("np").cast("long").alias("total_unigram_tokens"),
        F.round(
            F.sum("np").cast("double") / F.count("*"), 6
        ).alias("unigram_fertility"),
    )

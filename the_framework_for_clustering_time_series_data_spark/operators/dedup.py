"""Deduplication operators for large-scale training-data pipelines:
exact, n-gram Jaccard, MinHash-LSH, SimHash, embedding-cosine near-dup.

Scale design:
  * exact dedup hashes the content (md5) and groups on the hash — the
    shuffle key is 16 bytes regardless of document size;
  * n-gram Jaccard joins only pairs that SHARE a shingle (inverted-index
    join), never the full cross product;
  * MinHash-LSH bands signatures so candidate pairs collide in buckets —
    join cost scales with collisions, not n²;
  * SimHash reduces each doc to one 64-bit int; near-dup = small
    Hamming distance, found via pigeonhole band-exact match
    (:func:`hamming_pairs`, also the image/audio hash near-dup join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from the_framework_for_clustering_time_series_data_spark.functions.plan_tools import (
    ensure_min_parallelism,
    stage_checkpoint,
)
from the_framework_for_clustering_time_series_data_spark.operators.cluster import deterministic_lloyd_assign
from the_framework_for_clustering_time_series_data_spark.operators.corpus_guard import collect_bounded, id_spark_type
from the_framework_for_clustering_time_series_data_spark.operators.text import tokens_expr


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: md5(text) → (text_hash, n_dups, keep_id)
    with keep_id = min id (the canonical survivor).
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keep_id"))
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one row per distinct text (the min-id row)."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(id_col)
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


def _shingles_raw(text_col: str, n: int) -> F.Column:
    """Word n-gram shingles of lowercase text (with repeats).

    Built from SHIFTED-ARRAY zips, not per-position slices: the
    previous ``transform(idx, i -> concat_ws(' ', slice(toks, i+1,
    n)))`` allocated one array copy + string builder PER POSITION
    (~3.3 s per sf0.1 corpus pass); folding ``zip_with(g, slice(toks,
    j, …), concat)`` over j = 2..n does n−1 slices + zips PER ROW —
    identical strings (null-propagating concat marks the tail where a
    shifted array ran out; the filter drops it, which also yields []
    for sub-n-token docs, matching the oracle's WHERE len >= n), 8×
    faster (0.42 s). Speeds every string-shingle consumer
    (ngram-Jaccard family, incremental/containment dedup)."""
    toks = tokens_expr(text_col)
    g = toks
    for j in range(2, n + 1):
        shifted = F.slice(
            toks, j, F.greatest(F.size(toks) - F.lit(j - 1), F.lit(0))
        )
        g = F.zip_with(g, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.filter(g, lambda x: x.isNotNull())


def _shingles(text_col: str, n: int) -> F.Column:
    """Distinct word n-gram shingles of lowercase text."""
    return F.array_distinct(_shingles_raw(text_col, n))


def _hashed_shingles(text_col: str, n: int, family: str = "xxhash64") -> F.Column:
    """Distinct 64-bit hashes of word n-gram shingles, WITHOUT
    materializing shingle strings: hash each token once, then combine
    the n consecutive token hashes position-sensitively with
    shift+xor. ~8× faster than hashing per-position string slices (no
    per-shingle array slice / string concat / string hash), at the
    cost of a composed hash instead of a direct string hash — fine
    wherever any well-mixed injective-whp shingle→long map works
    (MinHash signatures, Jaccard counting).

    ``family``: "xxhash64" (prod, one JVM op per token) or "md5" —
    the portable 60-bit ``conv(substr(md5(tok),1,15),16,10)`` family
    DuckDB reproduces bit-identically, for oracle-checked twins.
    """
    th = F.transform(tokens_expr(text_col), lambda t: _token_hash(t, family))

    def combine(th_arr: F.Column):
        def h(i: F.Column) -> F.Column:
            acc = F.shiftleft(F.get(th_arr, i), n - 1)
            for j in range(1, n):
                acc = acc.bitwiseXOR(F.shiftleft(F.get(th_arr, i + j), n - 1 - j))
            return acc

        # same size<n guard as _shingles_raw (sequence would descend)
        idx = F.when(
            F.size(th_arr) >= n, F.sequence(F.lit(0), F.size(th_arr) - F.lit(n))
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(idx, h)

    # bind the token-hash array to a lambda variable so it is evaluated
    # ONCE per row — inlining `th` into every F.get() would re-run the
    # whole token-hash transform per shingle position (O(L²) hashing;
    # Catalyst does not CSE across lambda bodies)
    return F.array_distinct(
        F.get(F.transform(F.array(th), combine), 0)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
    shingle_hash: str | None = None,
    max_docs: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard similarity ≥
    threshold.

    Inverted-index plan: explode distinct shingles → self-join on the
    shingle (only co-shingled pairs meet) → per-pair intersection count
    → Jaccard = |∩| / (|A| + |B| - |∩|). The shuffle key is the
    shingle.

    ``max_doc_freq`` (off by default, exact semantics) drops shingles
    occurring in more than that many documents BEFORE the self-join —
    the scale guard for boilerplate shingles, whose bucket contributes
    O(df²) join rows while adding almost no Jaccard discrimination.
    With the cap on, reported Jaccard is computed over the surviving
    (rarer) shingles only, i.e. a slight underestimate for pairs that
    shared hot shingles; denominators still use the FULL shingle
    counts, so capped results never gain false positives.

    ``shingle_hash``: ``None`` joins on shingle STRINGS (exact,
    oracle-literal); ``"xxhash64"`` / ``"md5"`` join on 64-bit shingle
    hashes instead — no shingle strings ever materialize or shuffle
    (the scale form; ``"md5"`` is the portable family a DuckDB oracle
    reproduces bit-identically, see ``_hashed_shingles``).

    ``max_docs`` (off by default) bounds the EXACT form's otherwise
    unbounded Σ df² self-join by restricting it to a deterministic
    document sample: the ``max_docs`` ids with the smallest
    md5(id) (stable across engines and corpus growth — the
    ``ts_pair_correlation`` sampling discipline). Below the cap the
    output is identical to the uncapped form; above it, the pair
    budget is a constant ≤ max_docs²/2 regardless of corpus size.
    Jaccard within the sample is exact.
    """
    sh_col = (
        _shingles(text_col, n)
        if shingle_hash is None
        else _hashed_shingles(text_col, n, family=shingle_hash)
    )
    base = ensure_min_parallelism(df)
    if max_docs is not None:
        keep = (
            base.select(F.col(id_col))
            .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
            .limit(max_docs)
        )
        base = base.join(F.broadcast(keep), id_col, "left_semi")
    docs = base.select(
        F.col(id_col).alias("id"), sh_col.alias("sh")
    ).withColumn("n_sh", F.size("sh"))
    ex = docs.select("id", "n_sh", F.explode("sh").alias("shingle"))
    if max_doc_freq is not None:
        # the postings feed BOTH the doc-frequency aggregate and the
        # anti-join input — checkpoint so tokenize + shingle + hash +
        # explode run once, not twice (guide §2.4; the
        # reliable-checkpoint conf covers the cluster form)
        ex = ex.transform(stage_checkpoint, eager=False)
        hot = (
            ex.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") > max_doc_freq)
            .select("shingle")
        )
        ex = ex.join(F.broadcast(hot), "shingle", "left_anti")
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.withColumn("jaccard", F.round(jac, 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def md5_60bit_hash(col) -> F.Column:
    """The portable 60-bit token-hash family shared by every
    oracle-checked dedup twin: ``conv(substr(md5(x),1,15),16,10)``,
    reproduced bit-identically in DuckDB as
    ``CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)``. ONE
    definition — the minhash/simhash/jaccard oracles all depend on
    these two expressions staying in lockstep."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _token_hash(col, family: str) -> F.Column:
    """The per-token hash of every dedup kernel: ``"xxhash64"`` (prod,
    one JVM op per token) or ``"md5"`` (:func:`md5_60bit_hash`, the
    portable family the oracle-checked twins use). Any other name is
    refused: hashing it with xxhash64 would silently drop the
    portability the caller asked for."""
    if family == "md5":
        return md5_60bit_hash(col)
    if family == "xxhash64":
        return F.xxhash64(col)
    raise ValueError(f"unknown token hash family {family!r}: 'xxhash64' or 'md5'")


def minhash_xor_family(num_hashes: int) -> list[int]:
    """The seeded XOR-permutation constants shared by the Spark
    operator and the DuckDB oracle twin (plans/dedup_plans.py) — both
    sides must draw the identical family for value parity."""
    import numpy as np

    rng = np.random.default_rng(42)
    return [int(x) for x in rng.integers(0, 2**63, num_hashes, dtype=np.int64)]


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    num_hashes: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash + LSH banding,
    verified with exact Jaccard on the candidates.

    The candidate pairs and their shingle sets are each pinned once by
    an eager ``stage_checkpoint`` (plan-shape tests inspect the full
    plan through its ``spark.graft.checkpoint.disabled`` seam).

    Pipeline (all DataFrame ops, deterministic):
      1. tokenize → posexplode tokens → ONE codegen'd xxhash64 per
         token row → n-gram shingle hashes by shift-xor composition of
         ``lead()`` neighbor hashes (no shingle strings ever
         materialize — every later step runs on 64-bit longs); the
         ``num_hashes`` family members are XOR permutations h ⊕ r_i;
      2. per doc: ONE groupBy(id) computing all num_hashes min(sh ⊕ r_i)
         aggregates — the minhash signature. The groupBy sits on the
         window's hash partitioning by id, so the signature stage is a
         single shuffle and every expression runs in whole-stage
         codegen. (Two rejected designs: folding 64 array_min/transform
         HOFs over a shingle array — HOF lambdas evaluate INTERPRETED
         at ~6 µs/element, 4-5× slower; and collect_set-ing every doc's
         shingle set alongside the signature and caching it — O(corpus
         tokens) executor memory, the verify pass below re-derives sets
         for candidates only instead.);
      3. band the signature (num_hashes/band_size bands), hash each
         band, groupBy (band_id, band_hash) bucket → generate pairs
         WITHIN each bucket (sorted collect_list + combination explode)
         — one aggregation, no self-join, signature computed once;
      4. Jaccard on the candidate pairs only, as intersection of the
         hashed-shingle sets (collision odds ~2^-64·|A|·|B| — exact in
         practice, and long equality beats string equality).

    Scale: candidate generation is linear in n_docs × num_hashes plus
    Σ bucket_size² over colliding buckets; a hot bucket (boilerplate
    docs) is capped at ``max_bucket`` to bound the quadratic term.
    Docs with fewer than ``n`` tokens have no shingles and drop out
    (they cannot be near-duplicates under n-gram Jaccard).

    ``hash_family``: ``"xxhash64"`` (default, prod — one codegen'd JVM
    op per token) or ``"md5"`` — a portable 60-bit family
    (``conv(substring(md5(tok),1,15),16,10)``) that DuckDB computes
    bit-identically (``('0x' || substr(md5(tok),1,15))::BIGINT``), so
    the registered query gets a full value-hash oracle instead of a
    rows-only check. The md5 family also swaps the band-bucket key
    from xxhash64-of-band to the raw signature tuple, keeping every
    step reproducible cross-engine.
    """
    tok_hash = _token_hash("tok", hash_family)
    df = ensure_min_parallelism(df)
    band_size = 4
    n_bands = num_hashes // band_size
    max_bucket = 1000
    # XOR family: h ⊕ r_i is a bijection of the hash space and NOT
    # monotonic in h, so each family member has its own argmin shingle
    # (a monotonic transform like a·h+b without a modulus would make
    # all 64 minhashes pick the same shingle and collapse the LSH to a
    # single estimator). One bitwise op per element — cheaper than the
    # classical (a·h+b) mod P family; weaker theoretical min-wise
    # independence, measured recall 1.0 vs exact Jaccard at θ=0.5 on
    # the documents table.
    rs = minhash_xor_family(num_hashes)

    def shingle(d: DataFrame) -> DataFrame:
        toks = tokens_expr(text_col)
        ex = d.select(
            F.col(id_col).alias("id"), F.posexplode(toks).alias("pos", "tok")
        ).select("id", "pos", tok_hash.alias("h"))
        w = Window.partitionBy("id").orderBy("pos")
        neighbors = [F.col("h")] + [F.lead("h", j).over(w) for j in range(1, n)]
        with_nb = ex.select(
            "id", *[nb.alias(f"h{j}") for j, nb in enumerate(neighbors)]
        )
        sh_hash = F.shiftleft(F.col("h0"), n - 1)
        for j in range(1, n):
            sh_hash = sh_hash.bitwiseXOR(F.shiftleft(F.col(f"h{j}"), n - 1 - j))
        return with_nb.where(F.col(f"h{n - 1}").isNotNull()).select(
            "id", sh_hash.alias("sh")
        )

    # Pass 1 over the corpus: ONLY the 64-long minhash signature per doc
    # — no shingle-set arrays materialize for the full corpus (caching
    # per-doc collect_set arrays is O(corpus tokens) memory and the GC
    # hazard that made this stage jittery; at fleet scale it's simply
    # impossible, so the design is: signatures for everyone, shingle
    # sets only for candidates in pass 2). The signature and the band
    # array are each ONE parsed SQL expression, one py4j round trip
    # where building them Column by Column cost several per element.
    sig = shingle(df).groupBy("id").agg(
        F.expr("array(" + ",".join(f"min(sh ^ {r}L)" for r in rs) + ")").alias("sig"),
    )

    def band_key(b):
        elems = [f"element_at(sig, {b * band_size + j + 1})" for j in range(band_size)]
        if hash_family == "md5":
            # portable: the raw signature tuple IS the bucket key — no
            # engine-specific band hash between Spark and the oracle
            return "named_struct(" + ",".join(f"'e{j}', {e}" for j, e in enumerate(elems)) + ")"
        return f"xxhash64({','.join(elems)})"

    bands = sig.select(
        "id",
        F.expr(
            "explode(array("
            + ",".join(
                f"named_struct('band_id', {b}, 'band_hash', {band_key(b)})"
                for b in range(n_bands)
            )
            + "))"
        ).alias("bb"),
    ).select("id", "bb.band_id", "bb.band_hash")
    buckets = (
        bands.groupBy("band_id", "band_hash")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .where((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
    )
    # all (a < b) combinations within a bucket, generated array-side
    pair_arr = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    # cand is used twice below (id set + final join) and is tiny —
    # materialize IT (localCheckpoint) rather than .cache(), which
    # would pin a cache-manager entry per call for the session's
    # lifetime. Its blocks stay registered after the result is dropped
    # until an explicit unpersist: runners free them with
    # functions.runstats.release.
    cand = (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
        .transform(stage_checkpoint, eager=True)
    )
    # Pass 2: exact shingle sets for CANDIDATE docs only. The broadcast
    # semi-join prunes the corpus BEFORE tokenization, so this pass is
    # linear in the candidate count, not the corpus.
    cand_ids = (
        cand.select(F.col("id_a").alias(id_col))
        .union(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    df_cand = df.join(F.broadcast(cand_ids), id_col, "left_semi")
    # materialized once (candidate-sized): the verify join consumes sh
    # TWICE (as sh_a and sh_b) and without a checkpoint each side
    # re-tokenizes the candidate docs — the load-sensitive recompute
    # behind the round-2 run-to-run spread.
    sh = (
        shingle(df_cand)
        .groupBy("id")
        .agg(F.collect_set("sh").alias("hs"))
        .withColumn("n_sh", F.size("hs"))
        .transform(stage_checkpoint, eager=True)
    )
    verified = (
        cand.join(sh.select(F.col("id").alias("id_a"), F.col("hs").alias("sh_a"), F.col("n_sh").alias("n_a")), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("hs").alias("sh_b"), F.col("n_sh").alias("n_b")), "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """SimHash fingerprint per document over lowercase word tokens.

    Per token, a hash; per bit position, sum of ±1 across tokens;
    fingerprint bit b = 1 iff the sum > 0. Computed as a single grouped
    aggregate over exploded (token, bit) pairs — no Python, no per-row
    loops.

    ``hash_family``: "xxhash64" (prod default, 64 bits) or "md5" — the
    portable 60-bit family DuckDB reproduces bit-identically (pass
    ``bits=60`` with it), giving the registered query a full value-hash
    oracle; see minhash_lsh_pairs for the family definition.
    """
    tok_hash = _token_hash("tok", hash_family)
    toks = tokens_expr(text_col)
    ex = ensure_min_parallelism(df).select(
        F.col(id_col).alias("id"), F.explode(toks).alias("tok")
    ).withColumn("h", tok_hash)
    bit_votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    votes = ex.groupBy("id").agg(*bit_votes)
    fp = None
    for b in range(bits):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(1 << b).cast("long") if b < 63 else F.when(F.col(f"b{b}") > 0, F.lit(-(1 << 63)).cast("long")).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    return votes.select("id", fp.alias("simhash"))


def embedding_cosine_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_corpus_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine ≥ threshold).

    Brute-force O(n²) pairwise — the correct baseline; at scale use
    LSH bucketing (similarity.ann_lsh_topk) to prune candidates first.

    Physical strategy: the corpus matrix is small by this operator's
    contract (brute force is only ever run on a bounded corpus,
    enforced by ``collect_bounded``), so it broadcasts
    L2-normalized to every executor and each Arrow batch scores ITSELF
    against the whole corpus with one BLAS matmul, emitting only
    above-threshold pairs with the id_a < id_b dedup applied in NumPy
    — the same broadcast-matmul shape as similarity.brute_force_topk's
    scoring pass.
    """
    import numpy as np
    import pandas as pd

    id_t = id_spark_type(emb, id_col)
    v = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    rows = collect_bounded(
        v,
        op="embedding_cosine_pairs",
        scale_route="similarity.ann_lsh_topk / semantic_dedup (cell-bounded)",
        limit=max_corpus_rows,
    )
    # id dtype follows the input column (string series ids stay strings)
    ids = np.array([r["id"] for r in rows])
    mat = np.array([r["v"] for r in rows], dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    bc = emb.sparkSession.sparkContext.broadcast((ids, mat))

    def score(batches):
        all_ids, all_mat = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            bids = pdf["id"].to_numpy()
            bm = np.array(pdf["v"].tolist(), dtype=np.float64)
            bm = bm / np.linalg.norm(bm, axis=1, keepdims=True)
            sims = np.round(bm @ all_mat.T, 6)
            ri, ci = np.nonzero(
                (sims >= threshold) & (all_ids[None, :] > bids[:, None])
            )
            if len(ri):
                yield pd.DataFrame(
                    {
                        "id_a": bids[ri],
                        "id_b": all_ids[ci],
                        "cosine": sims[ri, ci],
                    }
                )

    return v.mapInPandas(score, f"id_a {id_t}, id_b {id_t}, cosine double")


def _hamming_bands(
    df: DataFrame, lanes: tuple[str, ...], bits: int, bands: int
) -> DataFrame:
    """The pigeonhole band layout of every Hamming near-dup search:
    each row of ``df`` exploded into ``bands`` rows, with
    ``(band_id, band_val)`` added. The bands split evenly across the
    int64 ``lanes``; each lane's low ``bits`` are covered by contiguous
    bands whose widths differ by at most one bit, and band ids run lane
    by lane. A pair within summed Hamming distance ``bands - 1``
    differs in fewer bits than there are bands, so it agrees exactly on
    at least one band."""
    per_lane = bands // len(lanes)
    base, extra = divmod(bits, per_lane)
    vals = []
    for lane in lanes:
        off = 0
        for b in range(per_lane):
            w = base + (1 if b < extra else 0)
            # a full 64-bit band: (1 << 64) - 1 overflows a long literal
            mask = (1 << w) - 1 if w < 64 else -1
            vals.append(
                F.shiftrightunsigned(F.col(lane), off).bitwiseAND(F.lit(mask))
            )
            off += w
    return df.select(
        "*", F.posexplode(F.array(*vals)).alias("band_id", "band_val")
    )


def hamming_pairs(
    left: DataFrame,
    right: DataFrame | None = None,
    *,
    id_col: str,
    lanes: tuple[str, ...],
    bands: int,
    max_hamming: int,
    bits: int = 64,
) -> DataFrame:
    """Near-duplicate pairs by Hamming distance over int64 hash
    ``lanes`` (summed across lanes): ``(id_a, id_b, hamming)`` for
    every pair with ``id_a < id_b`` and ``hamming <= max_hamming``,
    ``id_a`` from ``left`` and ``id_b`` from ``right`` (``None``: a
    self-join of ``left``). The one near-dup kernel of perceptual
    image hashes, audio fingerprints and streaming SimHash.

    Pigeonhole banding (:func:`_hamming_bands`) makes candidates an
    EQUI-join on (band_id, band_val), never an all-pairs comparison;
    ``distinct`` drops pairs that collide in several bands and
    ``bit_count(xor)`` verifies exactly. Recall is exact because
    ``max_hamming < bands`` is required.

    Scale: the shuffle key is the band value, and random band keys
    collide at ~n²/2^width per band. Two lanes (the 128-bit dHash ‖
    aHash form) afford 4 bands of 32 bits at the same Hamming ≤ 3
    contract, where one 64-bit lane has 4 bands of 16 bits: a 65,536×
    cut in candidate volume (tests/test_scale_smoke.py measures it at
    1M hashes). The caller checkpoints an expensive hash input, since
    both join sides consume it."""
    if max_hamming >= bands:
        raise ValueError(
            f"pigeonhole needs max_hamming < bands ({max_hamming} >= {bands})"
        )
    if bands % len(lanes) or not len(lanes) <= bands <= bits * len(lanes):
        raise ValueError(
            f"bands must split evenly across the {len(lanes)} int64 lanes, "
            f"at least one bit each: {bands}"
        )
    hs = tuple(f"h{i}" for i in range(len(lanes)))
    cols = [F.col(id_col).alias("id")] + [
        F.col(c).alias(h) for c, h in zip(lanes, hs)
    ]
    a = _hamming_bands(left.select(*cols), hs, bits, bands)
    b = a if right is None else _hamming_bands(right.select(*cols), hs, bits, bands)
    cand = (
        a.alias("a")
        .join(
            b.alias("b"),
            on=[
                F.col("a.band_id") == F.col("b.band_id"),
                F.col("a.band_val") == F.col("b.band_val"),
                F.col("a.id") < F.col("b.id"),
            ],
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            *[F.col(f"a.{h}").alias(f"{h}a") for h in hs],
            *[F.col(f"b.{h}").alias(f"{h}b") for h in hs],
        )
        .distinct()  # a pair can collide in several bands
    )
    ham = None
    for h in hs:
        d = F.bit_count(F.col(f"{h}a").bitwiseXOR(F.col(f"{h}b")))
        ham = d if ham is None else ham + d
    return cand.select("id_a", "id_b", ham.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """SimHash near-duplicate pairs: Hamming(simhash_a, simhash_b) ≤
    ``max_hamming``.

    Pigeonhole banding (:func:`_hamming_bands`: ``max_hamming + 1``
    bands covering all bits, so a qualifying pair agrees EXACTLY on at
    least one): candidates = same-(band, value) bucket pairs (one
    groupBy — same shape as the MinHash banding), then exact
    verification via bit_count(xor). Never an O(n²) comparison. (A
    fixed 4-band split would silently drop pairs when max_hamming > 3.)
    Buckets with more than 1,000 members are skipped (the oracle
    replays the cap); :func:`hamming_pairs` is the uncapped join.
    """
    fp = simhash(df, text_col=text_col, id_col=id_col, bits=bits, hash_family=hash_family)
    bands = _hamming_bands(fp, ("simhash",), bits, max_hamming + 1)
    buckets = (
        bands.groupBy("band_id", "band_val")
        .agg(F.sort_array(F.collect_list(F.struct("id", "simhash"))).alias("ms"))
        .where((F.size("ms") > 1) & (F.size("ms") <= 1000))
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ms"),
            lambda x, i: F.transform(
                F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    y["id"].alias("id_b"),
                    x["simhash"].alias("ha"),
                    y["simhash"].alias("hb"),
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select("p.id_a", "p.id_b", F.bit_count(F.col("p.ha").bitwiseXOR(F.col("p.hb"))).alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
    small_graph_threshold: int = 200_000,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over an undirected edge list by two-phase
    alternating star contraction (Kiveris et al. 2014): every node ends
    up labeled with the minimum node id reachable from it. Returns
    (node, component); ``stats`` (optional dict) receives the round
    count under ``"rounds"``.

    Each round is a large-star + small-star pair — one grouped min and
    one same-key equi-join each. Convergence is O(log n) rounds even on
    adversarial chain-shaped graphs (containment chains a⊂b⊂c⊂…, where
    plain min-label propagation needs O(diameter) rounds): each
    large-star at least halves every path. ``localCheckpoint`` per
    round keeps the plan flat instead of growing the lineage
    exponentially (same pattern as the DBSCAN component search,
    cluster.py).

    Adaptive fast path: when the (deduplicated) edge list is at most
    ``small_graph_threshold`` rows, the component search runs as
    driver-side union-find on the collected edges — microseconds of
    CPU over a few MB — instead of paying J Spark jobs of fixed
    scheduling overhead for a loop whose data fits in one hand. This
    is the same runtime-adaptive reasoning AQE applies to join
    strategies; the distributed loop below is the ≥-threshold path
    and the two are equivalent by construction (tests cover both by
    crossing the threshold).
    """
    bi = (
        edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst"))
        .union(edges.select(F.col(dst).alias("e_src"), F.col(src).alias("e_dst")))
        .distinct()
        .transform(stage_checkpoint, eager=True)
    )
    n_edges = bi.count()
    if n_edges <= small_graph_threshold:
        rows = bi.collect()
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for r in rows:
            a, b = r["e_src"], r["e_dst"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min id keeps the min-label convention
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        out = [(n, find(n)) for n in parent]
        # id type follows the input (long for doc/vec ids, string for
        # sliding-window synthetic series ids)
        idt = edges.schema[src].dataType.simpleString()
        return edges.sparkSession.createDataFrame(
            out, f"node {idt}, component {idt}"
        )
    # Two-phase star contraction (Kiveris et al., "Connected Components
    # in MapReduce and Beyond"): alternate large-star / small-star until
    # the edge set is a fixed point — a star per component rooted at its
    # minimum id. Converges in O(log n) rounds in practice (each
    # large-star at least halves path lengths), vs the O(diameter)
    # rounds of plain min-label propagation, which degrades on
    # chain-shaped duplicate clusters (containment chains a⊂b⊂c⊂…).
    # Edges stay oriented (u > v) between phases; every step is one
    # grouped min + one equi-join on the SAME key, so the join reuses
    # the aggregate's partitioning.
    E = (
        bi.where(F.col("e_src") > F.col("e_dst"))
        .select(F.col("e_src").alias("u"), F.col("e_dst").alias("v"))
        .transform(stage_checkpoint, eager=True)
    )

    def _signature(e: DataFrame) -> tuple:
        row = e.agg(
            F.count("*").alias("n"),
            # decimal accumulator: ANSI mode forbids long-sum overflow
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    sig = _signature(E)
    rounds = 0
    for _ in range(max_iter):
        # large-star: over the symmetric view, attach every neighbor
        # v > u to m(u) = min(Γ(u) ∪ {u}); output stays (hi, lo)
        sym = E.select("u", "v").union(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m_lg = sym.groupBy("u").agg(
            F.least(F.min("v"), F.col("u")).alias("m")
        )
        lg = (
            sym.where(F.col("v") > F.col("u"))
            .join(m_lg, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star: all strictly-smaller neighbors (and u itself)
        # attach to the minimum neighbor
        m_sm = lg.groupBy("u").agg(F.min("v").alias("m"))
        sm = (
            lg.join(m_sm, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m_sm.select(F.col("u"), F.col("m").alias("v")))
            .distinct()
            .transform(stage_checkpoint, eager=True)
        )
        rounds += 1
        new_sig = _signature(sm)
        E = sm
        if new_sig == sig:
            break
        sig = new_sig
    if stats is not None:
        stats["rounds"] = rounds
    # fixed point: E = {(node, root)} per component; roots appear only
    # as destinations and label themselves
    return E.select(F.col("u").alias("node"), F.col("v").alias("component")).union(
        E.select(F.col("v").alias("node"), F.col("v").alias("component")).distinct()
    )


def duplicate_groups(pairs: DataFrame) -> DataFrame:
    """Near-duplicate GROUPS from a pair list: transitive closure of
    the pairs, one group per component, group id = min doc id in the
    group (the canonical survivor a dedup pipeline keeps). Returns
    (doc_id, group_id, group_size) for every doc in some group.
    """
    comp = connected_components(pairs)
    w = Window.partitionBy("group_id")
    return (
        comp.select(F.col("node").alias("doc_id"), F.col("component").alias("group_id"))
        .withColumn("group_size", F.count("*").over(w))
    )


def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    threshold: float = 0.9,
    seed: int = 7,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023,
    arXiv:2303.09540): k-means partitions the embedding space into
    cells, pairwise cosine runs only WITHIN a cell (bounding the
    quadratic pair scan to ~ (n/k)^2 per cell instead of n^2), near-dup
    pairs are closed transitively, and each duplicate group keeps the
    single member CLOSEST to its cell centroid (the best exemplar of
    the local mode).

    Cells come from MLlib ``KMeans`` (kmeans|| seeding, ``seed``
    pinned); everything after the assignment is the shared per-cell
    tail (:func:`_cell_groups_fn`: half-up-6dp cosine decision, in-task
    closure, (d2, id) survivor). MLlib's seeding and float
    reductions are implementation-defined, so this form is rows-only;
    :func:`semantic_dedup_deterministic` is its replayable sibling.
    ``KMeans.fit`` raises on an empty input.

    Returns one row per input vector:
    (id, cell, group_id, group_size, keep) — singletons keep
    themselves with group_size 1. Cross-cell duplicates are missed by
    construction; that is the accepted recall trade the paper makes to
    scale past brute force.
    """
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("_features", array_to_vector("v"))
    model = KMeans(
        k=n_cells, seed=seed, featuresCol="_features", predictionCol="cell"
    ).fit(vecs)
    return _close_cells(
        model.transform(vecs).select("cell", "id", "v"),
        id_spark_type(emb, id_col),
        threshold,
        centers=np.array(model.clusterCenters(), dtype=np.float64),
    )


def semantic_dedup_deterministic(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    threshold: float = 0.9,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) with a DETERMINISTIC,
    cross-engine-replayable cell assignment: ``n_cells`` cells from one
    two-round md5-Lloyd fit (``cluster.deterministic_lloyd_assign``,
    parity disciplines in ``cluster.md5_lloyd``), so the DuckDB twin
    (``plans.dedup_plans._semantic_oracle_sql``) replays every cell.
    It differs from :func:`semantic_dedup` only in that assignment;
    the pair decision, closure and survivor pick are the shared
    per-cell tail (:func:`_cell_groups_fn`): the cosine runs as one
    BLAS matmul per cell but its threshold DECISION keys on the
    half-up-6dp round in both engines, and the survivor is the
    (d2-to-own-centroid, id) argmin.

    Output matches semantic_dedup: one row per vector,
    ``(id, cell, group_id, group_size, keep)``.

    Scale shape: centroids are a broadcast ≤ n_cells×dim literal-sized
    frame; each round is one scan + per-id argmin (no shuffle of the
    vectors beyond the first exchange); the pair scan is bounded per
    cell exactly as the paper intends. The Lloyd round count is FIXED
    (not convergence-driven) — determinism over optimality, which is
    fine for cell BOUNDING where any reasonable partition works.
    """
    final, _ = deterministic_lloyd_assign(emb, n_cells, id_col=id_col, vec_col=vec_col)
    return _close_cells(final, id_spark_type(emb, id_col), threshold)


def _micro_mat(series, dim: int):
    """Arrow list<int64> Series → n×dim int64 matrix. np.stack is
    C-speed where .tolist() pays a Python object per element (measured
    ~2 s per 200k×64 pass)."""
    import numpy as np

    vals = series.to_numpy()
    return (
        np.stack(vals).astype(np.int64, copy=False)
        if len(vals)
        else np.empty((0, dim), dtype=np.int64)
    )


def _f64_exact_ok(dim: int, *mats) -> bool:
    """fp64 BLAS is EXACT for micro-unit integer kernels while every
    product/partial sum stays below 2^53: the 4 covers the combined
    d2 = ||x||² − 2·x·c + ||c||², whose magnitude reaches
    (|x|+|c|)²·dim ≤ 4·m²·dim. Inside the bound, dgemm returns the
    same integers the int64 einsum would — ~10-20× faster."""
    import numpy as np

    m = max(float(np.abs(a).max(initial=0.0)) for a in mats)
    return 4.0 * m * m * dim < float(2**53)


def _int64_exact_or_raise(dim: int, *mats) -> None:
    """The int64 fallback has its own exactness ceiling (round-11
    advice): past 4·m²·dim ≥ 2^63 (micro components beyond
    ~±sqrt(2^63/(4·dim)), i.e. raw values past ~±190 at dim 64) numpy
    int64 WRAPS silently while the DuckDB BIGINT twin errors — the
    bit-for-bit contract would break exactly where the f64 guard hands
    off. Refuse loudly instead."""
    import numpy as np

    m = max(float(np.abs(a).max(initial=0.0)) for a in mats)
    if 4.0 * m * m * dim >= float(2**63):
        bound = (float(2**63) / (4.0 * max(dim, 1))) ** 0.5
        raise ValueError(
            f"semantic dedup int kernel: micro-unit magnitude {m:.3g} "
            f"exceeds the int64-exact bound {bound:.3g} for dim={dim} — "
            "the integer kernel would overflow silently; rescale the "
            "embeddings (raw components must stay within "
            f"~±{bound / 1e6:.0f})"
        )


def _int_d2_matrix(X, C, dim: int):
    """D2 = ||x||² − 2·X·Cᵀ + ||c||² over int64 micro-unit rows —
    exact integers either path (f64 BLAS inside the 2^53 bound, int64
    einsum inside the 2^63 bound, loud refusal past that)."""
    import numpy as np

    if _f64_exact_ok(dim, X, C):
        Xf, Cf = X.astype(np.float64), C.astype(np.float64)
        return (
            np.einsum("ij,ij->i", Xf, Xf)[:, None]
            - 2 * (Xf @ Cf.T)
            + np.einsum("ij,ij->i", Cf, Cf)[None, :]
        )
    _int64_exact_or_raise(dim, X, C)
    return (
        np.einsum("ij,ij->i", X, X)[:, None]
        - 2 * (X @ C.T)
        + np.einsum("ij,ij->i", C, C)[None, :]
    )


def _nearest(X, C, dim: int):
    """Each int64 row of ``X``'s nearest row of ``C`` and its exact int
    d2. np.argmin takes the FIRST min and ``C`` is sorted by cell, so an
    exact-int tie goes to the lower cell — the oracle's ORDER BY d2,
    cell. An empty ``X`` yields empty arrays (argmin refuses a 0×0
    matrix, which an empty corpus's seed table produces)."""
    import numpy as np

    if not len(X):
        return np.empty(0, np.int64), np.empty(0, np.int64)
    d2 = _int_d2_matrix(X, C, dim)
    rows = np.argmin(d2, axis=1)
    return rows, d2[np.arange(len(rows)), rows].astype(np.int64)


def _cell_sums(X, labels):
    """Per-label int64 sums of ``X``'s rows: ``(labels present
    ascending, sums, counts)``. Integer sums are order-free, so a mean
    over partials equals the oracle's mean over members exactly."""
    import numpy as np

    order = np.argsort(labels, kind="stable")
    present, starts = np.unique(labels[order], return_index=True)
    sums = (
        np.add.reduceat(X[order], starts, axis=0)
        if len(starts)
        else np.empty((0, X.shape[1]), dtype=np.int64)
    )
    return present, sums, np.diff(np.append(starts, len(labels)))


_PARTIALS_SCHEMA = "cell int, vsum array<long>, n long"


def _partials_frame(X, cells):
    """One Lloyd update's per-task partials: ``X``'s rows reduced to
    per-cell ``(cell, vsum, n)``, at most k×dim per batch, so the
    update never ships the ``(id, v)`` payload to a regroup."""
    import numpy as np
    import pandas as pd

    present, sums, cnts = _cell_sums(X, cells)
    return pd.DataFrame(
        {"cell": present.astype(np.int32), "vsum": list(sums), "n": cnts}
    )


def _fold_centroids(parts: DataFrame, bc, dim: int):
    """The Lloyd centroid update shared by prod and coarse: fold the
    per-task ``(cell, vsum, n)`` partials (:func:`_partials_frame`) in
    ONE exchange — an int64 ``zip_with`` sum per cell (order-free exact
    adds), then ``floor(sum/cnt + 0.5)`` per component (the DuckDB
    twins' avg-over-members, value for value). Cells the round left
    empty drop, as in the twins. Returns ``(cells, k×dim int64
    centroids)`` sorted by cell and drops the round's centroid
    broadcast ``bc``, which the collect fully consumed."""
    import numpy as np

    zero = F.array_repeat(F.lit(0).cast("long"), dim)
    rows = (
        parts.groupBy("cell")
        .agg(
            F.sum("n").alias("ntot"),
            F.aggregate(
                F.collect_list("vsum"),
                zero,
                lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
            ).alias("vs"),
        )
        .select(
            "cell",
            F.transform(
                "vs",
                lambda s: F.floor(
                    s.cast("double") / F.col("ntot") + F.lit(0.5)
                ).cast("long"),
            ).alias("cvec"),
        )
        .orderBy("cell")
        .collect()
    )
    bc.unpersist(blocking=False)
    return (
        np.array([r["cell"] for r in rows], dtype=np.int64),
        np.array([r["cvec"] for r in rows], dtype=np.int64).reshape(len(rows), dim),
    )


def _micro_seeds(emb: DataFrame, id_col: str, vec_col: str, target_cell_size: int):
    """The prologue shared by prod and coarse: vectors quantized ONCE
    to int64 micro-units ``floor(x·1e6 + 0.5)`` (both engines compute
    the same fp64 product and floor), ``n`` and ``dim`` from one job,
    and the ``k = ceil(n / target_cell_size)`` smallest-md5(id) seed
    rows. Returns ``(v0, dim, seeds)``: the ``(id, v)`` frame and the
    k×dim int64 seed matrix (cell = row index), ``(0, dim)`` on an
    empty input."""
    import math

    import numpy as np

    v0 = emb.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)).cast("long"),
        ).alias("v"),
    ).transform(stage_checkpoint, eager=False)
    # F.first is order-arbitrary but dim is constant across rows
    nd = v0.agg(F.count("*").alias("n"), F.first("v").alias("v1")).head()
    dim = len(nd["v1"]) if nd["v1"] is not None else 0
    seeds = (
        v0.withColumn("_h", F.md5(F.col("id").cast("string")))
        .orderBy("_h", "id")
        .limit(max(1, math.ceil(nd["n"] / target_cell_size)))
        .collect()
    )
    return (
        v0,
        dim,
        np.array([r["v"] for r in seeds], dtype=np.int64).reshape(len(seeds), dim),
    )


def _groups_schema(id_t: str) -> str:
    return f"id {id_t}, cell int, group_id {id_t}, group_size long, keep boolean"


def _in_cell_roots(X, threshold: float):
    """Closure of one cell whose rows are sorted by id: the pair
    decision is cosine ≥ ``threshold`` after the half-up-6dp round,
    and each row's root is the row index of its group's smallest id.
    The cosine is one matmul; the denominator is sqrt(n2a)·sqrt(n2b) —
    the oracle's exact op chain — NOT sqrt(n2a·n2b), whose single sqrt
    rounds differently. Int64 micro-unit rows take fp64 BLAS inside
    the 2^53 bound (exact integers) and the int64 path past it."""
    import numpy as np

    if X.dtype.kind == "i" and not _f64_exact_ok(X.shape[1], X):
        _int64_exact_or_raise(X.shape[1], X)
        dots = (X @ X.T).astype(np.float64)
        n2 = np.einsum("ij,ij->i", X, X).astype(np.float64)
    else:
        Xf = X.astype(np.float64, copy=False)
        dots, n2 = Xf @ Xf.T, np.einsum("ij,ij->i", Xf, Xf)
    norms = np.sqrt(n2)
    sims = np.floor(dots / np.outer(norms, norms) * 1e6 + 0.5) / 1e6
    a, b = np.nonzero(np.triu(sims >= threshold, 1))
    # min-label union with pointer jumping until no edge lowers a root
    root = np.arange(len(X))
    while len(a):
        nxt = root.copy()
        lo = np.minimum(root[a], root[b])
        np.minimum.at(nxt, a, lo)
        np.minimum.at(nxt, b, lo)
        nxt = nxt[nxt]
        if np.array_equal(nxt, root):
            break
        root = nxt
    return root


def _cell_groups_fn(threshold: float, centers=None):
    """The per-cell SemDeDup tail all four entry points share, after
    their cell assignment: in-cell cosine pairs (half-up-6dp decision,
    :func:`_in_cell_roots`), an in-task closure, group sizes and the
    centroid-closest (d2, id) survivor. Rows arrive as ``(cell, id, v,
    d2)`` — ``v`` ``array<double>`` (semantic_dedup,
    semantic_dedup_deterministic) or int64 micro-units (prod, coarse);
    with ``centers`` (the k×dim float centroids) ``d2`` is computed
    here as the same sequential left-to-right fold Spark's
    ``aggregate`` runs. Every duplicate edge is in-cell by
    construction, so the closure needs no distributed
    connected-components pass; one call may carry several cells (the
    coarse bucket) or none. Returns ``(id, cell, group_id, group_size,
    keep)`` per row; group_id is the group's smallest id."""
    import numpy as np
    import pandas as pd

    def cell_groups(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["cell", "id"], ignore_index=True)
        ids, cell = pdf["id"].to_numpy(), pdf["cell"].to_numpy()
        vals = pdf["v"].to_numpy()
        X = np.stack(vals) if len(vals) else np.empty((0, 0))
        if centers is None:
            d2 = pdf["d2"].to_numpy()
        else:
            d2 = np.cumsum((X - centers[cell]) ** 2, axis=1)[:, -1]
        root = np.arange(len(ids))
        for seg in np.split(root.copy(), np.flatnonzero(cell[1:] != cell[:-1]) + 1):
            if len(seg):
                root[seg] = seg[0] + _in_cell_roots(X[seg], threshold)
        # survivor: the first row of each group by (d2, id) — lexsort is
        # stable and rows are in id order within a cell
        order = np.lexsort((d2, root))
        first = np.ones(len(ids), dtype=bool)
        first[1:] = root[order][1:] != root[order][:-1]
        keep = np.zeros(len(ids), dtype=bool)
        keep[order[first]] = True
        return pd.DataFrame(
            {
                "id": ids,
                "cell": cell,
                "group_id": ids[root],
                "group_size": np.bincount(root, minlength=len(ids))[root].astype(np.int64),
                "keep": keep,
            }
        )

    return cell_groups


def _close_cells(cells: DataFrame, id_t: str, threshold: float, centers=None) -> DataFrame:
    """Run the shared tail (:func:`_cell_groups_fn`) once per cell of
    a one-row-per-vector ``(cell, id, v[, d2])`` frame."""
    return cells.groupBy("cell").applyInPandas(
        _cell_groups_fn(threshold, centers), _groups_schema(id_t)
    )


def semantic_dedup_prod(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cell_size: int = 250,
    threshold: float = 0.9,
) -> DataFrame:
    """SemDeDup's PRODUCTION sizing (Abbas et al. 2023 §3: the cluster
    count scales with the corpus): ``k = ceil(n / target_cell_size)``
    derived from one corpus count, so in-cell pair volume stays
    ``n · target/2`` — LINEAR in n — where the fixed-k forms
    (:func:`semantic_dedup_deterministic` via dedup_semantic_scaled)
    are n²/k. The round-10 decade measured that fixed-k cost at 12.02×
    over a 10× corpus growth; this form is the linear registered
    sibling.

    Exactness discipline (STRONGER than the fixed-k twin's accepted
    float caveats): vectors are quantized ONCE to integer micro-units
    (:func:`_micro_seeds`), and every distance/dot is integer
    arithmetic from there:

    * assignment d2 = Σ(x−c)² over int64 — EXACT in any summation
      order, so the Spark-side matmul argmin and the DuckDB sequential
      fold agree bit-for-bit (no association-order caveat at all);
      ties (equal int d2) break to the lower cell in both engines;
    * centroid update = floor(sum(micro)/cnt + 0.5) — int sum is
      order-free, the single fp64 divide+round is the same op in both
      engines (the exact_mean discipline);
    * pair cosine: int64 dot (exact) / (sqrt(int n2a)·sqrt(int n2b))
      — one fp64 sqrt+mul+div chain, identical in both engines — with
      the half-up-6dp decision round on top;
    * survivor pick keys on (int d2, id) — deterministic.

    Two Lloyd rounds (md5 seeds, one update), the schedule the DuckDB
    twin replays.

    Scale shape: the per-round centroid table is ``k = n/target`` rows
    (metadata by construction — a 250× reduction; 64-dim int64
    centroids stay under a 100 MB broadcast up to ~50 M vectors, past
    which raise ``target_cell_size`` or use
    :func:`semantic_dedup_coarse`), assignment is one Arrow-batched
    int64 matmul argmin per partition (n·k·dim flops, the cost the
    SemDeDup paper pays in faiss), the centroid update aggregates
    map-side to k·dim rows, and the pair scan is one int64 matmul per
    cell over ~target-sized groups. No shuffle carries more than the
    (id, v, cell) frame itself.

    Output schema matches the siblings: one row per vector,
    ``(id, cell, group_id, group_size, keep)``."""
    import numpy as np
    import pandas as pd

    id_t = id_spark_type(emb, id_col)
    v0, dim, cent = _micro_seeds(emb, id_col, vec_col, target_cell_size)
    sp = emb.sparkSession

    def _flat(cells: np.ndarray, cmat: np.ndarray, partials: bool):
        # returns (frame, broadcast handle): each call ships a fresh
        # k×dim centroid broadcast (up to ~100 MB at the documented
        # 50M-vector ceiling); the update round's is dropped once its
        # fold collected, the final one lives until the caller
        # materializes the returned frame
        bc = sp.sparkContext.broadcast((cells, cmat))

        def kernel(batches):
            labels, C = bc.value  # cells sorted ascending, k×dim int64
            for pdf in batches:
                X = _micro_mat(pdf["v"], dim)
                rows, d2 = _nearest(X, C, dim)
                if partials:
                    yield _partials_frame(X, labels[rows])
                else:
                    yield pd.DataFrame(
                        {
                            "id": pdf["id"],
                            "v": pdf["v"],
                            "cell": labels[rows].astype(np.int32),
                            "d2": d2,
                        }
                    )

        schema = _PARTIALS_SCHEMA if partials else f"id {id_t}, v array<long>, cell int, d2 long"
        return v0.mapInPandas(kernel, schema), bc

    cells, cent = _fold_centroids(*_flat(np.arange(len(cent)), cent, True), dim)
    final, _ = _flat(cells, cent, False)
    return _close_cells(final, id_t, threshold)


def semantic_dedup_coarse(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cell_size: int = 250,
    threshold: float = 0.9,
) -> DataFrame:
    """SemDeDup with TWO-LEVEL (coarse-routed) assignment — the
    documented next lever past :func:`semantic_dedup_prod`'s ~50M-vector
    broadcast ceiling (round-11 verdict ask #5). prod broadcasts the
    whole k×dim fine-centroid table (k = ceil(n/target) grows with the
    corpus: ~100 MB at 50M vectors) and pays n·k·dim flops per
    assignment round. Here assignment routes through a SMALL coarse
    quantizer of kc = ceil(sqrt(k)) centers (the classic IVF sizing):

    1. fine seeds = k smallest-md5 rows (prod's prologue,
       :func:`_micro_seeds`); coarse seeds = the FIRST kc fine seeds,
       refined by one exact-int Lloyd round over the fine-seed table
       (a k-row metadata computation), then FROZEN;
    2. each round, fine centroids route to their nearest coarse center
       (k·kc·dim driver-side flops — metadata), and each VECTOR takes
       coarse-argmin over the ≤kc live coarse centers (a tiny
       broadcast), then fine-argmin among only that bucket's fine
       centroids, delivered per-bucket via a cogrouped applyInPandas —
       the k×dim table is SHUFFLED in ~sqrt(k)-sized slices, never
       broadcast whole, and per-vector flops drop from n·k·dim to
       ~2·n·sqrt(k)·dim (the measured fan-in bound);
    3. two Lloyd rounds with prod's centroid fold, and the shared
       per-cell tail runs INSIDE the final bucket task (a fine cell's
       members are exactly the vectors of its bucket that argmin to
       it), so the (id, v) payload shuffles once.

    The routed argmin is the standard two-level APPROXIMATION (a
    vector's true nearest fine centroid may sit in a neighboring
    coarse bucket) — acceptable for SemDeDup cell BOUNDING, where any
    reasonable partition works (Abbas et al. 2023 §3 use faiss IVF the
    same way). Every arithmetic step keeps prod's int-exact discipline
    (micro-unit int64, f64-BLAS behind the 2^53 guard, half-up-6dp
    decisions, all ties deterministic), so the DuckDB twin replays the
    ROUTING itself bit-for-bit: vectors routed to a bucket whose fine
    centroids all vanished would be unassignable, so coarse candidates
    are restricted to buckets that own >=1 fine centroid — in both
    engines.

    Output schema matches the siblings: one row per vector,
    ``(id, cell, group_id, group_size, keep)``."""
    import math

    import numpy as np
    import pandas as pd

    id_t = id_spark_type(emb, id_col)
    v0, dim, cent = _micro_seeds(emb, id_col, vec_col, target_cell_size)
    sp = emb.sparkSession

    # coarse quantizer: first kc fine seeds, one exact-int refinement
    # round over the k fine seeds (ties to the lower g; half-up int
    # mean; a coarse seed no fine seed picked drops) — then FROZEN
    kc = math.ceil(math.sqrt(len(cent)))
    g_ids, gsum, gcnt = _cell_sums(cent, _nearest(cent, cent[:kc], dim)[0])
    gmat = np.floor(gsum / gcnt[:, None] + 0.5).astype(np.int64)
    cell_fn = _cell_groups_fn(threshold)

    def _routed(cells: np.ndarray, cmat: np.ndarray, partials: bool):
        # fine->coarse routing table: k rows, driver-side metadata
        route = g_ids[_nearest(cmat, gmat, dim)[0]]
        live = np.isin(g_ids, route)
        bc = sp.sparkContext.broadcast((g_ids[live], gmat[live]))

        def coarse_kernel(batches):
            gids, G = bc.value  # live buckets only, g ascending
            for pdf in batches:
                rows, _ = _nearest(_micro_mat(pdf["v"], dim), G, dim)
                yield pd.DataFrame(
                    {"id": pdf["id"], "v": pdf["v"], "g": gids[rows].astype(np.int32)}
                )

        routed = v0.mapInPandas(coarse_kernel, f"id {id_t}, v array<long>, g int")
        fine = sp.createDataFrame(
            [
                (int(route[i]), int(cells[i]), [int(x) for x in cmat[i]])
                for i in range(len(cells))
            ],
            "g int, cell int, cvec array<long>",
        )

        def bucket(l: pd.DataFrame, r: pd.DataFrame):
            # fine-argmin among the bucket's centroids, ties → lower cell
            r = r.sort_values("cell")
            X = _micro_mat(l["v"], dim)
            rows, d2 = _nearest(X, _micro_mat(r["cvec"], dim), dim)
            cell = r["cell"].to_numpy()[rows].astype(np.int32)
            if partials:
                return _partials_frame(X, cell)
            return cell_fn(pd.DataFrame({"id": l["id"], "v": l["v"], "cell": cell, "d2": d2}))

        out = (
            routed.groupBy("g")
            .cogroup(fine.groupBy("g"))
            .applyInPandas(bucket, _PARTIALS_SCHEMA if partials else _groups_schema(id_t))
        )
        return out, bc

    cells, cent = _fold_centroids(*_routed(np.arange(len(cent)), cent, True), dim)
    final, _ = _routed(cells, cent, False)
    return final


def incremental_dedup(
    delta: DataFrame,
    base: DataFrame,
    threshold: float = 0.2,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Ingestion-time dedup: flag each NEW (delta) document against the
    EXISTING corpus (base) without re-deduping the corpus against
    itself — the incremental form a growing 100 TB corpus needs, where
    base-side state (text hashes + shingle postings) is written once
    and only the delta is scanned per batch.

    exact: md5(text) semi-match against base's distinct hash set.
    near:  inverted-index join delta-shingles × base-shingles, word
    n-gram Jaccard ≥ threshold; near_dup_of = lowest matching base id.

    Returns one row per delta doc:
    (id, is_exact_dup ∈ {0,1}, near_dup_of (or -1), n_near).
    """
    dh = delta.select(
        F.col(id_col).alias("id"),
        F.md5(F.col(text_col).cast("binary")).alias("h"),
    )
    bh = base.select(F.md5(F.col(text_col).cast("binary")).alias("h")).distinct()
    exact = dh.join(
        bh.withColumn("_hit", F.lit(1)), "h", "left"
    ).select("id", F.coalesce("_hit", F.lit(0)).alias("is_exact_dup"))

    def sh_side(df: DataFrame, nm: str) -> DataFrame:
        s = df.select(F.col(id_col).alias(nm), _shingles(text_col, n).alias("sh"))
        return s.withColumn(f"n_{nm}", F.size("sh")).select(
            nm, f"n_{nm}", F.explode("sh").alias("shingle")
        )

    de, be = sh_side(delta, "id_a"), sh_side(base, "id_b")
    inter = (
        de.join(be, "shingle")
        .groupBy("id_a", "id_b", "n_id_a", "n_id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    jac = F.col("n_inter") / (F.col("n_id_a") + F.col("n_id_b") - F.col("n_inter"))
    near = (
        inter.where(jac >= threshold)
        .groupBy("id_a")
        .agg(F.min("id_b").alias("near_dup_of"), F.count("*").alias("n_near"))
        .select(F.col("id_a").alias("id"), "near_dup_of", "n_near")
    )
    return exact.join(near, "id", "left").select(
        "id",
        "is_exact_dup",
        F.coalesce("near_dup_of", F.lit(-1)).alias("near_dup_of"),
        F.coalesce("n_near", F.lit(0)).alias("n_near"),
    )


def substring_span_audit(
    df: DataFrame,
    span: int = 15,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Repeated-substring audit at token-span granularity (the
    exact-substring duplication Lee et al. 2022 deduplicate with a
    suffix array, reframed as a distributed hash query): every
    ``span``-token window is hashed; a window is DUPLICATED when its
    hash occurs in ≥2 distinct documents. Returns per-doc
    ``(doc_id, n_windows, n_dup_windows, dup_frac)`` for docs with at
    least one window — the curation signal for boilerplate/templated
    spans that survive document-level dedup.

    Shape: windows derive map-side (JVM array ops — one md5 per
    window position), then ONE shuffle on the span hash for the
    document-frequency count and one hash-keyed join back; the per-doc
    rollup rides the id key. Window hashing is md5-of-span-string —
    portable (the DuckDB oracle reproduces it verbatim); the fleet
    scale form is :func:`substring_span_audit_hashed` (xxhash64 over
    composed token hashes — ~8× cheaper hashing, 8-byte keys)."""
    # window strings via the shared shifted-zip fold (_shingles_raw —
    # ~30% cheaper than per-position slice+concat_ws even at span=15),
    # then one md5 per window.
    spans = F.transform(
        _shingles_raw(text_col, span), lambda s: F.md5(s.cast("binary"))
    )
    return _span_audit_rollup(df, spans, id_col)


def _hashed_spans_raw(text_col: str, n: int, family: str = "xxhash64") -> F.Column:
    """NON-distinct 64-bit composed window hashes — the scale form of
    the span audit's window key: hash each token once, then combine
    the n consecutive token hashes position-sensitively with
    RIGHT-shift + xor (``xor_j(h_j >> j)``). Right shifts, unlike
    ``_hashed_shingles``'s left shifts, never leave int64 — DuckDB
    RAISES on left-shift overflow while Spark wraps, a silent
    cross-engine divergence once n-1 shift bits exceed the 60-bit md5
    family's 3 spare bits (fine at trigram n=3, fatal at span=15).
    Each term keeps its high 64-n bits, so the composed key still has
    ~60 bits of entropy — collisions whp-never at corpus scale.

    ``family``: "xxhash64" (prod, one JVM op per token) or "md5" (the
    portable ``md5_60bit_hash`` family DuckDB reproduces bit-
    identically, for the oracle-checked twin)."""
    th = F.transform(tokens_expr(text_col), lambda t: _token_hash(t, family))

    def combine(th_arr: F.Column):
        def h(i: F.Column) -> F.Column:
            acc = F.get(th_arr, i)
            for j in range(1, n):
                acc = acc.bitwiseXOR(F.shiftright(F.get(th_arr, i + j), j))
            return acc

        # same size<n guard as _shingles_raw (sequence would descend)
        idx = F.when(
            F.size(th_arr) >= n, F.sequence(F.lit(0), F.size(th_arr) - F.lit(n))
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(idx, h)

    # bind the token-hash array once per row (see _hashed_shingles)
    return F.get(F.transform(F.array(th), combine), 0)


def substring_span_audit_hashed(
    df: DataFrame,
    span: int = 15,
    text_col: str = "text",
    id_col: str = "doc_id",
    family: str = "xxhash64",
) -> DataFrame:
    """:func:`substring_span_audit` with 64-bit composed-hash window
    keys instead of md5-of-span-string — the fleet-scale form: no
    per-window string materialization (the string form builds and
    md5-hashes a ~100-char string per window position), one token-hash
    pass + integer shift/xor per window, and 8-byte long join/shuffle
    keys instead of 32-char md5 strings. Same output schema and —
    collisions whp-aside — identical values (equivalence asserted
    against the string form in tests). ``family="md5"`` is the
    oracle-checked twin; xxhash64 is the production default."""
    return _span_audit_rollup(
        df, _hashed_spans_raw(text_col, span, family=family), id_col
    )


def _span_audit_rollup(df: DataFrame, spans: F.Column, id_col: str) -> DataFrame:
    """Shared tail of the span-audit family: explode the per-doc
    window-key array, mark keys seen in ≥2 distinct docs, roll up per
    doc. The (id, key) posting list feeds TWO consumers (the
    document-frequency count and the join back), so it is
    checkpointed — without it Spark re-ran the whole window-build map
    stage per consumer (6.4 → ~3.8 s at sf0.1)."""
    sp = df.select(F.col(id_col).alias("id"), F.explode(spans).alias("sh")).transform(
        stage_checkpoint, eager=False
    )
    hot = (
        sp.groupBy("sh")
        .agg(F.count_distinct("id").alias("_nd"))
        .where(F.col("_nd") >= 2)
        .select("sh", F.lit(True).alias("_dup"))
    )
    return (
        sp.join(hot, "sh", "left")
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.count("*").alias("n_windows"),
            F.count("_dup").alias("n_dup_windows"),
        )
        .withColumn(
            "dup_frac", F.round(F.col("n_dup_windows") / F.col("n_windows"), 6)
        )
    )

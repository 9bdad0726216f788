"""Remaining reference-parity plans (T3 traceback, G1 ordered collect,
event-time windows) and multimodal extension plans."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from the_framework_for_clustering_time_series_data_spark.operators import dedup, multimodal
from the_framework_for_clustering_time_series_data_spark.plans.registry import register
from the_framework_for_clustering_time_series_data_spark.plans.timeseries_plans import EV
from the_framework_for_clustering_time_series_data_spark.sources.tables import events_as_series, load_table


@register(
    "t3_traceback",
    """
WITH p AS (
  SELECT embedding[1]::DOUBLE AS px, embedding[2]::DOUBLE AS py
  FROM embeddings WHERE vec_id = 0
)
SELECT e.vec_id AS series_id,
       round(e.embedding[1]::DOUBLE, 6) AS x,
       round(e.embedding[2]::DOUBLE, 6) AS y
FROM embeddings e, p
WHERE abs(e.embedding[1]::DOUBLE - p.px) < 1e-6
  AND abs(e.embedding[2]::DOUBLE - p.py) < 1e-6
""",
)
def t3_traceback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 — plot-coordinate → series traceback (app.py:958-1000): the
    reference's float-approximate positional matching as a broadcast
    predicate join on coordinates."""
    from the_framework_for_clustering_time_series_data_spark.operators.trace import traceback

    e = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("series_id"),
        F.col("embedding")[0].cast("double").alias("x"),
        F.col("embedding")[1].cast("double").alias("y"),
    )
    pt = e.where(F.col("series_id") == 0).collect()[0]
    out = traceback(e, pt["x"], pt["y"], tol=1e-6)
    return out.select(
        "series_id", F.round("x", 6).alias("x"), F.round("y", 6).alias("y")
    )


@register(
    "g1_group_collect",
    f"""
WITH {EV}
SELECT series_id,
       count(*) AS length,
       round(min(CASE WHEN t = 0 THEN value END), 6) AS v_first,
       round(sum(value * (t + 1)), 6) AS order_checksum
FROM ev
GROUP BY series_id
""",
)
def g1_group_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 — group-collect to ordered arrays (app.py:204-217),
    digest-checked: first element + order-weighted checksum prove the
    collect order is the time order (the reference's set() ordering was
    nondeterministic; ours is sorted — SURVEY §2.3)."""
    from the_framework_for_clustering_time_series_data_spark.operators.align import to_nested

    nested = to_nested(events_as_series(spark, sf_dir))
    v = F.col("values")
    checksum = F.aggregate(
        F.zip_with(v, F.sequence(F.lit(1), F.size(v)), lambda x, i: x * i),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return nested.select(
        "series_id",
        F.size(v).cast("long").alias("length"),
        F.round(F.element_at(v, 1), 6).alias("v_first"),
        F.round(checksum, 6).alias("order_checksum"),
    )


@register(
    "st_windowed_stats",
    """
WITH e AS (SELECT epoch(ts) AS es, event_type, value FROM events),
w AS (
  SELECT unnest([floor(es / 1800) * 1800, floor(es / 1800) * 1800 - 1800]) AS ws,
         es, event_type, value
  FROM e
)
SELECT CAST(ws AS BIGINT) AS win_start, event_type,
       count(*) AS n,
       round(min(value), 6) AS v_min,
       round(max(value), 6) AS v_max,
       round(avg(value), 6) AS v_mean
FROM w
WHERE es >= ws AND es < ws + 3600
GROUP BY 1, 2
""",
)
def st_windowed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1 h window / 30 min slide) per
    event_type — the batch twin of streaming.ops.windowed_value_stats
    (stream==batch parity is asserted in tests/test_streaming.py).
    Output keyed by epoch seconds to stay timezone-proof."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min(v), 6).alias("v_min"),
            F.round(F.max(v), 6).alias("v_max"),
            F.round(F.avg(v), 6).alias("v_mean"),
        )
        .select(
            F.col("win.start").cast("long").alias("win_start"),
            "event_type",
            "n",
            "v_min",
            "v_max",
            "v_mean",
        )
    )


@register(
    "mm_binary_metadata",
    """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS content_md5,
       'image/fake' AS mime
FROM documents
""",
)
def mm_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: opaque binary payload + typed metadata column
    (binary stays opaque; metadata is relational and oracle-checked)."""
    d = multimodal.attach_payload(load_table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.content_md5").alias("content_md5"),
        F.col("media_meta.mime").alias("mime"),
    )


@register(
    "mm_image_features",
    f"""
WITH h AS (SELECT doc_id, sha256(text) AS s FROM documents)
SELECT doc_id,
       64 + CAST(('0x' || substr(s, 1, 2)) AS INT) % 192 AS width,
       64 + CAST(('0x' || substr(s, 3, 2)) AS INT) % 192 AS height,
       round(({" + ".join(f"CAST(('0x' || substr(s, {2 * i + 1}, 2)) AS INT)" for i in range(2, 10))})
             / 8 / 255, 6) AS mean_intensity
FROM h
""",
)
def mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: decode → feature-extract over mapInPandas. The stub
    decode kernel is a DETERMINISTIC sha256 transform of the payload,
    so the DuckDB oracle value-checks the whole Arrow pipeline
    (schema, batching, per-partition execution) bit-for-bit — the
    strongest check a stubbed decoder admits. Real PIL decode stays
    available via use_real (gated tests)."""
    d = multimodal.attach_payload(load_table(spark, sf_dir, "documents"))
    # payloads here are SYNTHETIC utf-8 text (attach_payload), never
    # valid media — pin the stub path so a machine that happens to
    # have PIL/ffmpeg/soundfile installed doesn't feed it text bytes
    return multimodal.decode_image_features(d, use_real=False)


@register(
    "mm_frame_sample",
    """
SELECT doc_id, CAST(i.range AS INT) AS frame_idx,
       md5(text || '#' || i.range::VARCHAR) AS frame_md5
FROM documents CROSS JOIN range(0, 4) i
""",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: per-payload frame sampling (4 frames) — one output
    row per (media, frame), generated executor-side. Stub digests are
    md5(payload || '#' || frame_idx), reproduced exactly by the
    oracle; the real ffmpeg path stays available via use_real."""
    d = multimodal.attach_payload(load_table(spark, sf_dir, "documents"))
    return multimodal.sample_frames(d, n_frames=4, use_real=False)


def _sha_byte(i: int) -> str:
    """DuckDB expression for byte ``i`` of a sha256 hex digest ``s``."""
    return f"CAST(('0x' || substr(s, {2 * i + 1}, 2)) AS INT)"


@register(
    "mm_audio_features",
    f"""
WITH h AS (SELECT doc_id, sha256(text) AS s FROM documents)
SELECT doc_id,
       round(1.0 + {_sha_byte(0)} / 8.0, 3) AS duration_s,
       CAST(([8,16,22,44,48])[({_sha_byte(1)} % 5) + 1] * 1000 AS INT) AS sample_rate,
       round(-({_sha_byte(2)} % 24) - {_sha_byte(3)} / 255.0, 3) AS peak_dbfs,
       {", ".join(f"round({_sha_byte(4 + i)} / 255.0, 6) AS env_{i}" for i in range(8))}
FROM h
""",
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: audio decode → (duration, rate, peak dBFS, RMS
    envelope) over mapInPandas (no soundfile/ffmpeg in this
    container, so the env-forced default is the deterministic sha256
    stub kernel — which the DuckDB oracle reproduces bit-for-bit, so
    the whole Arrow batching/schema path is value-checked like
    mm_image_features; the real soundfile path stays behind use_real).
    The operator's array<double> envelope is projected to scalar
    env_i columns here because the driver's value hasher has no
    cross-engine LIST contract (see tests/test_oracle_parity.py
    _DUCK_FAMILY). Stub arithmetic keeps engine-agnostic rounding:
    duration has 0.125 granularity (3-dp round is a no-op) and k/255
    never lands on a half-ulp boundary, so Python banker's rounding
    == DuckDB round."""
    d = multimodal.attach_payload(load_table(spark, sf_dir, "documents"))
    feats = multimodal.extract_audio_features(d, n_windows=8, use_real=False)
    return feats.select(
        "doc_id",
        "duration_s",
        "sample_rate",
        "peak_dbfs",
        *[F.col("rms_envelope")[i].alias(f"env_{i}") for i in range(8)],
    )


def _phash_oracle_sql() -> str:
    """DuckDB twin of the perceptual-hash near-dup pipeline: the
    synthesized 9×8 pixels are md5 bytes of the text (+ the planted
    one-pixel perturbation), so the oracle recomputes every dHash BIT
    from those bytes directly — the Spark side must round-trip the
    same bytes through a REAL PNG encode → zlib decode → luma grid to
    agree. Signed-int64 wrap via HUGEINT; all-pairs here (the oracle
    is exact), band-blocked equi-join on the Spark side (pigeonhole-
    exact for hamming ≤ bands−1)."""
    md5s = ", ".join(f"md5(text || ':{k}') AS m{k}" for k in range(5))
    px_exprs = ", ".join(
        f"CAST(('0x' || substr(m{j // 16}, {2 * (j % 16) + 1}, 2)) AS INT)"
        for j in range(72)
    )
    bit_terms = " + ".join(
        f"(CASE WHEN p[{r * 9 + c + 1}] > p[{r * 9 + c + 2}] "
        f"THEN {1 << (63 - (r * 8 + c))}::HUGEINT ELSE 0::HUGEINT END)"
        for r in range(8)
        for c in range(8)
    )
    return f"""
WITH m AS (SELECT doc_id, {md5s} FROM documents),
base AS (SELECT doc_id, [{px_exprs}] AS bp FROM m),
img AS (
  SELECT doc_id * 2 + v.variant AS image_id,
         list_transform(range(1, 73), j ->
           CASE WHEN v.variant = 1 AND j - 1 = doc_id % 72
                THEN (bp[j] + 1) % 256 ELSE bp[j] END) AS p
  FROM base, (SELECT unnest([0, 1]) AS variant) v
),
hs AS (
  SELECT image_id,
         CAST(CASE WHEN vu >= 9223372036854775808::HUGEINT
                   THEN vu - 18446744073709551616::HUGEINT
                   ELSE vu END AS BIGINT) AS dhash
  FROM (SELECT image_id, ({bit_terms}) AS vu FROM img) t
)
SELECT a.image_id AS id_a, b.image_id AS id_b,
       CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
FROM hs a JOIN hs b ON a.image_id < b.image_id
WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
"""


@register("mm_phash_neardup", _phash_oracle_sql())
def mm_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-duplicate IMAGE detection (round-8 verdict ask
    #5 — the north-star matrix's last empty cell): perceptual dHash
    over real decoded pixels, then banded-Hamming candidate pairs.

    Pipeline: each doc synthesizes TWO real 9×8 grayscale PNGs — the
    original and a one-pixel-perturbed "re-encode" (the planted near
    duplicate) — Python touches each image once (encode) + once
    (decode → luma grid → integer dHash), then everything is JVM-side:
    pigeonhole band blocking (4×16-bit bands, equi-join — Hamming ≤ 3
    guarantees ≥ 1 exact band match, so blocked recall is EXACT, never
    all-pairs) and bit_count(xor) verification on 8-byte keys. Output
    is exactly the 2·n planted (original, re-encode) pairs at
    Hamming ≤ 2; unrelated images sit near Hamming 32 (P[≤3] ≈ 2e-15).
    The hash table is stage-checkpointed: both join sides consume it,
    and without the checkpoint the Python decode pass would run twice.
    Full value-hash oracle: DuckDB recomputes every dHash bit from the
    md5 pixel bytes the PNGs were built from, so the real
    encode→decode round trip is value-verified bit for bit."""
    from the_framework_for_clustering_time_series_data_spark.functions.plan_tools import stage_checkpoint

    docs = load_table(spark, sf_dir, "documents")
    imgs = multimodal.synthesize_gray_png_variants(docs, n_variants=2)
    hashes = multimodal.image_phash(imgs).transform(stage_checkpoint, eager=False)
    return dedup.hamming_pairs(
        hashes, id_col="image_id", lanes=("dhash",), bands=4, max_hamming=3
    )


def _phash_wide_oracle_sql() -> str:
    """DuckDB twin of the WIDE (128-bit) perceptual-hash near-dup
    pipeline: recomputes BOTH lanes from the md5 pixel bytes — the
    dHash lane exactly as :func:`_phash_oracle_sql`, plus the aHash
    lane (9×8 → 8×8 integer area downscale: columns 0..6 map 1:1,
    column 7 is the floor-mean of source columns 7..8 — nonnegative
    operands so DuckDB's truncating ``//`` equals floor — then
    bit = px·64 ≥ total, the no-float-division comparison the Python
    kernel uses). Hamming sums across lanes; all-pairs here (the
    oracle is exact), 32-bit-key banded equi-join on the Spark side
    (pigeonhole-exact for hamming ≤ bands−1)."""
    md5s = ", ".join(f"md5(text || ':{k}') AS m{k}" for k in range(5))
    px_exprs = ", ".join(
        f"CAST(('0x' || substr(m{j // 16}, {2 * (j % 16) + 1}, 2)) AS INT)"
        for j in range(72)
    )
    dbit_terms = " + ".join(
        f"(CASE WHEN p[{r * 9 + c + 1}] > p[{r * 9 + c + 2}] "
        f"THEN {1 << (63 - (r * 8 + c))}::HUGEINT ELSE 0::HUGEINT END)"
        for r in range(8)
        for c in range(8)
    )
    abit_terms = " + ".join(
        f"(CASE WHEN pa[{i + 1}] * 64 >= tot "
        f"THEN {1 << (63 - i)}::HUGEINT ELSE 0::HUGEINT END)"
        for i in range(64)
    )
    wrap = (
        "CAST(CASE WHEN {v} >= 9223372036854775808::HUGEINT "
        "THEN {v} - 18446744073709551616::HUGEINT ELSE {v} END AS BIGINT)"
    )
    return f"""
WITH m AS (SELECT doc_id, {md5s} FROM documents),
base AS (SELECT doc_id, [{px_exprs}] AS bp FROM m),
img AS (
  SELECT doc_id * 2 + v.variant AS image_id,
         list_transform(range(1, 73), j ->
           CASE WHEN v.variant = 1 AND j - 1 = doc_id % 72
                THEN (bp[j] + 1) % 256 ELSE bp[j] END) AS p
  FROM base, (SELECT unnest([0, 1]) AS variant) v
),
avg8 AS (
  SELECT image_id, p,
         list_transform(range(64), i ->
           CASE WHEN i % 8 < 7 THEN p[(i // 8) * 9 + (i % 8) + 1]
                ELSE (p[(i // 8) * 9 + 8] + p[(i // 8) * 9 + 9]) // 2
           END) AS pa
  FROM img
),
tots AS (SELECT image_id, p, pa, list_sum(pa) AS tot FROM avg8),
hs AS (
  SELECT image_id,
         {wrap.format(v="du")} AS dhash,
         {wrap.format(v="au")} AS ahash
  FROM (SELECT image_id, ({dbit_terms}) AS du, ({abit_terms}) AS au
        FROM tots) t
)
SELECT a.image_id AS id_a, b.image_id AS id_b,
       CAST(bit_count(xor(a.dhash, b.dhash))
            + bit_count(xor(a.ahash, b.ahash)) AS INT) AS hamming
FROM hs a JOIN hs b ON a.image_id < b.image_id
WHERE bit_count(xor(a.dhash, b.dhash))
      + bit_count(xor(a.ahash, b.ahash)) <= 3
"""


@register("mm_phash_neardup_wide", _phash_wide_oracle_sql())
def mm_phash_neardup_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleet-scale wide-band image near-dup (round-9 verdict ask #3 —
    the variant mm_phash_neardup's own docstring prescribed): the SAME
    real PNG encode → stdlib decode pass, but hashing to a 128-bit
    perceptual signature (dHash ‖ aHash, both exact-integer kernels
    over the decoded luma grid) and banding with FOUR 32-BIT KEYS at
    the same Hamming ≤ 3 contract. The shuffle key width is the whole
    point: random 16-bit band keys collide at ~n²/2^16 per band (fine
    at 1M hashes, quadratic-per-bucket beyond), 32-bit keys at
    ~n²/2^32 — a 65,536× candidate-volume cut measured by the 1M-hash
    smoke (tests/test_scale_smoke.py). Hamming sums across lanes, so
    the pigeonhole guarantee is unchanged (≤ 3 < 4 bands forces an
    exact band match; recall EXACT, never all-pairs). Full value-hash
    oracle: DuckDB recomputes BOTH lanes from the md5 pixel bytes —
    including aHash's 9×8 → 8×8 integer area downscale — so the PNG
    round trip and both hash kernels are value-verified bit for bit."""
    from the_framework_for_clustering_time_series_data_spark.functions.plan_tools import stage_checkpoint

    docs = load_table(spark, sf_dir, "documents")
    imgs = multimodal.synthesize_gray_png_variants(docs, n_variants=2)
    hashes = multimodal.image_phash(imgs).transform(stage_checkpoint, eager=False)
    return dedup.hamming_pairs(
        hashes, id_col="image_id", lanes=("dhash", "ahash"), bands=4, max_hamming=3
    )


def _afp_oracle_sql() -> str:
    """DuckDB twin of the audio-fingerprint near-dup pipeline: the
    synthesized 8-bit PCM samples are md5 bytes of the text (+ the
    planted one-window perturbation), so the oracle recomputes every
    fingerprint bit — window energies as exact integer sums, bit =
    lead(energy) > energy, packed MSB-first through a 64-row HUGEINT
    weight table (DuckDB's ``**`` returns DOUBLE, so weights are
    literals), signed-int64 wrap. The Spark side must round-trip the
    same bytes through a REAL WAV write → RIFF parse to agree."""
    hex_cat = " || ".join(f"md5(text || ':{k}')" for k in range(33))
    weights = ", ".join(f"({w}, {1 << (63 - w)})" for w in range(64))
    return f"""
WITH hx AS (SELECT doc_id, {hex_cat} AS hex FROM documents),
v AS (SELECT unnest([0, 1]) AS variant),
j AS (SELECT unnest(range(520)) AS j),
sm AS (
  SELECT h.doc_id * 2 + v.variant AS audio_id, j.j // 8 AS w,
         CASE WHEN v.variant = 1 AND j.j // 8 = h.doc_id % 65
              THEN (CAST(('0x' || substr(h.hex, 2 * j.j + 1, 2)) AS INT) + 4) % 256
              ELSE CAST(('0x' || substr(h.hex, 2 * j.j + 1, 2)) AS INT) END AS s
  FROM hx h, v, j
),
en AS (
  SELECT audio_id, w, sum((s - 128) * (s - 128)) AS e
  FROM sm GROUP BY 1, 2
),
bn AS (
  SELECT audio_id, w,
         CASE WHEN lead(e) OVER (PARTITION BY audio_id ORDER BY w) > e
              THEN 1 ELSE 0 END AS bit
  FROM en
),
wt(w, wgt) AS (VALUES {weights}),
hs AS (
  SELECT audio_id,
         CAST(CASE WHEN vu >= 9223372036854775808::HUGEINT
                   THEN vu - 18446744073709551616::HUGEINT
                   ELSE vu END AS BIGINT) AS afp
  FROM (
    SELECT b.audio_id, sum(b.bit * wt.wgt) AS vu
    FROM bn b JOIN wt ON wt.w = b.w
    WHERE b.w < 64 GROUP BY 1
  ) t
)
SELECT a.audio_id AS id_a, b.audio_id AS id_b,
       CAST(bit_count(xor(a.afp, b.afp)) AS INT) AS hamming
FROM hs a JOIN hs b ON a.audio_id < b.audio_id
WHERE bit_count(xor(a.afp, b.afp)) <= 3
"""


@register("mm_audio_neardup", _afp_oracle_sql())
def mm_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-duplicate AUDIO detection — completes the
    image/video/audio near-dup trifecta: each doc synthesizes TWO real
    mono 8-bit PCM WAV clips (520 samples; the planted near-dup
    re-encodes ONE 8-sample window), the REAL stdlib WAV path parses
    RIFF/fmt/data back to raw integer samples, the exact-integer
    energy-delta fingerprint (afp64_from_samples: 65 window energies,
    64 comparison bits) hashes each clip, and near-dup pairs fall out
    of the SAME pigeonhole band-blocked Hamming join the image path
    uses (dedup.hamming_pairs, 4×16-bit bands, exact recall at
    Hamming ≤ 3). One changed window flips at most its two adjacent
    energy comparisons → planted pairs at Hamming ≤ 2, unrelated clips
    near 32. Full value-hash oracle: DuckDB recomputes every
    fingerprint bit from the md5 sample bytes (exact integer energies,
    HUGEINT bit packing), value-verifying the WAV write→parse round
    trip. Fingerprint table stage-checkpointed: one Python decode
    pass feeds both join sides."""
    from the_framework_for_clustering_time_series_data_spark.functions.plan_tools import stage_checkpoint

    docs = load_table(spark, sf_dir, "documents")
    clips = multimodal.synthesize_wav_variants(docs, n_variants=2)
    hashes = multimodal.audio_fingerprint(clips).transform(
        stage_checkpoint, eager=False
    )
    return dedup.hamming_pairs(
        hashes, id_col="audio_id", lanes=("afp",), bands=4, max_hamming=3
    )


def _afp_wide_oracle_sql() -> str:
    """DuckDB twin of the WIDE (128-bit) audio near-dup pipeline: the
    energy-delta lane exactly as :func:`_afp_oracle_sql`, plus the
    mean-delta lane (window sums of (s − 128) — exact signed integer
    sums, same lead() comparison, same HUGEINT MSB-first packing).
    Hamming sums across lanes at the ≤ 7 contract (the 8-band recall
    configuration; the image wide form demonstrates the 4×32-bit
    collision-cut configuration of the same kernel)."""
    hex_cat = " || ".join(f"md5(text || ':{k}')" for k in range(33))
    weights = ", ".join(f"({w}, {1 << (63 - w)})" for w in range(64))
    return f"""
WITH hx AS (SELECT doc_id, {hex_cat} AS hex FROM documents),
v AS (SELECT unnest([0, 1]) AS variant),
j AS (SELECT unnest(range(520)) AS j),
sm AS (
  SELECT h.doc_id * 2 + v.variant AS audio_id, j.j // 8 AS w,
         CASE WHEN v.variant = 1 AND j.j // 8 = h.doc_id % 65
              THEN (CAST(('0x' || substr(h.hex, 2 * j.j + 1, 2)) AS INT) + 4) % 256
              ELSE CAST(('0x' || substr(h.hex, 2 * j.j + 1, 2)) AS INT) END AS s
  FROM hx h, v, j
),
en AS (
  SELECT audio_id, w,
         sum((s - 128) * (s - 128)) AS e,
         sum(s - 128) AS ms
  FROM sm GROUP BY 1, 2
),
bn AS (
  SELECT audio_id, w,
         CASE WHEN lead(e) OVER (PARTITION BY audio_id ORDER BY w) > e
              THEN 1 ELSE 0 END AS bit_e,
         CASE WHEN lead(ms) OVER (PARTITION BY audio_id ORDER BY w) > ms
              THEN 1 ELSE 0 END AS bit_m
  FROM en
),
wt(w, wgt) AS (VALUES {weights}),
hs AS (
  SELECT audio_id,
         CAST(CASE WHEN ve >= 9223372036854775808::HUGEINT
                   THEN ve - 18446744073709551616::HUGEINT
                   ELSE ve END AS BIGINT) AS afp,
         CAST(CASE WHEN vm >= 9223372036854775808::HUGEINT
                   THEN vm - 18446744073709551616::HUGEINT
                   ELSE vm END AS BIGINT) AS afp_mean
  FROM (
    SELECT b.audio_id,
           sum(b.bit_e * wt.wgt) AS ve,
           sum(b.bit_m * wt.wgt) AS vm
    FROM bn b JOIN wt ON wt.w = b.w
    WHERE b.w < 64 GROUP BY 1
  ) t
)
SELECT a.audio_id AS id_a, b.audio_id AS id_b,
       CAST(bit_count(xor(a.afp, b.afp))
            + bit_count(xor(a.afp_mean, b.afp_mean)) AS INT) AS hamming
FROM hs a JOIN hs b ON a.audio_id < b.audio_id
WHERE bit_count(xor(a.afp, b.afp))
      + bit_count(xor(a.afp_mean, b.afp_mean)) <= 7
"""


@register("mm_audio_neardup_wide", _afp_wide_oracle_sql())
def mm_audio_neardup_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleet-scale WIDE audio near-dup — the 128-bit fingerprint's
    RECALL configuration (round-9, the sibling of
    mm_phash_neardup_wide's collision-cut configuration): one stdlib
    WAV decode per clip feeds BOTH exact-integer lanes (energy-delta ‖
    mean-delta — L2 and signed-L1 window profiles fail differently
    under re-encodes), then 8×16-bit pigeonhole bands at the
    Hamming ≤ 7 contract. The planted one-window re-encode moves BOTH
    lanes (≤ 2 bits each), which the 64-bit form at ≤ 3 can only just
    tolerate — the 128-bit ≤ 7 contract keeps exact blocked recall
    with 4 bits of margin while unrelated clips sit near 64 of 128.
    Full value-hash oracle: both lanes recomputed from the md5 sample
    bytes (exact integer window sums, HUGEINT packing), so the WAV
    round trip and both kernels are value-verified bit for bit."""
    from the_framework_for_clustering_time_series_data_spark.functions.plan_tools import stage_checkpoint

    docs = load_table(spark, sf_dir, "documents")
    clips = multimodal.synthesize_wav_variants(docs, n_variants=2)
    hashes = multimodal.audio_fingerprint_wide(clips).transform(
        stage_checkpoint, eager=False
    )
    return dedup.hamming_pairs(
        hashes,
        id_col="audio_id",
        lanes=("afp", "afp_mean"),
        bands=8,
        max_hamming=7,
    )


@register(
    "mm_video_neardup",
    """
WITH v AS (SELECT unnest([0, 1]) AS variant),
p AS (SELECT unnest(range(4)) AS pos),
fr AS (
  SELECT d.doc_id * 2 + v.variant AS video_id, p.pos,
         md5(
           md5(d.text || ':' || (2 * p.pos)
               || CASE WHEN v.variant = 1 AND 2 * p.pos = 4
                       THEN ':p1' ELSE ':0' END)
           || md5(d.text || ':' || (2 * p.pos) || ':1')
           || md5(d.text || ':' || (2 * p.pos) || ':2')
         ) AS fm
  FROM documents d, v, p
)
SELECT a.video_id AS id_a, b.video_id AS id_b,
       count(*) AS n_shared
FROM fr a JOIN fr b
  ON a.pos = b.pos AND a.fm = b.fm AND a.video_id < b.video_id
GROUP BY 1, 2
HAVING count(*) >= 3
""",
)
def mm_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-duplicate VIDEO detection — the frame-signature
    sibling of mm_phash_neardup: each doc synthesizes TWO real
    YUV4MPEG2 clips (8 frames of 8×8 C420; the planted near-dup
    re-edits ONE sampled frame), the REAL stdlib Y4M parser samples 4
    evenly-spaced raw-frame md5 digests per clip
    (multimodal.sample_frames_y4m — header parse, FRAME markers,
    w·h·3/2 frame walks all actually run), and near-dup pairs fall out
    of a position-aligned digest EQUI-join with a ≥3-of-4 shared-frame
    threshold. Output is exactly the n planted (original, re-edit)
    pairs at n_shared = 3. Full value-hash oracle: the synthesized
    frame bytes are ASCII md5 hexdigests, so DuckDB's VARCHAR md5
    recomputes every sampled digest — the Y4M encode→parse→digest
    round trip is value-verified bit for bit. The sampled-frame table
    is stage-checkpointed (both self-join sides consume it: one Python
    parse pass, not two)."""
    from the_framework_for_clustering_time_series_data_spark.functions.plan_tools import stage_checkpoint

    docs = load_table(spark, sf_dir, "documents")
    clips = multimodal.synthesize_y4m_variants(docs, n_variants=2)
    frames = multimodal.sample_frames(
        clips, n_frames=4, id_col="video_id", use_real=True
    ).transform(stage_checkpoint, eager=False)
    return multimodal.video_neardup_pairs(frames, id_col="video_id", min_shared=3)


@register(
    "src_python_datasource",
    """
WITH g AS (
  SELECT a.range AS series_id, b.range AS t,
         (a.range * 2654435761 + b.range * 40503) % 100003 AS v_units
  FROM range(0, 200) a CROSS JOIN range(0, 40) b
)
SELECT series_id, count(*) AS n_days, CAST(sum(v_units) AS BIGINT) AS v_units_sum
FROM g GROUP BY series_id
""",
)
def src_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan through the custom Python DataSource
    (sources/py_datasource.py, Spark 4 ``pyspark.sql.datasource`` API):
    read the deterministic generator (200 series × 40 days, 8 parallel
    shards) and aggregate per series. The generator's closed-form
    integer values let the DuckDB oracle re-derive the ENTIRE source
    output from ``range()`` — the scan itself is value-hash-checked,
    which files-on-disk sources can't offer. The aggregate recovers
    the exact modular integers (``round(v·P)``), so no float ever
    reaches the comparison."""
    from the_framework_for_clustering_time_series_data_spark.sources import py_datasource

    py_datasource.register(spark)
    df = (
        spark.read.format(py_datasource.FORMAT_NAME)
        .option("series", 200)
        .option("days", 40)
        .option("numPartitions", 8)
        .load()
    )
    v_units = F.round(F.col("value") * 100003, 0).cast("long")
    return df.groupBy("series_id").agg(
        F.count("*").alias("n_days"),
        F.sum(v_units).alias("v_units_sum"),
    )


from the_framework_for_clustering_time_series_data_spark.operators.sketch import CMS_HASHES, CMS_P, CMS_W
_vals = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(CMS_HASHES))
_CMS_SQL = f'''
SELECT h.i AS row_i,
       CAST((user_id * h.a + h.b) % {CMS_P} % {CMS_W} AS BIGINT) AS bucket,
       count(*) AS c
FROM events
CROSS JOIN (VALUES {_vals}) AS h(i, a, b)
GROUP BY 1, 2
'''


@register("st_countmin_sketch", _CMS_SQL)
def st_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 4×64 count-min counter table over events — batch twin of
    streaming.ops.streaming_countmin_sketch (micro-batch accumulation
    == this one-pass aggregate; parity in tests/test_streaming.py).
    As a streaming aggregation its state is these 256 rows however
    many distinct keys arrive — the fixed-size mergeable summary that
    answers point-frequency queries on an unbounded keyspace
    (d3_countmin_heavy_hitters is the probe side)."""
    from the_framework_for_clustering_time_series_data_spark.operators.sketch import cms_sketch

    ev = load_table(spark, sf_dir, "events")
    return cms_sketch(ev, "user_id")


_ORC_DIRS: dict = {}


@register(
    "src_orc_roundtrip",
    """
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v_cents,
       min(epoch_ns(ts) // 1000) AS ts_min_us,
       max(epoch_ns(ts) // 1000) AS ts_max_us
FROM events
GROUP BY event_type
""",
)
def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink roundtrip — format breadth next to the parquet/
    CSV/xlsx/upload/Python-DataSource scans: events written once to a
    scratch ORC dataset (native ORC writer, zstd, partitioned by
    event_type so the read-back exercises partition discovery), read
    back and aggregated. The oracle computes the same aggregate from
    the ORIGINAL parquet — so the value-hash check proves the
    roundtrip preserved every value bit-for-bit (sums are exact int64
    cent/µs units; no float reduction reaches the comparison).
    Scratch dir per (process, sf) with atexit sweep, the
    sim_ivf_persisted discipline."""
    import atexit
    import shutil
    import tempfile

    ev = load_table(spark, sf_dir, "events")
    key = (id(spark), sf_dir)
    path = _ORC_DIRS.get(key)
    if path is None:
        path = tempfile.mkdtemp(prefix="the_framework_for_clustering_time_series_data_spark_orc_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        (
            ev.select("event_id", "ts", "user_id", "event_type", "value")
            .write.mode("overwrite")
            .option("compression", "zstd")
            .partitionBy("event_type")
            .orc(path)
        )
        _ORC_DIRS[key] = path
    back = spark.read.orc(path)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).alias("v_cents"),
        F.min(F.unix_micros("ts")).alias("ts_min_us"),
        F.max(F.unix_micros("ts")).alias("ts_max_us"),
    )

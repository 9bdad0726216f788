"""Embedding (dimensionality-reduction) operators (reference E1-E4,
/root/reference/app.py:490-691).

E2 PCA — Spark MLlib (distributed covariance + local eigen); the
workhorse, deterministic up to component sign.
E3 UMAP — driver-side fit (umap-learn if importable), distributed
transform; gated stub otherwise.
E1 Autoencoder — the reference trains Keras on imaged series. TF is
not in this environment, so training is a clearly-marked deterministic
stand-in encoder; the Spark-side pipeline (image → resize → latent
extraction via pandas UDF) is real and tested, and swaps to a real
model by replacing ``_encode_batch``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from the_framework_for_clustering_time_series_data_spark.functions.plan_tools import lit_long_array


def _to_vectors(nested: DataFrame, values_col: str = "values") -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    return nested.withColumn("_features", array_to_vector(F.col(values_col)))


def embedding_pca(
    nested: DataFrame, k: int = 2, values_col: str = "values"
) -> tuple[DataFrame, list[float]]:
    """E2 — PCA to k dims over equal-length series
    (app.py:677-691; reference fits PCA(10) for explained-variance
    display plus PCA(2)/PCA(3) for coordinates).

    Returns (DataFrame(series_id, x, y[, z]), explained_variance_pcts).
    MLlib PCA: one pass for the Gramian (distributed), eigen on the
    driver (d×d, tiny) — scales in n, not in n².
    """
    from pyspark.ml.feature import PCA

    vecs = _to_vectors(nested, values_col)
    model = PCA(k=k, inputCol="_features", outputCol="_pca").fit(vecs)
    var_pct = [round(float(v) * 100, 1) for v in model.explainedVariance]
    out = model.transform(vecs)
    from pyspark.ml.functions import vector_to_array

    arr = vector_to_array(F.col("_pca"))
    coords = [arr[i].alias(c) for i, c in zip(range(k), ("x", "y", "z"))]
    return out.select("series_id", *coords), var_pct


def pca_powerit_det(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rounds: int = 8,
) -> DataFrame:
    """E2c — DETERMINISTIC 2-component PCA twin of :func:`embedding_pca`
    (reference app.py:677-691), the c1b/c3b/c8b replayable-twin
    discipline applied to the one §2 embedding family whose production
    form (MLlib PCA) is sign/impl-indeterminate. Every reduction is an
    exact integer sum, every round result a 6-dp quantum, so a DuckDB
    oracle replays the whole pipeline value-for-value:

    * inputs quantize to int64 MICRO-units (``floor(v·1e6 + 0.5)``);
    * per-position means are exact micro-unit means (int sums in
      decimal(38,0) — DuckDB's sum(BIGINT) is HUGEINT, same headroom);
    * centering is exact integer subtraction (both operands on-grid);
    * the d×d scatter S = Σ c·cᵀ sums exact PICO-unit products
      map-side-combined into ≤ d² groups (ONE tiny shuffle — the
      standard distributed-Gramian shape: scales in n, constant in
      shuffle width), then rounds to 6 dp;
    * PC1 = ``rounds`` power-iteration steps from the all-ones seed,
      L1-normalized each step (micro-int norm, no sqrt — the c8b
      discipline); PC2 = ``rounds`` deflated steps from the
      alternating ±1 seed (+1 at EVEN 0-based positions), each step
      round6(S·w), Gram-Schmidt against PC1 (α from exact pico dots,
      one double division), L1-normalize;
    * scores x,y = round6(c·u), round6(c·w) — sequential int64 folds
      over the ordered per-row arrays, distributed with u/w broadcast
      as literals.

    The 16 d-vector iterations run driver-side on the collected d×d
    scatter (a bounded MODEL-STATE fetch, ≤ d² rows — the accepted
    centroid/codebook pattern); per-row scoring is distributed.
    Python's arbitrary-precision ints mirror DuckDB's HUGEINT sums
    exactly; every int→double conversion is IEEE nearest in both.

    Scale ceiling (documented per the micro-unit discipline): per-row
    |value| < 3e3 keeps each pico product < 9.2e18; the scatter's
    cross-row sums run in decimal(38,0)/HUGEINT (~1e38).

    Returns ``(series_id, x, y)``.
    """
    import math

    vu_arr = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)).cast("long"),
    )
    base = emb.select(F.col(id_col).alias("id"), vu_arr.alias("vu"))

    stats = (
        base.select("id", F.posexplode("vu").alias("p", "v"))
        .groupBy("p")
        .agg(
            F.sum(F.col("v").cast("decimal(28,0)")).alias("s"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    d = len(stats)
    mmu = [0] * d
    for r in stats:
        mmu[r["p"]] = int(math.floor(float(int(r["s"])) / r["n"] + 0.5))
    mmu_lit = lit_long_array(mmu)  # one py4j call, not d+1 (guide §7.3)

    cdf = base.select(
        "id", F.zip_with("vu", mmu_lit, lambda a, b: a - b).alias("c")
    )

    # Exact distributed Gramian: per-chunk int64 matmuls inside an
    # Arrow kernel, chunk length bounded so no partial sum can exceed
    # int64 (rows_per_chunk · max|c|² < 2⁶³); the ≤1-row-per-chunk
    # partial matrices are summed exactly on the driver with Python
    # arbitrary-precision ints. Identical integer totals to a
    # groupBy-sum (integer addition is associative), at n·d² flops
    # with matmul constants instead of n·d² generated codegen rows —
    # the shape that holds at 10⁹ rows. DuckDB replays the same sums
    # as HUGEINT.
    import numpy as np
    import pandas as pd

    def scatter_partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Cm = np.stack([np.asarray(x, dtype=np.int64) for x in pdf["c"]])
            mx = max(int(np.abs(Cm).max()), 1)
            step = max(1, int((2**63 - 1) // (mx * mx)))
            for i in range(0, len(Cm), step):
                part = Cm[i : i + step]
                yield pd.DataFrame({"s": [(part.T @ part).reshape(-1).tolist()]})

    flat = [0] * (d * d)
    for r in cdf.select("c").mapInPandas(
        scatter_partials, schema="s array<long>"
    ).collect():
        for idx, v in enumerate(r["s"]):
            flat[idx] += int(v)
    S = [
        [
            int(math.floor(float(flat[p * d + q]) / 1e6 + 0.5))
            for q in range(d)
        ]
        for p in range(d)
    ]

    def matvec(vec: list[int]) -> list[int]:
        return [sum(S[p][q] * vec[q] for q in range(d)) for p in range(d)]

    def l1unit(vec: list[int]) -> list[int]:
        nn = max(sum(abs(x) for x in vec), 1)
        return [
            int(math.floor(float(x) / float(nn) * 1e6 + 0.5)) for x in vec
        ]

    u = [10**6] * d
    for _ in range(rounds):
        u = l1unit(matvec(u))
    # +1 at EVEN 0-based positions == odd 1-based positions (the
    # oracle's generate_subscripts indexing — keep the two aligned)
    w = [(10**6 if p % 2 == 0 else -(10**6)) for p in range(d)]
    for _ in range(rounds):
        t6 = [int(math.floor(float(x) / 1e6 + 0.5)) for x in matvec(w)]
        a = sum(u[p] * t6[p] for p in range(d))
        b = sum(u[p] * u[p] for p in range(d))
        # degenerate zero-variance corpus → u ≡ 0 → a = b = 0; the
        # greatest(…,1) guard (mirrored in the oracle) yields α = 0
        # instead of a ZeroDivisionError/NaN divergence
        alpha = float(a) / float(max(b, 1))
        resid = [
            t6[p] - int(math.floor(alpha * float(u[p]) + 0.5)) for p in range(d)
        ]
        w = l1unit(resid)

    def score(lit) -> F.Column:
        dot = F.aggregate(
            F.zip_with("c", lit, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        return F.floor(dot.cast("double") / F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    u_lit = lit_long_array(u)
    w_lit = lit_long_array(w)
    return cdf.select(
        F.col("id").alias("series_id"),
        score(u_lit).alias("x"),
        score(w_lit).alias("y"),
    )


def embedding_umap(
    nested: DataFrame,
    n_components: int = 2,
    n_neighbors: int = 50,
    min_dist: float = 0.1,
    seed: int = 0,
    values_col: str = "values",
) -> DataFrame:
    """E3 — UMAP embed (app.py:661-667: init='random', random_state=0).

    umap-learn is a driver-side fit by nature; if it isn't installed
    (this environment), fall back to a clearly-marked DETERMINISTIC
    STAND-IN — a seeded Gaussian random projection to k dims evaluated
    JVM-side (broadcast weights, zip_with/aggregate dot products) — so
    the distributed contract (nested series in → (series_id, x, y)
    out) stays real and testable. The surrounding plumbing
    (collect → fit → distributed transform) is the shape a real
    deployment uses.
    """
    try:
        import umap  # noqa: F401
    except ImportError:  # pragma: no cover - env-dependent
        return _spectral_embedding_fallback(
            nested,
            k=n_components,
            n_neighbors=n_neighbors,
            values_col=values_col,
        )
    import numpy as np

    pdf = nested.select("series_id", values_col).toPandas()
    X = np.vstack(pdf[values_col].to_numpy())
    reducer = umap.UMAP(
        n_components=n_components,
        n_neighbors=n_neighbors,
        min_dist=min_dist,
        init="random",
        random_state=seed,
    )
    emb = reducer.fit_transform(X)
    spark = nested.sparkSession
    cols = ["x", "y", "z"][:n_components]
    out = pdf[["series_id"]].copy()
    for i, c in enumerate(cols):
        out[c] = emb[:, i].astype(float)
    return spark.createDataFrame(out)


def _spectral_embedding_fallback(
    nested: DataFrame,
    k: int = 2,
    n_neighbors: int = 15,
    values_col: str = "values",
) -> DataFrame:
    """FALLBACK for UMAP when umap-learn is absent: Laplacian
    Eigenmaps (Belkin & Niyogi 2003) — the spectral embedding UMAP
    itself builds on (and offers as its ``init='spectral'`` default).
    Unlike a random projection it embeds actual NEIGHBORHOOD structure:
    kNN graph → Gaussian edge weights (σ = median kNN distance) →
    normalized Laplacian → bottom non-trivial eigenvectors.

    Fit is driver-side on the collected matrix — the same shape as a
    real umap-learn fit (it is driver-side by nature); deterministic
    (symmetric eigendecomposition, per-vector sign fixed to make the
    largest-|entry| positive). Falls back to zeros for degenerate
    inputs (n ≤ k)."""
    import numpy as np

    pdf = nested.select("series_id", values_col).toPandas()
    spark = nested.sparkSession
    cols = ["x", "y", "z"][:k]
    n = len(pdf)
    if n == 0:
        return spark.createDataFrame([], "series_id long, " + ", ".join(f"{c} double" for c in cols))
    X = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf[values_col]])
    if n <= k:
        out = pdf[["series_id"]].copy()
        for c in cols:
            out[c] = 0.0
        return spark.createDataFrame(out)

    # Gram identity: ‖xᵢ−xⱼ‖² = ‖xᵢ‖² + ‖xⱼ‖² − 2⟨xᵢ,xⱼ⟩ — one BLAS
    # matmul instead of an (n, n, L) broadcast temporary (which is
    # gigabytes at n≈1500, L≈300 and dominated this fallback's runtime)
    sq = (X * X).sum(-1)
    d2 = np.maximum(sq[:, None] + sq[None, :] - 2.0 * (X @ X.T), 0.0)
    nn = min(n_neighbors, n - 1)
    # kNN adjacency (symmetrized), Gaussian weights
    knn_idx = np.argsort(d2, axis=1)[:, 1 : nn + 1]
    sigma2 = max(float(np.median(d2[np.arange(n)[:, None], knn_idx])), 1e-12)
    W = np.zeros_like(d2)
    rows = np.repeat(np.arange(n), nn)
    cols_i = knn_idx.ravel()
    W[rows, cols_i] = np.exp(-d2[rows, cols_i] / sigma2)
    W = np.maximum(W, W.T)
    deg = W.sum(1)
    deg[deg == 0] = 1.0
    d_inv_sqrt = 1.0 / np.sqrt(deg)
    L = np.eye(n) - d_inv_sqrt[:, None] * W * d_inv_sqrt[None, :]
    vals, vecs = np.linalg.eigh(L)
    # heat-kernel (diffusion) scaling e^{-λ}: coordinates along
    # low-frequency eigenvectors — cluster/component structure — keep
    # their scale, high-frequency within-cluster oscillations shrink,
    # so embedded distances reflect diffusion distance rather than
    # giving every eigenvector equal weight
    emb = vecs[:, 1 : k + 1] * np.exp(-vals[1 : k + 1])  # skip trivial vec 0
    # deterministic sign convention
    for j in range(emb.shape[1]):
        if emb[np.argmax(np.abs(emb[:, j])), j] < 0:
            emb[:, j] = -emb[:, j]
    out = pdf[["series_id"]].copy()
    for i, c in enumerate(cols):
        out[c] = emb[:, i] if i < emb.shape[1] else 0.0
    return spark.createDataFrame(out)


def _conv_channels(img_size: int) -> list[int]:
    """The reference's encoder widths: Conv2D(16) then log2(S)-4
    stride-2 layers doubling from 32 (app.py:563-572, factor() at
    app.py:644-649). 64 → [16, 32, 64] (final grid 8×8)."""
    import math

    chans = [16]
    c = 32
    for _ in range(int(math.log2(img_size)) - 4):
        chans.append(c)
        c *= 2
    return chans


def _im2col(X, k=3, stride=2):
    """(n, H, W, C) → (n, Ho, Wo, k·k·C) patch matrix for a stride-2
    'same' conv (Keras pads 0 before / 1 after for odd k, even H)."""
    import numpy as np

    n, H, W, C = X.shape
    Ho, Wo = (H + 1) // stride, (W + 1) // stride
    Xp = np.pad(X, ((0, 0), (0, 1), (0, 1), (0, 0)))
    cols = np.empty((n, Ho, Wo, k * k * C), dtype=X.dtype)
    for di in range(k):
        for dj in range(k):
            patch = Xp[:, di : di + H : stride, dj : dj + W : stride, :]
            cols[..., (di * k + dj) * C : (di * k + dj + 1) * C] = patch[
                :, :Ho, :Wo, :
            ]
    return cols


def _col2im(g_cols, in_shape, k=3, stride=2):
    """Adjoint of _im2col: scatter patch gradients back to the input."""
    import numpy as np

    n, H, W, C = in_shape
    Ho, Wo = (H + 1) // stride, (W + 1) // stride
    gXp = np.zeros((n, H + 1, W + 1, C), dtype=g_cols.dtype)
    for di in range(k):
        for dj in range(k):
            g = g_cols[..., (di * k + dj) * C : (di * k + dj + 1) * C]
            gXp[:, di : di + H : stride, dj : dj + W : stride, :][
                :, :Ho, :Wo, :
            ] += g
    return gXp[:, :H, :W, :]


_BN_EPS = 1e-3  # Keras BatchNormalization default epsilon


def _bn_forward(A, gamma, beta):
    """Train-mode BatchNorm over (n, h, w) per channel: batch mean/var,
    normalize, scale/shift. Returns (out, cache)."""
    import numpy as np

    mu = A.mean(axis=(0, 1, 2))
    var = A.var(axis=(0, 1, 2))
    xhat = (A - mu) / np.sqrt(var + _BN_EPS)
    return gamma * xhat + beta, (xhat, var, mu)


def _bn_backward(gO, gamma, cache):
    """Standard BatchNorm backward (train-mode batch statistics):
    returns (g_input, g_gamma, g_beta)."""
    import numpy as np

    xhat, var, _ = cache
    m = gO.shape[0] * gO.shape[1] * gO.shape[2]
    gbeta = gO.sum(axis=(0, 1, 2))
    ggamma = (gO * xhat).sum(axis=(0, 1, 2))
    gx = (gamma / np.sqrt(var + _BN_EPS)) * (gO - gbeta / m - xhat * ggamma / m)
    return gx, ggamma, gbeta


def _conv_encode(X_img, conv_params, bn_params=None, bn_stats=None):
    """Forward pass through the stride-2 conv stack (ReLU, then
    BatchNorm when ``bn_params`` is given — the reference's
    Conv2D(activation='relu') → BatchNormalization() order,
    app.py:563-571), returning the flattened feature map and the
    per-layer caches backprop needs. ``bn_stats`` (per-layer
    (running_mean, running_var)) switches BN to inference mode."""
    import numpy as np

    caches = []
    A = X_img
    for li, (W, b) in enumerate(conv_params):
        cols = _im2col(A)
        Z = cols @ W + b
        A_next = np.maximum(Z, 0.0)
        bn_cache = None
        if bn_params is not None:
            gamma, beta = bn_params[li]
            if bn_stats is not None:  # inference: running statistics
                mu, var = bn_stats[li]
                A_next = gamma * (A_next - mu) / np.sqrt(var + _BN_EPS) + beta
            else:
                A_next, bn_cache = _bn_forward(A_next, gamma, beta)
        caches.append((A.shape, cols, Z, bn_cache))
        A = A_next
    n = A.shape[0]
    return A.reshape(n, -1), A.shape, caches


def embedding_autoencoder(
    images: DataFrame,
    img_size: int = 64,
    image_col: str = "image",
    hidden: int = 32,
    epochs: int = 300,
    lr: float = 1e-3,
    patience: int = 50,
    seed: int = 0,
    loss_out: list | None = None,
    arch: str = "dense",
) -> DataFrame:
    """E1 — TRAINED autoencoder latent extraction (app.py:490-641).

    The reference fits a Conv2D stride-2 encoder down to a Dense 2-unit
    latent with Adam + MSE and patience-based early stopping
    (app.py:540-613, patience=50), then encodes every series. TF and
    conv primitives are unavailable here, so the network is a dense
    autoencoder in pure NumPy — flatten(S²), per-pixel centering →
    tanh(hidden) → linear(2) latent → tanh(hidden) → linear(S²) —
    trained with the SAME objective, optimizer (Adam), seeding, and
    early-stop protocol.
    Training runs driver-side on the collected resized images, exactly
    like the reference's single-process ``fit`` (§7: AE training is
    the one inherently single-node stage); n_series is bounded at the
    ML boundary by contract. INFERENCE is distributed: the trained
    weights travel to executors inside the mapInPandas closure and
    every partition encodes its own rows.
    """
    import numpy as np
    import pandas as pd

    from the_framework_for_clustering_time_series_data_spark.operators.imaging import resize_images

    resized = resize_images(images, img_size, image_col).cache()
    # series_id may be long (events path) or string (sliding-window
    # synthetic ids, pipeline.align("sliding")) — the output schema must
    # follow the input type or Arrow rejects the id column
    sid_type = resized.schema["series_id"].dataType.simpleString()
    out_schema = f"series_id {sid_type}, x double, y double"
    train_pdf = resized.toPandas()
    if train_pdf.empty:
        return resized.sparkSession.createDataFrame([], out_schema)
    X_raw = np.stack(
        [
            np.concatenate([np.asarray(r, dtype=np.float64) for r in img]) / 255.0
            for img in train_pdf[image_col]
        ]
    )
    # center per pixel: with raw [0,1] targets and a sigmoid/linear
    # output, "reconstruct the mean image" is a strong local optimum
    # that collapses the 2-unit latent to a point; on centered data the
    # zero solution is trivial and every unit of captured variance
    # strictly reduces MSE, so the latent must differentiate inputs
    pix_mean = X_raw.mean(axis=0)
    X = X_raw - pix_mean
    n, d = X.shape

    if arch == "conv":
        return _conv_autoencoder(
            resized, X, pix_mean, img_size, out_schema, image_col,
            hidden, epochs, lr, patience, seed, loss_out,
        )
    if arch != "dense":
        raise ValueError(f"unknown arch {arch!r} (dense|conv)")

    rng = np.random.default_rng(seed)
    # Glorot-style init, deterministic from `seed` (the reference pins
    # its seeds at app.py:493-494)
    params = {
        "W1": rng.standard_normal((d, hidden)) * np.sqrt(2.0 / (d + hidden)),
        "b1": np.zeros(hidden),
        "W2": rng.standard_normal((hidden, 2)) * np.sqrt(2.0 / (hidden + 2)),
        "b2": np.zeros(2),
        "W3": rng.standard_normal((2, hidden)) * np.sqrt(2.0 / (hidden + 2)),
        "b3": np.zeros(hidden),
        "W4": rng.standard_normal((hidden, d)) * np.sqrt(2.0 / (d + hidden)),
        "b4": np.zeros(d),
    }
    adam_m = {k: np.zeros_like(v) for k, v in params.items()}
    adam_v = {k: np.zeros_like(v) for k, v in params.items()}
    b1m, b2m, eps = 0.9, 0.999, 1e-8

    best_loss, best_params, since_best = np.inf, None, 0
    first_loss = None
    for step in range(1, epochs + 1):
        h1 = np.tanh(X @ params["W1"] + params["b1"])
        z = h1 @ params["W2"] + params["b2"]  # linear 2-D latent
        h3 = np.tanh(z @ params["W3"] + params["b3"])
        out = h3 @ params["W4"] + params["b4"]  # linear reconstruction
        err = out - X
        loss = float((err**2).mean())
        if first_loss is None:
            first_loss = loss

        if loss < best_loss - 1e-9:
            best_loss, since_best = loss, 0
            best_params = {k: v.copy() for k, v in params.items()}
        else:
            since_best += 1
            if since_best >= patience:  # early stop, reference protocol
                break

        # backprop (MSE, full batch)
        g_out = 2.0 * err / err.size
        g = {
            "W4": h3.T @ g_out, "b4": g_out.sum(0),
        }
        g_h3 = g_out @ params["W4"].T * (1 - h3**2)
        g["W3"], g["b3"] = z.T @ g_h3, g_h3.sum(0)
        g_z = g_h3 @ params["W3"].T
        g["W2"], g["b2"] = h1.T @ g_z, g_z.sum(0)
        g_h1 = g_z @ params["W2"].T * (1 - h1**2)
        g["W1"], g["b1"] = X.T @ g_h1, g_h1.sum(0)
        for k in params:
            adam_m[k] = b1m * adam_m[k] + (1 - b1m) * g[k]
            adam_v[k] = b2m * adam_v[k] + (1 - b2m) * g[k] ** 2
            mh = adam_m[k] / (1 - b1m**step)
            vh = adam_v[k] / (1 - b2m**step)
            params[k] -= lr * mh / (np.sqrt(vh) + eps)

    if loss_out is not None:  # [first-epoch MSE, best MSE] — for tests
        loss_out.extend([first_loss, best_loss])

    W1, b1 = best_params["W1"], best_params["b1"]
    W2, b2 = best_params["W2"], best_params["b2"]

    def _encode_batch(batches):
        for pdf in batches:
            if pdf.empty:
                yield pd.DataFrame(columns=["series_id", "x", "y"])
                continue
            M = (
                np.stack(
                    [
                        np.concatenate([np.asarray(r, dtype=np.float64) for r in img]) / 255.0
                        for img in pdf[image_col]
                    ]
                )
                - pix_mean
            )
            Z = np.tanh(M @ W1 + b1) @ W2 + b2
            yield pd.DataFrame(
                {"series_id": pdf["series_id"].values, "x": Z[:, 0], "y": Z[:, 1]}
            )

    return resized.mapInPandas(_encode_batch, schema=out_schema)


def _conv_autoencoder(
    resized, X, pix_mean, img_size, out_schema, image_col,
    hidden, epochs, lr, patience, seed, loss_out,
):
    """Conv2D-faithful E1 variant (``arch="conv"``): BOTH halves of the
    reference's architecture (app.py:560-590) in pure NumPy.

    ENCODER — Conv2D(16, 3, strides=2, ReLU) then log2(S)-4 stride-2
    conv layers doubling from 32 channels, Flatten, Dense(2)
    (app.py:563-578) — as im2col matmuls. DECODER — Dense(units),
    Reshape(g, g, S) (the reference reshapes to IMG_SIZE channels,
    app.py:581-582), log2(S)-4 Conv2DTranspose(3, strides=2, ReLU)
    layers halving from S/((log2(S)%2)+1) channels, final
    Conv2DTranspose(1) (app.py:584-590) — each transpose layer is the
    ADJOINT of the stride-2 conv, i.e. exactly ``_col2im`` applied to
    ``A @ Wt.T`` (and its backward pass is ``_im2col``), so the up path
    mirrors the down path operation-for-operation.

    BatchNormalization (round 6 — closing the last architecture
    divergence): the reference inserts ``BatchNormalization()`` after
    every ReLU conv AND transpose-conv layer (app.py:564, 570, 588);
    this rebuild now does too — train-mode batch statistics with
    learned γ/β (Keras eps 1e-3), momentum-0.99 running statistics
    tracked for the encoder and used at inference exactly like Keras,
    and the exact BN backward chained through both halves' adjoint
    discipline.

    Remaining documented divergences from app.py:490-641: weight-init
    RNG (different init → different minima, latent coordinates differ
    from a Keras run), and the final transpose layer is LINEAR rather
    than sigmoid — training runs on per-pixel-centered data (see
    embedding_autoencoder), where a sigmoid output could not even
    represent the targets. The invariants that matter — determinism,
    learning, latent differentiation — are asserted in tests/test_ml.py.
    """
    import numpy as np
    import pandas as pd

    n, d = X.shape
    S = img_size
    X_img = X.reshape(n, S, S, 1)
    chans = _conv_channels(S)

    rng = np.random.default_rng(seed)
    params = {}
    cin = 1
    for li, cout in enumerate(chans):
        fan_in = 9 * cin
        params[f"cW{li}"] = rng.standard_normal((fan_in, cout)) * np.sqrt(2.0 / fan_in)
        params[f"cb{li}"] = np.zeros(cout)
        params[f"cg{li}"] = np.ones(cout)   # BN γ
        params[f"cB{li}"] = np.zeros(cout)  # BN β
        cin = cout
    # encoder BN running statistics (momentum 0.99, Keras default) —
    # state, not parameters: tracked alongside, snapshotted with best
    run_mu = {li: np.zeros(c) for li, c in enumerate(chans)}
    run_var = {li: np.ones(c) for li, c in enumerate(chans)}
    grid = S >> len(chans)
    feat_dim = grid * grid * chans[-1]
    params["We"] = rng.standard_normal((feat_dim, 2)) * np.sqrt(2.0 / (feat_dim + 2))
    params["be"] = np.zeros(2)
    # decoder: Dense back to the reference's Reshape((g, g, S)) volume,
    # then the ConvTranspose stack — S/((count%2)+1) halving to the
    # single-channel output (app.py:581-590)
    count = int(np.log2(S))
    dec_chans = []
    lenl = S // ((count % 2) + 1)
    for _ in range(count - 4):
        dec_chans.append(lenl)
        lenl //= 2
    dec_chans.append(1)
    units_d = grid * grid * S
    params["Wd"] = rng.standard_normal((2, units_d)) * np.sqrt(2.0 / (units_d + 2))
    params["bd"] = np.zeros(units_d)
    dcin = S
    for li, dcout in enumerate(dec_chans):
        params[f"tW{li}"] = rng.standard_normal((9 * dcout, dcin)) * np.sqrt(
            2.0 / (9 * dcin)
        )
        params[f"tb{li}"] = np.zeros(dcout)
        if li < len(dec_chans) - 1:  # BN after every ReLU ConvT (not the output layer)
            params[f"tg{li}"] = np.ones(dcout)
            params[f"tB{li}"] = np.zeros(dcout)
        dcin = dcout

    adam_m = {k: np.zeros_like(v) for k, v in params.items()}
    adam_v = {k: np.zeros_like(v) for k, v in params.items()}
    b1m, b2m, eps = 0.9, 0.999, 1e-8

    def conv_params():
        return [(params[f"cW{li}"], params[f"cb{li}"]) for li in range(len(chans))]

    def enc_bn():
        return [(params[f"cg{li}"], params[f"cB{li}"]) for li in range(len(chans))]

    bn_mom = 0.99  # Keras BatchNormalization default momentum
    best_loss, best_params, since_best = np.inf, None, 0
    best_run = None
    first_loss = None
    loss = np.inf
    for step in range(1, epochs + 1):
        feat, feat_shape, caches = _conv_encode(X_img, conv_params(), bn_params=enc_bn())
        for li, (_, _, _, bn_c) in enumerate(caches):
            _, b_var, b_mu = bn_c
            run_mu[li] = bn_mom * run_mu[li] + (1 - bn_mom) * b_mu
            run_var[li] = bn_mom * run_var[li] + (1 - bn_mom) * b_var
        z = feat @ params["We"] + params["be"]
        # decoder forward: Dense → Reshape(g, g, S) → ConvT stack
        D0 = z @ params["Wd"] + params["bd"]
        A = D0.reshape(n, grid, grid, S)
        dec_caches = []
        g_cur = grid
        for li, dcout in enumerate(dec_chans):
            cols = (
                A.reshape(-1, A.shape[-1]) @ params[f"tW{li}"].T
            ).reshape(n, g_cur, g_cur, 9 * dcout)
            Y = _col2im(cols, (n, 2 * g_cur, 2 * g_cur, dcout)) + params[f"tb{li}"]
            if li < len(dec_chans) - 1:
                R = np.maximum(Y, 0.0)
                B, bn_c = _bn_forward(R, params[f"tg{li}"], params[f"tB{li}"])
                dec_caches.append((A, Y, bn_c))
                A = B
            else:
                dec_caches.append((A, Y, None))
                A = Y
            g_cur *= 2
        out = A.reshape(n, d)
        err = out - X
        loss = float((err**2).mean())
        if first_loss is None:
            first_loss = loss

        if loss < best_loss - 1e-9:
            best_loss, since_best = loss, 0
            best_params = {k: v.copy() for k, v in params.items()}
            best_run = (
                {li: v.copy() for li, v in run_mu.items()},
                {li: v.copy() for li, v in run_var.items()},
            )
        else:
            since_best += 1
            if since_best >= patience:
                break

        g_out = 2.0 * err / err.size
        # back through the ConvT stack: adjoint pairs swap, so the
        # backward of col2im(A @ Wt.T) is im2col → matmul
        g = {}
        g_A = g_out.reshape(n, S, S, 1)
        for li in range(len(dec_chans) - 1, -1, -1):
            A_in, Y, bn_c = dec_caches[li]
            if li == len(dec_chans) - 1:
                g_Y = g_A
            else:
                g_relu, g[f"tg{li}"], g[f"tB{li}"] = _bn_backward(
                    g_A, params[f"tg{li}"], bn_c
                )
                g_Y = g_relu * (Y > 0)
            g_cols = _im2col(g_Y)
            flat_gc = g_cols.reshape(-1, g_cols.shape[-1])
            flat_A = A_in.reshape(-1, A_in.shape[-1])
            g[f"tW{li}"] = flat_gc.T @ flat_A
            g[f"tb{li}"] = g_Y.sum(axis=(0, 1, 2))
            g_A = (flat_gc @ params[f"tW{li}"]).reshape(A_in.shape)
        g_D0 = g_A.reshape(n, units_d)
        g["Wd"], g["bd"] = z.T @ g_D0, g_D0.sum(0)
        g_z = g_D0 @ params["Wd"].T
        g["We"], g["be"] = feat.T @ g_z, g_z.sum(0)
        g_feat = (g_z @ params["We"].T).reshape(feat_shape)
        # back through the conv stack (reversed): BN backward first
        # (the forward order is conv → ReLU → BN)
        g_A = g_feat
        for li in range(len(chans) - 1, -1, -1):
            in_shape, cols, Z, bn_c = caches[li]
            g_relu, g[f"cg{li}"], g[f"cB{li}"] = _bn_backward(
                g_A, params[f"cg{li}"], bn_c
            )
            g_Z = g_relu * (Z > 0)
            flat_cols = cols.reshape(-1, cols.shape[-1])
            flat_gZ = g_Z.reshape(-1, g_Z.shape[-1])
            g[f"cW{li}"] = flat_cols.T @ flat_gZ
            g[f"cb{li}"] = flat_gZ.sum(0)
            g_cols = g_Z @ params[f"cW{li}"].T
            g_A = _col2im(g_cols, in_shape)

        for k in params:
            adam_m[k] = b1m * adam_m[k] + (1 - b1m) * g[k]
            adam_v[k] = b2m * adam_v[k] + (1 - b2m) * g[k] ** 2
            mh = adam_m[k] / (1 - b1m**step)
            vh = adam_v[k] / (1 - b2m**step)
            params[k] -= lr * mh / (np.sqrt(vh) + eps)

    if loss_out is not None:
        loss_out.extend([first_loss, best_loss])

    enc_conv = [
        (best_params[f"cW{li}"], best_params[f"cb{li}"]) for li in range(len(chans))
    ]
    enc_bn_params = [
        (best_params[f"cg{li}"], best_params[f"cB{li}"]) for li in range(len(chans))
    ]
    enc_bn_stats = [
        (best_run[0][li], best_run[1][li]) for li in range(len(chans))
    ]
    We, be = best_params["We"], best_params["be"]

    def _encode_batch(batches):
        for pdf in batches:
            if pdf.empty:
                yield pd.DataFrame(columns=["series_id", "x", "y"])
                continue
            M = (
                np.stack(
                    [
                        np.concatenate([np.asarray(r, dtype=np.float64) for r in img]) / 255.0
                        for img in pdf[image_col]
                    ]
                )
                - pix_mean
            ).reshape(-1, S, S, 1)
            # inference-mode BN: learned γ/β + momentum-0.99 running
            # statistics snapshotted at the best epoch (Keras semantics)
            feat, _, _ = _conv_encode(
                M, enc_conv, bn_params=enc_bn_params, bn_stats=enc_bn_stats
            )
            Z = feat @ We + be
            yield pd.DataFrame(
                {"series_id": pdf["series_id"].values, "x": Z[:, 0], "y": Z[:, 1]}
            )

    return resized.mapInPandas(_encode_batch, schema=out_schema)

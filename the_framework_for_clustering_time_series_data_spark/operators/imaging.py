"""Series→image encoders (reference I1-I3,
/root/reference/app.py:394-473) — the Autoencoder front-end.

All three are pure array math, so the matrix builds are JVM-side nested
``transform`` expressions over the nested ``(series_id, values)`` form —
no Python UDF for RP/GAF. Resize interpolation is a pandas UDF (NumPy
bilinear; the reference uses cv2, unavailable here — documented
divergence, deterministic either way).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _rp_cell(x: Column, y: Column, vmin: Column, vmax: Column) -> Column:
    # |x - y| / (max pairwise diff) * 255, floored to uint8 like
    # astype('uint8') (app.py:398-400); max |v_i - v_j| == vmax - vmin.
    return F.floor(F.abs(x - y) / (vmax - vmin) * 255).cast("int")


def recurrence_plot(nested: DataFrame, values_col: str = "values") -> DataFrame:
    """I1 — unthresholded recurrence plot Z[i,j] = |v_i - v_j| scaled to
    0-255 (app.py:394-402), as array<array<int>> per series."""
    v = F.col(values_col)
    vmin, vmax = F.array_min(v), F.array_max(v)
    mat = F.transform(v, lambda x: F.transform(v, lambda y: _rp_cell(x, y, vmin, vmax)))
    return nested.select("series_id", mat.alias("image"))


def _gaf_phi(values_col: str) -> Column:
    v = F.col(values_col)
    vmin, vmax = F.array_min(v), F.array_max(v)
    # (2x - max - min)/(max - min) clipped to [-1, 1] (app.py:430-436)
    scaled = F.transform(
        v,
        lambda x: F.greatest(
            F.lit(-1.0), F.least(F.lit(1.0), (x * 2 - vmax - vmin) / (vmax - vmin))
        ),
    )
    return F.transform(scaled, F.acos)


def gramian_angular_field(nested: DataFrame, values_col: str = "values") -> DataFrame:
    """I2 — GAF: min-max to [-1,1], φ = arccos, G[i,j] =
    (1 + cos(φ_i + φ_j)) · 255/2 (app.py:422-448), float matrix."""
    phi = _gaf_phi(values_col)
    mat = F.transform(
        phi, lambda a: F.transform(phi, lambda b: (F.cos(a + b) + 1) * 255 / 2)
    )
    return nested.select("series_id", mat.alias("image"))


def rp_long(nested: DataFrame, values_col: str = "values") -> DataFrame:
    """I1 in long form ``(series_id, i, j, pixel)`` — the
    oracle-checkable formulation (self-join semantics, SURVEY.md §2.4).
    """
    v = F.col(values_col)
    vmin, vmax = F.array_min(v), F.array_max(v)
    rows = F.transform(
        v,
        lambda x, i: F.struct(
            i.alias("i"),
            F.transform(v, lambda y: _rp_cell(x, y, vmin, vmax)).alias("row"),
        ),
    )
    return (
        nested.select("series_id", F.explode(rows).alias("r"))
        .select("series_id", F.col("r.i").alias("i"), F.posexplode("r.row").alias("j", "pixel"))
    )


def resize_images(images: DataFrame, img_size: int, image_col: str = "image") -> DataFrame:
    """I3 — resize each square matrix to (img_size, img_size) with
    bilinear interpolation, output uint8-truncated ints
    (app.py:457-473; reference uses cv2 INTER_AREA/INTER_LINEAR — cv2
    is not in this environment, so this is NumPy align-corners bilinear:
    deterministic, same shape contract).

    Arrow-batched pandas UDF over ``mapInPandas`` — per-row matrices
    stay columnar end to end.
    """
    import numpy as np
    import pandas as pd

    # id type follows the input (long for events-derived series, string
    # for sliding-window synthetic ids)
    sid_type = images.schema["series_id"].dataType.simpleString()
    out_schema = f"series_id {sid_type}, image array<array<int>>"

    def do_resize(batches):
        for pdf in batches:
            res = []
            for _, row in pdf.iterrows():
                m = np.stack([np.asarray(r, dtype=np.float64) for r in row[image_col]])
                n = m.shape[0]
                if n == img_size:
                    out = m
                elif n == 1:
                    out = np.full((img_size, img_size), m[0, 0])
                else:
                    idx = np.linspace(0.0, n - 1, img_size)
                    i0 = np.clip(np.floor(idx).astype(int), 0, n - 2)
                    frac = idx - i0
                    rows_i = m[i0] * (1 - frac)[:, None] + m[i0 + 1] * frac[:, None]
                    out = (
                        rows_i[:, i0] * (1 - frac)[None, :]
                        + rows_i[:, i0 + 1] * frac[None, :]
                    )
                res.append(
                    {
                        "series_id": row["series_id"],
                        "image": np.clip(out, 0, 255).astype(np.uint8).tolist(),
                    }
                )
            yield pd.DataFrame(res, columns=["series_id", "image"])

    return images.mapInPandas(do_resize, schema=out_schema)


def area_downsample(
    images: DataFrame, factor: int, image_col: str = "image"
) -> DataFrame:
    """I3's INTER_AREA semantics for integer shrink factors, exact:
    cv2 INTER_AREA with an integer scale IS the plain f×f box mean
    (the reference resizes with INTER_AREA when shrinking,
    app.py:468-470). Pure JVM nested array folds — block sums are
    exact integers and the single final division is deterministic, so
    a DuckDB oracle reproduces every output value bit-for-bit (unlike
    the float-order-sensitive bilinear path in ``resize_images``,
    whose accumulation order is NumPy's). Trailing rows/cols beyond
    the last full block are dropped (cv2's behavior for exact-integer
    scales never hits this; the guard keeps ragged inputs safe)."""
    if factor < 1:
        raise ValueError(f"factor must be >= 1, got {factor}")
    f = factor
    m = F.col(image_col)
    side = F.floor(F.size(m) / f).cast("int")

    def block(i: Column, j: Column) -> Column:
        rows = F.slice(m, i * f + 1, f)
        s = F.aggregate(
            rows,
            F.lit(0).cast("long"),
            lambda acc, r: acc
            + F.aggregate(
                F.slice(r, j * f + 1, f),
                F.lit(0).cast("long"),
                lambda a, x: a + x.cast("long"),
            ),
        )
        return F.round(s / (f * f), 6)

    idx = F.when(side >= 1, F.sequence(F.lit(0), side - 1)).otherwise(
        F.array().cast("array<int>")
    )
    out = F.transform(
        idx, lambda i: F.transform(idx, lambda j: block(i, j))
    )
    return images.select("series_id", out.alias(image_col))

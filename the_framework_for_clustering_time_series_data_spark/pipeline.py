"""End-to-end pipeline facade — the Spark-native replacement for the
reference's three-tab Dash workflow and its ~25 module globals
(/root/reference/app.py:94-123, SURVEY.md §3).

Each stage returns a DataFrame keyed by ``series_id``; lineage/
traceback is always an equi-join on the key (never positional). The
reference's per-stage memoization (S3) becomes explicit ``.cache()``
on the stage outputs.

    pipe = TimeSeriesPipeline(spark)
    pipe.load_csv(path, value_col="V", process_col="P")   # or load_events
    pipe.preprocess()                      # P1-P5: dropna + global norms
    pipe.align("truncation")               # G3 | G4 padding | G6 dtw
                                           # | G5: align("sliding", w, s)
    pipe.embed("pca")                      # E2 | E1 "autoencoder" | E3 "umap"
    pipe.cluster("kmeans", k=4)            # C1 | C2 "dbscan" | C3 "kshape"
    pipe.representatives()                 # T1+T2
    pipe.outliers()                        # T4 (DBSCAN)
    pipe.trace(series_id=...)              # T3: raw rows for one series
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from the_framework_for_clustering_time_series_data_spark.operators import align, cluster, embed, imaging, prep, trace


class TimeSeriesPipeline:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.raw: DataFrame | None = None          # (series_id, t, value)
        self.pre: DataFrame | None = None          # + z_score/min_max
        self.aligned: DataFrame | None = None      # equal-length long form
        self.embedding: DataFrame | None = None    # (series_id, x, y)
        self.predictions: DataFrame | None = None  # (series_id, prediction)
        self.pca_variance: list[float] | None = None
        self._det_assign: DataFrame | None = None  # (id, v, cell, d2) md5lloyd

    # --- sources (S1/S2) ---------------------------------------------------

    def load_csv(self, path: str, value_col: str, process_col: str | None = None, encoding: str = "UTF-8"):
        from the_framework_for_clustering_time_series_data_spark.sources.csv_source import read_timeseries_csv

        self.raw = read_timeseries_csv(self.spark, path, value_col, process_col, encoding).cache()
        return self

    def load_events(self, sf_dir: str):
        from the_framework_for_clustering_time_series_data_spark.sources.tables import events_as_series

        self.raw = events_as_series(self.spark, sf_dir).cache()
        return self

    def load_long(self, df: DataFrame):
        """Any (series_id, t, value) DataFrame."""
        self.raw = df
        return self

    # --- preprocess (P1-P5) --------------------------------------------------

    def preprocess(self) -> DataFrame:
        self.pre = prep.with_global_normalized(prep.drop_null_values(self.raw)).cache()
        return self.pre

    def preprocess_table(self) -> DataFrame:
        """The reference's Preprocess.csv export (K1)."""
        return prep.preprocess_table(self.raw)

    # --- alignment (G3-G6) ---------------------------------------------------

    def align(self, method: str, window_size: int = 10, shift_size: int = 1) -> DataFrame:
        src = self.pre if self.pre is not None else self.raw
        # carry the normalized track alongside raw (G7 dual track)
        if method == "truncation":
            out = align.truncate_to_min(src)
        elif method == "padding":
            out = align.pad_to_max(src)
        elif method == "dtw":
            out = align.dtw_stretch_align(src.select("series_id", "t", "value"))
        elif method == "sliding":
            win = align.sliding_windows(src, window_size, shift_size)
            # windows become synthetic series (app.py:1788-1793)
            out = win.select(
                F.concat_ws("_", "series_id", "window_id").alias("series_id"),
                F.col("pos").alias("t"),
                *[c for c in win.columns if c not in ("series_id", "window_id", "pos")],
            )
        else:
            raise ValueError(f"unknown align method {method!r}")
        self.aligned = out.cache()
        return self.aligned

    # --- embedding (E1-E3) ---------------------------------------------------

    def embed(self, method: str = "pca", img_size: int = 64, imaging_kind: str = "rp") -> DataFrame:
        src = self.aligned if self.aligned is not None else self.raw
        value_col = "min_max" if "min_max" in src.columns else "value"
        nested = align.to_nested(src.select("series_id", "t", F.col(value_col).alias("value")))
        if method == "pca":
            out, self.pca_variance = embed.embedding_pca(nested, k=2)
        elif method == "autoencoder":
            imager = imaging.recurrence_plot if imaging_kind == "rp" else imaging.gramian_angular_field
            out = embed.embedding_autoencoder(imager(nested), img_size=img_size)
        elif method == "umap":
            out = embed.embedding_umap(nested)
        else:
            raise ValueError(f"unknown embed method {method!r}")
        self.embedding = out.cache()
        return self.embedding

    # --- clustering (C1-C4) --------------------------------------------------

    def _require(self, attr: str, hint: str):
        if getattr(self, attr) is None:
            raise RuntimeError(f"pipeline stage missing: call {hint} first")

    def cluster(self, method: str = "kmeans", k: int | None = None, eps: float = 0.5,
                min_samples: int = 5, seed: int = 10) -> DataFrame:
        if method not in ("kshape", "md5lloyd"):
            # these two cluster the series themselves — no embedding stage
            self._require("embedding", ".embed(...)")
        if method == "kmeans":
            if k is None:
                top = cluster.silhouette_selection(self.embedding, seed=seed, exact=False).collect()
                k = int(top[0]["k"])
            out, _ = cluster.kmeans_fit_predict(self.embedding, k=k, seed=seed)
            out = out.select("series_id", "prediction")
        elif method == "dbscan":
            out = cluster.dbscan(self.embedding, eps=eps, min_samples=min_samples)
        elif method == "kshape":
            src = self.aligned if self.aligned is not None else self.raw
            nested = align.to_nested(src.select("series_id", "t", "value"))
            out = cluster.kshape(nested, k=k or 2, seed=seed)
        elif method == "md5lloyd":
            # the DETERMINISTIC pipeline spine: cluster the aligned,
            # globally-min-max-normalized series VECTORS directly with
            # the md5-seeded fixed-round Lloyd (no model fit, no
            # embedding stage needed) — every stage of the chain
            # replays in SQL, so the whole facade path is
            # oracle-checkable (pipeline_e2e_det)
            src = self.aligned if self.aligned is not None else self.raw
            value_col = "min_max" if "min_max" in src.columns else "value"
            nested = align.to_nested(
                src.select("series_id", "t", F.col(value_col).alias("value"))
            )
            r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
            v = nested.select(
                "series_id", F.transform("values", r6).alias("v")
            )
            assign, _ = cluster.deterministic_lloyd_assign(
                v, k or 4, id_col="series_id", vec_col="v", exact_mean=True
            )
            self._det_assign = assign.cache()
            out = self._det_assign.select(
                F.col("id").alias("series_id"),
                F.col("cell").cast("int").alias("prediction"),
            )
        else:
            raise ValueError(f"unknown cluster method {method!r}")
        self.predictions = out.cache()
        return self.predictions

    def det_assignments(self) -> DataFrame:
        """The md5lloyd cluster stage's full verifiable output:
        ``(series_id, prediction, dist, is_rep)`` — every series'
        assignment, its 6-dp distance to the final centroid, and the
        T2-style representative flag (member minimizing distance, ties
        → smaller id). Requires ``cluster("md5lloyd")``."""
        if self._det_assign is None:
            raise RuntimeError('pipeline stage missing: call cluster("md5lloyd") first')
        from pyspark.sql.window import Window

        w = Window.partitionBy("cell").orderBy("d2", "id")
        return self._det_assign.select(
            F.col("id").alias("series_id"),
            F.col("cell").cast("int").alias("prediction"),
            (F.floor(F.col("d2") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("dist"),
            (F.row_number().over(w) == 1).alias("is_rep"),
        )

    def silhouette_options(self, max_k: int = 10, seed: int = 10) -> DataFrame:
        """C4 — the reference's top-5 k choices with score % (app.py:790-808)."""
        return cluster.silhouette_selection(self.embedding, max_k=max_k, seed=seed, exact=False)

    # --- post-clustering (T1-T5) ----------------------------------------------

    def centroids(self) -> DataFrame:
        self._require("predictions", ".cluster(...)")
        return trace.centroids(self.embedding, self.predictions)

    def representatives(self) -> DataFrame:
        self._require("predictions", ".cluster(...)")
        return trace.representatives(self.embedding, self.predictions)

    def outliers(self) -> DataFrame:
        self._require("predictions", ".cluster(...)")
        return trace.outliers(self.predictions, self.raw)

    def representative_series(self, max_points: int = 100) -> DataFrame:
        """T5 — the plot payload for each cluster's representative: the
        representative series' raw points, LTTB-downsampled to
        ``max_points`` so a dashboard renders O(max_points) per cluster
        at any corpus size (the reference plots representatives
        wholesale, app.py:1018-1033 + figure callbacks). Returns
        (prediction, series_id, bucket, v, pick)."""
        self._require("predictions", ".cluster(...)")
        from the_framework_for_clustering_time_series_data_spark.operators.resample import lttb_downsample

        reps = self.representatives().select("prediction", "series_id")
        pts = self.raw.join(F.broadcast(reps), "series_id").select(
            "series_id", "prediction", F.col("t").alias("bucket"),
            F.col("value").alias("v_avg"),
        )
        out = lttb_downsample(pts, threshold=max_points, bucket_col="bucket",
                              value_col="v_avg")
        return out.join(F.broadcast(reps), "series_id").select(
            "prediction", "series_id", "bucket", "v", "pick"
        )

    def trace(self, x: float, y: float, tol: float = 1e-6) -> DataFrame:
        """T3 — coordinate → raw series rows."""
        self._require("embedding", ".embed(...)")
        ids = trace.traceback(self.embedding, x, y, tol).select("series_id")
        return self.raw.join(F.broadcast(ids), "series_id")

    # --- sinks (K1/K2) ---------------------------------------------------------

    def export_preprocess_csv(self, path: str):
        self.preprocess_table().write.option("header", True).mode("overwrite").csv(path)

    def export_embedding_csv(self, path: str):
        (
            self.embedding.select(
                F.col("series_id").alias("Process"),
                F.col("x").alias("X"),
                F.col("y").alias("Y"),
            )
            .write.option("header", True)
            .mode("overwrite")
            .csv(path)
        )

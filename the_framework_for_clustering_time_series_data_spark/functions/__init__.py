"""Public column-expression library — the engine's reusable scalar /
array functions, all JVM-evaluated (pyspark.sql.functions compositions,
no Python UDFs). Import surface for users composing their own plans:

    from the_framework_for_clustering_time_series_data_spark import functions as SF
    docs.select(SF.cosine(F.col("a"), F.col("b")))

Vector math (over array<double>):
  dot, norm, cosine        — similarity primitives (zip_with/aggregate)
Statistics:
  rms                      — sqrt(mean(x²)) aggregate
Text:
  tokens                   — lowercase whitespace tokenization
  shingles                 — distinct word n-gram shingles
  hashed_shingles          — 64-bit shingle hashes, no string materialization
"""

from __future__ import annotations

import importlib

# name → (operators module, attribute). Resolved on first access, so
# importing this package (e.g. for plan_tools) loads no operator module
# and the operators may import plan_tools at module top.
_EXPORTS = {
    "dot": ("similarity", "dot_expr"),
    "norm": ("similarity", "norm_expr"),
    "cosine": ("similarity", "cosine_expr"),
    "rms": ("stats", "rms"),
    "tokens": ("text", "tokens_expr"),
    "shingles": ("dedup", "_shingles"),
    "hashed_shingles": ("dedup", "_hashed_shingles"),
}

__all__ = list(_EXPORTS)


def __getattr__(name: str):
    try:
        module, attr = _EXPORTS[name]
    except KeyError:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}") from None
    package = __package__.rpartition(".")[0]
    return getattr(importlib.import_module(f"{package}.operators.{module}"), attr)

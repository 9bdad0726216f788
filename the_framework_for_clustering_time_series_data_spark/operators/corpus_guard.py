"""Bounded-corpus contract enforcement + id-dtype derivation for the
exact (driver-collect / broadcast) kernels.

Several exact baselines — ``embedding_cosine_pairs``,
``brute_force_topk``'s query side, the kNN-graph plan — collect a
matrix to the driver and broadcast it. That is the correct physical
strategy for a BOUNDED corpus (one BLAS matmul per Arrow batch), and a
driver OOM at fleet scale. The contract used to live only in
docstrings; ``collect_bounded`` makes it executable: past the
limit the kernel refuses with the name of the ANN route that replaces
it, instead of dying inside ``collect()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row

#: Rows the exact kernels will collect/broadcast without complaint.
#: ~1M × 64-dim float64 ≈ 0.5 GB on the driver — the documented safe
#: ceiling; raise per-call when you know the driver can take it.
DEFAULT_MAX_CORPUS_ROWS = 1_000_000


class BoundedCorpusError(ValueError):
    """An exact kernel was asked to driver-collect an unbounded corpus."""


def collect_bounded(
    df: DataFrame,
    *,
    op: str,
    scale_route: str,
    limit: int | None = None,
) -> list[Row]:
    """``df.collect()``, refusing with :class:`BoundedCorpusError` when
    ``df`` has more than ``limit`` rows, naming the distributed route
    to use instead.

    One bounded collect (``df.limit(limit + 1).collect()``): Spark
    stops scanning once ``limit + 1`` rows are in, so the driver holds
    at most one row more than the contract allows before it refuses,
    never a 100 TB table. The limit runs as Spark's
    collect-limit, outside generated code: a ``limit(n).count()``
    probe compiles a new class on every call, because Spark names each
    generated limit counter from a JVM-wide sequence, so no warm run
    can reuse it. ``limit=0`` collects without a bound, for an input
    known to be small (already counted, or a dimension table).
    """
    limit = DEFAULT_MAX_CORPUS_ROWS if limit is None else limit
    if limit == 0:
        return df.collect()
    rows = df.limit(limit + 1).collect()
    if len(rows) > limit:
        raise BoundedCorpusError(
            f"{op}: corpus exceeds the bounded-corpus contract "
            f"(> {limit} rows would be collected and broadcast to the "
            f"driver). At this scale use {scale_route}, or pass a larger "
            f"max_corpus_rows if the driver is provisioned for it."
        )
    return rows


def id_spark_type(df: DataFrame, id_col: str) -> str:
    """The id column's Spark DDL type (``bigint``, ``string``, …) — for
    building output schemas that FOLLOW the input id type instead of
    hard-coding ``long`` (sliding-window series ids are strings)."""
    return df.schema[id_col].dataType.simpleString()

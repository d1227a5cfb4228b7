"""Python UDF surfaces: Arrow-batched grouped ops (applyInPandas) and
table functions (UDTF).

The reference has no UDF surface of any kind (SURVEY §2.6). These cover
the three Python extension points a pipeline needs beyond scalar
``pandas_udf`` (exercised in operators/multimodal.py):

- applyInPandas: whole-group pandas transforms (per-key model scoring,
  normalization, custom ranking). One shuffle on the group key, Arrow
  both ways, vectorized inside.
- UDTF: row → many-rows expansion with arbitrary Python (parsers,
  segmenters) via LATERAL join.

Both are the *slow path* by design — used only where built-in
expressions can't express the semantics; everything here has a
built-in twin used as the test oracle.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


RANK_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("value_rank", T.LongType()),
    ]
)


def grouped_value_rank(events: DataFrame) -> DataFrame:
    """Per-user rank of events by value (desc) via applyInPandas —
    the grouped-map UDF shape. pandas `rank(method="min")` matches SQL
    RANK() tie semantics exactly, so the DuckDB oracle is a plain
    window; the point proven is the plumbing (grouping, Arrow batches,
    schema contract), not the arithmetic."""

    def rank_group(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf[["user_id", "event_id", "value"]].copy()
        out["value_rank"] = (
            out["value"].rank(method="min", ascending=False).astype("int64")
        )
        return out

    return events.select("user_id", "event_id", "value").groupBy("user_id").applyInPandas(
        rank_group, RANK_SCHEMA
    )


_TOKEN_RE = re.compile(r"\s+")


def tokenize_py(text: str) -> list[str]:
    """Python twin of textual.tokens (lower, split on whitespace)."""
    if text is None:
        return []
    return [t for t in _TOKEN_RE.split(text.strip().lower()) if t]


def make_tokenize_udtf():
    """A Python UDTF emitting (pos, token) rows per document — the
    row-to-table extension point (LATERAL join). Built lazily so module
    import never requires a live Spark session."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: int, token: string")
    class TokenizeUDTF:
        def eval(self, text: str):
            for i, tok in enumerate(tokenize_py(text)):
                yield i, tok

    return TokenizeUDTF


def make_median_udaf():
    """Grouped-aggregate pandas UDF (the UDAF extension point): one
    scalar per group, computed over the whole group as an Arrow batch.
    Median is the canonical choice — not expressible as an algebraic
    built-in combination, but pandas' interpolated median matches SQL
    ``median()`` exactly on the half-integer quantity domain, so the
    DuckDB oracle stays exact. Built lazily: decorating at import time
    would require a live Spark session."""

    @F.pandas_udf("double")
    def median_udaf(v: pd.Series) -> float:
        return float(v.median())

    return median_udaf


def doc_terms(spark, docs: DataFrame) -> DataFrame:
    """(doc_id, pos, token) for every document via the tokenize UDTF
    in a LATERAL join.

    The input view name is unique per call and dropped immediately:
    ``spark.sql`` analyzes eagerly, so the returned DataFrame holds the
    resolved plan and never re-reads the view. A fixed name would let
    two concurrent callers (a multi-query session, the suite's threaded
    sweeps) replace each other's input between create and analysis.
    This assumes classic PySpark: under Spark Connect ``spark.sql`` is
    analyzed lazily on the server, so the returned DataFrame would fail
    once the view is dropped.
    """
    import uuid

    TokenizeUDTF = make_tokenize_udtf()
    spark.udtf.register("tyto_tokenize", TokenizeUDTF)
    view = f"__udtf_docs_{uuid.uuid4().hex[:8]}"
    docs.select("doc_id", "text").createOrReplaceTempView(view)
    try:
        return spark.sql(
            f"""
            SELECT d.doc_id, t.pos, t.token
            FROM {view} d, LATERAL tyto_tokenize(d.text) t
            """
        )
    finally:
        spark.catalog.dropTempView(view)

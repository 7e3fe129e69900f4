"""Layout pass: recover reading order from geometric span offsets.

North_star: "line clustering by y-offset, column detection, reading-order
sort"; the reference itself only relies on implicit block order
(reference parsing_engine/layout_analyzer.py:17-31). `layout_order_op`
runs real layout INFERENCE over packed (y, x) offsets
(offset = y*X_STRIDE + x): cluster jittered baselines into lines, detect
a column gutter from the x distribution, sort column-major. Vectorized
pandas UDF over semantics.layout_reading_order, the oracle's per-doc
path; the extraction kernel runs its whole-batch twin
(operators.resume.reading_order).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .. import semantics as S

# ---------------------------------------------------------------------------
# Geometric layout inference (north_star: line clustering by y-offset,
# column detection, reading-order sort) — SURVEY §2.10 U7
# ---------------------------------------------------------------------------

SPAN_TYPE = T.ArrayType(T.StructType([
    T.StructField("kind", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("offset", T.IntegerType()),
]))


def order_spans_py(spans) -> list[dict]:
    """Layout-infer reading order and renumber offsets 0..n-1.
    Shared semantics with the oracle (semantics.layout_reading_order)."""
    if spans is None:
        return []
    as_dicts = [
        {"kind": s["kind"], "text": s["text"],
         "media_ref": s["media_ref"], "offset": s["offset"]}
        for s in spans
    ]
    ordered = S.layout_reading_order(as_dicts)
    return [dict(s, offset=i) for i, s in enumerate(ordered)]


@pandas_udf(SPAN_TYPE)
def _layout_order_udf(spans: pd.Series) -> pd.Series:
    return spans.apply(order_spans_py)


def layout_order_op(df: DataFrame, spans_col: str = "clean_spans") -> DataFrame:
    """Vectorized layout pass over span arrays: cluster lines by y
    proximity, detect a column gutter from the x distribution, emit spans
    in column-major reading order with offsets renumbered. The extraction
    pipeline does not call this: its kernel (operators.resume.clean_columns)
    runs the same inference after classify, inside its one Arrow
    crossing, as one numpy sort over the whole batch
    (operators.resume.reading_order).
    """
    return df.withColumn(spans_col, _layout_order_udf(F.col(spans_col)))

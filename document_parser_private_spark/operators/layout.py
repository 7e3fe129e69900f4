"""Layout pass: recover reading order from geometric span offsets.

North_star: "line clustering by y-offset, column detection, reading-order
sort"; the reference itself only relies on implicit block order
(reference parsing_engine/layout_analyzer.py:17-31). `layout_order_op`
runs real layout INFERENCE over packed (y, x) offsets
(offset = y*X_STRIDE + x): cluster jittered baselines into lines, detect
a column gutter from the x distribution, sort column-major. It is the
extraction kernel's whole-batch reading order
(operators.resume.reading_order, pinned equal to the oracle's per-doc
semantics.layout_reading_order) run through an Arrow UDF.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type

from .batch import forget_zip_importers

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
SPAN_ARROW = to_arrow_type(SPAN_TYPE)


def order_spans(spans: pa.ListArray) -> pa.ListArray:
    """Each row's spans in layout reading order with offsets renumbered
    0..n-1, for a whole Arrow batch at once; a null row gives []."""
    from .resume import reading_order  # resume imports SPAN_TYPE from here

    flat = pc.list_flatten(spans)
    rows = pc.list_parent_indices(spans).to_numpy()
    bounds = np.zeros(len(spans) + 1, np.int64)
    bounds[1:] = np.cumsum(
        pc.list_value_length(spans).fill_null(0).to_numpy())
    taken = flat.take(reading_order(rows, flat.field("offset")))
    # the order keeps each row's spans in its own block, so rows[i] is
    # also the row of output span i
    pos = pa.array(np.arange(len(rows)) - bounds[rows], pa.int32())
    return pa.ListArray.from_arrays(
        pa.array(bounds, pa.int32()),
        pa.StructArray.from_arrays(
            [taken.field("kind"), taken.field("text"),
             taken.field("media_ref"), pos],
            fields=list(SPAN_ARROW.value_type), mask=taken.is_null()),
        type=SPAN_ARROW)


@arrow_udf(SPAN_TYPE)
def _reading_order_udf(spans: pa.Array) -> pa.Array:
    forget_zip_importers()
    return order_spans(spans)


def layout_order_op(df: DataFrame, spans_col: str = "clean_spans") -> DataFrame:
    """Layout pass over span arrays: cluster lines by y proximity, detect
    a column gutter from the x distribution, emit spans in column-major
    reading order with offsets renumbered. The extraction pipeline does
    not call this: its kernel (operators.resume.clean_columns) runs the
    same reading order after classify, inside its one Arrow crossing.
    """
    return df.withColumn(spans_col, _reading_order_udf(F.col(spans_col)))

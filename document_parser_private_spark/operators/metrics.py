"""Evaluation-metrics operators (SURVEY §2.4 A5, §2.3 J4).

Set-based precision/recall/F1 of predicted vs ground-truth entity sets
— the Spark form of the reference's
testing/accuracy_benchmark/evaluation_metrics.py:10-50 (pd.merge +
set intersections), expressed as array_intersect/except over rows that
already pair each prediction with its truth, aggregated micro-style per
group.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def evaluation_metrics(
    df: DataFrame,
    pred_col: str,
    true_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Rows holding a predicted and a ground-truth entity array ->
    micro precision/recall/f1 (rounded to 6) per group (or global).
    Pair each prediction with its truth first: a join on the document
    id, or a window when the truth derives from the same table."""
    j = df.select(
        *( [F.col(group_col)] if group_col else [] ),
        F.size(F.array_intersect(pred_col, true_col)).alias("tp"),
        F.size(F.array_except(pred_col, true_col)).alias("fp"),
        F.size(F.array_except(true_col, pred_col)).alias("fn"),
    )
    keys = [group_col] if group_col else []
    agg = j.groupBy(*keys).agg(
        F.sum("tp").cast("long").alias("tp"),
        F.sum("fp").cast("long").alias("fp"),
        F.sum("fn").cast("long").alias("fn"),
    )
    precision = F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1))
    recall = F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1))
    f1 = 2 * precision * recall / F.greatest(precision + recall, F.lit(1e-12))
    return agg.select(
        *keys,
        "tp", "fp", "fn",
        F.round(precision, 6).alias("precision"),
        F.round(recall, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def fuzzy_similarity(
    pred: DataFrame,
    truth: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | None = None,
) -> DataFrame:
    """Average fuzzy string similarity of predicted vs ground-truth text
    per group — the reference's token_set_ratio similarity metric
    (testing/accuracy_benchmark/evaluation_metrics.py:43), vectorized as
    a pandas UDF over the joined pairs."""
    from .. import semantics as S

    @pandas_udf("double")
    def _tsr(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series([
            S.token_set_ratio(x or "", y or "") for x, y in zip(a, b)
        ])

    p = pred.select(
        F.col(id_col),
        *([F.col(group_col)] if group_col else []),
        F.col(text_col).alias("pred_text"),
    )
    t = truth.select(F.col(id_col), F.col(text_col).alias("true_text"))
    j = p.join(t, id_col, "inner").withColumn(
        "sim", _tsr(F.col("pred_text"), F.col("true_text"))
    )
    keys = [group_col] if group_col else []
    return j.groupBy(*keys).agg(
        F.round(F.avg("sim"), 6).alias("avg_similarity"),
        F.round(F.min("sim"), 6).alias("min_similarity"),
        F.count("*").cast("long").alias("n_pairs"),
    )

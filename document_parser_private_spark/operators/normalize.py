"""Relational skill normalization: broadcast ontology join + fuzzy-on-miss
(SURVEY §2.3 J1/J3/U3 — the explode/join formulation).

The extraction pipeline uses the doc-local UDF variant (operators/
resume.py: zero shuffle, memoized). This operator is the relational
formulation for workloads that want the ontology as a TABLE (governed,
updatable without code): explode phrases -> clean -> broadcast LEFT join
on lower(variant) (J1 exact, J3 canonicalization) -> vectorized fuzzy UDF
only on the misses (U3 short-circuit) -> re-aggregate sorted distinct.

At 100 TB: the ontology is tiny (broadcast), the explode multiplies rows
~10x but each row is a short string, and the final groupBy re-aggregates
on doc_id — one shuffle of (doc_id, skill) pairs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .. import semantics as S
from ..corpus import SKILLS_ONTOLOGY
from ..functions.text import split_skills_col
from ..oracle import build_skill_index


def ontology_df(spark, ontology: dict[str, list[str]] | None = None) -> DataFrame:
    """(variant, canonical) dimension — canonicals map to themselves."""
    ontology = ontology if ontology is not None else SKILLS_ONTOLOGY
    rows = []
    for canonical, variants in ontology.items():
        rows.append((canonical.lower(), canonical))
        for v in variants:
            rows.append((v.lower(), canonical))
    return spark.createDataFrame(rows, "variant_lower string, canonical string")


_LOWER, _V2C, _INDEX = build_skill_index(SKILLS_ONTOLOGY)


@pandas_udf(T.StringType())
def _fuzzy_only_udf(phrase: pd.Series) -> pd.Series:
    """U3: fuzzy match for exact-join misses (already label/paren-cleaned)."""
    def one(p):
        if p is None:
            return None
        match = S.best_fuzzy_match(p, _INDEX, 80.0)
        return _V2C.get(match, match) if match is not None else p
    return phrase.apply(one)


def clean_phrase_col(col):
    """Category-label + parenthetical strip (skill_normalizer.py:59-62)."""
    out = col
    for label in S.SKILL_CATEGORY_LABELS:
        # Python twin uses re \s (Unicode) after the colon — mirror it.
        out = F.regexp_replace(out, f"^{label}:{S.PY_WS_JRE}*", "")
    out = F.regexp_replace(out, r"\([^)]*\)", "")
    return F.regexp_replace(out, f"^{S.PY_WS_JRE}+|{S.PY_WS_JRE}+$", "")


def normalize_skills_join(
    df: DataFrame,
    skills_text_col: str = "skills_text",
    id_col: str = "doc_id",
    ontology: DataFrame | None = None,
    fuzzy: bool = True,
) -> DataFrame:
    """df(id, skills_text) -> (id, skills array<string> sorted distinct)."""
    spark = df.sparkSession
    onto = ontology if ontology is not None else ontology_df(spark)
    phrases = df.select(
        F.col(id_col),
        F.explode(split_skills_col(F.col(skills_text_col))).alias("phrase"),
    ).withColumn("clean", clean_phrase_col(F.col("phrase")))
    joined = phrases.join(
        F.broadcast(onto),
        F.lower(F.col("clean")) == F.col("variant_lower"),
        "left",
    )
    if fuzzy:
        resolved = joined.withColumn(
            "skill",
            F.coalesce(
                F.col("canonical"), _fuzzy_only_udf(F.col("clean"))
            ),
        )
    else:
        resolved = joined.withColumn(
            "skill", F.coalesce(F.col("canonical"), F.col("clean"))
        )
    kept = resolved.where(
        (F.length("skill") > 1)
        & ~F.lower(F.col("skill")).isin(*S.STOP_WORDS)
    )
    return kept.groupBy(id_col).agg(
        F.array_sort(F.array_distinct(F.collect_list("skill"))).alias("skills")
    )

"""Education scalar functions as native expressions (SURVEY §2.8 F12,
F13, F20).

Degree expansion mirrors semantics.expand_degree (reference
education_normalizer.py:92-142): punctuation strip, abbreviation
expansion (only BS/BA/MS/MA/MBA/PHD expand; bsc/msc/bachelor/... match
but stay), grammar fixes, trailing-'Degree' strip. Chain order is load-
bearing: MBA before BA/MA.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.text import ws_trim

DEGREE_CHAIN: tuple[tuple[str, str], ...] = (
    (r"(?i)\bMBA\b", "Master of Business Administration"),
    (r"(?i)\bPHD\b", "Doctor of Philosophy"),
    (r"(?i)\bBS\b", "Bachelor of Science"),
    (r"(?i)\bBA\b", "Bachelor of Arts"),
    (r"(?i)\bMS\b", "Master of Science"),
    (r"(?i)\bMA\b", "Master of Arts"),
    (r"(?i)\bMasters\b", "Master"),
    (r"(?i)\bAdmin\b", "Administration"),
    (r"(?i)\bin\b", "of"),
)


def expand_degree_col(degree: Column) -> Column:
    """Native twin of semantics.expand_degree (null/empty -> '')."""
    clean = F.regexp_replace(degree, r"[^\w\s]", "")
    for pat, repl in DEGREE_CHAIN:
        clean = F.regexp_replace(clean, pat, repl)
    clean = ws_trim(F.regexp_replace(clean, r"(?i)\bDegree\b$", ""))
    return (
        F.when(F.coalesce(degree, F.lit("")) == "", F.lit(""))
        .when(clean == "", degree)
        .otherwise(clean)
    )


GPA_JRE = r"\b(\d\.\d{1,2})\b"
GPA_VETO_JRE = r"(?i)out\s+of|on|scale"


def gpa_col(text: Column) -> Column:
    """GPA extract with scale-indicator veto (education_normalizer.py:
    198-219): any veto word anywhere nulls the result."""
    raw = F.nullif(F.regexp_extract(text, GPA_JRE, 1), F.lit(""))
    return F.when(text.rlike(GPA_VETO_JRE), F.lit(None).cast("double")) \
        .otherwise(raw.cast("double"))


"""Experience scalar functions as native expressions (SURVEY §2.8 F19).

Title expansion mirrors semantics.expand_title (reference
experience_normalizer.py:77-109 + config/patterns.yaml:47-71): compound
abbreviations first, then single-word; case-insensitive with optional
periods.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..semantics import TITLE_ABBREVIATIONS


def expand_title_col(title: Column) -> Column:
    """Native twin of semantics.expand_title — same two-pass order."""
    expanded = title
    for pat, repl in TITLE_ABBREVIATIONS:
        if " " in pat or r"\s*" in pat:
            expanded = F.regexp_replace(expanded, rf"(?i)\b{pat}\b", repl)
    for pat, repl in TITLE_ABBREVIATIONS:
        if " " not in pat and r"\s*" not in pat:
            expanded = F.regexp_replace(expanded, rf"(?i)\b{pat}\b", repl)
    return F.when(F.coalesce(title, F.lit("")) == "", F.lit("")) \
        .otherwise(expanded)


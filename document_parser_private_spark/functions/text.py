"""Text scalar functions as native expressions (SURVEY §2.8 F5-F11, O3)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..semantics import PY_WS_JRE

SKILL_SPLIT_JRE = r"[\n,;•/]+"
# Java split() supports lookahead — reference entity_extractor.py:135,166,280
ENTRY_SPLIT_JRE = r"\n(?=[A-Z][^a-z])"


def ws_trim(col: Column) -> Column:
    """Python-str.strip()-equivalent trim: the full 29-char Python
    whitespace set, both ends. (Java \\s — and Spark `trim` — are
    ASCII-only; see semantics.PY_WS_JRE.)"""
    return F.regexp_replace(col, f"^{PY_WS_JRE}+|{PY_WS_JRE}+$", "")


def collapse_ws(col: Column) -> Column:
    """Whitespace collapse + trim (entity_extractor.py:87); twin of
    ``re.sub(r"\\s+", " ", s).strip()`` with Python-Unicode \\s."""
    return ws_trim(F.regexp_replace(col, f"{PY_WS_JRE}+", " "))


def summary_col(col: Column) -> Column:
    """Sentence-aware 500-char truncation (entity_extractor.py:86-91).

    Python: cleaned[:last_period+1] if rfind('.') in the 500-char prefix
    is > 0, else cleaned[:497] + '...'.
    """
    cleaned = collapse_ws(col)
    prefix = F.substring(cleaned, 1, 500)
    # 1-based position of the LAST '.' in prefix; 0 when absent
    rloc = F.locate(".", F.reverse(prefix))
    last_period_1b = F.when(rloc > 0, F.length(prefix) - rloc + 1).otherwise(F.lit(0))
    return F.when(F.length(cleaned) <= 500, cleaned).otherwise(
        F.when(last_period_1b > 1, F.substring(cleaned, 1, last_period_1b)).otherwise(
            F.concat(F.substring(cleaned, 1, 497), F.lit("..."))
        )
    )


def split_entries_col(col: Column) -> Column:
    """Entry segmentation array: split on newline-before-[A-Z][^a-z],
    trimmed, empties removed."""
    parts = F.split(col, ENTRY_SPLIT_JRE)
    trimmed = F.transform(parts, lambda p: ws_trim(p))
    return F.filter(trimmed, lambda p: F.length(p) > 0)


def split_skills_col(col: Column) -> Column:
    """Skill-phrase split (entity_extractor.py:99): delimiters newline , ; • /
    then trim + drop empties / len<=1 / pure digits."""
    parts = F.split(col, SKILL_SPLIT_JRE)
    trimmed = F.transform(parts, lambda p: ws_trim(p))
    return F.filter(
        trimmed,
        lambda p: (F.length(p) > 1) & ~p.rlike(r"^\d+$"),
    )

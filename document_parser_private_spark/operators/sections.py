"""Section-detection FSM over one doc's cleaned spans (SURVEY §2.10 U1).

The FSM (reference parsing_engine/section_detector.py:31-107) carries
mutable `current_section` state per line — inherently sequential *within*
a document, so it cannot be a Catalyst expression. It is the one per-doc
loop of the shared kernel (operators/resume.clean_columns): classify and
reading order run over the whole Arrow batch first, and the FSM then
reads each doc's kept texts as a slice of one Python list.

Output is a fixed-field struct (not a map): fixed keys are
Catalyst-prunable — downstream stages that only need `sections.skills`
don't deserialize the rest (SURVEY §1.4).
"""

from __future__ import annotations

from pyspark.sql import types as T

from .. import semantics as S

SECTIONS_FIELDS = S.SECTION_NAMES + ("content",)
SECTIONS_TYPE = T.StructType(
    [T.StructField(n, T.StringType()) for n in SECTIONS_FIELDS]
)


def sections_of_texts(texts: list[str]) -> dict:
    """FSM over the lines of one doc's kept textual spans, in reading
    order."""
    secs = S.detect_sections("\n".join(texts).split("\n") if texts else [])
    return {name: secs.get(name) for name in SECTIONS_FIELDS}

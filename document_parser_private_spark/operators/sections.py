"""Section-detection FSM over one doc's cleaned spans (SURVEY §2.10 U1).

The FSM (reference parsing_engine/section_detector.py:31-107) carries
mutable `current_section` state per line — inherently sequential *within*
a document, so it cannot be a Catalyst expression. It runs inside the
shared per-doc kernel (operators/resume.clean_and_sections), which is
vectorized *across* documents: Arrow ships a batch of span arrays to the
Python worker, and the per-doc loop runs over plain Python lists.

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


def sections_of_span_list(spans) -> dict:
    """FSM over the textual lines of one doc's (cleaned) spans."""
    lines: list[str] = []
    if spans is not None:
        for s in spans:
            if s["kind"] == "media-anchor":
                continue
            lines.extend((s["text"] or "").split("\n"))
    secs = S.detect_sections(lines)
    return {name: secs.get(name) for name in SECTIONS_FIELDS}

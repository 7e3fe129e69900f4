"""Pure-Python reference-semantics oracle.

Computes, per document, the golden expected outputs the Spark pipeline must
match (BASELINE.json per-row invariant: span-sequence equality on
(kind, text, media_ref, order)). Stages 1-3 run here per span, over
``semantics``; the pipeline's kernel (operators/resume.clean_columns)
runs the same rules over whole Arrow batches — the same classify
patterns in RE2, the same reading order as one numpy sort — and is
property-tested equal to this path (tests/test_classify_batch.py,
tests/test_worker_helpers.py). Stage 4 and the entity extractors are
shared code. The *native-Spark* stages (contact / summary /
certifications regex extraction) are independent implementations tested
against this oracle.

Stages (mirrors plans/pipeline.py):
  1. classify: media-anchor / boilerplate / content; drop boilerplate;
     image spans become kind='media-anchor'
  2. layout inference over the kept spans (reading order; see corpus.py
     offset contract)
  3. re-emit spans with offsets renumbered 0..n-1 in reading order
  4. section FSM over kept textual spans
  5. resume entity extraction (deterministic regex path)
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from . import semantics as S
from .corpus import SKILLS_ONTOLOGY


def build_skill_index(
    ontology: dict[str, list[str]] | None = None,
) -> tuple[dict[str, str], dict[str, str], list[str]]:
    """(lower->original, variant->canonical, index list) from a canonical->
    variants mapping (skill_normalizer.py:17,37-45 semantics: index keeps
    insertion order, canonicals first)."""
    ontology = ontology if ontology is not None else SKILLS_ONTOLOGY
    index: list[str] = []
    variant_to_canonical: dict[str, str] = {}
    for canonical, variants in ontology.items():
        if canonical not in variant_to_canonical:
            index.append(canonical)
            variant_to_canonical[canonical] = canonical
        for v in variants:
            if v not in variant_to_canonical:
                index.append(v)
                variant_to_canonical[v] = canonical
    lower_index = {s.lower(): s for s in index}
    return lower_index, variant_to_canonical, index


_LOWER_INDEX, _VAR2CANON, _INDEX = build_skill_index()


@dataclass
class ExtractedDoc:
    doc_id: str
    spans: list[dict]          # cleaned spans (kind,text,media_ref,offset)
    sections: dict[str, str]   # section -> content ('' kept for empties)
    blocks_kept: int
    blocks_dropped: int
    contact: dict[str, Optional[str]]
    summary: str
    skills: list[str]
    certifications: list[str]


def classify_keep(spans: list[dict]) -> tuple[list[dict], int]:
    """Stage 1 — per-span classify (order-free): drop boilerplate,
    re-kind media; ORIGINAL geometric offsets preserved for the layout
    pass. A null span counts as one dropped block, as the kernel has
    always counted it. Returns (kept, dropped)."""
    out: list[dict] = []
    dropped = 0
    for s in spans:
        if s is None:
            dropped += 1
            continue
        label = S.classify_span(s["kind"], s["text"] or "", s.get("media_ref"))
        if label == "boilerplate":
            dropped += 1
            continue
        kind = "media-anchor" if label == "media-anchor" else s["kind"]
        out.append({
            "kind": kind,
            "text": s["text"] or "",
            "media_ref": s.get("media_ref"),
            "offset": s["offset"],
        })
    return out, dropped


def reading_order(spans: list[dict]) -> list[dict]:
    """Stage 2 — layout inference over surviving spans (line clustering
    by y, column detection by x-gap, column-major sort)."""
    return S.layout_reading_order(spans)


def classify_and_emit(spans: list[dict]) -> tuple[list[dict], int, int]:
    """Stages 1+2+3: classify (order-free) -> layout inference -> re-emit
    with offsets renumbered 0..n-1 in reading order."""
    kept, dropped = classify_keep(spans)
    ordered = reading_order(kept)
    out = [dict(s, offset=i) for i, s in enumerate(ordered)]
    return out, len(out), dropped


def sections_of(clean_spans: list[dict]) -> dict[str, str]:
    """Stage 4: FSM over the textual lines of kept spans."""
    lines: list[str] = []
    for s in clean_spans:
        if s["kind"] == "media-anchor":
            continue
        lines.extend(s["text"].split("\n"))
    return S.detect_sections(lines)


def extract_doc(doc_id: str, spans: list[dict]) -> ExtractedDoc:
    clean, kept, dropped = classify_and_emit(spans)
    sections = sections_of(clean)
    contact = S.extract_contact(sections.get("contact", ""))
    summary = S.extract_summary(sections.get("summary", ""))
    skills = S.extract_skills(
        sections.get("skills", ""), _LOWER_INDEX, _VAR2CANON, _INDEX
    )
    # CLI path: certifications come from the certifications section
    # (reference main.py:121; NOT the smoke-test path divergence, SURVEY §3.2)
    certifications = [
        e for e in S.split_entries(sections.get("certifications", ""))
    ]
    return ExtractedDoc(
        doc_id=doc_id,
        spans=clean,
        sections=sections,
        blocks_kept=kept,
        blocks_dropped=dropped,
        contact=contact,
        summary=summary,
        skills=skills,
        certifications=certifications,
    )


def expected_rows(docs_rows: list[dict]) -> list[dict]:
    """Golden rows for a list of corpus rows (docs_to_rows output)."""
    out = []
    for row in docs_rows:
        e = extract_doc(row["doc_id"], row["spans"])
        out.append({
            "doc_id": e.doc_id,
            "spans": e.spans,
            "sections": {k: v for k, v in e.sections.items()},
            "blocks_kept": e.blocks_kept,
            "blocks_dropped": e.blocks_dropped,
            "contact": e.contact,
            "summary": e.summary,
            "skills": e.skills,
            "certifications": e.certifications,
        })
    return out

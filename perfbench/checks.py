"""Output checks against the pure-Python oracle.

A doc fails if it is missing from the output, appears more than once, or
differs from ``oracle.expected_rows`` on any field the output carries:
clean spans ``(kind, text, media_ref, offset)``, blocks kept and dropped,
sections, contact, summary and skills.
"""

from __future__ import annotations

import json
import multiprocessing
from collections import Counter

from document_parser_private_spark.oracle import expected_rows
from document_parser_private_spark.operators.sections import SECTIONS_FIELDS


def _spans(spans) -> list[tuple]:
    # to_json drops a null media_ref
    return [(s["kind"], s["text"], s.get("media_ref"), s["offset"]) for s in spans]


def _present(fields) -> dict:
    """Non-null entries of a struct; to_json drops the null ones."""
    return {k: v for k, v in (fields or {}).items() if v is not None}


def normalize(row: dict) -> dict:
    """Comparable form of one row of a sink: its plain columns, and its
    ``*_json`` columns parsed."""
    out = {k: row[k] for k in ("blocks_kept", "blocks_dropped", "summary")
           if k in row}
    for key in ("clean_spans", "sections", "contact", "skills"):
        if f"{key}_json" not in row:
            continue
        value = json.loads(row[f"{key}_json"]) if row[f"{key}_json"] else None
        if key == "clean_spans":
            value = _spans(value or [])
        elif key == "sections":
            value = {k: (value or {}).get(k) for k in SECTIONS_FIELDS}
        elif key == "contact":
            value = _present(value)
        out[key] = value
    return out


def expected(doc_rows: list[dict], procs: int = 1) -> dict[str, dict]:
    """doc_id -> comparable golden row, for corpus rows (docs_to_rows),
    computed on ``procs`` processes."""
    if procs == 1:
        return _expected(doc_rows)
    # spawn, not fork: the caller runs a Spark session's threads
    with multiprocessing.get_context("spawn").Pool(procs) as pool:
        chunks = [doc_rows[i:i + 256] for i in range(0, len(doc_rows), 256)]
        parts = pool.map(_expected, chunks)
        pool.close()
        pool.join()
    return {k: v for part in parts for k, v in part.items()}


def _expected(doc_rows: list[dict]) -> dict[str, dict]:
    out = {}
    for e in expected_rows(doc_rows):
        out[e["doc_id"]] = {
            "clean_spans": _spans(e["spans"]),
            "blocks_kept": e["blocks_kept"],
            "blocks_dropped": e["blocks_dropped"],
            "sections": {k: e["sections"].get(k) for k in SECTIONS_FIELDS},
            "contact": _present(e["contact"]),
            "summary": e["summary"],
            "skills": e["skills"],
        }
    return out


def failed_docs(rows: list[dict], golden: dict[str, dict]) -> list[str]:
    """Doc ids of ``golden`` that are missing from ``rows``, duplicated in
    it, or unequal to the golden row on the fields ``rows`` carry. Rows of
    docs outside ``golden`` are ignored."""
    counts = Counter(r["doc_id"] for r in rows)
    got = {r["doc_id"]: normalize(r) for r in rows if r["doc_id"] in golden}
    bad = []
    for doc_id, want in golden.items():
        have = got.get(doc_id)
        if counts[doc_id] != 1 or any(want[k] != v for k, v in have.items()):
            bad.append(doc_id)
    return bad

"""The extraction kernel and per-section resume entity extraction
(deterministic regex path).

  clean_columns — the kernel shared by the batch pass below and
    streaming.stream_extract: classify (classify_spans, RE2 over the
    flat span arrays) and reading order (reading_order, one numpy
    lexsort) for a whole Arrow batch at once, clean_spans built by
    `take`, then the section FSM per doc
  extract_all_fused_op — the batch pipeline's ONE mapInArrow crossing:
    the kernel plus doc_entities over the section texts (fuzzy ontology
    normalization + sequential entry parsing) for only the entities the
    caller's columns name, so a checkpointed run (which commits skills
    but no education / experience / projects) never runs or ships the
    other three; carried columns such as `part` pass through untouched
  contact / summary / certifications — pure Catalyst expressions over
    the returned sections struct
  _education_udf / _experience_udf — the entry parsers as standalone
    pandas UDFs over arbitrary text columns

Zero shuffles: every extraction is doc-local. The alternative
explode->broadcast-join->groupBy formulation of skill normalization exists
in operators/normalize.py for relational use; this operator keeps the hot
path narrow (SURVEY §2.10 U3 short-circuit lives inside the kernel: exact
dict hit first, fuzzy only on miss).

Reference behavior: entity_extractor.py:49-286 minus NER (SURVEY §7.3
determinism), certifications from the certifications section (CLI path,
main.py:121).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type

from .. import semantics as S
from ..corpus import SKILLS_ONTOLOGY
from ..functions.contact import contact_struct
from ..functions.text import summary_col, split_entries_col
from ..oracle import build_skill_index
from .batch import forget_zip_importers, pylist
from .layout import SPAN_TYPE
from .sections import SECTIONS_FIELDS, SECTIONS_TYPE, sections_of_texts

_LOWER, _V2C, _INDEX = build_skill_index(SKILLS_ONTOLOGY)
# phrase-level fuzzy memo (bounded; see semantics.normalize_skill). It
# lives as long as the Python worker process, across batches and across
# the tasks a reused worker runs, because only module-level functions
# read it (doc_entities explains why that matters).
_MEMO: dict = {}

EDUCATION_TYPE = T.ArrayType(T.StructType([
    T.StructField("institution", T.StringType()),
    T.StructField("degree", T.StringType()),
    T.StructField("field_of_study", T.StringType()),
    T.StructField("start_date", T.DateType()),
    T.StructField("end_date", T.DateType()),
    T.StructField("description", T.StringType()),
    T.StructField("gpa", T.DoubleType()),
    T.StructField("achievements", T.ArrayType(T.StringType())),
]))
EXPERIENCE_TYPE = T.ArrayType(T.StructType([
    T.StructField("company", T.StringType()),
    T.StructField("position", T.StringType()),
    T.StructField("start_date", T.StringType()),
    T.StructField("end_date", T.StringType()),
    T.StructField("description", T.StringType()),
    T.StructField("technologies", T.ArrayType(T.StringType())),
    T.StructField("duration_months", T.IntegerType()),
]))
PROJECTS_TYPE = T.ArrayType(T.StructType([
    T.StructField("name", T.StringType()),
    T.StructField("description", T.StringType()),
    T.StructField("technologies", T.ArrayType(T.StringType())),
]))
# The kernel's entity columns, in output order. Each entity is extracted
# from the section of the same name.
ENTITY_TYPES = {
    "skills": T.ArrayType(T.StringType()),
    "education": EDUCATION_TYPE,
    "experience": EXPERIENCE_TYPE,
    "projects": PROJECTS_TYPE,
}


@pandas_udf(EDUCATION_TYPE)
def _education_udf(text: pd.Series) -> pd.Series:
    return text.apply(lambda t: S.extract_education_entries(t or ""))


def _experience_entries(text: str) -> list:
    """Experience entries of one section text, skills normalized through
    the worker-lifetime _MEMO."""
    return S.extract_experience_entries(
        text, skill_lower_index=_LOWER, skill_var2canon=_V2C,
        skill_index=_INDEX, memo=_MEMO)


def _project_entries(text: str) -> list:
    return S.extract_project_entries(
        text, skill_lower_index=_LOWER, skill_var2canon=_V2C,
        skill_index=_INDEX, memo=_MEMO)


def _memoed(memo: dict, key: str, fn):
    hit = memo.get(key)
    if hit is None and key not in memo:
        hit = fn(key)
        if len(memo) > 50_000:
            memo.clear()
        memo[key] = hit
    return hit


def doc_entities(secs: dict, wanted: tuple[str, ...], edu_memo: dict,
                 proj_memo: dict) -> tuple:
    """One doc's sections -> the values of the `wanted` entities (names
    from ENTITY_TYPES), in that order. Only their extractors run: each is
    a pure function of its own section text, so a subset's values equal
    the full call's.

    Module-level on purpose: cloudpickle ships a nested function BY
    VALUE, with private copies of the globals it names, so a kernel that
    read _MEMO directly would start every task with an empty fuzzy memo.
    A module-level function is pickled by reference and resolves _MEMO
    in the worker's imported module, where it lives as long as the
    reused Python worker.

    edu_memo / proj_memo are the caller's section-level memos (one per
    task): education/projects section TEXTS repeat heavily on
    template-shaped corpora (measured 41%/50% distinct across 4k docs)
    and the extractors are pure functions of the text, so a
    content-keyed dict skips the whole parse on a repeat; on corpora
    with no repeats the cost is one dict miss per doc."""
    extract = {
        "skills": lambda t: S.extract_skills(t, _LOWER, _V2C, _INDEX,
                                             memo=_MEMO),
        "education": lambda t: _memoed(edu_memo, t,
                                       S.extract_education_entries),
        "experience": _experience_entries,
        "projects": lambda t: _memoed(proj_memo, t, _project_entries),
    }
    return tuple(extract[name](secs.get(name) or "") for name in wanted)


@pandas_udf(EXPERIENCE_TYPE)
def _experience_udf(text: pd.Series) -> pd.Series:
    return text.apply(lambda t: _experience_entries(t or ""))


# The kernel's output columns, in order (batch adds the id and the
# requested entities).
CLEAN_FIELDS = [
    T.StructField("clean_spans", SPAN_TYPE),
    T.StructField("blocks_kept", T.IntegerType()),
    T.StructField("blocks_dropped", T.IntegerType()),
    T.StructField("sections", SECTIONS_TYPE),
]


CLEAN_ARROW = to_arrow_type(T.StructType(CLEAN_FIELDS))
# Python's str.strip() / str.split() whitespace (str.isspace()), for
# utf8_trim and as an RE2 class
_PY_WS = "".join(map(chr, S.PY_WS_CODEPOINTS))
_PY_WS_RUN = S.PY_WS_JRE + "+"


def _bools(arr: pa.Array) -> np.ndarray:
    """A boolean Arrow array as numpy, null read as False."""
    return pc.fill_null(arr, False).to_numpy(zero_copy_only=False)


def _matches(strings: pa.Array, pattern: str) -> np.ndarray:
    return _bools(pc.match_substring_regex(strings, pattern))


def _link_farms(stripped: pa.Array) -> np.ndarray:
    """Texts of at least LINK_DENSITY_MIN_TOKENS whitespace tokens, more
    than LINK_DENSITY_THRESHOLD of them URL-like (semantics.link_density).
    Only a text with a '.' or '://' can hold a link token."""
    farm = np.zeros(len(stripped), bool)
    cand = np.flatnonzero(_matches(stripped, r"\.|://"))
    if len(cand):
        tokens = pc.split_pattern_regex(stripped.take(cand), _PY_WS_RUN)
        n_tokens = pc.list_value_length(tokens).to_numpy()
        is_link = _matches(pc.list_flatten(tokens), S.LINK_TOKEN_PAT)
        links = np.bincount(pc.list_parent_indices(tokens).to_numpy()[is_link],
                            minlength=len(cand))
        farm[cand] = ((n_tokens >= S.LINK_DENSITY_MIN_TOKENS)
                      & (links > n_tokens * S.LINK_DENSITY_THRESHOLD))
    return farm


def classify_spans(spans: pa.StructArray) -> tuple[np.ndarray, np.ndarray]:
    """semantics.classify_span over a flat struct<kind, text, media_ref>
    array, as (keep, media) masks: keep is False for boilerplate and for
    a null span; media marks the spans whose label is 'media-anchor'. A
    null text reads as "". The patterns run in RE2 over the whole array
    (their spelling means the same there as in Python re, see
    semantics)."""
    kind, text, media_ref = (spans.field(f)
                             for f in ("kind", "text", "media_ref"))
    media = (_bools(pc.equal(kind, "image"))
             | _bools(pc.not_equal(media_ref, "")))
    stripped = pc.utf8_trim(pc.fill_null(text, ""), characters=_PY_WS)
    boiler = (_matches(stripped, S.PAGE_FURNITURE_PAT)
              | _matches(stripped, S.NAV_MENU_PAT)
              | _link_farms(stripped))
    boiler &= ~_matches(stripped, S.CONTACT_LINE_PAT)
    boiler |= _bools(pc.equal(stripped, ""))
    return _bools(spans.is_valid()) & (media | ~boiler), media


def reading_order(rows: np.ndarray, offsets: pa.Array) -> np.ndarray:
    """semantics.layout_reading_order over many docs at once: the
    permutation that puts spans, given their doc numbers `rows`
    (non-decreasing) and packed geometric offsets (null read as 0), in
    each doc's reading order.

    One stable lexsort on (row, column, line, x, y). A span starts a new
    line when its y is more than LINE_GAP below the doc's previous
    distinct y. A doc's gutter is the first widest gap between its
    sorted xs, when that gap is at least GUTTER_MIN with at least
    COL_MIN_SPANS spans on each side."""
    n = len(rows)
    if not n:
        return np.zeros(0, np.int64)
    y, x = np.divmod(pc.fill_null(offsets, 0).to_numpy().astype(np.int64),
                     S.X_STRIDE)
    new_doc = np.ones(n, bool)
    new_doc[1:] = rows[1:] != rows[:-1]
    start = np.flatnonzero(new_doc)
    doc = np.cumsum(new_doc) - 1
    # sorting by (row, .) keeps `rows`, so new_doc and doc hold for both
    o = np.lexsort((y, rows))
    step = new_doc.copy()
    step[1:] |= np.diff(y[o]) > S.LINE_GAP
    line = np.empty(n, np.int64)
    line[o] = np.cumsum(step)
    xs = x[np.lexsort((x, rows))]
    gap = np.zeros(n, np.int64)
    gap[1:] = np.diff(xs)
    gap[start] = 0
    widest = np.maximum.reduceat(gap, start)
    at = np.flatnonzero(gap == widest[doc])
    first = at[np.r_[True, doc[at][1:] != doc[at][:-1]]]
    left = first - start
    right = np.diff(np.r_[start, n]) - left
    split = ((widest >= S.GUTTER_MIN) & (left >= S.COL_MIN_SPANS)
             & (right >= S.COL_MIN_SPANS))
    gutter = np.where(split, xs[first], S.X_STRIDE)  # every x < X_STRIDE
    col = x >= gutter[doc]
    return np.lexsort((y, x, line, col, rows))


def clean_columns(list_array: pa.ListArray) -> tuple[list[pa.Array],
                                                      list[dict]]:
    """The extraction kernel over one Arrow batch of span lists
    (array<struct<kind, text, media_ref, offset>>): the CLEAN_FIELDS
    arrays (clean_spans, blocks_kept, blocks_dropped, sections) and each
    doc's sections as a dict, for the entity extractors.

    Per doc it equals the oracle's path (oracle.classify_and_emit, then
    the section FSM), but classify and reading order run over the flat
    span arrays of the whole batch, clean_spans is built by `take`, and
    only the section FSM loops per doc. A null row gives empty
    clean_spans, NULL counts and the sections of no lines; a null span
    is one dropped block."""
    n = len(list_array)
    offs = list_array.offsets.to_numpy().astype(np.int64)
    # .values ignores a slice's offset; .offsets honour it and are
    # absolute into .values
    spans = list_array.values.slice(offs[0], offs[-1] - offs[0])
    sizes = np.diff(offs)
    row = np.repeat(np.arange(n), sizes)
    row_ok = _bools(list_array.is_valid())
    keep, media = classify_spans(spans)
    kept = np.flatnonzero(keep & row_ok[row])
    krow = row[kept]
    out = kept[reading_order(krow, spans.field("offset").take(kept))]
    n_kept = np.bincount(krow, minlength=n)
    bounds = np.zeros(n + 1, np.int64)
    bounds[1:] = np.cumsum(n_kept)

    kind = pc.if_else(pa.array(media[out]), "media-anchor",
                      spans.field("kind").take(out))
    text = pc.fill_null(spans.field("text").take(out), "")
    span_type = CLEAN_ARROW.field("clean_spans").type
    clean = pa.ListArray.from_arrays(
        pa.array(bounds, pa.int32()),
        pa.StructArray.from_arrays(
            [kind, text, spans.field("media_ref").take(out),
             pa.array(np.arange(len(out)) - bounds[krow], pa.int32())],
            fields=list(span_type.value_type)),
        type=span_type)

    textual = np.flatnonzero(~_bools(pc.equal(kind, "media-anchor")))
    texts = pylist(text.take(textual))
    tb = np.zeros(n + 1, np.int64)
    tb[1:] = np.cumsum(np.bincount(krow[textual], minlength=n))
    tb = tb.tolist()
    secs = [sections_of_texts(texts[a:b]) for a, b in zip(tb, tb[1:])]
    sections = pa.StructArray.from_arrays(
        [pa.array([s[f] for s in secs], pa.string())
         for f in SECTIONS_FIELDS],
        fields=list(CLEAN_ARROW.field("sections").type))
    counts = [pa.array(c.astype(np.int32), mask=~row_ok)
              for c in (n_kept, sizes - n_kept)]
    return [clean, *counts, sections], secs


def extract_all_fused_op(df: DataFrame, columns: tuple[str, ...],
                         carry: tuple[str, ...] = ()) -> DataFrame:
    """Whole-pipeline fused Python pass: the shared kernel
    (clean_columns) plus entity extraction (doc_entities) in ONE
    mapInArrow crossing, RAW spans in, final extraction columns out
    (then native contact/summary/certifications projections).

    Only the entities named in `columns` are extracted, declared in the
    output schema and built: Spark cannot prune the outputs of an opaque
    Python node, so a select after it would still pay for every entity
    and ship it back to the JVM. The CLEAN_FIELDS columns are always
    built (sections feeds contact/summary/certifications).

    Why one Python pass and no native classify in front: measured at
    200k docs / 32 cores, a native classify HOF tree (interpreted
    transform/filter per span) plus pandas_udf nested-struct
    serialization cost ~15-16 s wall, more than the Python pass it
    avoided. mapInArrow hands whole Arrow batches to clean_columns, which
    classifies and orders every span of the batch with pyarrow.compute
    (RE2) and numpy, and is pinned equal to the oracle's per-span path;
    the memoized fuzzy index (_MEMO) is module-level and survives across
    batches and tasks in a reused worker (see doc_entities).

    Reads `doc_id` and the raw `spans`. Output carries `doc_id`, the
    `carry` columns and the extraction columns. Carried columns cross as their input Arrow arrays, which
    Python hands back untouched (e.g. the checkpoint's `part`, so no
    join back to the input is needed); select any other upstream column
    you need before calling.
    """
    entities = tuple(e for e in ENTITY_TYPES if e in columns)
    id_field = df.schema["doc_id"]
    out_type = T.StructType([
        T.StructField("doc_id", id_field.dataType, id_field.nullable),
        *(df.schema[c] for c in carry),
        *CLEAN_FIELDS,
        *(T.StructField(e, ENTITY_TYPES[e]) for e in entities),
    ])
    pa_schema = to_arrow_schema(out_type)
    entity_types = [pa_schema.field(e).type for e in entities]

    def fused(batches):
        edu_memo: dict = {}
        proj_memo: dict = {}
        for b in batches:
            forget_zip_importers()
            clean, secs = clean_columns(b.column("spans"))
            values = [doc_entities(d, entities, edu_memo, proj_memo)
                      for d in secs]
            cols = dict(zip((f.name for f in CLEAN_FIELDS), clean))
            for j, (name, t) in enumerate(zip(entities, entity_types)):
                cols[name] = pa.array([v[j] for v in values], type=t)
            yield pa.record_batch(
                [cols[f.name] if f.name in cols
                 else b.column(f.name).cast(f.type) for f in pa_schema],
                schema=pa_schema,
            )

    out = df.select("doc_id", *carry, "spans").mapInArrow(fused, out_type)
    sec = F.col("sections")
    return (
        out.withColumn("contact", contact_struct(sec["contact"]))
        .withColumn("summary",
                    summary_col(F.coalesce(sec["summary"], F.lit(""))))
        .withColumn(
            "certifications",
            split_entries_col(F.coalesce(sec["certifications"], F.lit(""))),
        )
    )

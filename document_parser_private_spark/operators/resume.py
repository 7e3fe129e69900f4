"""Per-doc extraction kernel and per-section resume entity extraction
(deterministic regex path).

  decode_spans / clean_and_sections — the per-doc kernel shared by the
    batch pass below and streaming.stream_extract: Arrow span decode,
    then classify + layout + section FSM via the oracle's semantics
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

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .. import semantics as S
from ..corpus import SKILLS_ONTOLOGY
from ..functions.contact import contact_struct
from ..functions.text import summary_col, split_entries_col
from ..oracle import build_skill_index, classify_and_emit
from .batch import forget_zip_importers, pylist
from .layout import SPAN_TYPE
from .sections import SECTIONS_TYPE, sections_of_span_list

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


def decode_spans(list_array) -> list:
    """Arrow array<struct<kind,text,media_ref,offset>> -> one list of
    span dicts per row: ListArray.to_pylist() (None for a null row or a
    null span), built from the FLAT child arrays.

    One pylist per child (through numpy, not one Arrow Scalar per value)
    and one C-speed zip, then per-row slices of the flat dict list. Over
    one seed's 13,376 perfbench docs in 10k-row batches this takes
    17-21 us/doc of CPU, against 80-95 with to_pylist() per child (4
    vCPU, min of 3), and more with the nested to_pylist()."""
    sv = list_array.values
    flat = [
        {"kind": k, "text": tx, "media_ref": m, "offset": o}
        for k, tx, m, o in zip(
            pylist(sv.field("kind")),
            pylist(sv.field("text")),
            pylist(sv.field("media_ref")),
            pylist(sv.field("offset")),
        )
    ]
    if sv.null_count:
        for i, ok in enumerate(pylist(sv.is_valid())):
            if not ok:
                flat[i] = None
    # .values ignores a slice's offset; .offsets honour it and are
    # absolute into .values
    offs = pylist(list_array.offsets)
    rows = [flat[offs[i]:offs[i + 1]] for i in range(len(list_array))]
    if list_array.null_count:
        return [r if ok else None
                for r, ok in zip(rows, pylist(list_array.is_valid()))]
    return rows


def clean_and_sections(spans) -> tuple:
    """One doc's raw spans -> (clean_spans, blocks_kept, blocks_dropped,
    sections): classify, layout inference and offset renumbering
    (oracle.classify_and_emit), then the section FSM. Null spans give
    empty clean_spans, NULL counts and empty sections."""
    if spans is None:
        clean, kept, dropped = [], None, None
    else:
        clean, kept, dropped = classify_and_emit(spans)
    return clean, kept, dropped, sections_of_span_list(clean)


def extract_all_fused_op(df: DataFrame, columns: tuple[str, ...],
                         spans_col: str = "spans", id_col: str = "doc_id",
                         carry: tuple[str, ...] = ()) -> DataFrame:
    """Whole-pipeline fused Python pass: the shared per-doc kernel
    (decode_spans + clean_and_sections) plus entity extraction
    (doc_entities) in ONE mapInArrow crossing, RAW spans in, final
    extraction columns out (then native contact/summary/certifications
    projections).

    Only the entities named in `columns` are extracted, declared in the
    output schema and built: Spark cannot prune the outputs of an opaque
    Python node, so a select after it would still pay for every entity
    and ship it back to the JVM. The CLEAN_FIELDS columns are always
    built (sections feeds contact/summary/certifications).

    Why one Python pass and no native classify in front: measured at
    200k docs / 32 cores, a native classify HOF tree (interpreted
    transform/filter per span) plus pandas_udf nested-struct
    serialization cost ~15-16 s wall while the pure-Python
    shared-semantics path runs ~3,000 docs/s/core warm — the plan was
    paying more to AVOID Python than the Python costs. mapInArrow hands
    whole Arrow batches to the same semantics the oracle runs
    (guide: do the heavy lifting in native/batch code inside the UDF),
    so golden parity holds by construction; the memoized fuzzy index
    (_MEMO) is module-level and survives across batches and tasks in a
    reused worker (see doc_entities).

    Output carries the id, the `carry` columns and the extraction
    columns. Carried columns cross as their input Arrow arrays, which
    Python hands back untouched (e.g. the checkpoint's `part`, so no
    join back to the input is needed); select any other upstream column
    you need before calling.
    """
    entities = tuple(e for e in ENTITY_TYPES if e in columns)
    id_field = df.schema[id_col]
    out_type = T.StructType([
        T.StructField(id_col, id_field.dataType, id_field.nullable),
        *(df.schema[c] for c in carry),
        *CLEAN_FIELDS,
        *(T.StructField(e, ENTITY_TYPES[e]) for e in entities),
    ])
    from pyspark.sql.pandas.types import to_arrow_schema
    pa_schema = to_arrow_schema(out_type)
    computed = [f for f in pa_schema if f.name not in carry]

    def fused(batches):
        import pyarrow as pa

        edu_memo: dict = {}
        proj_memo: dict = {}
        for b in batches:
            forget_zip_importers()
            cols: dict[str, list] = {f.name: [] for f in computed}
            cols[id_col] = pylist(b.column(id_col))
            for arr in decode_spans(b.column(spans_col)):
                clean, kept, dropped, secs = clean_and_sections(arr)
                cols["clean_spans"].append(clean)
                cols["blocks_kept"].append(kept)
                cols["blocks_dropped"].append(dropped)
                cols["sections"].append(secs)
                for name, value in zip(entities, doc_entities(
                        secs, entities, edu_memo, proj_memo)):
                    cols[name].append(value)
            yield pa.record_batch(
                [b.column(f.name) if f.name in carry
                 else pa.array(cols[f.name], type=f.type)
                 for f in pa_schema],
                schema=pa_schema,
            )

    out = df.select(id_col, *carry, spans_col).mapInArrow(fused, out_type)
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

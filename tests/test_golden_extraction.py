"""THE correctness gate (BASELINE.json): span-sequence equality
(kind, text, media_ref, order) per document between the Spark pipeline and
the pure-Python reference-semantics oracle, plus golden equality of
sections / metrics / extracted entities."""

import datetime

import pytest

from document_parser_private_spark.oracle import expected_rows
from document_parser_private_spark.plans.pipeline import extract_pipeline
from document_parser_private_spark.operators.sections import SECTIONS_FIELDS


@pytest.fixture(scope="module")
def result_by_id(spark, corpus_df):
    out = extract_pipeline(corpus_df, num_partitions=4).collect()
    return {r["doc_id"]: r for r in out}


@pytest.fixture(scope="module")
def golden_by_id(corpus_rows):
    return {e["doc_id"]: e for e in expected_rows(corpus_rows)}


def test_every_doc_present(result_by_id, golden_by_id):
    assert set(result_by_id) == set(golden_by_id)


def test_span_sequence_equality(result_by_id, golden_by_id):
    """Per-row invariant: element-wise (kind, text, media_ref, order)."""
    for doc_id, exp in golden_by_id.items():
        got = result_by_id[doc_id]
        got_spans = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in got["clean_spans"]
        ]
        exp_spans = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in exp["spans"]
        ]
        assert got_spans == exp_spans, f"span mismatch for {doc_id}"


def test_block_metrics(result_by_id, golden_by_id):
    for doc_id, exp in golden_by_id.items():
        got = result_by_id[doc_id]
        assert got["blocks_kept"] == exp["blocks_kept"], doc_id
        assert got["blocks_dropped"] == exp["blocks_dropped"], doc_id


def test_sections_equality(result_by_id, golden_by_id):
    for doc_id, exp in golden_by_id.items():
        got = result_by_id[doc_id]["sections"].asDict()
        want = {name: exp["sections"].get(name) for name in SECTIONS_FIELDS}
        assert got == want, f"sections mismatch for {doc_id}"


def test_contact_equality(result_by_id, golden_by_id):
    for doc_id, exp in golden_by_id.items():
        got = result_by_id[doc_id]["contact"].asDict()
        assert got == exp["contact"], f"contact mismatch for {doc_id}"


def test_summary_equality(result_by_id, golden_by_id):
    for doc_id, exp in golden_by_id.items():
        assert result_by_id[doc_id]["summary"] == exp["summary"], doc_id


def test_skills_equality(result_by_id, golden_by_id):
    for doc_id, exp in golden_by_id.items():
        assert list(result_by_id[doc_id]["skills"]) == exp["skills"], doc_id


def test_certifications_equality(result_by_id, golden_by_id):
    for doc_id, exp in golden_by_id.items():
        assert (
            list(result_by_id[doc_id]["certifications"])
            == exp["certifications"]
        ), doc_id


def test_education_experience_projects(spark, corpus_rows, result_by_id):
    """Entity-array golden equality, via the shared deterministic core."""
    from document_parser_private_spark import semantics as S
    from document_parser_private_spark.oracle import extract_doc, build_skill_index

    lo, v2c, idx = build_skill_index()
    for row in corpus_rows:
        doc_id = row["doc_id"]
        e = extract_doc(doc_id, row["spans"])
        got = result_by_id[doc_id]

        exp_edu = S.extract_education_entries(e.sections.get("education", ""))
        got_edu = [r.asDict() for r in got["education"]]
        assert len(got_edu) == len(exp_edu), doc_id
        for g, x in zip(got_edu, exp_edu):
            assert g["institution"] == x["institution"], doc_id
            assert g["degree"] == x["degree"], doc_id
            assert g["field_of_study"] == x["field_of_study"], doc_id
            assert g["start_date"] == x["start_date"], (doc_id, g, x)
            assert g["end_date"] == x["end_date"], doc_id
            assert g["gpa"] == pytest.approx(x["gpa"]) if x["gpa"] is not None else g["gpa"] is None
            assert g["description"] == x["description"], doc_id  # F26 rewrite
            assert list(g["achievements"]) == x["achievements"], doc_id

        exp_exp = S.extract_experience_entries(
            e.sections.get("experience", ""),
            skill_lower_index=lo, skill_var2canon=v2c, skill_index=idx,
        )
        got_exp = [r.asDict() for r in got["experience"]]
        assert len(got_exp) == len(exp_exp), doc_id
        for g, x in zip(got_exp, exp_exp):
            assert g["company"] == x["company"], doc_id
            assert g["position"] == x["position"], doc_id
            assert g["description"] == x["description"], doc_id  # F21 cleanup
            assert g["start_date"] == x["start_date"], doc_id
            assert g["end_date"] == x["end_date"], doc_id
            assert list(g["technologies"]) == x["technologies"], doc_id
            assert g["duration_months"] == x["duration_months"], doc_id

        exp_proj = S.extract_project_entries(
            e.sections.get("projects", ""),
            skill_lower_index=lo, skill_var2canon=v2c, skill_index=idx,
        )
        got_proj = [r.asDict() for r in got["projects"]]
        assert len(got_proj) == len(exp_proj), doc_id
        for g, x in zip(got_proj, exp_proj):
            assert g["name"] == x["name"], doc_id
            assert g["description"] == x["description"], doc_id
            assert list(g["technologies"]) == x["technologies"], doc_id


def test_kernel_memo_lives_in_the_worker_module():
    """Spark ships Python functions with cloudpickle. The kernel's entity
    function and the experience UDF must reach the module-level fuzzy
    memo by reference after a round trip: a by-value copy would give
    every task an empty _MEMO of its own."""
    import pickle

    from pyspark import cloudpickle

    from document_parser_private_spark.operators import resume

    shipped = pickle.loads(cloudpickle.dumps(resume.doc_entities))
    assert shipped.__globals__["_MEMO"] is resume._MEMO

    udf_body = pickle.loads(cloudpickle.dumps(resume._experience_udf.func))
    entries = udf_body.__globals__["_experience_entries"]
    assert entries.__globals__["_MEMO"] is resume._MEMO


def test_doc_entities_runs_only_the_wanted_extractors(corpus_rows,
                                                      monkeypatch):
    """Spark-free: for every subset of the entities, doc_entities returns
    exactly the full call's values for that subset, and runs no
    extractor outside it."""
    from itertools import combinations

    from document_parser_private_spark import semantics as S
    from document_parser_private_spark.operators import resume

    import pyarrow as pa

    names = tuple(resume.ENTITY_TYPES)
    assert names == ("skills", "education", "experience", "projects")
    spans_type = resume.CLEAN_ARROW.field("clean_spans").type
    _, sections = resume.clean_columns(
        pa.array([r["spans"] for r in corpus_rows], spans_type))
    full = [resume.doc_entities(s, names, {}, {}) for s in sections]

    extractors = {
        "skills": "extract_skills",
        "education": "extract_education_entries",
        "experience": "extract_experience_entries",
        "projects": "extract_project_entries",
    }
    called: set[str] = set()
    depth = [0]  # experience/projects call extract_skills themselves

    def counting(entity, fn):
        def wrapper(*args, **kwargs):
            if depth[0] == 0:
                called.add(entity)
            depth[0] += 1
            try:
                return fn(*args, **kwargs)
            finally:
                depth[0] -= 1
        return wrapper

    for entity, fn_name in extractors.items():
        monkeypatch.setattr(S, fn_name, counting(entity, getattr(S, fn_name)))

    for k in range(len(names) + 1):
        for wanted in combinations(names, k):
            called.clear()
            edu_memo: dict = {}
            proj_memo: dict = {}
            got = [resume.doc_entities(s, wanted, edu_memo, proj_memo)
                   for s in sections]
            want = [tuple(f[names.index(n)] for n in wanted) for f in full]
            assert got == want, wanted
            assert called == set(wanted), wanted


def _map_in_arrow_outputs(df) -> list[list[str]]:
    """Output column names of every MapInArrow node in df's optimized
    plan."""
    found = []

    def walk(node):
        seq = node.output()
        if node.nodeName() == "MapInArrow":
            found.append([seq.apply(i).name() for i in range(seq.size())])
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return found


SUBSET = ("summary", "doc_id", "projects", "blocks_dropped", "clean_spans")


def test_pipeline_column_subset_matches_full_pipeline(corpus_df,
                                                      result_by_id):
    """A column subset yields the full pipeline's values on those
    columns (plus `part`), in the requested order."""
    sub = extract_pipeline(corpus_df, num_partitions=4, columns=SUBSET)
    assert sub.columns == [*SUBSET, "part"]
    rows = sub.collect()
    assert len(rows) == len(result_by_id)
    for r in rows:
        full = result_by_id[r["doc_id"]]
        for c in (*SUBSET, "part"):
            assert r[c] == full[c], (r["doc_id"], c)


def test_pipeline_kernel_builds_only_requested_entities(corpus_df):
    """The projection reaches the Python node: its output declares the
    requested entity and none of the other three."""
    sub = extract_pipeline(corpus_df, num_partitions=4, columns=SUBSET)
    (kernel_out,) = _map_in_arrow_outputs(sub)
    assert "projects" in kernel_out
    for entity in ("skills", "education", "experience"):
        assert entity not in kernel_out, kernel_out
    (full_out,) = _map_in_arrow_outputs(
        extract_pipeline(corpus_df, num_partitions=4))
    for entity in ("skills", "education", "experience", "projects"):
        assert entity in full_out, full_out


def test_pipeline_rejects_unknown_columns(corpus_df):
    with pytest.raises(ValueError, match="experiences"):
        extract_pipeline(corpus_df, columns=("doc_id", "experiences"))


def test_null_span_is_one_dropped_block(spark, tmp_path):
    """A null element in `spans` is one dropped block, and the other
    spans are kept, in the oracle, the batch pipeline and the stream."""
    from document_parser_private_spark.corpus import DOCS_DDL
    from document_parser_private_spark.streaming.stream import stream_extract

    def span(text, offset):
        return {"kind": "text", "text": text, "media_ref": None,
                "offset": offset}

    rows = [
        {"doc_id": "mid", "spans": [span("Alice Smith", 0), None,
                                    span("SKILLS\nPython, SQL", 1024)],
         "byte_size": 1, "doc_type": "edge", "part": 0},
        {"doc_id": "only", "spans": [None], "byte_size": 1,
         "doc_type": "edge", "part": 0},
    ]
    (mid, only) = expected_rows(rows)
    assert (mid["blocks_kept"], mid["blocks_dropped"]) == (2, 1)
    assert (only["blocks_kept"], only["blocks_dropped"]) == (0, 1)
    want = {e["doc_id"]: (e["blocks_kept"], e["blocks_dropped"],
                          [(s["kind"], s["text"], s["offset"])
                           for s in e["spans"]])
            for e in (mid, only)}

    def got(df):
        return {r["doc_id"]: (r["blocks_kept"], r["blocks_dropped"],
                              [(s["kind"], s["text"], s["offset"])
                               for s in r["clean_spans"]])
                for r in df.collect()}

    df = spark.createDataFrame(rows, schema=DOCS_DDL)
    assert got(extract_pipeline(df)) == want

    in_dir = str(tmp_path / "in")
    df.coalesce(1).write.parquet(in_dir)
    q = (stream_extract(spark, in_dir).writeStream.format("memory")
         .queryName("null_span_stream")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert got(spark.table("null_span_stream")) == want

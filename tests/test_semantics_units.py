"""Parametrized unit tables mirroring the reference's unit-test strategy
(SURVEY §5.1; FIXTURES.md §5): dates, headings, degrees, titles, GPA,
contact, PII — asserted against the pure-Python deterministic core."""

from datetime import date

import pytest

from document_parser_private_spark import semantics as S


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("Sep 2020", date(2020, 9, 1)),
        ("September 2020", date(2020, 9, 1)),
        ("Q1 2023", date(2023, 1, 1)),
        ("Q4 2019", date(2019, 10, 1)),
        ("2024", date(2024, 1, 1)),
        ("May2023", date(2023, 5, 1)),
        ("05/2021", date(2021, 5, 1)),
        ("2020-07-15", date(2020, 7, 15)),
        ("15-07-2020", date(2020, 7, 15)),
        ("7/15/2020", date(2020, 7, 15)),
        ("Present", S.AS_OF),
        ("current", S.AS_OF),
        ("ongoing", S.AS_OF),
        ("", None),
        ("no date here", None),
        ("(2019-2023)", date(2019, 1, 1)),  # bare-year fallback quirk
    ],
)
def test_normalize_date(raw, expected):
    assert S.normalize_date(raw) == expected


def test_normalize_date_letter_run_is_linear():
    """A long letter run with no year after it once cost cubic time in
    the month-name + year regex (500 chars took about 1 s)."""
    import time

    t0 = time.perf_counter()
    assert S.normalize_date("x" * 100_000) is None
    assert time.perf_counter() - t0 < 0.1


def test_month_year_regex_matches_plain_form():
    """Property: the linear month-name + year regex finds the same groups
    as the plain backtracking form on short strings (case-folding
    letters such as U+017F and U+212A included)."""
    import re
    from hypothesis import given, settings, strategies as st

    plain = re.compile(r"(?i)([a-z]+)[^\d]*(\d{4})")

    @settings(max_examples=500, deadline=None)
    @given(st.text(alphabet="ab xZ-/.,\n0123456789"
                            "\u017f\u212a\u0130\u0131\u00e9\u0663",
                   max_size=16))
    def prop(text):
        got = S._MONTH_YEAR_RE.search(text)
        want = plain.search(text)
        assert (got and got.groups()) == (want and want.groups())

    prop()


@pytest.mark.parametrize(
    "text,start,end",
    [
        ("Jan 2020 to Dec 2021", date(2020, 1, 1), date(2021, 12, 1)),
        ("Jan 2020 - Present", date(2020, 1, 1), S.AS_OF),
        ("2018 – 2020", date(2018, 1, 1), date(2020, 1, 1)),
        ("Sep 2020", date(2020, 9, 1), date(2020, 9, 1)),
    ],
)
def test_extract_period(text, start, end):
    assert S.extract_period(text) == (start, end)


@pytest.mark.parametrize(
    "line,section",
    [
        ("WORK EXPERIENCE:", "experience"),
        ("EDUCATION:", "education"),
        ("SKILLS:", "skills"),
        ("SUMMARY:", "summary"),
        ("CONTACT INFORMATION", "contact"),
        ("PROJECTS:", "projects"),
        ("CERTIFICATIONS:", "certifications"),
        ("john.doe@email.com", "contact"),  # anchored email pattern
        ("linkedin.com/in/john-doe", "contact"),
        ("5 years of experience in Java", "experience"),  # unanchored quirk
        ("Tools & Technologies", "skills"),
        ("just a body line", None),
        ("John Doe", None),
    ],
)
def test_match_section_heading(line, section):
    assert S.match_section_heading(line) == section


@pytest.mark.parametrize(
    "line,has_date",
    [
        ("Jan 2020 - Dec 2021", True),
        ("2019-2023", True),
        ("Mar 2018", True),
        ("2020 - Present", True),
        ("no dates", False),
        ("version 2.0 of 10", False),
    ],
)
def test_contains_date_pattern(line, has_date):
    assert S.contains_date_pattern(line) == has_date


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("BS", "Bachelor of Science"),
        ("B.S.", "Bachelor of Science"),
        ("MBA", "Master of Business Administration"),
        ("Masters of Business Admin",
         "Master of Business Administration"),
        ("MS in Computer Science", "Master of Science of Computer Science"),
        ("PhD", "Doctor of Philosophy"),
        ("Engineering Degree", "Engineering"),
    ],
)
def test_expand_degree(raw, expected):
    assert S.expand_degree(raw) == expected


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("Sr. SWE", "Senior Software Engineer"),
        ("Sr SWE", "Senior Software Engineer"),
        ("Jr. Dev", "Junior Developer"),
        ("Tech Lead", "Technical Lead"),
        ("VP", "Vice President"),
        ("SWE", "Software Engineer"),
        ("Sr. Tech Lead", "Senior Technical Lead"),
        ("Plain Title", "Plain Title"),
    ],
)
def test_expand_title(raw, expected):
    assert S.expand_title(raw) == expected


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("GPA: 3.5/4.0", 3.5),
        ("3.8", 3.8),
        ("GPA 3.5 on a 4.0 scale", None),  # scale-indicator veto
        ("GPA: 3.9 out of 4", None),
        ("no gpa", None),
    ],
)
def test_extract_gpa(raw, expected):
    assert S.extract_gpa(raw) == expected


def test_extract_contact_full():
    text = "John Doe\njohn.doe@email.com\n123-456-7890\nlinkedin.com/in/john-doe\ngithub.com/johndoe\n"
    c = S.extract_contact(text)
    assert c["name"] == "John Doe"
    assert c["email"] == "john.doe@email.com"
    assert c["phone"] == "123-456-7890"
    assert c["linkedin"] == "linkedin.com/in/john-doe"
    assert c["github"] == "github.com/johndoe"


def test_summary_truncation():
    short = "A concise summary."
    assert S.extract_summary("  A   concise\nsummary. ") == short
    long = ("word " * 150).strip() + ". tail"
    out = S.extract_summary(long)
    assert len(out) <= 500 and out.endswith(".")
    no_period = "x" * 600
    assert S.extract_summary(no_period) == "x" * 497 + "..."


def test_classify_span_rules():
    assert S.classify_span("image", "", "img://d/0") == "media-anchor"
    assert S.classify_span("text", "Page 3 of 12", None) == "boilerplate"
    assert S.classify_span("text", "4", None) == "boilerplate"
    assert S.classify_span("text", "----", None) == "boilerplate"
    assert S.classify_span("text", "Home | About | Services | Contact", None) == "boilerplate"
    assert S.classify_span("text", "www.a.com www.b.org www.c.net", None) == "boilerplate"
    assert S.classify_span("text", "© 2024 Resume Portal. All rights reserved.", None) == "boilerplate"
    # contact guard beats link-density
    assert S.classify_span("text", "linkedin.com/in/x | github.com/y | x@y.com", None) == "content"
    assert S.classify_span("text", "Developed microservices using Python", None) == "content"
    assert S.classify_span("text", "", None) == "boilerplate"


@pytest.mark.parametrize(
    "font_size,font_name,text,expected",
    [
        (12, "Times", "work history", True),       # size threshold
        (11.9, "Times", "work history", False),
        (10, "CMBX10", "work history", True),      # TeX bold font
        (10, "cmbx10", "work history", False),     # prefix is case-sensitive
        (10, "CMR10", "WORK history", True),       # any all-caps word
        (10, "CMR10", "Work History 2020", False),  # digits are not upper
        (10, "CMR10", "ÉTUDES", True),
        (10, "CMR10", "", False),
    ],
)
def test_is_heading_block(font_size, font_name, text, expected):
    assert S.is_heading_block(font_size, font_name, text) is expected


def test_pii_strategies():
    text = "mail john.doe@email.com or call 123-456-7890"
    hashed = S.anonymize_text(text, "hash")
    assert "[EMAIL_" in hashed and "[PHONE_" in hashed
    assert S.pii_hash("x", "salt") == S.pii_hash("x", "salt")
    masked = S.anonymize_text(text, "mask")
    assert "j***@email.com" in masked
    assert "123***7890" in masked
    tokened = S.anonymize_text(text, "token")
    assert "[EMAIL_1]" in tokened and "[PHONE_1]" in tokened


def test_fuzzy_scorer():
    assert S.fuzz_ratio("python", "python") == 100.0
    assert S.wratio("Pythn", "Python") > 80
    assert S.wratio("completely different", "Python") < 50
    assert S.best_fuzzy_match("Pythn", ["Java", "Python", "Go"], 80) == "Python"
    assert S.best_fuzzy_match("zzz", ["Java", "Python"], 80) is None


def test_skills_pipeline():
    from document_parser_private_spark.oracle import build_skill_index
    lo, v2c, idx = build_skill_index({"Python": ["Python3"], "Java": []})
    out = S.extract_skills("SKILLS:\nPython3, java, and, x", lo, v2c, idx)
    assert "Python" in out          # variant -> canonical
    assert "Java" in out            # case-insensitive exact
    assert "and" not in out         # stop word
    assert "x" not in out           # len <= 1


# ---------------------------------------------------------------------------
# Geometric layout pass (semantics.layout_reading_order)
# ---------------------------------------------------------------------------

def _sp(text, y, x, kind="text"):
    from document_parser_private_spark import semantics as S
    return {"kind": kind, "text": text, "media_ref": None,
            "offset": S.encode_offset(y, x)}


def test_layout_two_columns_reconstructed():
    from document_parser_private_spark import semantics as S
    # stored row-major (naive y-sorted PDF dump), jittered baselines
    spans = [
        _sp("L0", 0, 3), _sp("R0", 1, 500),
        _sp("L1", 3, 0), _sp("R1", 4, 505),
        _sp("L2", 6, 2), _sp("R2", 7, 501),
    ]
    out = [s["text"] for s in S.layout_reading_order(spans)]
    assert out == ["L0", "L1", "L2", "R0", "R1", "R2"]


def test_layout_single_column_with_jitter_keeps_order():
    from document_parser_private_spark import semantics as S
    spans = [_sp(f"T{i}", 3 * i + (i % 2), i % 3) for i in range(7)]
    out = [s["text"] for s in S.layout_reading_order(spans)]
    assert out == [f"T{i}" for i in range(7)]


def test_layout_sparse_side_not_a_column():
    from document_parser_private_spark import semantics as S
    # single far-right span (e.g. a page number) must not create a column
    spans = [_sp("A", 0, 0), _sp("B", 3, 900), _sp("C", 6, 1)]
    out = [s["text"] for s in S.layout_reading_order(spans)]
    assert out == ["A", "B", "C"]


def test_layout_sequential_offsets_degrade_to_identity():
    from document_parser_private_spark import semantics as S
    # legacy sequential offsets (0..n-1, n <= X_STRIDE) decode to a y=0
    # row with ascending x: no gutter-sized gap, so order is preserved;
    # beyond X_STRIDE spans a doc must use geometric encoding
    spans = [{"kind": "text", "text": f"S{i}", "media_ref": None, "offset": i}
             for i in range(1000)]
    out = [s["text"] for s in S.layout_reading_order(spans)]
    assert out == [f"S{i}" for i in range(1000)]


def test_layout_reading_order_stored_order_invariant():
    """Property: for spans with distinct (y, x), the inferred reading
    order is independent of the stored array order."""
    import random
    from hypothesis import given, settings, strategies as st
    from document_parser_private_spark import semantics as S

    @settings(max_examples=100, deadline=None)
    @given(st.lists(
        st.tuples(st.integers(0, 500), st.integers(0, 1000)),
        min_size=1, max_size=40, unique=True,
    ), st.integers(0, 2**31))
    def prop(coords, shuffle_seed):
        spans = [
            {"kind": "text", "text": f"s{i}", "media_ref": None,
             "offset": S.encode_offset(y, x)}
            for i, (y, x) in enumerate(coords)
        ]
        base = [s["text"] for s in S.layout_reading_order(spans)]
        shuffled = spans[:]
        random.Random(shuffle_seed).shuffle(shuffled)
        again = [s["text"] for s in S.layout_reading_order(shuffled)]
        assert base == again

    prop()


# --- F14: normalize_field (reference education_normalizer.py:145-165,
#     cases mirror its unit test test_EducationNormalizer.py:84-93) ---

@pytest.mark.parametrize("raw,expected", [
    ("CS", "Computer Science"),
    ("EE", "Electrical Engineering"),
    ("CE", "Computer Engineering"),
    ("MIS", "Management Information Systems"),
    ("Computer Science", "Computer Science"),
    ("Comp Sci", "Computer Science"),
    ("ComputerScience", "Computer Science"),          # camelCase split
    ("electrical engineering", "Electrical Engineering"),
    ("Mechanical Engineering", "Mechanical Engineering"),  # passthrough
    ("", ""),
])
def test_normalize_field(raw, expected):
    assert S.normalize_field(raw) == expected


def test_field_of_study_fallback_via_degree_phrase():
    # F15 keyword miss -> F14 capture+normalize ("BS in CS")
    assert S.extract_field_of_study("BS in CS, 2019") == "Computer Science"
    assert S.extract_field_of_study("Master of Science in Comp Sci") == "Computer Science"
    # keyword path unchanged
    assert S.extract_field_of_study("BS in Computer Science") == "computer science"
    assert S.extract_field_of_study("no degree here") is None


# --- F21: normalize_description (experience_normalizer.py:137-154) ---

@pytest.mark.parametrize("raw,expected", [
    ("", ""),
    ("• built the thing\n- shipped it\n  * maintained it",
     "Built the thing shipped it maintained it"),
    ("   led a team\nof five", "Led a team of five"),
    ("already Clean.", "Already Clean."),
])
def test_normalize_description(raw, expected):
    assert S.normalize_description(raw) == expected


# --- F26: achievements FSM (education_normalizer.py:236-295) ---

def test_achievements_marker_section():
    desc = ("MIT\nBS in CS\nAchievements:\nDean's List 2019\nTop of class\n")
    ach, rest = S.extract_achievements(desc)
    assert ach == ["Dean's List 2019", "Top of class"]
    assert rest == "MIT\nBS in CS"


def test_achievements_bullets_anywhere():
    desc = "MIT\n• Won the prize\n1. Ranked first\nplain line"
    ach, rest = S.extract_achievements(desc)
    # numbered lines keep their "1. " prefix: the reference strips only
    # the '•', '-', ' ' chars (education_normalizer.py:258)
    assert ach == ["Won the prize", "1. Ranked first"]
    assert rest == "MIT\nplain line"


def test_achievements_indicator_fallback():
    desc = "MIT\nGraduated with distinction\nregular line"
    ach, rest = S.extract_achievements(desc)
    assert ach == ["Graduated with distinction"]
    assert rest == "MIT\nGraduated with distinction\nregular line"


def test_achievements_default_filler():
    ach, rest = S.extract_achievements("MIT\njust text")
    assert ach == [S.DEFAULT_ACHIEVEMENT]
    assert rest == "MIT\njust text"


def test_achievements_empty_bullet_falls_through():
    # a line of only bullet chars strips to nothing -> kept-branch, like
    # the reference control flow
    ach, rest = S.extract_achievements("•-\nplain")
    assert ach == [S.DEFAULT_ACHIEVEMENT]
    assert rest == "•-\nplain"

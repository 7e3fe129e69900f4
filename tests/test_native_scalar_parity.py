"""Native Column expressions must agree with the Python semantics core
on the shared deterministic subset (catches Java/Python regex drift)."""

from pyspark.sql import functions as F

from document_parser_private_spark import semantics as S
from document_parser_private_spark.functions.dates import parse_date_col
from document_parser_private_spark.functions.education import (
    expand_degree_col,
    gpa_col,
)
from document_parser_private_spark.functions.experience import expand_title_col
from document_parser_private_spark.functions.text import summary_col
from document_parser_private_spark.functions.contact import contact_struct

DATES = ["Sep 2020", "September 2020", "Q1 2023", "Q4 2019", "2024",
         "May2023", "05/2021", "2020-07-15", "Present", "current",
         "", "no date", "(2019-2023)", "  Jan 2001  ",
         "x" * 2000, "ab 12 cd 2020", "1 - 22 Mar, 2019", "Q 2020 June"]
DEGREES = ["B.S.", "MBA", "Masters of Business Admin", "BSc Computer Science",
           "MS in Computer Science", "PhD", "Engineering Degree", "", "x"]
TITLES = ["Sr. SWE", "Sr SWE", "Jr. Dev", "Tech Lead", "VP", "SWE",
          "Sr. Tech Lead", "Plain Title", "", "Mgr.", "SDE"]
GPAS = ["GPA: 3.5/4.0", "3.8", "GPA 3.5 on a 4.0 scale",
        "GPA: 3.9 out of 4", "no gpa", "4.0", "score 2.75 overall"]
SUMMARIES = ["  A   concise\nsummary. ", "x" * 600,
             ("word " * 150).strip() + ". tail", ""]
CONTACTS = [
    "John Doe\njohn.doe@email.com\n123-456-7890\nlinkedin.com/in/j-d\ngithub.com/jd\n",
    "CONTACT INFORMATION\nJane\njane@x.io\n",
    "nothing here",
]


def _run(spark, values, col_fn):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    return [r["out"] for r in df.select(col_fn(F.col("v")).alias("out")).collect()]


def test_date_parity(spark):
    got = _run(spark, DATES, parse_date_col)
    want = [S.normalize_date(v) for v in DATES]
    assert got == want


def test_degree_parity(spark):
    got = _run(spark, DEGREES, expand_degree_col)
    want = [S.expand_degree(v) for v in DEGREES]
    assert got == want


def test_title_parity(spark):
    got = _run(spark, TITLES, expand_title_col)
    want = [S.expand_title(v) for v in TITLES]
    assert got == want


def test_gpa_parity(spark):
    got = _run(spark, GPAS, gpa_col)
    want = [S.extract_gpa(v) for v in GPAS]
    assert got == want


def test_summary_parity(spark):
    got = _run(spark, SUMMARIES, summary_col)
    want = [S.extract_summary(v) for v in SUMMARIES]
    assert got == want


def test_contact_parity(spark):
    df = spark.createDataFrame([(v,) for v in CONTACTS], "v string")
    got = [r["c"].asDict()
           for r in df.select(contact_struct(F.col("v")).alias("c")).collect()]
    want = [S.extract_contact(v) for v in CONTACTS]
    assert got == want

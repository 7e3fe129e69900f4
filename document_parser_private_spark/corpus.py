"""Deterministic synthetic corpus of interleaved text+media documents.

Emits the exact `input_hint` table shape from BASELINE.json:

    documents(doc_id string,
              spans array<struct<kind:string, text:string,
                                 media_ref:string, offset:int>>)

plus auxiliary columns used for partitioning/skew tests:
    byte_size long, doc_type string, part int.

Offset/layout contract
----------------------
`offset` is a *geometric layout key*, not an array index:
offset = y * semantics.X_STRIDE + x, i.e. packed page coordinates with
jittered baselines (y = 3*row + {0,1}) and jittered x. Reading order must
be INFERRED by the layout pass (semantics.layout_reading_order: line
clustering by y proximity, column detection by x-gap, column-major sort).
Two-column docs place the right column at x ~ 480 and the generator
stores the span ARRAY in physical (row-major interleaved, sorted by
(y, x)) order — what a naive y-sorted PDF text dump emits — so a pipeline
that does not perform real layout inference fails span-sequence equality.
This realizes the north_star's "line clustering by y-offset, column
detection, reading-order sort" explicitly (the reference relies on
implicit PyMuPDF block order, parsing_engine/layout_analyzer.py:17-31).

Templates follow FIXTURES.md §1 (plain resume, rich resume, interleaved
media, boilerplate-wrapped, two-column, skew tail, edge cases); content is
seeded from pools — no external data. Resume text structure mirrors the
reference's embedded sample (reference smoke_test.py:73-100).
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

from .semantics import encode_offset

COL_X = 480  # x origin of the right column in two-column docs

FIRST_NAMES = ["John", "Jane", "Alice", "Bob", "Carol", "David", "Emma",
               "Frank", "Grace", "Henry", "Ivy", "Jack", "Karen", "Liam",
               "Mona", "Nate", "Olga", "Paul", "Quinn", "Rita"]
LAST_NAMES = ["Doe", "Smith", "Jones", "Brown", "Davis", "Miller", "Wilson",
              "Moore", "Taylor", "Thomas", "White", "Harris", "Martin",
              "Lee", "Walker", "Hall", "Young", "King", "Wright", "Scott"]
CITIES = ["San Francisco, CA", "New York, NY", "Austin, TX", "Seattle, WA",
          "Boston, MA", "Denver, CO", "Chicago, IL", "Portland, OR"]

# Our own seed ontology (canonical -> variants); NOT copied from the
# reference data files — the engine takes any mapping as input.
SKILLS_ONTOLOGY: dict[str, list[str]] = {
    "Python": ["Python3", "Python 3", "python programming"],
    "Java": ["Core Java", "Java SE"],
    "JavaScript": ["JS", "Javascript", "ECMAScript"],
    "Docker": ["Docker Containers", "docker-compose"],
    "AWS": ["Amazon Web Services", "AWS Cloud"],
    "SQL": ["MySQL", "PostgreSQL", "SQL queries"],
    "Spark": ["Apache Spark", "PySpark"],
    "Kubernetes": ["K8s", "kube"],
    "Flask": ["Flask Framework"],
    "Spring Boot": ["SpringBoot", "Spring"],
    "Machine Learning": ["ML"],
    "Git": ["GitHub", "Version Control"],
    "Linux": ["Unix", "Bash"],
    "Terraform": ["terraform IaC"],
    "React": ["ReactJS", "React.js"],
}

COMPANIES = ["Tech Innovations Inc", "Startup Labs", "Data Systems Corp",
             "Cloud Nine LLC", "Acme Group", "ByteWorks Ltd",
             "Quantum Apps Co", "NovaSoft Inc"]
TITLES = ["Senior Software Engineer", "Software Developer", "Data Engineer",
          "Sr. SWE", "Jr. Developer", "Tech Lead", "Backend Engineer",
          "Data Scientist"]
UNIVERSITIES = ["University of Technology", "State College",
                "Institute of Science", "Metro University",
                "National Institute"]
DEGREES = ["BSc Computer Science", "B.S. Computer Science",
           "Master of Science", "MSc Data Science", "MBA", "BA Mathematics"]
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]

BOILERPLATE_HEADERS = [
    "Page {p} of {n}",
    "----------------",
    "CONFIDENTIAL",
    "Generated by resume-builder.example.com",
    "Home | About | Services | Contact",
    "Downloaded from jobs.example.org",
    "© 2024 Resume Portal. All rights reserved.",
]
LINK_FARM = [
    "www.jobs1.com www.jobs2.org www.jobs3.net www.hire.io",
    "https://a.example.com https://b.example.org https://c.example.net",
]


@dataclass
class Span:
    kind: str           # text | heading | table | image
    text: str
    media_ref: str | None
    offset: int

    def as_dict(self) -> dict:
        return {"kind": self.kind, "text": self.text,
                "media_ref": self.media_ref, "offset": self.offset}


@dataclass
class Doc:
    doc_id: str
    spans: list[Span]
    doc_type: str
    part: int
    byte_size: int = field(init=False)

    def __post_init__(self) -> None:
        self.byte_size = sum(len(s.text) for s in self.spans)


def _resume_lines(rng: random.Random, rich: bool) -> list[tuple[str, str]]:
    """(kind, text) line sequence for one synthetic resume in reading order."""
    first, last = rng.choice(FIRST_NAMES), rng.choice(LAST_NAMES)
    name = f"{first} {last}"
    email = f"{first.lower()}.{last.lower()}@email.com"
    phone = f"({rng.randint(100, 999)}) {rng.randint(100, 999)}-{rng.randint(1000, 9999)}"
    city = rng.choice(CITIES)
    all_skills = [v for k, vs in SKILLS_ONTOLOGY.items() for v in [k] + vs]
    skills = rng.sample(all_skills, k=rng.randint(4, 8))

    lines: list[tuple[str, str]] = [("heading", name)]
    if rich:
        # explicit contact block whose heading matches the contact patterns
        lines.append(("heading", "CONTACT INFORMATION"))
        lines.append(("text", name))
        lines.append(("text", email))
        lines.append(("text", phone))
        lines.append(("text", f"linkedin.com/in/{first.lower()}-{last.lower()}"))
        lines.append(("text", f"github.com/{first.lower()}{last.lower()}"))
        lines.append(("text", city))
    else:
        lines.append(("text", f"{city} | {email} | {phone}"))

    lines.append(("heading", "SUMMARY:"))
    # ~30% keep the word 'experience' in the body — which, faithfully to the
    # reference's unanchored section patterns, flips the FSM to 'experience'
    # mid-summary (section_detector.py:118-122 search semantics)
    if rng.random() < 0.3:
        body = (f"{rng.choice(TITLES)} with {rng.randint(2, 15)}+ years of "
                f"experience in backend development.")
    else:
        body = (f"{rng.choice(TITLES)} with {rng.randint(2, 15)}+ years in "
                f"backend development.")
    lines.append(("text", body))
    lines.append(("text", f"Skilled in {skills[0]}, {skills[1]}, and cloud technologies."))

    lines.append(("heading", "WORK EXPERIENCE:"))
    n_jobs = rng.randint(1, 3)
    year = rng.randint(2016, 2021)
    for _ in range(n_jobs):
        title = rng.choice(TITLES)
        company = rng.choice(COMPANIES)
        if rich:
            m0, m1 = rng.choice(MONTHS), rng.choice(MONTHS)
            end = "Present" if rng.random() < 0.25 else f"{m1} {year + rng.randint(1, 3)}"
            lines.append(("text", f"{title}, {company} ({m0} {year} - {end})"))
        else:
            lines.append(("text", f"{title}, {company} ({year}-{year + rng.randint(1, 4)})"))
        for _ in range(rng.randint(1, 3)):
            tech = rng.choice(skills)
            lines.append(("text", f"- Developed services using {tech}"))
        year -= rng.randint(1, 3)

    lines.append(("heading", "EDUCATION:"))
    uni = rng.choice(UNIVERSITIES)
    deg = rng.choice(DEGREES)
    y0 = rng.randint(2008, 2016)
    lines.append(("text", f"{deg}, {uni} ({y0}-{y0 + 4})"))
    if rng.random() < 0.5:
        lines.append(("text", f"GPA: 3.{rng.randint(0, 9)}/4.0"))

    lines.append(("heading", "SKILLS:"))
    lines.append(("text", ", ".join(skills)))

    if rich:
        lines.append(("heading", "PROJECTS:"))
        for i in range(rng.randint(1, 3)):
            lines.append(("text",
                          f"Project {i + 1}: {rng.choice(['Recommendation System', 'Chat App', 'ETL Platform', 'Game Engine'])}"
                          f" - built with {rng.choice(skills)}"))
        lines.append(("heading", "CERTIFICATIONS:"))
        lines.append(("text", f"{rng.choice(['AWS Certified Developer', 'CKA Certification', 'Scrum Master Certificate'])}"))
    return lines


def _edge_lines(rng: random.Random) -> list[tuple[str, str]]:
    choice = rng.randint(0, 3)
    if choice == 0:
        return []  # empty doc
    if choice == 1:  # no matching headings -> fallback 'content' section
        return [("text", "just some plain notes"),
                ("text", "nothing resembling a resume here"),
                ("text", "lorem ipsum dolor sit amet")]
    if choice == 2:  # only headings
        return [("heading", "SUMMARY:"), ("heading", "SKILLS:"),
                ("heading", "EDUCATION:")]
    # date line outside any section -> inferred experience
    return [("text", "started out long ago"),
            ("text", f"Jan {rng.randint(2010, 2020)} - Present worked on stuff"),
            ("text", "more stuff after the date line")]


def make_doc(i: int, seed: int = 42, n_parts: int = 8,
             skew_frac: float = 0.01) -> Doc:
    """Build document *i* deterministically."""
    rng = random.Random((seed << 20) ^ i)
    r = rng.random()
    if r < 0.05:
        doc_type = "edge"
    elif r < 0.30:
        doc_type = "resume_text"
    elif r < 0.50:
        doc_type = "resume_rich"
    elif r < 0.70:
        doc_type = "resume_media"
    elif r < 0.88:
        doc_type = "resume_boiler"
    else:
        doc_type = "resume_2col"

    doc_id = f"doc_{seed}_{i:09d}"

    if doc_type == "edge":
        lines = _edge_lines(rng)
    else:
        lines = _resume_lines(rng, rich=doc_type != "resume_text")

    # skew tail: giant docs with 100-1000x body lines
    if rng.random() < skew_frac and doc_type.startswith("resume"):
        bloat = rng.randint(100, 1000)
        extra = [("text", f"- Maintained batch job #{k} using Python")
                 for k in range(bloat)]
        # insert after the experience heading block, before education
        idx = next((j for j, (k, t) in enumerate(lines)
                    if t.startswith("EDUCATION")), len(lines))
        lines = lines[:idx] + extra + lines[idx:]

    def geo(row: int) -> int:
        """Jittered geometric offset for a single-column row: baselines
        3 units apart with +-1 jitter, small x indent jitter."""
        return encode_offset(3 * row + rng.randint(0, 1), rng.randint(0, 8))

    spans: list[Span] = []
    media_count = 0
    row = 0
    for kind, text in lines:
        spans.append(Span(kind, text, None, geo(row)))
        row += 1
        if doc_type == "resume_media" and kind == "heading" and rng.random() < 0.5:
            spans.append(Span("image", "", f"img://{doc_id}/{media_count}", geo(row)))
            media_count += 1
            row += 1

    if doc_type == "resume_boiler":
        n_pages = rng.randint(1, 3)
        head = [Span("text", h.format(p=1, n=n_pages), None, 0)
                for h in rng.sample(BOILERPLATE_HEADERS, k=2)]
        farm = [Span("text", rng.choice(LINK_FARM), None, 0)]
        tail = [Span("text", rng.choice(BOILERPLATE_HEADERS).format(p=n_pages, n=n_pages), None, 0)]
        merged = head + farm + spans + tail
        for j, s in enumerate(merged):
            s.offset = encode_offset(3 * j + rng.randint(0, 1), rng.randint(0, 8))
        spans = merged

    if doc_type == "resume_2col":
        # Reading order = spans as built. First half = left column (x~0),
        # second half = right column (x~COL_X); jittered baselines.
        half = (len(spans) + 1) // 2
        for j, s in enumerate(spans):
            col = 0 if j < half else 1
            r2 = j if j < half else j - half
            s.offset = encode_offset(
                3 * r2 + rng.randint(0, 1),
                col * COL_X + rng.randint(0, 8),
            )
        # Physical (stored) order = row-major interleave across columns,
        # sorted by (y, x) — what a naive y-sorted PDF text dump emits.
        spans = sorted(spans, key=lambda s: (s.offset,))

    return Doc(doc_id=doc_id, spans=spans, doc_type=doc_type,
               part=i % n_parts)


def generate_docs(n: int, seed: int = 42, n_parts: int = 8,
                  skew_frac: float = 0.01) -> list[Doc]:
    return [make_doc(i, seed=seed, n_parts=n_parts, skew_frac=skew_frac)
            for i in range(n)]


def docs_to_rows(docs: list[Doc]) -> list[dict]:
    return [
        {
            "doc_id": d.doc_id,
            "spans": [s.as_dict() for s in d.spans],
            "byte_size": d.byte_size,
            "doc_type": d.doc_type,
            "part": d.part,
        }
        for d in docs
    ]


SPAN_STRUCT_DDL = (
    "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)
DOCS_DDL = (
    f"doc_id string, spans {SPAN_STRUCT_DDL}, "
    "byte_size long, doc_type string, part int"
)


def write_corpus_parquet(path: str, n: int, seed: int = 42,
                         n_parts: int = 8, skew_frac: float = 0.01,
                         shards: int = 1) -> None:
    """Write the corpus with pyarrow directly (fast, Spark-free) so tests
    and bench can materialize inputs without a running session.

    shards > 1 writes a directory of that many part files so Spark's scan
    parallelizes (a single parquet file with one row group is a
    single-task scan — a serial bottleneck the 100 TB layout would never
    have)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = generate_docs(n, seed=seed, n_parts=n_parts, skew_frac=skew_frac)
    span_type = pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ]))

    def table_of(chunk: list[Doc]) -> "pa.Table":
        return pa.table({
            "doc_id": pa.array([d.doc_id for d in chunk], pa.string()),
            "spans": pa.array(
                [[s.as_dict() for s in d.spans] for d in chunk], span_type
            ),
            "byte_size": pa.array([d.byte_size for d in chunk], pa.int64()),
            "doc_type": pa.array([d.doc_type for d in chunk], pa.string()),
            "part": pa.array([d.part for d in chunk], pa.int32()),
        })

    if shards <= 1:
        pq.write_table(table_of(docs), path, compression="zstd")
        return
    os.makedirs(path, exist_ok=True)
    per = (len(docs) + shards - 1) // shards
    for s in range(shards):
        chunk = docs[s * per:(s + 1) * per]
        if not chunk:
            break
        pq.write_table(
            table_of(chunk),
            os.path.join(path, f"part-{s:05d}.parquet"),
            compression="zstd",
        )

"""The kernel's batch phases (operators/resume.py) against the per-span
reference in semantics: `classify_spans` equals `classify_span` on every
span, the engine-neutral classify patterns match exactly what their
earlier (?i) / \\s spelling matched, in Python re and in RE2 alike, and
`reading_order` (and `order_spans`, the layout pass over span lists
built on it) equals `layout_reading_order` per doc. No Spark session:
these run inside the worker."""

import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from hypothesis import example, given, settings, strategies as st

from document_parser_private_spark import semantics as S
from document_parser_private_spark.operators.layout import (
    SPAN_ARROW,
    order_spans,
)
from document_parser_private_spark.operators.resume import (
    classify_spans,
    reading_order,
)

SPAN_STRUCT = pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32()),
])

# characters on which Python re and RE2, or ASCII and Unicode rules,
# disagree: case-folding letters, \v and the other non-ASCII whitespace
# str.strip() removes, and the symbols the patterns name
ADVERSARIAL = ("\u212a\u017f\u0130\u0131\x0b\x1c\x1d\x1e\x1f\xa0\u3000"
               "\u2028\x85\u2009\u2022\u00b7\u00a9")
CHARS = ADVERSARIAL + "aAkKsSiI0123456789 \t\n\r\f.-_=*/|@:()%+,"
FRAGMENTS = (
    "Page", "page", "PAGE", "pa\u017fe", " of ", "3", "12", "1/2", "2024",
    "\u00a9", "(c)", "(C)", "Copyright", "All rights reserved",
    "all right\u017f re\u017ferved", "Confidential", "CONFIDENTIAL Document",
    "Generated by", "downloaded from", "Downloaded From", "---", "...",
    "\u2022\u2022\u2022", "\u00b7\u00b7\u00b7", "Home", "About", "Jobs",
    "Contact", " | ", " \u2022 ", "|", "www.", "WWW.", "http://",
    "https://", "HTTPS://", "http\u017f://", "x.com", "a.org/p", ".io",
    ".CO", ".dev", "a@b.co", "A@B.CO", "x.y@z.\u212a", "555-123-4567",
    "555.123.4567", "555\x0b123\x0b4567", "(555) 123 4567",
    "(555)\xa0123-4567", "linkedin.com/in/x", "LinkedIn.COM/PUB/y",
    "lin\u212aedin.com/in/x", "github.com/y", "GITHUB.com/Y",
    "git\u0130hub.com/z", "Developed", "microservices",
)
TEXT = st.one_of(
    st.text(alphabet=CHARS, max_size=14),
    st.lists(st.sampled_from(FRAGMENTS)
             | st.text(alphabet=CHARS, max_size=3),
             max_size=8).map("".join),
)
SPAN = st.fixed_dictionaries({
    "kind": st.none() | st.sampled_from(["text", "heading", "image", ""]),
    "text": st.none() | TEXT,
    "media_ref": st.none() | st.sampled_from(["", "img/1.png"]),
    "offset": st.none() | st.integers(0, 2 ** 31 - 1),
})


# spans whose label flips when RE2 folds case over Unicode or reads \s
# without \x0b: a link farm that only a folded contact pattern rescues,
# folded furniture and link tokens, and \v inside furniture and phones
FOLDING = [
    "lin\u212aedin.com/in/x www.a.com b.org",
    "All right\u017f re\u017ferved",
    "http\u017f://a http\u017f://b c",
    "Page\x0b3",
    "555\x0b123\x0b4567 www.a.com b.org",
]


@settings(max_examples=300, deadline=None)
@given(st.lists(st.none() | SPAN, max_size=12))
@example([{"kind": "text", "text": t, "media_ref": None, "offset": 0}
          for t in FOLDING])
def test_batch_classify_equals_classify_span(spans):
    """(keep, media) equal, span by span, the labels classify_span gives
    (a null text read as ""); a null span is never kept."""
    keep, media = classify_spans(pa.array(spans, SPAN_STRUCT))
    for s, k, m in zip(spans, keep.tolist(), media.tolist()):
        if s is None:
            assert not k
            continue
        label = S.classify_span(s["kind"], s["text"] or "", s["media_ref"])
        assert (k, m) == (label != "boilerplate",
                          label == "media-anchor"), (s, label)


# the classify patterns as spelled before they were made engine-neutral
OLD_PATTERNS = {
    "PAGE_FURNITURE_PAT": (
        r"(?i)^\s*("
        r"page\s+\d+(\s+of\s+\d+)?"
        r"|\d+\s*/\s*\d+"
        r"|\d{1,4}"
        r"|[-_=*•.·]{3,}"
        r"|(©|\(c\)|copyright)\s[^\n]*"
        r"|all\s+rights\s+reserved[^\n]*"
        r"|confidential(\s+document)?"
        r"|generated\s+by\s+\S+"
        r"|downloaded\s+from\s+\S+"
        r")\s*$"
    ),
    "NAV_MENU_PAT":
        r"^\s*[A-Z][\w]{1,14}(\s*[|•]\s*[A-Z][\w]{1,14}){2,}\s*$",
    "LINK_TOKEN_PAT":
        r"(?i)^(https?://\S+|www\.\S+|\S+\.(com|org|net|io|dev|co)(/\S*)?)$",
    "CONTACT_LINE_PAT": (
        r"(?i)(\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b"
        r"|\b\d{3}[-.\s]?\d{3}[-.\s]?\d{4}\b"
        r"|\(\d{3}\)\s*\d{3}[-.\s]?\d{4}"
        r"|linkedin\.com/(in|pub)/[A-Za-z0-9-]+"
        r"|github\.com/[A-Za-z0-9-]+)"
    ),
}


@settings(max_examples=300, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=8))
def test_neutral_patterns_match_old_spelling(texts):
    """Each classify pattern finds what its old (?i) / \\s spelling
    found in Python re, and RE2 finds the same on the stripped texts the
    kernel feeds it (Python's `$` also matches before a final newline,
    which a stripped text never has)."""
    stripped = [t.strip() for t in texts]
    for name, old_pat in OLD_PATTERNS.items():
        new, old = re.compile(getattr(S, name), re.ASCII), re.compile(
            old_pat, re.ASCII)
        for t in texts:
            got, want = new.search(t), old.search(t)
            assert (got and got.span()) == (want and want.span()), (name, t)
        re2 = pc.match_substring_regex(pa.array(stripped), getattr(S, name))
        assert re2.to_pylist() == [bool(new.search(t)) for t in stripped], \
            name


def test_classify_patterns_are_engine_neutral():
    """No inline case folding and no \\s / \\S class, which RE2 and
    Python re read differently."""
    for name in OLD_PATTERNS:
        pat = getattr(S, name)
        assert "(?i)" not in pat and "\\s" not in pat and "\\S" not in pat


# x positions that make duplicate xs, equal widest gaps and gaps just
# under and at GUTTER_MIN
XS = (0, 1, 5, 99, 100, 104, 200, 205, 300, 400, 500, 1023)
OFFSET = st.one_of(
    st.none(),
    st.builds(S.encode_offset, st.integers(-3, 12),
              st.sampled_from(XS) | st.sampled_from((0, 200, 400))),
    st.integers(-5000, 5000),
)
# two widest gaps of 200, both with two spans or more on each side: the
# first (x=200) is the gutter
TIED = [S.encode_offset(y, x) for x in (400, 200, 0) for y in (1, 0)]


@settings(max_examples=300, deadline=None)
@given(st.lists(st.lists(OFFSET, max_size=9), max_size=6))
@example([TIED, [None, -1, 0]])
def test_batch_reading_order_equals_layout_reading_order(docs):
    """The one-lexsort order of a batch equals layout_reading_order run
    on each doc alone, with None and negative offsets, duplicate (y, x)
    and tied widest gaps."""
    rows = np.repeat(np.arange(len(docs)), [len(d) for d in docs])
    flat = [o for d in docs for o in d]
    perm = reading_order(rows, pa.array(flat, pa.int32())).tolist()
    start = 0
    for d in docs:
        got = [i - start for i in perm[start:start + len(d)]]
        spans = [{"offset": o, "i": i} for i, o in enumerate(d)]
        want = [s["i"] for s in S.layout_reading_order(spans)]
        assert got == want, d
        start += len(d)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.none() | st.lists(OFFSET, max_size=9), max_size=6),
       st.integers(0, 2))
def test_order_spans_equals_layout_reading_order(docs, cut):
    """layout_order_op's batch body: per row, the spans of
    layout_reading_order with offsets renumbered 0..n-1, a null row as
    [], on a sliced array too."""
    rows = [None if d is None else
            [{"kind": "text", "text": f"s{i}", "media_ref": None,
              "offset": o} for i, o in enumerate(d)]
            for d in [[0]] * cut + docs]
    got = order_spans(pa.array(rows, SPAN_ARROW).slice(cut)).to_pylist()
    assert got == [
        [] if d is None else
        [dict(s, offset=i) for i, s in enumerate(S.layout_reading_order(d))]
        for d in rows[cut:]]

"""The Python-worker helpers the batch bodies share (operators/batch.py)
and the extraction kernel: `pylist` equals Arrow's to_pylist() in value
and Python type, `clean_columns` equals the oracle's per-doc path on
null, empty and sliced arrays and on null rows that still span values,
and `forget_zip_importers` leaves zip imports working. No Spark session:
these run inside the worker."""

import importlib
import sys
import zipfile

import pyarrow as pa
from hypothesis import given, settings, strategies as st

from document_parser_private_spark.operators.batch import (
    forget_zip_importers,
    pylist,
)
from document_parser_private_spark import oracle
from document_parser_private_spark.operators.layout import SPAN_TYPE
from document_parser_private_spark.operators.resume import (
    CLEAN_ARROW,
    clean_columns,
)
from document_parser_private_spark.operators.sections import SECTIONS_FIELDS
from pyspark.sql.pandas.types import to_arrow_type

SPANS_ARROW = to_arrow_type(SPAN_TYPE)

TEXT = st.one_of(
    st.text(max_size=12),
    st.sampled_from(["", "\x00", "a\x00b", "été", "日本語", "\U0001f600"]),
)
STRINGS = st.lists(st.none() | TEXT, max_size=20)


def _ints(bits):
    lo, hi = -(2 ** (bits - 1)), 2 ** (bits - 1) - 1
    return st.lists(st.none() | st.integers(lo, hi), max_size=20)


def _same(got, want):
    assert got == want
    assert [type(v) for v in got] == [type(v) for v in want]


@settings(max_examples=60, deadline=None)
@given(STRINGS, _ints(32), _ints(64), st.lists(st.booleans(), max_size=20),
       st.booleans())
def test_pylist_equals_to_pylist(strs, i32, i64, bools, large):
    arrays = [
        pa.array(strs, pa.large_string() if large else pa.string()),
        pa.array(i32, pa.int32()),
        pa.array(i64, pa.int64()),
        pa.array([v for v in i64 if v is not None], pa.int64()),
        pa.array(bools, pa.bool_()),
        pa.array([1.5, None], pa.float64()),
    ]
    for arr in arrays:
        _same(pylist(arr), arr.to_pylist())
        if len(arr) > 2:
            _same(pylist(arr.slice(1, len(arr) - 2)),
                  arr.slice(1, len(arr) - 2).to_pylist())


LINES = st.sampled_from([
    "Page 3 of 12", "SKILLS", "Experience", "Python, SQL", "Home | About | Jobs",
    "www.a.com www.b.org x.io", "a@b.co", "\u00a9 2024 x", "\u3000", "\n",
])
SPAN = st.fixed_dictionaries({
    "kind": st.none() | st.sampled_from(["text", "heading", "image",
                                         "media-anchor", ""]),
    "text": st.none() | TEXT | LINES,
    "media_ref": st.none() | st.sampled_from(["", "img/1.png"]),
    "offset": st.none() | st.integers(-2 ** 31, 2 ** 31 - 1),
})
DOCS = st.lists(st.none() | st.lists(st.none() | SPAN, max_size=6),
                max_size=8)


def _oracle_row(spans):
    """The oracle's per-doc path: (clean_spans, blocks_kept,
    blocks_dropped, sections); a null row keeps no spans and has NULL
    counts."""
    clean, kept, dropped = ([], None, None) if spans is None \
        else oracle.classify_and_emit(spans)
    secs = oracle.sections_of(clean)
    return clean, kept, dropped, {f: secs.get(f) for f in SECTIONS_FIELDS}


def _check_kernel(arr):
    cols, secs = clean_columns(arr)
    assert [c.type for c in cols] == [f.type for f in CLEAN_ARROW]
    got = list(zip(*(c.to_pylist() for c in cols)))
    want = [_oracle_row(r) for r in arr.to_pylist()]
    assert got == want
    assert secs == [w[3] for w in want]


@settings(max_examples=80, deadline=None)
@given(DOCS, st.data())
def test_clean_columns_equals_oracle_per_doc(docs, data):
    """clean_columns equals the oracle per doc on the whole array, on a
    slice of it, and with rows nulled by a validity mask while their
    offsets still span values."""
    arr = pa.array(docs, SPANS_ARROW)
    _check_kernel(arr)
    start = data.draw(st.integers(0, len(arr)))
    length = data.draw(st.integers(0, len(arr) - start))
    _check_kernel(arr.slice(start, length))
    mask = data.draw(st.lists(st.booleans(), min_size=len(arr),
                              max_size=len(arr)))
    masked = pa.ListArray.from_arrays(arr.offsets, arr.values,
                                      mask=pa.array(mask, pa.bool_()))
    _check_kernel(masked)
    _check_kernel(masked.slice(start, length))


def test_forget_zip_importers_keeps_zip_imports_working(tmp_path,
                                                        monkeypatch):
    """After the helper, invalidate_caches() has no zipimporter to
    re-read, and a module not yet imported from the zip still imports."""
    archive = tmp_path / "pkgs.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipmod_first.py", "VALUE = 1\n")
        z.writestr("zipmod_second.py", "VALUE = 2\n")
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zipmod_first", "zipmod_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)

    import zipmod_first
    assert zipmod_first.VALUE == 1
    assert str(archive) in sys.path_importer_cache

    forget_zip_importers()
    assert str(archive) not in sys.path_importer_cache
    importlib.invalidate_caches()

    import zipmod_second
    assert zipmod_second.VALUE == 2
    assert zipmod_second.__file__.startswith(str(archive))

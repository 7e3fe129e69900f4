"""The Python-worker helpers the batch bodies share (operators/batch.py):
`pylist` equals Arrow's to_pylist() in value and Python type,
`decode_spans` equals the nested ListArray.to_pylist() on null, empty
and sliced arrays, and `forget_zip_importers` leaves zip imports
working. No Spark session: these run inside the worker."""

import importlib
import sys
import zipfile

import pyarrow as pa
from hypothesis import given, settings, strategies as st

from document_parser_private_spark.operators.batch import (
    forget_zip_importers,
    pylist,
)
from document_parser_private_spark.operators.layout import SPAN_TYPE
from document_parser_private_spark.operators.resume import decode_spans
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


SPAN = st.fixed_dictionaries({
    "kind": st.none() | st.sampled_from(["text", "heading", "image", ""]),
    "text": st.none() | TEXT,
    "media_ref": st.none() | st.sampled_from(["", "img/1.png"]),
    "offset": st.none() | st.integers(0, 2 ** 31 - 1),
})
DOCS = st.lists(st.none() | st.lists(st.none() | SPAN, max_size=5),
                max_size=8)


def _reference(list_array):
    """The nested decode decode_spans replaces."""
    return list_array.to_pylist()


@settings(max_examples=80, deadline=None)
@given(DOCS, st.data())
def test_decode_spans_equals_nested_to_pylist(docs, data):
    arr = pa.array(docs, SPANS_ARROW)
    _check_decode(arr)
    start = data.draw(st.integers(0, len(arr)))
    length = data.draw(st.integers(0, len(arr) - start))
    _check_decode(arr.slice(start, length))


def _check_decode(arr):
    got, want = decode_spans(arr), _reference(arr)
    assert got == want
    for g_row, w_row in zip(got, want):
        for g, w in zip(g_row or (), w_row or ()):
            if w is not None:
                assert ([type(v) for v in g.values()]
                        == [type(v) for v in w.values()])


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

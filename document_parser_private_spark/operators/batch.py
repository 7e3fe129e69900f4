"""The one (id, text) batch loop behind the analytics mapInArrow builders,
and the worker-side helpers every Python batch body shares.

A builder hands `map_docs` a per-document function; `map_docs` owns the
single Python crossing (one MapInArrow node), the null-text contract and
the Arrow encode. `tokens` and `round6` are the two value contracts the
builders share. `pylist` and `forget_zip_importers` cut the two fixed
costs a Python batch body pays: the per-value Arrow decode and the
per-task zip-directory re-read.
"""

from __future__ import annotations

import re
import sys
import zipimport
from decimal import ROUND_HALF_UP, Decimal
from itertools import repeat
from typing import Callable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructType

# Python spelling of textstats.WORD_RE: runs split on the explicit ASCII
# whitespace class, identical in Java regex, RE2 and Python re (PLANS.md §8)
tokens = re.compile(r"[^\x09-\x0d\x20]+").findall

_Q6 = Decimal("0.000001")


def round6(x: float) -> float:
    """Spark round(x, 6): HALF_UP over BigDecimal.valueOf(x), whose
    decimal expansion is Python's repr(x)."""
    return float(Decimal(repr(x)).quantize(_Q6, ROUND_HALF_UP))


def pylist(arr: pa.Array) -> list:
    """arr.to_pylist(), equal in value and Python type, without one Arrow
    Scalar per value.

    String arrays (nulls included) and boolean and integer arrays with no
    nulls go through numpy; numpy would turn an integer array with nulls
    into floats, so that and every other type keep to_pylist()."""
    t = arr.type
    if (pa.types.is_string(t) or pa.types.is_large_string(t)
            or ((pa.types.is_integer(t) or pa.types.is_boolean(t))
                and not arr.null_count)):
        return arr.to_numpy(zero_copy_only=False).tolist()
    return arr.to_pylist()


def forget_zip_importers() -> None:
    """Drop the zipimporters from sys.path_importer_cache.

    PySpark calls importlib.invalidate_caches() at the start of every
    Python task, and on CPython 3.11 that makes each cached zipimporter
    re-read its archive's central directory: 16 of them (pyspark.zip,
    py4j, the spark-core jar) cost 0.1-0.2 s of CPU per task. Called at
    a batch body's entry, it leaves a reused worker's next task nothing
    to re-read. Safe: a later import re-creates the finder it needs, and
    that finder reads the directory from zipimport's own cache."""
    cache = sys.path_importer_cache
    for key, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(key, None)


def map_docs(df: DataFrame, id_col: str, text_col: str, out_ddl: str,
             per_doc: Callable[[str], Sequence[Sequence]]) -> DataFrame:
    """(id, *out_ddl) rows from ONE mapInArrow pass over (id, text).

    per_doc(text) sees a null text as "" and returns one sequence per
    out_ddl column, all of one length: the rows that doc emits. The id
    is repeated to that length and keeps its input type. A doc's rows
    never split across batches, so per-doc counts are complete."""
    id_dt = df.schema[id_col].dataType.simpleString()
    out = StructType.fromDDL(out_ddl)
    names = [id_col] + out.fieldNames()
    types = [to_arrow_type(f.dataType) for f in out.fields]

    def build(batches):
        for b in batches:
            forget_zip_importers()
            out_id: list = []
            cols: list[list] = [[] for _ in types]
            for did, tx in zip(pylist(b.column(0)), pylist(b.column(1))):
                emitted = per_doc(tx or "")
                out_id.extend(repeat(did, len(emitted[0])))
                for col, vals in zip(cols, emitted):
                    col.extend(vals)
            yield pa.record_batch(
                [pa.array(out_id, b.column(0).type)]
                + [pa.array(c, t) for c, t in zip(cols, types)],
                names=names)

    return df.select(id_col, text_col).mapInArrow(
        build, f"{id_col} {id_dt}, {out_ddl}")

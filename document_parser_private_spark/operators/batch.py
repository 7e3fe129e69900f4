"""The one (id, text) batch loop behind the analytics mapInArrow builders.

A builder hands `map_docs` a per-document function; `map_docs` owns the
single Python crossing (one MapInArrow node), the null-text contract and
the Arrow encode. `tokens` and `round6` are the two value contracts the
builders share.
"""

from __future__ import annotations

import re
from decimal import ROUND_HALF_UP, Decimal
from itertools import repeat
from typing import Callable, Sequence

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
        import pyarrow as pa

        for b in batches:
            out_id: list = []
            cols: list[list] = [[] for _ in types]
            for did, tx in zip(b.column(0).to_pylist(),
                               b.column(1).to_pylist()):
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

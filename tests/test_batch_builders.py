"""Parity pins for the batch (operators/batch.map_docs) builders.

Each optimized operator internal is checked against the straightforward
native-Spark formulation it replaced, on a corpus with the awkward
cases (empty text next to null text, whitespace-only, \x0b vertical tab
inside the ASCII token contract, repeated tokens, unicode), with long
and string ids, and on a corpus where no doc emits a row. Values and
types must be identical — these rewrites are pure plan-shape changes.
"""

from collections import Counter

import pyarrow as pa
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from document_parser_private_spark.operators.batch import map_docs, tokens
from document_parser_private_spark.operators.textstats import (
    WORD_RE,
    _word_count_rows_arrow,
    simhash_agg,
)
from document_parser_private_spark.operators.trainprep import (
    _ngram_rows_arrow,
    repetition_stats,
)

TRICKY = [
    (1, "the quick the quick the\x0bsplit"),
    (2, ""),
    (3, "   \t\r\n  "),
    (4, "solo"),
    (5, "a b c a b a été café café"),
    (6, "x " * 50 + "y"),
    (7, None),
]
# no doc emits a token, a gram or a window: every batch comes back empty
SILENT = [(10, ""), (11, None), (12, " \x0b\t "), (13, "")]


@pytest.fixture(scope="module")
def tricky_df(spark):
    return spark.createDataFrame(TRICKY, "doc_id long, text string")


@pytest.fixture(scope="module")
def tricky_inputs(spark, tricky_df):
    """The awkward corpus with long ids and with string ids, and the
    corpus where no doc emits a row."""
    return [
        tricky_df,
        tricky_df.select(F.concat(F.lit("d"), "doc_id").alias("doc_id"),
                         "text"),
        spark.createDataFrame(SILENT, "doc_id long, text string"),
    ]


@pytest.fixture(scope="module")
def text_docs(spark):
    """Deterministic word-salad corpus (doc_id, text)."""
    words = ["spark", "row", "join", "the", "data", "scan", "agg",
             "merge", "fast", "slow", "été"]
    rows = [
        (i, " ".join(words[(i * 7 + j * 3) % len(words)]
                     for j in range(5 + (i % 17))))
        for i in range(60)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class _Capture:
    """Stands in for the (id, text) projection map_docs plans: it keeps
    the batch function so a test can run it on Arrow batches itself."""

    def __init__(self, ddl):
        self.schema = StructType.fromDDL(ddl)

    def select(self, *cols):
        return self

    def mapInArrow(self, fn, schema):
        self.fn = fn
        return self


@pytest.mark.parametrize("id_dt,ids", [
    ("long", [1, 2, 3]),
    ("string", ["d1", "d2", "d3"]),
])
def test_map_docs_batch_contract(spark, id_dt, ids):
    """Spark accepts an empty batch whatever its column types, so the
    types map_docs emits are checked on its Arrow batches directly: a
    batch where no doc emits a row is empty but typed, the id keeps its
    input type, and a null text reaches per_doc as ""."""
    seen = []

    def per_doc(tx):
        seen.append(tx)
        c = Counter(tokens(tx))
        return c.keys(), c.values()

    fn = map_docs(_Capture(f"doc_id {id_dt}, text string"), "doc_id",
                  "text", "token string, cnt long", per_doc).fn
    id_type = pa.int64() if id_dt == "long" else pa.string()
    silent = pa.record_batch(
        [pa.array(ids, id_type), pa.array(["", None, " \x0b "])],
        names=["doc_id", "text"])
    mixed = pa.record_batch(
        [pa.array(ids, id_type), pa.array(["b a b", None, ""])],
        names=["doc_id", "text"])
    out = list(fn(iter([silent, mixed])))
    want = pa.schema([("doc_id", id_type), ("token", pa.string()),
                      ("cnt", pa.int64())])
    assert [b.schema for b in out] == [want, want]
    assert out[0].num_rows == 0
    assert out[1].to_pylist() == [
        {"doc_id": ids[0], "token": "b", "cnt": 2},
        {"doc_id": ids[0], "token": "a", "cnt": 1},
    ]
    assert seen == ["", "", " \x0b ", "b a b", "", ""]


def test_word_count_rows_matches_groupby(spark, tricky_inputs):
    for df in tricky_inputs:
        rows = _word_count_rows_arrow(df, "doc_id", "text")
        assert rows.dtypes == [("doc_id", dict(df.dtypes)["doc_id"]),
                               ("token", "string"), ("cnt", "bigint")]
        got = rows.orderBy("doc_id", "token").collect()
        want = (
            df.select(
                "doc_id",
                F.explode(
                    F.regexp_extract_all(F.col("text"), F.lit(WORD_RE),
                                         F.lit(0))
                ).alias("token"),
            )
            .groupBy("doc_id", "token")
            .agg(F.count("*").alias("cnt"))
            .orderBy("doc_id", "token")
            .collect()
        )
        assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_simhash_agg_matches_codegen_votes(spark, tricky_inputs,
                                           text_docs):
    """The one-pass Arrow simhash must equal the explode + per-bit SUM
    vote formulation it replaced (integer arithmetic, so equality is
    exact, not approximate)."""
    for df in (*tricky_inputs, text_docs.limit(40)):
        got = {
            r["doc_id"]: r["simhash"]
            for r in simhash_agg(df).collect()
        }
        toks = df.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(F.col("text"), F.lit(WORD_RE),
                                     F.lit(0))
            ).alias("tok"),
        ).groupBy("doc_id", "tok").agg(F.count("*").alias("cnt")).select(
            "doc_id", "cnt",
            F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10)
            .cast("long").alias("hv"),
        )
        aggs = [
            F.sum(
                F.when(F.col("hv").bitwiseAND(F.lit(1 << k)) != 0,
                       F.col("cnt")).otherwise(-F.col("cnt"))
            ).alias(f"s_{k}")
            for k in range(60)
        ]
        sums = toks.groupBy("doc_id").agg(*aggs)
        sim = None
        for k in range(60):
            term = F.when(F.col(f"s_{k}") > 0,
                          F.lit(1 << k)).otherwise(F.lit(0))
            sim = term if sim is None else sim + term
        want = {
            r["doc_id"]: r["simhash"]
            for r in sums.select("doc_id",
                                 sim.cast("long").alias("simhash"))
            .collect()
        }
        ids = {r["doc_id"] for r in df.select("doc_id").collect()}
        for did in ids:
            assert got[did] == want.get(did, 0), did


def test_counted_ngram_rows_match_groupby(spark, text_docs, tricky_inputs):
    for df in (text_docs.limit(30), *tricky_inputs):
        d = df.select(F.col("doc_id").alias("_id"),
                      F.lower("text").alias("_t"))
        for hashed in (False, True):
            g = "gh" if hashed else "gram"
            counted = _ngram_rows_arrow(d, 3, "_id", "_t", hashed=hashed,
                                        counted=True)
            assert counted.dtypes == [("_id", dict(df.dtypes)["doc_id"]),
                                      (g, "string"), ("cnt", "bigint")]
            got = counted.orderBy("_id", g).collect()
            want = (
                _ngram_rows_arrow(d, 3, "_id", "_t", hashed=hashed)
                .groupBy("_id", g).agg(F.count("*").alias("cnt"))
                .orderBy("_id", g).collect()
            )
            assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_lm_self_scoring_matches_explicit_train(spark, text_docs):
    """lm_score(docs) (derived model, single tokenize pass) must equal
    lm_score(docs, train=docs) (independent model build)."""
    from document_parser_private_spark.operators.lm import lm_score

    d = text_docs.limit(40)
    a = {tuple(r) for r in lm_score(d).collect()}
    b = {tuple(r) for r in lm_score(d, train=d).collect()}
    assert a == b


def test_repetition_stats_matches_agg_form(spark, tricky_inputs,
                                           text_docs):
    """The one-pass Arrow repetition_stats must equal the relational
    lines/grams/join formulation it replaced — including round-6
    HALF_UP fractions, the tie-broken top bigram, and empty docs."""
    extra = spark.createDataFrame(
        [(100, "dup line\ndup line\nuniq\n\ndup line"),
         (101, "a b a b a b"),
         (102, "x y\nx y\nx y"),
         (103, "één twee één twee")],
        "doc_id long, text string")
    for df in (*tricky_inputs, text_docs, extra):
        got = sorted(map(tuple, repetition_stats(df).collect()))
        want = sorted(map(tuple, _repetition_stats_agg_form(df).collect()))
        assert got == want


def _repetition_stats_agg_form(df: DataFrame, text_col: str = "text",
                               id_col: str = "doc_id") -> DataFrame:
    """The pre-r6 relational formulation, kept as the parity reference
    for tests/test_batch_builders.py (same values by construction)."""
    did = F.col(id_col)
    t = F.col(text_col)
    lines = df.select(
        did,
        F.explode(
            F.filter(F.split(t, "\n", -1), lambda x: F.length(x) > 0)
        ).alias("line"),
    )
    per_line = lines.groupBy(did, F.col("line")).agg(
        F.count("*").alias("cnt")
    )
    line_stats = per_line.groupBy(did).agg(
        F.sum("cnt").alias("n_lines"),
        F.count("*").alias("n_distinct"),
        F.sum(F.col("cnt") * F.length("line")).alias("chars_all"),
        F.sum(F.length("line")).alias("chars_distinct"),
    )
    grams = _ngram_rows_arrow(
        df.select(id_col, text_col), 2, id_col, text_col, hashed=False,
    )
    per_gram = grams.groupBy(did, F.col("gram")).agg(
        F.count("*").alias("cnt")
    )
    gram_stats = per_gram.groupBy(did).agg(
        F.min(F.struct((-F.col("cnt")).alias("neg"),
                       F.col("gram").alias("gram"))).alias("top"),
        F.sum("cnt").alias("n_bigrams"),
    ).select(
        did,
        F.col("top.gram").alias("top_bigram"),
        (-F.col("top.neg")).alias("top_cnt"),
        F.col("n_bigrams"),
    )

    base = df.select(did)
    out = (
        base.join(line_stats, id_col, "left")
        .join(gram_stats, id_col, "left")
    )
    nl = F.coalesce(F.col("n_lines"), F.lit(0)).cast("long")
    ca = F.coalesce(F.col("chars_all"), F.lit(0)).cast("double")
    return out.select(
        did,
        nl.alias("n_lines"),
        F.round(
            (nl - F.coalesce(F.col("n_distinct"), F.lit(0))).cast("double")
            / F.greatest(nl.cast("double"), F.lit(1.0)), 6
        ).alias("dup_line_frac"),
        F.round(
            (ca - F.coalesce(F.col("chars_distinct"), F.lit(0)))
            / F.greatest(ca, F.lit(1.0)), 6
        ).alias("dup_line_char_frac"),
        F.coalesce(F.col("top_bigram"), F.lit("")).alias("top_bigram"),
        F.round(
            F.coalesce(F.col("top_cnt"), F.lit(0)).cast("double")
            / F.greatest(F.coalesce(F.col("n_bigrams"), F.lit(0))
                         .cast("double"), F.lit(1.0)), 6
        ).alias("top_bigram_frac"),
    )

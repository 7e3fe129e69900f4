"""Corpus n-gram language-model scoring (CCNet-style quality signal).

Trains an add-k-smoothed bigram LM on a (possibly different) reference
corpus with one pass of codegen aggregations, then scores each document
by its mean bigram log-probability and pseudo-perplexity:

  P(w2 | w1)  = (c2(w1,w2) + k) / (c1(w1) + k * V)
  avg_logp(d) = sum over d's bigrams of ln P / n_bigrams(d)
  ppl(d)      = exp(-avg_logp)

Low avg_logp (high ppl) = text unlike the reference corpus — the
classic filter for boilerplate/gibberish vs in-domain prose.

Scale shape: doc bigrams collapse to (doc, w1, w2, cnt) BEFORE any
join (the per-doc distinct-bigram table, orders of magnitude smaller
than token occurrences); the model tables are collapsed global counts
joined on (w1, w2) and (w1) — both bounded by vocabulary size, the
Zipf head being AQE skew-join territory; V rides a 1-row broadcast.
Past the one map_docs pass that counts each doc's bigrams, everything
is whole-stage codegen.

Reference scope note: the reference engine has no LM scoring
(verified); beyond-reference training-data tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .batch import map_docs, tokens

LM_K = 0.5  # add-k smoothing mass


def _doc_bigram_counts(df: DataFrame, id_col: str,
                       text_col: str) -> DataFrame:
    """(_id, w1, w2, cnt) — per-doc collapsed bigram counts in ONE
    map_docs pass (guide §4.2): replaces the interpreted HOF transform
    + explode + groupBy(doc, w1, w2) hash agg; counts are exact by
    construction (a doc's tokens never split across batches) and the
    first exchange carries already-collapsed rows. Token contract:
    lowercased `tokens` (ASCII whitespace split, PLANS.md §8) — case
    folding stays native upstream."""
    from collections import Counter

    def per_doc(tx):
        t = tokens(tx)
        c = Counter(zip(t, t[1:]))
        return [w1 for w1, _ in c], [w2 for _, w2 in c], c.values()

    return map_docs(
        df.select(F.col(id_col).alias("_id"),
                  F.lower(F.col(text_col)).alias("_lt")),
        "_id", "_lt", "w1 string, w2 string, cnt long", per_doc)


def lm_score(
    docs: DataFrame,
    train: DataFrame | None = None,
    k: float = LM_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score each doc under a bigram LM trained on `train` (defaults to
    `docs` itself — corpus self-scoring). Returns (id, n_bigrams,
    avg_logp round 6, ppl round 4); docs with < 2 tokens score NULL
    avg_logp and ppl with n_bigrams = 0."""
    self_scoring = train is None
    db = _doc_bigram_counts(docs, id_col, text_col)
    if self_scoring:
        # Corpus self-scoring: the model counts are EXACTLY the per-doc
        # table re-aggregated — c2(w1,w2) = sum(cnt), c1(w1) = sum over
        # w2, V = |distinct w1|. The previous shape tokenized the corpus
        # twice more (tb for c2, tb again for c1 — no cross-branch CSE,
        # CLAUDE.md); deriving everything from one persisted collapsed
        # table is one tokenize pass instead of three, and the model
        # aggs run over vocab^2-bounded rows (guide §2.3/§2.4).
        db = db.persist()
        c2 = db.groupBy("w1", "w2").agg(F.sum("cnt").alias("c2")).persist()
        c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
        v = c1.agg(F.count(F.lit(1)).alias("v"))
    else:
        tb = _doc_bigram_counts(train, id_col, text_col)
        c2 = tb.groupBy("w1", "w2").agg(F.sum("cnt").alias("c2"))
        c1 = tb.groupBy("w1").agg(F.sum("cnt").alias("c1"))
        v = c1.agg(F.count(F.lit(1)).alias("v"))
    scored = (
        db.join(c2, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .crossJoin(F.broadcast(v))
        .select(
            "_id",
            "cnt",
            (
                F.log(
                    (F.coalesce("c2", F.lit(0)) + F.lit(k))
                    / (F.coalesce("c1", F.lit(0)) + F.lit(k) * F.col("v"))
                )
                * F.col("cnt")
            ).alias("lp"),
        )
    )
    agg = scored.groupBy("_id").agg(
        F.sum("cnt").alias("n_bigrams"), F.sum("lp").alias("slp")
    )
    avg = F.col("slp") / F.col("n_bigrams")
    out = (
        docs.select(F.col(id_col).alias("_id"))
        .join(agg, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias(
                "n_bigrams"
            ),
            F.round(avg, 6).alias("avg_logp"),
            F.round(F.exp(-avg), 4).alias("ppl"),
        )
    )
    if self_scoring:
        # Eager checkpoint cuts lineage back past db/c2 so the caches
        # can be released here instead of leaking for the session
        # (the pagerank pattern, PLANS.md §21).
        try:
            out = out.localCheckpoint()
        finally:
            c2.unpersist()
            db.unpersist()
    return out


def ngram_counts(df: DataFrame, n: int = 3, min_count: int = 2,
                 id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Corpus-level token n-gram count table (the raw material for
    count-based LM training, contamination screens, and template
    mining): every lowercase token n-gram occurring >= min_count times,
    with its total occurrence count and document frequency.

    Emits (gram, n_occurrences, n_docs) — gram is the space-joined
    token window.

    Scale shape: one counted map_docs pass (trainprep's
    _ngram_rows_arrow) tokenizes each doc once and emits its distinct
    grams as (doc, gram, cnt) rows, so the single exchange carries one
    row per (gram, doc), bounded by doc length — document frequency
    comes from the same collapsed table, never a distinct over raw
    occurrences. min_count pruning happens after the final agg, which
    collapses the Zipf tail map-side before the shuffle.
    """
    # gram rows ride the shared map_docs builder (trainprep): the
    # interpreted transform(slice+array_join) per gram was this
    # operator's dominant cost at 50k docs. Case folding stays NATIVE
    # (lower() before the boundary) so the engine lowercase contract
    # is unchanged.
    from .trainprep import _ngram_rows_arrow
    # counted=True collapses to (doc, gram, cnt) at the source — the
    # first groupBy(id, gram) hash agg disappears entirely (guide §2.3).
    per_doc = _ngram_rows_arrow(
        df.select(F.col(id_col).alias("_id"),
                  F.lower(F.col(text_col)).alias("_t")),
        n, "_id", "_t", hashed=False, counted=True,
    )
    return (
        per_doc.groupBy("gram")
        .agg(
            F.sum("cnt").alias("n_occurrences"),
            F.count("*").alias("n_docs"),
        )
        .where(F.col("n_occurrences") >= min_count)
        .select(
            "gram",
            F.col("n_occurrences").cast("long").alias("n_occurrences"),
            F.col("n_docs").cast("long").alias("n_docs"),
        )
    )

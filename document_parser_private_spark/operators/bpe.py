"""Deterministic byte-pair-encoding tokenizer (subword tokens).

Training pipelines budget text in MODEL tokens, not regex words; this
module provides the subword path the regex pre-tokenizer count
(textstats.with_textstats `bpe_tokens`) stands in for:

  bpe_encode_words — apply a merges table to a vocabulary of words
                     (canonical priority merging: repeatedly merge the
                     lowest-rank adjacent pair, leftmost on ties, until
                     no pair is in the table — the GPT-2/sentencepiece
                     encode order, Sennrich et al. 2016).
  bpe_token_counts — per-doc subword counts: tokenize to words, encode
                     each DISTINCT word once, broadcast-join the counts
                     back. Encode cost scales with the vocabulary, not
                     the corpus — the 100 TB shape (a few million
                     distinct words no matter how many petabytes of
                     text reference them).
  bpe_learn        — learn a merges table from a corpus: the classic
                     greedy loop, but each iteration shuffles only the
                     weighted VOCAB table (word, count, syms), never
                     the corpus; the argmax pair is the only driver
                     scalar per iteration (same pattern as ivf_topk's
                     centroid collect).

Everything is native Column expressions (no Python UDFs): the encode is
a bounded aggregate() fold (≤ min(len-1, 63) steps, each a one-pass
rank scan), with every reused subexpression bound once via bind_once
(PLANS.md §5 — HOF lambdas re-evaluate free subtrees per element).

Determinism contract (mirrored by the DuckDB twin in __spark_entry__):
  * words longer than max_word_len (64) are NOT encoded — they count as
    ONE opaque symbol. This is the self-enforcing bound that keeps the
    per-word fold O(max_word_len²) even on base64 blobs / URL runs.
  * at most 63 merges apply per word (the fold length); a ≤64-char word
    can need at most 63, so the cap only rules out pathological inputs.
  * ties in bpe_learn break on (count desc, left asc, right asc).

No reference analogue (beyond-reference training-data tier; the
reference's tokenization is whitespace/regex only, see
reference resume_parser/text_cleaner.py heuristics).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.bind import bind_once
from .textstats import WORD_RE

MAX_WORD_LEN = 64
_NO_MERGE = 1 << 30  # rank sentinel: "pair not in table"

# Static default merges (rank order): common English digraph/suffix
# merges. A deterministic public-knowledge table so driver queries and
# twins share one source of truth; real deployments pass a learned one.
DEFAULT_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"), ("a", "n"),
    ("r", "e"), ("o", "n"), ("a", "t"), ("e", "n"), ("o", "r"),
    ("e", "s"), ("s", "t"), ("a", "r"), ("o", "u"), ("in", "g"),
    ("an", "d"), ("t", "o"), ("i", "s"), ("i", "t"), ("a", "l"),
    ("l", "e"), ("c", "o"), ("d", "e"), ("m", "e"), ("n", "t"),
    ("r", "o"), ("l", "i"), ("er", "s"), ("th", "at"), ("f", "or"),
    ("s", "e"), ("u", "r"), ("c", "h"), ("o", "f"), ("w", "h"),
    ("p", "a"), ("c", "a"), ("m", "a"), ("d", "i"), ("b", "e"),
)


def _merge_rank_map(merges: list[tuple[str, str]]) -> Column:
    """MAP literal 'left right' -> rank (1-based); the broadcast dim
    embedded plan-side (same plan-time-literal move as similarity's
    hyperplanes, PLANS.md §18)."""
    kv: list[Column] = []
    for rank, (left, right) in enumerate(merges, start=1):
        kv.append(F.lit(f"{left} {right}"))
        kv.append(F.lit(rank))
    return F.create_map(*kv)


def bpe_syms_col(word: Column, merges: list[tuple[str, str]],
                 max_word_len: int = MAX_WORD_LEN) -> Column:
    """array<string> of subword symbols for one word (see module
    contract). Pure Column expression; bounded fold."""
    rank_map = _merge_rank_map(merges)

    def step(acc: Column, _: Column) -> Column:
        ranks_expr = F.transform(
            F.sequence(F.lit(1), F.size(acc) - 1),
            lambda i: F.coalesce(
                F.element_at(
                    rank_map,
                    F.concat(F.element_at(acc, i), F.lit(" "),
                             F.element_at(acc, i + 1)),
                ),
                F.lit(_NO_MERGE),
            ),
        )

        def with_ranks(ranks: Column) -> Column:
            def with_pos(pos: Column) -> Column:
                return F.concat(
                    F.slice(acc, 1, pos - 1),
                    F.array(F.concat(F.element_at(acc, pos),
                                     F.element_at(acc, pos + 1))),
                    F.slice(acc, pos + 2, F.size(acc)),
                )

            best = F.array_min(ranks)
            return F.when(
                best < _NO_MERGE,
                bind_once(F.array_position(ranks, best).cast("int"),
                          with_pos),
            ).otherwise(acc)

        return bind_once(ranks_expr, with_ranks)

    chars = F.split(word, "")
    folded = F.aggregate(
        F.sequence(F.lit(1), F.least(F.size(chars) - 1, F.lit(63))),
        chars,
        step,
    )
    return (
        F.when(F.length(word) > max_word_len, F.array(word))
        .when(F.size(chars) < 2, chars)
        .otherwise(folded)
    )


def bpe_encode_words(words: DataFrame,
                     merges: list[tuple[str, str]] | None = None,
                     word_col: str = "word") -> DataFrame:
    """Add (bpe_syms array<string>, n_bpe long) to a word table."""
    merges = list(merges if merges is not None else DEFAULT_MERGES)
    syms = bpe_syms_col(F.col(word_col), merges)
    return words.withColumn("bpe_syms", syms) \
                .withColumn("n_bpe", F.size("bpe_syms").cast("long"))


def bpe_token_counts(df: DataFrame,
                     merges: list[tuple[str, str]] | None = None,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-doc model-token budget: (id, n_words, n_bpe).

    Words are the lowercased ASCII-token-contract extraction
    (textstats.WORD_RE). Each DISTINCT word is encoded once; the per-word
    subword count joins back to the (doc, word, occurrences) table and
    sums per doc. The vocab side of that join is small by Heaps' law —
    broadcastable at any corpus size that fits a real vocabulary."""
    merges = list(merges if merges is not None else DEFAULT_MERGES)
    # The JVM explode+groupBy form is kept deliberately: an interleaved
    # A/B against the shared Arrow counter at sf0.1 AND the 10x timing
    # dir showed the Arrow pass cost-neutral per row here (the encode
    # fold over the distinct vocab dominates, not tokenization), so the
    # JVM form wins wherever the scan is already parallel and ties
    # elsewhere (OPTIMIZATION_r06.md).
    doc_words = (
        df.select(
            F.col(id_col),
            F.explode(
                F.regexp_extract_all(F.lower(F.col(text_col)),
                                     F.lit(WORD_RE), F.lit(0))
            ).alias("word"),
        )
        .groupBy(id_col, "word")
        .agg(F.count(F.lit(1)).alias("occ"))
    )
    vocab = bpe_encode_words(doc_words.select("word").distinct(), merges)
    return (
        doc_words.join(F.broadcast(vocab.select("word", "n_bpe")), "word")
        .groupBy(id_col)
        .agg(
            F.sum("occ").cast("long").alias("n_words"),
            F.sum(F.col("occ") * F.col("n_bpe")).cast("long").alias("n_bpe"),
        )
    )


def _scan_merge(syms: Column, left: str, right: str) -> Column:
    """One left-to-right non-overlapping merge pass of (left, right) —
    the training-time apply (every occurrence merges, a merged symbol
    doesn't re-match as LEFT of the same pass)."""
    def fold(out: Column, s: Column) -> Column:
        tail_matches = (
            (F.size(out) > 0)
            & (F.element_at(out, -1) == F.lit(left))
            & (s == F.lit(right))
        )
        return F.when(
            tail_matches,
            F.concat(F.slice(out, 1, F.size(out) - 1),
                     F.array(F.lit(left + right))),
        ).otherwise(F.concat(out, F.array(s)))

    return F.aggregate(
        syms, F.array().cast("array<string>"), fold
    )


def bpe_learn(df: DataFrame, n_merges: int = 40,
              text_col: str = "text",
              max_word_len: int = MAX_WORD_LEN) -> list[tuple[str, str]]:
    """Learn a merges table: n_merges greedy iterations of
    most-frequent adjacent pair over the occurrence-weighted vocabulary.

    Scale shape: the corpus is read ONCE to build (word, count); every
    iteration thereafter shuffles only the vocab (pairs explode ->
    groupBy -> 1-row argmax collect -> scan-merge applied to syms).
    Lineage is truncated per iteration (the fold plan would otherwise
    nest n_merges transforms deep). Ties break (count desc, left asc,
    right asc) so the result is rerun-identical."""
    vocab = (
        df.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col(text_col)),
                                     F.lit(WORD_RE), F.lit(0))
            ).alias("word")
        )
        .where(F.length("word") <= max_word_len)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("cnt", F.split("word", "").alias("syms"))
        .localCheckpoint()
    )
    merges: list[tuple[str, str]] = []
    try:
        for _ in range(n_merges):
            pair_counts = (
                vocab.where(F.size("syms") >= 2)
                .select(
                    "cnt",
                    F.explode(
                        F.transform(
                            F.sequence(F.lit(1), F.size("syms") - 1),
                            lambda i: F.struct(
                                F.element_at(F.col("syms"), i).alias("l"),
                                F.element_at(F.col("syms"), i + 1).alias("r"),
                            ),
                        )
                    ).alias("p"),
                )
                .groupBy("p.l", "p.r")
                .agg(F.sum("cnt").alias("n"))
            )
            top = pair_counts.orderBy(
                F.desc("n"), F.asc("l"), F.asc("r")
            ).limit(1).collect()
            if not top or top[0]["n"] <= 1:
                break
            left, right = top[0]["l"], top[0]["r"]
            merges.append((left, right))
            nxt = vocab.select(
                "cnt", _scan_merge(F.col("syms"), left, right).alias("syms")
            ).localCheckpoint()
            vocab.unpersist()
            vocab = nxt
    finally:
        vocab.unpersist()
    return merges

"""Training-data preparation operators: repetition signals,
benchmark decontamination, and token-window chunking.

These cover the remaining curation steps a pretraining pipeline runs
between dedup and tokenization (reference scope: the corpus-level
analytics the reference's pipeline feeds its training exporter;
quality/sampling live in operators/curation.py):

  repetition_stats  — Gopher-style repetition signals (Rae et al. 2021
                      §A1.1): duplicate-line fraction, duplicate-line
                      character fraction, and the most frequent token
                      bigram with its share of all bigrams. Repetitious
                      documents are the strongest single predictor of
                      low-quality web text.
  decontaminate     — n-gram overlap against a benchmark/eval table
                      (the standard train-test contamination check):
                      a document is contaminated when it shares any
                      token n-gram with any benchmark sample.
  chunk_documents   — split each document into fixed-size token windows
                      with overlap (context-window packing prep).

Scale shape (100 TB posture):
  - repetition_stats: ONE map_docs pass (operators/batch.py), zero
    shuffles — every signal is a per-doc integer count, so line and
    bigram Counters and the argmax run next to the tokenizer.
  - decontaminate: both gram streams come from map_docs passes; the
    benchmark side is grams-distinct and BROADCAST (benchmarks are tiny
    relative to the corpus); the corpus side is a narrow broadcast-hash
    left join -> one doc_id-keyed count, map-side partial per doc. No
    corpus-sized shuffle; every doc keeps its row from the one pass.
  - chunk_documents: zero shuffles — tokens are bound ONCE per row
    (functions/bind.bind_once, avoiding the per-element re-eval cliff),
    chunk structs are built in a single transform(), and the explode
    emits each chunk's tokens exactly once (no per-chunk duplication of
    the full token array).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.bind import bind_once
from .batch import map_docs, round6, tokens
from .textstats import WORD_RE

__all__ = ["repetition_stats", "decontaminate", "chunk_documents",
           "pack_sequences", "cluster_split", "duplicated_substrings"]


def repetition_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-document repetition signals.

    Emits, per doc:
      n_lines             — count of non-empty lines
      dup_line_frac       — (n_lines - distinct_lines) / n_lines
      dup_line_char_frac  — chars in repeated line occurrences beyond
                            the first, over all line chars
      top_bigram          — most frequent token bigram (ties -> the
                            lexicographically smallest), '' if < 2 tokens
      top_bigram_frac     — occurrences(top_bigram) / total bigrams

    Docs with no non-empty lines get zeros ('' for top_bigram).

    ONE map_docs pass: every signal is per-doc and the counts are
    integers, so line Counters, bigram Counters and the argmax all ride
    the same batch crossing. Value contracts: split on '\\n' only (not
    splitlines), char counts via len() == Spark length(), the bigram
    tie-break compares the joined 'w1 w2' strings (as the DuckDB twin
    does) in UTF-8 byte order == Python code-point order, and the
    fractions use round6 (Spark round(x, 6)).
    """
    from collections import Counter

    def per_doc(tx):
        lines = Counter(ln for ln in tx.split("\n") if ln)
        n_lines = sum(lines.values())
        n_distinct = len(lines)
        chars_all = sum(c * len(ln) for ln, c in lines.items())
        chars_distinct = sum(len(ln) for ln in lines)
        t = tokens(tx)
        bg = Counter(zip(t, t[1:]))
        n_bigrams = sum(bg.values())
        if bg:
            neg, top_bigram = min(
                (-c, f"{w1} {w2}") for (w1, w2), c in bg.items())
            top_cnt = -neg
        else:
            top_bigram, top_cnt = "", 0
        return (
            [n_lines],
            [round6(float(n_lines - n_distinct) / max(float(n_lines), 1.0))],
            [round6((float(chars_all) - chars_distinct)
                    / max(float(chars_all), 1.0))],
            [top_bigram],
            [round6(float(top_cnt) / max(float(n_bigrams), 1.0))],
        )

    return map_docs(
        df, id_col, text_col,
        "n_lines long, dup_line_frac double, dup_line_char_frac double, "
        "top_bigram string, top_bigram_frac double",
        per_doc,
    )


def _ngram_rows_arrow(df: DataFrame, n: int, id_col: str, text_col: str,
                      hashed: bool = True,
                      counted: bool = False) -> DataFrame:
    """(id, gram) rows via ONE map_docs pass — the shared n-gram
    builder. A gram is n space-joined `tokens`; hashed=True emits its
    hashlib md5 hex (== Spark md5 on UTF-8 bytes) as `gh`. Case folding
    is NOT done here — lower() the text column natively upstream so the
    engine contract for case stays in one place.

    counted=True emits (id, gram, cnt) — one row per DISTINCT gram per
    doc with its occurrence count, exactly groupBy(id, gram).count()
    collapsed at the source, so consumers skip that whole first
    hash-agg (guide §2.3)."""
    import hashlib
    from collections import Counter

    def per_doc(tx):
        t = tokens(tx)
        grams = [" ".join(t[i:i + n]) for i in range(len(t) - (n - 1))]
        if counted:
            c = Counter(grams)
            grams, cnt = list(c), c.values()
        if hashed:
            grams = [hashlib.md5(g.encode()).hexdigest() for g in grams]
        return (grams, cnt) if counted else (grams,)

    out_ddl = ("gh" if hashed else "gram") + " string" + (
        ", cnt long" if counted else "")
    return map_docs(df, id_col, text_col, out_ddl, per_doc)


def decontaminate(df: DataFrame, benchmark: DataFrame, n: int = 8,
                  text_col: str = "text", id_col: str = "doc_id",
                  bench_text_col: str = "text") -> DataFrame:
    """Train-test contamination check: per corpus document, the number
    of distinct token n-grams it shares with ANY benchmark sample, plus
    the boolean verdict. Filter `WHERE NOT contaminated` (or join back)
    to decontaminate a training corpus against an eval set.

    The benchmark gram set is deduplicated and broadcast — the corpus
    side never shuffles its text, only (doc_id, gram-hash) pairs. Each
    doc's distinct gram hashes come from one map_docs pass; a doc with
    fewer than n tokens (null text included) emits one null hash, so a
    left join to the benchmark set and one doc_id-keyed count of the
    benchmark side keep every doc, silent ones at zero hits."""
    import hashlib

    # both gram streams ride map_docs — the interpreted per-gram md5 HOF
    # was the operator's dominant cost (the bench side keys by a
    # constant since only the gram set matters).
    bench_grams = (
        _ngram_rows_arrow(
            benchmark.select(F.lit(0).alias("_b"),
                             F.col(bench_text_col).alias("_t")),
            n, "_b", "_t",
        ).select(F.col("gh").alias("_bgh")).distinct()
    )

    def per_doc(tx):
        t = tokens(tx)
        grams = dict.fromkeys(" ".join(t[i:i + n])
                              for i in range(len(t) - (n - 1)))
        return ([hashlib.md5(g.encode()).hexdigest() for g in grams]
                or [None],)

    return (
        map_docs(df, id_col, text_col, "gh string", per_doc)
        .join(F.broadcast(bench_grams), F.col("gh") == F.col("_bgh"), "left")
        .groupBy(id_col)
        .agg(F.count("_bgh").alias("n_hits"))
        .withColumn("contaminated", F.col("n_hits") > 0)
    )


def chunk_documents(df: DataFrame, chunk_tokens: int = 128,
                    overlap: int = 32, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Split each document into fixed-size token windows with overlap
    (training-sequence prep). Chunk i covers tokens
    [i*step, i*step + chunk_tokens) with step = chunk_tokens - overlap;
    the last chunk may be short but is never empty; docs with zero
    tokens emit zero chunks. chunk_text is the space-joined token
    window (whitespace-normalized by construction).

    Zero shuffles: tokens bind once per row, chunks materialize through
    a single transform + explode.
    """
    assert 0 <= overlap < chunk_tokens, "need 0 <= overlap < chunk_tokens"
    step = chunk_tokens - overlap
    chunk_structs = bind_once(
        F.regexp_extract_all(F.col(text_col), F.lit(WORD_RE), F.lit(0)),
        lambda toks: F.transform(
            F.sequence(
                F.lit(0),
                F.when(F.size(toks) <= chunk_tokens, F.lit(0)).otherwise(
                    F.ceil(
                        (F.size(toks) - F.lit(chunk_tokens)).cast("double")
                        / F.lit(float(step))
                    )
                ).cast("int"),
            ),
            lambda i: F.struct(
                i.cast("long").alias("chunk_idx"),
                F.slice(toks, i * step + 1, chunk_tokens).alias("ctoks"),
            ),
        ),
    )
    exploded = (
        df.select(F.col(id_col), F.explode(chunk_structs).alias("c"))
        .where(F.size("c.ctoks") > 0)
    )
    return exploded.select(
        F.col(id_col),
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.size("c.ctoks").cast("long").alias("n_tokens"),
        F.array_join("c.ctoks", " ").alias("chunk_text"),
    )


def pack_sequences(chunks: DataFrame, budget_tokens: int = 512,
                   id_col: str = "doc_id", idx_col: str = "chunk_idx",
                   tok_col: str = "n_tokens") -> DataFrame:
    """Greedy sequence packing: assign each document's chunks (in
    chunk_idx order) to fixed-token-budget training sequences — a chunk
    that would overflow the running sequence starts the next one; an
    oversized chunk (n_tokens > budget) gets a sequence of its own.
    Emits (id, chunk_idx, n_tokens, seq_id, seq_pos) with seq_id and
    seq_pos both 0-based per document.

    Packing is inherently sequential PER DOCUMENT (the classic
    training-prep step between chunking and batch assembly), so the
    fold runs inside one aggregate() over the per-doc chunk array:
    one shuffle on doc_id (collect_list with map-side partials),
    everything else narrow. The interpreted-HOF cost (PLANS.md §5) is
    bounded by chunks-per-doc — tiny — and the quadratic array append
    in the fold is over the same small k. Cross-document packing is
    deliberately NOT offered: it would impose a total order on the
    corpus (a driver-side bottleneck at scale) for no training benefit
    over per-doc packing + shuffled batch assembly.
    """
    entry_t = "array<struct<idx:bigint,n:bigint,seq:bigint,pos:bigint>>"
    per_doc = chunks.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(idx_col).cast("long").alias("idx"),
                    F.col(tok_col).cast("long").alias("n"),
                )
            )
        ).alias("ch")
    )
    B = F.lit(budget_tokens)

    def merge(acc, x):
        roll = (acc["used"] > 0) & (acc["used"] + x["n"] > B)
        seq = F.when(roll, acc["seq"] + 1).otherwise(acc["seq"])
        pos = F.when(roll | (acc["used"] == 0), F.lit(0)).otherwise(
            acc["pos"] + 1
        )
        used = F.when(roll, x["n"]).otherwise(acc["used"] + x["n"])
        entry = F.struct(
            x["idx"].alias("idx"), x["n"].alias("n"),
            seq.alias("seq"), pos.alias("pos"),
        )
        return F.struct(
            seq.cast("long").alias("seq"),
            used.cast("long").alias("used"),
            pos.cast("long").alias("pos"),
            F.concat(acc["out"], F.array(entry)).alias("out"),
        )

    packed = per_doc.select(
        F.col(id_col),
        F.explode(
            F.aggregate(
                "ch",
                F.struct(
                    F.lit(0).cast("long").alias("seq"),
                    F.lit(0).cast("long").alias("used"),
                    F.lit(0).cast("long").alias("pos"),
                    F.array().cast(entry_t).alias("out"),
                ),
                merge,
                lambda acc: acc["out"],
            )
        ).alias("e"),
    )
    return packed.select(
        F.col(id_col),
        F.col("e.idx").alias(idx_col),
        F.col("e.n").alias(tok_col),
        F.col("e.seq").alias("seq_id"),
        F.col("e.pos").alias("seq_pos"),
    )


def cluster_split(df: DataFrame, val_frac: float = 0.1,
                  cluster_col: str = "cluster_id",
                  key_col: str = "doc_id") -> DataFrame:
    """Contamination-safe train/validation split: the split is decided
    per near-dup CLUSTER, not per document, so a validation document
    can never have a near-duplicate in the training set (splitting
    rows independently leaks every duplicated document across the
    boundary — the standard eval-inflation bug).

    Deterministic like stratified_sample: split = 'val' iff the md5
    sample bucket of the cluster id < val_frac * buckets. No RNG —
    rerun-identical and resume-safe; adding documents to a cluster
    never flips the cluster's side.

    Scale shape: one codegen projection over (doc, cluster) — the
    cluster assignment itself comes from dedup_clusters (min-label
    propagation); this adds NO shuffle on top of it.
    """
    from .curation import SAMPLE_BUCKETS, sample_bucket_col

    cut = int(val_frac * SAMPLE_BUCKETS)
    return df.select(
        key_col, cluster_col,
        F.when(sample_bucket_col(F.col(cluster_col)) < F.lit(cut),
               F.lit("val")).otherwise(F.lit("train")).alias("split"),
    )


def duplicated_substrings(df: DataFrame, n: int = 10,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Substring-level duplication signal (public paper: Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better",
    ACL): a token n-gram window is DUPLICATED when the identical
    window occurs anywhere else in the corpus (another doc or the same
    doc again); per document, overlapping duplicated windows merge into
    maximal duplicated regions and the output reports how much of the
    document they cover. Document-level dedup (exact/MinHash) misses
    exactly this: a unique page quoting a boilerplate paragraph.

    Output per doc: n_tokens, n_windows, n_dup_windows, n_dup_regions,
    dup_tokens (tokens covered by merged duplicated regions),
    dup_token_frac. Docs with < n tokens report zero windows.

    Scale shape (100 TB posture): windows travel as (doc_id, pos,
    md5-hash) — never text, from one map_docs pass; the occurrence
    count and dup flag come from one gh-partitioned window count (a
    single gh exchange). Region merging is classic gaps-and-islands
    over (doc, pos) — one doc-keyed window sort, then codegen
    aggregates. Nothing is ever quadratic and no per-doc state leaves
    its partition.
    """
    toks = F.regexp_extract_all(F.col(text_col), F.lit(WORD_RE), F.lit(0))
    base = df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
    )
    # Window build: one map_docs pass (tokenize + n-gram join + md5 per
    # Arrow batch), NOT a higher-order transform(slice+concat_ws+md5 per
    # position). The HOF tree is interpreted (PLANS.md §5) and profiled
    # as ~100% of this operator's cost at 50k docs; measured A/B at 50k
    # docs/32 cores: HOF 8.9 s, HOF-with-md5-after-explode 7.9 s, 9x
    # window-lead build 27.8 s, batch pass 2.9 s — all four
    # bit-identical (exceptAll() empty both ways).
    import hashlib

    def windows(tx):
        t = tokens(tx)
        pos = range(len(t) - (n - 1))
        return pos, [
            hashlib.md5(" ".join(t[i:i + n]).encode()).hexdigest()
            for i in pos]

    wins = map_docs(df, id_col, text_col, "pos int, gh string", windows)
    # Duplicate flag via a gh-partitioned window count, NOT a
    # groupBy(gh)+self-join: the join form references `wins` twice and
    # Catalyst recomputes the window-hash subtree per reference
    # (PLANS.md §21). One gh exchange replaces the agg + join exchanges.
    from pyspark.sql import Window
    wg = Window.partitionBy("gh")
    dup = (
        wins.withColumn("_occ", F.count(F.lit(1)).over(wg))
        .where(F.col("_occ") >= 2).drop("_occ")
    )

    wd = Window.partitionBy(id_col).orderBy("pos")
    flagged = dup.select(
        id_col, "pos",
        F.when(
            F.lag("pos").over(wd).isNull()
            | (F.col("pos") - F.lag("pos").over(wd) > n),
            F.lit(1),
        ).otherwise(F.lit(0)).alias("_new"),
    )
    rid = flagged.select(
        id_col, "pos",
        F.sum("_new").over(
            wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("_rid"),
    )
    regions = rid.groupBy(id_col, "_rid").agg(
        F.min("pos").alias("_s"), F.max("pos").alias("_e"),
        F.count(F.lit(1)).alias("_cnt"),
    )
    # n_dup_windows folded into the region rollup (sum of per-region
    # window counts == count of dup windows) — the separate
    # dup.groupBy(id) branch re-derived the whole dup subtree again.
    per_doc = regions.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_regions"),
        F.sum(F.col("_e") - F.col("_s") + n).alias("dup_tokens"),
        F.sum("_cnt").alias("n_dup_windows"),
    )
    return (
        base.select(
            id_col, "n_tokens",
            F.greatest(F.col("n_tokens") - (n - 1), F.lit(0))
            .cast("long").alias("n_windows"),
        )
        .join(per_doc, id_col, "left")
        .select(
            id_col, "n_tokens", "n_windows",
            F.coalesce("n_dup_windows", F.lit(0)).cast("long")
            .alias("n_dup_windows"),
            F.coalesce("n_dup_regions", F.lit(0)).cast("long")
            .alias("n_dup_regions"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long")
            .alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0))
                / F.greatest(F.col("n_tokens"), F.lit(1)),
                6,
            ).alias("dup_token_frac"),
        )
    )

"""Text-analysis operators for large-scale training-data pipelines.

Production shapes, each with a DuckDB-SQL twin in __spark_entry__ for
the correctness oracle:
  with_textstats — all five per-doc statistics below in ONE mapInArrow
                   pass (pyarrow.compute RE2 over whole columns)
  simhash_agg    — ONE mapInArrow pass (operators/batch.map_docs) with a
                   per-doc numpy bit vote over token hashes
  lexical_stats  — (doc, token, cnt) rows from one map_docs pass, then
                   codegen aggregates
The native *_col expressions stay exported for composition.

Deterministic formulas (authoritative definitions for this engine):
  tokens         — count of WORD_RE runs (ASCII-whitespace split)
  bpe_tokens     — count of [A-Za-z]+ | [0-9]+ | single other non-space
                   (BPE-ish pre-tokenizer regex)
  quality_score  — 0.4*min(words/100,1) + 0.3*min(5*stop_hits/words,1)
                   + 0.3*(1 - min(4*punct/chars,1)), rounded to 6
  lang_guess     — argmax of per-language marker-word hit counts,
                   priority en>de>fr>es>zh on ties, 'und' when all zero
  fingerprint    — md5 of lowercased whitespace-normalized text
  simhash        — 60-bit count-weighted majority vote over md5-derived
                   token hashes (simhash_agg)
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..semantics import PY_WS_JRE, PY_WS_JRE_INNER
from .batch import forget_zip_importers, map_docs, pylist, round6, tokens

# Tokenization whitespace for the textstats/dedup token contracts is the
# explicit ASCII set below, identical in Java regex and RE2 (engine-native
# \s differs between them on \x0b). This is a SELF-DEFINED contract, not a
# Python-parity surface, and the choice is deliberate perf: a character
# class containing >0xFF codepoints drops Java's regex engine off its
# ASCII fast path — measured 1.9x slower across the token/bpe/punct
# extracts at sf0.1 (interleaved A/B with a since-retired probe; the
# explicit ASCII class is within ~15% of bare \s). The full
# Python-whitespace class (semantics.PY_WS_JRE) is kept ONLY where
# Python-parity is the contract: classify trim/split (golden span
# equality) and fingerprint (dedup keys stable vs Python str.split()).
TOKEN_WS_INNER = r"\x{9}-\x{d}\x{20}"
WORD_RE = f"[^{TOKEN_WS_INNER}]+"
BPE_RE = f"[A-Za-z]+|[0-9]+|[^A-Za-z0-9{TOKEN_WS_INNER}]"
PUNCT_RE = f"[^A-Za-z0-9{TOKEN_WS_INNER}]"
STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr": ("le", "la", "les", "et", "est", "une", "dans"),
    "es": ("el", "los", "las", "es", "una", "para", "por"),
    "zh": ("de", "shi", "bu", "le", "zai", "you", "he"),
}
LANG_PRIORITY = ("en", "de", "fr", "es", "zh")


def token_count_col(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(WORD_RE), F.lit(0))).cast("long")


def bpe_token_count_col(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(BPE_RE), F.lit(0))).cast("long")


def _hits(text: Column, words: tuple[str, ...]) -> Column:
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(pat), F.lit(0)))


def quality_score_col(text: Column) -> Column:
    words = token_count_col(text).cast("double")
    stop_hits = _hits(text, STOPWORDS_EN).cast("double")
    punct = F.size(
        F.regexp_extract_all(text, F.lit(PUNCT_RE), F.lit(0))
    ).cast("double")
    chars = F.length(text).cast("double")
    w = F.greatest(words, F.lit(1.0))
    c = F.greatest(chars, F.lit(1.0))
    score = (
        F.least(words / 100.0, F.lit(1.0)) * 0.4
        + F.least(stop_hits * 5.0 / w, F.lit(1.0)) * 0.3
        + (F.lit(1.0) - F.least(punct * 4.0 / c, F.lit(1.0))) * 0.3
    )
    return F.round(score, 6)


# ASCII subset of PY_WS_JRE (covers every ASCII Python-ws codepoint, so
# it is IDENTICAL to the full class on pure-ASCII strings — PLANS.md §8)
_ASCII_WS_INNER = r"\x{9}-\x{d}\x{1c}-\x{1f}\x{20}"


def fingerprint_col(text: Column) -> Column:
    # octet_length == length detects pure-ASCII rows (no regex); those
    # take the ASCII whitespace class, which keeps Java regex on its
    # ASCII fast path — the full >0xFF class slows the WHOLE pattern
    # (PLANS.md §8). Measured 1.6 -> 0.8 s on the 50k-doc fingerprint
    # column at 32 cores; non-ASCII rows still take the exact
    # Python-whitespace class, so values are unchanged everywhere.
    low = F.lower(text)
    def norm(cls: str) -> Column:
        return F.regexp_replace(
            F.regexp_replace(low, f"[{cls}]+", " "), r"^ | $", ""
        )
    return F.md5(
        F.when(F.octet_length(text) == F.length(text),
               norm(_ASCII_WS_INNER)).otherwise(norm(PY_WS_JRE_INNER))
    )


def with_textstats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """All five text statistics in ONE mapInArrow batch pass.

    The previous shape was five native projections totalling ~10 JVM
    regex scans per row; measured at 50k docs / 32 cores the JVM regex
    work cost ~6.2 s wall while pyarrow.compute (RE2) runs the same
    patterns over the whole column in ~0.5 s on ONE core — the token
    patterns are deliberately engine-portable (identical in Java regex
    and RE2, see TOKEN_WS_INNER note; the DuckDB twins already evaluate
    them in RE2). quality_score's final rounding replicates Spark's
    Round(HALF_UP over BigDecimal.valueOf) exactly via
    Decimal(repr(x)); lang/NULL semantics mirror the native columns
    (null text -> null stats, lang 'und'). The native *_col expressions
    above remain exported for composition.
    """
    from pyspark.sql import types as ST

    out_type = ST.StructType(
        list(df.schema.fields) + [
            ST.StructField("tokens", ST.LongType()),
            ST.StructField("bpe_tokens", ST.LongType()),
            ST.StructField("quality_score", ST.DoubleType()),
            ST.StructField("lang_guess", ST.StringType()),
            ST.StructField("fingerprint", ST.StringType()),
        ]
    )
    stop_pat = r"\b(" + "|".join(STOPWORDS_EN) + r")\b"
    lang_pats = [
        (lang, r"\b(" + "|".join(LANG_MARKERS[lang]) + r")\b")
        for lang in LANG_PRIORITY
    ]
    ws_pat = PY_WS_JRE + "+"

    def stats(batches):
        import hashlib as _hl

        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            forget_zip_importers()
            t = b.column(text_col)
            low = pc.utf8_lower(t)
            tokens = pc.count_substring_regex(t, WORD_RE)
            bpe = pc.count_substring_regex(t, BPE_RE)
            punct = pc.count_substring_regex(t, PUNCT_RE)
            stop = pc.count_substring_regex(low, stop_pat)
            chars = pc.utf8_length(t)
            lang_counts = np.stack([
                pc.count_substring_regex(low, pat).fill_null(0)
                .to_numpy(zero_copy_only=False)
                for _, pat in lang_pats
            ])
            norm = pc.replace_substring_regex(
                pc.replace_substring_regex(low, ws_pat, " "), "^ | $", "")

            n = len(t)
            null_mask = np.asarray(t.is_null())
            tk = tokens.fill_null(0).to_numpy(zero_copy_only=False) \
                .astype("float64")
            st_ = stop.fill_null(0).to_numpy(zero_copy_only=False) \
                .astype("float64")
            pu = punct.fill_null(0).to_numpy(zero_copy_only=False) \
                .astype("float64")
            ch = chars.fill_null(0).to_numpy(zero_copy_only=False) \
                .astype("float64")
            w = np.maximum(tk, 1.0)
            c = np.maximum(ch, 1.0)
            score = (
                np.minimum(tk / 100.0, 1.0) * 0.4
                + np.minimum(st_ * 5.0 / w, 1.0) * 0.3
                + (1.0 - np.minimum(pu * 4.0 / c, 1.0)) * 0.3
            )
            # null text: the native expression yields 0.7, NOT null —
            # least/greatest SKIP null operands, so term1 and term2
            # collapse to their 1.0 caps (0.4 + 0.3) and term3 to 0.
            quality = [
                0.7 if null_mask[i] else round6(float(score[i]))
                for i in range(n)
            ]
            best = lang_counts.max(axis=0)
            pick = lang_counts.argmax(axis=0)   # first max = priority order
            langs = [
                "und" if (null_mask[i] or best[i] <= 0)
                else LANG_PRIORITY[pick[i]]
                for i in range(n)
            ]
            fp = [
                None if v is None else _hl.md5(v.encode()).hexdigest()
                for v in pylist(norm)
            ]
            yield pa.record_batch(
                list(b.columns) + [
                    tokens.cast(pa.int64()), bpe.cast(pa.int64()),
                    pa.array(quality, pa.float64()),
                    pa.array(langs, pa.string()),
                    pa.array(fp, pa.string()),
                ],
                names=[f.name for f in out_type.fields],
            )

    return df.mapInArrow(stats, out_type)


def _word_count_rows_arrow(df: DataFrame, id_col: str,
                           text_col: str) -> DataFrame:
    """(id, token, cnt) rows via ONE map_docs pass — the shared
    tokenizer+counter. Exact replacement for
    explode(regexp_extract_all(WORD_RE)) + groupBy(id, token).count():
    a doc's tokens never split across batches, so the downstream plan
    starts from the already-collapsed (doc, token) table (guide §2.3 —
    aggregate before you shuffle). Case folding is NOT done here —
    lower() natively upstream, keeping the engine case contract in one
    place."""
    from collections import Counter

    def per_doc(tx):
        c = Counter(tokens(tx))
        return c.keys(), c.values()

    return map_docs(df, id_col, text_col, "token string, cnt long", per_doc)


SIMHASH_BITS = 60  # 60-bit fits signed int64 on both engines with headroom

# bounded token -> 60-bit hash cache for simhash_agg: tokens repeat
# heavily in any natural corpus and md5 per token instance was the
# simhash hot spot.
_SIMHASH60_CACHE: dict[str, int] = {}


def _token_hash60(tok: str) -> int:
    """int(md5(tok).hexdigest()[:15], 16) — the top 60 bits of the
    digest, == Spark conv(substring(md5(tok),1,15),16,10)."""
    h = _SIMHASH60_CACHE.get(tok)
    if h is None:
        h = int.from_bytes(
            hashlib.md5(tok.encode()).digest()[:8], "big") >> 4
        if len(_SIMHASH60_CACHE) > 500_000:
            _SIMHASH60_CACHE.clear()
        _SIMHASH60_CACHE[tok] = h
    return h


def simhash_agg(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id",
                n_bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash in ONE map_docs pass, zero shuffles: every decision is
    per-doc and integer-exact, so the whole vote runs next to the
    tokenizer (guide §4.2). Token hash hv = first 15 hex digits of md5
    (the top 60 bits of the digest), portable to the DuckDB twin via
    CAST('0x'||hex AS BIGINT); vote weight = occurrence count; bit k is
    set iff its weighted vote sum > 0; zero-token and null docs -> 0.
    All arithmetic is int64, so the value equals the explode + per-bit
    SUM vote form bit for bit (tests/test_batch_builders.py)."""
    assert n_bits == SIMHASH_BITS  # hash-width contract, mirrored in twin
    from collections import Counter

    import numpy as np

    shifts = np.arange(SIMHASH_BITS, dtype=np.uint64)
    weights = (np.uint64(1) << shifts).astype(np.int64)

    def per_doc(tx):
        counts = Counter(tokens(tx))
        if not counts:
            return ([0],)
        hv = np.fromiter((_token_hash60(t) for t in counts),
                         dtype=np.uint64, count=len(counts))
        cnt = np.fromiter(counts.values(), dtype=np.int64,
                          count=len(counts))
        ones = ((hv[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
        votes = ((2 * ones - 1) * cnt[:, None]).sum(axis=0)
        return ([int(weights[votes > 0].sum())],)

    return map_docs(df, id_col, text_col, "simhash long", per_doc)


def lexical_stats(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Per-document lexical-diversity signals (r5).

    Emits, per doc:
      n_tokens    — WORD_RE token occurrences
      n_types     — distinct tokens
      ttr         — type-token ratio n_types/n_tokens, rounded to 6
      hapax_frac  — fraction of types occurring exactly once, rounded 6
      entropy     — token unigram Shannon entropy in bits
                    (ln n - sum(c ln c)/n) / ln 2, rounded to 6

    Low entropy / low TTR flags boilerplate and keyword-stuffed spam;
    near-maximal entropy with high hapax_frac flags gibberish — the
    standard pair of corpus-curation signals next to quality_score.

    Scale shape: (doc, token, cnt) rows from one map_docs pass
    (_word_count_rows_arrow), then one codegen groupBy (doc); left join
    back to the input keeps zero-token docs (NULL stats). The ln()
    calls are IEEE doubles identical across Spark/DuckDB at round-6
    (same contract as operators/lm.py avg_logp).
    """
    did = F.col(id_col)
    # (doc, token, cnt) rides the shared mapInArrow tokenizer+counter:
    # the JVM regexp explode + groupBy(doc, token) hash agg it replaces
    # was the dominant cost at 50k docs (guide §4.2), and the exchange
    # ahead of the per-doc rollup now carries already-collapsed rows.
    per = _word_count_rows_arrow(df.select(did, F.col(text_col)),
                                 id_col, text_col)
    st = per.groupBy(did).agg(
        F.sum("cnt").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.sum((F.col("cnt") == 1).cast("long")).alias("_hapax"),
        F.sum(F.col("cnt").cast("double") * F.log(F.col("cnt").cast("double")))
        .alias("_clnc"),
    )
    n = F.col("n_tokens").cast("double")
    return df.select(did).join(st, id_col, "left").select(
        did.cast("long").alias(id_col),
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long")
        .alias("n_tokens"),
        F.coalesce(F.col("n_types"), F.lit(0)).cast("long").alias("n_types"),
        F.round(F.col("n_types") / n, 6).alias("ttr"),
        F.round(F.col("_hapax") / F.col("n_types"), 6).alias("hapax_frac"),
        F.round((F.log(n) - F.col("_clnc") / n) / F.lit(0.6931471805599453), 6)
        .alias("entropy"),
    )

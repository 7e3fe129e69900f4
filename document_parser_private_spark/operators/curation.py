"""Training-data curation operators: quality-rule filtering, deterministic
stratified sampling, and per-cluster representative selection.

These are the steps a large-scale pretraining pipeline runs AFTER
extraction and dedup to turn a raw corpus into a training mix. All three
are pure composition over native columns — whole-stage codegen, no
Python, and each has a driver query with a full DuckDB hash oracle.

Scale shape:
  - quality_filter: narrow map, zero shuffles; filters push to the scan
    when used as a WHERE.
  - stratified_sample: narrow map on a hash of the key — deterministic
    (same corpus -> same sample, resumable re-runs pick identical rows)
    and skew-free (no per-stratum shuffle; rates applied row-local).
  - cluster_representatives: dedup_clusters (LSH-bounded) + one window
    over (cluster_id) — the window partitions by cluster, and near-dup
    clusters are small by construction (star-linked buckets), so no hot
    partition.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import dedup_clusters
from .textstats import (
    PUNCT_RE,
    STOPWORDS_EN,
    TOKEN_WS_INNER,
    _hits,
    quality_score_col,
    token_count_col,
)

# Gopher-style rule defaults (Rae et al. 2021, §A1.1-flavored bounds)
MIN_WORDS = 50
MAX_WORDS = 100_000
MIN_MEAN_WORD_LEN = 3.0
MAX_MEAN_WORD_LEN = 10.0
MAX_SYMBOL_RATIO = 0.3
MIN_STOP_HITS = 2
MAX_BULLET_RATIO = 0.9


def quality_filter(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Gopher-style document quality rules as named boolean columns plus
    the conjunctive `keep`. Emitting per-rule verdicts (not just `keep`)
    is deliberate: corpus curation wants the rejection histogram."""
    t = F.col(text_col)
    words = token_count_col(t).cast("double")
    w = F.greatest(words, F.lit(1.0))
    nonws_chars = F.length(
        F.regexp_replace(t, f"[{TOKEN_WS_INNER}]+", "")).cast("double")
    chars = F.greatest(F.length(t).cast("double"), F.lit(1.0))
    punct = F.size(F.regexp_extract_all(t, F.lit(PUNCT_RE), F.lit(0))) \
        .cast("double")
    stop_hits = _hits(t, STOPWORDS_EN).cast("double")
    lines = F.greatest(F.size(F.split(t, "\n", -1)).cast("double"),
                       F.lit(1.0))
    bullet_lines = F.size(
        F.regexp_extract_all(t, F.lit(r"(?m)^[-*•]"), F.lit(0))
    ).cast("double")

    mean_wl = F.round(nonws_chars / w, 6)
    sym_ratio = F.round(punct / chars, 6)
    bullet_ratio = F.round(bullet_lines / lines, 6)
    ok_words = (words >= MIN_WORDS) & (words <= MAX_WORDS)
    ok_wl = (mean_wl >= MIN_MEAN_WORD_LEN) & (mean_wl <= MAX_MEAN_WORD_LEN)
    ok_sym = sym_ratio <= MAX_SYMBOL_RATIO
    ok_stop = stop_hits >= MIN_STOP_HITS
    ok_bullet = bullet_ratio <= MAX_BULLET_RATIO
    return df.select(
        F.col(id_col),
        words.cast("long").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        sym_ratio.alias("symbol_ratio"),
        stop_hits.cast("long").alias("stop_hits"),
        bullet_ratio.alias("bullet_ratio"),
        ok_words.alias("ok_words"),
        ok_wl.alias("ok_word_len"),
        ok_sym.alias("ok_symbols"),
        ok_stop.alias("ok_stopwords"),
        ok_bullet.alias("ok_bullets"),
        (ok_words & ok_wl & ok_sym & ok_stop & ok_bullet).alias("keep"),
    )


SAMPLE_BUCKETS = 1_000_000


def sample_bucket_col(key: Column) -> Column:
    """Deterministic [0, SAMPLE_BUCKETS) bucket from md5 of the key —
    portable to the DuckDB twin (same first-8-hex arithmetic as the
    minhash base hash)."""
    return F.pmod(
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10)
        .cast("long"),
        F.lit(SAMPLE_BUCKETS),
    )


def stratified_sample(df: DataFrame, fractions: dict[str, float],
                      strata_col: str, key_col: str = "doc_id",
                      default_fraction: float = 0.0) -> DataFrame:
    """Keep each row iff its deterministic hash bucket falls below the
    stratum's rate: per-stratum downsampling with NO shuffle, NO
    randomness, and exact reproducibility across re-runs/resumes (the
    property a checkpointed 100 TB curation job needs — rerunning a
    partition keeps identical rows). `fractions` maps stratum value ->
    keep fraction; unlisted strata use default_fraction."""
    rate = F.lit(default_fraction)
    for val, frac in sorted(fractions.items()):
        rate = F.when(F.col(strata_col) == val, F.lit(frac)).otherwise(rate)
    return df.where(
        sample_bucket_col(F.col(key_col))
        < (rate * SAMPLE_BUCKETS).cast("long")
    )


def strip_boilerplate(df: DataFrame, min_docs: int = 10,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """C4-style corpus-level boilerplate-line removal: any non-empty
    line appearing verbatim in >= min_docs DISTINCT documents (cookie
    banners, nav bars, copyright footers) is stripped from every
    document; per-doc unique lines always survive.

    Two-pass shape, both passes scale-safe:
      1. line -> distinct-doc count (one shuffle on the line; map-side
         partial distinct keeps hot lines from flooding the exchange),
         thresholded to the boilerplate dictionary — SMALL by
         construction (only lines repeated across >= min_docs docs).
      2. broadcast LEFT join per line that marks the dictionary lines,
         then one doc-keyed regroup: n_lines, n_removed (the marked
         lines) and clean_text (the unmarked lines in original order)
         from the same rows. Every doc keeps its row by construction: a
         doc whose every line is boilerplate gets clean_text '', and a
         null text (one posexplode_outer row, no line) gets NULL counts
         and ''.

    Returns (id, n_lines, n_removed, clean_text).
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode_outer(F.split(F.col(text_col), "\n", -1)).alias(
            "pos", "line"
        ),
    )
    bp = (
        lines.where(F.length("line") > 0)
        .groupBy("line")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("line", F.lit(True).alias("_bp"))
    )
    kept = F.when(F.col("_bp").isNull(), F.struct("pos", "line"))
    return (
        lines.join(F.broadcast(bp), "line", "left")
        .groupBy(id_col)
        .agg(
            (F.max("pos") + 1).cast("long").alias("n_lines"),
            F.count("_bp").alias("_n_bp"),
            F.array_join(
                F.transform(F.array_sort(F.collect_list(kept)),
                            lambda s: s["line"]),
                "\n",
            ).alias("clean_text"),
        )
        .select(
            id_col, "n_lines",
            F.when(F.col("n_lines").isNotNull(), F.col("_n_bp"))
            .alias("n_removed"),
            "clean_text",
        )
    )


def cluster_representatives(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text",
                            threshold: float = 0.5) -> DataFrame:
    """One representative per near-dup cluster: the member with the
    highest quality_score (ties -> smallest id). The canonical post-dedup
    step — emit (cluster_id, rep_id, rep_quality, n_members) so the
    pipeline keeps the best copy and the drop count per cluster."""
    clusters = dedup_clusters(df, id_col=id_col, text_col=text_col,
                              threshold=threshold)
    q = df.select(F.col(id_col),
                  quality_score_col(F.col(text_col)).alias("q"))
    joined = clusters.join(q, id_col)
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("q"), F.asc(id_col))
    wc = Window.partitionBy("cluster_id")
    return (
        joined
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(wc).cast("long"))
        .where(F.col("rn") == 1)
        .select(
            F.col("cluster_id"),
            F.col(id_col).alias("rep_id"),
            F.col("q").alias("rep_quality"),
            F.col("n_members"),
        )
    )


def mixture_sample(df: DataFrame, weights: dict[str, float],
                   source_col: str = "source",
                   key_col: str = "doc_id") -> DataFrame:
    """Deterministic corpus-mixture sampling: downsample each source so
    the OUTPUT proportions match `weights` (DoReMi/The-Pile-style domain
    mixing) while keeping the largest achievable total.

    With n_s rows observed for source s and target weight w_s, the
    largest total T with w_s*T <= n_s for every weighted source is
    T = min_s(n_s / w_s); each source keeps rate_s = w_s * T / n_s
    (<= 1 by construction — the scarcest source keeps everything).
    Rows whose source has no (positive) weight are dropped.

    Fully declarative and reproducible: the per-source counts collapse
    to one tiny aggregate (|sources| rows) that stays on the cluster; T
    is a window min over those rows, so the aggregate is computed once —
    rates ride a broadcast join, and row selection is the same
    md5-bucket filter as stratified_sample (rerun-identical, no RNG,
    no shuffle of the fact table). floor() is applied to the bucket
    threshold on BOTH engines (Spark cast-to-long truncates, DuckDB
    CAST rounds — floor makes the contract explicit).
    """
    wexpr = F.lit(0.0)
    for val, wt in sorted(weights.items()):
        wexpr = F.when(F.col(source_col) == val, F.lit(float(wt))) \
                 .otherwise(wexpr)
    counts = (
        df.groupBy(source_col)
        .agg(F.count("*").alias("n"))
        .withColumn("w", wexpr)
        .where(F.col("w") > 0)
    )
    t = F.min(F.col("n") / F.col("w")).over(Window.partitionBy())
    rates = counts.select(
        source_col, (F.col("w") * t / F.col("n")).alias("rate"))
    return df.join(F.broadcast(rates), source_col).where(
        sample_bucket_col(F.col(key_col))
        < F.floor(F.col("rate") * F.lit(SAMPLE_BUCKETS))
    ).drop("rate")


def weighted_sample(df: DataFrame, k: int, weight_col: str,
                    group_cols: Sequence[str] | None = None,
                    key_col: str = "doc_id",
                    salt_buckets: int = 32) -> DataFrame:
    """Deterministic weighted reservoir sample: k rows per group,
    inclusion probability proportional to `weight_col` (Efraimidis &
    Spirakis A-Res ordering, PAPERS.md) with the md5 key stream
    standing in for the RNG — rerun-identical and resume-safe like
    stratified_sample.

    score = ln(u) / w with u = (int(md5(key)[0:13], 16) + 1) / 2^52;
    top-k by score wins. u is an exact dyadic rational in (0, 1], so
    the DuckDB twin reproduces every double bit for bit (ln() at
    cross-engine parity per the lm.py contract).

    Scale shape — a naive per-group rank sorts the WHOLE group at one
    reducer. Instead two-phase top-k: rank within (group, salt) first
    (salt = md5 bucket % salt_buckets), keep k per salt, then rank the
    <= k * salt_buckets survivors per group. Any global top-k row is
    top-k within its salt, so the result is exact; the final sort
    touches k * salt_buckets rows per group no matter how large the
    group is."""
    g = [F.col(c) for c in (group_cols or [])]
    key = F.col(key_col)
    u = (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 13), 16, 10)
        .cast("double") + F.lit(1.0)
    ) / F.lit(float(1 << 52))
    score = F.log(u) / F.col(weight_col)
    salted = df.where(F.col(weight_col) > 0).withColumn(
        "sample_score", F.round(score, 6)
    ).withColumn(
        "_ws_salt",
        F.pmod(sample_bucket_col(key), F.lit(salt_buckets)),
    )
    w1 = Window.partitionBy(*g, F.col("_ws_salt")).orderBy(
        F.col("sample_score").desc(), key.asc())
    survivors = salted.withColumn(
        "_ws_rn", F.row_number().over(w1)
    ).where(F.col("_ws_rn") <= k)
    w2 = Window.partitionBy(*g).orderBy(
        F.col("sample_score").desc(), key.asc())
    return survivors.withColumn(
        "sample_rank", F.row_number().over(w2)
    ).where(F.col("sample_rank") <= k).drop("_ws_salt", "_ws_rn")

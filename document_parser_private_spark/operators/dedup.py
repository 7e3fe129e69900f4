"""Deduplication operators (exact, MinHash+LSH, n-gram Jaccard,
SimHash-distance, embedding-cosine) — core training-data-pipeline ops.

Scale design notes (100 TB posture):
  - exact dedup: one shuffle on the 16-byte fingerprint; AQE coalesces.
  - MinHash signatures: computed per doc in one map_docs pass
    (minhash_signatures_agg, NO shuffle); only the band explode +
    groupBy shuffles, and it shuffles 8 small (band_idx, band_key) rows
    per doc instead of full text.
  - pairwise ops (jaccard, cosine) are always bucketed (same source /
    label / LSH band) so the join is a bounded self-join per bucket,
    never a global cross product.

Hashes are md5 hex strings (not xxhash64) so every step has an exact
DuckDB-SQL twin for the correctness oracle; swap HASH=xxhash64 for
production throughput.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.bind import bind_once
from .batch import map_docs, tokens
from .textstats import WORD_RE, fingerprint_col

N_MINHASHES = 16
N_BANDS = 8  # rows-per-band = N_MINHASHES // N_BANDS = 2


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative per normalized-text fingerprint;
    report the group size (A3-style distinct + arg-min)."""
    fp = df.withColumn("fingerprint", fingerprint_col(F.col(text_col)))
    return fp.groupBy("fingerprint").agg(
        F.min(id_col).alias("keep_id"),
        F.count("*").cast("long").alias("dup_count"),
    )


# Mersenne prime field for the permutation family; 31-bit keeps
# a_i * h < 2^62 — no int64 overflow in Spark OR the DuckDB oracle.
MINHASH_P = 2**31 - 1
# fixed pairwise-independent linear permutations h_i = (A[i]*h + B[i]) % P
# (random.Random(20260816); literals so the DuckDB twin can inline them)
MINHASH_A = (1864550318, 1007102569, 2027691200, 1840951293, 616008998,
             1595354702, 1542395096, 1725210604, 316175860, 1775573246,
             1041917222, 704225832, 1701645196, 857565296, 133847858,
             277455873)
MINHASH_B = (1254492528, 751060712, 1622456153, 1001143907, 20460337,
             804972047, 1972905680, 863803601, 1410109830, 770482498,
             1989053641, 1923919256, 997927657, 421551115, 476697125,
             814075905)


def minhash_signatures_agg(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", k: int = 3,
                           n_hashes: int = N_MINHASHES) -> DataFrame:
    """MinHash signature in ONE map_docs pass, zero shuffles: shingles,
    the 31-bit base hash and the n permutation argmins are all per-doc
    decisions.

    - ONE md5 per shingle (k space-joined tokens): base hash = first 4
      digest bytes (== first 8 hex digits) mod P, portable to the DuckDB
      twin via CAST('0x'||hex AS BIGINT).
    - The n permutations are (A[i]*h + B[i]) mod P — pairwise-independent
      LCGs over the prime field, so the 16 mins stay independent (the
      cheaper h1+i*h2 double-hash shares one argmin pool and measurably
      correlates bands — tested and rejected). A*h < 2^62, so the numpy
      int64 arithmetic never overflows.
    - A doc with fewer than k tokens has one shingle: all its tokens
      joined (the empty string for zero-token docs).
    Output: id, mh_0..mh_{n-1} bigint columns.
    """
    import hashlib

    import numpy as np

    av = np.array(MINHASH_A[:n_hashes], dtype=np.int64)[:, None]
    bv = np.array(MINHASH_B[:n_hashes], dtype=np.int64)[:, None]

    def per_doc(tx):
        t = tokens(tx)
        ng = max(len(t) - (k - 1), 1)
        h = np.fromiter(
            (int.from_bytes(
                hashlib.md5(" ".join(t[i:i + k]).encode()).digest()[:4],
                "big") % MINHASH_P for i in range(ng)),
            dtype=np.int64, count=ng)
        sig = ((av * h[None, :] + bv) % MINHASH_P).min(axis=1)
        return sig[:, None].tolist()

    return map_docs(
        df, id_col, text_col,
        ", ".join(f"mh_{i} long" for i in range(n_hashes)), per_doc)


def minhash_bands_agg(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 3,
                      n_bands: int = N_BANDS,
                      rows_per_band: int = N_MINHASHES // N_BANDS) -> DataFrame:
    """id -> exploded (band_idx, band_key) rows, via the agg signature."""
    sig = minhash_signatures_agg(df, text_col, id_col, k)
    bands = F.array(*[
        F.md5(F.concat_ws(",", *[
            F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)
        ]))
        for b in range(n_bands)
    ])
    return sig.select(
        F.col(id_col), F.posexplode(bands).alias("band_idx", "band_key")
    )


def minhash_candidates(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       max_bucket: int = 64) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band bucket.
    Shuffle carries only (id, band_idx, band_key).

    Scale guard: a band bucket with more than `max_bucket` members is in
    practice a cluster of exact/near-exact duplicates (e.g. a million
    copies of the same boilerplate page), and all-pairs within it is
    O(c²) — quadratic blowup from a single hot key. Oversized buckets
    degrade to STAR linking (every member pairs with the bucket's min
    id): O(c) pairs that still connect the whole cluster for
    connected-component dedup, and each star pair still passes exact
    Jaccard verification downstream. Buckets at or under the cap keep
    exact all-pairs semantics, so normal corpora are unaffected.
    The guarded path also pre-collapses EXACT duplicates (same md5
    fingerprint) to one banded representative and star-links the rest,
    so a giant identical-copy cluster can neither blow up a bucket
    buffer nor generate quadratic pairs. max_bucket=None disables both
    the guard and the pre-collapse (exact all-pairs everywhere).
    """
    if max_bucket is None:
        banded = minhash_bands_agg(df, text_col, id_col)
        a, b = banded.alias("a"), banded.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .distinct()
        )
    # Guarded path: collect each bucket's ids, then generate pairs with
    # array expressions (all-pairs for buckets at or under the cap, star
    # otherwise) and explode. Measured ~2x faster than the band
    # self-join + stats-join formulation at sf0.1 (the self-join
    # shuffles banded twice; this shuffles it once with partial
    # aggregation).
    #
    # Self-enforcing memory bound (r4): only one REPRESENTATIVE per
    # distinct text (min id per md5 fingerprint) is banded; every other
    # exact duplicate is star-linked straight to its representative.
    # A million-copy boilerplate cluster contributes ONE banded row, so
    # no bucket's collect_list buffer can be blown up by exact
    # duplicates — the former "run exact_dedup first" ordering caveat
    # is enforced in-operator (tests/test_dedup_similarity.py drives
    # 50k identical docs through this path). Buckets can exceed the cap
    # only via many DISTINCT near-dup texts, which still degrade to
    # star linking. The DuckDB twins in __spark_entry__ mirror these
    # exact semantics (reps + dup stars + capped buckets), so the
    # driver's value-hash gate holds at any scale, not just when no
    # bucket happens to exceed the cap.
    fp = df.select(F.col(id_col), F.md5(F.col(text_col)).alias("_fp"))
    # reps feeds BOTH the dup-star join and the banding pass — persist
    # the collapsed representative table (bounded by distinct texts) so
    # its corpus-scan+md5+agg subtree runs once, not per reference
    # (PLANS.md §21); released after the eager checkpoint below.
    reps = (
        df.select(F.col(id_col), F.col(text_col),
                  F.md5(F.col(text_col)).alias("_fp"))
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col), F.first(text_col).alias(text_col))
        .persist()
    )
    dup_star = (
        fp.join(reps.select(F.col(id_col).alias("_rep"), "_fp"), "_fp")
        .where(F.col(id_col) != F.col("_rep"))
        .select(F.col("_rep").alias("id_a"), F.col(id_col).alias("id_b"))
    )
    banded = minhash_bands_agg(reps.select(id_col, text_col),
                               text_col, id_col)
    buckets = banded.groupBy("band_idx", "band_key").agg(
        F.array_sort(F.collect_list(id_col)).alias("ids")
    )

    def pairs_of(ids: Column) -> Column:
        n = F.size(ids)
        all_pairs = F.flatten(F.transform(ids, lambda x, i: F.transform(
            F.slice(ids, i + F.lit(2), n),
            lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
        )))
        star = F.transform(F.slice(ids, 2, n - 1), lambda y: F.struct(
            F.element_at(ids, 1).alias("id_a"), y.alias("id_b")
        ))
        return F.when(n <= F.lit(max_bucket), all_pairs).otherwise(star)

    bucket_pairs = (
        buckets.where(F.size("ids") >= 2)
        .select(F.explode(bind_once(F.col("ids"), pairs_of)).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    out = bucket_pairs.unionByName(dup_star)
    try:
        out = out.localCheckpoint()
    finally:
        reps.unpersist()
    return out


def jaccard_token_col(a: Column, b: Column) -> Column:
    """Jaccard over distinct-token sets, rounded to 6."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.round(inter / F.greatest(union, F.lit(1.0)), 6)


# Bounded-vocabulary fast path for the bucketed all-pairs jaccard: when
# the corpus' distinct-token vocabulary fits in JACCARD_MASK_VOCAB_CAP
# bits, a doc's token SET is a handful of int64 bitmasks and per-pair
# jaccard is bit_count(a&b)/bit_count(a|b) — pure whole-stage-codegen
# integer ops instead of a token equi-join whose row count is
# sum over (bucket, token) of docs_with_token^2 (quadratic blow-up on
# common tokens). The probe costs one extra tokenize pass; on corpora
# that exceed the cap the original token-join formulation runs
# unchanged, so results are identical on every input.
JACCARD_MASK_VOCAB_CAP = 1024


def _jaccard_pairs_bitmask(df: DataFrame, vocab: list[str],
                           bucket_col: str, text_col: str, id_col: str,
                           threshold: float) -> DataFrame:
    """Exact all-pairs-within-bucket jaccard over <=1024-token vocab.

    Shape: explode tokens -> broadcast vocab join -> bit_or codegen
    aggregate per doc (W = ceil(V/64) mask words) -> collapse docs with
    IDENTICAL masks into groups (their pairwise jaccard is 1.0 by
    definition; cross-group jaccard is computed once per group pair,
    not once per doc pair) -> per-bucket all-pairs join over GROUPS with
    unrolled bit_count terms -> expand qualifying group pairs back to id
    pairs. The group table is eagerly localCheckpoint-ed: it feeds 5
    downstream branches and would otherwise recompute per reference
    (PLANS.md §21)."""
    spark = df.sparkSession
    n_words = (len(vocab) + 63) // 64
    rows = []
    for bit, tok in enumerate(sorted(vocab)):
        val = 1 << (bit % 64)
        if val >= 2 ** 63:          # int64 sign bit, same bit pattern
            val -= 2 ** 64
        rows.append((tok, bit // 64, val))
    vocab_df = spark.createDataFrame(rows, "token string, word int, val long")

    toks = df.select(
        F.col(id_col).alias("_id"),
        F.col(bucket_col).alias("bucket"),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(WORD_RE), F.lit(0))
        ).alias("token"),
    )
    mcols = [f"m{w}" for w in range(n_words)]
    masked = (
        toks.join(F.broadcast(vocab_df), "token")
        .groupBy("_id", "bucket")
        .agg(*[
            F.bit_or(
                F.when(F.col("word") == w, F.col("val")).otherwise(F.lit(0))
            ).alias(f"m{w}")
            for w in range(n_words)
        ])
    )
    from pyspark.sql import Window
    gid_w = Window.partitionBy("bucket").orderBy(*mcols)
    groups = (
        masked.groupBy("bucket", *mcols)
        .agg(F.sort_array(F.collect_list("_id")).alias("ids"))
        .withColumn("gid", F.row_number().over(gid_w))
        .localCheckpoint()          # eager: 5 references below
    )

    def popcount(op) -> Column:
        terms = [
            F.bit_count(op(F.col(f"a.m{w}"), F.col(f"b.m{w}")))
            for w in range(n_words)
        ]
        acc = terms[0]
        for t in terms[1:]:
            acc = acc + t
        return acc

    a = F.broadcast(groups.select("bucket", "gid", *mcols)).alias("a")
    # keyless spread of the probe side: the group table arrives
    # partitioned by bucket (few partitions); the pair stage below emits
    # ~|groups|^2/2 rows per bucket, so spread the probe rows over all
    # cores first (40k-row exchange, trivial).
    b = groups.select("bucket", "gid", *mcols) \
        .repartition(F.col("bucket"), F.col("gid")).alias("b")
    inter = popcount(lambda x, y: x.bitwiseAND(y))
    union = popcount(lambda x, y: x.bitwiseOR(y))
    # round(inter/union, 6) via a broadcast lookup on the INTEGER pair:
    # Spark's Round(double) goes through BigDecimal per row — measured
    # 2.3 s for the 41M-row bit_count pair scan vs 26.5 s with the
    # rounded division inline. jaccard here can only be i/u with
    # u <= |vocab|, so the exact same Round expression is evaluated
    # once per possible (i, u) on a <= V*(V+1)/2-row table (<= 525k at
    # the 1024 cap) and joined back — values bit-identical, the hot
    # scan stays pure integer codegen.
    jmap = (
        spark.range(1, len(vocab) + 1).toDF("union")
        .select(
            F.col("union").cast("int").alias("union"),
            F.explode(
                F.sequence(F.lit(0), F.col("union").cast("int"))
            ).alias("inter"),
        )
        .select(
            "inter", "union",
            F.round(
                F.col("inter").cast("double") / F.col("union").cast("double"),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    qual = (
        b.join(a, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.gid") < F.col("b.gid")))
        .select(
            F.col("a.bucket").alias("bucket"),
            F.col("a.gid").alias("gid_a"),
            F.col("b.gid").alias("gid_b"),
            inter.cast("int").alias("inter"),
            union.cast("int").alias("union"),
        )
        .join(F.broadcast(jmap), ["inter", "union"])
        .drop("inter", "union")
    )
    ids_a = groups.select("bucket", F.col("gid").alias("gid_a"),
                          F.col("ids").alias("_ids_a"))
    ids_b = groups.select("bucket", F.col("gid").alias("gid_b"),
                          F.col("ids").alias("_ids_b"))
    # broadcast both id legs: they are group-table slices (bounded by
    # the bucketed-form contract), while `qual` is ~|output| rows — a
    # sort-merge join here would shuffle+sort the near-output-sized
    # side twice (measured SMJ x2 in the executed plan before this).
    cross = (
        qual.join(F.broadcast(ids_a), ["bucket", "gid_a"])
        .join(F.broadcast(ids_b), ["bucket", "gid_b"])
        .select(
            F.explode("_ids_a").alias("x"), F.col("_ids_b"), "jaccard",
        )
        .select(
            F.explode("_ids_b").alias("y"), F.col("x"), "jaccard",
        )
        .select(
            F.least("x", "y").alias("id_a"),
            F.greatest("x", "y").alias("id_b"),
            "jaccard",
        )
    )
    n = F.size("ids")
    within_pairs = F.flatten(F.transform(
        F.col("ids"),
        lambda x, i: F.transform(
            F.slice(F.col("ids"), i + F.lit(2), n),
            lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
        ),
    ))
    within = (
        groups.where((n >= 2) & (F.lit(1.0) >= F.lit(threshold)))
        .select(F.explode(within_pairs).alias("p"))
        .select("p.id_a", "p.id_b", F.lit(1.0).alias("jaccard"))
    )
    return cross.unionByName(within)


def jaccard_pairs(df: DataFrame, bucket_col: str | None = None,
                  text_col: str = "text", id_col: str = "doc_id",
                  threshold: float = 0.5) -> DataFrame:
    """n-gram(1) Jaccard between near-duplicate doc pairs.

    Default (bucket_col=None) is the SCALE-SAFE path: LSH-candidate
    restriction via jaccard_on_candidates — work stays ~linear in corpus
    size no matter how large a natural grouping gets. Passing an explicit
    bucket_col opts into exact all-pairs-within-bucket semantics, which
    is quadratic in bucket size: per-bucket doc counts must stay bounded
    as the corpus grows (e.g. a date+shard bucket), or the bucketed join
    becomes the 100x-scale bottleneck — this is why it is no longer the
    default.

    The bucketed form is an explode -> equi-join on (bucket, token) ->
    count, not a pairwise array_intersect: per-pair array ops cost
    O(pairs * tokens) while the token join costs O(sum over tokens of
    docs_with_token^2 rows of tiny fixed width) with codegen + partial
    aggregation — ~30x less work on natural text, and AQE splits skewed
    common-token groups. jaccard = |inter| / (|a| + |b| - |inter|);
    pairs with zero common tokens have jaccard 0 and are below any
    positive threshold, so the inner join is exact for threshold > 0
    (enforced).
    """
    if bucket_col is None:
        out = jaccard_on_candidates(
            df, id_col=id_col, text_col=text_col, threshold=threshold
        )
        return out
    assert threshold > 0, "token-join formulation requires threshold > 0"
    # Bounded-vocab probe: one distinct-token pass (partial-aggregated,
    # the shuffle carries <= vocab rows). Small vocabularies take the
    # bitmask path — identical results, no token-join quadratic blow-up
    # on common tokens; anything larger falls through to the token join.
    vocab_probe = (
        df.select(F.explode(F.array_distinct(F.regexp_extract_all(
            F.col(text_col), F.lit(WORD_RE), F.lit(0)))).alias("token"))
        .distinct().limit(JACCARD_MASK_VOCAB_CAP + 1).collect()
    )
    if len(vocab_probe) <= JACCARD_MASK_VOCAB_CAP:
        return _jaccard_pairs_bitmask(
            df, [r["token"] for r in vocab_probe],
            bucket_col, text_col, id_col, threshold,
        )
    toks = df.select(
        F.col(id_col),
        F.col(bucket_col).alias("bucket"),
        F.explode(
            F.array_distinct(
                F.regexp_extract_all(F.col(text_col), F.lit(WORD_RE), F.lit(0))
            )
        ).alias("token"),
    )
    sizes = toks.groupBy(id_col, "bucket").agg(F.count("*").alias("n_tok"))
    t = toks.join(sizes, [id_col, "bucket"])
    a, b = t.alias("a"), t.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.token") == F.col("b.token"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.n_tok").alias("na"),
            F.col("b.n_tok").alias("nb"),
        )
        .agg(F.count("*").alias("common"))
    )
    return inter.select(
        "id_a", "id_b",
        F.round(
            F.col("common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
            6,
        ).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)


def cosine_col(a: Column, b: Column) -> Column:
    """Cosine over array<double> (cast upstream), rounded to 6."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda v: F.sqrt(  # noqa: E731
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return F.round(dot / (norm(a) * norm(b)), 6)


def embedding_near_dups(emb: DataFrame, threshold: float = 0.35,
                        bucket_col: str = "label",
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-dup pairs within a bucket (label / IVF cell /
    LSH bucket at scale)."""
    e = emb.select(
        F.col(id_col), F.col(bucket_col).alias("bucket"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cosine_col(F.col("a.vec"), F.col("b.vec")).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def jaccard_on_candidates(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text",
                          threshold: float = 0.0) -> DataFrame:
    """The 100 TB near-dup path end-to-end: MinHash -> LSH bands ->
    candidate pairs -> EXACT token-Jaccard verification on candidates
    only. The all-pairs work never happens; per-pair array ops are fine
    here because LSH keeps the candidate set ~linear in corpus size."""
    # `pairs` is consumed 3x (both cand_ids legs + the verify join) and
    # `toks` 2x (pair sides) — persist them or the whole minhash+band
    # pipeline re-derives per reference (was 17 corpus scans; PLANS.md
    # §21), then eager-checkpoint the result and release the caches.
    pairs = minhash_candidates(df, id_col=id_col, text_col=text_col) \
        .persist()
    toks = None
    try:
        # Tokenize ONLY docs that appear in some candidate pair
        # (semi-join prune): LSH keeps candidates ~linear but typically
        # touching a small fraction of the corpus, so the
        # array_distinct/tokenize work — the expensive part of this job
        # — skips every non-candidate doc.
        cand_ids = (
            pairs.select(F.col("id_a").alias(id_col))
            .unionByName(pairs.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        toks = df.join(cand_ids, id_col, "left_semi").select(
            F.col(id_col),
            F.array_distinct(
                F.regexp_extract_all(F.col(text_col), F.lit(WORD_RE),
                                     F.lit(0))
            ).alias("tok"),
        ).persist()
        a = toks.select(F.col(id_col).alias("id_a"),
                        F.col("tok").alias("tok_a"))
        b = toks.select(F.col(id_col).alias("id_b"),
                        F.col("tok").alias("tok_b"))
        out = (
            pairs.join(a, "id_a").join(b, "id_b")
            .select(
                "id_a", "id_b",
                jaccard_token_col(F.col("tok_a"), F.col("tok_b"))
                .alias("jaccard"),
            )
        )
        if threshold > 0:
            out = out.where(F.col("jaccard") >= threshold)
        out = out.localCheckpoint()
    finally:
        pairs.unpersist()
        if toks is not None:
            toks.unpersist()
    return out


def connected_components(vertices: DataFrame, edges: DataFrame,
                         max_iter: int = 10) -> DataFrame:
    """Distributed connected components: vertices(id), edges(id_a, id_b)
    -> (id, comp) with comp = min id reachable from each vertex.

    Min-label propagation with POINTER DOUBLING: each sweep first takes
    the min over neighbors' labels (one shuffle join + one
    partial-aggregated groupBy), then jumps every label to its label's
    label (comp <- min(comp, comp[comp]) — valid because labels are
    always vertex ids of this graph). The jump halves the remaining
    label-tree height, so convergence needs O(log diameter) sweeps
    instead of O(diameter): a 1000-link chain of pairwise near-dups
    resolves within the default backstop rather than aborting (r4 —
    was one-hop-per-sweep). max_iter remains a backstop and
    convergence failure raises rather than returning a
    silently-unfinished clustering. The edge list is persisted once so
    its upstream DAG does not recompute per sweep. Property-tested
    against a pure-Python union-find on random graphs, including long
    chains (tests/test_dedup_similarity.py)."""
    sym = edges.select("id_a", "id_b").unionByName(
        edges.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    ).persist()
    # localCheckpoint (not persist): each sweep's frame must TRUNCATE
    # lineage, or the logical plan doubles per sweep and Catalyst
    # re-analysis dominates — measured 565 s for a 5k-doc corpus before,
    # ~10 s after. Eager, so the sweep materializes here and the changed
    # count below reads the checkpointed RDD.
    labels = vertices.select(F.col(vertices.columns[0]).alias("id")) \
        .distinct().withColumn("comp", F.col("id")).localCheckpoint()
    try:
        for _ in range(max_iter):
            nbr = (
                sym.join(
                    labels.select(F.col("id").alias("id_b"),
                                  F.col("comp").alias("comp_b")),
                    "id_b",
                )
                .groupBy("id_a")
                .agg(F.min("comp_b").alias("nbr_min"))
            )
            hop = (
                labels.join(nbr, labels["id"] == nbr["id_a"], "left")
                .select(
                    F.col("id"),
                    F.least(
                        F.col("comp"),
                        F.coalesce(F.col("nbr_min"), F.col("comp")),
                    ).alias("comp"),
                )
                .localCheckpoint()  # referenced twice by the jump join
            )
            # pointer doubling: comp <- min(comp, comp[comp]); comp
            # values are vertex ids, so self-join on them resolves one
            # extra tree level per sweep -> O(log diameter) sweeps
            new_labels = (
                hop.join(
                    hop.select(F.col("id").alias("comp"),
                               F.col("comp").alias("comp2")),
                    "comp", "left",
                )
                .select(
                    F.col("id"),
                    F.least(
                        F.col("comp"),
                        F.coalesce(F.col("comp2"), F.col("comp")),
                    ).alias("comp"),
                )
                .localCheckpoint()
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .where(F.col("n.comp") != F.col("o.comp"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} sweeps"
            )
    finally:
        sym.unpersist()
    return labels


def dedup_clusters(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", threshold: float = 0.5,
                   max_iter: int = 10) -> DataFrame:
    """Near-dup cluster resolution: (doc_id, cluster_id) connected
    components over the LSH-verified pair graph (token-Jaccard >=
    threshold edges); cluster_id = min doc id in the component,
    singletons map to themselves. This is the step a training pipeline
    runs after pair generation — pick one representative per cluster
    instead of reasoning about pairs. The candidate generator star-links
    oversized buckets through their min id, bounding component diameter,
    so real corpora converge in 2-4 propagation sweeps.

    Scale shape: the iteration runs ONLY over the edge-touched subgraph —
    near-dup edges touch a small fraction of any real corpus, so the
    per-sweep joins handle a tiny table no matter how large the input;
    the full corpus is swept exactly once by the final left join
    (untouched docs are their own cluster)."""
    edges = jaccard_on_candidates(
        df, id_col=id_col, text_col=text_col, threshold=threshold
    ).select("id_a", "id_b").persist()
    try:
        touched = (
            edges.select(F.col("id_a").alias("id"))
            .unionByName(edges.select(F.col("id_b").alias("id")))
            .distinct()
        )
        comp = connected_components(touched, edges, max_iter=max_iter)
        return (
            df.select(F.col(id_col))
            .join(comp.withColumnRenamed("id", id_col), id_col, "left")
            .select(
                F.col(id_col),
                F.coalesce(F.col("comp"), F.col(id_col)).alias("cluster_id"),
            )
        )
    finally:
        edges.unpersist(blocking=False)


def cross_corpus_dedup(new_df: DataFrame, ref_df: DataFrame,
                       threshold: float = 0.5, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Dedupe a NEW corpus against an existing REFERENCE corpus (the
    "is this already in my training set" screen): per new document,
    how many reference documents are near-dups (token Jaccard >=
    threshold among MinHash-band candidates), the smallest matching
    reference id, and the drop verdict.

    Returns one row per new_df row: (id_col, n_ref_matches, ref_id,
    is_dup) with ref_id NULL when clean.

    Scale shape (mirrors the guarded within-corpus path,
    minhash_candidates): BOTH sides pre-collapse to one representative
    per distinct md5(text) before banding, so exact-duplicate floods
    (the common case: boilerplate pages repeated millions of times)
    cost one signature each and can't blow up the band join; verdicts
    propagate back to members by fingerprint (identical text => identical
    Jaccard, so the collapse is exact, not approximate). n_ref_matches
    counts reference DOCS, not fingerprints (group sizes are summed).
    The band join shuffles only (band_idx, band_key, id); tokenization
    is semi-join-pruned to candidate representatives only.
    """
    # nreps / rreps / cand are each consumed 3x downstream — persist
    # them or the fingerprint collapse and the band pipeline re-derive
    # per reference (was 11 corpus scans; PLANS.md §21); the result is
    # eager-checkpointed so the caches can be released before return.
    fp = F.md5(F.col(text_col)).alias("fp")
    nreps = new_df.groupBy(fp).agg(
        F.min(id_col).alias("new_id"),
        F.min(text_col).alias(text_col)).persist()
    rreps = ref_df.groupBy(fp).agg(
        F.min(id_col).alias("ref_id"), F.min(text_col).alias(text_col),
        F.count("*").alias("n_dups")).persist()
    cand = None
    try:

        nb = minhash_bands_agg(nreps.select(F.col("new_id").alias(id_col),
                                            text_col),
                               text_col=text_col, id_col=id_col) \
            .withColumnRenamed(id_col, "new_id")
        rb = minhash_bands_agg(rreps.select(F.col("ref_id").alias(id_col),
                                            text_col),
                               text_col=text_col, id_col=id_col) \
            .withColumnRenamed(id_col, "ref_id")
        cand = nb.join(rb, ["band_idx", "band_key"]) \
            .select("new_id", "ref_id").distinct().persist()

        ntok = nreps.join(cand.select("new_id"), "new_id", "left_semi") \
            .select(
                F.col("new_id"),
                F.array_distinct(
                    F.regexp_extract_all(F.col(text_col), F.lit(WORD_RE),
                                         F.lit(0))
                ).alias("tok_n"),
            )
        rtok = rreps.join(cand.select("ref_id"), "ref_id", "left_semi") \
            .select(
                F.col("ref_id"),
                F.array_distinct(
                    F.regexp_extract_all(F.col(text_col), F.lit(WORD_RE),
                                         F.lit(0))
                ).alias("tok_r"),
            )
        jac = (
            cand.join(ntok, "new_id").join(rtok, "ref_id")
            .select(
                "new_id", "ref_id",
                jaccard_token_col(F.col("tok_n"), F.col("tok_r"))
                .alias("jaccard"),
            )
            .where(F.col("jaccard") >= threshold)
        )
        matches = jac.join(rreps.select("ref_id", "n_dups"), "ref_id") \
            .groupBy("new_id").agg(
                F.sum("n_dups").alias("n_ref_matches"),
                F.min("ref_id").alias("ref_id"),
            )
        verdict = nreps.select("fp", "new_id") \
            .join(matches, "new_id", "left").select(
                "fp",
                F.coalesce(F.col("n_ref_matches"), F.lit(0)).cast("long")
                .alias("n_ref_matches"),
                F.col("ref_id"),
            )
        out = new_df.select(F.col(id_col),
                            F.md5(F.col(text_col)).alias("fp")) \
            .join(verdict, "fp").select(
                F.col(id_col),
                F.col("n_ref_matches"),
                F.col("ref_id"),
                F.col("ref_id").isNotNull().alias("is_dup"),
            )
        out = out.localCheckpoint()
    finally:
        nreps.unpersist()
        rreps.unpersist()
        if cand is not None:
            cand.unpersist()
    return out

"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship extraction pipeline over sf0.001 documents
                 (flat text -> span table -> layout/classify/FSM/entities).
queries()      — one entry per operator family from SURVEY.md §2 plus the
                 training-data-pipeline ops (dedup / similarity /
                 textstats); each runs the package operators on the
                 driver-provided parquet tables.
oracle_sql()   — DuckDB twins. Column names and float rounding match the
                 Spark side exactly (driver hashes values after sorting
                 columns by name).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from document_parser_private_spark.operators.textstats import (
    TOKEN_WS_INNER as _TWSI,
)
from document_parser_private_spark.semantics import (
    PY_WS_JRE as _PWS,
)

# Two whitespace contracts, mirrored from the Spark side (see
# operators/textstats.py TOKEN_WS_INNER): token/bpe/punct extraction uses
# the explicit ASCII class (perf: Unicode classes fall off Java's regex
# fast path); strip/collapse surfaces that must match Python
# str.strip()/split() use the full PY_WS class. Both are spelled as
# explicit classes because RE2 \s is ASCII-only and differs from Java \s
# on \x0b.
_WORD_SQL = "[^" + _TWSI + "]+"


# the tables `_read` spreads (PLANS.md §22)
_SPREAD_TABLES = frozenset({"documents", "embeddings"})
# below this a read is cheaper as one task than as an exchange plus
# near-empty tasks (region/nation, the sf0.001 and sf0.01 documents)
_SPREAD_FLOOR = 256 << 10


def _needs_spread(splits: int, cores: int, size_bytes: int) -> bool:
    """True when a scan of `splits` input splits would leave cores idle
    and holds enough bytes to pay for the exchange."""
    return splits < cores and size_bytes >= _SPREAD_FLOOR


def _spread(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Round-robin `df` over the session's cores right after its read
    when `_needs_spread` says so. The sf tables are single parquet files
    with one row group, so their scan is one task and every narrow
    operator behind it runs on one core; the repartition moves the
    payload once, before any per-row work. Multi-split inputs (many
    files or row groups) are left as they are."""
    n = spark.sparkContext.defaultParallelism
    splits = df.rdd.getNumPartitions()
    if splits >= n:
        return df
    size = int(df._jdf.queryExecution().optimizedPlan().stats()
               .sizeInBytes())
    return df.repartition(n) if _needs_spread(splits, n, size) else df


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The one table reader: `{sf_dir}/{name}.parquet`, passed through
    `_spread` when `name` is documents or embeddings, never otherwise.

    Documents and embeddings rows (about 300 characters of text, a
    64-float vector) feed tokenizers, hashing, Python passes and vector
    math, which a one-split scan runs on one core. TPC-H and events rows
    are a few scalars feeding partial aggregates, which an exchange only
    slows down (at the 10x dir, spreading them doubles region_revenue,
    event_sessions and cohort_retention). Measured at 4 cores: PLANS.md
    §22."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return _spread(df, spark) if name in _SPREAD_TABLES else df


# ---------------------------------------------------------------------------
# entry — flagship: full extraction pipeline on sf0.001 documents
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    from document_parser_private_spark.plans.pipeline import extract_pipeline
    from document_parser_private_spark.sources.text_docs import (
        text_docs_to_span_table,
    )

    docs = _read(spark, "/root/testdata/sf0.001", "documents")
    spans = text_docs_to_span_table(docs)
    # only the columns selected below: the kernel then parses no
    # education / experience / projects entities
    out = extract_pipeline(spans, columns=(
        "doc_id", "blocks_kept", "blocks_dropped", "summary", "skills",
        "clean_spans"))
    return out.select(
        "doc_id",
        "blocks_kept",
        "blocks_dropped",
        F.col("summary"),
        F.array_join("skills", ",").alias("skills_csv"),
        F.size("clean_spans").cast("long").alias("n_spans"),
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

# Leading name-line samples for contact_extract; the empty entry is the
# miss case (text then starts lowercase, so NAME_JRE cannot match).
_CONTACT_NAME_SAMPLES = ["Alice Morgan\n", "Brian O Connell\n",
                         "Carla Diaz\n", ""]


def _q_contact_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F4 regex extraction over synthesized contact lines: email,
    phone, first-line name, linkedin (in/pub variants), github — each
    with deterministic hit AND miss cases keyed on doc_id."""
    from document_parser_private_spark.functions.contact import (
        email_col, github_col, linkedin_col, name_col, phone_col,
    )
    did = F.col("doc_id")
    li = F.when(
        F.pmod(did, 2) == 0,
        F.concat(
            F.lit(" https://www.linkedin.com/"),
            F.when(F.pmod(did, 4) == 0, F.lit("in")).otherwise(F.lit("pub")),
            F.lit("/user-"), F.pmod(did, 97).cast("string"),
        ),
    ).otherwise(F.lit(""))
    gh = F.when(
        F.pmod(did, 3) == 0,
        F.concat(F.lit(" github.com/user"), F.pmod(did, 53).cast("string")),
    ).otherwise(F.lit(""))
    d = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            _sample_col(_CONTACT_NAME_SAMPLES),
            F.lit("reach user"), did.cast("string"),
            F.lit("@example.com or 555-123-"),
            F.lpad(F.pmod(did, F.lit(10000)).cast("string"), 4, "0"),
            li, gh,
            F.lit(" :: "), F.col("text"),
        ).alias("contact_text"),
    )
    return d.select(
        "doc_id",
        name_col(F.col("contact_text")).alias("name"),
        email_col(F.col("contact_text")).alias("email"),
        phone_col(F.col("contact_text")).alias("phone"),
        linkedin_col(F.col("contact_text")).alias("linkedin"),
        github_col(F.col("contact_text")).alias("github"),
    )


def _q_summary_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 sentence-aware 500-char truncation (native)."""
    from document_parser_private_spark.functions.text import summary_col
    d = _read(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        summary_col(F.concat(F.col("text"), F.lit(". tail end"))).alias("summary"),
        )


def _q_textstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from document_parser_private_spark.operators.textstats import with_textstats
    return with_textstats(_read(spark, sf_dir, "documents")).select(
        "doc_id", "tokens", "bpe_tokens", "quality_score", "lang_guess",
        "fingerprint",
    )


def _q_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 histogram: count by (lang, token)."""
    d = _read(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), F.lit(0))
        ).alias("token"),
    )
    return toks.groupBy("lang", "token").agg(
        F.count("*").cast("long").alias("cnt")
    )


def _q_dominant_token(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 arg-max: most frequent token per lang (deterministic tie-break)."""
    hist = _q_token_histogram(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("token"))
    return (
        hist.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("lang", "token", "cnt")
    )


def _q_distinct_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 distinct + sort, emitted as a joined string."""
    d = _read(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.array_join(F.array_sort(F.collect_set("source")), ",").alias("sources"),
        F.count("*").cast("long").alias("n_docs"),
    )


def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over a corpus with synthetic duplicates (doc ∪ doc+10^6)."""
    from document_parser_private_spark.operators.dedup import exact_dedup
    # one read: each row emits itself and its synthetic duplicate
    dup = _read(spark, sf_dir, "documents").select(
        F.explode(F.array("doc_id", F.col("doc_id") + 1000000))
        .alias("doc_id"),
        "text",
    )
    return exact_dedup(dup)


def _q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures + first LSH band key (explode + codegen min-agg)."""
    from document_parser_private_spark.operators.dedup import (
        minhash_signatures_agg,
    )
    sig = minhash_signatures_agg(_read(spark, sf_dir, "documents"))
    return sig.select(
        "doc_id",
        F.col("mh_0").alias("minhash_0"),
        F.col("mh_15").alias("minhash_15"),
        F.md5(F.concat_ws(",", "mh_0", "mh_1")).alias("band_0"),
    )


def _q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs-within-bucket Jaccard via the token equi-join
    (bucket_col passed EXPLICITLY: the library default is the LSH-bounded
    path; this query pins the bucketed formulation + its oracle)."""
    from document_parser_private_spark.operators.dedup import jaccard_pairs
    return jaccard_pairs(_read(spark, sf_dir, "documents"), bucket_col="source",
                         threshold=0.5)


def _q_near_dup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from document_parser_private_spark.operators.dedup import embedding_near_dups
    return embedding_near_dups(_read(spark, sf_dir, "embeddings"), threshold=0.35)


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from document_parser_private_spark.operators.similarity import cosine_topk
    return cosine_topk(_read(spark, sf_dir, "embeddings"), n_queries=5, k=10)


def _q_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from document_parser_private_spark.operators.similarity import lsh_buckets
    return lsh_buckets(_read(spark, sf_dir, "embeddings"))


def _q_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/J4: per-source micro P/R/F1 of doc token sets vs the source's
    min-doc token set as ground truth."""
    from document_parser_private_spark.operators.metrics import evaluation_metrics
    d = _read(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source",
        F.array_distinct(
            F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), F.lit(0))
        ).alias("entities"),
    )
    # truth per row from a window over the one scan: a truth aggregate
    # joined back would read documents twice (the r6 form read it 4x),
    # and each read pays its own spread
    truth = F.min_by("entities", "doc_id").over(Window.partitionBy("source"))
    return evaluation_metrics(toks.withColumn("truth_entities", truth),
                              "entities", "truth_entities",
                              group_col="source")


def _q_lineitem_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style aggregate (A-family; partial agg + AQE)."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").cast("long").alias("count_order"),
        )
    )


def _q_order_month_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 duration-in-months analogue over orders."""
    o = _read(spark, sf_dir, "orders")
    span = (
        (F.year(F.max("o_orderdate")) - F.year(F.min("o_orderdate"))) * 12
        + (F.month(F.max("o_orderdate")) - F.month(F.min("o_orderdate")))
    )
    return o.groupBy("o_custkey").agg(
        span.cast("long").alias("month_span"),
        F.count("*").cast("long").alias("n_orders"),
    )


def _q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k per group."""
    c = _read(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            "c_mktsegment", "c_custkey",
            F.round("c_acctbal", 2).alias("acctbal"),
            F.col("rn").cast("long").alias("rank"),
        )
    )


def _q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join star query: broadcast dims, one fact shuffle."""
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    r = _read(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").cast("long").alias("n_orders"),
        )
    )


def _q_events_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _read(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def _q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag: gaps > 30 min start a new session."""
    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; go via TIMESTAMP (session tz pinned to UTC) so
    # the epoch matches DuckDB's epoch() on the naive value
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    flagged = e.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0)),
    )
    return flagged.groupBy("user_id").agg(
        F.sum("new_session").cast("long").alias("n_sessions"),
        F.count("*").cast("long").alias("n_events"),
    )


def _q_pii_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F22: salted sha256 8-hex hash of synthesized emails."""
    from document_parser_private_spark.functions.pii import pii_hash_col
    d = _read(spark, sf_dir, "documents")
    email = F.concat(
        F.lit("user"), F.col("doc_id").cast("string"), F.lit("@example.com")
    )
    return d.select(
        "doc_id", pii_hash_col(email).alias("email_hash")
    )


_DEGREE_SAMPLES = ["B.S.", "MBA", "Masters of Business Admin",
                   "BSc Computer Science", "MS in Computer Science",
                   "PhD", "Engineering Degree", "unknown cert"]
_TITLE_SAMPLES = ["Sr. SWE", "Jr. Dev", "Tech Lead", "VP",
                  "Sr. Tech Lead", "Plain Title", "SDE", "Mgr."]
_DATE_SAMPLES = ["Sep 2020", "Q1 2023", "2024", "May2023",
                 "Present", "no date at all", "2020-07-15", "05/2021"]
_GPA_SAMPLES = ["GPA: 3.5/4.0", "3.8", "GPA 3.5 on a 4.0 scale",
                "GPA: 3.9 out of 4", "no gpa here", "score 2.75 overall",
                "4.0", "gpa unknown"]


def _sample_col(samples: list[str]):
    arr = F.array(*[F.lit(s) for s in samples])
    return F.element_at(arr, (F.pmod(F.col("doc_id"), F.lit(len(samples))) + 1).cast("int"))


def _q_degree_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12/F13 degree abbreviation expansion + grammar chain (native)."""
    from document_parser_private_spark.functions.education import expand_degree_col
    d = _read(spark, sf_dir, "documents").select(
        "doc_id", _sample_col(_DEGREE_SAMPLES).alias("raw_degree")
    )
    return d.select(
        "doc_id", "raw_degree", expand_degree_col(F.col("raw_degree")).alias("degree")
    )


def _q_title_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F19 two-pass title abbreviation expansion (native)."""
    from document_parser_private_spark.functions.experience import expand_title_col
    d = _read(spark, sf_dir, "documents").select(
        "doc_id", _sample_col(_TITLE_SAMPLES).alias("raw_title")
    )
    return d.select(
        "doc_id", "raw_title", expand_title_col(F.col("raw_title")).alias("title")
    )


def _q_date_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F24 deterministic date-parse subset (native)."""
    from document_parser_private_spark.functions.dates import parse_date_col
    d = _read(spark, sf_dir, "documents").select(
        "doc_id", _sample_col(_DATE_SAMPLES).alias("raw_date")
    )
    return d.select(
        "doc_id", "raw_date", parse_date_col(F.col("raw_date")).alias("parsed")
    )


def _q_gpa_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20 GPA extract with scale-indicator veto (native)."""
    from document_parser_private_spark.functions.education import gpa_col
    d = _read(spark, sf_dir, "documents").select(
        "doc_id", _sample_col(_GPA_SAMPLES).alias("raw_gpa")
    )
    return d.select("doc_id", "raw_gpa", gpa_col(F.col("raw_gpa")).alias("gpa"))


def _q_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F23 email masking (native)."""
    from document_parser_private_spark.functions.pii import mask_email_col
    d = _read(spark, sf_dir, "documents")
    email = F.concat(
        F.lit("user"), F.col("doc_id").cast("string"), F.lit("@example.com")
    )
    return d.select(
        "doc_id", mask_email_col(email).alias("masked_email")
    )


def _q_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows (streaming-compatible agg)."""
    from document_parser_private_spark.streaming.stream import (
        windowed_event_counts,
    )
    e = _read(spark, sf_dir, "events")
    out = windowed_event_counts(e)
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type", "n", "avg_value",
    )


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints via textstats.simhash_agg: one per-doc
    mapInArrow bit vote over 60-bit token hashes (exact DuckDB twin)."""
    from document_parser_private_spark.operators.textstats import simhash_agg
    return simhash_agg(_read(spark, sf_dir, "documents"))


def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN top-k (rows-only: bucket-restricted neighbor set)."""
    from document_parser_private_spark.operators.similarity import ann_topk
    return ann_topk(_read(spark, sf_dir, "embeddings"), n_queries=5, k=10)


_SKILLS_SAMPLES = [
    "Languages: Python3, JS / Core Java",
    "Docker Containers; K8s; and; 42",
    "Apache Spark, terraform IaC • ReactJS",
    "unknown skill, SQL queries, x",
    "Amazon Web Services/Flask Framework",
    "GitHub, Unix, SpringBoot, ML",
]


def _q_skill_normalize_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J3 broadcast ontology join canonicalization (exact path; the
    fuzzy-on-miss variant is pipeline-side, pytest-verified)."""
    from document_parser_private_spark.operators.normalize import (
        normalize_skills_join,
    )
    d = _read(spark, sf_dir, "documents").select(
        "doc_id", _sample_col(_SKILLS_SAMPLES).alias("skills_text")
    )
    out = normalize_skills_join(d, fuzzy=False)
    return out.select(
        "doc_id", F.array_join("skills", ",").alias("skills_csv")
    )


def _q_pii_anonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6 full multi-entity anonymization, hash strategy (pandas UDF over
    semantics.anonymize_text: EMAIL+PHONE+SSN recognizers, overlap
    suppression, [TYPE_sha256-8hex] replacement). The corpus tail is
    digit/@-stripped so the only recognizer hits are the constructed
    ones, which the DuckDB twin re-derives with its own sha256."""
    from document_parser_private_spark.operators.pii import anonymize_op
    d = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("contact user"), F.col("doc_id").cast("string"),
            F.lit("@mail.example or 555-123-4567 ssn 123-45-6789 :: "),
            F.regexp_replace(F.substring("text", 1, 40), "[0-9@]", ""),
        ).alias("text"),
    )
    return anonymize_op(d).select("doc_id", "anonymized")


def _q_pii_mask_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F23 in-text email masking as one native regexp_replace."""
    from document_parser_private_spark.operators.pii import mask_emails_col
    d = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("reach user"), F.col("doc_id").cast("string"),
            F.lit("@example.com and admin@test.org :: "),
            F.substring("text", 1, 30),
        ).alias("text"),
    )
    return d.select("doc_id", mask_emails_col(F.col("text")).alias("masked"))


# Single-entry samples (no internal capital-start lines), so the full
# UDF chain — entry split, period split, date parse, degree/field/GPA,
# company/position, duration — is exercised AND DuckDB-twinnable.
_EDU_SAMPLES = [
    "BS in CS from State University, 2015 - 2019, GPA: 3.7",
    "MBA, Tech Institute, Sep 2018 to Jun 2020",
    "PhD Physics, National College, 2010 - Present, GPA 3.9 out of 4",
]
_EXP_SAMPLES = [
    "Acme Corp Inc, software engineer, Jan 2020 - Present. Built pipelines"
    " using Python, Spark",
    "Globex Ltd, data scientist, Mar 2015 to Feb 2018",
    "Initech LLC, project manager, 2019 - 2021",
]


def _q_resume_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/U3/U4 composite: education + experience entry extraction —
    institution/degree/field-of-study (F14)/GPA/dates on the education
    side, company/position/duration-months on the experience side, all
    through the real pandas-UDF extractors; oracled column-by-column in
    DuckDB (period split + date chain replicated in SQL)."""
    from document_parser_private_spark.operators.resume import (
        _education_udf, _experience_udf,
    )
    d = _read(spark, sf_dir, "documents").select(
        "doc_id",
        _sample_col(_EDU_SAMPLES).alias("edu_text"),
        _sample_col(_EXP_SAMPLES).alias("exp_text"),
    )
    out = d.select(
        "doc_id",
        F.element_at(_education_udf(F.col("edu_text")), 1).alias("edu"),
        F.element_at(_experience_udf(F.col("exp_text")), 1).alias("exp"),
    )
    return out.select(
        "doc_id",
        F.col("edu")["institution"].alias("institution"),
        F.col("edu")["degree"].alias("degree"),
        F.col("edu")["field_of_study"].alias("field_of_study"),
        F.col("edu")["gpa"].alias("gpa"),
        F.col("edu")["start_date"].alias("edu_start"),
        F.col("exp")["company"].alias("company"),
        F.col("exp")["position"].alias("position"),
        F.col("exp")["start_date"].alias("exp_start"),
        F.col("exp")["duration_months"].alias("duration_months"),
    )


# Misspelled-skill samples whose fuzzy resolution through the WRatio
# scorer is deterministic; 'Tensorflw' scores below the 80 threshold and
# passes through — the miss case.
_FUZZY_SKILL_SAMPLES = [
    "Pythn; Javascrpt\nDockr",
    "Kuberntes, Reactt; Tensorflw",
    "Sparkk / machne learning; Javva",
    "Postgress, Pythn",
]


def _q_skill_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/U3 fuzzy path: every phrase misses the exact broadcast join and
    resolves through _fuzzy_only_udf (from-scratch WRatio fuzzy scan).
    The DuckDB twin maps each misspelling via a literal table precomputed
    from the same deterministic scorer."""
    from document_parser_private_spark.operators.normalize import (
        normalize_skills_join,
    )
    d = _read(spark, sf_dir, "documents").select(
        "doc_id", _sample_col(_FUZZY_SKILL_SAMPLES).alias("skills_text")
    )
    out = normalize_skills_join(d, fuzzy=True)
    return out.select(
        "doc_id", F.array_join("skills", ",").alias("skills_csv")
    )


def _q_jaccard_on_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB near-dup path end-to-end: minhash -> LSH bands ->
    candidate pairs -> exact token-Jaccard verification on candidates
    only (all-pairs work never happens)."""
    from document_parser_private_spark.operators.dedup import (
        jaccard_on_candidates,
    )
    return jaccard_on_candidates(_read(spark, sf_dir, "documents"))


# Deterministic (pred, truth) text pairs exercising every token_set_ratio
# branch: equal token sets (100), subset (100), two partial-overlap cases,
# a typo resolved by the indel/LCS path, and the empty-pred edge (0).
# _FUZZY_EVAL_SIMS pins the scorer's exact output per pair; the DuckDB
# twin indexes the same literals by doc_id, and
# tests/test_metrics.py::test_fuzzy_eval_pinned_sims asserts the pins
# still equal semantics.token_set_ratio so drift cannot pass silently.
_FUZZY_EVAL_PAIRS = [
    ("data engineer with spark", "spark data engineer"),
    ("python developer", "senior python developer"),
    ("machine learning models", "deep learning pipelines"),
    ("built rest apis in java", "designed java microservices"),
    ("project managment office", "project management office"),
    ("", "quality assurance lead"),
]
_FUZZY_EVAL_SIMS = [
    100.0, 100.0, 60.869565217391305, 48.0, 97.95918367346938, 0.0,
]


def _q_fuzzy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 fuzzy variant (reference evaluation_metrics.py:43): avg/min
    token_set_ratio of predicted vs ground-truth text per source (pandas
    UDF over the joined pairs). Pairs are pinned deterministic samples so
    the Levenshtein-family scorer gets a full value-hash oracle."""
    from document_parser_private_spark.operators.metrics import fuzzy_similarity
    d = _read(spark, sf_dir, "documents").select(
        "doc_id", "source",
        _sample_col([p for p, _ in _FUZZY_EVAL_PAIRS]).alias("pred_text"),
        _sample_col([t for _, t in _FUZZY_EVAL_PAIRS]).alias("truth_text"),
    )
    pred = d.select("doc_id", "source", F.col("pred_text").alias("text"))
    tru = d.select("doc_id", F.col("truth_text").alias("text"))
    return fuzzy_similarity(pred, tru, group_col="source")


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic seeded coarse quantizer + one distributed
    Lloyd step, probe 4/16 cells, exact re-rank inside probed cells."""
    from document_parser_private_spark.operators.similarity import ivf_topk
    return ivf_topk(_read(spark, sf_dir, "embeddings"), n_queries=5, k=10)


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the LSH-verified near-dup graph
    (jaccard >= 0.5): distributed min-label propagation; DuckDB twin
    re-derives the same graph and resolves components with a recursive
    reachability CTE."""
    from document_parser_private_spark.operators.dedup import dedup_clusters
    return dedup_clusters(_read(spark, sf_dir, "documents"), threshold=0.5)


def _q_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full LSH path: minhash sig -> 8 bands -> self-join on band bucket
    -> distinct candidate pairs. The shuffle carries only (doc_id,
    band_idx, band_key) — never text or shingles."""
    from document_parser_private_spark.operators.dedup import minhash_candidates
    return minhash_candidates(_read(spark, sf_dir, "documents"))


def _q_layout_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U7 layout pass oracle (semantics.layout_reading_order via
    operators.layout.layout_order_op): two-column docs with jittered
    baselines, synthesized deterministically from doc_id with pure
    integer arithmetic the DuckDB twin replays in SQL.

    Per doc, 12 spans at array positions j=0..11 hold logical span
    i=(5j+doc_id)%12 (a bijection, so input order != reading order);
    geometry g=i (except i=11 reuses g=10 — an exact (y,x) tie broken by
    stored position): row=g%6, col = g>=6 (docs with doc_id%3==0 are
    single-column), y = 10*row + (doc_id + (g%4>=2)) % 2 (left/right
    jitter parity flips, so merged line clusters span both columns),
    x = 20 + 3*((doc_id+g)%5) (+480 in the right column; gutter gap
    ~468 >= GUTTER_MIN, 6 spans per side >= COL_MIN_SPANS). Output:
    (doc_id, pos, text) with pos = layout reading order 0..11."""
    from document_parser_private_spark.operators.layout import layout_order_op
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")

    def span_at(j):
        i = (j * 5 + did) % 12
        g = F.when(i == 11, F.lit(10)).otherwise(i)
        single = (did % 3) == 0
        jitter = (did + F.when(g % 4 >= 2, 1).otherwise(0)) % 2
        y = (g % 6) * 10 + jitter
        xbase = F.lit(20) + ((did + g) % 5) * 3
        x = F.when((g >= 6) & ~single, xbase + 480).otherwise(xbase)
        return F.struct(
            F.lit("text").alias("kind"),
            F.concat(F.lit("s"), i.cast("string")).alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            (y * 1024 + x).cast("int").alias("offset"),
        )

    df = d.withColumn("spans", F.transform(F.sequence(F.lit(0), F.lit(11)),
                                           span_at))
    out = layout_order_op(df, "spans")
    return out.select(
        "doc_id", F.posexplode("spans").alias("pos", "s")
    ).select("doc_id", F.col("pos").cast("int").alias("pos"),
             F.col("s.text").alias("text"))


# Pinned samples for the deterministic NER slot (U5): ORG suffix shapes,
# both institution shapes, title-list hits, gazetteer LOCs (unigram and
# bigram), capitalized non-entities that must NOT match, and one
# zero-entity doc.
_NER_SAMPLES = [
    "Worked at Acme Widgets Inc as a software engineer in New York",
    "Graduated from University of Cape Town then joined DataCorp Ltd",
    "Senior consultant at Keystone Group, based in Berlin, Germany",
    "Stanford University alumni; data scientist, now in Tokyo",
    "no entities here, just plain lowercase text about nothing",
    "Project manager at Northwind Trading Company and Delta Analytics"
    " LLC in Toronto",
    "Relocated from New York City to Salt Lake City as an analyst for"
    " Pacific Rim Trading Co",
]


def _q_ner_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 deterministic NER slot: ORG (company-suffix + institution
    shapes), JOB_TITLE (reference fallback list), LOC (capitalized
    candidates x broadcast gazetteer). DuckDB twin replays the same
    regexes + gazetteer IN-list."""
    from document_parser_private_spark.operators.ner import ner_extract
    d = _read(spark, sf_dir, "documents").select(
        "doc_id", _sample_col(_NER_SAMPLES).alias("text")
    )
    out = ner_extract(d)
    return out.select("doc_id", "entity_group",
                      F.col("match_idx").cast("int").alias("match_idx"),
                      "entity")


_SAMPLE_FRACTIONS = {"en": 0.5, "de": 0.25, "fr": 0.1}


def _q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality rules over the documents table: per-rule
    verdict columns + conjunctive keep (all native codegen)."""
    from document_parser_private_spark.operators.curation import quality_filter
    out = quality_filter(_read(spark, sf_dir, "documents"))
    flags = ["ok_words", "ok_word_len", "ok_symbols", "ok_stopwords",
             "ok_bullets", "keep"]
    return out.select(
        "doc_id", "n_words", "mean_word_len", "symbol_ratio", "stop_hits",
        "bullet_ratio", *[F.col(c).cast("int").alias(c) for c in flags],
    )


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucket stratified sampling by lang — no
    randomness, exactly reproducible, shuffle-free."""
    from document_parser_private_spark.operators.curation import (
        stratified_sample,
    )
    out = stratified_sample(_read(spark, sf_dir, "documents"), _SAMPLE_FRACTIONS,
                            strata_col="lang", default_fraction=0.05)
    return out.select("doc_id", "lang")


def _q_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-dedup representative selection: argmax quality_score per
    near-dup cluster (ties -> min doc_id), with member counts."""
    from document_parser_private_spark.operators.curation import (
        cluster_representatives,
    )
    return cluster_representatives(_read(spark, sf_dir, "documents"), threshold=0.5)


def _q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (dup-line fractions + dominant
    bigram share) over documents with injected line repetition so every
    signal has non-trivial values."""
    from document_parser_private_spark.operators.trainprep import (
        repetition_stats,
    )
    d = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.substring("text", 1, 100),
            F.substring("text", 1, 100),
            F.substring("text", 101, 150),
        ).alias("text"),
    )
    return repetition_stats(d)


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-test contamination check: 8-token-gram overlap vs a
    benchmark slice carved from every 97th document (guaranteed hits
    for those docs, misses elsewhere). Benchmark gram set broadcast."""
    from document_parser_private_spark.operators.trainprep import (
        decontaminate,
    )
    d = _read(spark, sf_dir, "documents")
    # the slice comes from the corpus read, so it shares its spread
    # exchange instead of paying a second one
    bench = d.where(
        F.pmod(F.col("doc_id"), F.lit(97)) == 0
    ).select(F.substring("text", 41, 400).alias("text"))
    out = decontaminate(d, bench, n=8)
    return out.select(
        "doc_id", "n_hits",
        F.col("contaminated").cast("int").alias("contaminated"),
    )


def _q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (64-token windows, 16 overlap) — training
    sequence prep; zero-shuffle explode of bound token arrays."""
    from document_parser_private_spark.operators.trainprep import (
        chunk_documents,
    )
    return chunk_documents(_read(spark, sf_dir, "documents"), chunk_tokens=64,
                           overlap=16)


def _q_event_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click event matched to the same user's most
    recent purchase at-or-before it (union + one window per user_id —
    single shuffle, no range explosion). NULL columns where the user
    has no prior purchase."""
    from document_parser_private_spark.operators.asof import asof_join
    ev = _read(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value")
    return asof_join(clicks, purchases, on=["user_id"],
                     left_ts="ts", right_ts="ts",
                     right_cols=["event_id", "value"])


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup-style embedding dedup: hyperplane-LSH buckets, in-bucket
    cosine >= 0.2, drop everything with a lower-id similar neighbor
    (dup_of = that neighbor; keepers are each group's min id)."""
    from document_parser_private_spark.operators.similarity import (
        semantic_dedup,
    )
    out = semantic_dedup(_read(spark, sf_dir, "embeddings"), threshold=0.2)
    return out.select(
        "vec_id", F.col("keep").cast("int").alias("keep"), "dup_of",
    )


def _q_cross_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus dedup screen: a shifted-id copy of documents (the
    'new' corpus) checked against every 7th document (the 'reference'
    corpus) — every 7th new doc matches its identity twin, plus genuine
    near-dups; both sides exact-collapse before banding."""
    from document_parser_private_spark.operators.dedup import (
        cross_corpus_dedup,
    )
    d = _read(spark, sf_dir, "documents")
    new = d.select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    ref = d.where(F.pmod(F.col("doc_id"), F.lit(7)) == 0) \
        .select("doc_id", "text")
    out = cross_corpus_dedup(new, ref, threshold=0.5)
    return out.select(
        "doc_id", "n_ref_matches", "ref_id",
        F.col("is_dup").cast("int").alias("is_dup"),
    )


def _q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog distinct-token estimate per source
    (md5 registers, m=256), joined against the exact count so the
    oracle verifies both the sketch arithmetic and its error. The
    sketch shuffles <= 256 rows per group regardless of cardinality —
    the 100 TB replacement for count(distinct)."""
    from document_parser_private_spark.operators.sketch import hll_distinct
    from document_parser_private_spark.operators.textstats import WORD_RE
    # distinct (source, token) ONCE, shared by both branches: HLL
    # registers are max-aggregates so duplicates never change them, and
    # the exact branch is a plain count over the distinct pairs — so
    # the md5/conv/bin register math runs per DISTINCT value instead of
    # per token instance (2.75M -> vocab-bounded rows at 50k docs) and
    # the corpus is tokenized once, not once per branch (PLANS.md §21).
    tok = _read(spark, sf_dir, "documents").select(
        "source",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(WORD_RE), F.lit(0))
        ).alias("token"),
    ).distinct().persist()
    try:
        est = hll_distinct(tok, ["source"], "token")
        exact = tok.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_exact")
        )
        return est.join(exact, "source").select(
            "source",
            F.col("n_exact").cast("long").alias("n_exact"),
            "hll_estimate",
            "hll_registers",
            F.round(
                F.abs(F.col("hll_estimate") - F.col("n_exact"))
                / F.col("n_exact"),
                4,
            ).alias("rel_err"),
        ).localCheckpoint()
    finally:
        tok.unpersist()


def _q_cm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters: build the (4 x 1024) counter
    table over all token occurrences, then point-query the top-20
    tokens (by exact count) and report sketch-vs-exact. cm_count >=
    exact always; is_exact flags collision-free cells."""
    from document_parser_private_spark.operators.sketch import (
        cm_estimate,
        count_min_sketch,
    )
    from document_parser_private_spark.operators.textstats import WORD_RE
    tok = _read(spark, sf_dir, "documents").select(
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(WORD_RE), F.lit(0))
        ).alias("token")
    )
    sketch = count_min_sketch(tok, "token")
    # exact feeds top, which feeds BOTH the estimate probe and the
    # final join — without the persist the whole token-count subtree
    # re-derives per reference (PLANS.md §21; this query audited at 6
    # corpus scans, now 2: one for the sketch, one for exact counts).
    exact = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("exact")).persist()
    top = exact.orderBy(F.desc("exact"), F.asc("token")).limit(20)
    est = cm_estimate(
        sketch, top.select(F.col("token").alias("item")), "item"
    )
    out = (
        top.join(est, top.token == est.item)
        .select(
            "token",
            F.col("exact").cast("long").alias("exact"),
            "cm_count",
            (F.col("cm_count") == F.col("exact")).cast("int").alias(
                "is_exact"
            ),
        )
    )
    try:
        out = out.localCheckpoint()
    finally:
        exact.unpersist()
    return out


def _q_zorder_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton / Z-order codes over (n_chars, doc_id) — the lakehouse
    two-dimensional clustering key, bit-interleaved natively; the twin
    re-derives the identical interleave arithmetic."""
    from document_parser_private_spark.functions.zorder import (
        zorder_code_col,
    )
    d = _read(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        zorder_code_col(F.col("n_chars"), F.col("doc_id")).alias("zcode"),
    )


def _q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc model-token budget under the static DEFAULT_MERGES BPE
    table (operators/bpe.py): canonical priority merging applied to each
    DISTINCT word once (vocab-bounded cost), counts broadcast-joined
    back and summed per doc. The twin replays the identical merge loop
    with a recursive CTE over ranks (same trick as pack_sequences)."""
    from document_parser_private_spark.operators.bpe import bpe_token_counts
    return bpe_token_counts(_read(spark, sf_dir, "documents")).select(
        "doc_id", "n_words", "n_bpe"
    )


def _q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-grid quantile sketch over documents.n_chars per
    source: integer-arithmetic buckets (exactly portable across
    engines), per-group histogram counts crossing the shuffle instead
    of raw values, estimates read off the cumulative grid next to the
    exact percentile and the absolute error."""
    from document_parser_private_spark.operators.sketch import (
        quantile_sketch,
    )
    return quantile_sketch(
        _read(spark, sf_dir, "documents"), value_col="n_chars", group_cols=["source"]
    )


def _q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped inverted index over documents: (term, df, cf, first-20
    postings csv) for terms in >= 5 docs; the posting cap applies
    before any aggregation buffer fills."""
    from document_parser_private_spark.operators.ranking import (
        inverted_index,
    )
    return inverted_index(_read(spark, sf_dir, "documents"), min_df=5, max_postings=20)


def _q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM corpus self-scoring (CCNet-style quality signal):
    train add-0.5 smoothed bigram model on documents, score each doc's
    mean bigram log-prob + pseudo-perplexity."""
    from document_parser_private_spark.operators.lm import lm_score
    return lm_score(_read(spark, sf_dir, "documents"))


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy training-sequence packing over the 64/16 token chunks:
    per-doc chunks fold into 200-token-budget sequences (oversized
    chunks get their own sequence)."""
    from document_parser_private_spark.operators.trainprep import (
        chunk_documents, pack_sequences,
    )
    chunks = chunk_documents(_read(spark, sf_dir, "documents"), chunk_tokens=64,
                             overlap=16)
    return pack_sequences(chunks, budget_tokens=200)


def _q_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus trigram count table with min-count pruning (count-based
    LM / template-mining raw material): occurrence count + document
    frequency per surviving gram."""
    from document_parser_private_spark.operators.lm import ngram_counts
    return ngram_counts(_read(spark, sf_dir, "documents"), n=3, min_count=5)


_MIXTURE_WEIGHTS = {"en": 0.5, "de": 0.2, "fr": 0.3}


def _q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus-mixture sampling by lang: output
    proportions match the target weights at the largest achievable
    total (scarcest source keeps everything); md5-bucket row
    selection, rerun-identical."""
    from document_parser_private_spark.operators.curation import (
        mixture_sample,
    )
    out = mixture_sample(_read(spark, sf_dir, "documents"), _MIXTURE_WEIGHTS,
                         source_col="lang")
    return out.select("doc_id", "lang")


def _q_part_outlier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style decorrelated aggregate: revenue from lineitems
    whose quantity is below 0.2x their part's average quantity —
    correlated subquery rewritten as one per-part window, then a
    broadcast join to part for the brand rollup."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    wp = Window.partitionBy("l_partkey")
    flt = li.withColumn("aq", F.avg("l_quantity").over(wp)).where(
        F.col("l_quantity") < F.lit(0.2) * F.col("aq")
    )
    return (
        flt.join(F.broadcast(part), flt.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count("*").cast("long").alias("n_lines"),
        )
        .select("p_brand", "avg_yearly", "n_lines")
    )


def _q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed 5-iteration PageRank over a deterministic synthetic link
    graph on documents (3 out-links per doc at (id*7+j) % N; every
    11th doc is a dangling sink so the dangling-mass redistribution
    path is exercised). DuckDB twin unrolls the same 5 iterations as
    a CTE chain — full hash oracle for an iterative algorithm."""
    from document_parser_private_spark.operators.graph import pagerank
    d = _read(spark, sf_dir, "documents").select("doc_id")
    n = d.count()
    src = d.where(F.pmod(F.col("doc_id"), F.lit(11)) != 0)
    edges = src.select(
        F.col("doc_id").alias("src"),
        F.explode(
            F.array(
                *[
                    F.pmod(F.col("doc_id") * 7 + j, F.lit(n))
                    for j in (1, 2, 3)
                ]
            )
        ).alias("dst"),
    )
    pr = pagerank(edges, iterations=5)
    return pr.select(F.col("node").alias("doc_id"), "pagerank")


def _q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP aggregate (returnflag -> linestatus -> grand
    total) — Spark's rollup() against DuckDB GROUP BY ROLLUP; subtotal
    levels surface as 'ALL'. One shuffle; Spark expands grouping sets
    map-side with partial aggregation."""
    li = _read(spark, sf_dir, "lineitem")
    # Sum an exact DECIMAL per-row term (not raw doubles): double sums
    # are order-dependent, and at larger SFs the accumulated ulp error
    # on the grand total can cross the 0.005 rounding boundary between
    # engines. DECIMAL(18,4) summands make the total order-independent;
    # the twin casts identically.
    rev_term = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).cast("decimal(18,4)")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(rev_term), 2).cast("double").alias("revenue"),
            F.count("*").cast("long").alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "revenue",
            "n_rows",
        )
    )


def _q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles of document length per source
    (Spark SQL percentile() vs DuckDB quantile_cont — identical linear
    interpolation). Exact percentile shuffles the group's values; for
    the sketch-based scale path see hll_distinct's module note."""
    d = _read(spark, sf_dir, "documents")
    q = d.groupBy("source").agg(
        F.expr(
            "percentile(n_chars, array(0.25D, 0.5D, 0.75D, 0.95D))"
        ).alias("qs"),
        F.count("*").cast("long").alias("n_docs"),
    )
    return q.select(
        "source",
        F.round(F.element_at("qs", 1), 4).alias("p25"),
        F.round(F.element_at("qs", 2), 4).alias("p50"),
        F.round(F.element_at("qs", 3), 4).alias("p75"),
        F.round(F.element_at("qs", 4), 4).alias("p95"),
        "n_docs",
    )


def _q_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate-line removal over documents with injected
    corpus-wide footers (one shared by all docs, one shared by each
    doc_id%3 cohort) plus a per-doc unique 'ref N' line that must
    survive. Output text is md5'd to keep the oracle compare light."""
    from document_parser_private_spark.operators.curation import (
        strip_boilerplate,
    )
    d = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\nSubscribe to our newsletter"),
            F.lit("\nCopyright Example Corp "),
            F.pmod(F.col("doc_id"), F.lit(3)).cast("string"),
            F.lit("\nref "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    out = strip_boilerplate(d, min_docs=10)
    return out.select(
        "doc_id",
        "n_lines",
        "n_removed",
        F.md5("clean_text").alias("clean_md5"),
    )


def _q_bm25_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 BM25 terms per document over the raw corpus — pure
    codegen tf/df aggregations, 1-row broadcast for corpus stats,
    doc-key window for top-k."""
    from document_parser_private_spark.operators.ranking import (
        bm25_top_terms,
    )
    return bm25_top_terms(_read(spark, sf_dir, "documents"), k=3)


def _q_incident_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized range join (operators/rangejoin.py): every 'error'
    event opens a 15-minute incident window; all of the same user's
    events falling in [start, start+900s) attach to it. The range
    predicate becomes an equi-join on (user_id, time bucket) — a plan
    Catalyst can hash-join and AQE can skew-split — instead of the
    per-key cross product a raw theta-join degrades to."""
    from document_parser_private_spark.operators.rangejoin import range_join
    ev = _read(spark, sf_dir, "events")
    ts_s = F.unix_timestamp(F.col("ts"))
    pts = ev.select("user_id", "event_id", "value", ts_s.alias("ts_s"))
    iv = ev.where(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("incident_id"),
        ts_s.alias("start_s"),
        (ts_s + F.lit(900)).alias("end_s"),
    )
    j = range_join(pts, iv, on=["user_id"], point_col="ts_s",
                   start_col="start_s", end_col="end_s", bucket_width=900)
    return j.groupBy("incident_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double").alias("sum_value"),
    )


def _q_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bloom-filter semi-join reduction
    (operators/bloom.py): filter built from BUILDING-segment customer
    keys (m=4096 bits, k=3 md5 hashes), orders probed scan-side with
    zero probe shuffles. Emits bloom_pass next to the exact membership
    so the oracle verifies both the bit arithmetic and the achieved
    false-positive set."""
    from document_parser_private_spark.operators.bloom import (
        bloom_build, bloom_prune,
    )
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    seg = cust.where(F.col("c_mktsegment") == "BUILDING")
    bloom = bloom_build(seg, "c_custkey", m_bits=4096, k=3)
    # the one spread outside _read: orders rows are narrow, but the
    # probe computes 3 md5 hashes per row, which a 1-2 split scan runs
    # on 1-2 cores (PLANS.md §24; 10x dir: 3.5 s spread, 5.5-6.0 s not)
    pruned = bloom_prune(
        _spread(orders.select("o_orderkey", "o_custkey"), spark),
        "o_custkey", bloom, m_bits=4096, k=3,
    )
    member = seg.select(F.col("c_custkey").alias("o_custkey")).distinct() \
        .withColumn("is_member", F.lit(1))
    return pruned.join(F.broadcast(member), "o_custkey", "left").select(
        "o_orderkey",
        "bloom_pass",
        F.coalesce(F.col("is_member"), F.lit(0)).alias("is_member"),
    )


def _q_lexical_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc lexical-diversity curation signals: token entropy
    (bits), type-token ratio, hapax fraction — doc_id-prefixed
    aggregation keys, nothing crosses documents."""
    from document_parser_private_spark.operators.textstats import (
        lexical_stats,
    )
    return lexical_stats(_read(spark, sf_dir, "documents"))


def _q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted reservoir sample (A-Res ordering, md5 key
    stream as the RNG): 5 docs per source, inclusion probability
    proportional to n_chars; exact two-phase salted top-k so no group
    is ever sorted whole at one reducer."""
    from document_parser_private_spark.operators.curation import (
        weighted_sample,
    )
    out = weighted_sample(_read(spark, sf_dir, "documents"), k=5, weight_col="n_chars",
                          group_cols=["source"])
    return out.select("doc_id", "source", "sample_score",
                      F.col("sample_rank").cast("int").alias("sample_rank"))


def _q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered signup -> click -> purchase funnel per user: earliest
    valid timestamp at each stage (greedy-earliest maximizes
    completions), one user-keyed hash aggregation per stage — no
    per-user buffers, no self-join explosion."""
    from document_parser_private_spark.operators.funnel import funnel
    return funnel(_read(spark, sf_dir, "events"),
                  stages=["signup", "click", "purchase"])


def _q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention over the events stream (the synthetic
    events span one month, so day is the informative granularity):
    (user, day) activity collapses via DISTINCT before any join,
    cohort sizes are a broadcast dim — hot users cost one row per
    active day."""
    from document_parser_private_spark.operators.funnel import (
        cohort_retention,
    )
    return cohort_retention(_read(spark, sf_dir, "events"),
                            granularity="day")


def _q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over a
    deterministic synthetic link graph on documents (undirected edges
    doc -> doc+{1,2,4} mod N — triangle-rich by construction). Degree
    orientation bounds wedge generation at O(m^1.5) regardless of hub
    skew; each triangle found once at its lowest-(deg,id) apex."""
    from document_parser_private_spark.operators.graph import (
        triangle_count,
    )
    d = _read(spark, sf_dir, "documents").select("doc_id")
    n = d.count()
    edges = d.select(
        F.col("doc_id").alias("src"),
        F.explode(
            F.array(
                *[F.pmod(F.col("doc_id") + k, F.lit(n)) for k in (1, 2, 4)]
            )
        ).alias("dst"),
    )
    tc = triangle_count(edges)
    return tc.select(F.col("node").alias("doc_id"), "degree",
                     "triangles", "clustering")


def _q_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-safe train/val split: near-dup clusters (from
    dedup_clusters min-label propagation) are assigned to a side
    WHOLE, by md5 bucket of the cluster id — a val doc can never have
    a near-duplicate in train, and reruns are bit-identical."""
    from document_parser_private_spark.operators.dedup import (
        dedup_clusters,
    )
    from document_parser_private_spark.operators.trainprep import (
        cluster_split,
    )
    clusters = dedup_clusters(_read(spark, sf_dir, "documents"), threshold=0.5)
    return cluster_split(clusters, val_frac=0.1)


def _q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication coverage (Lee et al. 2022): rolling
    10-token windows hashed, windows occurring >= 2x anywhere in the
    corpus flagged, overlapping flagged windows merged into maximal
    per-doc duplicated regions. Catches boilerplate paragraphs inside
    otherwise-unique documents, which doc-level dedup misses."""
    from document_parser_private_spark.operators.trainprep import (
        duplicated_substrings,
    )
    return duplicated_substrings(
        _read(spark, sf_dir, "documents").select("doc_id", "text"), n=10
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Order is deliberate (r5 VERDICT #1): the external harness records
    # correctness rows for a bounded prefix of this dict, and the first
    # 24 keys below had only local-oracle evidence for two rounds; they
    # rotate to the front, followed by a representative core of the
    # pipeline/dedup/similarity queries. All 74 remain declared and
    # locally verified at three SFs (tools/check_oracle.py).
    return {
        "bm25_terms": _q_bm25_terms,
        "strip_boilerplate": _q_strip_boilerplate,
        "revenue_rollup": _q_revenue_rollup,
        "length_quantiles": _q_length_quantiles,
        "pagerank": _q_pagerank,
        "inverted_index": _q_inverted_index,
        "lm_score": _q_lm_score,
        "ngram_counts": _q_ngram_counts,
        "pack_sequences": _q_pack_sequences,
        "mixture_sample": _q_mixture_sample,
        "part_outlier_revenue": _q_part_outlier_revenue,
        "cm_heavy_hitters": _q_cm_heavy_hitters,
        "zorder_codes": _q_zorder_codes,
        "bpe_tokens": _q_bpe_tokens,
        "quantile_sketch": _q_quantile_sketch,
        "incident_window_join": _q_incident_window_join,
        "bloom_prune": _q_bloom_prune,
        "lexical_stats": _q_lexical_stats,
        "weighted_sample": _q_weighted_sample,
        "event_funnel": _q_event_funnel,
        "triangle_count": _q_triangle_count,
        "cluster_split": _q_cluster_split,
        "cohort_retention": _q_cohort_retention,
        "substring_dedup": _q_substring_dedup,
        "contact_extract": _q_contact_extract,
        "textstats": _q_textstats,
        "resume_entities": _q_resume_entities,
        "skill_fuzzy_join": _q_skill_fuzzy_join,
        "layout_order": _q_layout_order,
        "ner_entities": _q_ner_entities,
        "pii_anonymize": _q_pii_anonymize,
        "exact_dedup": _q_exact_dedup,
        "minhash": _q_minhash,
        "minhash_candidates": _q_minhash_candidates,
        "jaccard_on_candidates": _q_jaccard_on_candidates,
        "dedup_clusters": _q_dedup_clusters,
        "semantic_dedup": _q_semantic_dedup,
        "cross_corpus_dedup": _q_cross_corpus_dedup,
        "simhash": _q_simhash,
        "cosine_topk": _q_cosine_topk,
        "ivf_topk": _q_ivf_topk,
        "ann_topk": _q_ann_topk,
        "lsh_buckets": _q_lsh_buckets,
        "near_dup_embeddings": _q_near_dup_embeddings,
        "hll_distinct": _q_hll_distinct,
        "eval_metrics": _q_eval_metrics,
        "event_sessions": _q_event_sessions,
        "event_windows": _q_event_windows,
        "quality_filter": _q_quality_filter,
        "stratified_sample": _q_stratified_sample,
        "summary_trunc": _q_summary_trunc,
        "token_histogram": _q_token_histogram,
        "dominant_token": _q_dominant_token,
        "distinct_sources": _q_distinct_sources,
        "jaccard_pairs": _q_jaccard_pairs,
        "lineitem_agg": _q_lineitem_agg,
        "order_month_span": _q_order_month_span,
        "top_customers": _q_top_customers,
        "region_revenue": _q_region_revenue,
        "events_by_type": _q_events_by_type,
        "pii_hash": _q_pii_hash,
        "degree_expansion": _q_degree_expansion,
        "title_expansion": _q_title_expansion,
        "date_parse": _q_date_parse,
        "gpa_extract": _q_gpa_extract,
        "pii_mask": _q_pii_mask,
        "fuzzy_eval": _q_fuzzy_eval,
        "skill_normalize_join": _q_skill_normalize_join,
        "pii_mask_text": _q_pii_mask_text,
        "cluster_representatives": _q_cluster_representatives,
        "repetition_stats": _q_repetition_stats,
        "decontaminate": _q_decontaminate,
        "chunk_documents": _q_chunk_documents,
        "event_asof": _q_event_asof,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB). regexp_replace needs the 'g' flag in DuckDB;
# rounding mirrors the Spark side digit-for-digit.
# ---------------------------------------------------------------------------

_STOP_PAT = r"\b(the|a|of|and|to|in|is|it|for|on)\b"
_LANGS_SQL = {
    "en": r"\b(the|and|of|to|a|in|is)\b",
    "de": r"\b(der|die|das|und|ist|nicht|ein)\b",
    "fr": r"\b(le|la|les|et|est|une|dans)\b",
    "es": r"\b(el|los|las|es|una|para|por)\b",
    "zh": r"\b(de|shi|bu|le|zai|you|he)\b",
}

_TEXTSTATS_SQL = f"""
WITH base AS (
  SELECT doc_id, text,
    len(regexp_extract_all(text, '{_WORD_SQL}')) AS tokens,
    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9{_TWSI}]')) AS bpe_tokens,
    len(regexp_extract_all(lower(text), '{_STOP_PAT}')) AS stop_hits,
    len(regexp_extract_all(text, '[^A-Za-z0-9{_TWSI}]')) AS punct,
    length(text) AS chars,
    {', '.join(f"len(regexp_extract_all(lower(text), '{pat}')) AS s_{lang}" for lang, pat in _LANGS_SQL.items())}
  FROM documents
)
SELECT doc_id,
  tokens::BIGINT AS tokens,
  bpe_tokens::BIGINT AS bpe_tokens,
  round(
    least(tokens / 100.0, 1.0) * 0.4
    + least(stop_hits * 5.0 / greatest(tokens, 1), 1.0) * 0.3
    + (1.0 - least(punct * 4.0 / greatest(chars, 1), 1.0)) * 0.3, 6
  ) AS quality_score,
  CASE
    WHEN s_en >= greatest(s_en, s_de, s_fr, s_es, s_zh) AND s_en > 0 THEN 'en'
    WHEN s_de >= greatest(s_de, s_fr, s_es, s_zh) AND s_de > 0 THEN 'de'
    WHEN s_fr >= greatest(s_fr, s_es, s_zh) AND s_fr > 0 THEN 'fr'
    WHEN s_es >= greatest(s_es, s_zh) AND s_es > 0 THEN 'es'
    WHEN s_zh > 0 THEN 'zh'
    ELSE 'und'
  END AS lang_guess,
  md5(regexp_replace(regexp_replace(lower(text), '{_PWS}+', ' ', 'g'), '^ | $', '', 'g')) AS fingerprint
FROM base
"""

_SUMMARY_SQL = f"""
WITH c AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(text || '. tail end', '{_PWS}+', ' ', 'g'),
                   '^{_PWS}+|{_PWS}+$', '', 'g') AS cleaned
  FROM documents
), p AS (
  SELECT doc_id, cleaned, substr(cleaned, 1, 500) AS prefix FROM c
), r AS (
  SELECT doc_id, cleaned, prefix,
    CASE WHEN strpos(reverse(prefix), '.') > 0
         THEN length(prefix) - strpos(reverse(prefix), '.') + 1
         ELSE 0 END AS last_period
  FROM p
)
SELECT doc_id,
  CASE WHEN length(cleaned) <= 500 THEN cleaned
       WHEN last_period > 1 THEN substr(cleaned, 1, last_period)
       ELSE substr(cleaned, 1, 497) || '...' END AS summary
FROM r
"""

def _minhash_ctes(src: str = "documents", pre: str = "") -> str:
    from document_parser_private_spark.operators.dedup import (
        MINHASH_A, MINHASH_B, MINHASH_P,
    )
    a = ", ".join(str(x) for x in MINHASH_A)
    b = ", ".join(str(x) for x in MINHASH_B)
    return f"""
WITH {pre}consts AS (
  SELECT [{a}] AS pa, [{b}] AS pb
), words AS (
  SELECT doc_id, regexp_extract_all(text, '{_WORD_SQL}') AS w FROM {src}
), sh AS (
  SELECT doc_id,
    CASE WHEN len(w) >= 3
         THEN [array_to_string(w[i:i+2], ' ') for i in generate_series(1, len(w) - 2)]
         ELSE [array_to_string(w, ' ')] END AS shingles
  FROM words
), hs AS (
  SELECT doc_id,
    [CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) % {MINHASH_P} for s in shingles] AS hh
  FROM sh
), sig AS (
  SELECT doc_id,
    [list_min([(pa[i+1] * h + pb[i+1]) % {MINHASH_P} for h in hh])
     for i in generate_series(0, 15)] AS sig
  FROM hs, consts
)
"""

_MINHASH_SQL = _minhash_ctes() + """
SELECT doc_id,
  sig[1] AS minhash_0,
  sig[16] AS minhash_15,
  md5(sig[1]::VARCHAR || ',' || sig[2]::VARCHAR) AS band_0
FROM sig
"""

# The guarded-path twins mirror minhash_candidates' default semantics
# EXACTLY (operators/dedup.py): only one representative per distinct
# md5(text) is banded, exact duplicates star-link to their
# representative, buckets over max_bucket=64 members degrade to star
# linking through the bucket min id. Parity therefore holds at any
# scale/corpus, not just when no bucket happens to exceed the cap.
_REPS_PRE = """reps AS (
  SELECT md5(text) AS fp, min(doc_id) AS doc_id, any_value(text) AS text
  FROM documents GROUP BY md5(text)
), dup_star AS (
  SELECT r.doc_id AS id_a, d.doc_id AS id_b
  FROM documents d JOIN reps r ON md5(d.text) = r.fp
  WHERE d.doc_id <> r.doc_id
), """

_PAIRS_GUARDED = """
, banded AS (
  SELECT doc_id, b AS band_idx,
    md5(sig[2*b+1]::VARCHAR || ',' || sig[2*b+2]::VARCHAR) AS band_key
  FROM sig, generate_series(0, 7) AS t(b)
), b2 AS (
  SELECT doc_id, band_idx, band_key,
    count(*) OVER (PARTITION BY band_idx, band_key) AS c,
    min(doc_id) OVER (PARTITION BY band_idx, band_key) AS mn
  FROM banded
), pairs AS (
  SELECT DISTINCT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM b2 a JOIN b2 b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
    WHERE a.c <= 64
    UNION ALL
    SELECT mn AS id_a, doc_id AS id_b FROM b2 WHERE c > 64 AND doc_id <> mn
    UNION ALL
    SELECT id_a, id_b FROM dup_star
  )
)
"""

_MINHASH_CANDIDATES_SQL = (
    _minhash_ctes(src="reps", pre=_REPS_PRE) + _PAIRS_GUARDED
    + "SELECT id_a, id_b FROM pairs"
)

_IVF_TOPK_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
), seeds AS (
  SELECT vec_id AS cell, vec AS cvec FROM e WHERE vec_id < 16
), asg AS (
  SELECT vec_id, vec, cell FROM (
    SELECT e.vec_id, e.vec, s.cell,
      round(
        list_sum([e.vec[i] * s.cvec[i] for i in generate_series(1, len(e.vec))])
        / (sqrt(list_sum([x * x for x in e.vec])) * sqrt(list_sum([x * x for x in s.cvec]))),
      6) AS aff,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY round(
        list_sum([e.vec[i] * s.cvec[i] for i in generate_series(1, len(e.vec))])
        / (sqrt(list_sum([x * x for x in e.vec])) * sqrt(list_sum([x * x for x in s.cvec]))),
      6) DESC, s.cell ASC) AS rn
    FROM e CROSS JOIN seeds s
  ) WHERE rn = 1
), cent AS (
  SELECT cell, list(m ORDER BY pos) AS cvec FROM (
    SELECT cell, i AS pos, avg(vec[i]) AS m
    FROM asg, generate_series(1, 64) AS t(i)
    GROUP BY cell, i
  ) GROUP BY cell
), table2 AS (
  SELECT vec_id, vec, cell FROM (
    SELECT e.vec_id, e.vec, c.cell,
      round(
        list_sum([e.vec[i] * c.cvec[i] for i in generate_series(1, len(e.vec))])
        / (sqrt(list_sum([x * x for x in e.vec])) * sqrt(list_sum([x * x for x in c.cvec]))),
      6) AS aff,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY round(
        list_sum([e.vec[i] * c.cvec[i] for i in generate_series(1, len(e.vec))])
        / (sqrt(list_sum([x * x for x in e.vec])) * sqrt(list_sum([x * x for x in c.cvec]))),
      6) DESC, c.cell ASC) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn = 1
), probes AS (
  SELECT query_id, qvec, cell FROM (
    SELECT q.vec_id AS query_id, q.vec AS qvec, c.cell,
      row_number() OVER (PARTITION BY q.vec_id ORDER BY round(
        list_sum([q.vec[i] * c.cvec[i] for i in generate_series(1, len(q.vec))])
        / (sqrt(list_sum([x * x for x in q.vec])) * sqrt(list_sum([x * x for x in c.cvec]))),
      6) DESC, c.cell ASC) AS rn
    FROM table2 q CROSS JOIN cent c WHERE q.vec_id < 5
  ) WHERE rn <= 4
), scored AS (
  SELECT p.query_id, t.vec_id AS neighbor_id,
    round(
      list_sum([p.qvec[i] * t.vec[i] for i in generate_series(1, len(t.vec))])
      / (sqrt(list_sum([x * x for x in p.qvec])) * sqrt(list_sum([x * x for x in t.vec]))),
    6) AS cosine
  FROM table2 t JOIN probes p ON t.cell = p.cell
  WHERE t.vec_id != p.query_id
)
SELECT query_id, neighbor_id, cosine,
  row_number() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, neighbor_id ASC)::BIGINT AS rank
FROM scored
QUALIFY rank <= 10
"""

_COSINE_TOPK_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
), q AS (
  SELECT vec_id AS query_id, vec AS qvec FROM e WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    round(
      list_sum([qvec[i] * vec[i] for i in generate_series(1, len(vec))])
      / (sqrt(list_sum([x * x for x in qvec])) * sqrt(list_sum([x * x for x in vec]))),
    6) AS cosine
  FROM e CROSS JOIN q WHERE e.vec_id != q.query_id
)
SELECT query_id, neighbor_id, cosine,
  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC)::BIGINT AS rank
FROM scored
QUALIFY rank <= 10
"""

_LSH_BUCKETS_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
)
SELECT vec_id,
  array_to_string(
    [CASE WHEN list_sum(
        [vec[j + 1] * (CASE WHEN substr(md5(p::VARCHAR || '_' || j::VARCHAR), 1, 1)
                            IN ('0','1','2','3','4','5','6','7')
                       THEN 1.0 ELSE -1.0 END)
         for j in generate_series(0, 63)]) > 0
     THEN '1' ELSE '0' END for p in generate_series(0, 7)], '') AS bucket
FROM e
"""

_ANN_TOPK_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
), b AS (
  SELECT vec_id, vec,
    array_to_string(
      [CASE WHEN list_sum(
          [vec[j + 1] * (CASE WHEN substr(md5(p::VARCHAR || '_' || j::VARCHAR), 1, 1)
                              IN ('0','1','2','3','4','5','6','7')
                         THEN 1.0 ELSE -1.0 END)
           for j in generate_series(0, 63)]) > 0
       THEN '1' ELSE '0' END for p in generate_series(0, 7)], '') AS bucket
  FROM e
), q AS (
  SELECT vec_id AS query_id, vec AS qvec, bucket AS qbucket
  FROM b WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, b.vec_id AS neighbor_id,
    round(
      list_sum([q.qvec[i] * b.vec[i] for i in generate_series(1, len(b.vec))])
      / (sqrt(list_sum([x * x for x in q.qvec])) * sqrt(list_sum([x * x for x in b.vec]))),
    6) AS cosine
  FROM b JOIN q ON b.bucket = q.qbucket
  WHERE b.vec_id != q.query_id
)
SELECT query_id, neighbor_id, cosine,
  row_number() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, neighbor_id ASC)::BIGINT AS rank
FROM scored
QUALIFY rank <= 10
"""

_SIMHASH_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '{_WORD_SQL}')) AS tok
  FROM documents
), h AS (
  SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS hv
  FROM toks
), bitsums AS (
  SELECT doc_id, k,
    sum(CASE WHEN (hv & (1::BIGINT << k)) != 0 THEN 1 ELSE -1 END) AS s
  FROM h, generate_series(0, 59) AS t(k)
  GROUP BY doc_id, k
), hashed AS (
  SELECT doc_id,
    sum(CASE WHEN s > 0 THEN (1::BIGINT << k) ELSE 0 END)::BIGINT AS simhash
  FROM bitsums GROUP BY doc_id
)
SELECT d.doc_id, coalesce(hashed.simhash, 0)::BIGINT AS simhash
FROM documents d LEFT JOIN hashed ON d.doc_id = hashed.doc_id
"""

_JACCARD_ON_CANDIDATES_SQL_TAIL = f"""
, toks AS (
  SELECT doc_id, list_distinct(regexp_extract_all(text, '{_WORD_SQL}')) AS tok
  FROM documents
)
SELECT p.id_a, p.id_b,
  round(len(list_intersect(ta.tok, tb.tok))::DOUBLE
        / greatest(len(ta.tok) + len(tb.tok) - len(list_intersect(ta.tok, tb.tok)), 1)::DOUBLE,
  6) AS jaccard
FROM pairs p
JOIN toks ta ON ta.doc_id = p.id_a
JOIN toks tb ON tb.doc_id = p.id_b
"""

def _dedup_clusters_sql() -> str:
    """Same minhash/band/Jaccard chain as the jaccard_on_candidates twin,
    then connected components via a recursive reachability CTE:
    cluster_id(v) = min id over everything reachable from v through
    jaccard >= 0.5 edges (symmetrized)."""
    ctes = _minhash_ctes(src="reps", pre=_REPS_PRE).replace(
        "\nWITH ", "\nWITH RECURSIVE ", 1)
    return ctes + _PAIRS_GUARDED + f"""
, toks AS (
  SELECT doc_id, list_distinct(regexp_extract_all(text, '{_WORD_SQL}')) AS tok
  FROM documents
), jac AS (
  SELECT p.id_a, p.id_b,
    round(len(list_intersect(ta.tok, tb.tok))::DOUBLE
          / greatest(len(ta.tok) + len(tb.tok) - len(list_intersect(ta.tok, tb.tok)), 1)::DOUBLE,
    6) AS jaccard
  FROM pairs p
  JOIN toks ta ON ta.doc_id = p.id_a
  JOIN toks tb ON tb.doc_id = p.id_b
), sym AS (
  SELECT id_a AS a, id_b AS b FROM jac WHERE jaccard >= 0.5
  UNION ALL
  SELECT id_b, id_a FROM jac WHERE jaccard >= 0.5
), reach AS (
  SELECT doc_id AS src, doc_id AS dst FROM documents
  UNION
  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
)
SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
"""


_EVAL_METRICS_SQL = f"""
WITH toks AS (
  SELECT doc_id, source,
    list_distinct(regexp_extract_all(text, '{_WORD_SQL}')) AS entities
  FROM documents
), truth AS (
  SELECT source, entities AS truth_entities
  FROM (SELECT source, entities,
          row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        FROM toks)
  WHERE rn = 1
), j AS (
  SELECT t.source,
    len(list_intersect(t.entities, u.truth_entities)) AS tp,
    len(list_filter(t.entities, x -> NOT list_contains(u.truth_entities, x))) AS fp,
    len(list_filter(u.truth_entities, x -> NOT list_contains(t.entities, x))) AS fn
  FROM toks t JOIN truth u USING (source)
), agg AS (
  SELECT source, sum(tp)::BIGINT AS tp, sum(fp)::BIGINT AS fp,
         sum(fn)::BIGINT AS fn
  FROM j GROUP BY source
)
SELECT source, tp, fp, fn,
  round(tp / greatest(tp + fp, 1), 6) AS precision,
  round(tp / greatest(tp + fn, 1), 6) AS recall,
  round(2.0 * (tp / greatest(tp + fp, 1)) * (tp / greatest(tp + fn, 1))
        / greatest(tp / greatest(tp + fp, 1) + tp / greatest(tp + fn, 1), 1e-12), 6) AS f1
FROM agg
"""


def _sql_sample(samples: list[str], alias: str) -> str:
    arr = "[" + ", ".join("'" + s.replace("'", "''") + "'" for s in samples) + "]"
    return f"({arr})[(doc_id % {len(samples)}) + 1] AS {alias}"


def _sql_expand_degree(col: str) -> str:
    """semantics.expand_degree as a regexp_replace chain (sequential
    replaces are equivalent to the Python one-pass alternation on inputs
    whose expansions introduce no new abbreviations)."""
    expr = f"regexp_replace({col}, '[^\\w\\s]', '', 'g')"
    chain = [
        (r"\bMBA\b", "Master of Business Administration"),
        (r"\bPHD\b", "Doctor of Philosophy"),
        (r"\bBS\b", "Bachelor of Science"),
        (r"\bBA\b", "Bachelor of Arts"),
        (r"\bMS\b", "Master of Science"),
        (r"\bMA\b", "Master of Arts"),
        (r"\bMasters\b", "Master"),
        (r"\bAdmin\b", "Administration"),
        (r"\bin\b", "of"),
    ]
    for pat, repl in chain:
        expr = f"regexp_replace({expr}, '{pat}', '{repl}', 'gi')"
    return (
        f"regexp_replace(regexp_replace({expr}, '\\bDegree\\b$', '', 'i'),"
        f" '^{_PWS}+|{_PWS}+$', '', 'g')"
    )


def _degree_sql() -> str:
    expr = _sql_expand_degree("raw_degree")
    return f"""
        WITH d AS (SELECT doc_id, {_sql_sample(_DEGREE_SAMPLES, 'raw_degree')}
                   FROM documents),
        e AS (SELECT doc_id, raw_degree, {expr} AS expanded FROM d)
        SELECT doc_id, raw_degree,
          CASE WHEN coalesce(raw_degree, '') = '' THEN ''
               WHEN expanded = '' THEN raw_degree
               ELSE expanded END AS degree
        FROM e
    """


def _title_sql() -> str:
    from document_parser_private_spark.semantics import TITLE_ABBREVIATIONS
    expr = "raw_title"
    ordered = [p for p in TITLE_ABBREVIATIONS if " " in p[0] or r"\s*" in p[0]]
    ordered += [p for p in TITLE_ABBREVIATIONS
                if " " not in p[0] and r"\s*" not in p[0]]
    for pat, repl in ordered:
        # DuckDB plain strings pass backslashes through literally
        expr = f"regexp_replace({expr}, '\\b{pat}\\b', '{repl}', 'gi')"
    return f"""
        WITH d AS (SELECT doc_id, {_sql_sample(_TITLE_SAMPLES, 'raw_title')}
                   FROM documents)
        SELECT doc_id, raw_title,
          CASE WHEN coalesce(raw_title, '') = '' THEN '' ELSE {expr} END AS title
        FROM d
    """


_MONTH_CASE_SQL = (
    "CASE lower(substr(mname, 1, 3)) "
    + " ".join(
        f"WHEN '{m}' THEN {i + 1}"
        for i, m in enumerate(
            ["jan", "feb", "mar", "apr", "may", "jun",
             "jul", "aug", "sep", "oct", "nov", "dec"]
        )
    )
    + " END"
)

_DATE_PARSE_SQL_TEMPLATE = r"""
WITH d AS (SELECT doc_id, {sample} FROM documents),
t AS (SELECT doc_id, raw_date,
        regexp_replace(raw_date, '^\s+|\s+$', '', 'g') AS s FROM d),
x AS (
  SELECT doc_id, raw_date, s,
    regexp_extract(s, '^(\d{{4}})-(\d{{2}})-(\d{{2}})$', 0) AS iso,
    regexp_extract(s, '(?i)\bQ([1-4])\s*(\d{{4}})\b', 1) AS q,
    regexp_extract(s, '(?i)\bQ([1-4])\s*(\d{{4}})\b', 2) AS qy,
    regexp_extract(s, '(?i)([a-zA-Z]+)[^\d]*(\d{{4}})', 1) AS mname,
    regexp_extract(s, '(?i)([a-zA-Z]+)[^\d]*(\d{{4}})', 2) AS myear,
    regexp_extract(s, '(\d{{1,2}})[^\d]*(\d{{4}})', 1) AS nmon,
    regexp_extract(s, '(\d{{1,2}})[^\d]*(\d{{4}})', 2) AS nyear,
    regexp_extract(s, '(\d{{4}})', 1) AS year
  FROM t
), m AS (
  SELECT *, CASE WHEN mname != '' THEN {month_case} ELSE NULL END AS mnum
  FROM x
)
SELECT doc_id, raw_date,
  CASE
    WHEN coalesce(s, '') = '' THEN NULL
    WHEN regexp_matches(s, '(?i)\b(present|current|ongoing|now)\b')
      THEN DATE '2025-07-11'
    WHEN iso != '' THEN strptime(s, '%Y-%m-%d')::DATE
    WHEN q != '' THEN make_date(qy::INT, (q::INT - 1) * 3 + 1, 1)
    WHEN mname != '' AND mnum IS NOT NULL
      THEN make_date(myear::INT, mnum, 1)
    WHEN nmon != '' AND nmon::INT BETWEEN 1 AND 12
      THEN make_date(nyear::INT, nmon::INT, 1)
    WHEN year != '' THEN make_date(year::INT, 1, 1)
    ELSE NULL
  END AS parsed
FROM m
"""


def _skill_join_sql() -> str:
    from document_parser_private_spark.corpus import SKILLS_ONTOLOGY
    from document_parser_private_spark.semantics import (
        SKILL_CATEGORY_LABELS,
        STOP_WORDS,
    )
    values = ", ".join(
        f"('{v.lower()}', '{c}')"
        for c, vs in SKILLS_ONTOLOGY.items()
        for v in [c] + vs
    )
    label_strip = "phrase"
    for label in SKILL_CATEGORY_LABELS:
        label_strip = f"regexp_replace({label_strip}, '^{label}:{_PWS}*', '')"
    stop = ", ".join(f"'{w}'" for w in sorted(STOP_WORDS))
    return f"""
        WITH onto(variant_lower, canonical) AS (VALUES {values}),
        d AS (SELECT doc_id, {_sql_sample(_SKILLS_SAMPLES, 'skills_text')}
              FROM documents),
        phrases AS (
          SELECT doc_id,
            regexp_replace(unnest(regexp_split_to_array(skills_text,
              '[\\n,;•/]+')), '^{_PWS}+|{_PWS}+$', '', 'g') AS phrase
          FROM d
        ), kept AS (
          SELECT doc_id, phrase FROM phrases
          WHERE length(phrase) > 1 AND NOT regexp_matches(phrase, '^\\d+$')
        ), cleaned AS (
          SELECT doc_id,
            regexp_replace(regexp_replace({label_strip},
              '\\([^)]*\\)', '', 'g'), '^{_PWS}+|{_PWS}+$', '', 'g') AS clean
          FROM kept
        ), resolved AS (
          SELECT c.doc_id, coalesce(o.canonical, c.clean) AS skill
          FROM cleaned c LEFT JOIN onto o ON lower(c.clean) = o.variant_lower
        )
        SELECT doc_id,
          array_to_string(list_sort(list_distinct(list(skill))), ',') AS skills_csv
        FROM resolved
        WHERE length(skill) > 1 AND lower(skill) NOT IN ({stop})
        GROUP BY doc_id
    """


# --- resume_entities twin: period split + date chain + degree/field/GPA
#     chains replicated in DuckDB SQL over the controlled single-entry
#     samples (entry split is the identity there) ---

def _sql_date(col: str) -> str:
    """DATE-or-NULL CASE mirroring semantics.normalize_date for the
    sampled shapes: Present -> pinned as_of; ISO; quarter; month-name +
    year (single leftmost search, exactly like the Python chain — a
    leading non-month word swallows the match and falls through); numeric
    month; bare year."""
    mname = f"regexp_extract({col}, '(?i)([a-zA-Z]+)[^\\d]*(\\d{{4}})', 1)"
    myear = f"regexp_extract({col}, '(?i)([a-zA-Z]+)[^\\d]*(\\d{{4}})', 2)"
    mnum = (
        f"CASE lower(substr({mname}, 1, 3)) "
        + " ".join(
            f"WHEN '{m}' THEN {i + 1}"
            for i, m in enumerate(
                ["jan", "feb", "mar", "apr", "may", "jun",
                 "jul", "aug", "sep", "oct", "nov", "dec"])
        )
        + " END"
    )
    nmon = f"regexp_extract({col}, '(\\d{{1,2}})[^\\d]*(\\d{{4}})', 1)"
    nyear = f"regexp_extract({col}, '(\\d{{1,2}})[^\\d]*(\\d{{4}})', 2)"
    return f"""CASE
      WHEN coalesce({col}, '') = '' THEN NULL
      WHEN regexp_matches({col}, '(?i)\\b(present|current|ongoing|now)\\b')
        THEN DATE '2025-07-11'
      WHEN regexp_extract({col}, '^(\\d{{4}})-(\\d{{2}})-(\\d{{2}})$', 0) != ''
        THEN strptime({col}, '%Y-%m-%d')::DATE
      WHEN regexp_extract({col}, '(?i)\\bQ([1-4])\\s*(\\d{{4}})\\b', 1) != ''
        THEN make_date(
          regexp_extract({col}, '(?i)\\bQ([1-4])\\s*(\\d{{4}})\\b', 2)::INT,
          (regexp_extract({col}, '(?i)\\bQ([1-4])\\s*(\\d{{4}})\\b', 1)::INT - 1) * 3 + 1, 1)
      WHEN {mname} != '' AND ({mnum}) IS NOT NULL
        THEN make_date({myear}::INT, {mnum}, 1)
      WHEN {nmon} != '' AND {nmon}::INT BETWEEN 1 AND 12
        THEN make_date({nyear}::INT, {nmon}::INT, 1)
      WHEN regexp_extract({col}, '(\\d{{4}})', 1) != ''
        THEN make_date(regexp_extract({col}, '(\\d{{4}})', 1)::INT, 1, 1)
      ELSE NULL
    END"""


def _sql_period_side(col: str, side: int) -> str:
    """First-delimiter period split (semantics.extract_period: ' to '
    before ' - '; samples are single-occurrence). side 1 = start text,
    side 2 = end text; no delimiter -> whole string on both sides."""
    return f"""CASE
      WHEN regexp_matches({col}, '\\s+to\\s+')
        THEN regexp_extract({col}, '^(.*?)\\s+to\\s+(.*)$', {side})
      WHEN regexp_matches({col}, '\\s+-\\s+')
        THEN regexp_extract({col}, '^(.*?)\\s+-\\s+(.*)$', {side})
      ELSE {col}
    END"""


def _resume_entities_sql() -> str:
    from document_parser_private_spark.semantics import (
        FIELD_ABBREV,
        FIELD_AFTER_DEGREE_RE,
        FIELD_MAPPING,
        FIELDS_OF_STUDY,
    )
    edu_arr = "[" + ", ".join("'" + s.replace("'", "''") + "'" for s in _EDU_SAMPLES) + "]"
    exp_arr = "[" + ", ".join("'" + s.replace("'", "''") + "'" for s in _EXP_SAMPLES) + "]"
    kw_case = (
        "CASE "
        + " ".join(
            f"WHEN regexp_matches(edu, '(?i)\\b{f}\\b') THEN '{f}'"
            for f in FIELDS_OF_STUDY)
        + " ELSE NULL END"
    )
    f14 = "cap"
    for pat, repl in FIELD_ABBREV:
        f14 = f"regexp_replace({f14}, '{pat}', '{repl}', 'gi')"
    f14 = f"regexp_replace({f14}, '([a-z])([A-Z])', '\\1 \\2', 'g')"
    map_whens = []
    for canonical, variants in FIELD_MAPPING.items():
        for v in [canonical] + variants:
            map_whens.append(f"WHEN '{v.lower()}' THEN '{canonical}'")
    map_case = "CASE lower(f14x) " + " ".join(map_whens) + " ELSE f14x END"
    company_re = (
        r"\b([A-Z][a-zA-Z0-9\s,.-]+"
        r"(?:Inc|LLC|Co|Company|Group|Corp|Corporation|Ltd|Limited))\b"
    )
    position_re = (
        r"(?i)\b(software engineer|developer|data scientist"
        r"|project manager|analyst|consultant)\b"
    )
    degree_raw_re = r"(?i)\b(bachelor|master|phd|bsc|msc|mba|ba|bs|ms|ma)\b\.?"
    return f"""
WITH d AS (
  SELECT doc_id,
    ({edu_arr})[(doc_id % 3) + 1] AS edu,
    ({exp_arr})[(doc_id % 3) + 1] AS exp
  FROM documents
), low AS (
  SELECT *, lower(edu) AS ledu, lower(exp) AS lexp FROM d
), sides AS (
  SELECT *,
    {_sql_period_side('ledu', 1)} AS edu_l,
    {_sql_period_side('lexp', 1)} AS exp_l,
    {_sql_period_side('lexp', 2)} AS exp_r
  FROM low
), dated AS (
  SELECT *,
    {_sql_date('edu_l')} AS edu_s,
    {_sql_date('exp_l')} AS exp_s,
    {_sql_date('exp_r')} AS exp_e_raw
  FROM sides
), dur AS (
  SELECT *, coalesce(exp_e_raw, DATE '2025-07-11') AS exp_e,
    CASE WHEN exp_s IS NULL THEN NULL
         ELSE (year(coalesce(exp_e_raw, DATE '2025-07-11')) - year(exp_s)) * 12
              + (month(coalesce(exp_e_raw, DATE '2025-07-11')) - month(exp_s))
    END AS base_months
  FROM dated
), fld AS (
  SELECT *,
    {kw_case} AS kw,
    regexp_extract(edu, '{FIELD_AFTER_DEGREE_RE}', 1) AS cap,
    regexp_extract(edu, '{degree_raw_re}', 0) AS raw_deg
  FROM dur
), f14c AS (
  SELECT *, {f14} AS f14x,
    {_sql_expand_degree('raw_deg')} AS deg_exp
  FROM fld
)
SELECT doc_id,
  'Unknown' AS institution,  -- normalize_institution over an empty mapping index
  CASE WHEN coalesce(raw_deg, '') = '' THEN ''
       WHEN deg_exp = '' THEN raw_deg
       ELSE deg_exp END AS degree,
  CASE WHEN kw IS NOT NULL THEN kw
       WHEN cap != '' THEN {map_case}
       ELSE NULL END AS field_of_study,
  CASE WHEN regexp_matches(edu, '(?i)out\\s+of|on|scale') THEN NULL
       ELSE TRY_CAST(nullif(
         regexp_extract(edu, '\\b(\\d\\.\\d{{1,2}})\\b', 1), '') AS DOUBLE)
  END AS gpa,
  edu_s AS edu_start,
  regexp_extract(exp, '{company_re}', 1) AS company,
  regexp_extract(exp, '{position_re}', 0) AS position,
  CASE WHEN exp_s IS NULL THEN NULL
       ELSE strftime(exp_s, '%Y-%m-%d') END AS exp_start,
  CASE WHEN exp_s IS NULL THEN 0
       WHEN exp_s > exp_e THEN 0
       WHEN day(exp_e) < day(exp_s) THEN
         CASE WHEN base_months - 1 >= 0 THEN base_months ELSE 0 END
       WHEN day(exp_e) > day(exp_s) THEN base_months + 1
       ELSE base_months END::INT AS duration_months
FROM f14c
"""


# fuzzy resolutions precomputed (pinned literals) from the deterministic
# WRatio scorer at threshold 80; 'tensorflw' is below threshold on every
# index entry and passes through.
_FUZZY_EXPECTED = {
    "pythn": "Python", "javascrpt": "JavaScript", "dockr": "Docker",
    "kuberntes": "Kubernetes", "reactt": "React",
    "sparkk": "Spark", "machne learning": "Machine Learning",
    "javva": "Java", "postgress": "SQL",
}


def _skill_fuzzy_sql() -> str:
    from document_parser_private_spark.corpus import SKILLS_ONTOLOGY
    from document_parser_private_spark.semantics import STOP_WORDS
    onto_values = ", ".join(
        f"('{v.lower()}', '{c}')"
        for c, vs in SKILLS_ONTOLOGY.items()
        for v in [c] + vs
    )
    fuzzy_values = ", ".join(
        f"('{k}', '{v}')" for k, v in _FUZZY_EXPECTED.items()
    )
    samples = "[" + ", ".join(
        "'" + s.replace("'", "''").replace("\n", "' || chr(10) || '") + "'"
        for s in _FUZZY_SKILL_SAMPLES
    ) + "]"
    stop = ", ".join(f"'{w}'" for w in sorted(STOP_WORDS))
    return f"""
WITH onto(variant_lower, canonical) AS (VALUES {onto_values}),
fz(miss_lower, canonical) AS (VALUES {fuzzy_values}),
d AS (SELECT doc_id, ({samples})[(doc_id % {len(_FUZZY_SKILL_SAMPLES)}) + 1]
             AS skills_text FROM documents),
phrases AS (
  SELECT doc_id,
    regexp_replace(unnest(regexp_split_to_array(skills_text,
      '[\\n,;•/]+')), '^{_PWS}+|{_PWS}+$', '', 'g') AS phrase
  FROM d
), kept AS (
  SELECT doc_id, phrase FROM phrases
  WHERE length(phrase) > 1 AND NOT regexp_matches(phrase, '^\\d+$')
), resolved AS (
  SELECT k.doc_id,
    coalesce(o.canonical, f.canonical, k.phrase) AS skill
  FROM kept k
  LEFT JOIN onto o ON lower(k.phrase) = o.variant_lower
  LEFT JOIN fz f ON lower(k.phrase) = f.miss_lower
)
SELECT doc_id,
  array_to_string(list_sort(list_distinct(list(skill))), ',') AS skills_csv
FROM resolved
WHERE length(skill) > 1 AND lower(skill) NOT IN ({stop})
GROUP BY doc_id
"""


_PII_ANON_SQL = """
WITH d AS (
  SELECT doc_id,
    regexp_replace(substr(text, 1, 40), '[0-9@]', '', 'g') AS tail
  FROM documents
)
SELECT doc_id,
  'contact [EMAIL_'
  || substr(sha256('user' || doc_id::VARCHAR
                   || '@mail.example' || 'secure_salt_value'), 1, 8)
  || '] or [PHONE_'
  || substr(sha256('555-123-4567' || 'secure_salt_value'), 1, 8)
  || '] ssn [SSN_'
  || substr(sha256('123-45-6789' || 'secure_salt_value'), 1, 8)
  || '] :: ' || tail AS anonymized
FROM d
"""


def _fuzzy_eval_sql() -> str:
    sims = ", ".join(
        f"({i}, {s!r})" for i, s in enumerate(_FUZZY_EVAL_SIMS)
    )
    return f"""
WITH sims0(idx, sim0) AS (VALUES {sims}),
sims AS (SELECT idx, sim0::DOUBLE AS sim FROM sims0),
d AS (
  SELECT doc_id, source, (doc_id % {len(_FUZZY_EVAL_SIMS)}) AS idx
  FROM documents
)
SELECT source,
  round(avg(sim), 6) AS avg_similarity,
  round(min(sim), 6) AS min_similarity,
  count(*) AS n_pairs
FROM d JOIN sims USING (idx)
GROUP BY source
"""


def _layout_order_sql() -> str:
    """DuckDB twin of _q_layout_order: replays the span synthesis with
    the same integer arithmetic, then re-derives the layout key
    (semantics.layout_reading_order) relationally — line ids via a
    cumulative gap count over distinct ys, the gutter via the first
    largest x-gap >= GUTTER_MIN with >= COL_MIN_SPANS spans per side,
    final order (col, line, x, y, stored position)."""
    from document_parser_private_spark.semantics import (
        COL_MIN_SPANS, GUTTER_MIN, LINE_GAP,
    )
    return f"""
WITH sp AS (
  SELECT d.doc_id, t.j, (5 * t.j + d.doc_id) % 12 AS i
  FROM documents d, generate_series(0, 11) AS t(j)
), pts AS (
  SELECT doc_id, j, i,
    (g % 6) * 10
      + (doc_id + CASE WHEN g % 4 >= 2 THEN 1 ELSE 0 END) % 2 AS y,
    CASE WHEN g >= 6 AND doc_id % 3 <> 0
         THEN 500 + 3 * ((doc_id + g) % 5)
         ELSE 20 + 3 * ((doc_id + g) % 5) END AS x
  FROM (SELECT doc_id, j, i,
               CASE WHEN i = 11 THEN 10 ELSE i END AS g FROM sp)
), ys AS (
  SELECT doc_id, y,
         lag(y) OVER (PARTITION BY doc_id ORDER BY y) AS prev_y
  FROM (SELECT DISTINCT doc_id, y FROM pts)
), lines AS (
  SELECT doc_id, y,
    SUM(CASE WHEN prev_y IS NULL OR y - prev_y > {LINE_GAP}
             THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY y) AS line
  FROM ys
), gaps AS (
  SELECT doc_id, x,
         x - lag(x) OVER (PARTITION BY doc_id ORDER BY x) AS gap
  FROM (SELECT DISTINCT doc_id, x FROM pts)
), best AS (
  SELECT doc_id, x AS gx FROM (
    SELECT doc_id, x, gap,
      row_number() OVER (PARTITION BY doc_id
                         ORDER BY gap DESC, x ASC) AS rn
    FROM gaps WHERE gap IS NOT NULL
  ) WHERE rn = 1 AND gap >= {GUTTER_MIN}
), gutter AS (
  SELECT b.doc_id, b.gx
  FROM best b JOIN pts p ON p.doc_id = b.doc_id
  GROUP BY b.doc_id, b.gx
  HAVING sum(CASE WHEN p.x < b.gx THEN 1 ELSE 0 END) >= {COL_MIN_SPANS}
     AND sum(CASE WHEN p.x >= b.gx THEN 1 ELSE 0 END) >= {COL_MIN_SPANS}
)
SELECT p.doc_id,
  (row_number() OVER (PARTITION BY p.doc_id ORDER BY
     CASE WHEN g.gx IS NOT NULL AND p.x >= g.gx THEN 1 ELSE 0 END,
     l.line, p.x, p.y, p.j) - 1)::INT AS pos,
  's' || p.i::VARCHAR AS text
FROM pts p
JOIN lines l ON l.doc_id = p.doc_id AND l.y = p.y
LEFT JOIN gutter g ON g.doc_id = p.doc_id
"""


def _ner_entities_sql() -> str:
    """DuckDB twin of _q_ner_entities: same pinned samples, the same
    ORG/INST/TITLE regexes and LOC candidate+gazetteer chain from
    operators/ner.py, match_idx = position in the per-group match list
    (LOC indexes the CANDIDATE list before the gazetteer filter, exactly
    like the Spark posexplode-then-semi-join)."""
    from document_parser_private_spark.operators.ner import (
        DEFAULT_GAZETTEER, INST_RE, LOC_MAX_NGRAM, ORG_RE, RUN_RE, TITLE_RE,
    )
    samples = "[" + ", ".join(
        "'" + s.replace("'", "''") + "'" for s in _NER_SAMPLES) + "]"
    gaz = ", ".join(f"('{p}')" for p in DEFAULT_GAZETTEER)
    return f"""
WITH gaz(place) AS (VALUES {gaz}),
d AS (
  SELECT doc_id,
    ({samples})[(doc_id % {len(_NER_SAMPLES)}) + 1] AS t
  FROM documents
), org_l AS (
  SELECT doc_id,
    list_concat(regexp_extract_all(t, '{ORG_RE}', 1),
                regexp_extract_all(t, '{INST_RE}', 1)) AS lst
  FROM d
), title_l AS (
  SELECT doc_id, regexp_extract_all(t, '{TITLE_RE}', 1) AS lst FROM d
), runs AS (
  SELECT doc_id,
    unnest(lst) AS run,
    unnest(generate_series(1, len(lst))) AS ridx
  FROM (SELECT doc_id, regexp_extract_all(t, '{RUN_RE}', 1) AS lst FROM d)
), rws AS (
  SELECT doc_id, ridx, string_split(run, ' ') AS w FROM runs
), spans AS (
  -- every contiguous 1..{LOC_MAX_NGRAM}-word subspan of each run,
  -- indexed in (run, start, length) order like the Spark posexplode
  SELECT doc_id, ridx, i, j, array_to_string(w[i:j], ' ') AS entity
  FROM rws,
       unnest(generate_series(1, len(w))) AS t1(i),
       unnest(generate_series(i, least(i + {LOC_MAX_NGRAM - 1}, len(w))))
         AS t2(j)
)
SELECT doc_id, 'ORG' AS entity_group,
       unnest([i - 1 for i in generate_series(1, len(lst))])::INT
         AS match_idx,
       unnest(lst) AS entity
FROM org_l
UNION ALL
SELECT doc_id, 'JOB_TITLE',
       unnest([i - 1 for i in generate_series(1, len(lst))])::INT,
       unnest(lst)
FROM title_l
UNION ALL
SELECT doc_id, 'LOC', match_idx, entity FROM (
  SELECT doc_id,
    (row_number() OVER (PARTITION BY doc_id ORDER BY ridx, i, j) - 1)::INT
      AS match_idx,
    entity
  FROM spans
) WHERE entity IN (SELECT place FROM gaz)
"""


_QUALITY_FILTER_SQL = f"""
WITH base AS (
  SELECT doc_id,
    len(regexp_extract_all(text, '{_WORD_SQL}')) AS words,
    len(regexp_extract_all(lower(text), '{_STOP_PAT}')) AS stop_hits,
    len(regexp_extract_all(text, '[^A-Za-z0-9{_TWSI}]')) AS punct,
    greatest(length(text), 1) AS chars,
    length(regexp_replace(text, '[{_TWSI}]+', '', 'g')) AS nonws,
    greatest(len(string_split(text, chr(10))), 1) AS lines,
    len(regexp_extract_all(text, '(?m)^[-*•]')) AS bullets
  FROM documents
), m AS (
  SELECT doc_id, words, stop_hits,
    round(nonws / greatest(words, 1), 6) AS mean_word_len,
    round(punct / chars, 6) AS symbol_ratio,
    round(bullets / lines, 6) AS bullet_ratio
  FROM base
)
SELECT doc_id,
  words::BIGINT AS n_words,
  mean_word_len, symbol_ratio,
  stop_hits::BIGINT AS stop_hits,
  bullet_ratio,
  (words >= 50 AND words <= 100000)::INT AS ok_words,
  (mean_word_len >= 3.0 AND mean_word_len <= 10.0)::INT AS ok_word_len,
  (symbol_ratio <= 0.3)::INT AS ok_symbols,
  (stop_hits >= 2)::INT AS ok_stopwords,
  (bullet_ratio <= 0.9)::INT AS ok_bullets,
  (words >= 50 AND words <= 100000
   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
   AND symbol_ratio <= 0.3 AND stop_hits >= 2
   AND bullet_ratio <= 0.9)::INT AS keep
FROM m
"""


def _stratified_sample_sql() -> str:
    from document_parser_private_spark.operators.curation import (
        SAMPLE_BUCKETS,
    )
    rate = "CASE " + " ".join(
        f"WHEN lang = '{v}' THEN {f}"
        for v, f in sorted(_SAMPLE_FRACTIONS.items())
    ) + " ELSE 0.05 END"
    return f"""
SELECT doc_id, lang FROM documents
WHERE (CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8) AS BIGINT)
       % {SAMPLE_BUCKETS})
      < CAST(({rate}) * {SAMPLE_BUCKETS} AS BIGINT)
"""


def _cluster_reps_sql() -> str:
    """Wraps the dedup_clusters twin (its own WITH RECURSIVE lives in a
    FROM subquery) with the quality_score expression and an argmax
    window per cluster."""
    quality = """round(
      least(len(regexp_extract_all(text, '{w}')) / 100.0, 1.0) * 0.4
      + least(len(regexp_extract_all(lower(text), '{s}')) * 5.0
              / greatest(len(regexp_extract_all(text, '{w}')), 1), 1.0) * 0.3
      + (1.0 - least(len(regexp_extract_all(text, '[^A-Za-z0-9{t}]')) * 4.0
                     / greatest(length(text), 1), 1.0)) * 0.3, 6)""".format(
        w=_WORD_SQL, s=_STOP_PAT, t=_TWSI)
    return f"""
WITH q AS (SELECT doc_id, {quality} AS q FROM documents)
SELECT cluster_id, rep_id, rep_quality, n_members FROM (
  SELECT c.cluster_id, c.doc_id AS rep_id, q.q AS rep_quality,
    row_number() OVER (PARTITION BY c.cluster_id
                       ORDER BY q.q DESC, c.doc_id ASC) AS rn,
    count(*) OVER (PARTITION BY c.cluster_id)::BIGINT AS n_members
  FROM ({_dedup_clusters_sql()}) c JOIN q USING (doc_id)
) WHERE rn = 1
"""


_REPETITION_SQL = f"""
WITH d AS (
  SELECT doc_id,
    substr(text, 1, 100) || chr(10) || substr(text, 1, 100)
      || chr(10) || substr(text, 101, 150) AS text
  FROM documents
), l AS (
  SELECT doc_id, line FROM (
    SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM d
  ) WHERE length(line) > 0
), pl AS (
  SELECT doc_id, line, count(*) AS cnt FROM l GROUP BY 1, 2
), ls AS (
  SELECT doc_id, sum(cnt) AS n_lines, count(*) AS n_distinct,
    sum(cnt * length(line)) AS chars_all,
    sum(length(line)) AS chars_distinct
  FROM pl GROUP BY 1
), w AS (
  SELECT doc_id, regexp_extract_all(text, '{_WORD_SQL}') AS toks FROM d
), g AS (
  SELECT doc_id, unnest(
    CASE WHEN len(toks) >= 2
         THEN [toks[i] || ' ' || toks[i + 1]
               for i in generate_series(1, len(toks) - 1)]
         ELSE CAST([] AS VARCHAR[]) END) AS gram
  FROM w
), pg AS (
  SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2
), gs AS (
  SELECT doc_id, gram AS top_bigram, cnt AS top_cnt, n_bigrams FROM (
    SELECT doc_id, gram, cnt,
      sum(cnt) OVER (PARTITION BY doc_id) AS n_bigrams,
      row_number() OVER (PARTITION BY doc_id
                         ORDER BY cnt DESC, gram ASC) AS rn
    FROM pg
  ) WHERE rn = 1
)
SELECT d.doc_id,
  coalesce(ls.n_lines, 0)::BIGINT AS n_lines,
  round((coalesce(ls.n_lines, 0) - coalesce(ls.n_distinct, 0))
        / greatest(coalesce(ls.n_lines, 0), 1), 6) AS dup_line_frac,
  round((coalesce(ls.chars_all, 0) - coalesce(ls.chars_distinct, 0))
        / greatest(coalesce(ls.chars_all, 0), 1), 6) AS dup_line_char_frac,
  coalesce(gs.top_bigram, '') AS top_bigram,
  round(coalesce(gs.top_cnt, 0)
        / greatest(coalesce(gs.n_bigrams, 0), 1), 6) AS top_bigram_frac
FROM d LEFT JOIN ls USING (doc_id) LEFT JOIN gs USING (doc_id)
"""

_GRAM8_SQL = ("[md5(array_to_string(toks[i:i + 7], ' '))"
              " for i in generate_series(1, len(toks) - 7)]")

_DECONTAMINATE_SQL = f"""
WITH bench AS (
  SELECT substr(text, 41, 400) AS text FROM documents WHERE doc_id % 97 = 0
), bw AS (
  SELECT regexp_extract_all(text, '{_WORD_SQL}') AS toks FROM bench
), bg AS (
  SELECT DISTINCT gh FROM (
    SELECT unnest(CASE WHEN len(toks) >= 8 THEN {_GRAM8_SQL}
                       ELSE CAST([] AS VARCHAR[]) END) AS gh
    FROM bw)
), dw AS (
  SELECT doc_id, regexp_extract_all(text, '{_WORD_SQL}') AS toks
  FROM documents
), dg AS (
  SELECT DISTINCT doc_id, gh FROM (
    SELECT doc_id, unnest(CASE WHEN len(toks) >= 8 THEN {_GRAM8_SQL}
                               ELSE CAST([] AS VARCHAR[]) END) AS gh
    FROM dw)
), h AS (
  SELECT doc_id, count(*) AS n_hits FROM dg JOIN bg USING (gh) GROUP BY 1
)
SELECT d.doc_id,
  coalesce(h.n_hits, 0)::BIGINT AS n_hits,
  (coalesce(h.n_hits, 0) > 0)::INT AS contaminated
FROM documents d LEFT JOIN h USING (doc_id)
"""

_CHUNK_SQL = f"""
WITH w AS (
  SELECT doc_id, regexp_extract_all(text, '{_WORD_SQL}') AS toks
  FROM documents
), n AS (
  SELECT doc_id, toks, len(toks) AS n FROM w WHERE len(toks) > 0
), c AS (
  SELECT doc_id, toks,
    CASE WHEN n <= 64 THEN 0
         ELSE CAST(ceil((n - 64) / 48.0) AS BIGINT) END AS kmax
  FROM n
), e AS (
  SELECT doc_id, toks, unnest(generate_series(0, kmax)) AS i FROM c
)
SELECT doc_id,
  i::BIGINT AS chunk_idx,
  len(toks[i * 48 + 1 : i * 48 + 64])::BIGINT AS n_tokens,
  array_to_string(toks[i * 48 + 1 : i * 48 + 64], ' ') AS chunk_text
FROM e
"""

# Rolling 10-token window hashes; dup = occurs >= 2x corpus-wide;
# overlapping dup windows merge via gaps-and-islands (new region when
# pos - lag(pos) > 10, i.e. the previous window's coverage [p, p+9]
# no longer touches this one).
_SUBSTRING_DEDUP_SQL = f"""
WITH w AS (
  SELECT doc_id, regexp_extract_all(text, '{_WORD_SQL}') AS toks
  FROM documents
), t AS (
  SELECT doc_id, len(toks) AS n, toks FROM w
), wins AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(toks[i:i + 9], ' ')) AS gh
  FROM (SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - 9)) AS i
        FROM t WHERE n >= 10)
), occ AS (
  SELECT gh FROM (SELECT gh, count(*) AS c FROM wins GROUP BY 1)
  WHERE c >= 2
), d AS (
  SELECT doc_id, pos FROM wins JOIN occ USING (gh)
), fl AS (
  SELECT doc_id, pos,
    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
              OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                 > 10
         THEN 1 ELSE 0 END AS f
  FROM d
), rid AS (
  SELECT doc_id, pos,
    sum(f) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS r
  FROM fl
), reg AS (
  SELECT doc_id, r, min(pos) AS s, max(pos) AS e FROM rid GROUP BY 1, 2
), pd AS (
  SELECT doc_id, count(*) AS n_dup_regions,
         sum(e - s + 10) AS dup_tokens
  FROM reg GROUP BY 1
), nw AS (
  SELECT doc_id, count(*) AS n_dup_windows FROM d GROUP BY 1
)
SELECT t.doc_id,
  t.n::BIGINT AS n_tokens,
  greatest(t.n - 9, 0)::BIGINT AS n_windows,
  coalesce(nw.n_dup_windows, 0)::BIGINT AS n_dup_windows,
  coalesce(pd.n_dup_regions, 0)::BIGINT AS n_dup_regions,
  coalesce(pd.dup_tokens, 0)::BIGINT AS dup_tokens,
  round(coalesce(pd.dup_tokens, 0) / greatest(t.n, 1), 6)
    AS dup_token_frac
FROM t LEFT JOIN nw USING (doc_id) LEFT JOIN pd USING (doc_id)
"""


_EVENT_ASOF_SQL = """
SELECT l.event_id, l.user_id, l.ts,
  m.ts AS m_ts, m.event_id AS m_event_id, m.value AS m_value
FROM (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'click') l
LEFT JOIN LATERAL (
  SELECT p.ts, p.event_id, p.value
  FROM events p
  WHERE p.event_type = 'purchase' AND p.user_id = l.user_id
    AND p.ts <= l.ts
  ORDER BY p.ts DESC, p.event_id DESC LIMIT 1
) m ON TRUE
"""


# In-bucket cosine, same rounding as the Spark side (cosine_col).
_COS_XY_SQL = """round(
      list_sum([x.vec[i] * y.vec[i] for i in generate_series(1, len(x.vec))])
      / (sqrt(list_sum([v * v for v in x.vec]))
         * sqrt(list_sum([v * v for v in y.vec]))), 6)"""

# Guarded twin (mirrors operators/similarity.py semantic_dedup): exact
# duplicate vectors collapse to a min-id representative before bucketing,
# buckets over 64 DISTINCT vectors degrade to star-vs-hub comparison,
# and copies inherit coalesce(rep.dup_of, rep) gated on the identical-
# pair cosine (== the threshold test the unguarded all-pairs would run).
_SEMANTIC_DEDUP_SQL = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
), reps AS (
  SELECT min(vec_id) AS vec_id, vec FROM e GROUP BY vec
), cps AS (
  SELECT e.vec_id, e.vec, r.vec_id AS rep
  FROM e JOIN reps r ON e.vec = r.vec
  WHERE e.vec_id <> r.vec_id
), b AS (
  SELECT vec_id, vec,
    array_to_string(
      [CASE WHEN list_sum(
          [vec[j + 1] * (CASE WHEN substr(md5(p::VARCHAR || '_' || j::VARCHAR), 1, 1)
                              IN ('0','1','2','3','4','5','6','7')
                         THEN 1.0 ELSE -1.0 END)
           for j in generate_series(0, 63)]) > 0
       THEN '1' ELSE '0' END for p in generate_series(0, 7)], '') AS bucket
  FROM reps
), st AS (
  SELECT bucket, count(*) AS n, min(vec_id) AS hub FROM b GROUP BY bucket
), p AS (
  SELECT y.vec_id AS vec_id, x.vec_id AS other
  FROM b x
  JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
  JOIN st ON st.bucket = x.bucket AND st.n <= 64
  WHERE {_COS_XY_SQL} >= 0.2
  UNION ALL
  SELECT y.vec_id, x.vec_id AS other
  FROM b y
  JOIN st ON st.bucket = y.bucket AND st.n > 64 AND y.vec_id <> st.hub
  JOIN b x ON x.bucket = y.bucket AND x.vec_id = st.hub
  WHERE {_COS_XY_SQL} >= 0.2
), d AS (
  SELECT vec_id, min(other) AS dup_of FROM p GROUP BY 1
), rep_out AS (
  SELECT r.vec_id, d.dup_of FROM reps r LEFT JOIN d USING (vec_id)
), cp_out AS (
  SELECT c.vec_id,
    CASE WHEN round(list_sum([v * v for v in c.vec])
                / (sqrt(list_sum([v * v for v in c.vec]))
                   * sqrt(list_sum([v * v for v in c.vec]))), 6) >= 0.2
         THEN coalesce(ro.dup_of, c.rep) ELSE ro.dup_of END AS dup_of
  FROM cps c LEFT JOIN rep_out ro ON ro.vec_id = c.rep
)
SELECT vec_id, (dup_of IS NULL)::INT AS keep, dup_of
FROM (SELECT * FROM rep_out UNION ALL SELECT * FROM cp_out)
"""


def _bpe_tokens_sql() -> str:
    """Recursive-CTE twin of the BPE priority-merge encode: each
    iteration merges the lowest-rank (leftmost on tie) adjacent pair of
    the word's current symbols, exactly the bounded fold the Spark side
    runs (operators/bpe.py bpe_syms_col); words over 64 chars stay one
    opaque symbol, at most 63 merges per word. Encoding runs per
    DISTINCT word, then joins back to the (doc, word, occ) table."""
    from document_parser_private_spark.operators.bpe import (
        DEFAULT_MERGES, MAX_WORD_LEN, _NO_MERGE,
    )
    pairs = ", ".join(
        f"'{left} {right}': {rank}"
        for rank, (left, right) in enumerate(DEFAULT_MERGES, start=1)
    )
    return f"""
WITH RECURSIVE dw AS (
  SELECT doc_id, word, count(*) AS occ
  FROM (
    SELECT doc_id,
      unnest(regexp_extract_all(lower(text), '{_WORD_SQL}')) AS word
    FROM documents
  ) GROUP BY 1, 2
), vocab AS (
  SELECT DISTINCT word FROM dw
), st AS (
  SELECT word,
    CASE WHEN length(word) > {MAX_WORD_LEN} THEN [word]
         ELSE [word[i] for i in generate_series(1, length(word))]
    END AS syms,
    0 AS it
  FROM vocab
  UNION ALL
  SELECT word,
    syms[1:pos - 1] || [syms[pos] || syms[pos + 1]] || syms[pos + 2:],
    it + 1
  FROM (
    SELECT word, syms, it,
      list_min(rks) AS best, list_position(rks, list_min(rks)) AS pos
    FROM (
      SELECT word, syms, it,
        [coalesce(map_extract(MAP {{{pairs}}},
                              syms[i] || ' ' || syms[i + 1])[1],
                  {_NO_MERGE})
         for i in generate_series(1, len(syms) - 1)] AS rks
      FROM st WHERE len(syms) >= 2 AND it < 63
    )
  ) WHERE best < {_NO_MERGE}
), enc AS (
  SELECT word, len(syms) AS n_syms FROM st
  QUALIFY row_number() OVER (PARTITION BY word ORDER BY it DESC) = 1
)
SELECT dw.doc_id,
  sum(occ)::BIGINT AS n_words,
  sum(occ * enc.n_syms)::BIGINT AS n_bpe
FROM dw JOIN enc USING (word)
GROUP BY 1
"""


# Twin of operators/sketch.py quantile_sketch: identical integer grid,
# ceil(q*n) pick rule, midpoint estimate, exact via quantile_cont
# (matches Spark percentile(), proven by length_quantiles).
_QUANTILE_SKETCH_SQL = """
WITH v AS (
  SELECT source, n_chars::BIGINT AS v FROM documents
), h AS (
  SELECT source,
    CASE WHEN v < 1024 THEN v // 16
         WHEN v < 16384 THEN 64 + (v - 1024) // 256
         ELSE 124 + least((v - 16384) // 4096, 875) END AS b,
    count(*) AS c
  FROM v GROUP BY 1, 2
), cumh AS (
  SELECT source, b,
    sum(c) OVER (PARTITION BY source ORDER BY b) AS cum,
    sum(c) OVER (PARTITION BY source) AS n
  FROM h
), qs AS (
  SELECT unnest([0.25, 0.5, 0.75, 0.95])::DOUBLE AS q
), pick AS (
  SELECT source, q, min(b) AS b, min(n) AS n_rows
  FROM cumh, qs WHERE cum >= ceil(q * n)
  GROUP BY 1, 2
), est AS (
  SELECT source, q,
    round(CASE WHEN b < 64 THEN b * 16 + 8.0
               WHEN b < 124 THEN 1024 + (b - 64) * 256 + 128.0
               ELSE 16384 + (b - 124) * 4096 + 2048.0 END, 4) AS est,
    n_rows
  FROM pick
), ex AS (
  SELECT source,
    unnest([0.25, 0.5, 0.75, 0.95])::DOUBLE AS q,
    unnest([round(quantile_cont(v, 0.25), 4), round(quantile_cont(v, 0.5), 4),
            round(quantile_cont(v, 0.75), 4), round(quantile_cont(v, 0.95), 4)])
      AS exact
  FROM v GROUP BY source
)
SELECT est.source, est.q, est.est::DOUBLE AS est, ex.exact::DOUBLE AS exact,
  round(abs(est.est - ex.exact), 4)::DOUBLE AS abs_err,
  est.n_rows::BIGINT AS n_rows
FROM est JOIN ex ON est.source = ex.source AND est.q = ex.q
"""


def _cross_corpus_sql() -> str:
    """Twin of cross_corpus_dedup over the shifted-copy construction:
    both corpora exact-collapse to fingerprint representatives, one
    shared minhash/band chain keyed by (side, doc_id), band-equality
    candidates across sides, exact token Jaccard, verdicts propagated
    back to members by fingerprint with reference group sizes summed."""
    from document_parser_private_spark.operators.dedup import (
        MINHASH_A, MINHASH_B, MINHASH_P,
    )
    a = ", ".join(str(x) for x in MINHASH_A)
    b = ", ".join(str(x) for x in MINHASH_B)
    return f"""
WITH consts AS (
  SELECT [{a}] AS pa, [{b}] AS pb
), newsrc AS (
  SELECT doc_id + 10000 AS doc_id, text FROM documents
), refsrc AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
), nreps AS (
  SELECT md5(text) AS fp, min(doc_id) AS doc_id, min(text) AS text
  FROM newsrc GROUP BY 1
), rreps AS (
  SELECT md5(text) AS fp, min(doc_id) AS doc_id, min(text) AS text,
         count(*) AS n_dups
  FROM refsrc GROUP BY 1
), allreps AS (
  SELECT 'n' AS side, doc_id, text FROM nreps
  UNION ALL
  SELECT 'r' AS side, doc_id, text FROM rreps
), words AS (
  SELECT side, doc_id, regexp_extract_all(text, '{_WORD_SQL}') AS w
  FROM allreps
), sh AS (
  SELECT side, doc_id,
    CASE WHEN len(w) >= 3
         THEN [array_to_string(w[i:i+2], ' ')
               for i in generate_series(1, len(w) - 2)]
         ELSE [array_to_string(w, ' ')] END AS shingles
  FROM words
), hs AS (
  SELECT side, doc_id,
    [CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) % {MINHASH_P}
     for s in shingles] AS hh
  FROM sh
), sig AS (
  SELECT side, doc_id,
    [list_min([(pa[i+1] * h + pb[i+1]) % {MINHASH_P} for h in hh])
     for i in generate_series(0, 15)] AS sig
  FROM hs, consts
), bands AS (
  SELECT side, doc_id, t.b AS band_idx,
    md5(sig[2*t.b+1]::VARCHAR || ',' || sig[2*t.b+2]::VARCHAR) AS band_key
  FROM sig, generate_series(0, 7) AS t(b)
), cand AS (
  SELECT DISTINCT n.doc_id AS new_id, r.doc_id AS ref_id
  FROM bands n JOIN bands r
    ON n.band_idx = r.band_idx AND n.band_key = r.band_key
  WHERE n.side = 'n' AND r.side = 'r'
), toks AS (
  SELECT side, doc_id,
    list_distinct(regexp_extract_all(text, '{_WORD_SQL}')) AS tok
  FROM allreps
), jac AS (
  SELECT c.new_id, c.ref_id
  FROM cand c
  JOIN toks ta ON ta.side = 'n' AND ta.doc_id = c.new_id
  JOIN toks tb ON tb.side = 'r' AND tb.doc_id = c.ref_id
  WHERE round(len(list_intersect(ta.tok, tb.tok))::DOUBLE
        / greatest(len(ta.tok) + len(tb.tok)
                   - len(list_intersect(ta.tok, tb.tok)), 1)::DOUBLE,
        6) >= 0.5
), m AS (
  SELECT j.new_id, sum(r.n_dups) AS n_ref_matches,
         min(j.ref_id) AS ref_id
  FROM jac j JOIN rreps r ON r.doc_id = j.ref_id
  GROUP BY 1
), v AS (
  SELECT nr.fp, coalesce(m.n_ref_matches, 0)::BIGINT AS n_ref_matches,
         m.ref_id
  FROM nreps nr LEFT JOIN m ON m.new_id = nr.doc_id
)
SELECT ns.doc_id, v.n_ref_matches, v.ref_id,
  (v.ref_id IS NOT NULL)::INT AS is_dup
FROM newsrc ns JOIN v ON md5(ns.text) = v.fp
"""


from document_parser_private_spark.operators.sketch import (  # noqa: E402
    HLL_ALPHA as _HLL_ALPHA,
    HLL_M as _HLL_M,
)

_HLL_NUM = repr(_HLL_ALPHA * _HLL_M * _HLL_M)

_HLL_DISTINCT_SQL = f"""
WITH tok AS (
  SELECT source, unnest(regexp_extract_all(text, '{_WORD_SQL}')) AS token
  FROM documents
), r AS (
  SELECT source,
    CAST('0x' || substr(md5(token), 1, 2) AS BIGINT) AS reg,
    CAST('0x' || substr(md5(token), 3, 15) AS BIGINT) AS v
  FROM tok
), rk AS (
  SELECT source, reg,
    max(CASE WHEN v = 0 THEN 61 ELSE 61 - length(bin(v)) END) AS m_j
  FROM r GROUP BY 1, 2
), mg AS (
  SELECT source, sum(pow(2.0, -m_j)) AS s_present, count(*) AS present
  FROM rk GROUP BY 1
), e0 AS (
  SELECT source, present,
    {_HLL_NUM} / (s_present + (256.0 - present)) AS e_raw,
    256.0 - present AS zeros
  FROM mg
), est AS (
  SELECT source,
    round(CASE WHEN e_raw <= 640.0 AND zeros > 0
               THEN 256.0 * ln(256.0 / zeros) ELSE e_raw END, 4)
      AS hll_estimate,
    CAST(present AS BIGINT) AS hll_registers
  FROM e0
), ex AS (
  SELECT source, count(DISTINCT token) AS n_exact FROM tok GROUP BY 1
)
SELECT est.source, CAST(ex.n_exact AS BIGINT) AS n_exact,
  est.hll_estimate, est.hll_registers,
  round(abs(est.hll_estimate - ex.n_exact) / ex.n_exact, 4) AS rel_err
FROM est JOIN ex ON est.source = ex.source
"""


from document_parser_private_spark.operators.ranking import (  # noqa: E402
    BM25_B as _BM25_B,
    BM25_K1 as _BM25_K1,
)

_BM25_SQL = f"""
WITH toks AS (
  SELECT doc_id AS id,
    unnest(regexp_extract_all(lower(text), '{_WORD_SQL}')) AS term
  FROM documents
), tf AS (
  SELECT id, term, count(*) AS tf FROM toks GROUP BY 1, 2
), dl AS (
  SELECT id, sum(tf) AS dl FROM tf GROUP BY 1
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
), stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
), scored AS (
  SELECT tf.id, tf.term, tf.tf,
    round(
      ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
        * (tf.tf * {repr(_BM25_K1 + 1.0)})
        / (tf.tf + {repr(_BM25_K1)}
           * ({repr(1.0 - _BM25_B)}
              + {repr(_BM25_B)} * dl.dl / stats.avgdl)),
      6) AS score
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl USING (id)
  CROSS JOIN stats
), ranked AS (
  SELECT id, term, tf, score,
    row_number() OVER (PARTITION BY id
                       ORDER BY score DESC, term ASC) AS rnk
  FROM scored
)
SELECT id AS doc_id, term, CAST(tf AS BIGINT) AS tf, score,
  CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 3
"""


def _pagerank_sql(iterations: int = 5) -> str:
    """Unrolled-CTE DuckDB twin of _q_pagerank: same edge synthesis,
    same per-iteration arithmetic shape (base + d*(inflow + dm/n)),
    same literals — doubles match the Spark side bit-for-bit before
    the final round(8)."""
    from document_parser_private_spark.operators.graph import (
        PAGERANK_DAMPING as D,
    )
    parts = [f"""
WITH nn AS (
  SELECT count(*) AS n FROM documents
), edges AS (
  SELECT DISTINCT doc_id AS src, (doc_id * 7 + j) % nn.n AS dst
  FROM documents CROSS JOIN nn, unnest([1, 2, 3]) AS u(j)
  WHERE doc_id % 11 <> 0
), nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges
    UNION ALL SELECT dst AS node FROM edges)
), nc AS (
  SELECT count(*) AS m FROM nodes
), odeg AS (
  SELECT src, count(*) AS o FROM edges GROUP BY 1
), nodes_out AS (
  SELECT n.node, coalesce(odeg.o, 0) AS out
  FROM nodes n LEFT JOIN odeg ON n.node = odeg.src
), r0 AS (
  SELECT node, 1.0 / nc.m AS pr, out FROM nodes_out CROSS JOIN nc
)"""]
    for i in range(1, iterations + 1):
        p = i - 1
        parts.append(f""", r{i} AS (
  SELECT n.node,
    (1.0 - {D!r}) / nc.m
      + {D!r} * (coalesce(inf.inflow, 0.0) + dang.dm / nc.m) AS pr,
    n.out
  FROM nodes_out n
  CROSS JOIN nc
  CROSS JOIN (SELECT coalesce(sum(pr), 0.0) AS dm
              FROM r{p} WHERE out = 0) dang
  LEFT JOIN (
    SELECT e.dst AS node, sum(r.pr / r.out) AS inflow
    FROM edges e JOIN r{p} r ON e.src = r.node AND r.out > 0
    GROUP BY 1
  ) inf ON n.node = inf.node
)""")
    parts.append(f"""
SELECT node AS doc_id, round(pr, 8) AS pagerank FROM r{iterations}
""")
    return "".join(parts)


_CM_HH_SQL = f"""
WITH tok AS (
  SELECT unnest(regexp_extract_all(text, '{_WORD_SQL}')) AS token
  FROM documents
), cells AS (
  SELECT u.r,
    CAST('0x' || substr(md5('cm' || u.r::VARCHAR || ':' || token), 1, 5)
         AS BIGINT) % 1024 AS c
  FROM tok, unnest([0, 1, 2, 3]) AS u(r)
), sk AS (
  SELECT r, c, count(*) AS cnt FROM cells GROUP BY 1, 2
), exact AS (
  SELECT token, count(*) AS exact FROM tok GROUP BY 1
), top AS (
  SELECT token, exact FROM exact
  ORDER BY exact DESC, token ASC LIMIT 20
), probes AS (
  SELECT token, exact, u.r,
    CAST('0x' || substr(md5('cm' || u.r::VARCHAR || ':' || token), 1, 5)
         AS BIGINT) % 1024 AS c
  FROM top, unnest([0, 1, 2, 3]) AS u(r)
), est AS (
  SELECT p.token, p.exact, min(coalesce(sk.cnt, 0)) AS cm_count
  FROM probes p LEFT JOIN sk ON p.r = sk.r AND p.c = sk.c
  GROUP BY 1, 2
)
SELECT token, CAST(exact AS BIGINT) AS exact,
  CAST(cm_count AS BIGINT) AS cm_count,
  (cm_count = exact)::INT AS is_exact
FROM est
"""


def _zorder_sql() -> str:
    from document_parser_private_spark.functions.zorder import zorder_sql
    return (
        "SELECT doc_id, CAST("
        + zorder_sql("n_chars", "doc_id")
        + " AS BIGINT) AS zcode FROM documents"
    )


_INVERTED_INDEX_SQL = f"""
WITH toks AS (
  SELECT doc_id,
    unnest(regexp_extract_all(lower(text), '{_WORD_SQL}')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
), stats AS (
  SELECT term, count(*) AS df, sum(tf) AS cf FROM tf GROUP BY 1
), capped AS (
  SELECT term, doc_id FROM (
    SELECT term, doc_id,
      row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
    FROM tf
  ) WHERE rn <= 20
), postings AS (
  SELECT term,
    array_to_string(list(doc_id::VARCHAR ORDER BY doc_id), ',')
      AS postings
  FROM capped GROUP BY 1
)
SELECT s.term, CAST(s.df AS BIGINT) AS df, CAST(s.cf AS BIGINT) AS cf,
  p.postings
FROM stats s JOIN postings p ON s.term = p.term
WHERE s.df >= 5
"""

_LM_SCORE_SQL = f"""
WITH w AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{_WORD_SQL}') AS toks
  FROM documents
), b AS (
  SELECT doc_id,
    unnest(toks[1:len(toks) - 1]) AS w1,
    unnest(toks[2:len(toks)]) AS w2
  FROM w WHERE len(toks) >= 2
), c2 AS (
  SELECT w1, w2, count(*) AS c2 FROM b GROUP BY 1, 2
), c1 AS (
  SELECT w1, count(*) AS c1 FROM b GROUP BY 1
), v AS (
  SELECT count(*) AS v FROM c1
), db AS (
  SELECT doc_id, w1, w2, count(*) AS cnt FROM b GROUP BY 1, 2, 3
), sc AS (
  SELECT db.doc_id, db.cnt,
    ln((coalesce(c2.c2, 0) + 0.5)
       / (coalesce(c1.c1, 0) + 0.5 * v.v)) * db.cnt AS lp
  FROM db
  LEFT JOIN c2 USING (w1, w2)
  LEFT JOIN c1 USING (w1)
  CROSS JOIN v
), agg AS (
  SELECT doc_id, sum(cnt) AS n_bigrams, sum(lp) AS slp FROM sc GROUP BY 1
)
SELECT d.doc_id,
  CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
  round(a.slp / a.n_bigrams, 6) AS avg_logp,
  round(exp(-(a.slp / a.n_bigrams)), 4) AS ppl
FROM documents d LEFT JOIN agg a USING (doc_id)
"""

def _pack_sequences_sql() -> str:
    """Recursive-CTE twin of the greedy per-doc packing fold: the
    anchor seeds each doc's first chunk (seq 0, pos 0), the recursive
    step advances one chunk at a time applying the same roll rule the
    Spark aggregate() uses. Chunk source = the chunk_documents twin
    inlined as a derived table (64/16 windows), budget 200."""
    return f"""
WITH RECURSIVE ch AS (
  SELECT doc_id, chunk_idx, n_tokens,
    row_number() OVER (PARTITION BY doc_id ORDER BY chunk_idx) AS rpos
  FROM ({_CHUNK_SQL})
), st AS (
  SELECT doc_id, rpos, chunk_idx, n_tokens,
    0::BIGINT AS seq_id, 0::BIGINT AS seq_pos, n_tokens AS used
  FROM ch WHERE rpos = 1
  UNION ALL
  SELECT c.doc_id, c.rpos, c.chunk_idx, c.n_tokens,
    CASE WHEN s.used + c.n_tokens > 200
         THEN s.seq_id + 1 ELSE s.seq_id END,
    CASE WHEN s.used + c.n_tokens > 200
         THEN 0 ELSE s.seq_pos + 1 END,
    CASE WHEN s.used + c.n_tokens > 200
         THEN c.n_tokens ELSE s.used + c.n_tokens END
  FROM st s JOIN ch c ON c.doc_id = s.doc_id AND c.rpos = s.rpos + 1
)
SELECT doc_id, chunk_idx, n_tokens, seq_id, seq_pos FROM st
"""


_NGRAM_COUNTS_SQL = f"""
WITH w AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{_WORD_SQL}') AS toks
  FROM documents
), g AS (
  SELECT doc_id, toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS gram
  FROM w, unnest(generate_series(1, len(toks) - 2)) AS t(i)
  WHERE len(toks) >= 3
)
SELECT gram, count(*)::BIGINT AS n_occurrences,
  count(DISTINCT doc_id)::BIGINT AS n_docs
FROM g GROUP BY 1 HAVING count(*) >= 5
"""


def _mixture_sample_sql() -> str:
    from document_parser_private_spark.operators.curation import (
        SAMPLE_BUCKETS,
    )
    wexpr = "CASE " + " ".join(
        f"WHEN lang = '{v}' THEN {float(wt)!r}"
        for v, wt in sorted(_MIXTURE_WEIGHTS.items())
    ) + " ELSE 0.0 END"
    return f"""
WITH c AS (
  SELECT lang, count(*) AS n, {wexpr} AS w
  FROM documents GROUP BY 1
), cw AS (
  SELECT * FROM c WHERE w > 0
), t AS (
  SELECT min(n / w) AS t FROM cw
), r AS (
  SELECT lang, w * t.t / n AS rate FROM cw, t
)
SELECT d.doc_id, d.lang
FROM documents d JOIN r USING (lang)
WHERE (CAST('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8) AS BIGINT)
       % {SAMPLE_BUCKETS})
      < CAST(floor(rate * {SAMPLE_BUCKETS}) AS BIGINT)
"""


_PART_OUTLIER_SQL = """
WITH flt AS (
  SELECT l_partkey, l_extendedprice FROM (
    SELECT l_partkey, l_extendedprice, l_quantity,
      avg(l_quantity) OVER (PARTITION BY l_partkey) AS aq
    FROM lineitem
  ) WHERE l_quantity < 0.2 * aq
)
SELECT p.p_brand,
  round(sum(f.l_extendedprice) / 7.0, 2) AS avg_yearly,
  count(*)::BIGINT AS n_lines
FROM flt f JOIN part p ON f.l_partkey = p.p_partkey
GROUP BY 1
"""

_REVENUE_ROLLUP_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
  coalesce(l_linestatus, 'ALL') AS linestatus,
  round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4)), 2)::DOUBLE
    AS revenue,
  count(*)::BIGINT AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""

_LENGTH_QUANTILES_SQL = """
SELECT source,
  round(quantile_cont(n_chars, 0.25), 4) AS p25,
  round(quantile_cont(n_chars, 0.5), 4) AS p50,
  round(quantile_cont(n_chars, 0.75), 4) AS p75,
  round(quantile_cont(n_chars, 0.95), 4) AS p95,
  count(*)::BIGINT AS n_docs
FROM documents
GROUP BY source
"""

_STRIP_BOILERPLATE_SQL = """
WITH d AS (
  SELECT doc_id,
    text || chr(10) || 'Subscribe to our newsletter'
         || chr(10) || 'Copyright Example Corp ' || (doc_id % 3)::VARCHAR
         || chr(10) || 'ref ' || doc_id::VARCHAR AS text
  FROM documents
), p AS (
  SELECT doc_id, string_split(text, chr(10)) AS parts FROM d
), l AS (
  SELECT doc_id, unnest(generate_series(1, len(parts))) AS pos,
         unnest(parts) AS line
  FROM p
), bp AS (
  SELECT line FROM (
    SELECT line, count(DISTINCT doc_id) AS nd FROM l
    WHERE length(line) > 0 GROUP BY 1
  ) WHERE nd >= 10
), kept AS (
  SELECT l.doc_id, l.pos, l.line
  FROM l LEFT JOIN bp ON l.line = bp.line
  WHERE bp.line IS NULL
), r AS (
  SELECT doc_id,
    array_to_string(list(line ORDER BY pos), chr(10)) AS clean_text,
    count(*) AS n_kept
  FROM kept GROUP BY 1
)
SELECT p.doc_id,
  len(p.parts)::BIGINT AS n_lines,
  (len(p.parts) - coalesce(r.n_kept, 0))::BIGINT AS n_removed,
  md5(coalesce(r.clean_text, '')) AS clean_md5
FROM p LEFT JOIN r USING (doc_id)
"""


# Range join: DuckDB plans the raw theta-join directly (IEJoin); the
# Spark side's bucketization is internal (the exact predicate re-filters
# candidates), so the twin needs no bucket arithmetic. DECIMAL summand
# mirrors revenue_rollup's order-independent sum contract.
_INCIDENT_WINDOW_SQL = """
WITH pts AS (
  SELECT user_id, event_id, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
  FROM events
), inc AS (
  SELECT user_id, event_id AS incident_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS start_s
  FROM events WHERE event_type = 'error'
)
SELECT i.incident_id,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(round(sum(CAST(p.value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
FROM inc i JOIN pts p
  ON p.user_id = i.user_id
 AND p.ts_s >= i.start_s AND p.ts_s < i.start_s + 900
GROUP BY 1
"""

# Bloom positions replay the operators/bloom.py md5 contract bit for
# bit: pos_i = int(md5(key || '#' || i)[0:8], 16) % m (m=4096, k=3).
_BLOOM_PRUNE_SQL = """
WITH seg AS (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
), pos AS (
  SELECT DISTINCT
    CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || '#' || i), 1, 8)
         AS BIGINT) % 4096 AS pos
  FROM seg CROSS JOIN (VALUES (0), (1), (2)) t(i)
), pr AS (
  SELECT o_orderkey, o_custkey,
    CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR) || '#0'), 1, 8)
         AS BIGINT) % 4096 AS p0,
    CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR) || '#1'), 1, 8)
         AS BIGINT) % 4096 AS p1,
    CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR) || '#2'), 1, 8)
         AS BIGINT) % 4096 AS p2
  FROM orders
)
SELECT pr.o_orderkey,
  CAST(CASE WHEN p0 IN (SELECT pos FROM pos)
         AND p1 IN (SELECT pos FROM pos)
         AND p2 IN (SELECT pos FROM pos) THEN 1 ELSE 0 END
       AS INTEGER) AS bloom_pass,
  CAST(CASE WHEN o_custkey IN (SELECT c_custkey FROM seg) THEN 1 ELSE 0 END
       AS INTEGER) AS is_member
FROM pr
"""

_LEXICAL_STATS_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '{_WORD_SQL}')) AS token
  FROM documents
), per AS (
  SELECT doc_id, token, count(*) AS cnt FROM tok GROUP BY 1, 2
), st AS (
  SELECT doc_id,
    sum(cnt) AS n_tokens,
    count(*) AS n_types,
    sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS hapax,
    sum(cnt * ln(cnt)) AS clnc
  FROM per GROUP BY 1
)
SELECT d.doc_id,
  CAST(coalesce(st.n_tokens, 0) AS BIGINT) AS n_tokens,
  CAST(coalesce(st.n_types, 0) AS BIGINT) AS n_types,
  round(st.n_types / CAST(st.n_tokens AS DOUBLE), 6) AS ttr,
  round(st.hapax / CAST(st.n_types AS DOUBLE), 6) AS hapax_frac,
  round((ln(CAST(st.n_tokens AS DOUBLE))
         - st.clnc / CAST(st.n_tokens AS DOUBLE))
        / 0.6931471805599453, 6) AS entropy
FROM (SELECT doc_id FROM documents) d LEFT JOIN st USING (doc_id)
"""


# A-Res weighted sample: u is a dyadic rational (exact double both
# engines); the rank key is round-6 BEFORE ranking so a 1-ulp ln()
# divergence cannot flip an order, ties break on doc_id.
_WEIGHTED_SAMPLE_SQL = """
WITH s AS (
  SELECT doc_id, source,
    round(ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)
                   AS BIGINT) + 1.0) / 4503599627370496.0)
          / n_chars, 6) AS sample_score
  FROM documents WHERE n_chars > 0
), r AS (
  SELECT doc_id, source, sample_score,
    row_number() OVER (PARTITION BY source
                       ORDER BY sample_score DESC, doc_id ASC) AS rn
  FROM s
)
SELECT doc_id, source, sample_score, CAST(rn AS INTEGER) AS sample_rank
FROM r WHERE rn <= 5
"""

_EVENT_FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'signup' GROUP BY 1
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts >= s1.t1 GROUP BY 1
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts >= s2.t2 GROUP BY 1
)
SELECT s1.user_id, s1.t1, s2.t2, s3.t3,
  CAST(CASE WHEN t3 IS NOT NULL THEN 3
            WHEN t2 IS NOT NULL THEN 2
            ELSE 1 END AS INTEGER) AS stages_completed
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
"""


_COHORT_SQL = """
WITH f AS (
  SELECT user_id, min(date_trunc('day', ts)) AS cohort
  FROM events GROUP BY 1
), a AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS p FROM events
), per AS (
  SELECT f.cohort,
         datediff('day', f.cohort, a.p) AS age,
         count(*) AS active_users
  FROM a JOIN f USING (user_id) GROUP BY 1, 2
), s AS (
  SELECT cohort, count(*) AS cohort_size FROM f GROUP BY 1
)
SELECT CAST(per.cohort AS DATE) AS cohort,
       CAST(age AS INTEGER) AS age,
       CAST(active_users AS BIGINT) AS active_users,
       CAST(cohort_size AS BIGINT) AS cohort_size,
       round(active_users * 1.0 / cohort_size, 6) AS retention_rate
FROM per JOIN s USING (cohort)
"""


# Degree-oriented triangle enumeration (same orientation rule as the
# Spark side: lower (degree, id) endpoint -> higher; wedge pairs of
# out-neighbors closed by an oriented edge, so each triangle appears
# exactly once at its lowest-rank apex).
_TRIANGLE_SQL = """
WITH nn AS (SELECT count(*) AS n FROM documents),
raw AS (
  SELECT doc_id AS s, (doc_id + d.d) % (SELECT n FROM nn) AS t
  FROM documents, (VALUES (1), (2), (4)) d(d)
),
e AS (
  SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
  FROM raw WHERE s <> t
),
deg AS (
  SELECT node, count(*) AS deg FROM (
    SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e
  ) GROUP BY 1
),
o AS (
  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
              THEN e.a ELSE e.b END AS u,
         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
              THEN e.b ELSE e.a END AS v,
         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
              THEN db.deg ELSE da.deg END AS vdeg
  FROM e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b
),
tri AS (
  SELECT o1.u AS x, o1.v AS y, o2.v AS z
  FROM o o1
  JOIN o o2 ON o1.u = o2.u
    AND (o1.vdeg < o2.vdeg OR (o1.vdeg = o2.vdeg AND o1.v < o2.v))
  JOIN o o3 ON o3.u = o1.v AND o3.v = o2.v
),
cnt AS (
  SELECT node, count(*) AS triangles FROM (
    SELECT x AS node FROM tri UNION ALL SELECT y AS node FROM tri
    UNION ALL SELECT z AS node FROM tri
  ) GROUP BY 1
)
SELECT d.node AS doc_id, CAST(d.deg AS INTEGER) AS degree,
       CAST(coalesce(c.triangles, 0) AS BIGINT) AS triangles,
       CASE WHEN d.deg >= 2 THEN
         round(coalesce(c.triangles, 0) * 2.0 / (d.deg * (d.deg - 1)), 6)
       END AS clustering
FROM deg d LEFT JOIN cnt c ON c.node = d.node
"""


def _cluster_split_sql() -> str:
    """Wraps the dedup_clusters twin with the md5 sample-bucket split
    (same first-8-hex contract as stratified_sample)."""
    from document_parser_private_spark.operators.curation import (
        SAMPLE_BUCKETS,
    )
    cut = int(0.1 * SAMPLE_BUCKETS)
    return f"""
SELECT doc_id, cluster_id,
  CASE WHEN (CAST('0x' || substr(md5(cluster_id::VARCHAR), 1, 8) AS BIGINT)
             % {SAMPLE_BUCKETS}) < {cut}
       THEN 'val' ELSE 'train' END AS split
FROM ({_dedup_clusters_sql()})
"""


def oracle_sql() -> dict[str, str]:
    return {
        "semantic_dedup": _SEMANTIC_DEDUP_SQL,
        "cross_corpus_dedup": _cross_corpus_sql(),
        "hll_distinct": _HLL_DISTINCT_SQL,
        "bm25_terms": _BM25_SQL,
        "strip_boilerplate": _STRIP_BOILERPLATE_SQL,
        "revenue_rollup": _REVENUE_ROLLUP_SQL,
        "length_quantiles": _LENGTH_QUANTILES_SQL,
        "pagerank": _pagerank_sql(),
        "inverted_index": _INVERTED_INDEX_SQL,
        "lm_score": _LM_SCORE_SQL,
        "ngram_counts": _NGRAM_COUNTS_SQL,
        "pack_sequences": _pack_sequences_sql(),
        "mixture_sample": _mixture_sample_sql(),
        "part_outlier_revenue": _PART_OUTLIER_SQL,
        "cm_heavy_hitters": _CM_HH_SQL,
        "zorder_codes": _zorder_sql(),
        "bpe_tokens": _bpe_tokens_sql(),
        "quantile_sketch": _QUANTILE_SKETCH_SQL,
        "incident_window_join": _INCIDENT_WINDOW_SQL,
        "bloom_prune": _BLOOM_PRUNE_SQL,
        "lexical_stats": _LEXICAL_STATS_SQL,
        "weighted_sample": _WEIGHTED_SAMPLE_SQL,
        "event_funnel": _EVENT_FUNNEL_SQL,
        "triangle_count": _TRIANGLE_SQL,
        "cluster_split": _cluster_split_sql(),
        "cohort_retention": _COHORT_SQL,
        "substring_dedup": _SUBSTRING_DEDUP_SQL,
        "repetition_stats": _REPETITION_SQL,
        "decontaminate": _DECONTAMINATE_SQL,
        "chunk_documents": _CHUNK_SQL,
        "event_asof": _EVENT_ASOF_SQL,
        "fuzzy_eval": _fuzzy_eval_sql(),
        "skill_normalize_join": _skill_join_sql(),
        "resume_entities": _resume_entities_sql(),
        "skill_fuzzy_join": _skill_fuzzy_sql(),
        "pii_anonymize": _PII_ANON_SQL,
        "pii_mask_text": r"""
            WITH d AS (
              SELECT doc_id,
                'reach user' || doc_id::VARCHAR
                || '@example.com and admin@test.org :: '
                || substr(text, 1, 30) AS text
              FROM documents
            )
            SELECT doc_id,
              regexp_replace(text,
                '([A-Za-z0-9._%+-])[A-Za-z0-9._%+-]*(@[A-Za-z0-9.-]+\.[A-Za-z]{2,})',
                '\1***\2', 'g') AS masked
            FROM d
        """,
        "degree_expansion": _degree_sql(),
        "title_expansion": _title_sql(),
        "date_parse": _DATE_PARSE_SQL_TEMPLATE.format(
            sample=_sql_sample(_DATE_SAMPLES, "raw_date"),
            month_case=_MONTH_CASE_SQL,
        ),
        "gpa_extract": f"""
            WITH d AS (SELECT doc_id, {_sql_sample(_GPA_SAMPLES, 'raw_gpa')}
                       FROM documents)
            SELECT doc_id, raw_gpa,
              CASE WHEN regexp_matches(raw_gpa, '(?i)out\\s+of|on|scale')
                   THEN NULL
                   ELSE TRY_CAST(
                     nullif(regexp_extract(raw_gpa,
                       '\\b(\\d\\.\\d{{1,2}})\\b', 1), '') AS DOUBLE)
              END AS gpa
            FROM d
        """,
        "pii_mask": """
            WITH d AS (
              SELECT doc_id,
                'user' || doc_id::VARCHAR || '@example.com' AS email
              FROM documents
            )
            SELECT doc_id,
              CASE WHEN strpos(email, '@') > 1
                   THEN substr(email, 1, 1) || '***'
                        || substr(email, strpos(email, '@'))
                   ELSE '[EMAIL_REDACTED]' END AS masked_email
            FROM d
        """,
        "event_windows": """
            SELECT strftime(time_bucket(INTERVAL '5 minutes', ts),
                            '%Y-%m-%d %H:%M:%S') AS window_start,
              event_type, count(*)::BIGINT AS n,
              round(avg(value), 6) AS avg_value
            FROM events GROUP BY 1, 2
        """,
        "contact_extract": f"""
            WITH d AS (
              SELECT doc_id,
                (['Alice Morgan' || chr(10), 'Brian O Connell' || chr(10),
                  'Carla Diaz' || chr(10), ''])[(doc_id % 4) + 1]
                || 'reach user' || doc_id::VARCHAR || '@example.com or 555-123-'
                || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                || CASE WHEN doc_id % 2 = 0 THEN
                     ' https://www.linkedin.com/'
                     || CASE WHEN doc_id % 4 = 0 THEN 'in' ELSE 'pub' END
                     || '/user-' || (doc_id % 97)::VARCHAR
                   ELSE '' END
                || CASE WHEN doc_id % 3 = 0 THEN
                     ' github.com/user' || (doc_id % 53)::VARCHAR
                   ELSE '' END
                || ' :: ' || text AS contact_text
              FROM documents
            )
            SELECT doc_id,
              nullif(regexp_replace(regexp_extract(contact_text,
                '^([A-Z][a-zA-Z\\s]+)\\n', 1),
                '^{_PWS}+|{_PWS}+$', '', 'g'), '') AS name,
              nullif(regexp_extract(contact_text,
                '\\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Z|a-z]{{2,}}\\b', 0), '') AS email,
              nullif(regexp_extract(contact_text,
                '(\\b\\d{{3}}[-.\\s]?\\d{{3}}[-.\\s]?\\d{{4}}\\b|\\+\\d{{1,3}}[-.\\s]?\\d{{3,}}[-.\\s]?\\d{{4,}})', 0), '') AS phone,
              nullif(regexp_extract(contact_text,
                '(https?://)?(www\\.)?linkedin\\.com/(in|pub)/[a-zA-Z0-9-]+', 0), '') AS linkedin,
              nullif(regexp_extract(contact_text,
                '(https?://)?(www\\.)?github\\.com/[a-zA-Z0-9-]+/?', 0), '') AS github
            FROM d
        """,
        "summary_trunc": _SUMMARY_SQL,
        "textstats": _TEXTSTATS_SQL,
        "token_histogram": f"""
            SELECT lang, token, count(*)::BIGINT AS cnt
            FROM (SELECT lang, unnest(regexp_extract_all(text, '{_WORD_SQL}')) AS token
                  FROM documents)
            GROUP BY lang, token
        """,
        "dominant_token": f"""
            WITH hist AS (
              SELECT lang, token, count(*)::BIGINT AS cnt
              FROM (SELECT lang, unnest(regexp_extract_all(text, '{_WORD_SQL}')) AS token
                    FROM documents)
              GROUP BY lang, token
            )
            SELECT lang, token, cnt FROM (
              SELECT lang, token, cnt,
                row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token ASC) AS rn
              FROM hist
            ) WHERE rn = 1
        """,
        "distinct_sources": """
            SELECT lang,
              string_agg(DISTINCT source, ',' ORDER BY source) AS sources,
              count(*)::BIGINT AS n_docs
            FROM documents GROUP BY lang
        """,
        "exact_dedup": f"""
            WITH dup AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents
            )
            SELECT
              md5(regexp_replace(regexp_replace(lower(text), '{_PWS}+', ' ', 'g'),
                                 '^ | $', '', 'g')) AS fingerprint,
              min(doc_id) AS keep_id,
              count(*)::BIGINT AS dup_count
            FROM dup GROUP BY 1
        """,
        "minhash": _MINHASH_SQL,
        "layout_order": _layout_order_sql(),
        "ner_entities": _ner_entities_sql(),
        "quality_filter": _QUALITY_FILTER_SQL,
        "stratified_sample": _stratified_sample_sql(),
        "cluster_representatives": _cluster_reps_sql(),
        "minhash_candidates": _MINHASH_CANDIDATES_SQL,
        "dedup_clusters": _dedup_clusters_sql(),
        "jaccard_on_candidates": _minhash_ctes(src="reps", pre=_REPS_PRE)
            + _PAIRS_GUARDED + _JACCARD_ON_CANDIDATES_SQL_TAIL,
        "jaccard_pairs": f"""
            WITH toks AS (
              SELECT doc_id, source AS bucket,
                list_distinct(regexp_extract_all(text, '{_WORD_SQL}')) AS tok
              FROM documents
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              round(len(list_intersect(a.tok, b.tok))
                / greatest(len(list_distinct(list_concat(a.tok, b.tok))), 1), 6) AS jaccard
            FROM toks a JOIN toks b
              ON a.bucket = b.bucket AND a.doc_id < b.doc_id
            WHERE round(len(list_intersect(a.tok, b.tok))
                / greatest(len(list_distinct(list_concat(a.tok, b.tok))), 1), 6) >= 0.5
        """,
        "near_dup_embeddings": """
            WITH e AS (
              SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              round(
                list_sum([a.vec[i] * b.vec[i] for i in generate_series(1, len(a.vec))])
                / (sqrt(list_sum([x * x for x in a.vec]))
                   * sqrt(list_sum([x * x for x in b.vec]))), 6) AS cosine
            FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE round(
                list_sum([a.vec[i] * b.vec[i] for i in generate_series(1, len(a.vec))])
                / (sqrt(list_sum([x * x for x in a.vec]))
                   * sqrt(list_sum([x * x for x in b.vec]))), 6) >= 0.35
        """,
        "cosine_topk": _COSINE_TOPK_SQL,
        "ivf_topk": _IVF_TOPK_SQL,
        "lsh_buckets": _LSH_BUCKETS_SQL,
        "ann_topk": _ANN_TOPK_SQL,
        "simhash": _SIMHASH_SQL,
        "eval_metrics": _EVAL_METRICS_SQL,
        "lineitem_agg": """
            SELECT l_returnflag, l_linestatus,
              round(sum(l_quantity), 2) AS sum_qty,
              round(sum(l_extendedprice), 2) AS sum_base_price,
              round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
              round(avg(l_discount), 6) AS avg_disc,
              count(*)::BIGINT AS count_order
            FROM lineitem
            WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "order_month_span": """
            SELECT o_custkey,
              ((year(max(o_orderdate)) - year(min(o_orderdate))) * 12
               + (month(max(o_orderdate)) - month(min(o_orderdate))))::BIGINT AS month_span,
              count(*)::BIGINT AS n_orders
            FROM orders GROUP BY o_custkey
        """,
        "top_customers": """
            SELECT c_mktsegment, c_custkey,
              round(c_acctbal, 2) AS acctbal, rn::BIGINT AS rank
            FROM (
              SELECT c_mktsegment, c_custkey, c_acctbal,
                row_number() OVER (PARTITION BY c_mktsegment
                                   ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
              FROM customer
            ) WHERE rn <= 3
        """,
        "region_revenue": """
            SELECT r_name,
              round(sum(o_totalprice), 2) AS revenue,
              count(*)::BIGINT AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "events_by_type": """
            SELECT event_type, count(*)::BIGINT AS n,
              round(avg(value), 6) AS avg_value,
              round(sum(value), 4) AS sum_value
            FROM events GROUP BY event_type
        """,
        "event_sessions": """
            WITH flagged AS (
              SELECT user_id,
                CASE WHEN lag(epoch(ts)) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id) IS NULL
                       OR epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id
                                                           ORDER BY ts, event_id) > 1800
                     THEN 1 ELSE 0 END AS new_session
              FROM events
            )
            SELECT user_id, sum(new_session)::BIGINT AS n_sessions,
              count(*)::BIGINT AS n_events
            FROM flagged GROUP BY user_id
        """,
        "pii_hash": """
            SELECT doc_id,
              substr(sha256('user' || doc_id::VARCHAR || '@example.com'
                            || 'secure_salt_value'), 1, 8) AS email_hash
            FROM documents
        """,
    }

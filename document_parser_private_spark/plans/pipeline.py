"""End-to-end extraction pipeline (BASELINE.json north_star).

    documents(doc_id, spans, [byte_size, part])
      -> salted repartition by doc byte-size bucket   (skew)
      -> ONE mapInArrow pass per doc batch:            (Python, narrow)
           classify content/boilerplate/media-anchor
           (RE2 over the batch's spans), layout inference +
           offset renumbering (one numpy sort), then per doc
           the section FSM and only the entities among
           skills/education/experience/projects that the caller's
           `columns` name; `part`, when present, crosses as an
           untouched Arrow column
      -> contact / summary / certifications           (native, narrow)

After the single up-front repartition the whole pipeline is narrow — no
further shuffle at any scale; throughput scales linearly with executors
(the ≥0.8 N->4N efficiency target). Skew from giant PDFs is handled by
routing heavy docs (byte_size above threshold) across dedicated hash
buckets so no single task owns several giants. streaming.stream_extract
runs the same kernel (operators/resume.clean_columns) without the entity
columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.resume import extract_all_fused_op

HEAVY_BYTES = 8 * 1024  # ~3x the mean doc: above this, the giant-doc salt

FINAL_COLUMNS = (
    "doc_id", "clean_spans", "blocks_kept", "blocks_dropped", "sections",
    "contact", "summary", "skills", "education", "experience", "projects",
    "certifications",
)


def repartition_salted(
    df: DataFrame,
    num_partitions: int | None = None,
) -> DataFrame:
    """Salted repartition spreading the giant-doc tail (north_star skew
    rule).

    The placement key must be HIGH cardinality: repartition(n, key)
    places rows at hash(key) % n, so a key with only a few distinct
    values per partition suffers balls-into-bins skew — the previous
    4n-bucket salt measured a 2x doc / 8x byte imbalance at n=32
    (5..1255 docs per partition), a straggler that halves throughput.
    Full-width per-doc hashes give multinomial balance (±1/sqrt(docs/n)
    relative error, vanishing at scale). Heavy docs draw from an
    INDEPENDENT hash stream so a pathological doc_id set can never
    correlate the giant placement with the light placement; byte_size is
    computed when absent (cheap native proxy: sum of span text lengths).
    The 100 TB steady state makes even this one exchange unnecessary:
    write the table bucketed by the same hash (Iceberg `bucket(N,
    doc_id)`) and pass repartition=False.
    """
    if "byte_size" not in df.columns:
        df = df.withColumn(
            "byte_size",
            F.aggregate(
                "spans",
                F.lit(0).cast("long"),
                lambda acc, s: acc + F.coalesce(F.length(s["text"]), F.lit(0)),
            ),
        )
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    salt = F.when(
        F.col("byte_size") > HEAVY_BYTES,
        F.xxhash64(F.lit("heavy"), F.col("doc_id")),
    ).otherwise(F.xxhash64(F.col("doc_id")))
    return df.repartition(n, salt)


def extract_pipeline(
    df: DataFrame,
    num_partitions: int | None = None,
    repartition: bool = True,
    columns: tuple[str, ...] = FINAL_COLUMNS,
) -> DataFrame:
    """Full pipeline; returns one row per doc with the requested
    `columns` (any of FINAL_COLUMNS: clean spans, sections, extraction
    metrics columns and resume entities), plus the input's `part` when it
    has one (plans.checkpoint partitions its output by it without joining
    back to the input).

    `columns` is pushed into the Python kernel: an entity that is not
    requested is neither extracted nor shipped back to the JVM, which a
    select on the result could not achieve. Unknown names raise
    ValueError.

    repartition=False skips the salted exchange for inputs whose STORAGE
    is already salt-bucketed (the 100 TB deployment writes the documents
    table bucketed by byte-size salt, e.g. Iceberg `bucket(N, salt)`
    partitioning — so steady-state runs are exchange-free and the whole
    pipeline is one narrow stage). Keep the default for ad-hoc inputs.
    """
    unknown = [c for c in columns if c not in FINAL_COLUMNS]
    if unknown:
        raise ValueError(
            f"unknown pipeline columns {unknown}; expected any of "
            f"{FINAL_COLUMNS}")
    out = repartition_salted(df, num_partitions) if repartition else df
    carry = ("part",) if "part" in df.columns else ()
    return extract_all_fused_op(out, columns, carry=carry).select(
        *columns, *carry)


# Export schema = the reference Resume model (schemas/resume_schema.py:
# 5-33; shape of sample_expected_output_for_AM CV.json). gpa (education)
# and duration_months (experience) are internal pipeline columns the
# reference export does not carry — from_json drops unknown fields, so
# the to_json -> from_json -> to_json chain below strips them natively.
RESUME_EXPORT_SCHEMA = (
    "struct<"
    "contact: struct<name: string, email: string, phone: string,"
    "                linkedin: string, github: string>,"
    "summary: string,"
    "skills: array<string>,"
    "education: array<struct<institution: string, degree: string,"
    "  field_of_study: string, start_date: string, end_date: string,"
    "  description: string, achievements: array<string>>>,"
    "experience: array<struct<company: string, position: string,"
    "  start_date: string, end_date: string, description: string,"
    "  technologies: array<string>>>,"
    "projects: array<struct<name: string, description: string,"
    "  technologies: array<string>>>,"
    "certifications: array<string>"
    ">"
)


def resume_json_col() -> "F.Column":
    """One JSON document per row in the reference's export shape
    (main.py:184-186 json.dump of Resume.model_dump()).

    Implementation note: the field-subset projection is a lambda-free
    to_json -> from_json(export schema) -> to_json round trip, NOT an
    array transform() — Spark cannot evaluate a Python UDF that the
    optimizer has inlined under a higher-order-function lambda, and the
    pipeline's entity arrays come out of the fused Python pass.
    ignoreNullFields=false so nulls serialize explicitly like Python's
    json.dumps(None) -> null; dates render ISO yyyy-MM-dd.
    """
    full = F.to_json(
        F.struct(
            F.col("contact"), F.col("summary"), F.col("skills"),
            F.col("education"), F.col("experience"), F.col("projects"),
            F.col("certifications"),
        ),
        {"ignoreNullFields": "false"},
    )
    shaped = F.from_json(full, RESUME_EXPORT_SCHEMA)
    return F.to_json(shaped, {"ignoreNullFields": "false"})


def export_resume_json(result: DataFrame) -> DataFrame:
    """(doc_id, resume_json) export view of the pipeline output — the S6
    JSON-sink parity surface; write with .write.text/.json or any sink."""
    return result.select("doc_id", resume_json_col().alias("resume_json"))

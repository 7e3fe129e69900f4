"""Per-partition checkpoint/resume with lineage + metrics side tables
(BASELINE.json north_rule: "resumable from checkpoint with per-partition
lineage + metrics", "exactly-once via atomic append + idempotent
overwrite-by-partition").

Layout under `out_dir` (parquet here; the design maps 1:1 onto Iceberg —
lineage append == snapshot commit, partition overwrite == overwrite-by-
partition; parquet is used because the sandbox ships no Iceberg runtime):

    out_dir/extracted/part=<p>/...   extraction output, dynamic overwrite
    out_dir/lineage/...              append-only ledger: one row per
                                     completed partition per run, with
                                     its doc_count
    out_dir/metrics/part=<p>/...     extraction metrics per partition,
                                     dynamic overwrite

Plan per commit group: the fused extraction kernel runs ONCE (`part`
crosses it as an untouched Arrow column, so nothing joins back to the
input) and its result is written once. The kernel is asked for the
committed columns only (COMMITTED_COLUMNS): it runs classify and
layout, the section FSM and skills, and never parses the education,
experience or projects entities, which a commit does not write. The
group's metrics are then aggregated from the committed
`extracted/part=<p>` directories alone — a few int columns, no Python —
so they count exactly the rows that were committed, and written
straight from that aggregate without leaving the JVM. The lineage rows
(at most parts_per_commit) are written as one native literal plan and
carry each part's input doc count, taken from the scan that lists the
parts, so a lost doc shows as a lineage/metrics mismatch.

Correctness argument (kill anywhere, rerun, identical final output):
  1. a partition's data is written with dynamic partition overwrite —
     rewriting partition p replaces exactly partition p, so a retry after
     a mid-write kill cannot duplicate rows;
  2. the metrics of partition p are overwritten from p's committed
     data, idempotent like step 1;
  3. the lineage row for p is appended only AFTER p's data commit; a kill
     between the two re-processes p (idempotent by 1);
  4. resume = anti-join of all partitions against lineage 'done' rows, so
     completed partitions are never recomputed.

Each commit group's Spark jobs carry the description
`checkpoint run=<run_id> parts=[...]`.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType

from .pipeline import extract_pipeline

LINEAGE_SCHEMA = (
    "part int, status string, run_id string, doc_count long, "
    "started_at double, finished_at double"
)
METRICS_SCHEMA = (
    "part int, doc_count long, blocks_kept long, blocks_dropped long, "
    "parse_failures long, run_id string"
)
# The committed columns the metrics aggregate reads back. Reading them
# with a known schema spares every commit group a one-task job that
# infers the schema from a parquet footer.
COUNTS_SCHEMA = "part int, blocks_kept int, blocks_dropped int"
# The pipeline columns a commit writes (the nested ones as JSON).
COMMITTED_COLUMNS = (
    "doc_id", "blocks_kept", "blocks_dropped", "clean_spans", "sections",
    "contact", "summary", "skills",
)


def _read_side_table(spark: SparkSession, path: str,
                     schema: str) -> DataFrame | None:
    """A side table (lineage or metrics), read with its own schema; None
    when it does not exist yet.

    Existence is checked through the path's Hadoop FileSystem, so a
    missing table costs no Spark read (reading a missing path makes
    Spark log a FileNotFoundException stack trace at WARN on every fresh
    run). A table whose first write was killed before committing a file
    (only `_temporary/` on disk) reads as empty. Any error reading an
    existing table (an unreadable file, a permission problem) propagates,
    because treating a broken ledger as empty would silently recompute
    every part. None rather than an empty DataFrame keeps the
    missing-ledger case of every fresh run free of Spark jobs."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(
        spark._jsparkSession.sessionState().newHadoopConf())
    if not fs.exists(jpath):
        return None
    return spark.read.schema(schema).parquet(path)


def read_metrics(spark: SparkSession, out_dir: str) -> DataFrame:
    """The metrics rows of the parts the lineage ledger marks 'done'. A
    run killed before any commit reads as empty."""
    metrics = _read_side_table(spark, f"{out_dir}/metrics", METRICS_SCHEMA)
    lineage = _read_side_table(spark, f"{out_dir}/lineage", LINEAGE_SCHEMA)
    if metrics is None or lineage is None:
        return spark.createDataFrame([], METRICS_SCHEMA)
    done = lineage.where(F.col("status") == "done")
    return metrics.join(done, "part", "left_semi")


def _lineage_done(spark: SparkSession, out_dir: str) -> set[int]:
    """Parts the ledger marks 'done'; empty when no ledger exists yet,
    raises when it is broken (see _read_side_table)."""
    lineage = _read_side_table(spark, f"{out_dir}/lineage", LINEAGE_SCHEMA)
    if lineage is None:
        return set()
    rows = (
        lineage.where(F.col("status") == "done")
        .select("part")
        .distinct()
        .collect()
    )
    return {r["part"] for r in rows}


def _append_literal_rows(spark: SparkSession, schema: str,
                         rows: list[tuple], path: str) -> None:
    """Append a handful of lineage rows as one native literal plan
    (inline(array(struct(lit...)))), skipping createDataFrame's Python
    row conversion — a 4-row append measured 0.24 s against 0.42 s
    (median, 4 vCPU, local[4])."""
    row_type = StructType.fromDDL(schema)
    structs = [
        F.struct(*(F.lit(v).cast(f.dataType).alias(f.name)
                   for v, f in zip(row, row_type.fields)))
        for row in rows
    ]
    # literals are non-nullable; the cast restores the schema's nullable
    # columns, so the files match what readers of these tables expect
    rows_col = F.array(*structs).cast(ArrayType(row_type))
    spark.range(0, 1, 1, 1).select(F.inline(rows_col)) \
        .write.mode("append").parquet(path)


def run_with_checkpoint(
    df: DataFrame,
    out_dir: str,
    parts_per_commit: int = 4,
    run_id: str | None = None,
    fail_after_commits: int | None = None,
    fail_before_lineage: int | None = None,
) -> dict:
    """Run the extraction pipeline over `df` (must carry an int `part`
    column), committing per group of partitions; resumes past partitions
    already recorded 'done' in the lineage ledger.

    fail_after_commits: test hook — raise after N commits to simulate a
    mid-run kill. fail_before_lineage: test hook — raise during the Nth
    commit after the metrics write but before the lineage commit point.

    Returns {"processed_parts": [...], "skipped_parts": [...],
    "run_id": ...}.
    """
    spark = df.sparkSession
    run_id = run_id or uuid.uuid4().hex[:12]

    # Resume correctness REQUIRES dynamic partition overwrite: with
    # Spark's default (static), step 1's overwrite would delete every
    # previously committed partition while lineage still marks them done
    # — a resume would then silently produce incomplete output. Enforce
    # rather than assume (session.get_spark sets it, but this operator
    # must be safe under any session) — and restore the caller's value on
    # exit so unrelated writes keep their overwrite semantics.
    _OVERWRITE_KEY = "spark.sql.sources.partitionOverwriteMode"
    prev_mode = spark.conf.get(_OVERWRITE_KEY, None)
    spark.conf.set(_OVERWRITE_KEY, "dynamic")
    sc = spark.sparkContext
    prev_description = sc.getLocalProperty("spark.job.description")
    try:
        part_docs = {
            r["part"]: r["count"]
            for r in df.groupBy("part").count().collect()
        }
        all_parts = sorted(part_docs)
        done = _lineage_done(spark, out_dir)
        pending = [p for p in all_parts if p not in done]
        skipped = [p for p in all_parts if p in done]

        processed: list[int] = []
        commits = 0
        extracted = f"{out_dir}/extracted"
        for i in range(0, len(pending), parts_per_commit):
            group = pending[i:i + parts_per_commit]
            sc.setJobDescription(f"checkpoint run={run_id} parts={group}")
            started = time.time()
            result = extract_pipeline(df.where(F.col("part").isin(group)),
                                      columns=COMMITTED_COLUMNS)
            # 1. idempotent data commit (dynamic partition overwrite)
            result.select(
                "doc_id", "part", "blocks_kept", "blocks_dropped",
                F.to_json("clean_spans").alias("clean_spans_json"),
                F.to_json("sections").alias("sections_json"),
                F.to_json("contact").alias("contact_json"),
                "summary",
                F.to_json("skills").alias("skills_json"),
            ).write.mode("overwrite").partitionBy("part").parquet(extracted)
            # 2. metrics overwrite, aggregated from the group's committed
            # partitions only
            (
                spark.read.schema(COUNTS_SCHEMA)
                .option("basePath", extracted)
                .parquet(*(f"{extracted}/part={p}" for p in group))
                .groupBy("part")
                .agg(
                    F.count("*").alias("doc_count"),
                    F.sum("blocks_kept").alias("blocks_kept"),
                    F.sum("blocks_dropped").alias("blocks_dropped"),
                    F.sum(
                        F.when(F.col("blocks_kept").isNull(), 1).otherwise(0)
                    ).alias("parse_failures"),
                    F.lit(run_id).alias("run_id"),
                )
                .write.mode("overwrite").partitionBy("part")
                .parquet(f"{out_dir}/metrics")
            )
            if fail_before_lineage is not None and commits + 1 >= fail_before_lineage:
                raise RuntimeError(
                    "simulated failure between metrics write and lineage "
                    "commit (test hook)"
                )
            # 3. lineage append LAST (commit point)
            finished = time.time()
            _append_literal_rows(
                spark, LINEAGE_SCHEMA,
                [(p, "done", run_id, part_docs[p], started, finished)
                 for p in group],
                f"{out_dir}/lineage",
            )
            processed.extend(group)
            commits += 1
            if fail_after_commits is not None and commits >= fail_after_commits:
                raise RuntimeError(
                    f"simulated failure after {commits} commits (test hook)"
                )
    finally:
        sc.setJobDescription(prev_description)
        if prev_mode is None:
            spark.conf.unset(_OVERWRITE_KEY)
        else:
            spark.conf.set(_OVERWRITE_KEY, prev_mode)
    return {"processed_parts": processed, "skipped_parts": skipped,
            "run_id": run_id}

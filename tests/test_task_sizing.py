"""Task sizing from measurements, not per-query flags (PLANS.md §22).

`__spark_entry__._read` spreads documents and embeddings reads whose
scan has fewer splits than cores and at least 256 KB, and never spreads
the TPC-H/events tables; `session.default_driver_memory` sizes the
driver from the host. The first two tests need no Spark session.
"""

import pytest

import __spark_entry__ as E
from document_parser_private_spark.session import default_driver_memory

SF01 = "/root/testdata/sf0.1"
KB = 1 << 10
GB = 1 << 30


@pytest.mark.parametrize("table,splits,cores,size,spread", [
    ("documents", 1, 4, 594 * KB, True),       # sf0.1 single row group
    ("documents", 1, 32, 3733 * KB, True),     # the 10x dir
    ("embeddings", 1, 4, 798 * KB, True),
    ("documents", 4, 4, 594 * KB, False),      # one split per core
    ("documents", 64, 32, 100 * GB, False),    # multi-file production
    ("documents", 1, 4, 64 * KB, False),       # sf0.001: below the floor
    ("embeddings", 1, 4, 255 * KB, False),
    ("documents", 1, 4, 256 * KB, True),
    ("lineitem", 1, 4, 10 * GB, False),        # TPC-H: never
    ("orders", 1, 4, 17 * GB, False),
    ("events", 1, 4, 2 * GB, False),
    ("region", 1, 4, 2 * KB, False),
])
def test_spread_decision(table, splits, cores, size, spread):
    decided = (table in E._SPREAD_TABLES
               and E._needs_spread(splits, cores, size))
    assert decided is spread


@pytest.mark.parametrize("phys,expected", [
    (15 * GB, "7g"),
    (16 * GB, "8g"),
    (256 * GB, "128g"),
    (GB, "1g"),
    (512 << 20, "1g"),
])
def test_default_driver_memory_is_half_the_host(phys, expected):
    assert default_driver_memory(phys) == expected


def test_default_driver_memory_reads_the_host():
    value = default_driver_memory()
    assert value.endswith("g") and int(value[:-1]) >= 1


def _round_robin(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("RoundRobinPartitioning")


def test_read_spreads_only_single_split_documents(spark, tmp_path):
    assert spark.sparkContext.defaultParallelism == 4
    # the session keeps a single-row-group file in one split, so the
    # rule's split count is the number of splits that carry data
    raw = spark.read.parquet(f"{SF01}/documents.parquet")
    assert raw.rdd.getNumPartitions() == 1

    assert _round_robin(E._read(spark, SF01, "documents")) == 1
    assert _round_robin(E._read(spark, SF01, "embeddings")) == 1
    assert _round_robin(E._read(spark, SF01, "lineitem")) == 0
    assert _round_robin(E._read(spark, SF01, "region")) == 0
    assert _round_robin(
        E._read(spark, "/root/testdata/sf0.001", "documents")) == 0

    # the same documents in four files: one split per core already
    raw.repartition(4).write.parquet(str(tmp_path / "documents.parquet"))
    multi = E._read(spark, str(tmp_path), "documents")
    assert multi.rdd.getNumPartitions() >= 4
    assert _round_robin(multi) == 0

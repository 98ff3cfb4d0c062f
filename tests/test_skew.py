"""Skew handling: salted repartition spreads a pathologically clustered
corpus evenly (the north_rule's mega-document defense)."""

import pyspark.sql.functions as F

from tests.fixture_rows import _doc, _t
from warc2text_spark.operators.extract import salted_repartition
from warc2text_spark.sources.fixtures import INPUT_SCHEMA


def partition_sizes(df):
    return [r.n for r in
            df.withColumn("pid", F.spark_partition_id())
              .groupBy("pid").agg(F.count(F.lit(1)).alias("n")).collect()]


def test_salted_repartition_balances_clustered_input(spark):
    # pathological layout: all docs arrive in ONE input partition (e.g. a
    # crawl dump sorted by host), with one mega-doc cluster
    rows = [_doc(f"host-a-{i:05d}", [_t("<p>" + "x" * 2000 + "</p>")])
            for i in range(400)]
    df = spark.createDataFrame(rows, schema=INPUT_SCHEMA).coalesce(1)
    assert partition_sizes(df) == [400]  # everything on one partition

    spread = salted_repartition(df, 8)
    sizes = partition_sizes(spread)
    assert len(sizes) == 8
    # xxhash64 spreads uniformly: no partition holds more than 2x the mean
    assert max(sizes) <= 2 * (400 / 8)
    assert sum(sizes) == 400


def test_salting_is_deterministic(spark):
    rows = [_doc(f"d{i}", [_t("<p>t</p>")]) for i in range(50)]
    df = spark.createDataFrame(rows, schema=INPUT_SCHEMA)
    a = sorted(partition_sizes(salted_repartition(df, 4)))
    b = sorted(partition_sizes(salted_repartition(df, 4)))
    assert a == b

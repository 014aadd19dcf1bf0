"""The forced (count, digest) of a timed run: order-insensitive, sensitive
to every row.  Starts a small local Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

pyspark = pytest.importorskip("pyspark")


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    tmp = str(tmp_path_factory.mktemp("spark"))
    s = (SparkSession.builder.master("local[2]").appName("perfbench-tests")
         .config("spark.ui.enabled", "false").config("spark.local.dir", tmp)
         .config("spark.sql.shuffle.partitions", "2").getOrCreate())
    yield s
    s.stop()


def test_force_digest_ignores_row_order_and_sees_every_row(spark):
    from workloads import QueryWorkload

    rows = [(i, f"t{i % 7}", i * 0.5, [float(i), 1.0]) for i in range(200)]
    schema = "id long, s string, x double, v array<double>"
    df = spark.createDataFrame(rows, schema)
    base = QueryWorkload.force(df)
    assert base[0] == 200
    assert QueryWorkload.force(spark.createDataFrame(rows[::-1], schema).repartition(3)) == base
    changed = rows[:-1] + [(199, "t0", 99.5, [199.0, 1.0])]
    assert QueryWorkload.force(spark.createDataFrame(changed, schema)) != base
    assert QueryWorkload.force(spark.createDataFrame(rows + rows[:1], schema))[1] != base[1]

"""ensure_parallelism is the package's one scan-widening rule: both of its
branches, and a source scan that keeps the hand-written idiom from being
copied back into other modules."""

from __future__ import annotations

import re
from pathlib import Path

from pyspark.sql import functions as F

from crawspark.operators.partitioning import ensure_parallelism
from crawspark.plans import executed_plan
from crawspark.sources import read_testdata

SF = "/root/testdata/sf0.001"
PKG = Path(__file__).resolve().parent.parent / "crawspark"


def _round_robin(spark) -> str:
    return f"RoundRobinPartitioning({spark.sparkContext.defaultParallelism})"


def test_wide_input_passes_through(spark):
    df = spark.range(0, 100, numPartitions=8)
    assert df.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    out = ensure_parallelism(df)
    assert out is df
    assert "Exchange" not in executed_plan(out)


def test_single_file_scan_widens_once(spark):
    docs = read_testdata(spark, SF, "documents")
    assert docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    plan = executed_plan(ensure_parallelism(docs))
    assert plan.count(_round_robin(spark)) == 1, plan
    assert plan.count("Exchange") == 1, plan


def test_two_scan_union_widens_once(spark):
    # The planted-excerpt shape _winnow_fpc and dedup_containment_pairs
    # pass in: the documents scan unioned with a narrow slice of itself.
    docs = read_testdata(spark, SF, "documents")
    plants = (docs.filter(F.col("doc_id") % 29 == 0)
              .select((-F.col("doc_id") - 1).alias("doc_id"), "text"))
    aug = docs.select("doc_id", "text").unionByName(plants)
    assert aug.rdd.getNumPartitions() == 2
    plan = executed_plan(ensure_parallelism(aug))
    assert plan.count(_round_robin(spark)) == 1, plan
    assert plan.count("Exchange") == 1, plan


def test_widening_decided_only_in_partitioning_module():
    idiom = re.compile(r"repartition\((spark\.sparkContext|sc)"
                       r"\.defaultParallelism\)|getNumPartitions\(\)")
    owner = PKG / "operators" / "partitioning.py"
    offenders = [f"{p.relative_to(PKG)}:{i}"
                 for p in sorted(PKG.rglob("*.py")) if p != owner
                 for i, line in enumerate(p.read_text().splitlines(), 1)
                 if idiom.search(line)]
    assert not offenders, offenders

"""Bucketed-table co-located join (SURVEY.md §4 / pyspark guide):
writing both fact tables bucketed on the join key lets the join run
WITHOUT any shuffle exchange — the layout strategy for repeated
fact-fact joins at 100 TB. Exercised as a test (bucketed tables need a
session catalog + warehouse, which the external driver's session may
not configure)."""

from __future__ import annotations

from pyspark.sql import functions as F

from integrator_spark.io import load_table
from integrator_spark.plans.audit import plan_string

from .conftest import TEST_SF_DIR


def test_bucketed_join_has_no_shuffle(spark):
    o = load_table(spark, TEST_SF_DIR, "orders")
    c = load_table(spark, TEST_SF_DIR, "customer")
    (o.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
     .mode("overwrite").saveAsTable("b_orders"))
    (c.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
     .mode("overwrite").saveAsTable("b_customer"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = (spark.table("b_orders")
             .join(spark.table("b_customer"),
                   F.col("o_custkey") == F.col("c_custkey"))
             .groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n")))
        plan = plan_string(j)
        join_part = plan.split("HashAggregate")[0]
        assert "Exchange" not in join_part, plan[:3000]
        got = {r.c_mktsegment: r.n for r in j.collect()}
        want = {r.c_mktsegment: r.n for r in
                (o.join(c, F.col("o_custkey") == F.col("c_custkey"))
                 .groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n"))
                 .collect())}
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


_WRITER = """
import sys; sys.path.insert(0, {repo!r})
from integrator_spark.session import build_session
spark = build_session(cpus=4, warehouse_dir={wh!r})
df = spark.range(2000).selectExpr("id AS k", "id % 7 AS v")
df.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bt_a")
df.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bt_b")
assert spark.table("bt_a").count() == 2000
print("WRITER-OK")
spark.stop()
"""

_READER = """
import sys; sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from integrator_spark.session import build_session
spark = build_session(cpus=4, warehouse_dir={wh!r})
spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
a = spark.table("bt_a")
b = spark.table("bt_b").withColumnRenamed("v", "v2")
j = a.join(b, "k").groupBy("v").agg(F.count(F.lit(1)).alias("n"))
plan = j._jdf.queryExecution().executedPlan().toString()
join_part = plan.split("HashAggregate")[0]
assert "Exchange" not in join_part, plan[:3000]
assert j.count() == 7
print("READER-OK-NO-EXCHANGE")
"""


def test_bucketed_layout_survives_session_restart(tmp_path):
    """Durable layout: a bucketBy saveAsTable written by one DRIVER
    PROCESS joins zero-Exchange in a second, completely separate driver
    process pointing at the same warehouse (embedded Derby metastore —
    build_session(warehouse_dir=...)). Without a persistent catalog the
    bucketing spec dies with the session and the shuffle silently comes
    back."""
    import os
    import subprocess
    import sys as _sys

    wh = str(tmp_path / "wh")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    w = subprocess.run([_sys.executable, "-c", _WRITER.format(repo=repo, wh=wh)],
                       capture_output=True, text=True, timeout=600)
    assert "WRITER-OK" in w.stdout, w.stdout[-2000:] + w.stderr[-2000:]
    r = subprocess.run([_sys.executable, "-c", _READER.format(repo=repo, wh=wh)],
                       capture_output=True, text=True, timeout=600)
    assert "READER-OK-NO-EXCHANGE" in r.stdout, \
        r.stdout[-2000:] + r.stderr[-2000:]

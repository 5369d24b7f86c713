"""Skew/partitioning tests: salted repartition balances the skewed corpus."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fast_pdf_parser_spark.operators.pipeline import repartition_for_skew
from fast_pdf_parser_spark.sources.synth import (
    SPANS_DDL,
    _doc_cost,
    iter_docs,
    make_doc,
)


def test_salted_repartition_balances_bytes(spark):
    # heavily skewed synthetic docs (1..108 pages)
    docs = list(iter_docs(300, seed=42))
    df = spark.createDataFrame(pd.DataFrame(docs), schema=SPANS_DDL)
    est = F.aggregate(
        F.col("spans"), F.lit(0).cast("bigint"),
        lambda acc, s: acc + F.coalesce(F.octet_length(s["text"]),
                                        F.lit(0)).cast("bigint"),
    )
    n = 8
    parts = (
        repartition_for_skew(df, n)
        .select(F.spark_partition_id().alias("pid"), est.alias("bytes"))
        .groupBy("pid").agg(F.sum("bytes").alias("b"), F.count("*").alias("docs"))
        .collect()
    )
    assert len(parts) == n
    sizes = [r.b for r in parts]
    # statistically uniform: no partition more than 3x the mean
    mean = sum(sizes) / len(sizes)
    assert max(sizes) <= 3 * mean, sizes
    # every partition non-empty
    assert min(r.docs for r in parts) > 0


@pytest.mark.parametrize("seed", [1, 42])
@pytest.mark.parametrize("include_pdf,include_html",
                         [(False, False), (True, False), (False, True),
                          (True, True)])
def test_doc_cost_matches_make_doc(seed, include_pdf, include_html):
    """_doc_cost replays make_doc's rng draws without building text; a
    drift in make_doc must show here: 1 + pdf 10 / html 3 / text 1 per
    non-media span."""
    weight = {"pdf": 10, "html": 3, "text": 1, "media": 0}
    for i in range(40):
        doc = make_doc(i, seed, include_pdf, include_html=include_html)
        want = 1 + sum(weight[s["kind"]] for s in doc["spans"])
        assert _doc_cost(i, seed, include_pdf, include_html) == want, i


def test_bucket_estimate_uses_fast_token_estimate():
    # A2 fast path is for sizing only (SURVEY.md §4: never for boundaries)
    from fast_pdf_parser_spark.functions.tokenizer import estimate_tokens

    assert estimate_tokens("x" * 400) == 100


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Bucketing = the co-located-join lever for repeated big joins at
    100 TB: both fact tables written bucketBy the join key join WITHOUT a
    shuffle (no Exchange above either scan), vs the plain-parquet plan
    which must exchange both sides."""
    import os

    wh = str(tmp_path / "wh")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS buckdemo LOCATION '{wh}'")
    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet") \
        .select("l_orderkey", "l_extendedprice")
    od = spark.read.parquet("/root/testdata/sf0.01/orders.parquet") \
        .select("o_orderkey", "o_custkey")
    for name, df, key in [("li_b", li, "l_orderkey"),
                          ("od_b", od, "o_orderkey")]:
        df.write.mode("overwrite").bucketBy(8, key).sortBy(key) \
            .saveAsTable(f"buckdemo.{name}")
    # disable broadcast so the join strategy is the bucketed SMJ
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.sql(
            "SELECT o_custkey, sum(l_extendedprice) AS s "
            "FROM buckdemo.li_b JOIN buckdemo.od_b "
            "ON l_orderkey = o_orderkey GROUP BY o_custkey")
        plan = j._jdf.queryExecution().executedPlan().toString()
        join_part = plan.split("HashAggregate")[-1]
        # the JOIN consumes bucket-partitioned scans directly: the only
        # exchange in the whole plan is the one for the final groupBy
        assert "SortMergeJoin" in plan
        assert "Exchange" not in join_part, join_part[:500]
        assert plan.count("Exchange hashpartitioning") == 1
        # cross-check: same join over plain parquet needs two exchanges
        li.createOrReplaceTempView("li_p")
        od.createOrReplaceTempView("od_p")
        p2 = spark.sql(
            "SELECT o_custkey, sum(l_extendedprice) AS s FROM li_p "
            "JOIN od_p ON l_orderkey = o_orderkey GROUP BY o_custkey"
        )._jdf.queryExecution().executedPlan().toString()
        assert p2.count("Exchange hashpartitioning") >= 2
        # and values agree
        a = {(r.o_custkey, round(r.s, 2)) for r in j.collect()}
        b = {(r.o_custkey, round(r.s, 2)) for r in spark.sql(
            "SELECT o_custkey, sum(l_extendedprice) AS s FROM li_p "
            "JOIN od_p ON l_orderkey = o_orderkey GROUP BY o_custkey"
        ).collect()}
        assert a == b
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS buckdemo.li_b")
        spark.sql("DROP TABLE IF EXISTS buckdemo.od_b")
        spark.sql("DROP DATABASE IF EXISTS buckdemo")
        _ = os


def test_aqe_skew_join_splits_hot_partition(spark):
    """The north rule names AQE skew-join splitting as the explicit skew
    lever for joins: with one pathologically hot key, AQE must mark the
    sort-merge join skew-handled and split the hot partition at runtime
    (thresholds lowered to trip at test scale; at 100 TB the defaults
    trip the same way)."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        n_hot = 120_000
        # pad must be id-derived (a literal is constant-folded out of the
        # shuffle) and incompressible (the hot partition's bytes are what
        # trips the threshold — 120k copies of a constant lz4 to ~nothing)
        left = spark.range(n_hot + 800).selectExpr(
            f"CASE WHEN id < {n_hot} THEN CAST(0 AS BIGINT) ELSE id END AS k",
            "concat(md5(CAST(id AS STRING)), md5(CAST(id + 1 AS STRING))) "
            "AS pad",
        )
        right = spark.range(64).selectExpr("id AS k", "id * 2 AS v")
        joined = left.join(right, "k")
        # collect() executes THIS DataFrame's own QueryExecution (count()
        # would run a different aggregate query), so the adaptive plan
        # below is final and carries the runtime skew marker.
        # Only the hot key matches the dim (tail ids exceed the dim range).
        assert len(joined.collect()) == n_hot
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

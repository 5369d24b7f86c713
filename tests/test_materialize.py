"""util.materialize: the persisted relation is served from the cache to
every consumer shape the queries() entries use, and is released by
spark.catalog.clearCache() without losing its value."""

from fast_pdf_parser_spark.util import materialize


def _cached_scans(df):
    return df._jdf.queryExecution().withCachedData().toString().count(
        "InMemoryRelation")


def test_cte_relation_served_from_cache_inside_with(spark):
    """A relation built from a WITH statement and read from ANOTHER WITH
    statement through a temp view (the band-signature / near-verdict
    shape) must hit the cache at both references, not re-run its plan."""
    m = materialize(spark.sql(
        "WITH a AS (SELECT id FROM range(20)), "
        "b AS (SELECT id * 3 AS y FROM a) "
        "SELECT y FROM b JOIN a ON b.y = a.id"))
    try:
        m.createOrReplaceTempView("materialize_cte_probe")
        q = spark.sql(
            "WITH z AS (SELECT y FROM materialize_cte_probe) "
            "SELECT z.y FROM z JOIN materialize_cte_probe w ON z.y = w.y")
        assert _cached_scans(q) == 2
        assert sorted(r.y for r in q.collect()) == [0, 3, 6, 9, 12, 15, 18]
    finally:
        m.unpersist()
        spark.catalog.dropTempView("materialize_cte_probe")


def test_released_block_recomputes(spark):
    df = spark.range(100).selectExpr("id", "id * id AS sq")
    m = materialize(df)
    total = m.agg({"sq": "sum"}).first()[0]
    spark.catalog.clearCache()
    assert _cached_scans(m) == 0
    assert m.agg({"sq": "sum"}).first()[0] == total == sum(
        i * i for i in range(100))

"""Spark SQL interface: the engine's tables are first-class SQL citizens.

A user of the reference writes SQL; a catalog table read into a
``layer_name`` temp view runs the same star-schema queries verbatim
through ``spark.sql`` — and produces exactly what the DataFrame API
produces (same Catalyst plan underneath).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_sql_over_registered_views_matches_dataframe_api(spark, tmp_path):
    from dbt_repo_spark.sources.catalog import Catalog

    catalog = Catalog(spark, str(tmp_path / "wh"))
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    catalog.write(li, "analytics", "lineitem", partition_by=None)
    catalog.write(orders, "analytics", "orders", partition_by=None)
    for name in ("lineitem", "orders"):
        catalog.read("analytics", name).createOrReplaceTempView(f"analytics_{name}")

    sql_out = spark.sql(
        """
        SELECT o.o_orderstatus,
               CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty,
               COUNT(*) AS n
        FROM analytics_lineitem l
        JOIN analytics_orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderstatus
        """
    )
    df_out = (
        catalog.read("analytics", "lineitem")
        .join(
            catalog.read("analytics", "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderstatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias("qty"),
            F.count("*").alias("n"),
        )
    )
    a = {(r.o_orderstatus, r.qty, r.n) for r in sql_out.collect()}
    b = {(r.o_orderstatus, r.qty, r.n) for r in df_out.collect()}
    assert a == b and len(a) > 0


def test_sql_scalar_subquery_and_exists(spark):
    """Scalar subqueries and EXISTS/NOT EXISTS work through spark.sql
    (A8 + semi/anti-join SQL forms)."""
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet").createOrReplaceTempView(
        "v_orders"
    )
    spark.read.parquet(
        "/root/testdata/sf0.001/customer.parquet"
    ).createOrReplaceTempView("v_customer")
    out = spark.sql(
        """
        SELECT COUNT(*) AS n
        FROM v_customer c
        WHERE EXISTS (SELECT 1 FROM v_orders o WHERE o.o_custkey = c.c_custkey)
          AND c.c_acctbal > (SELECT AVG(c_acctbal) FROM v_customer)
        """
    ).first()
    assert out.n > 0

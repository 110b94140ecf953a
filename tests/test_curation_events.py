"""Behavior pin for the Spark/DuckDB floor-division idiom — an edge
semantic the sf-parity test can't isolate."""


def test_props_variant_bucket_floors_negative_k(spark):
    """k_bucket must agree between the Spark floor expression and the
    oracle's explicit floor(k/10.0) for NEGATIVE k — neither engine's
    native integer-division idiom does: Spark (k/10).cast('int')
    truncates toward zero AND DuckDB's `//` also truncates
    ((-5)//10 = 0, verified), which is why both dialects spell floor
    literally.  Latent-divergence guard: testdata k is 0..99 today."""
    import duckdb

    from pyspark.sql import functions as F

    ks = [-25, -15, -5, -1, 0, 5, 15]
    sdf = spark.createDataFrame([(k,) for k in ks], "k int")
    got = sorted(
        (r["k"], r["b"])
        for r in sdf.select(
            "k", F.floor(F.col("k") / F.lit(10)).cast("int").alias("b")
        ).collect()
    )
    want = sorted(
        duckdb.sql(
            "SELECT k, CAST(floor(k/10.0) AS INTEGER) b FROM (VALUES "
            + ",".join(f"({k})" for k in ks)
            + ") t(k)"
        ).fetchall()
    )
    assert got == want
    assert dict(got)[-5] == -1 and dict(got)[-15] == -2

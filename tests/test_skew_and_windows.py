"""Salted skew operators (result parity with naive plans) and sketch
accuracy (approx_percentile, KMV)."""

from pyspark.sql import functions as F

from ideafast_etl_spark.operators.skew import salted_count, salted_skew_join, salted_sum


def _skewed_df(spark):
    # one hot key (90%) + long tail
    rows = [("hot", float(i % 7)) for i in range(900)] + [
        (f"k{i}", float(i)) for i in range(100)
    ]
    return spark.createDataFrame(rows, "k string, v double")


def test_salted_count_matches_naive(spark):
    df = _skewed_df(spark)
    naive = {r["k"]: r["count"] for r in df.groupBy("k").count().collect()}
    salted = {r["k"]: r["count"] for r in salted_count(df, ["k"]).collect()}
    assert salted == naive


def test_salted_sum_matches_naive(spark):
    df = _skewed_df(spark).withColumn("v", F.col("v").cast("long"))
    naive = {r["k"]: r["sum(v)"] for r in df.groupBy("k").agg(F.sum("v")).collect()}
    salted = {r["k"]: r["sum_v"] for r in salted_sum(df, ["k"], "v").collect()}
    assert salted == naive


def test_salted_skew_join_matches_naive(spark):
    facts = _skewed_df(spark)
    dim = spark.createDataFrame(
        [("hot", "HOT-DIM"), ("k5", "K5-DIM")], "k string, label string"
    )
    naive = facts.join(dim, "k").groupBy("k", "label").count()
    salted = salted_skew_join(facts, dim, "k").groupBy("k", "label").count()
    assert sorted(map(tuple, naive.collect())) == sorted(map(tuple, salted.collect()))


def test_approx_percentile_within_rank_error_bound(spark):
    """The 100 TB quantile path (approx_percentile, GK sketch with accuracy
    a) must land within 1/a rank error of the exact percentile — checked
    against the exact distributed percentile on a deterministic corpus."""
    from pyspark.sql import functions as F

    n, acc = 20_001, 1000
    df = spark.range(n).select(((F.col("id") * 7919) % n).alias("v"))
    row = df.select(
        F.expr("percentile(v, 0.9)").alias("exact"),
        F.expr(f"approx_percentile(v, 0.9, {acc})").alias("approx"),
    ).first()
    # values are the permuted 0..n-1, so value == rank; allowed rank error n/acc
    assert abs(row["approx"] - row["exact"]) <= n / acc + 1


def test_kmv_estimate_accuracy_and_exact_degeneration(spark):
    from pyspark.sql import functions as F

    from ideafast_etl_spark.operators.sketch import kmv_distinct

    # 10k distinct keys, k=256 -> relative error ~ 1/sqrt(k) ~ 6%
    df = spark.range(50_000).select((F.col("id") % 10_000).alias("u"))
    est = kmv_distinct(df, "u", k=256).first()["est_distinct"]
    assert abs(est - 10_000) / 10_000 < 0.2
    # fewer than k distinct -> exact
    small = spark.range(100).select((F.col("id") % 40).alias("u"))
    r = kmv_distinct(small, "u", k=256).first()
    assert r["est_distinct"] == 40.0 and r["n_seen_k"] == 40


def test_kmv_deterministic_and_mergeable_by_construction(spark):
    from pyspark.sql import functions as F

    from ideafast_etl_spark.operators.sketch import kmv_distinct

    df = spark.range(5_000).select((F.col("id") % 999).alias("u"))
    a = kmv_distinct(df, "u", k=128).first()["est_distinct"]
    b = kmv_distinct(df.repartition(17), "u", k=128).first()["est_distinct"]
    assert a == b


def test_kmv_set_ops_accuracy(spark):
    from pyspark.sql import functions as F

    from ideafast_etl_spark.operators.sketch import kmv_set_ops

    # A = users 0..5999 ("a"), B = users 4000..9999 ("b"): |A∩B| = 2000
    a = spark.range(6_000).select(F.col("id").alias("u"), F.lit("a").alias("g"))
    b = spark.range(4_000, 10_000).select(
        F.col("id").alias("u"), F.lit("b").alias("g")
    )
    r = kmv_set_ops(a.unionByName(b), "u", "g", "a", "b", k=512).first()
    assert abs(r["est_a"] - 6_000) / 6_000 < 0.15
    assert abs(r["est_b"] - 6_000) / 6_000 < 0.15
    assert abs(r["est_union"] - 10_000) / 10_000 < 0.15
    assert abs(r["est_intersection"] - 2_000) / 2_000 < 0.3
    # small sides degenerate to exact
    sa = spark.range(30).select(F.col("id").alias("u"), F.lit("a").alias("g"))
    sb = spark.range(20, 50).select(F.col("id").alias("u"), F.lit("b").alias("g"))
    r2 = kmv_set_ops(sa.unionByName(sb), "u", "g", "a", "b", k=512).first()
    assert (r2["est_a"], r2["est_b"], r2["est_union"], r2["est_intersection"]) == (
        30.0, 30.0, 50.0, 10.0,
    )

"""Spark-SQL string forms vs the Column-API expressions they stand for.

The plans build these expressions as SQL strings (one py4j round trip
each). Each test rebuilds the Column-API form inline, as the executable
spec, and pins the string form bit-identical on data and, where the
trees must match, structurally identical in the analyzed plan (ignoring
auto-generated lambda-variable names / expression ids), so an edit to a
string form cannot silently drift from the policy it renders.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F


def _norm_plan(df) -> str:
    s = df._jdf.queryExecution().analyzed().toString()
    s = re.sub(r"#\d+[A-Za-z]*", "#", s)
    s = re.sub(r"lambda [a-z_0-9]+", "lambda V", s)
    return s


def test_dsum_double_sql_matches_column_form(spark):
    from nhl_data_pipeline_spark.functions.scalars import dec, dsum_double_sql

    df = spark.range(100).selectExpr(
        "CAST(id AS DOUBLE) / 7 AS v", "id % 3 AS g"
    )
    # Column form: exact decimal sum → string → double.
    legacy = df.groupBy("g").agg(
        F.sum(dec("v")).cast("string").cast("double").alias("s")
    )
    twin = df.groupBy("g").agg(F.expr(dsum_double_sql("v")).alias("s"))
    assert _norm_plan(legacy) == _norm_plan(twin)
    assert sorted(map(tuple, legacy.collect())) == sorted(
        map(tuple, twin.collect())
    )


def test_dot_norm_expr_sql_bitwise(spark):
    from nhl_data_pipeline_spark.operators.similarity import (
        dot_expr_sql,
        norm_expr_sql,
    )

    df = spark.range(50).selectExpr(
        "transform(sequence(1, 8), i -> CAST(id * i AS DOUBLE) / 9.7) AS a",
        "transform(sequence(1, 8), i -> CAST(id + i AS DOUBLE) / 3.1) AS b",
    )
    # Column form: float64 products folded left to right from 0.0.
    a, b = F.col("a"), F.col("b")
    dot_col = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )
    norm_col = F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        )
    )
    legacy = df.select(dot_col.alias("d"), norm_col.alias("n"))
    twin = df.select(
        F.expr(dot_expr_sql("a", "b")).alias("d"),
        F.expr(norm_expr_sql("a")).alias("n"),
    )
    assert _norm_plan(legacy) == _norm_plan(twin)
    for lr, tr in zip(legacy.collect(), twin.collect()):
        # Bitwise: the fold order and casts are identical.
        assert lr["d"] == tr["d"] and lr["n"] == tr["n"]


def test_minhash_battery_matches_legacy_columns(spark):
    # Column form of the dedup.lsh_band_table MinHash battery.
    df = spark.range(30).selectExpr(
        "id AS doc_id",
        "transform(sequence(1, 5), i -> concat('tok', CAST(id * i AS STRING))) AS _sh",
    ).select("doc_id", F.explode("_sh").alias("s"))
    k = 12
    legacy = df.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("s")))).alias(f"h{i}")
            for i in range(k)
        ]
    )
    twin = df.groupBy("doc_id").agg(
        *[
            F.expr(f"min(md5(concat('{i}|', s)))").alias(f"h{i}")
            for i in range(k)
        ]
    )
    assert _norm_plan(legacy) == _norm_plan(twin)
    assert sorted(map(tuple, legacy.collect())) == sorted(
        map(tuple, twin.collect())
    )


def test_adc_dist_column_matches_legacy(spark):
    from nhl_data_pipeline_spark.operators.pq import adc_dist_column

    m, ksub, sub = 4, 3, 2
    books = [
        [[(b * ksub + c) / 7.3, (b + c) / 3.9] for c in range(ksub)]
        for b in range(m)
    ]
    query = [v / 11.1 for v in range(m * sub)]
    codes = spark.range(20).selectExpr(
        "id AS vec_id",
        f"transform(sequence(1, {m}), i -> CAST(id % {ksub} AS INT)) AS pq_code",
    )
    # Column form of the ADC lookup-table sum.
    dist = None
    for j in range(m):
        q_sub = query[j * sub : (j + 1) * sub]
        table = [
            sum(
                (float(a) - float(b)) * (float(a) - float(b))
                for a, b in zip(q_sub, cent)
            )
            for cent in books[j]
        ]
        lut = F.array(*[F.lit(v) for v in table])
        term = F.element_at(lut, F.element_at(F.col("pq_code"), j + 1) + 1)
        dist = term if dist is None else dist + term
    legacy = codes.select("vec_id", dist.alias("adc_dist"))
    twin = codes.select(
        "vec_id", adc_dist_column(query, books).alias("adc_dist")
    )
    for lr, tr in zip(legacy.collect(), twin.collect()):
        assert lr["adc_dist"] == tr["adc_dist"]  # bitwise


def test_kmeans_n_total_matches_counted_rows(spark):
    """n_total must produce the same adaptive band width as the count job
    (the parameter exists to SKIP the job, never to change the plan)."""
    import math

    from nhl_data_pipeline_spark.operators import kmeans as KM

    n, k = 200, 4
    df = spark.range(n).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 4), i -> CAST(id * i AS DOUBLE) / 7.0) AS embedding",
    )
    counted = KM.semantic_neardup_pairs_lsh_blocked(
        df, 0.9, k, dim=4
    )
    passed = KM.semantic_neardup_pairs_lsh_blocked(
        df, 0.9, k, dim=4, n_total=n
    )
    assert sorted(map(tuple, counted.collect())) == sorted(
        map(tuple, passed.collect())
    )
    # And the width formula both paths feed:
    assert max(16, math.ceil(math.log2(max(n / k, 2))) + 4) == 16

"""Locks for the r15 two-level upper-triangle pair expansion (r14 verdict
task #1): the shared pair generator behind minhash/ngram/simhash/overlap
must (a) produce exactly the strict-upper-triangle pair set the r14
single-expression flatten produced, and (b) stream a HOT bucket instead of
materializing its O(n²) pair array in one row buffer — the r14 shape OOMed
a small executor on one ubiquitous-shingle bucket, which at 100 TB is the
difference between a slow task and a dead job."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from pyspark.sql import functions as F

from replibyte_spark.operators.dedup import upper_triangle_pairs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _old_flatten_pairs(spark, buckets, arr_col):
    """The r14 single-expression shape, kept here as the semantic oracle."""
    pair = F.expr(
        f"explode(flatten(transform({arr_col}, (x, i) -> "
        f"transform(slice({arr_col}, i + 2, size({arr_col}) - i - 1), "
        f"y -> struct(x AS id_a, y AS id_b)))))")
    return buckets.select(pair.alias("p")).select("p.id_a", "p.id_b")


def test_matches_r14_flatten_shape_on_assorted_buckets(spark):
    """Same pair multiset as the old flatten expression: empty, singleton,
    pair, odd/even sizes, duplicate array values across buckets."""
    rows = [([],), ([7],), ([1, 2],), ([3, 4, 5],), ([10, 11, 12, 13],),
            ([1, 2],)]  # repeated bucket -> pair multiplicity 2
    buckets = spark.createDataFrame(rows, "ids array<bigint>")
    new = sorted(upper_triangle_pairs(buckets, "ids", "id_a", "id_b")
                 .collect())
    old = sorted(_old_flatten_pairs(spark, buckets, "ids").collect())
    assert new == old
    assert len(new) == 0 + 0 + 1 + 3 + 6 + 1


def test_carry_columns_and_struct_elements(spark):
    """The simhash call site expands arrays of STRUCTS and forwards a
    carry column through both generators."""
    buckets = spark.createDataFrame(
        [(0, [(1, 10), (2, 20), (3, 30)]), (1, [(4, 40)])],
        "blk int, items array<struct<id:bigint,w:bigint>>")
    got = sorted(
        upper_triangle_pairs(buckets, "items", "pa", "pb", carry=("blk",))
        .select("blk", F.col("pa.id").alias("a"), F.col("pb.id").alias("b"),
                F.col("pa.w").alias("wa"), F.col("pb.w").alias("wb"))
        .collect())
    assert got == [(0, 1, 2, 10, 20), (0, 1, 3, 10, 30), (0, 2, 3, 20, 30)]


def test_quotes_array_column_and_rejects_shadowed_names(spark):
    """An array column whose name needs quoting expands like any other;
    a frame that already carries the internal ``__i`` alias or an output
    pair name fails loudly instead of resolving ambiguously."""
    import pytest

    buckets = spark.createDataFrame([([1, 2, 3],)], "`doc ids` array<bigint>")
    got = sorted(tuple(r) for r in
                 upper_triangle_pairs(buckets, "doc ids", "id_a", "id_b")
                 .collect())
    assert got == [(1, 2), (1, 3), (2, 3)]

    for cols in ("__i int, ids array<bigint>", "id_a int, ids array<bigint>",
                 "ids array<bigint>, ID_B int"):
        clashing = spark.createDataFrame([], cols)
        with pytest.raises(ValueError, match="shadow"):
            upper_triangle_pairs(clashing, "ids", "id_a", "id_b",
                                 carry=tuple(c for c in clashing.columns
                                             if c != "ids"))


def test_hot_bucket_streams_within_small_executor_memory():
    """One deliberately hot bucket (1e4 ids -> ~5e7 pairs) must pass under
    a 512 MB driver/executor JVM.  The r14 flatten shape allocated the
    whole ~5e7-struct pair array inside one row buffer (> 1.5 GB) and
    died; the two-level shape keeps per-row memory at O(n)."""
    n = 10_000
    script = textwrap.dedent(f"""
        from pyspark.sql import SparkSession
        from pyspark.sql import functions as F
        from replibyte_spark.operators.dedup import upper_triangle_pairs

        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.driver.memory", "512m")
                 .config("spark.sql.shuffle.partitions", "4")
                 .config("spark.ui.enabled", "false")
                 .appName("hot-bucket").getOrCreate())
        buckets = spark.range(1).select(
            F.sequence(F.lit(1), F.lit({n})).alias("ids"))
        got = (upper_triangle_pairs(buckets, "ids", "id_a", "id_b")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.min("id_a").alias("mna"), F.max("id_b").alias("mxb"))
               .collect()[0])
        assert got["n"] == {n} * ({n} - 1) // 2, got
        assert (got["mna"], got["mxb"]) == (1, {n}), got
        print("HOT_BUCKET_OK")
    """)
    env = dict(os.environ)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    out = subprocess.run([sys.executable, "-c", script], cwd=REPO,
                         capture_output=True, text=True, env=env,
                         timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "HOT_BUCKET_OK" in out.stdout

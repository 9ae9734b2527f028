"""Declared queries exercising the compat shim and the UDF surface."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_graft.compat.mapreduce import mapreduce, min_unique_prefix_mr
from spark_graft.registry import query
from spark_graft.sources import table


@query(
    "udf_compat",
    oracle="""
        SELECT (count(DISTINCT substr(c_name, 1, 5)) = count(*)) AS all_distinct_at_5
        FROM customer
    """,
)
def udf_compat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship duplicate check at fixed prefix length 5,
    executed on the RDD compat shim (exact reference semantics: 1:1 map,
    key-grouped sorted shuffle, previous-key reducer, per-partition
    bool-AND — see spark_graft.compat.mapreduce). Oracle-checked against
    the algebraic form, proving the shim computes what main.cpp computes."""
    names = table(spark, sf_dir, "customer").select("c_name")
    outputs = mapreduce(
        spark,
        names,
        mapper=lambda line: (line[:5], "1"),  # main.cpp:35-38 at L=5
        reducer=lambda prev, kv: prev != kv[0],  # main.cpp:44-49
        reducers_count=4,
    )
    all_distinct = all(o == "1" for o in outputs)
    return spark.createDataFrame([(all_distinct,)], "all_distinct_at_5 boolean")


@query(
    "udf_compat_iterative",
    oracle="""
        WITH lens AS (
            SELECT unnest(generate_series(1, (SELECT max(length(c_name)) FROM customer))) AS len
        )
        SELECT min(len) AS min_prefix_len
        FROM lens
        WHERE (SELECT count(DISTINCT substr(c_name, 1, len)) FROM customer)
              = (SELECT count(*) FROM customer)
    """,
)
def udf_compat_iterative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ENTIRE iterative driver (main.cpp:28-68) on the
    RDD shim: one full MapReduce job — 1:1 map, key-grouped sorted
    shuffle, previous-key reducer, per-reducer bool-AND, driver-side
    convergence read — per candidate prefix length, until every reducer
    reports all prefixes distinct. udf_compat checks a single fixed
    length; this runs the complete loop, so the oracle is the same
    minimal-unique-prefix SQL as the flagship. It is the same driver the
    `python -m spark_graft.compat` CLI runs (compat.min_unique_prefix_mr):
    the driver gallop+binary-searches the length (the predicate is
    monotone in L) instead of scanning linearly like main.cpp:28-68, so
    it runs O(log answer) full map/shuffle/reduce passes over the cached
    input instead of O(answer)."""
    names = table(spark, sf_dir, "customer").select("c_name")
    max_len = names.agg(F.max(F.length("c_name"))).collect()[0][0] or 0
    result = min_unique_prefix_mr(spark, names, max_len)
    return spark.createDataFrame([(result,)], "min_prefix_len bigint")

"""spark_graft — a PySpark-native analytics engine with the capabilities of
AlexShneur/12_mapreduce, rebuilt Spark-first.

The reference (/root/reference) is an educational single-machine MapReduce
framework (split -> map -> sort -> k-way merge -> key-grouped partition ->
reduce, plus an iterative driver; see SURVEY.md). This package re-expresses
that computational model — and the full relational + LLM-data-pipeline
operator surface it implies — on the Spark DataFrame/Catalyst stack:

- ``spark_graft.session``   SparkSession factory with scale-aware defaults
- ``spark_graft.sources``   readers/writers (parquet tables, text lines)
- ``spark_graft.registry``  declared query contract (name -> fn + DuckDB oracle)
- ``spark_graft.operators`` the query/operator implementations
- ``spark_graft.functions`` reusable column expressions (tokenize, cosine, minhash...)
- ``spark_graft.plans``     physical-plan introspection helpers
- ``spark_graft.streaming`` Structured Streaming variants of the event queries
- ``spark_graft.compat``    RDD shim reproducing the reference's exact
                            map/shuffle/reduce semantics (MapReduce.h:51-125)
"""

from spark_graft.registry import REGISTRY, QuerySpec, query

__all__ = ["REGISTRY", "QuerySpec", "query", "load_all_queries"]


def load_all_queries() -> None:
    """Import every operator module so its @query decorators register.
    The registry keeps import order."""
    # Imported lazily so `import spark_graft` stays cheap.
    from spark_graft.operators import (  # noqa: F401
        curriculum,
        vocab,
        skew,
        multimodal,
        events,
        compat_queries,
        pipeline,
        graph,
        clustering,
        text,
        scalar,
        similarity,
        dedup,
        joins,
        windows,
        relational,
    )


"""RDD compat shim: the reference's MapReduce engine semantics, exactly,
on Spark's scheduler.

This is the ONE deliberately-RDD module in the repo (SURVEY.md §7 M7) —
it exists to reproduce the reference's contract bit-for-bit, including
its quirks (SURVEY.md §2a):

- one output pair per input record — map, not flatMap (R3,
  MapReduce.h:41-44: mapper returns a single pair; applied via
  std::transform at :185);
- equal keys never split across reducers (R7, MapReduce.h:263-330 —
  the borrow logic; here: hash partitioning's contract);
- within each reducer, pairs arrive sorted by (key, value) (R4+R5:
  per-mapper std::sort at :187, k-way merge ExternalMergeSort.h:39-118;
  here: repartitionAndSortWithinPartitions);
- the reducer is a sequential fold carrying the previous key (R8,
  MapReduce.h:192-208) returning a bool per record;
- per-reducer output collapses to "1" iff no record returned false
  (R9, MapReduce.h:348-371), and collect concatenates per-reducer
  results (R10, MapReduce.h:109-124).

Blank-line records are dropped on read (MapReduce.h:227-241), matching
sources.text.read_lines.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.rdd import portable_hash
from pyspark.sql import SparkSession

Mapper = Callable[[str], tuple[str, str]]
# reducer(prev_key, (key, value)) -> bool   (ref MapReduce.h:46-49)
Reducer = Callable[[str | None, tuple[str, str]], bool]


class MapReduce:
    """Drop-in analogue of the reference's `MapReduce` class
    (MapReduce.h:39-377): set_mapper / set_reducer / run."""

    def __init__(self, mappers_count: int, reducers_count: int) -> None:
        self.mappers_count = mappers_count
        self.reducers_count = reducers_count
        self._mapper: Mapper | None = None
        self._reducer: Reducer | None = None

    def set_mapper(self, fn: Mapper) -> None:
        self._mapper = fn

    def set_reducer(self, fn: Reducer) -> None:
        self._reducer = fn

    def run_on_lines(self, spark: SparkSession, lines) -> list[str]:
        """Execute one job over an iterable/RDD/DataFrame of lines;
        returns the per-reducer outputs ("1"/"0"), i.e. the contents of
        the reference's final `output` file (MapReduce.h:109-124)."""
        if self._mapper is None or self._reducer is None:
            raise RuntimeError("set_mapper and set_reducer first")
        rdd = _as_rdd(spark, lines, self.mappers_count)
        mapper, reducer = self._mapper, self._reducer

        pairs = (
            rdd.filter(lambda line: len(line) > 0)  # R1: skip blanks
            .map(mapper)  # R3: exactly one pair per record
            .map(lambda kv: ((kv[0], kv[1]), None))
        )
        # R7 (key-grouped partition) + R4/R5 (sorted runs, merged):
        # partition by key hash, sort within partition by (key, value) —
        # the same guarantees the reference builds with per-mapper sort,
        # k-way merge, and the boundary-borrow split.
        partitioned = pairs.repartitionAndSortWithinPartitions(
            numPartitions=self.reducers_count,
            partitionFunc=lambda composite: portable_hash(composite[0]),
        )

        def reduce_partition(it: Iterator) -> Iterator[str]:
            # R8: sequential fold carrying previous key
            # (MapReduce.h:192-208); R9: bool-AND collapse (:348-371).
            prev_key: str | None = None
            all_ok = True
            for (key, value), _ in it:
                if not reducer(prev_key, (key, value)):
                    all_ok = False
                prev_key = key
            yield "1" if all_ok else "0"

        # R10: collect per-reducer single-line outputs in partition order.
        return partitioned.mapPartitions(reduce_partition).collect()


def mapreduce(
    spark: SparkSession,
    lines,
    mapper: Mapper,
    reducer: Reducer,
    mappers_count: int = 4,
    reducers_count: int = 4,
) -> list[str]:
    """Functional one-shot form of the shim."""
    mr = MapReduce(mappers_count, reducers_count)
    mr.set_mapper(mapper)
    mr.set_reducer(reducer)
    return mr.run_on_lines(spark, lines)


def _as_rdd(spark: SparkSession, lines, mappers_count: int = 4):
    """An RDD of strings from an iterable, an RDD or a one-string-column
    DataFrame."""
    if hasattr(lines, "rdd"):  # DataFrame of one string column
        return lines.rdd.map(lambda row: row[0])
    if hasattr(lines, "mapPartitions"):  # already an RDD
        return lines
    return spark.sparkContext.parallelize(list(lines), mappers_count)


def min_unique_prefix_mr(
    spark: SparkSession, lines, max_len: int, reducers_count: int = 4
) -> int | None:
    """The reference's iterative driver (main.cpp:28-68) on the shim:
    each job is exactly the reference's job at one candidate prefix
    length, and the driver reads the job's outputs to decide
    convergence (any "0" -> the length is too short).

    The driver gallops 1, 2, 4, ... and then bisects instead of scanning
    lengths one by one. This gives the same answer because the predicate
    is monotone in L: if two words differ within their first L
    characters they also differ within their first L+1. O(log answer)
    jobs instead of O(answer): at answer 16 that is 8 jobs, not 16, and
    on a cluster each saved job is a full map+shuffle+reduce over the
    input. The input is cached once for all jobs (the reference re-reads
    its input file every job — caching changes cost, not semantics).

    Returns None when no length up to `max_len` works: exact duplicates,
    on which the reference loops forever."""
    if max_len < 1:
        return None
    rdd = _as_rdd(spark, lines).cache()

    def all_distinct_at(prefix_len: int) -> bool:
        outputs = mapreduce(
            spark,
            rdd,
            _prefix_mapper(prefix_len),
            _dup_reducer,
            reducers_count=reducers_count,
        )
        return all(o == "1" for o in outputs)  # main.cpp:56-66

    try:
        # Gallop 1, 2, 4, ... until the predicate holds; a failure at
        # max_len means exact duplicates exist and no length works.
        lo, hi = 0, 1  # invariant: predicate false at lo (0 vacuously)
        while not all_distinct_at(hi):
            if hi >= max_len:
                return None
            lo, hi = hi, min(hi * 2, max_len)
        # Bracket (lo, hi]: false at lo, true at hi. Binary search.
        while hi - lo > 1:
            mid = (lo + hi) // 2
            if all_distinct_at(mid):
                hi = mid
            else:
                lo = mid
        return hi
    finally:
        rdd.unpersist()


def _prefix_mapper(prefix_len: int) -> Mapper:
    # ref main.cpp:35-38: emit (word[:prefix_len], "1"); substr clamps.
    def mapper(line: str) -> tuple[str, str]:
        return (line[:prefix_len], "1")

    return mapper


def _dup_reducer(prev_key: str | None, kv: tuple[str, str]) -> bool:
    # ref main.cpp:44-49: duplicate iff current key equals previous key.
    return prev_key != kv[0]

"""CLI parity with the reference binary (main.cpp:15-73):

    python -m spark_graft.compat <input_file> <mappers_count> <reducers_count>

Reads one word per line (blank lines dropped, MapReduce.h:227-241), runs
the iterative minimal-unique-prefix driver on the MapReduce-compat shim
— each shim job is the reference's job at one candidate length
(main.cpp:30-68), and the driver gallops then bisects the length, so it
runs O(log answer) jobs over the once-cached input — and prints the
reference's output line ("Minimal prefix len = N").
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F


def main(argv: list[str]) -> int:
    if len(argv) != 4:
        print(
            "usage: python -m spark_graft.compat <input_file> <mappers_count> <reducers_count>",
            file=sys.stderr,
        )
        return 2
    path, mappers_count, reducers_count = argv[1], int(argv[2]), int(argv[3])

    from spark_graft.compat.mapreduce import min_unique_prefix_mr
    from spark_graft.session import get_spark
    from spark_graft.sources import read_lines

    spark = get_spark("mapreduce-compat")
    lines = read_lines(spark, path, min_partitions=mappers_count)
    # max_len floor of 1: on an empty input the reference still runs the
    # L=1 job, every reducer vacuously reports "1", and it converges and
    # prints 1 (main.cpp:30-68) — parity requires the same
    max_len = max(lines.agg(F.max(F.length("value"))).collect()[0][0] or 0, 1)
    result = min_unique_prefix_mr(
        spark, lines, max_len=max_len, reducers_count=reducers_count
    )
    # main.cpp:70's exact message
    print(f"Minimal prefix len = {result}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))

"""Unit tests for the MapReduce compat shim — the reference's contract
quirks (SURVEY.md §2a), verified one by one."""

from __future__ import annotations

import pytest

from spark_graft.compat.mapreduce import MapReduce, mapreduce


def test_blank_lines_dropped(spark):
    """R1: blank records never reach the mapper (MapReduce.h:227-241)."""
    seen = []
    outputs = mapreduce(
        spark,
        ["a", "", "b", ""],
        mapper=lambda line: (line, "1"),
        reducer=lambda prev, kv: True,
        reducers_count=1,
    )
    assert outputs == ["1"]


def test_one_pair_per_record_and_grouping(spark):
    """R3 (1:1 map) + R7 (equal keys in one reducer) + R8 (sorted order):
    a duplicate-key detector must see dups iff they exist, regardless of
    partitioning."""

    def dup_reducer(prev, kv):
        return prev != kv[0]

    # all distinct -> every reducer reports "1"
    out = mapreduce(spark, ["a", "b", "c", "d"], lambda l: (l, "1"), dup_reducer, reducers_count=3)
    assert all(o == "1" for o in out)
    # one duplicated key -> exactly the reducer owning it reports "0"
    out = mapreduce(spark, ["a", "b", "a", "c"], lambda l: (l, "1"), dup_reducer, reducers_count=3)
    assert out.count("0") == 1


def test_sorted_within_reducer(spark):
    """R4/R5: each reducer sees its pairs in (key, value) sorted order."""
    order_ok = []

    def check_sorted_reducer(prev, kv):
        # runs distributed; assert monotone by returning False on violation
        return prev is None or prev <= kv[0]

    out = mapreduce(
        spark,
        [f"k{i % 7}" for i in range(50)],
        lambda l: (l, "1"),
        check_sorted_reducer,
        reducers_count=4,
    )
    assert all(o == "1" for o in out)


def test_bool_and_collapse(spark):
    """R9: output is '1' iff NO record returned false (MapReduce.h:364-368)."""
    out = mapreduce(
        spark, ["x"], lambda l: (l, "1"), lambda prev, kv: False, reducers_count=1
    )
    assert out == ["0"]


def test_reducer_count_respected(spark):
    mr = MapReduce(mappers_count=2, reducers_count=5)
    mr.set_mapper(lambda l: (l, "1"))
    mr.set_reducer(lambda prev, kv: True)
    out = mr.run_on_lines(spark, [str(i) for i in range(20)])
    assert len(out) == 5  # one line per reducer, like reduce_<i>_output files


def test_cli_matches_reference_output(spark, tmp_path, capsys):
    """`python -m spark_graft.compat <file> M R` prints the reference
    binary's exact line (main.cpp:70) with the golden answer."""
    from spark_graft.compat.__main__ import main

    src = tmp_path / "emails_short.txt"
    src.write_text(
        "adillon@x.com\n\nadams@y.org\nbob@z.net\ncarol@w.io\ndave@v.dev\n"
    )
    rc = main(["prog", str(src), "2", "2"])
    assert rc == 0
    assert capsys.readouterr().out.strip() == "Minimal prefix len = 3"


@pytest.mark.parametrize(
    "text,expected",
    [
        # the L=1 job still runs, every reducer vacuously reports "1",
        # and the reference prints 1 (main.cpp:30-68)
        ("", "1"),
        # exact duplicates have no finite answer (the reference loops
        # forever); the driver stops at the longest line
        ("same@x.io\nother@y.io\nsame@x.io\n", "None"),
    ],
    ids=["empty", "exact_duplicates"],
)
def test_cli_degenerate_files(spark, tmp_path, capsys, text, expected):
    from spark_graft.compat.__main__ import main

    src = tmp_path / "words.txt"
    src.write_text(text)
    assert main(["prog", str(src), "2", "2"]) == 0
    assert capsys.readouterr().out.strip() == f"Minimal prefix len = {expected}"

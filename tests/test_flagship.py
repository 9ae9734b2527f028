"""Golden tests for the flagship min-unique-prefix query (ref main.cpp),
on synthetic emails-shaped fixtures with independently computed answers
(FIXTURES.md §A; the reference's shipped data yields 9 and 3 — our
fixtures reproduce the same structural cases with known goldens).
"""

from __future__ import annotations

import importlib

import pytest

from spark_graft.compat.mapreduce import min_unique_prefix_mr
from spark_graft.operators.relational import min_unique_prefix


def py_min_unique_prefix(strings: list[str]) -> int | None:
    """Independent reference implementation (pure python) of
    main.cpp:28-68 semantics incl. substr clamping."""
    if not strings:
        return None
    for length in range(1, max(len(s) for s in strings) + 1):
        prefixes = [s[:length] for s in strings]
        if len(set(prefixes)) == len(prefixes):
            return length
    return None


# 5 lines, collision at len 2 ('ad') -> expect 3, mirroring emails_short.txt
SHORT = ["adillon@x.com", "adams@y.org", "bob@z.net", "carol@w.io", "dave@v.dev"]
assert py_min_unique_prefix(SHORT) == 3

# 100-line-style case: two address pairs colliding through len 7 -> expect 8
LONG = [f"user{i:03d}@mail.com" for i in range(50)] + [
    "adillon1@a.com",
    "adillon2@b.com",  # collide through 'adillon' (len 7) -> need 8
    "parents7@c.com",
    "parents8@d.com",  # collide through 'parents' -> need 8
]
EXPECTED_LONG = py_min_unique_prefix(LONG)

CASES = [
    (SHORT, 3),
    (LONG, EXPECTED_LONG),
    (["a", "b", "c"], 1),  # answer 1: gallop's very first probe succeeds
    (["ab", "abc"], 3),  # short string clamps: 'ab'[:3] == 'ab' != 'abc'; answer == max_len
    (["same", "same"], None),  # exact dups: no finite prefix (ref loops forever)
    ([], None),
]


@pytest.mark.parametrize("strings,expected", CASES)
def test_dataframe_flagship(spark, tmp_path, strings, expected):
    """The declared single-job query on the structural cases."""
    assert py_min_unique_prefix(strings) == expected
    spark.createDataFrame([(s,) for s in strings], "c_name string").write.parquet(
        str(tmp_path / "customer.parquet")
    )
    assert min_unique_prefix(spark, str(tmp_path)).collect()[0][0] == expected


@pytest.mark.parametrize("strings,expected", [(SHORT, 3), (LONG, 8)])
def test_compat_shim_flagship(spark, strings, expected):
    """The shim's iterative driver produces the known answers."""
    max_len = max(len(s) for s in strings)
    assert min_unique_prefix_mr(spark, strings, max_len) == expected


@pytest.mark.parametrize(
    "strings",
    [
        SHORT,
        LONG,
        ["a", "b", "c"],  # answer 1: gallop's very first probe succeeds
        ["ab", "abc"],  # clamping case, answer 3 == max_len (bracket hits cap)
        ["same", "same"],  # no finite answer: gallop must fail through max_len
        ["x"],  # single record, answer 1
        ["aa", "ab", "b"],  # answer 2: exercises the binary-search midpoint
        [],  # no input: max_len 0, no job runs
    ],
)
def test_bsearch_driver_matches_linear(spark, strings):
    """The gallop+bisect driver == the linear pure-python scan on every
    structural case: monotonicity of the convergence predicate is what
    licenses O(log answer) jobs instead of one job per length."""
    max_len = max((len(s) for s in strings), default=0)
    assert min_unique_prefix_mr(spark, strings, max_len) == py_min_unique_prefix(
        strings
    )


def test_cli_probes_gallop_then_bisect(spark, tmp_path, capsys, monkeypatch):
    """The CLI runs one shim job per PROBED length: gallop 1, 2, 4, 8, 16,
    then bisect (8, 16] — 8 jobs at answer 16, not 16."""
    from spark_graft.compat.__main__ import main

    # the module, not the `mapreduce` function spark_graft.compat exports
    mr = importlib.import_module("spark_graft.compat.mapreduce")
    probes: list[int] = []
    prefix_mapper = mr._prefix_mapper

    def recording(prefix_len: int):
        probes.append(prefix_len)
        return prefix_mapper(prefix_len)

    monkeypatch.setattr(mr, "_prefix_mapper", recording)
    words = [f"{i:02d}-distinct-word-long" for i in range(20)] + [
        "c" * 15 + "a@x.io",  # equal through 15 chars -> need 16
        "c" * 15 + "b@x.io",
    ]
    assert py_min_unique_prefix(words) == 16
    src = tmp_path / "emails.txt"
    src.write_text("\n".join(words) + "\n")
    assert main(["prog", str(src), "2", "2"]) == 0
    assert capsys.readouterr().out.strip() == "Minimal prefix len = 16"
    assert probes == [1, 2, 4, 8, 16, 12, 14, 15]


def test_flagship_matches_between_engines(spark, sf_dir):
    """Declared single-job query == compat shim == pure python on real data."""
    from spark_graft.sources import table

    names = [r[0] for r in table(spark, sf_dir, "customer").select("c_name").collect()]
    expected = py_min_unique_prefix(names)
    assert min_unique_prefix(spark, sf_dir).collect()[0][0] == expected
    assert min_unique_prefix_mr(spark, names, max(len(s) for s in names)) == expected

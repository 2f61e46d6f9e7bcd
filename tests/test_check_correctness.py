"""The correctness gate's divergence report, on pandas frames only
(no JVM)."""

import pandas as pd

from scripts.check_correctness import canon, divergence, value_hash


def _pair(g, x):
    g, x = canon(pd.DataFrame(g)), canon(pd.DataFrame(x))
    assert len(g) == len(x) and list(g.columns) == list(x.columns)
    assert value_hash(g) != value_hash(x)
    return divergence(g, x)


def test_names_differing_columns_and_first_key():
    spark = {"id": [1, 2, 3], "n": [5, 6, 7], "frac": [0.5, 0.25, 0.1]}
    duck = {"id": [1, 2, 3], "n": [5, 9, 7], "frac": [0.5, 0.75, 0.1]}
    assert _pair(spark, duck) == [
        "columns differing: ['frac', 'n']",
        "first diverging row 1, key {'id': '2'}",
        "  spark : {'frac': '0.25', 'n': '6'}",
        "  duckdb: {'frac': '0.75', 'n': '9'}",
    ]


def test_rows_pair_by_key_not_by_sorted_position():
    # the differing column sorts first, so canon's row order pairs
    # different ids; the report must still pair rows by id
    spark = {"a_val": [1, 2, 3], "id": ["x", "y", "z"]}
    duck = {"a_val": [1, 9, 3], "id": ["x", "y", "z"]}
    out = _pair(spark, duck)
    assert out[0] == "columns differing: ['a_val']"
    assert out[1] == "first diverging row 1, key {'id': 'y'}"


def test_columns_equal_alone_but_not_jointly():
    # each column holds the same multiset, only the pairing differs
    spark = {"a": [1, 2], "b": [10, 20]}
    duck = {"a": [1, 2], "b": [20, 10]}
    out = _pair(spark, duck)
    assert out[0] == "columns differing: none alone (rows pair up differently)"
    assert out[1].startswith("first diverging row 0")


def test_float_noise_below_hash_precision_is_not_a_divergence():
    spark = {"id": [1, 2], "v": [0.1234561, 2.0]}
    duck = {"id": [1, 2], "v": [0.1234564, 3.0]}
    out = _pair(spark, duck)
    assert out[1] == "first diverging row 1, key {'id': '2'}"

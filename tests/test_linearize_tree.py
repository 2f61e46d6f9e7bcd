"""Conversation-tree linearization (root-to-leaf paths)."""

import pytest


def _brute(rows):
    """rows: (conv, node, parent) -> {(conv, leaf): path}."""
    kids = {}
    parent = {}
    nodes = set()
    for c, n, p in rows:
        nodes.add((c, n))
        parent[(c, n)] = p
        if p is not None:
            kids.setdefault((c, p), []).append(n)
    out = {}
    for c, n in nodes:
        if (c, n) not in kids:  # leaf
            path = [n]
            while parent[(c, path[0])] is not None:
                path.insert(0, parent[(c, path[0])])
            out[(c, n)] = path
    return out


def _run(spark, rows, **kw):
    from sqlfeatureextraction_spark.operators.reorganize import (
        linearize_conversation_tree,
    )

    df = spark.createDataFrame(
        rows, "conv_id string, node_id long, parent_id long"
    )
    got = {
        (r.conv_id, r.leaf_id): list(r.path)
        for r in linearize_conversation_tree(df, **kw).collect()
    }
    assert got == _brute(rows)
    return got


def test_linearize_branching_tree(spark):
    rows = [
        # conv a:       0 -> 1 -> 2 (leaf)
        #                \-> 3 -> 4 (leaf)   (regeneration at depth 1)
        ("a", 0, None),
        ("a", 1, 0),
        ("a", 2, 1),
        ("a", 3, 0),
        ("a", 4, 3),
        # conv b: single root-only message
        ("b", 7, None),
        # conv c: forest — two roots
        ("c", 1, None),
        ("c", 2, 1),
        ("c", 9, None),
    ]
    got = _run(spark, rows)
    assert got[("a", 2)] == [0, 1, 2]
    assert got[("a", 4)] == [0, 3, 4]
    assert got[("b", 7)] == [7]
    assert got[("c", 2)] == [1, 2] and got[("c", 9)] == [9]


def test_linearize_depth_guard(spark):
    from sqlfeatureextraction_spark.operators.reorganize import (
        linearize_conversation_tree,
    )

    chain = [("a", 0, None)] + [("a", i, i - 1) for i in range(1, 12)]
    df = spark.createDataFrame(
        chain, "conv_id string, node_id long, parent_id long"
    )
    with pytest.raises(ValueError, match="max_depth"):
        linearize_conversation_tree(df, max_depth=5).collect()
    # and a cycle raises instead of looping forever
    cyc = [("z", 1, 2), ("z", 2, 1), ("z", 3, 1)]
    dfc = spark.createDataFrame(
        cyc, "conv_id string, node_id long, parent_id long"
    )
    with pytest.raises(ValueError, match="cycle|max_depth"):
        linearize_conversation_tree(dfc, max_depth=8).collect()


def test_linearize_dangling_parent_names_offenders(spark):
    """A parent pointer to a node that does not exist never resolves,
    so it trips the same guard; the error names the leaf and its
    pending parent id."""
    from sqlfeatureextraction_spark.operators.reorganize import (
        linearize_conversation_tree,
    )

    rows = [("a", 0, None), ("a", 1, 0), ("d", 5, 99), ("d", 6, 5)]
    df = spark.createDataFrame(
        rows, "conv_id string, node_id long, parent_id long"
    )
    with pytest.raises(ValueError, match="dangling") as err:
        linearize_conversation_tree(df, max_depth=8).collect()
    msg = str(err.value)
    assert "leaf_id=6 pending=99" in msg
    assert "'a'" not in msg  # the well-formed conversation is not named


def test_linearize_random_forest(spark):
    import numpy as np

    rng = np.random.default_rng(21)
    rows = []
    for c in range(12):
        n = int(rng.integers(1, 40))
        for i in range(n):
            p = None if i == 0 else int(rng.integers(0, i))
            rows.append((f"c{c}", i, p))
    _run(spark, rows)

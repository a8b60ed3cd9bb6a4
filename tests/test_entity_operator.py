"""Operator-level tests for blocked_fuzzy_components — the per-block
union-find closure (operators/entity.py).  The query-level oracle
(er_entity_clusters vs the row-level recursive CTE) proves one
dataset; these prove the operator's contract on adversarial shapes:
chains (transitivity beyond direct edges), cross-block isolation,
edge-less nodes labelling themselves, input columns passing through,
and equivalence with the general connected-components operator on a
randomized graph.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from hana_bq_beam_connector_spark.operators.dedup import near_dup_clusters
from hana_bq_beam_connector_spark.operators.entity import (
    _levenshtein,
    _within_edit,
    blocked_fuzzy_components,
)


def test_within_edit_matches_full_dp():
    """The banded <=k decision (r11: the union-find verify's fast
    path) must agree with the full-DP reference on every (pair, k) —
    random strings over a small alphabet maximize edit-path
    collisions, plus the adjective-noun shapes the ER queries block
    on (shared suffixes exercise the prefix/suffix strip)."""
    import random

    rng = random.Random(7)
    alpha = "abcd "
    for _ in range(20000):
        a = "".join(
            rng.choice(alpha) for _ in range(rng.randint(0, 12))
        )
        b = "".join(
            rng.choice(alpha) for _ in range(rng.randint(0, 12))
        )
        k = rng.randint(0, 5)
        assert _within_edit(a, b, k) == (_levenshtein(a, b) <= k), (
            a, b, k,
        )
    words = ["golden", "lavender", "spring", "lace", "hot", "gear"]
    for _ in range(4000):
        a = " ".join(rng.choice(words) for _ in range(rng.randint(1, 4)))
        b = " ".join(rng.choice(words) for _ in range(rng.randint(1, 4)))
        for k in (0, 1, 4):
            assert _within_edit(a, b, k) == (
                _levenshtein(a, b) <= k
            ), (a, b, k)


def _nodes(spark, rows):
    return spark.createDataFrame(
        rows, "block string, node_id bigint, name string"
    )


def _run(spark, rows, max_edit=2):
    out = blocked_fuzzy_components(
        _nodes(spark, rows),
        block_cols=["block"],
        id_col="node_id",
        name_col="name",
        max_edit=max_edit,
    )
    return {(r["node_id"], r["label"]) for r in out.collect()}


def test_levenshtein_matches_spark(spark):
    cases = [
        ("", ""), ("a", ""), ("", "abc"), ("kitten", "sitting"),
        ("red bolt", "old bolt"), ("small ring", "red ring"),
        ("abc", "abc"), ("abc", "cba"),
    ]
    df = spark.createDataFrame(cases, "a string, b string").select(
        "a", "b", F.levenshtein("a", "b").alias("d")
    )
    for r in df.collect():
        assert _levenshtein(r["a"], r["b"]) == r["d"], (r["a"], r["b"])


def test_chain_transitivity(spark):
    # aa—ab—bb—bc chain at max_edit=1: no direct aa~bb edge, but one
    # component; label = min id.
    rows = [
        ("k", 1, "aa"), ("k", 2, "ab"), ("k", 3, "bb"), ("k", 4, "bc"),
    ]
    got = _run(spark, rows, max_edit=1)
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1)}


def test_cross_block_isolation(spark):
    # Identical names in different blocks never merge.
    rows = [
        ("k1", 1, "aa"), ("k1", 2, "ab"),
        ("k2", 3, "aa"), ("k2", 4, "ab"),
    ]
    got = _run(spark, rows, max_edit=1)
    assert got == {(1, 1), (2, 1), (3, 3), (4, 3)}


def test_singletons_label_themselves(spark):
    rows = [
        ("k", 1, "aa"), ("k", 2, "ab"),
        ("k", 9, "zzzzzz"),  # no neighbor within 1 edit
    ]
    got = _run(spark, rows, max_edit=1)
    assert got == {(1, 1), (2, 1), (9, 9)}
    # An entire edge-less block: every node is its own component.
    rows2 = rows + [("lonely", 50, "qq"), ("lonely", 51, "zzzz")]
    assert _run(spark, rows2, max_edit=1) == got | {(50, 50), (51, 51)}


def test_input_columns_pass_through(spark):
    """Every input row comes back with its columns unchanged, plus
    ``label``; the input frame's schema object is not mutated."""
    nodes = spark.createDataFrame(
        [("k", 3, "aa", "x"), ("k", 1, "ab", None), ("j", 7, "aa", "z")],
        "block string, node_id bigint, name string, extra string",
    )
    before = nodes.schema.fieldNames()
    out = blocked_fuzzy_components(
        nodes,
        block_cols=["block"],
        id_col="node_id",
        name_col="name",
        max_edit=1,
    )
    assert out.schema.fieldNames() == before + ["label"]
    assert nodes.schema.fieldNames() == before
    assert sorted(tuple(r) for r in out.collect()) == [
        ("j", 7, "aa", "z", 7),
        ("k", 1, "ab", None, 1),
        ("k", 3, "aa", "x", 1),
    ]


def test_equivalence_with_iterative_operator(spark):
    """Random multi-block name sets: the per-block union-find must
    produce exactly the components the general operator
    (near_dup_clusters) finds on the explicit pair list (deterministic pseudo-random
    inputs — fixed generator, no RNG state)."""
    alphabet = "abcd"
    rows = []
    nid = 0
    for blk in range(6):
        for i in range(14):
            # deterministic 4-char name from a hash-ish recurrence
            x = (blk * 131 + i * 31 + 7) % 256
            name = "".join(
                alphabet[(x >> (2 * k)) & 3] for k in range(4)
            )
            rows.append((f"b{blk}", nid, name))
            nid += 1
    nodes = _nodes(spark, rows)
    # De-duplicate identical (block, name): keep min id as node —
    # the operator contract (callers pass distinct name nodes).
    distinct = nodes.groupBy("block", "name").agg(
        F.min("node_id").alias("node_id")
    )
    labelled = blocked_fuzzy_components(
        distinct,
        block_cols=["block"],
        id_col="node_id",
        name_col="name",
        max_edit=2,
    ).collect()
    # near_dup_clusters leaves singletons out: compare the operator's
    # nodes whose component has at least 2 members.
    sizes = Counter(r["label"] for r in labelled)
    got = {
        (r["node_id"], r["label"]) for r in labelled if sizes[r["label"]] >= 2
    }

    a = distinct.select(
        F.col("block").alias("blk_a"),
        F.col("node_id").alias("id_a"),
        F.col("name").alias("name_a"),
    )
    b = distinct.select(
        F.col("block").alias("blk_b"),
        F.col("node_id").alias("id_b"),
        F.col("name").alias("name_b"),
    )
    pairs = a.join(
        b,
        (F.col("blk_a") == F.col("blk_b"))
        & (F.col("id_a") < F.col("id_b")),
    ).where(F.levenshtein("name_a", "name_b") <= 2)
    want = {
        (r["node"], r["label"])
        for r in near_dup_clusters(
            pairs.select("id_a", "id_b"), id_a="id_a", id_b="id_b"
        ).collect()
    }
    assert got == want and len(got) > 0


def test_giant_block_raises_instead_of_quadratic_death(spark):
    """A blocking key that stopped discriminating must fail loudly
    with the block size, not sit in one task doing O(b^2) work."""
    import pytest
    from pyspark.errors.exceptions.captured import PythonException

    rows = [("k", i, f"n{i}") for i in range(12)]
    with pytest.raises(PythonException, match="max_block_nodes=10"):
        blocked_fuzzy_components(
            _nodes(spark, rows),
            block_cols=["block"],
            id_col="node_id",
            name_col="name",
            max_edit=1,
            max_block_nodes=10,
        ).collect()


def test_er_entity_clusters_builds_without_pins(spark):
    """Building the query runs no eager pin: the operator labels every
    name node, so no frame feeds more than one lazy branch and nothing
    is persisted while the plan is built."""
    from hana_bq_beam_connector_spark.queries import registry
    from tests.conftest import SF_DIR

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    registry()["er_entity_clusters"].fn(spark, SF_DIR)
    assert jsc.getPersistentRDDs().size() == before

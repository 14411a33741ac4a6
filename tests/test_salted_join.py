"""``salted_join``, the one skew-split join under the pair generators:
its output equals the plain equi-join, and a hot key's quadratic
enumeration is spread over the join's tasks instead of landing in one.

The skew fixtures are deterministic: one hot block plus a benign tail.
Each query runs salted (``SALT_T``) and unsalted (a threshold above the
corpus size, so no key is heavy). The bound must hold salted and fail
unsalted, so a fixture that drifts benign fails the test too.
"""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

SALT_T = 32
UNSALTED_T = 10**6
# no join task may hold more than this share of a query's pairs
MAX_TASK_SHARE = 0.25


def make_skewed_docs(spark, n_hot: int, n_tail: int):
    """One hot block and a benign tail.

    Hot docs share lang='hot' and ~60 distinct tokens each (one length
    bucket); each is one base text with 3 of its 60 tokens replaced, so
    they also share SimHash band values: the same rows are hot for
    token-Jaccard and SimHash banding. Tail docs are random texts over
    20 languages."""
    rng = np.random.RandomState(7)
    vocab = np.array([f"tok{i:03d}" for i in range(400)])
    base = vocab[rng.choice(400, size=60, replace=False)]
    rows = []
    for i in range(n_hot):
        toks = base.copy()
        idx = rng.choice(60, size=3, replace=False)
        toks[idx] = vocab[rng.choice(400, size=3)]
        rows.append((i, "hot", " ".join(toks)))
    for j in range(n_tail):
        toks = vocab[rng.choice(400, size=int(rng.randint(8, 120)))]
        rows.append((n_hot + j, f"l{j % 20:02d}", " ".join(toks)))
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def make_skewed_names(spark, n_hot: int, n_tail: int):
    """One hot PassJoin key and a benign tail.

    Hot names share type 'org', length 30 and their first 10 bytes, so
    at max_dist=2 segment 0 of every hot name is the same string: the
    key ('org', 30, 0, 'acmecorpx_') carries an n_hot × n_hot candidate
    block. Random 20-byte suffixes keep true matches rare. Tail names
    have random lengths and types."""
    rng = np.random.RandomState(11)
    abc = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    rows = [
        (f"h{i:06d}", "org", "acmecorpx_" + "".join(rng.choice(abc, size=20)))
        for i in range(n_hot)
    ]
    for j in range(n_tail):
        ln = int(rng.randint(3, 25))
        rows.append((f"t{j:06d}", f"ty{j % 5}", "".join(rng.choice(abc, size=ln))))
    return spark.createDataFrame(
        rows, "entity_id string, entity_type string, canonical_name string"
    )


def _pairs_per_task(df) -> list[int]:
    """Rows of every task of the frame's last stage, empty tasks
    included. Each generator below ends in its salted join plus narrow
    filters, so these are the join's tasks."""
    return (
        df.select(F.lit(1))
        .rdd.mapPartitions(lambda rows: [sum(1 for _ in rows)])
        .collect()
    )


def _token_jaccard(docs, names, t):
    from ner_spark.functions.dedup import token_jaccard_pairs

    return token_jaccard_pairs(docs, threshold=0.5, salt_threshold=t)


def _simhash_bands(docs, names, t):
    from ner_spark.functions.dedup import simhash_band_pairs

    return simhash_band_pairs(docs, max_hamming=3, salt_threshold=t)


def _passjoin(docs, names, t):
    # alias_pairs ends in a dedup exchange, so the bound is checked on
    # its candidate join over the multi-column PassJoin key
    from ner_spark.functions.dedup import salted_join
    from ner_spark.operators.alias import PASSJOIN_KEYS, passjoin_sides

    indexed, probe = passjoin_sides(names)
    return salted_join(indexed, probe, PASSJOIN_KEYS, "id_a", "id_b", t)


@pytest.fixture(scope="module")
def skewed(spark):
    return make_skewed_docs(spark, 200, 400), make_skewed_names(spark, 200, 400)


@pytest.mark.parametrize(
    "query", [_token_jaccard, _simhash_bands, _passjoin],
    ids=["token_jaccard", "simhash_bands", "passjoin"],
)
def test_hot_block_spread_over_join_tasks(spark, skewed, query):
    """Salted, no join task holds more than MAX_TASK_SHARE of the
    query's pairs; unsalted, the hot block's task breaks that bound.
    Both runs give the same number of pairs."""
    salted = _pairs_per_task(query(*skewed, SALT_T))
    unsalted = _pairs_per_task(query(*skewed, UNSALTED_T))
    assert sum(salted) == sum(unsalted) > 0
    assert max(salted) <= MAX_TASK_SHARE * sum(salted), salted
    assert max(unsalted) > MAX_TASK_SHARE * sum(unsalted), unsalted


def _self_shape(spark, rng):
    t = spark.createDataFrame(
        [(f"D{i}", rng.randint(0, 4), i % 7) for i in range(120)],
        "id string, k int, v int",
    )
    return (
        t.withColumnsRenamed({"id": "id_a", "v": "v_a"}),
        t.withColumnsRenamed({"id": "id_b", "v": "v_b"}),
        ["k"],
    )


def _bipartite_shape(spark, rng):
    left = spark.createDataFrame(
        [(f"L{i}", rng.randint(0, 4)) for i in range(200)], "id_a string, k int"
    )
    right = spark.createDataFrame(
        [(f"R{i}", rng.randint(0, 4)) for i in range(150)], "id_b string, k int"
    )
    return left, right, ["k"]


def _multi_key_shape(spark, rng):
    def side(prefix, idc, n):
        return spark.createDataFrame(
            [(f"{prefix}{i}", rng.randint(0, 2), rng.choice("xy")) for i in range(n)],
            f"{idc} string, k1 int, k2 string",
        )

    return side("L", "id_a", 150), side("R", "id_b", 100), ["k1", "k2"]


@pytest.mark.parametrize("salt_threshold", [1, 512])
@pytest.mark.parametrize(
    "shape", [_self_shape, _bipartite_shape, _multi_key_shape],
    ids=["self", "bipartite", "multi_key"],
)
def test_salted_join_equals_plain_join(spark, shape, salt_threshold):
    """Row-identical to the plain equi-join at any threshold (1 salts
    every key with more than one pair; 512 salts none here)."""
    from ner_spark.functions.dedup import salted_join

    left, right, keys = shape(spark, random.Random(7))
    cols = sorted(set(left.columns) | set(right.columns))

    def rows(df):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    got = rows(salted_join(left, right, keys, "id_a", "id_b", salt_threshold))
    assert got == rows(left.join(right, keys)) and got

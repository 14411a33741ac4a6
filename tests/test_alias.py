"""PassJoin alias resolution: losslessness vs brute force, byte
semantics, and the salted candidate join's heavy path."""

import itertools
import random

import pytest

from ner_spark.operators.alias import alias_pairs


def _lev(a: str, b: str) -> int:
    """Byte-level Levenshtein (the operator's contract)."""
    ab, bb = a.encode(), b.encode()
    dp = list(range(len(bb) + 1))
    for i, ca in enumerate(ab, 1):
        prev, dp[0] = dp[0], i
        for j, cb in enumerate(bb, 1):
            prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
    return dp[-1]


def _brute(rows, max_dist=2):
    exp = {}
    for (ia, ba, na), (ib, bb, nb) in itertools.combinations(rows, 2):
        if ba != bb or not na or not nb:
            continue
        d = _lev(na, nb)
        if d <= max_dist:
            u, v = sorted((ia, ib))
            exp[(u, v)] = d
    return exp


def _run(spark, rows, **kw):
    df = spark.createDataFrame(
        rows, "entity_id string, entity_type string, canonical_name string"
    )
    return {(r.id_a, r.id_b): r.dist for r in alias_pairs(df, **kw).collect()}


def test_alias_pairs_vs_brute_force(spark):
    """Hand-picked corpus covering: short edits the shingle bands miss,
    sub-segment-length strings (zero-length trailing segments), empty
    names (excluded), unicode byte semantics (née↔nee = 2 in,
    東京↔東只 = 3 out), equal-length pairs (both orientations emitted,
    deduped), long strings, and cross-block twins (never paired)."""
    base = ["acme ltd", "acme lttd", "acme inc", "globex", "globex corp",
            "ac", "a", "", "b", "ab", "ba", "née", "nee", "東京", "東只",
            "widget", "widgets", "widgette", "intl widget",
            "x" * 40, "x" * 39 + "y", "short", "shirt", "sharts"]
    rows = [(f"e{i}", ["org", "brand"][i % 2], n) for i, n in enumerate(base)]
    rows.append(("e100", "org", "acme ltd"))  # cross-block twin of e0 (brand)
    got = _run(spark, rows)
    assert got == _brute(rows)
    assert got  # non-vacuous


def test_alias_pairs_randomized_and_salted_heavy_path(spark):
    """Seeded random corpus over a tiny alphabet (dense near-collisions)
    — once at the default threshold (light path) and once at
    salt_threshold=1 (every key with more than one candidate pair takes
    the salted cells): both must equal brute force exactly, proving the
    salt is a partition of the candidate space."""
    rng = random.Random(42)
    rows = []
    for i in range(120):
        n = "".join(rng.choice("abc") for _ in range(rng.randint(1, 6)))
        rows.append((f"r{i:03d}", "t", n))
    exp = _brute(rows)
    assert _run(spark, rows) == exp
    assert _run(spark, rows, salt_threshold=1) == exp


def test_alias_pairs_block_none_and_degenerate(spark):
    from ner_spark.operators.alias import alias_pairs as ap

    rows = [("a", "x", "cat"), ("b", "y", "cap"), ("c", "z", "dog")]
    df = spark.createDataFrame(
        rows, "entity_id string, entity_type string, canonical_name string"
    )
    # block_col=None ignores the type column: cat↔cap pair across blocks
    got = {(r.id_a, r.id_b): r.dist
           for r in ap(df, block_col=None).collect()}
    assert got == {("a", "b"): 1}
    empty = spark.createDataFrame(
        [], "entity_id string, entity_type string, canonical_name string"
    )
    assert ap(empty).count() == 0


def test_alias_clusters_transitive_chain(spark):
    """A~B and B~C within dist 2, A~C at dist 4: pairs alone keep them
    apart, the cluster view must merge all three under the min id; an
    isolated name stays out of the output entirely."""
    from ner_spark.operators.alias import alias_clusters, alias_pairs

    names = spark.createDataFrame(
        [
            ("e1", "person", "jonathan"),
            ("e2", "person", "jonathaaan"),   # dist 2 from e1
            ("e3", "person", "jonathaaaaan"), # dist 2 from e2, 4 from e1
            ("e4", "person", "zzzzzzzz"),     # isolated
        ],
        "entity_id string, entity_type string, canonical_name string",
    )
    pairs = {
        (r.id_a, r.id_b) for r in alias_pairs(names).collect()
    }
    assert pairs == {("e1", "e2"), ("e2", "e3")}
    got = {
        r.entity_id: (r.cluster_id, r.n_members)
        for r in alias_clusters(names).collect()
    }
    assert got == {
        "e1": ("e1", 3),
        "e2": ("e1", 3),
        "e3": ("e1", 3),
    }
    # a materialized pair table gives the same clusters; with a
    # non-default pair parameter it would be silently ignored, so raise
    mat = alias_pairs(names)
    assert {
        r.entity_id: (r.cluster_id, r.n_members)
        for r in alias_clusters(names, pairs=mat).collect()
    } == got
    for bad in ({"name_col": "entity_id"}, {"block_col": None}, {"max_dist": 1}):
        with pytest.raises(ValueError, match="ignored"):
            alias_clusters(names, pairs=mat, **bad)

"""Round-5 wave operators: relation-algebra census, composition-rule
mining, SCD-2 fact history — hand-computable fixtures pinning the exact
semantics the DuckDB oracles restate."""

from __future__ import annotations

import datetime

TS0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

TRIPLE_SCHEMA = (
    "conv_id string, turn_idx long, subj string, pred string, obj string"
)


def _triples(spark, rows):
    """rows: (conv_id, turn_idx, subj, pred, obj)."""
    return spark.createDataFrame(rows, TRIPLE_SCHEMA)


def test_pred_algebra_symmetry_and_inverse(spark):
    """Symmetric overlap counts ordered reversed pairs; the inverse
    argmax breaks ties by (overlap, pred name); preds with no reversal
    report zeros and NULL inverse; self-loops are excluded."""
    from ner_spark.operators.graph import pred_algebra

    rows = [
        # married_to: fully symmetric (both directions asserted)
        ("c1", 0, "a", "married_to", "b"),
        ("c1", 1, "b", "married_to", "a"),
        ("c1", 2, "c", "married_to", "d"),
        ("c1", 3, "d", "married_to", "c"),
        # works_at / employs: inverses on (e, OrgX)
        ("c2", 0, "e", "works_at", "OrgX"),
        ("c2", 1, "OrgX", "employs", "e"),
        # works_at also has an unreciprocated edge
        ("c2", 2, "f", "works_at", "OrgY"),
        # likes: no reversal at all
        ("c3", 0, "g", "likes", "h"),
        # self-loop must not count as symmetric
        ("c3", 1, "i", "likes", "i"),
        # duplicate assertion of an existing fact must not inflate
        ("c3", 2, "a", "married_to", "b"),
    ]
    out = {
        r["pred"]: r.asDict() for r in pred_algebra(_triples(spark, rows)).collect()
    }
    assert set(out) == {"married_to", "works_at", "employs", "likes"}
    m = out["married_to"]
    # 4 distinct non-loop edges, each reversed -> sym_overlap 4, conf 1.0
    assert (m["support"], m["sym_overlap"], m["sym_confidence"]) == (4, 4, 1.0)
    w = out["works_at"]
    assert (w["support"], w["sym_overlap"]) == (2, 0)
    assert (w["inv_pred"], w["inv_overlap"]) == ("employs", 1)
    e = out["employs"]
    assert (e["inv_pred"], e["inv_overlap"]) == ("works_at", 1)
    lk = out["likes"]
    assert (lk["support"], lk["sym_overlap"], lk["inv_pred"], lk["inv_overlap"]) == (
        1, 0, None, 0,
    )


def test_rule_confidence_distinct_pair_support(spark):
    """Body support counts DISTINCT (a, c) pairs (two midpoints for the
    same endpoints count once); confidence = closed pairs / body pairs;
    a==c paths are excluded."""
    from ner_spark.operators.graph import rule_confidence

    rows = [
        # p(a,b1), q(b1,c) and p(a,b2), q(b2,c): ONE distinct (a,c) pair
        ("c1", 0, "a", "p", "b1"),
        ("c1", 1, "b1", "q", "c"),
        ("c1", 2, "a", "p", "b2"),
        ("c1", 3, "b2", "q", "c"),
        # head closes it
        ("c1", 4, "a", "r", "c"),
        # second body pair (x, z), also closed by r
        ("c2", 0, "x", "p", "y"),
        ("c2", 1, "y", "q", "z"),
        ("c2", 2, "x", "r", "z"),
        # third body pair (u, v): NOT closed
        ("c3", 0, "u", "p", "w"),
        ("c3", 1, "w", "q", "v"),
        # cyclic path p(m,n), q(n,m) -> a==c, excluded from the body
        ("c4", 0, "m", "p", "n"),
        ("c4", 1, "n", "q", "m"),
    ]
    out = rule_confidence(
        _triples(spark, rows), min_hits=1, min_confidence=0.0
    ).collect()
    got = {
        (r["body_pred1"], r["body_pred2"], r["head_pred"]): (
            r["n_body"], r["n_hits"], r["confidence"],
        )
        for r in out
    }
    assert got[("p", "q", "r")] == (3, 2, round(2 / 3, 6))


def test_fact_history_versions_and_intervals(spark):
    """Runs of the same object collapse; versions are ordered by
    (epoch, conv, turn); valid_to chains to the next change's epoch and
    is NULL on the current version; the last version agrees with
    current_facts; non-functional preds are excluded."""
    from pyspark.sql import functions as F

    from ner_spark.operators.graph import current_facts, fact_history

    def ts(s):
        return TS0 + datetime.timedelta(seconds=s)

    # transcripts give each (conv, turn) its timestamp
    tr = spark.createDataFrame(
        [
            ("c1", 0, ts(0)), ("c1", 1, ts(10)), ("c1", 2, ts(20)),
            ("c2", 0, ts(30)), ("c2", 1, ts(40)),
        ],
        "conv_id string, turn_idx long, ts timestamp",
    )
    rows = [
        # office location: A (t0), A again (t10, collapses), B (t20),
        # A again (t30 in c2 -> new version, not merged with v1)
        ("c1", 0, "org", "located_in", "A"),
        ("c1", 1, "org", "located_in", "A"),
        ("c1", 2, "org", "located_in", "B"),
        ("c2", 0, "org", "located_in", "A"),
        # two single-valued subjects so the census calls located_in
        # functional (majority-single) despite org's changes
        ("c2", 1, "org2", "located_in", "C"),
        ("c2", 1, "org3", "located_in", "D"),
        # set-valued pred: two objects for one subject, majority-multi
        ("c2", 0, "org", "makes", "X"),
        ("c2", 1, "org", "makes", "Y"),
    ]
    hist = fact_history(_triples(spark, rows), tr).collect()
    assert all(r["pred"] == "located_in" for r in hist)
    org = [r for r in hist if r["src_entity"] == "org"]
    others = [r for r in hist if r["src_entity"] != "org"]
    assert {(r["src_entity"], r["version"], r["valid_to"]) for r in others} == {
        ("org2", 1, None), ("org3", 1, None),
    }
    by_v = {r["version"]: r for r in sorted(org, key=lambda r: r["version"])}
    ep0 = int(TS0.replace(tzinfo=datetime.timezone.utc).timestamp())
    # local-session timezone may shift the absolute epoch; compare deltas
    base = by_v[1]["valid_from"]
    assert [by_v[v]["obj"] for v in (1, 2, 3)] == ["A", "B", "A"]
    assert by_v[1]["valid_to"] - base == 20
    assert by_v[2]["valid_from"] - base == 20
    assert by_v[2]["valid_to"] - base == 30
    assert by_v[3]["valid_to"] is None
    # consistency: last version == current_facts' current_obj
    cur = current_facts(_triples(spark, rows), tr).collect()
    cur_obj = {(r["pred"], r["src_entity"]): r["current_obj"] for r in cur}
    assert cur_obj[("located_in", "org")] == by_v[3]["obj"]
    assert ep0 is not None  # silence lints; absolute epoch not asserted


def test_rake_keyphrases_hand_computed(spark):
    """Runs split at stopwords; degree counts phrase co-members; the
    per-word micro ratio quantizes BEFORE the phrase sum."""
    from ner_spark.functions.text import rake_keyphrases

    docs = spark.createDataFrame(
        [(1, "deep learning of the deep learning model")],
        "doc_id long, text string",
    )
    rows = {
        r["phrase"]: (r["n_occurrences"], r["score_micro"])
        for r in rake_keyphrases(docs).collect()
    }
    # freq: deep 2, learning 2, model 1; degree: deep 5, learning 5,
    # model 3 -> word micros 2.5e6, 2.5e6, 3e6
    assert rows == {
        "deep learning": (1, 5_000_000),
        "deep learning model": (1, 8_000_000),
    }


def test_bpe_fertility_buckets(spark):
    """One merge on 'ab' leaves ab->1 piece, cd->2; buckets carry
    occurrence weights and exact micro chars-per-piece."""
    from ner_spark.functions.bpe import bpe_fertility

    docs = spark.createDataFrame(
        [(1, "ab ab cd")], "doc_id long, text string"
    )
    rows = {
        r["n_pieces"]: (
            r["n_words"], r["n_occurrences"], r["chars_per_piece_micro"],
        )
        for r in bpe_fertility(spark, docs, n_merges=1, min_count=2).collect()
    }
    assert rows == {1: (1, 2, 2_000_000), 2: (1, 1, 1_000_000)}


def test_sq_codes_bounds_and_remainder(spark):
    """Corpus-global per-dim min/max; zero-span dims code to 0 with no
    remainder; the remainder is the exact integer truncation loss."""
    from ner_spark.functions.similarity import sq_codes

    emb = spark.createDataFrame(
        [(1, [0.0, 1.0]), (2, [1.0, 1.0]), (3, [0.5, 1.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {
        r["vec_id"]: (r["codes"], r["rem_q"])
        for r in sq_codes(emb, dim=2).collect()
    }
    assert rows == {
        1: ("0,0", 0),
        2: ("255,0", 0),
        3: ("127,0", 500_000),
    }


def test_sq_sdc_topk_ranks_by_code_distance(spark):
    """Queries quantize against CORPUS bounds; SDC ranks by integer
    code distance with neighbor-id tie-break; self excluded."""
    from ner_spark.functions.similarity import sq_sdc_topk

    emb = spark.createDataFrame(
        [
            (0, [0.0, 0.0]),
            (1, [1.0, 0.0]),
            (2, [0.9, 0.0]),
            (3, [0.1, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = sq_sdc_topk(emb, emb.where("vec_id = 0"), k=2).collect()
    got = [(r["neighbor_id"], r["sdc_q"], r["rank"]) for r in
           sorted(out, key=lambda r: r["rank"])]
    # codes dim0: 0->0, 1->255, 0.9->229, 0.1->25; dim1 span 0 -> 0
    assert got == [(3, 25 * 25, 1), (2, 229 * 229, 2)]


def test_personalized_pagerank_hand_computed(spark):
    """2 iterations on a 3-node line with a dangling sink: iteration 1
    pushes all seed mass to B; iteration 2 recycles B's dangling mass
    into the restart coefficient (0.15 + 0.85*0.85 = 0.8725), so A
    (the only seed) ends at 872500 micro, B at 127500, C at 0."""
    from ner_spark.operators.graph import personalized_pagerank

    edges = spark.createDataFrame(
        [("a", "b", 1), ("c", "a", 1)],
        "src_entity string, dst_entity string, n_turns long",
    )
    seeds = spark.createDataFrame([("a",)], "x string")
    got = {
        r["entity_id"]: r["ppr_micro"]
        for r in personalized_pagerank(edges, seeds, iters=2).collect()
    }
    assert got == {"a": 872500, "b": 127500, "c": 0}


def test_hits_scores_hand_computed(spark):
    """One iteration on A->C, B->C, C->D: auth = (0, 0, 2/3, 1/3),
    hub = (0.4, 0.4, 0.2, 0) after the two L1-normalized half-steps;
    duplicate directed edges collapse before scoring."""
    from ner_spark.operators.graph import hits_scores

    edges = spark.createDataFrame(
        [("a", "c", 1), ("a", "c", 9), ("b", "c", 1), ("c", "d", 1)],
        "src_entity string, dst_entity string, n_turns long",
    )
    got = {
        r["entity_id"]: (r["hub_micro"], r["auth_micro"])
        for r in hits_scores(edges, iters=1).collect()
    }
    assert got == {
        "a": (400000, 0),
        "b": (400000, 0),
        "c": (200000, 666667),
        "d": (0, 333333),
    }


def test_neighbor_jaccard_hand_computed(spark):
    """Triangle a-b-c plus pendant a-d: every 2-path mid emits its
    neighbor pairs once; union sizes use FULL degrees and the pendant
    never acts as a mid (deg 1 < 2) yet appears in pairs through mid
    a. jacc_micro is the all-integer div rounding."""
    from ner_spark.operators.graph import neighbor_jaccard

    edges = spark.createDataFrame(
        [("a", "b", 1), ("a", "c", 1), ("b", "c", 1), ("d", "a", 1)],
        "src_entity string, dst_entity string, n_turns long",
    )
    got = {
        (r["node_u"], r["node_v"]): (
            r["common_neighbors"], r["union_size"], r["jacc_micro"],
        )
        for r in neighbor_jaccard(edges).collect()
    }
    assert got == {
        ("a", "b"): (1, 4, 250000),
        ("a", "c"): (1, 4, 250000),
        ("b", "c"): (1, 3, 333333),
        ("b", "d"): (1, 2, 500000),
        ("c", "d"): (1, 2, 500000),
    }


def test_skyline_2d_matches_brute_force(spark):
    """Strict-dominance Pareto frontier equals the quadratic definition
    on a randomized grid with ties and exact duplicates; duplicates of
    a frontier point all survive (neither strictly dominates the
    other)."""
    import random

    from ner_spark.functions.skyline import skyline_2d

    rng = random.Random(7)
    pts = [(i, rng.randint(0, 50), rng.randint(0, 50)) for i in range(400)]
    pts += [(1000, 50, 50), (1001, 50, 50), (1002, 0, 0)]

    def brute(rows):
        return sorted(
            a
            for a in rows
            if not any(
                b[1] >= a[1] and b[2] >= a[2] and (b[1] > a[1] or b[2] > a[2])
                for b in rows
            )
        )

    df = spark.createDataFrame(pts, "id long, x long, y long")
    got = sorted(tuple(r) for r in skyline_2d(df, "x", "y").collect())
    assert got == brute(pts)
    # the (50,50) duplicate pair both survive
    assert {(1000, 50, 50), (1001, 50, 50)} <= set(got)


def test_skyline_2d_timestamp_axis_and_degenerates(spark):
    """Timestamp y-axis comparisons, a single-distinct-x input (pure
    equal-x strict-y dominance), and the empty frame."""
    import datetime
    import random

    from ner_spark.functions.skyline import skyline_2d

    rng = random.Random(11)
    t0 = datetime.datetime(2024, 1, 1)
    pts = [
        (i, rng.random() * 100, t0 + datetime.timedelta(seconds=rng.randint(0, 9999)))
        for i in range(300)
    ]
    df = spark.createDataFrame(pts, "id long, x double, y timestamp")
    got = sorted(tuple(r) for r in skyline_2d(df, "x", "y").collect())
    exp = sorted(
        a
        for a in pts
        if not any(
            b[1] >= a[1] and b[2] >= a[2] and (b[1] > a[1] or b[2] > a[2])
            for b in pts
        )
    )
    assert got == exp

    one_x = spark.createDataFrame(
        [(1, 5.0, 1.0), (2, 5.0, 3.0), (3, 5.0, 3.0)],
        "id long, x double, y double",
    )
    assert sorted(tuple(r) for r in skyline_2d(one_x, "x", "y").collect()) == [
        (2, 5.0, 3.0),
        (3, 5.0, 3.0),
    ]
    assert skyline_2d(one_x.where("id < 0"), "x", "y").count() == 0


def test_graph_trio_degenerate_inputs(spark):
    """Degenerate graphs the fixtures never produce: the graph-similarity
    trio must fail loudly (undefined restart mass) or return empty/exact
    results rather than dying in a per-iteration division."""
    import pytest

    from ner_spark.operators.graph import (
        hits_scores,
        neighbor_jaccard,
        personalized_pagerank,
    )

    edge_schema = "src_entity string, dst_entity string, n_turns long"
    edges = spark.createDataFrame([("a", "b", 1), ("c", "a", 1)], edge_schema)
    empty_edges = spark.createDataFrame([], edge_schema)

    # ppr: an empty seed set has no defined restart distribution (1/|S|)
    with pytest.raises(ValueError, match="seed set"):
        personalized_pagerank(edges, spark.createDataFrame([], "x string"))
    # ranks are over GRAPH nodes: an empty graph yields no rows even
    # with a seed (the seed has no neighborhood to rank)
    assert (
        personalized_pagerank(
            empty_edges, spark.createDataFrame([("a",)], "x string"), iters=1
        ).count()
        == 0
    )

    # hits: empty graph -> empty frame with the output schema; iters=0
    # would return an undefined auth vector and is refused
    out = hits_scores(empty_edges, iters=1)
    assert out.count() == 0
    assert out.columns == ["entity_id", "hub_micro", "auth_micro"]
    with pytest.raises(ValueError, match="iters"):
        hits_scores(edges, iters=0)

    # neighbor_jaccard on a star a-{b,c,d}: every leaf pair shares
    # exactly {a} and nothing else -> jacc 1.0 on the micro grid
    star = spark.createDataFrame(
        [("a", "b", 1), ("a", "c", 1), ("a", "d", 1)], edge_schema
    )
    got = sorted(
        (r["node_u"], r["node_v"], r["common_neighbors"], r["union_size"], r["jacc_micro"])
        for r in neighbor_jaccard(star).collect()
    )
    assert got == [
        ("b", "c", 1, 1, 1000000),
        ("b", "d", 1, 1, 1000000),
        ("c", "d", 1, 1, 1000000),
    ]
    # the celebrity-hub cut excludes mid 'a' (undirected degree 3 > 2)
    assert neighbor_jaccard(star, max_mid_degree=2).count() == 0
    # min_common above any pair's overlap -> empty
    assert neighbor_jaccard(star, min_common=2).count() == 0
    assert neighbor_jaccard(empty_edges).count() == 0

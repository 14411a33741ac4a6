"""Corpus-global curation statistics (functions/corpus.py) and the
embedding outlier / RRF fusion operators (functions/similarity.py):
invariants beyond the DuckDB-oracle hash gate — degenerate inputs,
partitioning-invariance, and hand-computable fixtures.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def _docs(spark, texts, n_parts=None):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    return df.repartition(n_parts) if n_parts else df


def test_dup_span_fraction_hand_fixture(spark):
    """Two docs sharing one 8-gram window, one unique doc, one short
    doc: duplicated spans flagged exactly; short docs pinned to
    (0, 0, 0)."""
    from ner_spark.functions.corpus import dup_span_fraction

    shared = "a b c d e f g h"  # exactly one 8-gram, shared by docs 0/1
    texts = [
        shared + " x",        # 2 spans: shared + "b..x"
        shared + " y",        # 2 spans: shared + "b..y"
        "p q r s t u v w z",  # 2 spans, both unique
        "too short",          # < 8 tokens -> zero row
    ]
    rows = {
        r["doc_id"]: r
        for r in dup_span_fraction(_docs(spark, texts), n=8).collect()
    }
    assert rows[0]["n_spans"] == 2 and rows[0]["n_dup_spans"] == 1
    assert rows[0]["dup_fraction_micro"] == 500_000
    assert rows[1]["n_spans"] == 2 and rows[1]["n_dup_spans"] == 1
    assert rows[2]["n_dup_spans"] == 0 and rows[2]["dup_fraction_micro"] == 0
    assert (
        rows[3]["n_spans"] == 0
        and rows[3]["n_dup_spans"] == 0
        and rows[3]["dup_fraction_micro"] == 0
    )
    # within-doc repetition alone is NOT cross-doc duplication
    solo = ["one two three four five six seven eight " * 2]
    r = dup_span_fraction(_docs(spark, [s.strip() for s in solo]), n=8).collect()
    assert all(x["n_dup_spans"] == 0 for x in r)


def test_unigram_logprob_hand_fixture(spark):
    """3-token corpus: check the exact add-one-smoothed micro-NLL
    integers and the integer-division mean; empty doc pinned to
    (0, 0)."""
    from ner_spark.functions.corpus import unigram_logprob

    texts = ["a a b", ""]
    rows = {
        r["doc_id"]: r for r in unigram_logprob(_docs(spark, texts)).collect()
    }
    # counts: a=2, b=1; total=3, vocab=2 -> p(a)=3/5, p(b)=2/5
    nll_a = math.floor(-1e6 * math.log(3 / 5))
    nll_b = math.floor(-1e6 * math.log(2 / 5))
    assert rows[0]["n_tokens"] == 3
    assert rows[0]["mean_nll_micro"] == (2 * nll_a + nll_b) // 3
    assert rows[1]["n_tokens"] == 0 and rows[1]["mean_nll_micro"] == 0


def test_unigram_logprob_partitioning_invariant(spark):
    """Same corpus, 1 vs 13 partitions: identical result multiset."""
    from ner_spark.functions.corpus import unigram_logprob

    texts = [f"tok{i % 7} tok{i % 3} filler" for i in range(50)]
    a = sorted(
        map(tuple, unigram_logprob(_docs(spark, texts, 1)).collect())
    )
    b = sorted(
        map(tuple, unigram_logprob(_docs(spark, texts, 13)).collect())
    )
    assert a == b


def test_distinct_sketch_estimator(spark):
    """The kept set is exactly the distinct keys hashing under the
    threshold (cross-checked in Python md5), and est = n_kept * rate."""
    import hashlib

    from ner_spark.functions.corpus import distinct_sketch

    rate = 4
    rows = [(i, "grp") for i in range(400)] + [(7, "grp")] * 100
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    out = distinct_sketch(df, rate=rate).collect()
    assert len(out) == 1
    r = out[0]
    thr = (1 << 60) // rate
    kept = {
        k
        for k in range(400)
        if int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16) < thr
    }
    assert r["n_kept"] == len(kept)
    assert r["est_distinct"] == len(kept) * rate
    assert r["exact_distinct"] == 400  # duplicates don't inflate the sketch


def test_embedding_outliers_finds_planted_outlier(spark):
    """A vector far from a tight cluster ranks first with the exact
    integer-grid distance."""
    from ner_spark.functions.similarity import embedding_outliers

    base = [0.1] * 4
    rows = [(i, [v + 0.001 * i for v in base], "a") for i in range(9)]
    rows.append((99, [5.0, 5.0, 5.0, 5.0], "b"))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    out = embedding_outliers(df, k=3, dim=4).collect()
    assert out[0]["vec_id"] == 99 and out[0]["rank"] == 1
    assert out[0]["dist_q"] > out[1]["dist_q"]
    assert [r["rank"] for r in out] == [1, 2, 3]


def test_rrf_fusion_hand_fixture(spark):
    """Doc in both arms outranks docs in one arm; contributions are the
    floored micro reciprocals."""
    from ner_spark.functions.similarity import rrf_fuse_topk

    # doc 1 matches the query terms AND is the dense neighbor of doc 0;
    # doc 2 lexical-only; doc 3 dense-only
    docs = spark.createDataFrame(
        [
            (0, "zzz"),
            (1, "query join filter query"),
            (2, "query filter"),
            (3, "nothing here"),
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.99, 0.14]),
            (2, [-1.0, 0.0]),
            (3, [0.9, 0.43]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = rrf_fuse_topk(
        docs, emb, ["query", "join", "filter"], query_vec_id=0, k_each=2, k=4
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert out[0]["doc_id"] == 1  # in both lists at rank 1
    assert by_id[1]["rrf_micro"] == 2 * (1_000_000 // 61)
    assert by_id[1]["lex_rank"] == 1 and by_id[1]["dense_rank"] == 1
    assert by_id[2]["dense_rank"] is None  # lexical-only
    assert by_id[3]["lex_rank"] is None  # dense-only


def _removal_reference(texts, n=8):
    """Plain-Python restatement of the Lee et al. span-removal spec:
    cross-document-duplicated word n-grams mark their covered token
    positions; survivors re-join in order."""
    toks = [t.lower().split(" ") if t is not None else [] for t in texts]
    gram_docs: dict[tuple, set] = {}
    for d, tk in enumerate(toks):
        for i in range(max(0, len(tk) - n + 1)):
            gram_docs.setdefault(tuple(tk[i : i + n]), set()).add(d)
    out = {}
    for d, tk in enumerate(toks):
        covered = set()
        for i in range(max(0, len(tk) - n + 1)):
            if len(gram_docs[tuple(tk[i : i + n])]) >= 2:
                covered.update(range(i, i + n))
        kept = [w for i, w in enumerate(tk) if i not in covered]
        out[d] = (len(tk), len(tk) - len(kept), " ".join(kept))
    return out


def test_dup_span_removal_matches_python_reference(spark):
    """Overlapping shared windows, partial overlap, short docs, empty
    and NULL text — the Spark operator must equal the plain-Python
    spec, on any partitioning."""
    from ner_spark.functions.corpus import dup_span_removal

    shared = "a b c d e f g h i j"  # 3 overlapping 8-grams shared 0/1
    texts = [
        "pre1 " + shared + " tail one two three",
        shared + " other suffix here",
        "p q r s t u v w unique only doc",
        "too short",
        "",
    ]
    want = _removal_reference(texts, n=8)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    for parts in (1, 7):
        got = {
            r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
            for r in dup_span_removal(df.repartition(parts), n=8).collect()
        }
        assert got == want
    # the shared block must actually be gone, the unique tails kept
    assert "c d e" not in got[0][2] and got[0][2].startswith("pre1")
    assert got[0][2].endswith("one two three")
    assert got[3] == (2, 0, "too short")
    # NULL text pins to (0, 0, '')
    nul = spark.createDataFrame(
        [(0, None), (1, "x y")], "doc_id long, text string"
    )
    r0 = {r["doc_id"]: r for r in dup_span_removal(nul, n=8).collect()}[0]
    assert (r0["n_tokens"], r0["n_removed"], r0["clean_text"]) == (0, 0, "")


def test_bigram_logprob_hand_fixture(spark):
    """Exact micro-NLL integers on a 2-doc corpus: position 0 scores
    add-one unigram, positions >= 1 the lam=0.8 interpolation; a
    shuffled doc must score strictly worse than its fluent original."""
    from ner_spark.functions.corpus import bigram_logprob

    texts = ["a b a b", "b a", ""]
    # counts: a=3, b=3, total=6, vocab=2; bigrams: ab=2, ba=2
    rows = {
        r["doc_id"]: r for r in bigram_logprob(_docs(spark, texts)).collect()
    }
    import math

    uni = {w: math.floor(-1e6 * math.log((3 + 1) / (6 + 2))) for w in "ab"}
    def big(c_pc, c_prev, c_cur):
        lam = 800000 / 1000000.0
        return math.floor(
            -1e6 * math.log(lam * c_pc / c_prev + (1 - lam) * (c_cur + 1) / 8.0)
        )

    want0 = (uni["a"] + 3 * big(2, 3, 3)) // 4
    assert rows[0]["n_tokens"] == 4 and rows[0]["mean_nll_micro"] == want0
    want1 = (uni["b"] + big(2, 3, 3)) // 2
    assert rows[1]["n_tokens"] == 2 and rows[1]["mean_nll_micro"] == want1
    assert rows[2]["n_tokens"] == 0 and rows[2]["mean_nll_micro"] == 0

    # discrimination: same unigram bag, destroyed continuations
    fluent = ["the cat sat on the mat"] * 6
    garbage = fluent[:5] + ["mat the on sat cat the"]
    f = {r["doc_id"]: r for r in bigram_logprob(_docs(spark, garbage)).collect()}
    assert f[5]["mean_nll_micro"] > f[0]["mean_nll_micro"]


def test_perplexity_buckets_rank_partition(spark):
    """Equal-population deciles over the bigram NLL rank: bucket
    populations differ by at most 1, bands follow the 3/4/3 head/
    middle/tail split, and ordering is NLL-ascending (fluent repeats
    rank before one-off shuffles)."""
    from collections import Counter

    from ner_spark.functions.corpus import bigram_logprob, perplexity_buckets

    # 10 docs: repeated fluent phrasing + increasingly scrambled text
    fluent = "the cat sat on the mat and the dog sat on the rug"
    texts = [fluent, fluent, fluent + " again"] + [
        " ".join(reversed((fluent + f" v{i}").split())) for i in range(7)
    ]
    docs = _docs(spark, texts)
    out = perplexity_buckets(docs).collect()
    assert len(out) == 10
    per_decile = Counter(r.decile for r in out)
    assert all(v == 1 for v in per_decile.values()) and len(per_decile) == 10
    bands = Counter(r.band for r in out)
    assert bands == {"head": 3, "middle": 4, "tail": 3}
    # ranking consistent with bigram_logprob ordering
    nll = {r.doc_id: r.mean_nll_micro for r in bigram_logprob(docs).collect()}
    by_rank = sorted(out, key=lambda r: r.decile)
    ranked_ids = [r.doc_id for r in by_rank]
    assert ranked_ids == sorted(nll, key=lambda d: (nll[d], d))
    # bucket_size invariance through the two-level rank device
    small = {
        (r.doc_id, r.decile, r.band)
        for r in perplexity_buckets(docs, bucket_size=3).collect()
    }
    assert small == {(r.doc_id, r.decile, r.band) for r in out}
    # a materialized score table gives the same buckets; with a
    # non-default LM parameter it would be silently ignored, so raise
    scores = bigram_logprob(docs)
    assert {
        (r.doc_id, r.decile, r.band)
        for r in perplexity_buckets(docs, scores=scores).collect()
    } == small
    for bad in ({"lam_micro": 500_000}, {"text_col": "body"}):
        with pytest.raises(ValueError, match="ignored"):
            perplexity_buckets(docs, scores=scores, **bad)


def test_novelty_scores_prefix_order(spark):
    """First occurrence owns the gram: an exact copy later scores 0
    novelty, the original stays fully novel; short docs pin to 1e6."""
    from ner_spark.functions.corpus import novelty_scores

    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    texts = [
        base,                  # doc 0: all grams first-seen -> novelty 1e6
        "tiny doc",            # doc 1: no 8-grams -> pinned 1e6
        base,                  # doc 2: exact copy of doc 0 -> novelty 0
        base + " w11 w12",     # doc 3: shares doc 0's grams, adds 2 new
    ]
    got = {
        r.doc_id: (r.n_grams, r.n_seen, r.novelty_micro)
        for r in novelty_scores(_docs(spark, texts)).collect()
    }
    assert got[0] == (3, 0, 1_000_000)
    assert got[1] == (0, 0, 1_000_000)
    assert got[2] == (3, 3, 0)
    # doc 3: 5 grams, 3 seen in doc 0 -> floor(1e6 * 2/5)
    assert got[3] == (5, 3, 400_000)

"""Bounded-edit-distance entity alias resolution — PassJoin-style
segment blocking over canonical entity names.

The MinHash band join in ``operators/linking.py`` catches aliases that
share token/shingle content; what it structurally misses are SHORT
edits — typos, pluralization, hyphen/space variants — whose shingle
overlap can fall below any band threshold ("ACME Lttd" vs "ACME Ltd").
This module is the complementary candidate generator: all pairs of
names within byte-level edit distance ``max_dist``, found losslessly
without an all-pairs comparison, published as the suggested-merge
review queue of a KG curation loop.

Blocking scheme (PassJoin; Li/Deng/Feng, PVLDB 2011 — public
knowledge): partition each name's byte sequence into ``d+1`` contiguous
segments. If ``edit(s, t) <= d`` then ``t`` contains a substring equal
to at least one segment of ``s`` (pigeonhole: ``d`` edits touch at most
``d`` segments), and the match starts within ``±d`` of the segment's
own position. So the INDEXED side emits its ``d+1`` segments keyed by
``(block, len, seg_idx, seg)`` and the PROBE side emits, for every
partner length ``l ∈ [len-d, len]`` and segment index, the substrings
in the ``±d`` position window — ``O(d³)`` keys per row, LINEAR in the
corpus, zero recall loss (same family as the pigeonhole SimHash
banding in functions/dedup.py). Candidates are verified with the
engine's banded ``levenshtein(a, b, threshold)``.

Cross-engine distance semantics: Spark's ``levenshtein`` counts UTF-16
code units while DuckDB's counts BYTES, so both the segmentation and
the verify run over a byte proxy — ``decode(encode(name, 'UTF-8'),
'ISO-8859-1')``, a string whose chars are exactly the UTF-8 bytes.
Byte-level edit distance is therefore the operator's contract (a CJK
char substitution costs 3), matching the DuckDB oracle bit-for-bit.

Skew: the join key ``(block, l, i, seg)`` concentrates exactly where
name collisions do (popular tokens, and the zero-length trailing
segments of names shorter than ``d+1`` bytes, which degrade to a
length-band block); the candidate join is ``functions/dedup.py:
salted_join``, so no single task evaluates a hot key's quadratic
candidate block.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def byte_proxy_col(col: Column) -> Column:
    """String whose UTF-16 units are the UTF-8 bytes of ``col`` —
    makes Spark's ``levenshtein``/``length``/``substring`` operate on
    bytes, the same unit DuckDB's ``levenshtein`` counts."""
    return F.decode(F.encode(col, "UTF-8"), "ISO-8859-1")


def _seg_start(l: Column, k: int, i: int) -> Column:
    """0-based start of segment ``i`` in the even ``k``-split of a
    length-``l`` string: the first ``l mod k`` segments take the extra
    byte."""
    base = F.floor(l / F.lit(k)).cast("int")
    rem = F.pmod(l, F.lit(k))
    return F.lit(i) * base + F.least(F.lit(i), rem)


def _seg_len(l: Column, k: int, i: int) -> Column:
    base = F.floor(l / F.lit(k)).cast("int")
    rem = F.pmod(l, F.lit(k))
    return base + F.when(F.lit(i) < rem, F.lit(1)).otherwise(F.lit(0))


PASSJOIN_KEYS = ["block", "l", "i", "seg"]


def passjoin_sides(
    names: DataFrame,
    id_col: str = "entity_id",
    name_col: str = "canonical_name",
    block_col: str | None = "entity_type",
    max_dist: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """The two sides of the PassJoin candidate join on ``PASSJOIN_KEYS``:
    the indexed segments ``(id_a, proxy_a, *keys)`` and the probe
    substrings ``(id_b, proxy_b, *keys)``."""
    d = max_dist
    k = d + 1
    block = F.col(block_col) if block_col else F.lit("")
    base = names.select(
        F.col(id_col).alias("id"),
        block.alias("block"),
        byte_proxy_col(F.col(name_col)).alias("proxy"),
    ).withColumn("len", F.length("proxy"))

    li = F.col("len")
    indexed = base.where(li >= 1).select(
        F.col("id").alias("id_a"),
        F.col("proxy").alias("proxy_a"),
        "block",
        F.col("len").alias("l"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        F.substring(
                            "proxy", _seg_start(li, k, i) + 1, _seg_len(li, k, i)
                        ).alias("seg"),
                    )
                    for i in range(k)
                ]
            )
        ).alias("e"),
    ).select("id_a", "proxy_a", "block", "l", "e.i", "e.seg")

    # probe side: for every partner length l in [len-d, len] and segment
    # index, the substrings in the ±d window around the segment's home
    # position. Struct array is array_distinct'ed ROW-LOCALLY before the
    # explode, so multi-delta duplicates never reach the join.
    probes = []
    for off in range(d + 1):
        pl = li - F.lit(off)
        for i in range(k):
            s0 = _seg_start(pl, k, i)
            sl = _seg_len(pl, k, i)
            for delta in range(-d, d + 1):
                pos = s0 + F.lit(delta)
                ok = (
                    (pl >= 1)
                    & (pos >= 0)
                    & (pos <= li - sl)
                )
                probes.append(
                    F.when(
                        ok,
                        F.struct(
                            pl.cast("int").alias("l"),
                            F.lit(i).alias("i"),
                            F.substring("proxy", pos + 1, sl).alias("seg"),
                        ),
                    )
                )
    probe = base.select(
        F.col("id").alias("id_b"),
        F.col("proxy").alias("proxy_b"),
        "block",
        F.explode(
            F.array_distinct(
                F.filter(F.array(*probes), lambda x: x.isNotNull())
            )
        ).alias("e"),
    ).select("id_b", "proxy_b", "block", "e.l", "e.i", "e.seg")
    return indexed, probe


def alias_pairs(
    names: DataFrame,
    id_col: str = "entity_id",
    name_col: str = "canonical_name",
    block_col: str | None = "entity_type",
    max_dist: int = 2,
    salt_threshold: int = 512,
) -> DataFrame:
    """All pairs of rows whose names are within byte-level edit
    distance ``max_dist`` (and share ``block_col`` if given):
    ``(id_a, id_b, dist)`` with ``id_a < id_b``. Lossless — proven
    against the brute-force quadratic oracle by the correctness gate."""
    from ner_spark.functions.dedup import register_persist, salted_join

    indexed, probe = passjoin_sides(names, id_col, name_col, block_col, max_dist)
    cand = salted_join(
        register_persist(indexed),
        register_persist(probe),
        PASSJOIN_KEYS,
        "id_a",
        "id_b",
        salt_threshold,
    )
    verified = (
        cand.where(F.col("id_a") != F.col("id_b"))
        .withColumn(
            "dist", F.levenshtein("proxy_a", "proxy_b", max_dist)
        )
        .where(F.col("dist") >= 0)
        # slim BEFORE the dedup exchange: ids + the already-computed
        # distance, never the proxies (score-then-dedup, same ordering
        # as similarity.py / linking.py)
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "dist",
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return verified


def alias_clusters(
    names: DataFrame,
    id_col: str = "entity_id",
    name_col: str = "canonical_name",
    block_col: str | None = "entity_type",
    max_dist: int = 2,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Alias MERGE GROUPS, not just pairs: the transitive closure of
    ``alias_pairs`` — ``(entity_id, cluster_id, n_members)`` for every
    entity that participates in at least one alias pair, where
    ``cluster_id`` is the cluster's minimum entity id. Pairs alone
    under-state a merge ("ACME"~"ACNE", "ACNE"~"ACNE Inc" must review
    as ONE group even when the ends differ by more than ``max_dist``),
    so the review queue a data steward actually works is this view.

    Plan shape: composes the engine's own operators — the lossless
    PassJoin pair generator and the adaptive connected components
    (driver union-find under the edge threshold, star-contraction
    above). The member count is an unordered window over ``cluster_id``
    partitions bounded by cluster size. Nothing new is quadratic.
    """
    from pyspark.sql import Window

    from ner_spark.operators.components import connected_components

    # the PassJoin pair lineage (census + light/heavy paths + verify) is
    # ~15 stages; it feeds BOTH the id derivation and the CC edges, so
    # pin it once — otherwise the whole candidate join executes twice
    # (measured 14.3 s -> ~8 s on the sf0.1 bench graph). A caller that
    # already holds a materialized pair table (the production shape —
    # the review queue is a published table) passes it via ``pairs``;
    # the pairs are whatever that table was generated with, so the pair
    # parameters must stay at their defaults.
    if pairs is not None and (name_col, block_col, max_dist) != (
        "canonical_name", "entity_type", 2
    ):
        raise ValueError(
            "alias_clusters: pairs= is a materialized pair table; "
            "name_col/block_col/max_dist would be ignored"
        )
    if pairs is None:
        pairs = alias_pairs(
            names, id_col, name_col, block_col, max_dist
        ).localCheckpoint()
    ids = (
        pairs.select(F.col("id_a").alias("node_id"))
        .unionByName(pairs.select(F.col("id_b").alias("node_id")))
        .distinct()
    )
    assign = connected_components(
        ids, pairs, id_col="node_id", src_col="id_a", dst_col="id_b"
    )
    w = Window.partitionBy("component")
    return assign.select(
        F.col("node_id").alias(id_col),
        F.col("component").alias("cluster_id"),
        F.count(F.lit(1)).over(w).alias("n_members"),
    )

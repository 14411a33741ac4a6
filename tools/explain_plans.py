#!/usr/bin/env python
"""Physical-plan checks for the plan shapes the 100 TB design rests on.

``CHECKS`` is the one statement of each check. For every headline
operator it names the plan properties the design depends on:

* filters/column pruning reach the parquet scan (PushedFilters /
  ReadSchema);
* dimension joins are BroadcastHashJoin, fact-fact joins are shuffle
  joins under AQE;
* row-local operators (extraction, minhash, simhash, quality) contain
  NO Exchange — one whole-stage-codegen span over the scan;
* the tagger is a single MapInPandas node fed directly by the scan +
  one range Exchange.

A spec lists substrings the formatted plan ``requires`` and ``forbids``,
and optionally caps (``max_tree_exchanges``) or fixes (``tree_exchanges``)
the number of Exchange nodes in the plan tree. ``build`` makes each
spec's frame and ``violations`` checks its plan; tests/test_plan_pins.py
runs every spec.

Run: python tools/explain_plans.py [sf_dir] [--only a,b]
prints each plan with its verdicts and exits 1 on any violation.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from ner_spark.entry_queries import QUERIES, _fx  # noqa: E402
from ner_spark.functions.bpe import _PAIRS_EXPR, word_histogram  # noqa: E402
from ner_spark.functions.datasets import mention_contexts  # noqa: E402
from ner_spark.functions.dedup import conv_minhash, conv_shingle_rows  # noqa: E402
from ner_spark.operators import graph  # noqa: E402
from ner_spark.operators.alias import alias_pairs  # noqa: E402
from ner_spark.operators.relate import extract_relations  # noqa: E402
from ner_spark.operators.segments import tool_transitions, topic_segments  # noqa: E402
from ner_spark.pipeline import build_mentions  # noqa: E402
from ner_spark.session import get_spark  # noqa: E402


def formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _bfs_hop(edges):
    """One frontier-expansion hop of the BFS loop."""
    e = edges.select(
        F.col("src_entity").alias("s"), F.col("dst_entity").alias("d")
    ).distinct()
    # a deterministic filter, not limit(): a global limit would add its
    # own SinglePartition exchange that the real BFS loop (whose
    # frontiers come from checkpointed frames) never contains
    frontier = (
        e.select(F.col("s").alias("x")).where(F.length("x") % 2 == 0).distinct()
    )
    return (
        frontier.join(e, frontier.x == e.s)
        .select(F.col("d").alias("x"))
        .distinct()
        .join(frontier, "x", "left_anti")
    )


def _closure_round(edges):
    """One frontier-expansion round of the transitive closure (the real
    loop's frames come from checkpointed parents, same device as the BFS
    hop and the k-core peel)."""
    e = (
        edges.where(
            F.col("pred").isin("affiliated_with", "based_in", "located_in")
        )
        .select(F.col("src_entity").alias("s"), F.col("dst_entity").alias("d"))
        .where(F.col("s") != F.col("d"))
        .distinct()
    )
    step = e.select(F.col("s").alias("m"), F.col("d").alias("nd"))
    return (
        e.join(step, e.d == step.m)
        .select("s", F.col("nd").alias("d"))
        .where(F.col("s") != F.col("d"))
        .distinct()
        .join(e.select("s", "d"), ["s", "d"], "left_anti")
    )


def _lpa_round(edges):
    und = graph.weighted_undirected(edges)
    labels = und.select("x").distinct().withColumn("lbl", F.col("x"))
    return graph.lpa_round(und, labels)


def _bpe_round(spark, sf_dir):
    """One BPE merge iteration over the checkpointed word histogram."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    w = word_histogram(docs).localCheckpoint(eager=True)
    return (
        w.select(F.explode(F.expr(_PAIRS_EXPR)).alias("p"), "wcount")
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("wcount").alias("cnt"))
        .where(F.col("cnt") >= 2)
        .orderBy(F.desc("cnt"), "l", "r")
        .limit(1)
    )


def _on_goldens(op, *tables):
    """A frame of ``op`` over the fixture goldens for ``sf_dir``: graph
    analytics in production read the persisted KG tables, not the fused
    extraction lineage, so their plans are checked over the golden
    tables (the schemas the materialize stages write)."""

    def frame(spark, sf_dir):
        fx = _fx(sf_dir)
        return op(
            *(spark.read.parquet(os.path.join(fx, f"{t}.parquet")) for t in tables)
        )

    return frame


# every spec whose frame is not its QUERIES entry
FRAMES = {
    "kg_degree_stats": _on_goldens(graph.degree_stats, "edges"),
    "kg_triangles": _on_goldens(graph.triangle_count, "edges"),
    "kg_pred_profile": _on_goldens(graph.pred_cardinality_profile, "edges"),
    "kg_functional_violations": _on_goldens(
        graph.functional_violations, "edges"
    ),
    "kg_paths_2hop": _on_goldens(graph.paths_2hop, "edges"),
    "kg_pred_signatures": _on_goldens(graph.pred_type_signatures, "edges"),
    "kg_adamic_adar": _on_goldens(graph.adamic_adar, "edges"),
    "kg_random_walks": _on_goldens(graph.random_walks, "edges"),
    "kg_skipgram_pairs": _on_goldens(
        lambda e: graph.walk_skipgram_pairs(graph.random_walks(e)), "edges"
    ),
    "kg_community_profiles": _on_goldens(graph.community_profiles, "edges"),
    "kg_edge_split": _on_goldens(graph.edge_holdout_split, "edges"),
    "kg_bfs_hops": _on_goldens(_bfs_hop, "edges"),
    "kg_transitive_closure": _on_goldens(_closure_round, "edges"),
    "kg_communities": _on_goldens(_lpa_round, "edges"),
    # one peel round: the loop localCheckpoints between rounds, so the
    # per-round plan is the thing that must scale
    "kg_kcore": _on_goldens(
        lambda e: graph.peel_round(graph.undirected_edges(e), 2), "edges"
    ),
    "kg_entity_cards": _on_goldens(graph.entity_cards, "nodes", "edges"),
    "kg_alias_pairs": _on_goldens(alias_pairs, "nodes"),
    "kg_edge_temporal": _on_goldens(
        graph.edge_temporal_profile, "canonical_triples", "transcripts"
    ),
    "kg_edge_decay": _on_goldens(
        lambda ct, t: graph.edge_decay_weights(ct, t, halflife_days=7),
        "canonical_triples",
        "transcripts",
    ),
    "kg_current_facts": _on_goldens(
        graph.current_facts, "canonical_triples", "transcripts"
    ),
    "kg_fact_history": _on_goldens(
        graph.fact_history, "canonical_triples", "transcripts"
    ),
    "kg_entity_pmi": _on_goldens(
        graph.entity_cooccurrence_pmi, "canonical_triples"
    ),
    "kg_pred_algebra": _on_goldens(graph.pred_algebra, "canonical_triples"),
    "kg_rule_confidence": _on_goldens(
        graph.rule_confidence, "canonical_triples"
    ),
    "kg_edge_provenance": _on_goldens(
        graph.edge_provenance, "canonical_triples"
    ),
    "kg_cloze_questions": _on_goldens(
        graph.cloze_questions, "canonical_triples"
    ),
    "kg_verbalize": _on_goldens(
        lambda ct: graph.verbalize_entities(ct, max_facts=32),
        "canonical_triples",
    ),
    "kg_mention_contexts": _on_goldens(
        lambda m, t: mention_contexts(m, t, window=3),
        "reference_mentions",
        "transcripts",
    ),
    "kg_topic_segments": _on_goldens(topic_segments, "transcripts"),
    "tool_transitions": _on_goldens(tool_transitions, "transcripts"),
    # the signature stage: turn-local shingle rows + plain min aggregates
    "conv_near_dup_sig": _on_goldens(
        lambda t: conv_minhash(
            conv_shingle_rows(t, include_tiny=False, distinct=False)
        ),
        "transcripts",
    ),
    "build_mentions": _on_goldens(build_mentions, "transcripts"),
    "extract_relations": _on_goldens(
        lambda t: extract_relations(build_mentions(t)), "transcripts"
    ),
    "bpe_round": _bpe_round,
}


def build(spark, name: str, sf_dir: str):
    """The frame whose plan the spec ``name`` checks."""
    frame = FRAMES.get(name)
    return frame(spark, sf_dir) if frame else QUERIES[name](spark, sf_dir)


# formatted plans render each node twice (tree + detail); tree nodes
# render as "+- Exchange", ":- Exchange" (non-last child of a binary
# op) or bare "Exchange (" at the root
_TREE_EXCHANGE = re.compile(r"(?:[:+]- |^)Exchange \(", re.M)


def violations(name: str, plan: str) -> list[str]:
    """Every way ``plan`` breaks the spec ``CHECKS[name]``."""
    spec = CHECKS[name]
    out = [f"missing {s!r}" for s in spec["requires"] if s not in plan]
    out += [f"forbidden {s!r}" for s in spec["forbids"] if s in plan]
    n = len(_TREE_EXCHANGE.findall(plan))
    cap = spec.get("max_tree_exchanges")
    if cap is not None and n > cap:
        out.append(f"{n} tree Exchanges > cap {cap}")
    exact = spec.get("tree_exchanges")
    if exact is not None and n != exact:
        out.append(f"{n} tree Exchanges, expected exactly {exact}")
    return out


CHECKS = {
    "priority_count": dict(
        requires=["PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual"],
        forbids=[],
        note=(
            "The date predicate and 2-column projection reach the parquet "
            "scan (`PushedFilters`, `ReadSchema` lists only o_orderdate, "
            "o_orderpriority) — at 100 TB this is the difference between "
            "scanning a partition's footer-pruned row groups and scanning "
            "the table."
        ),
    ),
    "top_revenue_nations": dict(
        requires=["BroadcastHashJoin"],
        forbids=[],
        note=(
            "nation (25 rows) joins as BroadcastHashJoin; the "
            "lineitem⋈orders fact join stays a shuffle join that AQE can "
            "re-plan/skew-split at runtime."
        ),
    ),
    "quality_scores": dict(
        requires=[],
        forbids=["Exchange"],
        note=(
            "Quality scoring is one codegen span over the scan — zero "
            "shuffles; scales embarrassingly with input splits."
        ),
    ),
    "simhash_values": dict(
        requires=[],
        forbids=["Exchange", "Python"],
        note=(
            "SimHash is pure JVM-side higher-order aggregation: no "
            "Exchange, no Python worker — the whole operator rides the "
            "scan tasks."
        ),
    ),
    "lsh_dup_pairs": dict(
        requires=["InMemoryTableScan"],
        forbids=["SortAggregate", "Python"],
        note=(
            "Document near-dup pairs: the one band join "
            "(linking.scored_candidate_pairs) with every document new. "
            "The exploded band frame is persisted once, so both join "
            "sides read it (InMemoryTableScan) instead of re-running the "
            "signature pass each; the Jaccard score is computed inside "
            "the join and the dedup is a HashAggregate over slim scored "
            "rows, never the two shingle arrays (SortAggregate asserted "
            "absent)."
        ),
    ),
    "minhash_bands": dict(
        requires=[],
        forbids=["Python"],
        max_tree_exchanges=1,
        note=(
            "MinHash signatures + band keys are row-local (one md5 pass "
            "per shingle + affine rehash, no Python). The single Exchange "
            "is the adaptive repartition for few-partition inputs "
            "(dedup._ensure_parallel) and sits BELOW every hash "
            "expression — the band explode is outer-generate so the "
            "optimizer cannot infer a filter that would drag the hash "
            "pass beneath the shuffle; on many-split inputs the Exchange "
            "disappears entirely."
        ),
    ),
    "window_topk_orders": dict(
        requires=["Window"],
        forbids=[],
        note=(
            "Per-customer top-k: one hash-partition exchange on o_custkey "
            "then a sorted Window; rank filter applies before any further "
            "wide operation."
        ),
    ),
    "split_train_val": dict(
        requires=[],
        forbids=["Exchange", "Python"],
        note=(
            "Deterministic train/val assignment is a pure row-local md5 "
            "bucket — zero shuffles, zero Python; the split of a 100 TB "
            "corpus costs exactly one scan."
        ),
    ),
    "token_jaccard_pairs": dict(
        requires=["InMemoryTableScan"],
        forbids=["Python"],
        note=(
            "Jaccard pair generation is fully JVM-side (no Python). The "
            "shared (block × length-bucket) derivation is persisted once "
            "(InMemoryTableScan) and feeds the block census plus both "
            "join branches; heavy blocks take salted_join's salt grid, "
            "whose parallelism is pinned against AQE input-byte "
            "coalescing (the enumeration is output-heavy, input-tiny). "
            "Measured at sf0.1: 49 s → 6.8 s for the same 1.01 M pairs."
        ),
    ),
    "simhash_band_pairs": dict(
        requires=["InMemoryTableScan"],
        forbids=["Python"],
        note=(
            "Complete pigeonhole banding with the same salted_join: "
            "band rows persisted once, hot band values salted, light "
            "bands hash-spread over pinned partitions. The first-matching-"
            "band filter dedups multi-band collisions as a scalar "
            "expression — no dropDuplicates exchange. Measured at sf0.1: "
            "9.0 s → 1.4 s for the same 129 k pairs."
        ),
    ),
    "embedding_dup_pairs_ivf": dict(
        requires=["Broadcast"],
        forbids=["Python"],
        note=(
            "IVF-cell near-dup blocking: centroid assignment is a "
            "broadcast pass folded into a max_by aggregation; the "
            "within-cell join scores BEFORE deduping so the "
            "dropDuplicates exchange carries slim (id, id, cosine) rows "
            "of threshold survivors, never the embedding vectors."
        ),
    ),
    "events_top_users": dict(
        requires=["TakeOrderedAndProject"],
        forbids=[],
        note=(
            "Global top-k compiles to TakeOrderedAndProject: each scan "
            "task keeps its local top-10 and only those rows reach the "
            "driver — no single-partition exchange ever sees the full "
            "user dimension. The rank-assigning Window sits ABOVE the "
            "limit, so its one partition holds at most k=10 rows (bounded "
            "by the constant, not the data) — the round-2 global "
            "unpartitioned Window over every distinct user is gone."
        ),
    ),
    "pack_windows": dict(
        requires=["BroadcastHashJoin", "hashpartitioning(bucket"],
        forbids=["Python"],
        note=(
            "Sequence packing's global prefix sum is two-level: the only "
            "SinglePartition exchange carries the BUCKET dimension (one "
            "slim row per 4096 docs), bucket offsets broadcast back, and "
            "the corpus-sized running-sum Window is hash-partitioned by "
            "bucket (asserted) — no window task ever holds more than "
            "bucket_size rows. The naive formulation (the DuckDB oracle) "
            "is one global-order window over the whole corpus."
        ),
    ),
    "tfidf_terms": dict(
        requires=["windowspecdefinition(doc_id"],
        forbids=["Python"],
        note=(
            "TF-IDF: document frequency aggregates FROM the tf frame "
            "(no second corpus scan), corpus size joins as a broadcast "
            "1-row dimension, and the top-k rank window is PARTITIONED "
            "by doc_id (asserted) — bounded by a doc's distinct terms, "
            "never global."
        ),
    ),
    "repetition_scores": dict(
        requires=[],
        forbids=["Exchange", "Python"],
        note=(
            "The repetition filter (duplicated n-gram fraction) is one "
            "codegen span over the scan — zero shuffles, zero Python."
        ),
    ),
    "stratified_sample": dict(
        requires=["Window"],
        forbids=["Python"],
        note=(
            "Deterministic per-stratum sampling: one hash-partition "
            "exchange on the stratum key, then a rank window over the "
            "md5 order — the reservoir-sampling replacement whose "
            "output is identical at any parallelism."
        ),
    ),
    "events_asof_view": dict(
        requires=["Window", "Union"],
        forbids=["Join", "CartesianProduct", "Python"],
        max_tree_exchanges=2,
        note=(
            "The as-of (temporal) join compiles to NO join operator at "
            "all (asserted): both sides union into one stream, one "
            "key-hash Exchange feeds a sorted window that carries the "
            "latest reference struct forward with O(1) state. The naive "
            "range-join formulation explodes to O(|L|x|R|) rows per key "
            "before reducing; this plan moves each input row exactly "
            "once (2 Exchanges total: the reference (key,ts) dedup agg "
            "+ the window partition)."
        ),
    ),
    "pii_scan": dict(
        requires=[],
        forbids=["Exchange", "Python"],
        note=(
            "PII match counting is one codegen span over the documents "
            "scan — regexp_count runs JVM-side, zero shuffles, zero "
            "Python. The release scrub scales linearly with input bytes "
            "at any cluster size."
        ),
    ),
    "pii_redact": dict(
        requires=[],
        forbids=["Exchange", "Python"],
        note=(
            "The regexp_replace redaction chain is likewise a pure "
            "narrow projection — no shuffle, no Python boundary."
        ),
    ),
    "source_overlap": dict(
        requires=["BroadcastHashJoin"],
        forbids=["Python", "CartesianProduct", "BroadcastNestedLoopJoin"],
        note=(
            "Gram hashes dedup to (source, h) rows before the self-join, "
            "so per-hash fan-out is bounded by the SOURCE COUNT — never "
            "corpus-quadratic; the per-source totals join back as "
            "broadcasts (asserted). The token array is let-bound: an "
            "inlined split would re-tokenize per gram index (quadratic "
            "in document length)."
        ),
    ),
    "pq_codes": dict(
        requires=["BroadcastHashJoin"],
        forbids=["Python", "CartesianProduct", "SortMergeJoin"],
        note=(
            "The PQ codebook (n_cells·n_sub slim rows) broadcasts onto "
            "the exploded (vec, subspace) stream (asserted — a "
            "shuffle/sort-merge join here would move the corpus); the "
            "assignment is one (vec, sub)-keyed min_by aggregate and one "
            "vec-keyed rollup, all integer arithmetic."
        ),
    ),
    "dup_span_fraction": dict(
        requires=[],
        forbids=["Python", "CartesianProduct", "BroadcastNestedLoopJoin"],
        note=(
            "The 8-gram hashes are computed and per-doc deduped INSIDE a "
            "row-local array transform before the explode, so every "
            "exchanged row is a slim (doc_id, int64) pair — the gram "
            "strings never leave the scan stage. Per-doc dedup makes "
            "count(*) the document frequency (no countDistinct expand); "
            "the join back rides the uniformly-distributed 64-bit hash "
            "key, skew-free by construction. No Python anywhere."
        ),
    ),
    "unigram_logprob": dict(
        requires=["BroadcastNestedLoopJoin"],
        forbids=["Python", "CartesianProduct"],
        note=(
            "The lexicon is one token-keyed hash aggregate with map-side "
            "combine; the scalar (total, vocab) row joins back as a "
            "broadcast nested-loop over ONE row (the required plan for a "
            "scalar crossJoin — asserted present so a regression to a "
            "shuffled cartesian is caught); scoring is a hash join from "
            "slim (doc_id, token) rows to the lexicon plus one doc-keyed "
            "aggregate. The only float op is one ln per DISTINCT vocab "
            "entry, floored onto the micro grid."
        ),
    ),
    "distinct_sketch": dict(
        requires=[],
        forbids=["Python", "Join"],
        note=(
            "ONE group-keyed aggregate, no join: the kept-set count is "
            "count_distinct(when(h < T, h)) partial-aggregated map-side "
            "alongside the exact count. The sketch state per group is "
            "|distinct|/rate hashes — the mergeable theta-sketch pattern "
            "that makes COUNT DISTINCT feasible at 100 TB."
        ),
    ),
    "embedding_outliers": dict(
        requires=["TakeOrderedAndProject"],
        forbids=["Python", "CartesianProduct"],
        note=(
            "The centroid is a single map-side-combinable aggregate (64 "
            "int64 sums, no explode) broadcast back over one row; the "
            "distance is row-local zip_with/aggregate codegen; the top-k "
            "is TakeOrderedAndProject (asserted — never a global sort), "
            "and the rank window sees ≤ k rows by construction."
        ),
    ),
    "hybrid_rrf_topk": dict(
        requires=["TakeOrderedAndProject"],
        forbids=["Python", "CartesianProduct"],
        note=(
            "Both retrieval arms end in TakeOrderedAndProject(k_each), "
            "so the fusion full-outer join and both rank windows operate "
            "on ≤ 2·k_each rows by construction; the expensive stages "
            "are exactly the two arm scans, each already scale-shaped "
            "(BM25: no inverted-index shuffle for a bounded query; "
            "dense: broadcast 1-row query, streamed corpus)."
        ),
    ),
    "ngram_topk": dict(
        requires=["TakeOrderedAndProject"],
        forbids=["Python"],
        note=(
            "The gram enumeration (sequence + transform + slice) is "
            "row-local codegen over the scan; duplicate grams collapse "
            "in map-side partial aggregation BEFORE the single gram-"
            "keyed exchange, so the hottest boilerplate gram arrives as "
            "one partial row per map task, not one row per occurrence. "
            "The final top-k is TakeOrderedAndProject (bounded by k) — "
            "never a global sort of the gram dimension."
        ),
    ),
    "kg_degree_stats": dict(
        requires=["Union"],
        forbids=["Join", "Python"],
        tree_exchanges=1,
        note=(
            "Degree profile over the MATERIALIZED edge table (the "
            "production shape — analytics read the persisted KG, not the "
            "fused extraction lineage) compiles to ZERO joins (asserted): "
            "both endpoint roles union (asserted) into one slim 5-column "
            "stream reduced by a single hash aggregate — exactly one "
            "exchange (asserted) over 2|E| rows with map-side combine, no "
            "Python. The minimal-movement plan at "
            "10^12 edges."
        ),
    ),
    "kg_pagerank": dict(
        requires=[],
        forbids=["Python"],
        note=(
            "Fixed-iteration weighted PageRank: the transition frame "
            "(src, dst, frac) is built once and persisted; each "
            "iteration is one hash-join of the slim rank vector against "
            "it plus one aggregate, with ranks localCheckpointed so the "
            "plan stays one-iteration deep instead of compounding K "
            "joins into one Catalyst tree (the final plan shown here IS "
            "that truncated lineage — a scan of the checkpointed ranks). "
            "Dangling mass is a scalar full-reduction per iteration."
        ),
    ),
    "kg_edge_decay": dict(
        requires=[],
        forbids=["Python", "SortMergeJoin", "CartesianProduct"],
        note=(
            "Recency-decayed edge weights over the materialized canonical "
            "triples: the decay contribution is an exact power-of-two "
            "right-shift of 1e6 (whole half-life buckets) so the per-edge "
            "sum is order-independent integer arithmetic; the reference "
            "epoch is ONE scalar max broadcast back; the rollup aggregate "
            "partials map-side. No float exp() anywhere in the plan."
        ),
    ),
    "sft_pairs": dict(
        requires=["Window"],
        forbids=["Python", "Join"],
        max_tree_exchanges=1,
        note=(
            "SFT (prompt, response) extraction compiles to ONE conv_id "
            "exchange feeding the lead window (partition = a "
            "conversation, bounded by dialogue length — the pipeline-wide "
            "invariant) plus row-local filters: no join, no Python, one "
            "exchange (asserted)."
        ),
    ),
    "kg_edge_temporal": dict(
        requires=[],
        forbids=["Python", "SortMergeJoin"],
        max_tree_exchanges=2,
        note=(
            "Edge provenance windows over the materialized canonical "
            "triples: the transcripts side prunes to (conv_id, turn_idx, "
            "ts) at the scan, the turn-keyed join stays a hash join "
            "(broadcast here; shuffled+AQE-skew-split at scale), and the "
            "edge-keyed aggregate partials map-side — two exchanges max, "
            "no Python."
        ),
    ),
    "kg_pred_profile": dict(
        requires=[],
        forbids=["Python", "CartesianProduct", "SinglePartition"],
        note=(
            "Schema induction: two (pred, endpoint)-keyed distinct "
            "aggregates reduced to per-pred maxima plus one pred "
            "rollup — every exchange keys on a high-cardinality "
            "composite before the tiny predicate dimension, no single-"
            "partition stage (asserted)."
        ),
    ),
    "kg_functional_violations": dict(
        requires=["Broadcast"],
        forbids=["Python", "CartesianProduct"],
        note=(
            "Conflict detection: one (pred, subject)-keyed collect_set "
            "(bounded by per-subject fan-out), a tiny induced-schema "
            "census joined back as a broadcast (asserted), and a scalar "
            "size filter. The conflicting objects serialize to a sorted "
            "joined string — deterministic under any partitioning and "
            "hashable by the driver gate."
        ),
    ),
    "kg_current_facts": dict(
        requires=["Broadcast"],
        forbids=["Python", "CartesianProduct", "SinglePartition", "Window"],
        note=(
            "Latest-wins fact resolution: ts rides the turn-keyed join, "
            "then ONE (pred, subject)-keyed aggregate computes arg-max "
            "struct + distinct-object count + assertion count together; "
            "the induced functional-predicate census joins back as a "
            "broadcast (asserted). NO window over the fact history "
            "(asserted) — the arg-max is a map-side-combinable max, not "
            "a per-key sort."
        ),
    ),
    "kg_paths_2hop": dict(
        requires=["LeftSemi"],
        forbids=["Python", "CartesianProduct"],
        note=(
            "2-hop path enumeration: two endpoint row-count aggregates "
            "derive the wedge cap, surviving mids restrict both edge "
            "roles via semi-joins (asserted), then one mid-keyed "
            "self-join of slim 3-column rows. The cap bounds every join "
            "key's fan-out at max_wedges_per_mid, so no task inherits a "
            "hub's quadratic bucket."
        ),
    ),
    "kg_communities": dict(
        requires=[],
        forbids=["Python", "CartesianProduct", "SinglePartition", "Window"],
        note=(
            "One synchronous label-propagation round (the loop "
            "localCheckpoints between rounds, so the per-round plan is "
            "the thing that must scale): node-keyed join of the slim "
            "label frame against the weighted undirected edges, "
            "(node, label)-keyed weight sum, node-keyed "
            "min(struct(-score, label)) arg-min — all map-side "
            "combinable, no sort, no window (asserted)."
        ),
    ),
    "kg_mention_contexts": dict(
        requires=[],
        forbids=["Python", "SortMergeJoin", "CartesianProduct"],
        note=(
            "EL training contexts over the materialized mentions + "
            "transcripts goldens: one turn-keyed hash join (broadcast "
            "here; shuffled at scale) then row-local split/slice/join "
            "built-ins — no Python (asserted). The live entry query is "
            "narrower still: extraction output already carries the turn "
            "text, so the operator skips the join entirely (asserted in "
            "tests/test_datasets.py)."
        ),
    ),
    "kg_pred_signatures": dict(
        requires=[],
        forbids=["Python", "CartesianProduct", "SinglePartition"],
        note=(
            "Typed ontology induction: one row-local type projection "
            "(ids carry their type prefix) + one map-side-combinable "
            "aggregate whose key cardinality is bounded by "
            "|preds|×|types|² — a single exchange of tiny partials."
        ),
    ),
    "kg_bfs_hops": dict(
        requires=["LeftAnti"],
        forbids=["Python", "CartesianProduct", "SinglePartition", "Window"],
        note=(
            "One BFS hop (the loop localCheckpoints between hops, so "
            "the per-hop plan is the thing that must scale): the "
            "CURRENT frontier — one column wide — joins the edge list "
            "on entity id, distincts, and anti-joins the visited set "
            "(asserted LeftAnti). Frontier-not-visited joins keep the "
            "per-hop work proportional to the hop's discovery, never "
            "to the accumulated reachable set."
        ),
    ),
    "kg_adamic_adar": dict(
        requires=["LeftAnti"],
        forbids=["Python", "CartesianProduct", "SinglePartition"],
        note=(
            "Link-prediction scoring: per-mid wedge enumeration rides "
            "salted_join (hot mids spread over bounded cells), "
            "contributions are int64-quantized "
            "before the order-independent sum, and the non-adjacency "
            "filter is a left-anti join (asserted) of slim pairs "
            "against the undirected edge set. Super-hub mids cut at "
            "deg<=65536 in both engines."
        ),
    ),
    "kg_random_walks": dict(
        requires=[],
        forbids=["Python", "CartesianProduct", "SinglePartition"],
        note=(
            "Deterministic DeepWalk corpus: the visible plan is the "
            "LAST step (the loop localCheckpoints between steps) — two "
            "slim keyed joins: frontier x degree to draw "
            "pick = h60(walk|step) mod deg, then (cur, pick) against "
            "the ranked adjacency. O(1) per walk step, hub cost equals "
            "leaf cost; the per-node ranking Window is partitioned by "
            "node (bounded partitions), never SinglePartition."
        ),
    ),
    "kg_alias_pairs": dict(
        requires=["LeftAnti"],
        forbids=["Python", "CartesianProduct", "SinglePartition"],
        note=(
            "PassJoin segment blocking: linear O(d^3)-keys-per-row "
            "candidate generation, salted_join for hot "
            "(block, len, seg) keys (LeftAnti = the light-path heavy-"
            "key exclusion), banded levenshtein verify, score-then-"
            "dedup so the dedup exchange carries (id, id, dist) and "
            "never the name proxies."
        ),
    ),
    "kg_community_profiles": dict(
        requires=[],
        forbids=["Python", "CartesianProduct"],
        note=(
            "Community summarization over the LPA labels (rounds are "
            "localCheckpointed upstream): one persisted (node, "
            "community) frame joined against slim undirected edges, "
            "map-side-combinable per-community aggregates, and a "
            "top-predicate Window partitioned by community (bounded "
            "by |preds| rows per partition). SinglePartition is NOT "
            "forbidden here: the only occurrence is the Exchange "
            "inside Spark's own injected runtime bloom-filter "
            "subquery (bloom_filter_agg) — a scalar full reduction "
            "used to prune the join's probe side, not a data-bearing "
            "single-partition stage."
        ),
    ),
    "kg_skipgram_pairs": dict(
        requires=[],
        forbids=["Python", "CartesianProduct", "SinglePartition"],
        note=(
            "Skip-gram pair extraction from the walk corpus: the "
            "windowed (center, context) enumeration is row-local "
            "(nested JVM higher-order functions over the split path, "
            "<= (L+1)*2w pairs per walk), so the only exchange beyond "
            "the walk loop's own is the map-side-combinable pair "
            "count — no posexplode self-join reshuffling the corpus."
        ),
    ),
    "bm25_topk": dict(
        requires=["TakeOrderedAndProject"],
        forbids=["Python", "CartesianProduct", "Window"],
        note=(
            "BM25 retrieval with a bounded term query: per-term tf and "
            "doc length are row-local higher-order expressions (no "
            "inverted-index shuffle), corpus stats are one scalar "
            "aggregate folded into literal coefficients, the score is "
            "a fixed-order sum of int64-quantized contributions, and "
            "the top-k compiles to TakeOrderedAndProject (asserted) — "
            "never a global sort."
        ),
    ),
    "kg_edge_split": dict(
        requires=[],
        forbids=["Python", "CartesianProduct", "SinglePartition", "Window"],
        note=(
            "Transductive edge holdout: one row-local hash projection "
            "(split is a pure function of the edge triple — stable "
            "under repartitioning and deltas), one distinct train-"
            "endpoint dimension, two entity-keyed membership joins. "
            "No window, no global sort."
        ),
    ),
    "kg_entity_cards": dict(
        requires=[],
        forbids=["Python", "CartesianProduct", "SinglePartition"],
        note=(
            "Entity profile cards: degree and predicate participation "
            "reduce the edge list via map-side-combinable aggregates "
            "keyed on entity id; the top-k predicate rank is a "
            "per-entity Window bounded by |preds| rows and trims to k "
            "BEFORE the collect (bounded buffer); assembly is three "
            "entity-keyed left joins."
        ),
    ),
    "kg_topic_segments": dict(
        requires=[],
        forbids=["Python", "CartesianProduct", "SinglePartition"],
        note=(
            "Content-based topic segmentation: token sets are "
            "row-local, the lag + running boundary sum ride ONE window "
            "partitioned by conv_id (bounded by conversation length, "
            "the same bound the tagging pipeline relies on) — a single "
            "conv-keyed exchange, never a global window."
        ),
    ),
    "tool_transitions": dict(
        requires=[],
        forbids=["Python", "CartesianProduct", "SinglePartition"],
        note=(
            "Tool-call transition matrix: one conv-partitioned lag "
            "window over the tool-role subset (bounded by conversation "
            "length) + one map-side-combinable aggregate whose key "
            "cardinality is |tools|^2."
        ),
    ),
    "kg_edge_diff": dict(
        requires=["FullOuter"],
        forbids=["Python", "CartesianProduct", "SinglePartition"],
        note=(
            "KG snapshot diff: ONE full-outer join keyed on the "
            "(src, pred, dst) composite (high-cardinality, near-unique) "
            "over 5-column slim rows; the two snapshot aggregates "
            "partial map-side. Nothing else moves — the diff output is "
            "the small side at scale, the identical bulk never leaves "
            "the join."
        ),
    ),
    "kg_edge_provenance": dict(
        requires=["Window"],
        forbids=["Python", "CartesianProduct", "SinglePartition"],
        note=(
            "Bounded provenance: the row_number/count window partitions "
            "by the edge composite (never a single partition — asserted) "
            "and trims to k rows per edge BEFORE the collect_list, so "
            "no aggregation buffer scales with edge heat; the final "
            "aggregate reuses the window's partitioning."
        ),
    ),
    "kg_kcore": dict(
        requires=["LeftSemi"],
        forbids=["Python", "CartesianProduct"],
        note=(
            "k-core peeling: each round is one map-side-combined degree "
            "aggregate over slim endpoint rows plus two LEFT SEMI joins "
            "(asserted) restricting the edge set; per-round "
            "localCheckpoint keeps the plan one round deep (the plan "
            "shown is the final round over the checkpointed survivors), "
            "and the edge-count fixpoint is the convergence signal — "
            "monotone, so no content signature needed."
        ),
    ),
    "kg_entity_pmi": dict(
        requires=[],
        forbids=["Python", "CartesianProduct"],
        note=(
            "Co-occurrence PMI: pair derivation is row-local over the "
            "turn-distinct canonical triples; the pair / entity "
            "aggregates reduce with map-side partials and the marginals "
            "join back by entity key (broadcast at this scale, AQE "
            "shuffle join beyond). The corpus total is ONE driver-side "
            "scalar (a full reduction, same device as pagerank's node "
            "count), shipped as a literal — no cross join of the pair "
            "dimension."
        ),
    ),
    "kg_triangles": dict(
        requires=["LeftSemi"],
        forbids=["Python", "CartesianProduct"],
        note=(
            "Degree-oriented wedge closing: edges orient from the "
            "lower-(degree, id) endpoint, capping every out-degree at "
            "O(sqrt(m)) and total wedge volume at O(m^1.5) regardless of "
            "hub skew — a celebrity node's wedges are generated at its "
            "LOW-degree neighbors. The wedge pairs are slim (u, p, q) "
            "rows and close via one LEFT SEMI join (asserted) against "
            "the undirected edge set; the naive id-ordered 3-way "
            "self-join (the DuckDB oracle) has no such bound."
        ),
    ),
    "contamination_check": dict(
        requires=["Broadcast"],
        forbids=["Python"],
        note=(
            "Benchmark decontamination: the eval set's distinct n-gram "
            "hashes broadcast, so the overlap check is map-side over the "
            "corpus's exploded grams; the only exchange is the per-doc "
            "hit aggregation. One corpus pass (left-join marks hits and "
            "counts totals together)."
        ),
    ),
    "filter_report": dict(
        requires=[],
        forbids=["Exchange", "Python"],
        note=(
            "The quality-filter chain (first-failing-rule attribution) "
            "is one codegen span over the scan — all three signals and "
            "the verdict are row-local built-ins, zero shuffles; scales "
            "embarrassingly with input splits."
        ),
    ),
    "mixture_weights": dict(
        requires=["BroadcastNestedLoopJoin"],
        forbids=["Python", "SortMergeJoin"],
        note=(
            "Temperature mixture weights: one map-side-combinable count "
            "keyed on the language (key cardinality = #langs), then the "
            "two one-row totals attach as broadcast nested-loop cross "
            "joins — nothing after the first aggregate grows with the "
            "corpus."
        ),
    ),
    "mixture_resample": dict(
        requires=["Broadcast"],
        forbids=["Python", "SortMergeJoin"],
        note=(
            "Corpus rebalancing is shuffle-free: the per-group weights "
            "join as a broadcast (asserted), copy counts are row-local "
            "integer arithmetic + the md5 coin, and the expansion is one "
            "bounded-sequence explode riding the scan tasks."
        ),
    ),
    "tool_ngrams": dict(
        requires=["TakeOrderedAndProject"],
        forbids=["Python"],
        note=(
            "Playbook mining ends in TakeOrderedAndProject (per-task "
            "local top-k, no global sort); sequence buffers are bounded "
            "by conversation length and gram keys by |tools|^n."
        ),
    ),
    "embedding_centroids": dict(
        requires=[],
        forbids=["Python", "Generate", "Join"],
        max_tree_exchanges=1,
        note=(
            "Distributed vector mean: 64 int64-quantized element sums in "
            "ONE map-side-combinable aggregate — no explode (asserted: no "
            "Generate), so partitions reduce to |groups| rows of dim+1 "
            "columns before the single exchange."
        ),
    ),
    "token_percentiles": dict(
        requires=[],
        forbids=["Python", "Join"],
        note=(
            "Exact per-group percentiles WITHOUT the per-group sort: the "
            "cumulative window's partition is the per-group HISTOGRAM "
            "(bounded by the token-count value domain), not the corpus — "
            "a 100 TB 'en' group never lands on one task. The histogram "
            "aggregate combines map-side; ranks are integer ceil-division."
        ),
    ),
    "curation_decisions": dict(
        requires=["Broadcast"],
        forbids=["Python", "CartesianProduct"],
        note=(
            "End-to-end curation (exact-dup > contamination > quality "
            "chain): signals + content hash ride one row-local pass, the "
            "survivor flag is an unordered hash-partition window, the "
            "benchmark gram set joins as a broadcast (asserted) and the "
            "small contaminated-id side comes back through an AQE-"
            "eligible join. Nothing quadratic, nothing driver-side."
        ),
    ),
    "turn_latency": dict(
        requires=[],
        forbids=["Python", "Join"],
        max_tree_exchanges=1,
        note=(
            "ONE exchange (asserted): the lag window partitions by "
            "conv_id, and HashPartitioning(conv_id) already satisfies "
            "the (conv_id, role) aggregate's clustered distribution — "
            "the groupBy reuses the window's shuffle instead of adding "
            "its own. Everything else is the integer-ms grid in codegen."
        ),
    ),
    "conv_dedup": dict(
        requires=[],
        forbids=["Python", "SortMergeJoin", "collect_list"],
        max_tree_exchanges=2,
        note=(
            "Conversation dedup is two exchanges total (asserted): the "
            "position-tagged turn digests reduce through a (count, xor, "
            "xor) conv_id groupBy — O(1) aggregation state, map-side "
            "combinable, NO conv-sized collect_list buffer (asserted) — "
            "and the survivor window exchanges on conv_hash with "
            "partition size = duplicate multiplicity. No join, no sort "
            "beyond the per-group window."
        ),
    ),
    "conv_near_dup_sig": dict(
        requires=["HashAggregate"],
        forbids=["Python", "collect_list", "sort_array", "PosExplode"],
        note=(
            "Conversation near-dup signature stage (r5 constant-factor "
            "cut, hash-identical output): shingles live as (conv_id, "
            "h60) ROWS derived PER TURN — each turn's k-grams come "
            "row-locally from its own token array via higher-order "
            "transform/slice; the only window runs over TURN rows "
            "(~12x fewer than exploded tokens; PosExplode asserted "
            "absent) carrying just the (k-1)-token boundary from the "
            "next turns. The raw gram stream feeds the minima directly "
            "— duplicate-insensitive, so the corpus-wide distinct "
            "exchange is skipped — and the 12 signature minima are "
            "plain min aggregates (map-side combinable, O(n_hashes) "
            "state). No conversation-sized flatten buffer anywhere "
            "(collect_list/sort_array asserted absent; the <k-token "
            "fallback's bounded collect is behind a semi-join that "
            "never fires on this fixture)."
        ),
    ),
    "weighted_sample": dict(
        requires=["TakeOrderedAndProject"],
        forbids=["Python", "Window", "Exchange"],
        note=(
            "A-ES weighted sampling is ONE row-local pass (md5-h60 "
            "uniform, ln(u)/w onto the micro grid) ending in "
            "TakeOrderedAndProject — per-partition top-k merged on the "
            "driver, NO exchange, no window, no Python. At 100 TB the "
            "cost is the scan; the k winners are the only rows that "
            "move."
        ),
    ),
    "bpe_round": dict(
        requires=["TakeOrderedAndProject", "HashAggregate"],
        forbids=["Python", "CartesianProduct", "Window"],
        note=(
            "One BPE merge iteration (the frame the training loop runs "
            "24×, always over the VOCAB-sized histogram — never the "
            "corpus): row-local adjacent-pair enumeration, a map-side-"
            "combined (l, r) count aggregate, and the deterministic "
            "argmax as TakeOrderedAndProject (a global window here "
            "would single-partition the pair domain). The fold rewrite "
            "is pure codegen; the only corpus-scale work in the whole "
            "operator is the one histogram groupBy."
        ),
    ),
    "chunk_windows": dict(
        requires=["Generate"],
        forbids=["Exchange", "Python", "Window"],
        note=(
            "Per-document retrieval chunking is Scan → Generate → "
            "Project: the start sequence, token slices, and re-join are "
            "all row-local higher-order functions — ZERO exchanges, no "
            "Python. At 100 TB the operator costs exactly one scan and "
            "parallelizes with input splits."
        ),
    ),
    "semantic_dedup": dict(
        requires=["InMemoryTableScan"],
        forbids=["Python", "Window"],
        note=(
            "SemDeDup: the one broadcast-centroid assignment pass is "
            "persisted (InMemoryTableScan) and feeds BOTH the "
            "within-cell salted_join and the final verdict join; the "
            "dropped-id side of the verdict join carries only distinct "
            "ids (vectors pruned by Catalyst), and the dropped set "
            "scales with the duplicate fraction so it stays a shuffle "
            "join rather than an unbounded broadcast. No Python, no "
            "corpus-sized window."
        ),
    ),
    "hard_negatives": dict(
        requires=["BroadcastExchange"],
        forbids=["Python", "CartesianProduct"],
        note=(
            "Hard-negative mining rides the IVF machinery: centroids "
            "broadcast to both assignment passes, candidates meet in a "
            "per-cell equi-join (never a cross join), and the "
            "[lo, hi) band filter applies BEFORE the per-query rank "
            "window so near-dup pairs never enter the top-k sort."
        ),
    ),
    "dsir_weights": dict(
        requires=["BroadcastHashJoin"],
        forbids=["Python", "Window", "SortMergeJoin"],
        note=(
            "DSIR: the feature explode is row-local (md5 + pmod, no "
            "Python); the bucket census reduces to <=1024 rows that "
            "come back as a BroadcastHashJoin against the exploded "
            "features — the only corpus-scale exchange is the final "
            "per-doc partial+final aggregate."
        ),
    ),
    "ann_pq_topk": dict(
        requires=["BroadcastExchange"],
        forbids=["Python", "CartesianProduct"],
        note=(
            "IVF+PQ ADC search: codebook and per-query distance table "
            "both broadcast; candidates come from the per-cell "
            "equi-join (coarse stage) and the fine stage ranks them "
            "from the codes alone — the widest frame that shuffles is "
            "candidate-pairs × n_sub slim integers, never vectors."
        ),
    ),
    "dedup_incremental": dict(
        requires=["HashAggregate", "BroadcastHashJoin"],
        forbids=["Python", "CartesianProduct", "Window", "SortAggregate"],
        note=(
            "Incremental near-dup ingest: the one band join "
            "(linking.scored_candidate_pairs) with only the delta marked "
            "new, so only delta-side rows enter the left input, base×base "
            "candidates never enumerate, and a small daily delta rides "
            "a BroadcastHashJoin against the full-corpus band stream "
            "(AQE falls back to a shuffle join for a big delta). The "
            "exact-Jaccard score is computed inside the join, so the "
            "candidate dedup is a HashAggregate over slim scored rows "
            "(SortAggregate over carried shingle arrays asserted absent)."
        ),
    ),
    "kg_cloze_questions": dict(
        requires=["HashAggregate"],
        forbids=["Python", "Window", "CartesianProduct"],
        max_tree_exchanges=1,
        note=(
            "Cloze QA generation over the materialized canonical "
            "triples: ONE fact-keyed exchange feeding a map-side-"
            "combinable aggregate; the template render is pure codegen "
            "— no Python, no window, no join anywhere."
        ),
    ),
    "containment_pairs": dict(
        requires=["InMemoryTableScan"],
        forbids=["Python", "CartesianProduct", "Window"],
        note=(
            "Containment pair generation: per-doc distinct gram hashes "
            "materialize row-locally (array_distinct before the "
            "explode), the shingle frame persists once and feeds the "
            "df census + both join branches, and pair enumeration "
            "blocks on the shingle hash with population bounded by "
            "max_df — exchanges carry (doc_id, int64) rows only."
        ),
    ),
    "session_windows": dict(
        requires=["MergingSessions"],
        forbids=["Python", "Window", "SortMergeJoin"],
        note=(
            "Native session-window aggregation: a map-side partial "
            "aggregate, ONE exchange keyed on user_id, then Spark's "
            "MergingSessions operator fuses touching windows in sorted "
            "order — no lag window, no join; the same operator runs "
            "incrementally under Structured Streaming with a watermark "
            "bounding state."
        ),
    ),
    "kg_verbalize": dict(
        requires=["Window"],
        forbids=["Python", "CartesianProduct"],
        note=(
            "KG-to-text verbalization over the materialized canonical "
            "triples: one exchange on the subject key feeds the rank "
            "window; the per-subject collect is trimmed to max_facts "
            "BEFORE collect_list (bounded buffer, hub-safe — same "
            "device as entity_cards)."
        ),
    ),
    "retry_runs": dict(
        requires=["Window"],
        forbids=["Python", "CartesianProduct", "Join"],
        max_tree_exchanges=3,
        note=(
            "Gaps-and-islands retry detection: two conv-partitioned "
            "windows and one aggregate whose grouping keys extend the "
            "second window's partitioning (no extra exchange for it — "
            "the subset rule), NO join anywhere; every exchange is "
            "keyed on conv_id(+tool), bounded by conversation length."
        ),
    ),
    "kg_supergraph": dict(
        requires=["HashAggregate"],
        forbids=["Python", "CartesianProduct", "Window"],
        note=(
            "Community contraction: the LPA label frame arrives "
            "checkpointed (per-round truncation, same device as "
            "pagerank), joins the edge list once per endpoint on the "
            "entity-id key, and collapses through a (pair, pred)-keyed "
            "map-side-combinable aggregate + per-pair arg-min "
            "aggregate — no window, no Python; output is bounded by "
            "the community count."
        ),
    ),
    "kg_node_features": dict(
        requires=["HashAggregate", "Union"],
        forbids=["Python", "CartesianProduct", "Window"],
        note=(
            "One-pass node feature assembly: the two-way edge explode "
            "is a Union of two slim projections reduced by a SINGLE "
            "entity-keyed aggregate (count-distinct expands in-plan, "
            "still one shuffle family) — instead of the naive 6-join "
            "chain that shuffles the edge list once per feature."
        ),
    ),
    "curriculum_schedule": dict(
        requires=["Window", "BroadcastExchange"],
        forbids=["Python", "CartesianProduct", "SortMergeJoin"],
        note=(
            "Two-level exclusive prefix sum on a computed sort key: "
            "the bucket-level offset window orders only slim per-"
            "bucket totals (broadcast back), the per-doc window is "
            "partitioned by (quality, sub-bucket) — bounded by "
            "bucket_size rows; no corpus-sized window partition "
            "anywhere in the plan."
        ),
    ),
    "perplexity_buckets": dict(
        requires=["BroadcastExchange"],
        forbids=["Python", "CartesianProduct"],
        note=(
            "CCNet banding: the exact global NLL rank rides the same "
            "two-level prefix device (per-bucket counts windowed, "
            "offsets + corpus total broadcast); the corpus-sized "
            "frames only ever hash-join slim broadcast dimensions. "
            "The bigram-LM feeder keeps its two-scan shape "
            "(bigram_logprob plan, asserted separately)."
        ),
    ),
    "kg_fact_confidence": dict(
        requires=["HashAggregate"],
        forbids=["Python", "CartesianProduct", "Window"],
        note=(
            "Laplace fact confidence: one fact-keyed aggregate over "
            "the triples (conv-distinct expands in-plan), the "
            "(subj, pred) totals aggregated FROM that fact frame — "
            "strictly smaller, no second corpus pass — and one join "
            "back on the subject-predicate key; the smoothing "
            "division is codegen arithmetic."
        ),
    ),
    "novelty_scores": dict(
        requires=["HashAggregate"],
        forbids=["Python", "CartesianProduct", "Window"],
        note=(
            "Prefix novelty: gram hashes computed and deduped "
            "row-locally before the explode (shuffled rows are slim "
            "(doc_id, int64) pairs; gram strings never leave the "
            "scan), first-occurrence ownership is one map-side-"
            "combinable min(doc_id) on the uniform hash key, then a "
            "hash join + per-doc aggregate."
        ),
    ),
    "conv_summary": dict(
        requires=["Window", "BroadcastExchange"],
        forbids=["Python", "CartesianProduct"],
        note=(
            "Extractive summaries: the turn-frequency census is one "
            "token-keyed map-side-combinable count (per-turn distinct "
            "makes count(*) the df), idf joins back on the uniform "
            "token key with N broadcast, per-token scores floor onto "
            "the micro grid BEFORE the integer per-turn sum, and both "
            "the segment cut and the per-segment arg-max are conv-"
            "bounded windows."
        ),
    ),
    "lm_topk": dict(
        requires=["TakeOrderedAndProject", "InMemoryTableScan"],
        forbids=["Python", "CartesianProduct", "Window", "SortMergeJoin"],
        note=(
            "Dirichlet query likelihood: per-term tf and dl are "
            "row-local higher-order expressions over the persisted "
            "tokenized base (one scan, two consumers), collection "
            "stats collapse to one bounded scalar row, μ·p(t|C) folds "
            "into literals, and the top-k is TakeOrderedAndProject — "
            "no inverted-index shuffle for a bounded query."
        ),
    ),
    "kg_entity_bursts": dict(
        requires=["HashAggregate", "BroadcastExchange"],
        forbids=["Python", "CartesianProduct", "Window"],
        note=(
            "Burst detection: triples join the 3-column-pruned "
            "transcripts on the (conv, turn) key they are already "
            "clustered by, both entity roles union into slim "
            "(entity, day) rows, per-entity totals aggregate FROM the "
            "per-day frame, the corpus day census broadcasts as a "
            "1-row dimension, and the threshold is integer cross-"
            "multiplication — no mean/variance/sqrt, no window."
        ),
    ),
    "kg_motif_census": dict(
        requires=["HashAggregate"],
        forbids=["Python", "CartesianProduct", "Window"],
        note=(
            "Directed triad census: triangles enumerate via the same "
            "degree-oriented wedge closing as triangle_count (wedge "
            "volume O(m^1.5) under any hub skew), the closing join "
            "keeps the third vertex, and the slim per-pair direction-"
            "state frame joins three times on the uniform pair key; "
            "classification is codegen CASE arithmetic into a 7-key "
            "aggregate."
        ),
    ),
    "kg_entity_salience": dict(
        requires=["Window", "BroadcastExchange"],
        forbids=["Python", "CartesianProduct"],
        note=(
            "Assertion-level tf-idf: two-role explode unions into one "
            "pair-keyed count, cf aggregates FROM the tf frame (no "
            "second pass over triples), N joins as a broadcast 1-row "
            "dimension, and the rank window partitions by conv_id — "
            "bounded by a conversation's distinct entities."
        ),
    ),
    "event_funnel": dict(
        requires=["HashAggregate"],
        forbids=["Python", "CartesianProduct", "Window"],
        note=(
            "Ordered funnel: one user-keyed min-aggregate (map-side "
            "combined) + equi-join per step; the step-i frame holds at "
            "most one row per user and shrinks monotonically, so the "
            "deepest funnel is a chain of user-dimension joins — no "
            "per-user event collection, no window."
        ),
    ),
    "event_retention": dict(
        requires=["BroadcastExchange", "HashAggregate"],
        forbids=["Python", "CartesianProduct", "Window"],
        note=(
            "Cohort retention: activity dedups to (user, epoch-day) "
            "FIRST — everything downstream is bounded by users × "
            "active-days, not raw events; cohort sizes ride a "
            "broadcast day-dimension frame onto the active-cell "
            "aggregate."
        ),
    ),
    "gopher_rules": dict(
        requires=[],
        forbids=["Exchange", "Python"],
        note=(
            "Gopher quality rules are one codegen span over the scan "
            "(split + higher-order counts + boolean arithmetic) — "
            "zero shuffles, scales embarrassingly with input splits."
        ),
    ),
    "text_normalize": dict(
        requires=[],
        forbids=["Exchange", "Python"],
        note=(
            "Normalization is a pure regexp_replace chain in one "
            "codegen span — zero shuffles, no Python worker; the "
            "release-scrub shape for a 100-TB pass."
        ),
    ),
    "zipf_fit": dict(
        requires=["TakeOrderedAndProject"],
        forbids=["Python", "CartesianProduct", "SortMergeJoin"],
        note=(
            "Zipf fit: the token histogram is one map-side-combined "
            "aggregate, the top-200 head is TakeOrderedAndProject (no "
            "global sort), and the only unpartitioned window ranks the "
            "200-row head in one tiny task before a single-row fold."
        ),
    ),
    "dup_cluster_stats": dict(
        requires=["HashAggregate"],
        forbids=["CartesianProduct"],
        note=(
            "Duplication profile: two integer aggregates (canonical id "
            "→ cluster size → histogram) over the survivors frame; "
            "everything upstream is the proven blocked-LSH + adaptive-"
            "CC chain (its loop frames localCheckpoint, so this plan "
            "stays shallow), and both new aggregates are bounded by "
            "the cluster dimension."
        ),
    ),
    "dialog_acts": dict(
        requires=[],
        forbids=["Exchange", "Python"],
        note=(
            "Dialog-act rules are row-local CASE + array membership "
            "over one lowercase split — zero shuffles."
        ),
    ),
    "ann_recall_eval": dict(
        requires=["HashAggregate"],
        forbids=["Python"],
        note=(
            "Recall eval: both arms are the production operators "
            "(brute truth over the sampled query set broadcast against "
            "the corpus; IVF via the per-cell equi-join); the overlay "
            "is a slim (query, neighbor) left join and one count "
            "fold — the eval adds no new scale surface."
        ),
    ),
    "heaps_fit": dict(
        requires=["BroadcastExchange"],
        forbids=["Python", "CartesianProduct"],
        note=(
            "Heaps fit: one first-occurrence census (min doc_id per "
            "token) + one per-doc token count, each bucketed to its "
            "smallest containing prefix by integer ceil-division with "
            "the 1-row max-id frame broadcast; the cumulative windows "
            "and the log-log fold ride the 8-row prefix frame."
        ),
    ),
    "kg_subject_completeness": dict(
        requires=["HashAggregate", "BroadcastExchange"],
        forbids=["Python", "CartesianProduct", "Window"],
        note=(
            "Missing-fact work list: census-sized (subject, pred) "
            "distinct + (type, pred) share aggregate tested by integer "
            "cross-multiplication; expected pairs broadcast onto the "
            "subject dimension, anti-join on present facts. Reads the "
            "session-materialized node/edge tables."
        ),
    ),
    "split_leakage": dict(
        requires=[],
        forbids=["Python"],
        note=(
            "Cross-split near-dup pairs: the proven blocked-LSH pair "
            "generator (minhash_lsh_pairs: the one band join) "
            "plus two row-local md5-bucket split columns joined from "
            "the id dimension — no new shuffle surface."
        ),
    ),
    "event_anomaly_days": dict(
        requires=["BroadcastExchange", "HashAggregate"],
        forbids=["Python", "CartesianProduct", "Window"],
        note=(
            "Daily burst days: one (type, day)-keyed count, per-type "
            "totals aggregated FROM the daily frame (bounded by types x "
            "active days) and broadcast back; the rational threshold is "
            "integer cross-multiplication."
        ),
    ),
    "rank_agreement": dict(
        requires=["TakeOrderedAndProject"],
        forbids=["Python"],
        note=(
            "Retrieval rank agreement: both arms end in "
            "TakeOrderedAndProject, so the overlay (rank join, k^2 "
            "pair fold) never sees more than 2k rows; the corpus-sized "
            "work is exactly the two production scorers."
        ),
    ),
    "chunk_dedup": dict(
        requires=["HashAggregate"],
        forbids=["Python", "CartesianProduct", "Window"],
        note=(
            "Passage dedup: the zero-exchange chunk generator feeds a "
            "row-local 60-bit hash, so the one population-count "
            "exchange and the flag join carry (doc_id, idx, int64) — "
            "chunk strings never shuffle."
        ),
    ),
    "oov_rate": dict(
        requires=["HashAggregate"],
        forbids=["Python", "CartesianProduct", "Window"],
        note=(
            "Vocabulary-transfer coverage: one distinct projection of "
            "the source builds the vocab (token dimension), target "
            "tokens left-join it on the uniform token key, and one "
            "group-keyed integer aggregate folds the OOV counters."
        ),
    ),
    "lsh_recall_eval": dict(
        requires=["HashAggregate"],
        forbids=[],
        note=(
            "Banding-recall eval: the ground-truth arm is confined to "
            "the explicit 500-id sample (the standard eval protocol — "
            "truth over a sampled slice, never the corpus) and computes "
            "exact Jaccard via a shingle equi-join (|A∩B| per-pair "
            "count, union by inclusion-exclusion) instead of sample² "
            "array merges; the candidate arm is the unmodified blocked "
            "production operator; the overlay is one slim pair join + "
            "count fold."
        ),
    ),
    "mmr_rerank": dict(
        requires=["FlatMapCoGroupsInPandas"],
        forbids=["CartesianProduct"],
        note=(
            "MMR diversity rerank: the one place iterative per-group "
            "logic earns the Python path — relevance and candidate-"
            "candidate sims are JVM-side rounded cosines (shortlist-"
            "bounded), and the cogrouped Arrow exchange ships two slim "
            "per-query frames to the k-step greedy scan; nothing in "
            "the Python boundary scales with the corpus."
        ),
    ),
    "pmi_collocations": dict(
        requires=["TakeOrderedAndProject", "HashAggregate"],
        forbids=["Python", "CartesianProduct", "Window"],
        note=(
            "PMI collocations: bigrams enumerate row-locally, one "
            "pair-keyed + one token-keyed map-side-combined aggregate, "
            "scalar totals broadcast as 1-row dims, unigram dimension "
            "joins broadcast onto the min-count-filtered bigram fact, "
            "and the top-k is TakeOrderedAndProject."
        ),
    ),
    "session_funnel": dict(
        requires=["HashAggregate", "Window"],
        forbids=["Python", "CartesianProduct"],
        note=(
            "Session funnel: ONE user-keyed window (lag + running sum, "
            "spill-safe ordered state) assigns session ids, then each "
            "step is a (user, session)-keyed min-agg + equi-join with "
            "frames shrinking down the funnel — the q_sessionize device "
            "composed with the funnel_counts chain."
        ),
    ),
    "json_props_stats": dict(
        requires=["HashAggregate"],
        forbids=["Python", "CartesianProduct", "Window"],
        note=(
            "JSON payload stats: get_json_object is a JVM codegen "
            "expression riding the scan tasks (no Python parser), "
            "folded into one map-side-combined integer aggregate."
        ),
    ),
    "event_pivot": dict(
        requires=["HashAggregate"],
        forbids=["Python", "CartesianProduct", "Window"],
        note=(
            "Native pivot with an EXPLICIT value list compiles to ONE "
            "hash aggregate (pivot_first) — no distinct-scan job for "
            "schema inference, no per-type pass; long-to-wide in a "
            "single user-keyed exchange."
        ),
    ),
    "json_payload_mentions": dict(
        requires=["from_json", "Generate"],
        forbids=["Python", "CartesianProduct", "Window"],
        max_tree_exchanges=2,
        note=(
            "from_json over a raw JSON-string column with an EXPLICIT "
            "nested schema (struct/array ner[].index payload): parse + "
            "mention explode are row-local JVM expressions riding the "
            "scan tasks (no Python parser, no inference scan); the "
            "only exchanges are the two-phase distinct-count aggregate "
            "over the tiny per-type key space (cap asserted)."
        ),
    ),
    "event_unpivot": dict(
        requires=["Expand", "HashAggregate"],
        forbids=["Python", "CartesianProduct", "Window"],
        max_tree_exchanges=2,
        note=(
            "Native unpivot (melt) is a row-local Expand over the wide "
            "pivot result — the inverse reshape adds ZERO exchanges of "
            "its own; the 2 asserted exchanges are the upstream pivot's "
            "standard double aggregate ((user,type) pre-count, then the "
            "user-keyed pivot_first), both map-side combined."
        ),
    ),
    "event_daily_trend": dict(
        requires=["Window", "HashAggregate"],
        forbids=["Python", "CartesianProduct"],
        max_tree_exchanges=2,
        note=(
            "Calendar-true 7-day moving average: the corpus-sized work "
            "is ONE map-side-combinable (type, day) aggregate; the "
            "RANGE-frame window and the lag ride the aggregated frame "
            "(bounded by |types| x |days|) behind a single type-keyed "
            "exchange — 2 Exchanges total (cap asserted), neither "
            "carrying raw events into a window sort."
        ),
    ),
    "idle_customers": dict(
        requires=[
            "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual",
            "ReadSchema: struct<o_custkey:bigint,o_orderdate:timestamp_ntz>",
            "LeftAnti",
        ],
        forbids=["Python"],
        note=(
            "TPC-H Q22 churn shape: the NOT EXISTS compiles to a LEFT "
            "ANTI equi-join whose orders side is date-filtered AT THE "
            "SCAN (pushed predicate asserted) and pruned to the join "
            "key + date (ReadSchema asserted); the scalar mean is a "
            "one-row broadcast, and the per-nation aggregate is "
            "map-side combined over <=25 keys."
        ),
    ),
    "order_priority_rollup": dict(
        requires=["Expand", "HashAggregate"],
        forbids=["Python", "CartesianProduct", "Window", "Union"],
        note=(
            "ROLLUP expands the three grouping sets INSIDE one "
            "aggregate (the Expand node) — one scan + one shuffle "
            "where a UNION of three GROUP BYs would scan the fact "
            "three times; sums ride exact DECIMAL."
        ),
    ),
    "kg_transitive_closure": dict(
        requires=["HashAggregate"],
        forbids=["Python", "CartesianProduct", "Window"],
        note=(
            "One closure round (the loop localCheckpoints between "
            "rounds, so the per-round plan is what must scale): the "
            "FRONTIER — not the growing closure — joins the edge list "
            "on an entity-id equi-key, dedups, and anti-joins the "
            "closure on the pair key; every exchange carries 2-3 id "
            "columns."
        ),
    ),
    "kg_pred_algebra": dict(
        requires=["BroadcastHashJoin"],
        forbids=["Python", "CartesianProduct", "Window"],
        note=(
            "Relation-algebra census: the reversed-pair join keys on "
            "the FULL (subj, obj) entity pair — per-key fan-out is the "
            "pred count on that exact pair (schema-bounded), never "
            "entity degree. Everything after it rides the pred "
            "dimension: argmax-inverse is a struct max (no Window, "
            "asserted), the census assembly broadcasts pred-sized "
            "sides (asserted)."
        ),
    ),
    "kg_rule_confidence": dict(
        requires=["HashAggregate"],
        forbids=["Python", "CartesianProduct", "Window"],
        note=(
            "AMIE-style length-2 rules: path enumeration reuses the "
            "paths_2hop wedge cap (midpoints with ind×outd over the cap "
            "are excluded before the join), body support is a "
            "distinct-(a,c) aggregate, the head probe joins on the "
            "(a, c) pair key — schema-bounded multiplicity again. All "
            "aggregates are map-side-combinable counts; no per-key "
            "sort anywhere (asserted)."
        ),
    ),
    "kg_fact_history": dict(
        requires=["Window"],
        forbids=["Python", "CartesianProduct"],
        max_tree_exchanges=4,
        note=(
            "SCD-2 fact timeline: ONE Exchange on (pred, src_entity) "
            "feeds BOTH windows — the change-collapse lag and the "
            "interval lead/version run over the same partitioning, so "
            "the second window adds no exchange (cap asserts 4: the "
            "window exchange + the 3-stage functional-census aggregate "
            "chain, which is pred-dimension-sized and joins back as a "
            "broadcast). A window partition is one fact's assertion "
            "history — bounded by re-assertion rate, not corpus size."
        ),
    ),
    "small_quantity_revenue": dict(
        requires=["BroadcastHashJoin"],
        forbids=["Python", "CartesianProduct", "Window"],
        note=(
            "TPC-H Q17 shape: the per-part mean is a self-aggregate "
            "joined back on l_partkey — the same key both sides, so the "
            "probe co-locates with the build (AQE broadcasts it at toy "
            "scale, shuffle-joins co-partitioned at 100 TB); the part "
            "dim is an explicit broadcast (asserted); the final "
            "aggregate rides the tiny brand dimension."
        ),
    ),
    "event_cube": dict(
        requires=["Expand"],
        forbids=["Python", "CartesianProduct", "Window"],
        max_tree_exchanges=1,
        note=(
            "Native CUBE: one Expand (asserted) feeding ONE hash "
            "aggregate with map-side partial combine — all four "
            "marginal groupings in a single shuffle (cap asserted at "
            "1), not a UNION of four scans."
        ),
    ),
    "shipping_priority": dict(
        requires=["TakeOrderedAndProject", "GreaterThan(l_shipdate"],
        forbids=["Python", "CartesianProduct", "Window"],
        max_tree_exchanges=1,
        note=(
            "TPC-H Q3 shape: both date predicates push to their scans "
            "(asserted on the lineitem side), the aggregate reuses the "
            "join's l_orderkey hash partitioning (cap: 1 Exchange), and "
            "the top-10 is TakeOrderedAndProject (asserted) — per-"
            "partition heaps merged on the driver, never a global sort."
        ),
    ),
    "late_shipment_priority": dict(
        requires=["LeftSemi", "GreaterThanOrEqual(o_orderdate"],
        forbids=["Python", "CartesianProduct", "Window"],
        max_tree_exchanges=1,
        note=(
            "TPC-H Q4 shape: the correlated EXISTS compiles to ONE "
            "LeftSemi hash join (asserted) with the +90-day comparison "
            "as the join residual — each order emitted at most once, no "
            "distinct pass, no re-scan per row. The quarter filter is "
            "scan-pushed (asserted); the priority count is the only "
            "Exchange."
        ),
    ),
    "discount_band_revenue": dict(
        requires=["GreaterThanOrEqual(l_shipdate", "GreaterThanOrEqual(l_discount", "LessThan(l_quantity"],
        forbids=["Python", "CartesianProduct", "Window", "Join"],
        max_tree_exchanges=1,
        note=(
            "TPC-H Q6 shape — the canonical pushdown probe: every one "
            "of the five predicates reaches PushedFilters (date, "
            "discount band, quantity all asserted), no join, no window, "
            "and the only Exchange carries ONE partial-aggregate row "
            "per task to the single final row."
        ),
    ),
    "monthly_record_orders": dict(
        requires=["BroadcastHashJoin"],
        forbids=["Python", "CartesianProduct", "Window"],
        max_tree_exchanges=1,
        note=(
            "ALL-subquery decorrelation: 'price > ALL(previous month)' "
            "runs as one calendar-month aggregate (the only Exchange — "
            "output is month-dimension-sized) broadcast back onto the "
            "fact (asserted BroadcastHashJoin) with row-local month "
            "arithmetic. No correlated re-scan, no window, no sort."
        ),
    ),
    "pareto_orders": dict(
        requires=["Scan ExistingRDD", "BroadcastHashJoin"],
        forbids=["Python", "CartesianProduct", "SortMergeJoin"],
        note=(
            "2-D skyline via the two-level prefix-max device: the "
            "level-1 (bucket, price) aggregate is localCheckpointed "
            "(asserted Scan ExistingRDD) so both window branches read "
            "the materialized aggregate — the fact table is scanned "
            "once into the aggregate and once for the survivor join, "
            "never three times. The suffix-max window rides the bounded "
            "256-bucket dimension; the in-bucket window is partitioned "
            "by bucket. Nothing quadratic, no sort-merge of fact rows."
        ),
    ),
    "event_attribution": dict(
        requires=["LeftOuter", "EqualTo(event_type,purchase)", "EqualTo(event_type,click)"],
        forbids=["CartesianProduct", "Python", "Window", "BroadcastNestedLoopJoin"],
        max_tree_exchanges=1,
        note=(
            "Time-band attribution: the 4-hour window join keeps its "
            "user_id EQUI component (asserted: a hash join, never "
            "BroadcastNestedLoopJoin) with the band as residual filter; "
            "both event_type filters push to the scans. One exchange "
            "for the per-purchase aggregate; hot users are ordinary "
            "equi-join skew, AQE-splittable."
        ),
    ),
    "build_mentions": dict(
        requires=["MapInPandas"],
        forbids=[],
        tree_exchanges=1,
        note=(
            "The flagship tag+extract stage (build_mentions): Scan → ONE "
            "range Exchange (the deterministic (conv_id, turn_idx) "
            "co-location) → a SINGLE fused MapInPandas running batched "
            "forward+Viterbi AND span extraction — one Python boundary, "
            "no other shuffle (asserted: exactly 1 Exchange). The plan "
            "is identical at any parallelism; only the partition count "
            "changes."
        ),
    ),
    "extract_relations": dict(
        requires=[],
        forbids=[],
        tree_exchanges=1,
        note=(
            "Open relation extraction over build_mentions: ordered "
            "mention pairs are generated ROW-LOCALLY with nested "
            "higher-order functions over the per-turn mention array — "
            "the only Exchange in the whole relations plan is the "
            "upstream range repartition (asserted: exactly 1). The "
            "naive formulation (explode + self-join on (conv_id, "
            "turn_idx)) would add two full-table shuffles."
        ),
    ),
}


def main() -> None:
    argv = sys.argv[1:]
    names = list(CHECKS)
    if "--only" in argv:
        i = argv.index("--only")
        names = argv[i + 1].split(",")
        argv = argv[:i] + argv[i + 2 :]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"

    spark = get_spark(app_name="explain_plans")
    failed = []
    for name in names:
        plan = formatted(build(spark, name, sf_dir))
        bad = violations(name, plan)
        print(f"## {name} {'FAIL' if bad else 'ok'}\n\n{CHECKS[name]['note']}\n")
        for v in bad:
            print(f"- {v}")
        print(f"\n{plan.strip()}\n")
        if bad:
            failed.append(name)
    print(f"{len(names)} plans checked; {len(failed)} failed: {failed}")
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()

"""Incremental KG maintenance — delta merge without re-tagging history.

Production reality at 10^12 turns: the corpus is append-only (new
conversations arrive; old ones never change), and ~99% of pipeline cost
is the Python/NN tagging+extraction stage. A nightly full rebuild would
re-tag a year of history to absorb a day of input. This module updates
the canonical KG from a **delta** (newly tagged conversations only) and
is proven — by the driver's oracle gate and by pytest — to produce
*bit-identical* node/edge tables to a from-scratch batch build.

State carried between runs (exactly what the batch pipeline already
materializes via the manifest protocol; all aggregates, never raw turns):

* ``surfaces`` — per-surface node dimension
  ``(entity_type, norm, node_id, mention_count, canonical_surface)``;
* ``assignment`` — ``(node_id, component)`` canonical map;
* ``relations`` — the distinct per-turn relation fact table (append-only).

Why each piece of the merge is exact:

* **surfaces** merge algebraically: ``mention_nodes`` is a
  (sum-count, min-surface) aggregate, so old ⊎ delta re-aggregates to
  the batch answer (count→sum, min→min are associative).
* **linking** only depends on ``norm`` — a returning surface (same
  ``node_id``, more mentions) has unchanged link behavior. Only pairs
  touching a genuinely NEW node can add edges, so the band self-join is
  restricted to (new × all): old-old pairs above threshold are already
  inside old components, old-old pairs below threshold stay absent in
  both builds. Signatures/bands are row-local (zero shuffle), so
  re-deriving them over the (small) merged surface dimension costs one
  narrow pass, while the expensive per-turn work runs on the delta only.
* **connectivity** is preserved by replaying the old ``assignment`` as
  star edges ``node_id → component`` — union-find over a component's
  star is union-find over its original edge set. CC over
  (stars ∪ new-touching link edges) therefore has batch connectivity,
  and the min-id label over equal connectivity is equal.
* **edge weights** (``n_turns`` = distinct turns asserting the canonical
  edge) are re-aggregated from the relations FACT table, not summed from
  old edge aggregates: when a delta merges two old entities, a turn that
  asserted relations to both old endpoints was counted in two old edges
  but must count ONCE in the merged edge — information no aggregate
  retains. Facts append, aggregates re-derive: the relations table is
  ≪ turns (distinct per turn, JVM-side re-agg), so this keeps the
  incremental path exact without touching the tagging stage.

Scale notes: every join here keys on node_id / norm-key
(high-cardinality); star edges add ≤1 row per non-canonical node; the
delta band join is the codebase's one MinHash-LSH band join
(``linking.scored_candidate_pairs``, which batch linking and the dedup
near-dup generators also run) with only the new nodes marked ``new``,
so it keeps the batch path's score-then-dedup slim-exchange ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ner_spark.operators.components import connected_components
from ner_spark.operators.linking import (
    mention_nodes,
    scored_candidate_pairs,
    with_signatures,
)


def merge_surfaces(old: DataFrame, delta: DataFrame) -> DataFrame:
    """Algebraic merge of two per-surface aggregates (same schema as
    ``linking.mention_nodes`` output)."""
    cols = [
        "entity_type",
        "norm",
        "mention_count",
        "canonical_surface",
    ]
    return (
        old.select(*cols)
        .unionByName(delta.select(*cols))
        .groupBy("entity_type", "norm")
        .agg(
            F.sum("mention_count").alias("mention_count"),
            F.min("canonical_surface").alias("canonical_surface"),
        )
        .withColumn(
            "node_id", F.concat_ws("|", F.col("entity_type"), F.col("norm"))
        )
    )


def delta_link_edges(
    merged_surfaces: DataFrame, old_assignment: DataFrame
) -> DataFrame:
    """Link edges that can change connectivity: pairs where at least one
    endpoint is NEW (absent from ``old_assignment``) — the batch band
    join with only those nodes marked ``new``, so the new side is the
    delta's surface dimension (tiny vs the corpus) and the all side
    streams per band.
    """
    is_new = (
        merged_surfaces.select("node_id")
        .join(old_assignment.select("node_id"), "node_id", "left_anti")
        .withColumn("new", F.lit(True))
    )
    sigs = (
        with_signatures(merged_surfaces)
        .join(is_new, "node_id", "left")
        .withColumn("new", F.coalesce("new", F.lit(False)))
    )
    return scored_candidate_pairs(sigs)


def incremental_assignment(
    merged_surfaces: DataFrame,
    old_assignment: DataFrame,
    new_edges: DataFrame,
) -> DataFrame:
    """(node_id, component) over old ∪ delta: CC of the old assignment
    replayed as star edges, unioned with the delta's link edges."""
    stars = old_assignment.where(
        F.col("node_id") != F.col("component")
    ).select(
        F.col("node_id").alias("node_a"), F.col("component").alias("node_b")
    )
    cc_edges = new_edges.select("node_a", "node_b").unionByName(stars)
    return connected_components(
        merged_surfaces,
        cc_edges,
        id_col="node_id",
        src_col="node_a",
        dst_col="node_b",
    )


def incremental_update(
    old_surfaces: DataFrame,
    old_assignment: DataFrame,
    old_relations: DataFrame,
    delta_mentions_exploded: DataFrame,
    delta_relations: DataFrame,
) -> dict[str, DataFrame]:
    """Merge one delta into the KG state; returns the new state.

    Delta invariant (the production contract): delta conversations are
    disjoint from history — transcripts are append-only, so
    ``delta_relations`` shares no (conv_id, turn_idx) with
    ``old_relations``.

    Returns ``{surfaces, assignment, relations}`` — the next run's
    state. The canonical tables over it (``pipeline.kg_tail``) are
    bit-identical to a batch build over history ∪ delta.
    """
    delta_surfaces = mention_nodes(delta_mentions_exploded)
    surfaces = merge_surfaces(old_surfaces, delta_surfaces).localCheckpoint(
        eager=True
    )
    new_edges = delta_link_edges(surfaces, old_assignment)
    assignment = incremental_assignment(surfaces, old_assignment, new_edges)
    # duplicates preserved — the batch pipeline's relations stage keeps
    # per-turn list semantics; consumers (materialize_edges,
    # canonicalize_triples) dedup internally where their spec requires it
    relations = old_relations.unionByName(delta_relations)
    return {"surfaces": surfaces, "assignment": assignment, "relations": relations}

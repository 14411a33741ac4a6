"""End-to-end KG-construction pipeline (SURVEY §3 "Lifecycle").

transcripts → [ingest] repartitionByRange(conv_id, turn_idx)
           → [tag]     mapInPandas forward + batched NumPy Viterbi (EP3)
           → [extract] BIO span UDF → mentions
           → [triples] per-turn deduped (pred, obj) pairs, turn-anchored
           → [relate]  typed co-occurrence relations (M2)
           → [link]    normalize + MinHash-LSH + Jaccard scorer (M3)
           → [cc]      large-star/small-star canonical ids (M4)
           → [graph]   nodes / edges / canonical triples materialized

``kg_stages`` is the only place this stage graph is written. It takes a
materializer ``stage(name, compute) -> DataFrame``: ``compute()`` builds
stage ``name`` lazily from the frames earlier ``stage`` calls returned,
and ``stage`` returns the frame the later stages read — it may skip
``compute`` when the stage is already materialized. ``run_pipeline``
passes the manifest protocol (M5), which publishes every stage so a
rerun resumes from the last complete stage; the entry queries pass an
eager ``localCheckpoint``. ``run_incremental`` merges a delta into a
published run and shares the graph's tail (``kg_tail``).

Skew story (north_star): the hot conv_id (fixture: ~30% of all turns) is
split across range partitions because the range key includes turn_idx —
per-conversation order survives within each range slice, and no stage
groups by conv_id alone (relate groups by (conv_id, turn_idx); linking
groups by surface-derived keys), so no single task inherits the whole hot
conversation (tests/test_pipeline_e2e.py asserts it on the published
mentions files).
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ner_spark.operators.components import canonicalize_triples, connected_components
from ner_spark.operators.extraction import mentions_to_triples
from ner_spark.operators.graph import (
    materialize_edges,
    materialize_nodes,
    release_checkpoint,
)
from ner_spark.operators.linking import link_edges
from ner_spark.operators.manifest import manifest_rows, run_stage
from ner_spark.operators.relate import explode_mentions, extract_relations
from ner_spark.operators.tagging import tag_and_extract

# stage(name, compute) -> the materialized frame of stage ``name``
Stage = Callable[[str, Callable[[], DataFrame]], DataFrame]


@dataclass
class PipelineConfig:
    out_dir: str
    run_id: str = "run-0"
    resume: bool = True


STAGES = (
    "mentions",
    "triples",
    "relations",
    "surface_nodes",
    "link_edges",
    "assignment",
    "nodes",
    "edges",
    "canonical_triples",
)


def ingest(transcripts: DataFrame) -> DataFrame:
    """Range-repartition on (conv_id, turn_idx): deterministic co-location
    of conversation slices without serializing hot conversations.

    The partition count is 2× the core count, NOT 1×: one-task-per-
    core runs the whole stage as a single wave, so any straggler task
    (skewed range, page-cache miss, one slow core) extends the stage by
    its full overhang — measured as ±15% wall-time noise on the scaling
    bench. Two waves of half-size tasks let the scheduler absorb
    stragglers at negligible per-task overhead (4× was measured stabler
    still but ~15% slower from task fan-out costs — BENCH.md); the range
    co-location property is unchanged (just more ranges)."""
    n = transcripts.sparkSession.sparkContext.defaultParallelism * 2
    return transcripts.repartitionByRange(n, "conv_id", "turn_idx")


def build_mentions(transcripts: DataFrame) -> DataFrame:
    # prune to the carried columns BEFORE the mapInPandas boundary:
    # Catalyst cannot push column pruning through an opaque Python stage,
    # and every extra column (tool, ts) would round-trip through Arrow
    # serialization for nothing. tag+extract run FUSED in one Python
    # stage (operators/tagging.py:tag_and_extract) — half the Arrow
    # traffic of a separate tagging and extraction stage.
    slim = transcripts.select("conv_id", "turn_idx", "role", "text")
    return tag_and_extract(ingest(slim)).select(
        "conv_id", "turn_idx", "role", "text", "tags", "mentions"
    )


def kg_stages(transcripts: DataFrame, stage: Stage) -> dict[str, DataFrame]:
    """The batch KG stage graph over ``transcripts``: the nine ``STAGES``
    in order, each materialized by ``stage(name, compute)``. Returns the
    materialized frames keyed by stage name. A materialized frame must
    not read its compute's lineage: the linking frames are released once
    both linking stages are materialized."""
    out: dict[str, DataFrame] = {}
    mentions = out["mentions"] = stage(
        "mentions", lambda: build_mentions(transcripts)
    )
    out["triples"] = stage("triples", lambda: mentions_to_triples(mentions))
    relations = out["relations"] = stage(
        "relations", lambda: extract_relations(mentions)
    )
    # link_edges() eagerly localCheckpoints the node dimension, so run it
    # on the first compute only: a materializer that skips both linking
    # stages (a resumed run) never pays the linking job.
    links = functools.cache(lambda: link_edges(explode_mentions(mentions)))
    surfaces = out["surface_nodes"] = stage("surface_nodes", lambda: links()[0])
    edges = out["link_edges"] = stage("link_edges", lambda: links()[1])
    # no later stage reads the linking frames: drop the node checkpoint
    # and the band frame persisted over it
    if links.cache_info().currsize:
        release_checkpoint(links()[0])
    assignment = out["assignment"] = stage(
        "assignment",
        lambda: connected_components(
            surfaces, edges, id_col="node_id", src_col="node_a", dst_col="node_b"
        ),
    )
    out.update(kg_tail(surfaces, assignment, relations, stage))
    return out


def kg_tail(
    surfaces: DataFrame, assignment: DataFrame, relations: DataFrame, stage: Stage
) -> dict[str, DataFrame]:
    """The ``nodes``, ``edges`` and ``canonical_triples`` stages over a
    surface dimension, its canonical assignment and the relations fact
    table — shared by the batch graph and the incremental merge."""
    return {
        "nodes": stage("nodes", lambda: materialize_nodes(surfaces, assignment)),
        "edges": stage("edges", lambda: materialize_edges(relations, assignment)),
        "canonical_triples": stage(
            "canonical_triples",
            lambda: canonicalize_triples(relations, assignment, surfaces),
        ),
    }


def _manifest_stage(
    spark: SparkSession, cfg: PipelineConfig, fingerprint: str, manifest: list
) -> Stage:
    """The manifest materializer: publish each stage under ``cfg.run_id``,
    resuming a stage whose row in the run's ``manifest`` snapshot is
    complete under ``fingerprint``."""
    return lambda name, compute: run_stage(
        spark, cfg.out_dir, cfg.run_id, name, compute,
        resume=cfg.resume, fingerprint=fingerprint, manifest=manifest,
    )


def run_pipeline(
    spark: SparkSession, transcripts: DataFrame, cfg: PipelineConfig
) -> dict[str, DataFrame]:
    """Run ``kg_stages`` under the manifest/resume protocol; returns the
    published DataFrames keyed by stage name. Every stage's manifest row
    is fingerprinted with the active weights-artifact version, so a
    model upgrade (new artifact) invalidates resumes of the whole run."""
    from ner_spark.model.artifact import active_weights_version

    # every tagging task checks that its worker resolves this same
    # version (either way round: driver sees an artifact the executors
    # lack, OR spark.executorEnv points executors at an artifact the
    # driver never resolved), so the mentions stage fails before any
    # data is published under the wrong fingerprint
    fp = active_weights_version()
    # one manifest snapshot decides every stage's resume (single writer
    # per run_id: publishing one stage leaves the others' rows alone)
    manifest = manifest_rows(spark, cfg.out_dir, [cfg.run_id]) if cfg.resume else []
    return kg_stages(transcripts, _manifest_stage(spark, cfg, fp, manifest))


def run_incremental(
    spark: SparkSession,
    delta_transcripts: DataFrame,
    cfg: PipelineConfig,
    base_run_id: str,
) -> dict[str, DataFrame]:
    """Merge a delta of NEW conversations into a prior run's published
    KG state, producing a full new run (same stage layout as
    ``run_pipeline``) that the next delta chains from — without
    re-tagging history (operators/incremental.py has the exactness
    argument; tests prove bit-identity with a batch rebuild).

    Carried state is read from ``base_run_id``'s published
    ``surface_nodes`` / ``assignment`` / ``relations`` stages, and the
    base stages must be complete under the SAME weights fingerprint as
    this session resolves: a model upgrade between base and delta would
    otherwise silently merge two models' extractions into one KG — the
    fingerprint gate turns that into a loud error (re-run the base with
    the new artifact instead). Every tagging task of the delta checks
    that its worker resolves that same version.

    Stage semantics under the new ``cfg.run_id``: ``mentions`` and
    ``triples`` are DELTA-scoped (this run's expensive tagging output;
    the corpus-wide view is their union across the chain), while
    ``relations``/``surface_nodes``/``assignment``/``nodes``/``edges``/
    ``canonical_triples`` are corpus-cumulative — exactly what the next
    ``run_incremental`` consumes. ``link_edges`` is not published: the
    incremental path only scores pairs touching new nodes (old
    connectivity arrives via the assignment's star edges), so there is
    no corpus-cumulative link-edge table to publish — connectivity lives
    in ``assignment``.
    """
    from ner_spark.model.artifact import active_weights_version
    from ner_spark.operators.incremental import incremental_update
    from ner_spark.operators.manifest import stage_complete_in, stage_data_path

    fp = active_weights_version()
    # one snapshot for the base's checks and this run's resume
    manifest = manifest_rows(spark, cfg.out_dir, {base_run_id, cfg.run_id})

    def _base(name: str) -> DataFrame:
        if not stage_complete_in(spark, manifest, cfg.out_dir, base_run_id, name, fp):
            raise RuntimeError(
                f"base run '{base_run_id}' stage '{name}' is not complete "
                f"under weights fingerprint '{fp}' — the base must be a "
                "finished run of the SAME model artifact (re-run it after "
                "a model upgrade; incremental merge across model versions "
                "would mix extractions)"
            )
        return spark.read.parquet(
            stage_data_path(cfg.out_dir, base_run_id, name)
        )

    old_surfaces = _base("surface_nodes")
    old_assignment = _base("assignment")
    old_relations = _base("relations")

    stage = _manifest_stage(spark, cfg, fp, manifest)
    out: dict[str, DataFrame] = {}
    mentions = out["mentions"] = stage(
        "mentions", lambda: build_mentions(delta_transcripts)
    )
    out["triples"] = stage("triples", lambda: mentions_to_triples(mentions))
    # incremental_update eagerly localCheckpoints the merged surface
    # dimension: run it on the first compute only, as kg_stages does
    # with linking.
    inc = functools.cache(
        lambda: incremental_update(
            old_surfaces,
            old_assignment,
            old_relations,
            explode_mentions(mentions),
            extract_relations(mentions),
        )
    )
    relations = out["relations"] = stage("relations", lambda: inc()["relations"])
    surfaces = out["surface_nodes"] = stage("surface_nodes", lambda: inc()["surfaces"])
    assignment = out["assignment"] = stage("assignment", lambda: inc()["assignment"])
    # the tail reads the published stages: drop the merged surface
    # checkpoint and the band frame persisted over it
    if inc.cache_info().currsize:
        release_checkpoint(inc()["surfaces"])
    out.update(kg_tail(surfaces, assignment, relations, stage))
    return out

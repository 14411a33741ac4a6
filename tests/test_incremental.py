"""Incremental KG maintenance (operators/incremental.py): merging a
delta of newly tagged conversations into carried state must reproduce
the batch build over history ∪ delta bit-for-bit."""

from pyspark.sql import functions as F

from ner_spark.fixtures.build import build_fixtures
from ner_spark.operators.components import connected_components
from ner_spark.operators.incremental import delta_link_edges, incremental_update
from ner_spark.operators.linking import link_edges, mention_nodes
from ner_spark.operators.relate import explode_mentions, extract_relations
from ner_spark.pipeline import build_mentions, kg_tail


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _with_tail(state):
    """Carried state plus the canonical tables the pipeline derives from
    it (``pipeline.kg_tail``, unmaterialized)."""
    tail = kg_tail(
        state["surfaces"],
        state["assignment"],
        state["relations"],
        lambda name, compute: compute(),
    )
    return {**state, **tail}


def _batch_state(m):
    """Batch-build the carried state + canonical tables from a mention
    frame — the chain of ``pipeline.kg_stages`` after tagging."""
    ex = explode_mentions(m)
    nodes, edges = link_edges(ex)
    a = connected_components(
        nodes, edges, id_col="node_id", src_col="node_a", dst_col="node_b"
    )
    rel = extract_relations(m).distinct()
    return _with_tail({"surfaces": nodes, "assignment": a, "relations": rel})


def test_incremental_matches_batch(spark):
    fx = build_fixtures("sf0.001")
    t = spark.read.parquet(f"{fx}/transcripts.parquet")
    m = build_mentions(t).cache()
    half_a = m.where(F.crc32("conv_id") % 2 == 0)
    half_b = m.where(F.crc32("conv_id") % 2 == 1)
    # both halves must be non-trivial or the test proves nothing
    assert half_a.count() > 0 and half_b.count() > 0

    state = _batch_state(half_a)
    inc = _with_tail(incremental_update(
        state["surfaces"],
        state["assignment"],
        state["relations"],
        explode_mentions(half_b),
        extract_relations(half_b).distinct(),
    ))
    full = _batch_state(m)

    assert _rows(inc["assignment"]) == _rows(full["assignment"])
    assert _rows(inc["nodes"]) == _rows(full["nodes"])
    assert _rows(inc["edges"]) == _rows(full["edges"])
    # carried state re-feeds the next delta: surfaces must also match
    assert _rows(
        inc["surfaces"].select(
            "entity_type", "norm", "node_id", "mention_count",
            "canonical_surface",
        )
    ) == _rows(
        full["surfaces"].select(
            "entity_type", "norm", "node_id", "mention_count",
            "canonical_surface",
        )
    )
    m.unpersist()


def test_delta_link_edges_equals_batch_edges_touching_new(spark):
    """The delta band join is the batch one with only new nodes probing:
    over the fixture's surface nodes split old/new by crc32 parity, it
    gives exactly the batch link edges with at least one new endpoint,
    each pair once."""
    fx = build_fixtures("sf0.001")
    ex = spark.read.parquet(f"{fx}/reference_mentions.parquet").select(
        F.col("pred").alias("mtype"), F.col("obj").alias("mtext")
    )
    nodes, edges = link_edges(ex)
    is_old = F.crc32("node_id") % 2 == 0
    old_assignment = nodes.where(is_old).select(
        "node_id", F.col("node_id").alias("component")
    )
    old = {r.node_id for r in old_assignment.collect()}
    got = [tuple(r) for r in delta_link_edges(nodes, old_assignment).collect()]
    batch = [tuple(r) for r in edges.collect()]
    want = sorted(e for e in batch if e[0] not in old or e[1] not in old)
    assert len({(a, b) for a, b, _ in got}) == len(got)
    assert sorted(got) == want
    # the split is non-trivial: some batch edges are old-old, some new-new
    assert len(want) < len(batch)
    assert any(a not in old and b not in old for a, b, _ in want)


def test_incremental_empty_delta_is_identity(spark):
    fx = build_fixtures("sf0.001")
    t = spark.read.parquet(f"{fx}/transcripts.parquet")
    m = build_mentions(t).where(F.crc32("conv_id") % 4 == 0).cache()
    state = _batch_state(m)
    empty = m.where(F.lit(False))
    inc = _with_tail(incremental_update(
        state["surfaces"],
        state["assignment"],
        state["relations"],
        explode_mentions(empty),
        extract_relations(empty).distinct(),
    ))
    assert _rows(inc["nodes"]) == _rows(state["nodes"])
    assert _rows(inc["edges"]) == _rows(state["edges"])
    assert _rows(inc["assignment"]) == _rows(state["assignment"])
    m.unpersist()


def test_delta_merging_two_old_entities(spark):
    """The hard case: a delta surface bridges two previously separate
    components, and a history turn asserted relations to BOTH old
    endpoints — n_turns must count that turn once in the merged edge
    (fact re-aggregation), not twice (aggregate summing)."""
    mention = (
        "conv_id string, turn_idx int, "
        "mentions array<struct<pred:string,obj:string,"
        "span_start:int,span_end:int>>"
    )

    def mk(rows):
        return spark.createDataFrame(rows, mention)

    # history: turn h0 mentions two brand surfaces whose shingle overlap
    # (J = 4/8 = 0.5) sits below JACCARD_THRESHOLD=0.55 — each forms its
    # own component — plus a product both relate to.
    hist = mk(
        [
            (
                "conv-h",
                0,
                [
                    ("brand", "abcdefgh", 0, 8),
                    ("brand", "cdefghij", 10, 18),
                    ("product", "widget", 20, 26),
                ],
            )
        ]
    )
    # delta: the shifted window "bcdefghi" overlaps BOTH old brands at
    # J = 5/7 ≈ 0.714 ≥ threshold — its link edges merge the two old
    # components into one entity.
    delta = mk([("conv-d", 0, [("brand", "bcdefghi", 0, 8)])])

    state = _batch_state(hist)
    # precondition: the two old brands really are separate components
    assert (
        state["assignment"]
        .where(F.col("node_id").startswith("brand|"))
        .select("component")
        .distinct()
        .count()
        == 2
    )
    inc = _with_tail(incremental_update(
        state["surfaces"],
        state["assignment"],
        state["relations"],
        explode_mentions(delta),
        extract_relations(delta).distinct(),
    ))
    full = _batch_state(mk([r for df in (hist, delta) for r in df.collect()]))
    assert _rows(inc["assignment"]) == _rows(full["assignment"])
    assert _rows(inc["edges"]) == _rows(full["edges"])
    # the merged brand→product edge counts turn h0 exactly once
    merged = {
        (r["src_entity"], r["pred"], r["dst_entity"]): r["n_turns"]
        for r in inc["edges"].collect()
    }
    brand_edges = {k: v for k, v in merged.items() if "brand|" in k[0]}
    assert brand_edges and all(v == 1 for v in brand_edges.values())


def test_run_incremental_pipeline_matches_batch(spark, tmp_path):
    """The spark-submit surface: batch run over history, incremental run
    over the delta, full batch run over everything — incremental
    published tables must equal the full batch's."""
    from ner_spark.pipeline import PipelineConfig, run_incremental, run_pipeline

    fx = build_fixtures("sf0.001")
    t = spark.read.parquet(f"{fx}/transcripts.parquet")
    hist = t.where(F.crc32("conv_id") % 2 == 0)
    delta = t.where(F.crc32("conv_id") % 2 == 1)

    out = str(tmp_path / "kg")
    run_pipeline(spark, hist, PipelineConfig(out_dir=out, run_id="base"))
    inc = run_incremental(
        spark, delta, PipelineConfig(out_dir=out, run_id="day1"),
        base_run_id="base",
    )
    full = run_pipeline(
        spark, t, PipelineConfig(out_dir=str(tmp_path / "kg_full"), run_id="full")
    )
    for stage in ("assignment", "nodes", "edges", "canonical_triples"):
        assert _rows(inc[stage]) == _rows(full[stage]), stage
    # delta-scoped stages carry only the delta's conversations
    assert _rows(inc["triples"]) == _rows(
        full["triples"].join(
            delta.select("conv_id").distinct(), "conv_id", "left_semi"
        )
    )

    # chaining: day1's published state feeds day2 (an empty delta) and
    # the cumulative tables ride through unchanged
    day2 = run_incremental(
        spark, t.where(F.lit(False)),
        PipelineConfig(out_dir=out, run_id="day2"), base_run_id="day1",
    )
    assert _rows(day2["edges"]) == _rows(full["edges"])


def test_run_incremental_rejects_fingerprint_mismatch(spark, tmp_path):
    """A base run published under a different weights fingerprint must
    refuse to merge — silently mixing two models' extractions is the
    failure mode the gate exists for."""
    import pytest as _pytest

    from ner_spark.operators.manifest import publish_stage
    from ner_spark.pipeline import PipelineConfig, run_incremental

    fx = build_fixtures("sf0.001")
    t = spark.read.parquet(f"{fx}/transcripts.parquet")
    out = str(tmp_path / "kg")
    # forge a 'base' whose stages were published under another model
    for stage in ("surface_nodes", "assignment", "relations"):
        publish_stage(
            t.limit(1), out, "base", stage, fingerprint="other-model-v9"
        )
    with _pytest.raises(RuntimeError, match="fingerprint"):
        run_incremental(
            spark, t.limit(0),
            PipelineConfig(out_dir=out, run_id="day1"), base_run_id="base",
        )

"""Graph materialization: canonical node / edge tables (north_star
"materializing node/edge Iceberg tables").

Oracle spec: ner_spark/fixtures/build.py writes ``nodes.parquet`` /
``edges.parquet`` from the union-find canonical map; this module is the
distributed equivalent over the pipeline's DataFrames.

Schemas:
* nodes: (entity_id, entity_type, canonical_name, n_surfaces, n_mentions)
  — entity_id is the component minimum node_id (deterministic under any
  partitioning), n_surfaces = distinct member surfaces, n_mentions = total
  mention occurrences absorbed by the entity.
* edges: (src_entity, pred, dst_entity, n_turns) — relation rows (distinct
  per turn) rewritten to canonical endpoints and counted.

All joins key on node_id / norm-key (high-cardinality, near-unique) and
the component map is tiny relative to mentions — broadcastable below
``spark.sql.autoBroadcastJoinThreshold``, AQE otherwise.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ner_spark.operators.linking import normalize_surface_col


def _split_type(col):
    return F.substring_index(col, "|", 1)


def _split_name(col):
    return F.regexp_replace(col, r"^[^|]*\|", "")


def materialize_nodes(nodes: DataFrame, assignment: DataFrame) -> DataFrame:
    """nodes (per-surface) × assignment (node_id→component) → entity table."""
    n = nodes.join(assignment, "node_id")
    return (
        n.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_surfaces"),
            F.sum("mention_count").alias("n_mentions"),
        )
        .select(
            F.col("component").alias("entity_id"),
            _split_type(F.col("component")).alias("entity_type"),
            _split_name(F.col("component")).alias("canonical_name"),
            "n_surfaces",
            "n_mentions",
        )
    )


def materialize_edges(relations: DataFrame, assignment: DataFrame) -> DataFrame:
    """Distinct relation rows rewritten to canonical endpoints; weight =
    the number of DISTINCT TURNS asserting the canonical edge. Two
    surface variants in the same turn ('Acme'/'ACME Inc') canonicalize to
    one edge and must count that turn once — a raw row count would
    inflate the weight."""
    rel = relations.distinct()
    t = rel.withColumn(
        "subj_key",
        F.concat_ws("|", F.col("subj_type"), normalize_surface_col(F.col("subj"))),
    ).withColumn(
        "obj_key",
        F.concat_ws("|", F.col("obj_type"), normalize_surface_col(F.col("obj"))),
    )
    amap = assignment.select(
        F.col("node_id").alias("subj_key"), F.col("component").alias("src_entity")
    )
    bmap = assignment.select(
        F.col("node_id").alias("obj_key"), F.col("component").alias("dst_entity")
    )
    return (
        t.join(amap, "subj_key")
        .join(bmap, "obj_key")
        .groupBy("src_entity", F.col("pred"), "dst_entity")
        .agg(F.countDistinct("conv_id", "turn_idx").alias("n_turns"))
    )


# --------------------------------------------------------------------------
# Graph analytics over the materialized KG (degree profile, PageRank)
# --------------------------------------------------------------------------

def degree_stats(edges: DataFrame) -> DataFrame:
    """Per-entity degree profile of the canonical edge table:
    (entity_id, out_deg, in_deg, w_out, w_in) where w_* sum the
    ``n_turns`` edge weights.

    Plan: both endpoint roles are unioned into one slim
    (entity_id, out, w_out, in, w_in) stream and reduced by a single
    hash aggregate — one shuffle over 2|E| rows with map-side partial
    aggregation, no join. At 10^12 edges this is the minimal-movement
    plan: the only exchange is keyed on entity_id (high-cardinality,
    skew bounded by the hottest entity's degree, which AQE skew-split
    handles on the agg's sort-based fallback).
    """
    one, zero = F.lit(1).cast("long"), F.lit(0).cast("long")
    w = F.col("n_turns").cast("long")
    out_part = edges.select(
        F.col("src_entity").alias("entity_id"),
        one.alias("o"), w.alias("wo"), zero.alias("i"), zero.alias("wi"),
    )
    in_part = edges.select(
        F.col("dst_entity").alias("entity_id"),
        zero.alias("o"), zero.alias("wo"), one.alias("i"), w.alias("wi"),
    )
    return (
        out_part.unionByName(in_part)
        .groupBy("entity_id")
        .agg(
            F.sum("o").alias("out_deg"),
            F.sum("i").alias("in_deg"),
            F.sum("wo").alias("w_out"),
            F.sum("wi").alias("w_in"),
        )
    )


def _is_checkpoint(df: DataFrame) -> bool:
    """True for a frame whose plan is a bare ``LogicalRDD``, as
    ``localCheckpoint`` returns."""
    return (
        df._jdf.queryExecution().logical().getClass().getSimpleName()
        == "LogicalRDD"
    )


def _release(*frames) -> None:
    """Drop the blocks behind persisted or localCheckpointed frames
    (``None`` entries are skipped). ``DataFrame.unpersist`` does not
    reach a checkpoint: its blocks belong to the RDD under the frame's
    ``LogicalRDD``."""
    for df in frames:
        if df is None:
            continue
        if _is_checkpoint(df):
            df._jdf.queryExecution().logical().rdd().unpersist(False)
        else:
            df.unpersist()


def release_checkpoint(df: DataFrame) -> None:
    """``_release`` a localCheckpointed frame together with every cached
    frame built on it (Spark's cascading uncache; no job). Those frames
    could not recompute once the checkpoint's blocks are gone, and their
    builders may keep no handle to them: the band frame that
    ``linking.scored_candidate_pairs`` persists over the linking node
    checkpoint, for one."""
    cache = df.sparkSession._jsparkSession.sharedState().cacheManager()
    cache.uncacheQuery(df._jdf, True, False)
    _release(df)


@contextmanager
def checkpointed(df: DataFrame):
    """An eager ``localCheckpoint`` of ``df`` for the ``with`` block,
    released when the block exits."""
    df = df.localCheckpoint(eager=True)
    try:
        yield df
    finally:
        _release(df)


def iterate(state, step, n: int, fixpoint=None, cached=()):
    """The loop of every iterative graph operator: at most ``n`` rounds
    of ``step`` over checkpointed state; returns the last state.

    ``state`` is a frame or a tuple of frames (``None`` allowed). Its
    frames, and those of the state ``step(state, i, keep)`` returns for
    round ``i`` (1-based), are eager ``localCheckpoint``s (a frame that
    already is one is taken as it is), so each round plans one round
    deep; ``step`` returns ``None`` to stop early. ``keep(df)``
    checkpoints a frame the round reads more than once. Once a round's
    state is checkpointed, the frames it replaced and the round's kept
    frames are released: a call leaves persisted only the frames of the
    state it returns.

    ``fixpoint(state)``, when given, is a convergence signature: the
    loop stops once a round leaves it unchanged and raises after ``n``
    rounds without that (a partial state is a silently wrong answer).
    ``cached`` are the loop-invariant persisted frames the rounds read,
    released in a ``finally`` (and the state too when an error escapes).
    """
    frames = tuple if isinstance(state, tuple) else (lambda s: (s,))
    kept = []

    def keep(df):
        kept.append(df.localCheckpoint(eager=True))
        return kept[-1]

    def checkpoint(s):
        out = tuple(
            df if df is None or _is_checkpoint(df) else df.localCheckpoint(eager=True)
            for df in frames(s)
        )
        return out if isinstance(s, tuple) else out[0]

    cur, done = None, False
    try:
        cur = checkpoint(state)
        sig = fixpoint(cur) if fixpoint else None
        for i in range(1, n + 1):
            nxt = step(cur, i, keep)
            if nxt is None:
                break
            nxt = checkpoint(nxt)
            live = frames(nxt)
            _release(*(
                df for df in (*frames(cur), *kept)
                if all(df is not x for x in live)
            ))
            kept.clear()
            cur = nxt
            if fixpoint:
                sig, last = fixpoint(cur), sig
                if sig == last:
                    break
        else:
            if fixpoint:
                raise RuntimeError(
                    f"no fixpoint within {n} rounds; re-run with a larger bound"
                )
        done = True
        return cur
    finally:
        _release(*cached, *kept)
        if not done and cur is not None:
            _release(*frames(cur))


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    src: str = "src_entity",
    dst: str = "dst_entity",
    weight: str = "n_turns",
) -> DataFrame:
    """Fixed-iteration weighted PageRank over the canonical KG, with
    dangling mass redistributed uniformly: (entity_id, pr_micro) where
    pr_micro = floor(pr·10⁶ + 0.5) — the integer grid makes the result
    identical across engines and partitionings (per-sum float noise is
    ~10⁻¹⁵ relative and damping contracts it; the 10⁻⁶ grid is 9 orders
    coarser). An empty edge set ranks nothing: the result is empty.

    Scale shape: the (src, dst, frac) transition frame is built once
    (one join against the out-weight aggregate) and persisted; each
    iteration is one hash-join of the slim rank vector against it, one
    aggregate, and one full reduction to a scalar (dangling mass) —
    exactly the communication pattern of distributed PageRank. The
    rounds run under ``iterate``.

    The two driver-side scalars (node count, per-iteration dangling
    mass) are full reductions to one number each — they do not move
    data to the driver beyond a single row.
    """
    e = edges.select(
        F.col(src).alias("s"),
        F.col(dst).alias("d"),
        F.col(weight).cast("double").alias("w"),
    )
    out_w = e.groupBy("s").agg(F.sum("w").alias("w_out"))
    nodes = (
        e.select(F.col("s").alias("x"))
        .unionByName(e.select(F.col("d").alias("x")))
        .distinct()
        .persist()
    )
    trans = (
        e.join(out_w, "s")
        .select("s", "d", (F.col("w") / F.col("w_out")).alias("frac"))
        .persist()
    )
    dangling_nodes = nodes.join(
        out_w.select(F.col("s").alias("x")), "x", "left_anti"
    ).persist()
    n_nodes = max(nodes.count(), 1)  # an empty graph: rounds over empty frames
    teleport = (1.0 - damping) / n_nodes

    def rank(pr, *_):
        dang_row = pr.join(dangling_nodes, "x").agg(F.sum("pr")).collect()[0][0]
        dang = (dang_row or 0.0) / n_nodes
        contrib = (
            trans.join(pr, trans.s == pr.x)
            .groupBy("d")
            .agg(F.sum(F.col("pr") * F.col("frac")).alias("c"))
        )
        return nodes.join(contrib, nodes.x == contrib.d, "left").select(
            "x",
            (
                F.lit(teleport)
                + F.lit(damping)
                * (F.coalesce(F.col("c"), F.lit(0.0)) + F.lit(dang))
            ).alias("pr"),
        )

    start = nodes.select("x", F.lit(1.0 / n_nodes).alias("pr"))
    pr = iterate(start, rank, iters, cached=(nodes, trans, dangling_nodes))
    return pr.select(
        F.col("x").alias("entity_id"),
        F.floor(F.col("pr") * F.lit(1e6) + F.lit(0.5)).alias("pr_micro"),
    )


def edge_temporal_profile(
    canonical_triples: DataFrame, transcripts: DataFrame
) -> DataFrame:
    """Edge provenance windows: per canonical edge, the first and last
    time a conversation asserted it plus the distinct-turn support —
    ``(src_entity, pred, dst_entity, first_ep, last_ep, n_turns)``.
    This is the temporal backbone of a production KG: "what did we know
    about X as of T" filters on ``first_ep <= T``, staleness audits on
    ``last_ep``.

    Input: ``canonical_triples`` (distinct per (conv_id, turn_idx,
    subj, pred, obj)) and the transcripts table for ``ts``. The join
    keys on (conv_id, turn_idx) — the transcripts side prunes to three
    columns at the scan. At 10^12-turn scale the better layout threads
    ``ts`` through extraction from the start (it rides the per-turn row
    through tag→extract→canonicalize with zero extra shuffle, since
    every stage is already keyed by turn); this operator accepts the
    join form because the canonical-triples golden predates that
    threading — both produce identical output.

    Epochs are integer seconds (unix_timestamp) so the result is exact
    across engines.
    """
    t = canonical_triples.join(
        transcripts.select("conv_id", "turn_idx", "ts"),
        ["conv_id", "turn_idx"],
    )
    return t.groupBy(
        F.col("subj").alias("src_entity"),
        F.col("pred"),
        F.col("obj").alias("dst_entity"),
    ).agg(
        F.min(F.unix_timestamp("ts")).alias("first_ep"),
        F.max(F.unix_timestamp("ts")).alias("last_ep"),
        F.count(F.lit(1)).alias("n_turns"),
    )


def pred_cardinality_profile(edges: DataFrame) -> DataFrame:
    """Schema induction over the canonical KG: per predicate,
    ``(pred, n_edges, n_src, n_dst, fan_out_max, fan_in_max)`` where
    fan_out_max = the largest number of distinct objects any one
    subject asserts under this predicate (and fan_in_max the converse).
    fan_out_max == 1 identifies functional predicates (person→birthplace
    shape), the precondition for conflict detection; large fan_in_max
    flags hub objects. One pass: a per-(pred, src) / per-(pred, dst)
    count each, then a predicate-keyed max — all map-side-combinable,
    keyed on high-cardinality composites before the tiny pred rollup.
    """
    out_deg = edges.groupBy("pred", "src_entity").agg(
        F.countDistinct("dst_entity").alias("fo")
    )
    in_deg = edges.groupBy("pred", "dst_entity").agg(
        F.countDistinct("src_entity").alias("fi")
    )
    base = edges.groupBy("pred").agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.countDistinct("src_entity").alias("n_src"),
        F.countDistinct("dst_entity").alias("n_dst"),
    )
    return (
        base.join(out_deg.groupBy("pred").agg(F.max("fo").alias("fan_out_max")), "pred")
        .join(in_deg.groupBy("pred").agg(F.max("fi").alias("fan_in_max")), "pred")
        .select("pred", "n_edges", "n_src", "n_dst", "fan_out_max", "fan_in_max")
    )


def functional_violations(
    edges: DataFrame, functional_preds: list[str] | None = None
) -> DataFrame:
    """Conflicting-fact candidates: subjects asserting MULTIPLE distinct
    objects under a functional predicate —
    ``(pred, src_entity, n_objects, objects_str)`` with the conflicting
    objects serialized sorted-joined (array cells can't cross the driver
    hash gate; the string is deterministic under any partitioning).

    ``functional_preds``: the predicates whose schema says one object
    per subject. None = induce them from the data as the preds where
    the MAJORITY of subjects are single-valued (median fan-out 1 via
    ``mode()``-free percentile: strictly more single-valued subjects
    than multi-valued) — the self-bootstrapping curation pass.

    Plan: one (pred, src)-keyed aggregate (collect_set is bounded by
    the per-subject object fan-out, which the functional filter keeps
    tiny); the induced-schema branch adds one pred-keyed census joined
    back as a broadcast.
    """
    per_subj = edges.groupBy("pred", "src_entity").agg(
        F.sort_array(F.collect_set("dst_entity")).alias("objs")
    )
    if functional_preds is not None:
        sel = per_subj.where(F.col("pred").isin(list(functional_preds)))
    else:
        census = per_subj.groupBy("pred").agg(
            F.sum(F.when(F.size("objs") == 1, 1).otherwise(0)).alias("single"),
            F.sum(F.when(F.size("objs") > 1, 1).otherwise(0)).alias("multi"),
        )
        functional = census.where(F.col("single") > F.col("multi")).select("pred")
        sel = per_subj.join(F.broadcast(functional), "pred")
    return sel.where(F.size("objs") > 1).select(
        "pred",
        "src_entity",
        F.size("objs").alias("n_objects"),
        F.array_join("objs", "; ").alias("objects_str"),
    )


def current_facts(
    canonical_triples: DataFrame,
    transcripts: DataFrame,
    functional_preds: list[str] | None = None,
) -> DataFrame:
    """Latest-wins fact resolution: for every (subject, functional
    predicate), the object of the MOST RECENT assertion —
    ``(pred, src_entity, current_obj, last_ep, n_objects,
    n_assertions)``. Conversations update facts over time ("we moved
    the office to Austin"); the edge table keeps every assertion, this
    view answers "what does the KG believe NOW". Non-functional
    predicates (``makes`` — many objects are all simultaneously true)
    are excluded: recency doesn't retract a set-valued fact.

    ``functional_preds``: explicit schema, or None to induce it from
    the data (majority-single-valued census, same rule as
    ``functional_violations``).

    Recency order is the lexicographic max of (epoch, conv_id,
    turn_idx, obj) — the trailing fields break exact-timestamp ties
    deterministically under any partitioning and identically across
    engines (binary string comparison both sides).

    Plan: ts rides a (conv_id, turn_idx)-keyed join (at 10^12 turns the
    production layout threads ts through extraction instead — see
    ``edge_temporal_profile``), then ONE (pred, subject)-keyed
    aggregate computes the arg-max struct, the distinct-object count,
    and the assertion count together; the induced-schema census joins
    back as a broadcast. No window over the fact history is ever
    sorted — the arg-max is a map-side-combinable max.
    """
    t = canonical_triples.join(
        transcripts.select("conv_id", "turn_idx", "ts"),
        ["conv_id", "turn_idx"],
    ).select(
        "pred",
        F.col("subj").alias("src_entity"),
        "obj",
        F.unix_timestamp("ts").alias("ep"),
        "conv_id",
        "turn_idx",
    )
    per_subj = t.groupBy("pred", "src_entity").agg(
        F.max(F.struct("ep", "conv_id", "turn_idx", "obj")).alias("latest"),
        F.countDistinct("obj").alias("n_objects"),
        F.count(F.lit(1)).alias("n_assertions"),
    )
    if functional_preds is not None:
        sel = per_subj.where(F.col("pred").isin(list(functional_preds)))
    else:
        census = per_subj.groupBy("pred").agg(
            F.sum(F.when(F.col("n_objects") == 1, 1).otherwise(0)).alias("single"),
            F.sum(F.when(F.col("n_objects") > 1, 1).otherwise(0)).alias("multi"),
        )
        functional = census.where(F.col("single") > F.col("multi")).select("pred")
        sel = per_subj.join(F.broadcast(functional), "pred")
    return sel.select(
        "pred",
        "src_entity",
        F.col("latest.obj").alias("current_obj"),
        F.col("latest.ep").alias("last_ep"),
        "n_objects",
        "n_assertions",
    )


def paths_2hop(edges: DataFrame, max_wedges_per_mid: int = 4096) -> DataFrame:
    """Distinct 2-hop paths through the canonical KG —
    ``(src_entity, pred1, mid_entity, pred2, dst_entity)`` with
    src ≠ dst — the join-pattern behind multi-hop KGQA training data
    ("brand X is based in a place located in ...") and path-feature
    extraction for link prediction.

    Scale guard: a mid node contributes in_deg × out_deg paths, so one
    hub entity can square the output. Mids whose in_deg × out_deg
    exceeds ``max_wedges_per_mid`` are EXCLUDED (the standard wedge cap
    — mirrored verbatim in the SQL oracle so both engines enumerate the
    same path set). With the cap, output ≤ cap × |mids| and every join
    key's fan-out is bounded, so no task can be handed a quadratic
    bucket. Plan: two row-count aggregates over edge endpoints, a
    semi-filter of the edge list by surviving mids, one mid-keyed
    self-join of slim 3-column rows.
    """
    in_deg = edges.groupBy("dst_entity").agg(F.count(F.lit(1)).alias("ind"))
    out_deg = edges.groupBy("src_entity").agg(F.count(F.lit(1)).alias("outd"))
    ok_mid = (
        in_deg.join(out_deg, in_deg.dst_entity == out_deg.src_entity)
        .where(F.col("ind") * F.col("outd") <= max_wedges_per_mid)
        .select(F.col("dst_entity").alias("mid_entity"))
    )
    e1 = edges.select(
        "src_entity", F.col("pred").alias("pred1"),
        F.col("dst_entity").alias("mid_entity"),
    ).join(ok_mid, "mid_entity", "left_semi")
    e2 = edges.select(
        F.col("src_entity").alias("mid_entity"),
        F.col("pred").alias("pred2"), "dst_entity",
    ).join(ok_mid, "mid_entity", "left_semi")
    return (
        e1.join(e2, "mid_entity")
        .where(F.col("src_entity") != F.col("dst_entity"))
        .select("src_entity", "pred1", "mid_entity", "pred2", "dst_entity")
        .distinct()
    )


def label_propagation(
    edges: DataFrame,
    iters: int = 3,
    src: str = "src_entity",
    dst: str = "dst_entity",
    weight: str = "n_turns",
) -> DataFrame:
    """Synchronous weighted label propagation over the undirected KG:
    ``(entity_id, community)`` after exactly ``iters`` rounds.
    Communities are the mid-resolution structure between connected
    components (too coarse — one giant component) and k-cores (a
    density filter, not a partition): entity neighborhoods that
    interact heavily, the unit for KG partitioning and topic grouping.

    Determinism (the property plain LPA lacks): updates are
    synchronous (round t+1 reads only round t), every node adopts the
    neighbor label with the highest total edge weight, and ties break
    to the LEXICOGRAPHICALLY SMALLEST label — expressed as
    ``min(struct(-score, label))`` so one map-side-combinable arg-min
    replaces a sort. Fixed iteration count, no convergence race: the
    result is a pure function of the edge set, identical across
    engines, partitionings, and reruns (the SQL oracle unrolls the same
    rounds).

    Scale shape per round: one join of the slim (node, label) frame
    against the weighted undirected edge list (both keyed on node),
    one (node, label)-keyed weight sum, one node-keyed arg-min — all
    map-side combinable; the rounds run under ``iterate``.
    Hot nodes are plain aggregation skew, which AQE's skew handling
    absorbs; no round materializes anything wider than (node, label,
    weight).
    """
    und = weighted_undirected(edges, src, dst, weight).persist()
    start = und.select("x").distinct().withColumn("lbl", F.col("x"))
    labels = iterate(start, lambda lbl, *_: lpa_round(und, lbl), iters, cached=(und,))
    return labels.select(
        F.col("x").alias("entity_id"), F.col("lbl").alias("community")
    )


def weighted_undirected(
    edges: DataFrame,
    src: str = "src_entity",
    dst: str = "dst_entity",
    weight: str = "n_turns",
) -> DataFrame:
    """Weighted undirected normalization for label propagation:
    both directions of every edge, self-loops dropped, parallel edges
    (same pair under different predicates) merged by weight sum —
    restated verbatim in the SQL oracle."""
    w = F.col(weight).cast("long")
    return (
        edges.select(F.col(src).alias("x"), F.col(dst).alias("y"), w.alias("w"))
        .unionByName(
            edges.select(F.col(dst).alias("x"), F.col(src).alias("y"), w.alias("w"))
        )
        .where(F.col("x") != F.col("y"))
        .groupBy("x", "y")
        .agg(F.sum("w").alias("w"))
    )


def lpa_round(und: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous label-propagation round: every node adopts the
    neighbor label with the highest total edge weight, ties to the
    smallest label via ``min(struct(-score, label))`` — one node-keyed
    join, one (node, label)-keyed weight sum, one node-keyed arg-min,
    all map-side combinable. This is the per-round plan the
    ``kg_communities`` plan spec asserts (tools/explain_plans.py)."""
    nbr_lbl = und.join(
        labels.select(F.col("x").alias("y"), "lbl"), "y"
    ).select("x", "lbl", "w")
    scores = nbr_lbl.groupBy("x", "lbl").agg(F.sum("w").alias("s"))
    return (
        scores.groupBy("x")
        .agg(F.min(F.struct((-F.col("s")).alias("ns"), "lbl")).alias("m"))
        .select("x", F.col("m.lbl").alias("lbl"))
    )


def pred_type_signatures(edges: DataFrame) -> DataFrame:
    """Typed ontology induction: per (predicate, subject-type,
    object-type) combination, the edge support —
    ``(pred, subj_type, obj_type, n_edges)``. The domain/range profile
    of each relation ("makes: brand→product 384, based_in: brand→place
    …"): signatures with overwhelming support define the induced
    schema, low-support off-signature rows ARE the extraction-noise
    audit queue. One row-local type projection (entity ids carry their
    type prefix) + one map-side-combinable aggregate over a key whose
    cardinality is bounded by |preds| × |types|² — tiny at any corpus
    scale.
    """
    return (
        edges.select(
            "pred",
            _split_type(F.col("src_entity")).alias("subj_type"),
            _split_type(F.col("dst_entity")).alias("obj_type"),
        )
        .groupBy("pred", "subj_type", "obj_type")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )


def bfs_hops(
    edges: DataFrame, sources: DataFrame, max_hops: int = 4
) -> DataFrame:
    """Minimum-hop reachability from a source set along directed KG
    edges: ``(entity_id, hops)`` for every entity within ``max_hops``
    (sources at 0). This is the ego-network / neighborhood-retrieval
    primitive — "everything within k hops of these entities" is the
    subgraph a KGQA retriever or a GNN sampler pulls.

    Level-synchronous frontier BFS: each hop joins the CURRENT frontier
    (the entities labeled last hop, not the whole visited set) against
    the edge list and anti-joins the already-visited set, so every
    entity is labeled with its first (minimum) hop count. The hops run
    under ``iterate``. Early-exits when a frontier empties — the
    per-hop emptiness probe is one scalar count, the standard price of
    iterative convergence. All joins key on entity id; frontier rows
    are one column wide.
    """
    e = edges.select(
        F.col("src_entity").alias("s"), F.col("dst_entity").alias("d")
    ).distinct().persist()

    def hop(visited, h, keep):
        frontier = visited.where(F.col("hops") == h - 1).select("x")
        nxt = keep(
            frontier.join(e, frontier.x == e.s)
            .select(F.col("d").alias("x"))
            .distinct()
            .join(visited.select("x"), "x", "left_anti")
        )
        if nxt.isEmpty():
            return None
        return visited.unionByName(nxt.withColumn("hops", F.lit(h).cast("int")))

    start = sources.select(F.col(sources.columns[0]).alias("x")).distinct()
    visited = iterate(
        start.withColumn("hops", F.lit(0).cast("int")), hop, max_hops, cached=(e,)
    )
    return visited.select(F.col("x").alias("entity_id"), "hops")


def edge_diff(old_edges: DataFrame, new_edges: DataFrame) -> DataFrame:
    """KG snapshot diff — the audit view for incremental maintenance:
    ``(src_entity, pred, dst_entity, old_n, new_n, status)`` for every
    canonical edge whose support changed between two snapshots, status
    ∈ {added, removed, changed}. Unchanged edges are dropped (at
    10^12-edge scale the diff is the small output; the identical bulk
    is noise). Absent sides report weight 0 rather than null so the
    row hashes identically across engines.

    Run it across an incremental merge (``--stages incremental``) and
    the union of statuses IS the merge's effect; an empty diff proves
    two pipelines produced the same graph.

    Plan: one full-outer shuffle join keyed on the (src, pred, dst)
    composite — high-cardinality, near-unique, the best key a join can
    have; rows are 5 slim columns; AQE splits any hot edge. Nothing
    else moves.
    """
    keys = ["src_entity", "pred", "dst_entity"]
    o = old_edges.select(*keys, F.col("n_turns").cast("long").alias("old_n"))
    n = new_edges.select(*keys, F.col("n_turns").cast("long").alias("new_n"))
    status = (
        F.when(F.col("old_n").isNull(), F.lit("added"))
        .when(F.col("new_n").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
    )
    return (
        o.join(n, keys, "full_outer")
        .withColumn("status", status)
        .where(
            F.coalesce(F.col("old_n"), F.lit(0))
            != F.coalesce(F.col("new_n"), F.lit(0))
        )
        .select(
            *keys,
            F.coalesce(F.col("old_n"), F.lit(0)).alias("old_n"),
            F.coalesce(F.col("new_n"), F.lit(0)).alias("new_n"),
            "status",
        )
    )


def edge_provenance(canonical_triples: DataFrame, k: int = 3) -> DataFrame:
    """Bounded provenance pointers per canonical edge — the "why does
    the KG say this" audit column: ``(src_entity, pred, dst_entity,
    n_turns, provenance)`` where provenance serializes the FIRST ``k``
    asserting turns as ``conv#turn; conv#turn; …`` in (conv_id,
    turn_idx) order (sorted-joined string: deterministic under any
    partitioning and hashable by the driver gate).

    Bounding matters at scale: a popular edge may be asserted by
    millions of turns, and an unbounded collect_list would materialize
    them all in one aggregation buffer. The row_number window keyed on
    the edge composite keeps only k rows per edge BEFORE the collect,
    so the aggregate buffer is ≤ k entries regardless of edge heat —
    and the window's partition key is the high-cardinality edge
    composite, never a single partition. The full support count rides
    the same window as an unbounded count, so no second pass over the
    fact table.
    """
    from pyspark.sql import Window

    edge_w = Window.partitionBy("subj", "pred", "obj")
    r = canonical_triples.select(
        "subj",
        "pred",
        "obj",
        "conv_id",
        "turn_idx",
        F.row_number()
        .over(edge_w.orderBy("conv_id", "turn_idx"))
        .alias("rn"),
        F.count(F.lit(1)).over(edge_w).alias("n_turns"),
    ).where(F.col("rn") <= k)
    return r.groupBy(
        F.col("subj").alias("src_entity"),
        "pred",
        F.col("obj").alias("dst_entity"),
        "n_turns",
    ).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("conv_id", "turn_idx"))),
                lambda s: F.concat_ws("#", s.conv_id, s.turn_idx.cast("string")),
            ),
            "; ",
        ).alias("provenance")
    )


def undirected_edges(
    edges: DataFrame, src: str = "src_entity", dst: str = "dst_entity"
) -> DataFrame:
    """Canonical undirected edge normalization shared by every
    undirected-graph operator (k-core, triangle counting) and restated
    in their SQL oracles: endpoints ordered (a ≤ b), self-loops
    dropped, duplicates collapsed."""
    a, b = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    return (
        edges.select(a.alias("a"), b.alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def peel_round(e: DataFrame, k: int) -> DataFrame:
    """One k-core peel round over an undirected (a, b) edge frame: drop
    every edge touching a node of current degree < k. One map-side-
    combined degree aggregate + two left-semi restrictions — the
    per-round plan the ``kg_kcore`` plan spec asserts
    (tools/explain_plans.py)."""
    deg = (
        e.select(F.col("a").alias("x"))
        .unionByName(e.select(F.col("b").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    keep = deg.where(F.col("deg") >= k).select("x")
    return (
        e.join(keep.withColumnRenamed("x", "a"), "a", "left_semi")
        .join(keep.withColumnRenamed("x", "b"), "b", "left_semi")
        .select("a", "b")
    )


def k_core(
    edges: DataFrame,
    k: int = 2,
    src: str = "src_entity",
    dst: str = "dst_entity",
    max_iter: int = 50,
) -> DataFrame:
    """Members of the ``k``-core of the undirected, deduplicated KG:
    one column ``(entity_id)`` — the maximal subgraph where every node
    keeps degree ≥ k. The standard cleanup for KG analytics: pendant
    surface variants and one-off extraction noise live outside the
    2-core, dense entity neighborhoods inside.

    Algorithm: iterative peeling — drop nodes with current degree < k,
    restrict edges to survivors, repeat to fixpoint. Each round is one
    degree aggregate (map-side combined over 2|E'| slim endpoint rows)
    plus two semi-joins restricting the edge set, under ``iterate``.
    Rounds are bounded by the longest peel chain — O(diameter)-ish in
    practice, ``max_iter`` as the pathological backstop; convergence is
    detected by the surviving edge count reaching a fixpoint (monotone
    decreasing, so equality of counts IS convergence — no content
    signature needed). Exhausting
    ``max_iter`` without the fixpoint raises instead of returning an
    under-peeled edge set as the "core" — a silently-wrong membership
    at scale is strictly worse than a loud retry with a larger bound.
    """
    e = iterate(
        undirected_edges(edges, src, dst),
        lambda e, *_: peel_round(e, k), max_iter, fixpoint=DataFrame.count,
    )
    return (
        e.select(F.col("a").alias("entity_id"))
        .unionByName(e.select(F.col("b").alias("entity_id")))
        .distinct()
    )


def entity_cooccurrence_pmi(canonical_triples: DataFrame) -> DataFrame:
    """Pointwise mutual information between canonical entities that
    co-occur in a turn: ``(entity_a, entity_b, n_turns, pmi_micro)``
    with entity_a < entity_b and pmi_micro = floor(ln(n_ab·N/(n_a·n_b))
    ·10⁶ + 0.5) — the association score that separates genuinely related
    entity pairs from pairs that merely both appear everywhere (a hub
    entity's raw co-occurrence count is huge; its PMI with everything is
    ~0 or negative). The 10⁻⁶ integer grid makes the value exact across
    engines (same device as ``pagerank``; per-value float error is
    ~10⁻¹⁵ relative, 9 orders below the grid).

    Counting spec (mirrored in the SQL oracle): a "co-occurrence" is a
    distinct (conv_id, turn_idx, a, b) with a<b from the canonical
    triple endpoints; n_a counts distinct turns where the entity appears
    in ANY counted pair (either side); N counts distinct turns with at
    least one pair.

    Plan shape: pair derivation is row-local over the (already
    turn-distinct) canonical triples; the three aggregates (pair,
    entity, total) all reduce with map-side partials; marginals join
    back by entity key — broadcast when the entity dimension fits, AQE
    shuffle join otherwise. No per-turn self-join is ever materialized
    beyond what the triples already contain.
    """
    from ner_spark.functions.dedup import register_persist

    # the pair frame feeds FOUR consumers (total count, pair agg, both
    # branches of the entity-turn union); unpersisted, each re-executes
    # the upstream canonicalization lineage — the measured
    # "frame consumed 3x recomputes 3x" trap the dedup pair generators
    # already guard with the same bounded-LRU persist registry
    pairs = register_persist(
        canonical_triples.where(F.col("subj") != F.col("obj"))
        .select(
            "conv_id",
            "turn_idx",
            F.least("subj", "obj").alias("a"),
            F.greatest("subj", "obj").alias("b"),
        )
        .distinct()
    )
    n_ab = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_turns"))
    ent_turns = (
        pairs.select(F.col("a").alias("e"), "conv_id", "turn_idx")
        .unionByName(
            pairs.select(F.col("b").alias("e"), "conv_id", "turn_idx")
        )
        .distinct()
    )
    n_e = ent_turns.groupBy("e").agg(F.count(F.lit(1)).alias("n_e"))
    total = pairs.select("conv_id", "turn_idx").distinct().count()
    pmi = (
        F.log(
            F.col("n_turns").cast("double")
            * F.lit(float(total))
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
        )
        * F.lit(1e6)
        + F.lit(0.5)
    )
    return (
        n_ab.join(n_e.select(F.col("e").alias("a"), F.col("n_e").alias("n_a")), "a")
        .join(n_e.select(F.col("e").alias("b"), F.col("n_e").alias("n_b")), "b")
        .select(
            F.col("a").alias("entity_a"),
            F.col("b").alias("entity_b"),
            "n_turns",
            F.floor(pmi).cast("long").alias("pmi_micro"),
        )
    )


def triangle_count(
    edges: DataFrame, src: str = "src_entity", dst: str = "dst_entity"
) -> DataFrame:
    """Total triangle count of the undirected, deduplicated KG:
    one row ``(n_triangles)``.

    Algorithm: degree-oriented wedge closing. Every undirected edge is
    oriented from its lower-(degree, id) endpoint to the higher one, so
    each triangle {u,v,w} generates its single wedge at the minimum
    vertex and is counted exactly once. Orienting by degree is what
    makes this survive scale-up: wedge generation at a vertex costs
    out-degree², and the degree orientation caps every out-degree at
    O(√m) — total wedge volume O(m^1.5) regardless of how skewed the
    natural degree distribution is (a celebrity node's million
    neighbors generate their wedges at the LOW-degree endpoints, not
    at the hub). The naive a<b<c id-ordered 3-way join (the SQL
    oracle) has no such bound and dies on the first hub.

    Joins: wedge self-join on the oriented source, then one semi-join
    of the slim (v, w) wedge pairs against the undirected edge set.

    ``und`` feeds four consumers (degree union ×2, orientation join,
    closing semi-join) and ``oriented`` two (both wedge sides) — both
    ride the shared bounded-LRU persist registry so the input lineage
    (in the entry query: the whole link→CC→materialize chain) executes
    once, not per consumer.
    """
    from ner_spark.functions.dedup import register_persist

    und = register_persist(undirected_edges(edges, src, dst))
    deg = (
        und.select(F.col("a").alias("x"))
        .unionByName(und.select(F.col("b").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient each edge from the lower (deg, id) endpoint to the higher
    oriented = register_persist(
        und.join(deg.withColumnsRenamed({"x": "a", "deg": "deg_a"}), "a")
        .join(deg.withColumnsRenamed({"x": "b", "deg": "deg_b"}), "b")
        .select(
            F.when(
                (F.col("deg_a") < F.col("deg_b"))
                | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
    )
    w1 = oriented.select(F.col("u"), F.col("v").alias("p"))
    w2 = oriented.select(F.col("u"), F.col("v").alias("q"))
    wedges = w1.join(w2, "u").where(F.col("p") < F.col("q"))
    closed = wedges.join(
        und,
        (F.least("p", "q") == F.col("a")) & (F.greatest("p", "q") == F.col("b")),
        "left_semi",
    )
    return closed.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))


def adamic_adar(
    edges: DataFrame,
    max_mid_degree: int = 65536,
    min_common: int = 1,
    restrict: DataFrame | None = None,
) -> DataFrame:
    """Link-prediction candidate scoring over the undirected canonical
    KG: for every NON-adjacent node pair sharing at least ``min_common``
    neighbors, ``(node_u, node_v, common_neighbors, aa_nano)`` where
    ``aa_nano = Σ_z floor(1e9 / ln(deg(z)))`` over the common neighbors
    z — integer-scaled Adamic-Adar. These pairs are the KG-completion /
    "suggested merge or missing edge" queue a curation loop reviews.

    Scale design:
    * each common-neighbor contribution is quantized to an int64 BEFORE
      the sum, so the pair score is an order-independent integer total —
      bit-identical across engines and partitionings (a double Σ 1/ln d
      would depend on reduction order). The quantization itself is
      engine-stable too: for every degree ≤ 10⁶ the distance of
      1e9/ln d to the nearest integer (min 9.7e-7, at d=884722)
      exceeds the few-ULP libm wobble of the dividend by ≥ 14×, so
      Java's Math.log and DuckDB's C libm floor identically;
    * wedge enumeration at a mid z costs deg(z)², so the wedge join
      rides ``functions/dedup.py:salted_join`` — a hot mid is spread
      over a grid of bounded join cells instead of serializing in one
      task;
    * mids with deg > ``max_mid_degree`` are EXCLUDED, mirrored
      verbatim in the SQL oracle: a celebrity hub's wedge volume is
      quadratic in its degree while its per-pair contribution
      (1/ln deg) is asymptotically worthless — the standard
      super-hub cut for common-neighbor features. Degree-1 mids form
      no wedges and are cut by the same band;
    * the final non-adjacency filter is a left-anti join of slim
      (u, v) rows against the undirected edge set;
    * ``restrict`` (optional, a one-column frame of node ids) limits
      output to pairs with AT LEAST ONE endpoint in the given set —
      and pushes that limit INTO the wedge enumeration: one join side
      is semi-joined to the restricted endpoints BEFORE the join, so a
      wedge whose endpoints both fall outside the set is never
      enumerated (the consumer: link-prediction eval only reads
      candidate lists of test-edge endpoints). Scores of surviving
      pairs are bit-identical to the unrestricted run — the wedge set
      per surviving pair is unchanged; only which pairs are emitted
      narrows (asserted by test and by the linkpred oracle row).
    """
    from ner_spark.functions.dedup import register_persist, salted_join

    und = register_persist(undirected_edges(edges))
    adj = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = adj.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    mids = register_persist(
        adj.join(deg, "a")
        .where((F.col("deg") >= 2) & (F.col("deg") <= max_mid_degree))
        .select(
            F.col("a").alias("z"),
            F.col("b").alias("id"),
            F.floor(F.lit(1e9) / F.log(F.col("deg").cast("double")))
            .cast("long")
            .alias("contrib"),
        )
    )

    def _a(df: DataFrame) -> DataFrame:
        return df.withColumnsRenamed({"id": "id_a", "contrib": "contrib_a"})

    b = mids.withColumnsRenamed({"id": "id_b", "contrib": "contrib_b"})
    if restrict is None:
        pairs = (
            salted_join(_a(mids), b, ["z"], "id_a", "id_b")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(
                F.count(F.lit(1)).alias("common_neighbors"),
                F.sum("contrib_a").alias("aa_nano"),
            )
            .where(F.col("common_neighbors") >= min_common)
        )
    else:
        q = restrict.select(
            F.col(restrict.columns[0]).alias("id")
        ).distinct()
        # left side: only wedge endpoints in the restricted set; right
        # side: full adjacency. A pair with ONE restricted endpoint is
        # enumerated once per wedge; a pair with BOTH restricted
        # endpoints twice (each orientation) — so instead of a
        # per-wedge orientation filter (which would need a
        # membership flag joined onto the full adjacency), the exact
        # doubling is halved AFTER the aggregation, where the frame is
        # pairs, not wedges: count and sum are both exactly 2× there.
        mids_q = _a(register_persist(mids.join(q, "id", "left_semi")))
        raw = (
            salted_join(mids_q, b, ["z"], "id_a", "id_b")
            .where(F.col("id_a") != F.col("id_b"))
            .groupBy(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
            )
            .agg(
                F.count(F.lit(1)).alias("_c"),
                F.sum("contrib_a").alias("_s"),
            )
        )
        qf = q.withColumn("_q", F.lit(1))
        pairs = (
            raw.join(
                qf.withColumnsRenamed({"id": "id_a", "_q": "_qa"}),
                "id_a",
                "left",
            )
            .join(
                qf.withColumnsRenamed({"id": "id_b", "_q": "_qb"}),
                "id_b",
                "left",
            )
            .select(
                "id_a",
                "id_b",
                F.when(
                    F.col("_qa").isNotNull() & F.col("_qb").isNotNull(),
                    F.expr("_c div 2"),
                )
                .otherwise(F.col("_c"))
                .alias("common_neighbors"),
                F.when(
                    F.col("_qa").isNotNull() & F.col("_qb").isNotNull(),
                    F.expr("_s div 2"),
                )
                .otherwise(F.col("_s"))
                .alias("aa_nano"),
            )
            .where(F.col("common_neighbors") >= min_common)
        )
    return pairs.join(
        und,
        (F.col("id_a") == F.col("a")) & (F.col("id_b") == F.col("b")),
        "left_anti",
    ).select(
        F.col("id_a").alias("node_u"),
        F.col("id_b").alias("node_v"),
        "common_neighbors",
        "aa_nano",
    )


def random_walks(
    edges: DataFrame,
    walks_per_node: int = 2,
    walk_length: int = 4,
    seed: str = "walk",
    as_array: bool = False,
) -> DataFrame:
    """Deterministic DeepWalk-style random-walk corpus over the
    undirected canonical KG: ``walks_per_node`` walks of
    ``walk_length`` steps from every non-isolated node, serialized as
    ``(walk_id, path)`` with ``path = "a->b->c"``. This is the training
    corpus a skip-gram KG-embedding run (DeepWalk / node2vec p=q=1)
    consumes; determinism (hash-derived choices, no RNG state) is what
    makes the corpus reproducible across retries, partitionings and
    engines — the property a lineage-checkpointed pipeline needs.

    Scale design — O(1) work per walk step, never O(deg):
    * neighbors of each node are ranked ONCE into a dense index
      0..deg-1 (per-node window over ``h60(seed|z|n)``). This ranking
      is the one place cost concentrates on hubs: a deg-D node is one
      D-row within-partition sort (spill-safe, one-time per corpus) —
      amortized over every walk and step that visits the hub, which is
      exactly where the O(1)-per-step draw below pays for it;
    * step i of a walk draws ``pick = h60(seed|walk_id|i) mod deg(cur)``
      and equi-joins ``(cur, pick)`` against the ranked adjacency — two
      slim keyed joins per step, so a hub node costs the SAME as a
      leaf per visiting walk (no per-neighbor enumeration, no
      candidate explosion when many walks sit on the hub);
    * the steps run under ``iterate``.

    Walks may revisit nodes (plain first-order DeepWalk semantics);
    every node in the adjacency has deg >= 1 so walks never dead-end.
    """
    from pyspark.sql import Window

    from ner_spark.operators.linking import md5_hash60_col

    if walks_per_node < 1:
        # sequence(0, walks_per_node - 1) would count DOWN: 0 gives 2 walks
        raise ValueError(
            f"random_walks requires walks_per_node >= 1, got {walks_per_node}"
        )
    und = undirected_edges(edges)
    adj = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).select(F.col("a").alias("z"), F.col("b").alias("n"))
    w = Window.partitionBy("z").orderBy(
        md5_hash60_col(
            F.concat_ws("|", F.lit(seed), F.col("z"), F.col("n"))
        ),
        "n",
    )
    ranked = adj.withColumn("idx", F.row_number().over(w) - F.lit(1)).persist()
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).alias("deg")).persist()

    def walk(cur, i, _):
        pick = cur.join(deg, cur.cur == deg.z).select(
            "walk_id",
            "cur",
            "path",
            F.pmod(
                md5_hash60_col(
                    F.concat_ws("|", F.lit(seed), F.col("walk_id"), F.lit(str(i)))
                ),
                F.col("deg"),
            ).alias("pick"),
        )
        return pick.join(
            ranked,
            (pick.cur == ranked.z) & (pick.pick == ranked.idx),
        ).select(
            "walk_id",
            F.col("n").alias("cur"),
            F.array_append("path", F.col("n")).alias("path"),
        )

    start = deg.select(
        "z", F.explode(F.sequence(F.lit(0), F.lit(walks_per_node - 1))).alias("r")
    ).select(
        F.concat_ws("#", F.col("z"), F.col("r")).alias("walk_id"),
        F.col("z").alias("cur"),
        F.array(F.col("z")).alias("path"),
    )
    cur = iterate(start, walk, walk_length, cached=(ranked, deg))
    if as_array:
        return cur.select("walk_id", "path")
    return cur.select("walk_id", F.array_join("path", "->").alias("path"))


def _lpa_labels(
    edges: DataFrame, iters: int, labels: DataFrame | None, caller: str
) -> DataFrame:
    """``labels`` when the caller holds the materialized community
    assignment (``iters`` must then stay at its default, 3: the
    assignment is whatever the published table holds), else a persisted
    in-line ``label_propagation``."""
    from ner_spark.functions.dedup import register_persist

    if labels is None:
        return register_persist(label_propagation(edges, iters=iters))
    if iters != 3:
        raise ValueError(
            f"{caller}: labels= is a materialized assignment; iters would be ignored"
        )
    return labels


def community_profiles(
    edges: DataFrame,
    iters: int = 3,
    labels: DataFrame | None = None,
) -> DataFrame:
    """Graph summarization over the label-propagation communities:
    ``(community, n_nodes, n_internal, n_boundary, top_pred,
    density_micro)`` — size, internal undirected edge count, boundary
    (cross-community) undirected edge count, the dominant predicate of
    the community's internal directed edges (ties to the
    lexicographically smallest; '' when a community has no internal
    edges), and ``floor(2e6·n_internal / (n·(n−1)))`` — the integer-
    scaled undirected density. This is the "what is this cluster
    about" audit table a KG curation UI shows per community, and the
    balance check before using communities as a partitioning key.

    Scale shape: labels ride one persisted (node, community) frame
    joined twice against the slim undirected edge list (both keyed on
    node id); every aggregate is map-side combinable over community
    keys; the top-predicate arg-max is a per-community window whose
    partitions are bounded by |preds| rows. Density arithmetic is an
    exact integer→IEEE-double division identical across engines.
    """
    from pyspark.sql import Window

    from ner_spark.functions.dedup import register_persist

    # a caller holding the materialized community assignment (the
    # production shape — LPA labels are a published table the profile
    # job reads) passes it via ``labels``; otherwise derive in-line.
    labels = _lpa_labels(edges, iters, labels, "community_profiles")
    # und feeds only the e_lab derivation (itself persisted): no persist,
    # it would burn an LRU slot without a second consumer
    und = undirected_edges(edges)
    la = labels.select(F.col("entity_id").alias("a"), F.col("community").alias("ca"))
    lb = labels.select(F.col("entity_id").alias("b"), F.col("community").alias("cb"))
    e_lab = register_persist(und.join(la, "a").join(lb, "b"))

    members = labels.groupBy("community").agg(
        F.count(F.lit(1)).alias("n_nodes")
    )
    internal = (
        e_lab.where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count(F.lit(1)).alias("n_internal"))
    )
    cross = e_lab.where(F.col("ca") != F.col("cb"))
    boundary = (
        cross.select(F.col("ca").alias("community"))
        .unionByName(cross.select(F.col("cb").alias("community")))
        .groupBy("community")
        .agg(F.count(F.lit(1)).alias("n_boundary"))
    )
    ls = labels.select(
        F.col("entity_id").alias("src_entity"), F.col("community").alias("cs")
    )
    ld = labels.select(
        F.col("entity_id").alias("dst_entity"), F.col("community").alias("cd")
    )
    pred_counts = (
        edges.where(F.col("src_entity") != F.col("dst_entity"))
        .join(ls, "src_entity")
        .join(ld, "dst_entity")
        .where(F.col("cs") == F.col("cd"))
        .groupBy(F.col("cs").alias("community"), "pred")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("community").orderBy(
        F.desc("cnt"), F.asc("pred")
    )
    top_pred = (
        pred_counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("community", F.col("pred").alias("top_pred"))
    )
    return (
        members.join(internal, "community", "left")
        .join(boundary, "community", "left")
        .join(top_pred, "community", "left")
        .select(
            "community",
            "n_nodes",
            F.coalesce("n_internal", F.lit(0)).alias("n_internal"),
            F.coalesce("n_boundary", F.lit(0)).alias("n_boundary"),
            F.coalesce("top_pred", F.lit("")).alias("top_pred"),
            F.when(
                F.col("n_nodes") > 1,
                F.floor(
                    F.lit(2e6)
                    * F.coalesce("n_internal", F.lit(0)).cast("double")
                    / (
                        F.col("n_nodes").cast("double")
                        * (F.col("n_nodes") - 1).cast("double")
                    )
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("density_micro"),
        )
    )


def walk_skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """Skip-gram training pairs from the random-walk corpus:
    ``(center, context, n_pairs)`` — every ordered co-occurrence within
    ``window`` positions inside a walk, count-aggregated. This is the
    input a skip-gram-with-negative-sampling (or GloVe-style) KG
    embedding trainer consumes; together with ``random_walks`` and
    ``negative_samples`` it closes the DeepWalk data path end-to-end.

    Entirely row-local until the final count: the windowed pair
    enumeration runs as nested JVM higher-order functions over the
    walk's token array (≤ (L+1)·2w pairs per walk, a constant), so the
    only exchange is the map-side-combinable (center, context) count —
    no join, no posexplode self-join re-shuffling the corpus.

    Accepts walks in either form ``random_walks`` produces: the
    lossless ``array<string>`` path (preferred — pass
    ``as_array=True`` upstream) or the ``"a->b"`` serialization, which
    is split here and is only faithful when entity ids contain no
    ``->`` (the serialized form exists for interchange/hashing).
    """
    from pyspark.sql.types import ArrayType

    from ner_spark.functions.colutil import let

    if isinstance(walks.schema["path"].dataType, ArrayType):
        toks_expr = F.col("path")
    else:
        toks_expr = F.split(F.col("path"), "->")

    # let-bind the token array: in the string-path branch an inlined
    # split would re-split the walk once per (center, context) index
    # (quadratic in walk length)
    def build(toks):
        n = F.size(toks)

        def per_center(i):
            lo = F.greatest(F.lit(0), i - F.lit(window))
            hi = F.least(n - 1, i + F.lit(window))
            return F.filter(
                F.transform(
                    F.sequence(lo, hi),
                    lambda j: F.struct(
                        F.element_at(toks, i + 1).alias("center"),
                        F.element_at(toks, j + 1).alias("context"),
                        (j != i).alias("ok"),
                    ),
                ),
                lambda s: s.ok,
            )

        return F.flatten(F.transform(F.sequence(F.lit(0), n - 1), per_center))

    pairs = let(toks_expr, build)
    return (
        walks.select(F.explode(pairs).alias("p"))
        .select("p.center", "p.context")
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def edge_holdout_split(
    edges: DataFrame,
    test_pct: int = 10,
    valid_pct: int = 10,
    seed: str = "edgesplit",
) -> DataFrame:
    """Deterministic transductive train/valid/test split of the
    canonical edge table for KG-embedding / link-prediction evaluation:
    ``(src_entity, pred, dst_entity, n_turns, split)``. Together with
    ``random_walks``/``walk_skipgram_pairs``/``negative_samples`` this
    closes the KG-embedding loop: train corpus, eval triples, negatives.

    Protocol (the standard transductive constraint): edges are bucketed
    by ``h60(seed|src|pred|dst) mod 100`` — test < test_pct ≤ valid <
    test_pct+valid_pct ≤ train — then any valid/test edge whose head OR
    tail never appears in a TRAIN edge is reassigned to train (an
    entity unseen at training time cannot be scored at eval time;
    dropping such edges would silently shrink the eval set, so they are
    returned to train instead — mirrored verbatim in the SQL oracle).
    Hash bucketing makes the split a pure function of the edge triple:
    stable under re-partitioning, engine-independent, and
    delta-friendly (an edge's split never changes when other edges
    arrive).

    Plan: one row-local hash projection, one train-endpoint dimension
    (distinct over train edges), two left-semi-shaped membership joins
    expressed as a single left join + flag — every exchange keyed on
    entity id.
    """
    from ner_spark.operators.linking import md5_hash60_col

    h = F.pmod(
        md5_hash60_col(
            F.concat_ws(
                "|",
                F.lit(seed),
                F.col("src_entity"),
                F.col("pred"),
                F.col("dst_entity"),
            )
        ),
        F.lit(100),
    )
    tagged = edges.withColumn(
        "split0",
        F.when(h < test_pct, F.lit("test"))
        .when(h < test_pct + valid_pct, F.lit("valid"))
        .otherwise(F.lit("train")),
    )
    train_nodes = (
        tagged.where(F.col("split0") == "train")
        .select(F.col("src_entity").alias("x"))
        .unionByName(
            tagged.where(F.col("split0") == "train")
            .select(F.col("dst_entity").alias("x"))
        )
        .distinct()
    )
    ts = train_nodes.withColumnRenamed("x", "src_entity").withColumn(
        "src_seen", F.lit(True)
    )
    td = train_nodes.withColumnRenamed("x", "dst_entity").withColumn(
        "dst_seen", F.lit(True)
    )
    return (
        tagged.join(ts, "src_entity", "left")
        .join(td, "dst_entity", "left")
        .select(
            "src_entity",
            "pred",
            "dst_entity",
            "n_turns",
            F.when(
                (F.col("split0") != "train")
                & (
                    F.col("src_seen").isNull() | F.col("dst_seen").isNull()
                ),
                F.lit("train"),
            )
            .otherwise(F.col("split0"))
            .alias("split"),
        )
    )


def entity_cards(
    nodes: DataFrame, edges: DataFrame, k_preds: int = 3
) -> DataFrame:
    """The per-entity profile card — the "entity page" view a KG
    browser, labeling UI, or debugging session reads: identity
    (type/name), mention mass, degree/weight profile, and the top-k
    predicates the entity participates in (either endpoint role),
    serialized ``"pred#count; …"`` in rank order. One row per entity in
    ``nodes``; entities with no edges keep zeroed/empty profile fields.

    Scale shape: degree and predicate participation both reduce the
    edge list through map-side-combinable aggregates keyed on entity
    id; the top-k predicate rank is a per-entity window bounded by
    |preds| rows; the serialization trims to k BEFORE the collect
    (bounded buffer, same device as edge_provenance); the final
    assembly is three left joins keyed on entity_id.
    """
    from pyspark.sql import Window

    deg = degree_stats(edges)
    part = (
        edges.select(F.col("src_entity").alias("entity_id"), "pred")
        .unionByName(edges.select(F.col("dst_entity").alias("entity_id"), "pred"))
        .groupBy("entity_id", "pred")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("entity_id").orderBy(F.desc("cnt"), F.asc("pred"))
    top = (
        part.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k_preds)
        .groupBy("entity_id")
        .agg(
            F.concat_ws(
                "; ",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("rn", "pred", "cnt"))
                    ),
                    lambda s: F.concat_ws("#", s.pred, s.cnt),
                ),
            ).alias("top_preds")
        )
    )
    zero = F.lit(0).cast("long")
    return (
        nodes.join(deg, "entity_id", "left")
        .join(top, "entity_id", "left")
        .select(
            "entity_id",
            "entity_type",
            "canonical_name",
            "n_surfaces",
            "n_mentions",
            F.coalesce("out_deg", zero).alias("out_deg"),
            F.coalesce("in_deg", zero).alias("in_deg"),
            F.coalesce("w_out", zero).alias("w_out"),
            F.coalesce("w_in", zero).alias("w_in"),
            F.coalesce("top_preds", F.lit("")).alias("top_preds"),
        )
    )


def bottleneck_paths(
    edges: DataFrame, sources: DataFrame, max_hops: int = 3
) -> DataFrame:
    """Max-min (bottleneck) path strength from a source set over the
    UNDIRECTED support graph: ``(src_entity, entity_id, strength)``
    where ``strength`` is the maximum over ≤ ``max_hops``-edge walks of
    the minimum edge support (``n_turns``) along the walk — the "how
    strongly is X connected to Y" trust-chain view (a chain is only as
    credible as its weakest assertion). Revisiting a node can never
    raise a walk's minimum, so the walk optimum equals the simple-path
    optimum and the relaxation is exact.

    All-integer max/min semiring — no floats anywhere, so the fixpoint
    is deterministic under any partitioning and engine. Bounded-hop
    Bellman-Ford shape: per round ONE frontier⋈edges join plus a
    (src, node)-keyed max, under ``iterate``.
    Parallel edges collapse to their strongest support before the loop,
    so the join input is the slim distinct adjacency.
    """
    raw = edges.select(
        F.col("src_entity").alias("u"),
        F.col("dst_entity").alias("v"),
        F.col("n_turns").cast("long").alias("w"),
    )
    e = (
        raw.unionByName(
            raw.select(
                F.col("v").alias("u"), F.col("u").alias("v"), "w"
            )
        )
        .groupBy("u", "v")
        .agg(F.max("w").alias("w"))
        .persist()
    )
    src = sources.select(
        F.col(sources.columns[0]).alias("src")
    ).distinct()

    def relax(best, *_):
        cand = best.join(e, best.x == e.u).select(
            "src", F.col("v").alias("x"), F.least("strength", "w").alias("strength")
        )
        return (
            best.unionByName(cand)
            .groupBy("src", "x")
            .agg(F.max("strength").alias("strength"))
        )

    start = (
        src.join(e, src.src == e.u)
        .groupBy("src", F.col("v").alias("x"))
        .agg(F.max("w").alias("strength"))
    )
    best = iterate(start, relax, max_hops - 1, cached=(e,))
    return best.where(F.col("x") != F.col("src")).select(
        F.col("src").alias("src_entity"),
        F.col("x").alias("entity_id"),
        "strength",
    )


def ego_edges(
    edges: DataFrame, sources: DataFrame, max_hops: int = 4
) -> DataFrame:
    """The EDGE set of the k-hop ego network — the subgraph a KGQA
    retriever or GNN sampler actually consumes (``bfs_hops`` gives the
    node frontier; the model needs the induced edges): every canonical
    edge whose BOTH endpoints lie within ``max_hops`` directed hops of
    the source set, original weights preserved.

    Plan: the reach set comes from the level-synchronous BFS (per-hop
    frontier joins, checkpointed); the induction is two LEFT SEMI joins
    of the edge table against the one-column reach frame — no weights
    or predicates travel through the BFS itself, and the semi joins
    broadcast whenever the ego network fits (AQE decides).
    """
    reached = bfs_hops(edges, sources, max_hops).select("entity_id")
    return (
        edges.join(
            reached.withColumnRenamed("entity_id", "src_entity"),
            "src_entity",
            "left_semi",
        )
        .join(
            reached.withColumnRenamed("entity_id", "dst_entity"),
            "dst_entity",
            "left_semi",
        )
        .select("src_entity", "pred", "dst_entity", "n_turns")
    )


def pred_cooccurrence(edges: DataFrame) -> DataFrame:
    """Predicate co-assertion counts — ``(pred_a, pred_b, n_subjects)``
    with ``pred_a < pred_b``: how many subjects assert BOTH predicates.
    This is the schema-discovery complement of ``pred_signatures``
    (which types a predicate's arguments): co-occurrence mass reveals
    which predicates describe the same kind of entity ("makes" and
    "based_in" co-fire on brands) and feeds attribute-grouping for
    entity-card layout and ontology clustering.

    Scale shape: the per-subject distinct predicate set is bounded by
    the PREDICATE VOCABULARY (≤ a few hundred in any real ontology),
    so the within-subject pair expansion is O(|preds|²) per subject —
    a constant — and the final count reduces map-side on |preds|² keys.
    One exchange on the subject key, one on the tiny pair key.
    """
    sp = edges.select(
        F.col("src_entity").alias("subj"), "pred"
    ).distinct()
    a = sp.select("subj", F.col("pred").alias("pred_a"))
    b = sp.select("subj", F.col("pred").alias("pred_b"))
    return (
        a.join(b, "subj")
        .where(F.col("pred_a") < F.col("pred_b"))
        .groupBy("pred_a", "pred_b")
        .agg(F.count(F.lit(1)).alias("n_subjects"))
    )


def edge_decay_weights(
    canonical_triples: DataFrame,
    transcripts: DataFrame,
    halflife_days: int = 7,
) -> DataFrame:
    """Recency-weighted edge strength — ``(src_entity, pred,
    dst_entity, n_turns, last_ep, weight_decay_micro)`` where each
    assertion contributes ``1e6 >> k`` with ``k = min(age_days //
    halflife_days, 30)`` half-lives of age relative to the corpus's
    newest timestamp. This is the freshness signal a living KG ranks
    edges by: an edge asserted 100× last year scores below one asserted
    5× today, without ever deleting history (``kg_current_facts`` keeps
    the latest VALUE; this keeps a decayed WEIGHT).

    Exactness is the design point: textbook exponential decay
    (``exp(-λ·age)``) is an order-dependent float sum and drifts
    across engines; bucketing age into WHOLE half-lives makes every
    contribution an exact power-of-two right-shift of 1e6 — an
    integer, so the per-edge sum is order-independent and bit-identical
    anywhere, while keeping the decay semantics (weight halves per
    half-life). The shift is capped at 30 (1e6 >> 30 is already 0), so
    no overflow path exists.

    Plan shape: ts rides a (conv_id, turn_idx)-keyed join onto the
    triples (at 10^12-turn scale thread ts through extraction instead —
    see ``edge_temporal_profile``); the reference epoch is one scalar
    max broadcast back; the rollup is a single map-side-combinable
    edge-keyed aggregate.
    """
    t = canonical_triples.join(
        transcripts.select("conv_id", "turn_idx", "ts"),
        ["conv_id", "turn_idx"],
    ).select(
        F.col("subj").alias("src_entity"),
        "pred",
        F.col("obj").alias("dst_entity"),
        F.unix_timestamp("ts").alias("ep"),
    )
    ref = t.agg(F.max("ep").alias("ref_ep"))
    scored = t.crossJoin(F.broadcast(ref)).withColumn(
        "contrib",
        F.expr(
            "shiftright(1000000L, cast(least((ref_ep - ep) div 86400 "
            f"div {int(halflife_days)}, 30L) as int))"
        ),
    )
    return scored.groupBy("src_entity", "pred", "dst_entity").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.max("ep").alias("last_ep"),
        F.sum("contrib").alias("weight_decay_micro"),
    )


def linkpred_eval(
    edges: DataFrame, k: int = 10, probe_mod: int | None = None
) -> DataFrame:
    """End-to-end link-prediction evaluation of the Adamic-Adar scorer
    on the deterministic edge holdout — ONE summary row
    ``(n_test_edges, n_eval, n_ranked, hits_at_1, hits_at_10,
    mrr_micro)``. This closes the KG-completion loop the engine
    already ships the parts for: ``edge_holdout_split`` makes the
    transductive split, Adamic-Adar scores candidate pairs over the
    TRAIN graph only, and every test edge is ranked in both directions
    (q→t and t→q) against q's candidate list.

    Protocol (pinned, mirrored in the SQL oracle): candidates are the
    train-non-adjacent AA pairs; a test edge absent from its query's
    candidate list is unranked (contributes 0 to MRR and hits — the
    honest accounting; ``n_ranked`` reports how often the scorer even
    surfaces the held-out edge). Rank ties break (score desc, node id
    asc) — a total order. Per-item reciprocal ranks are floored onto
    the 1e-6 grid BEFORE the mean, so the MRR is an exact integer at
    any scale or partitioning.

    Scale shape: all heavy lifting is inside ``adamic_adar`` (salted
    wedge join, integer scores); the eval overlay joins slim (q, t)
    rows. ``probe_mod`` (the production protocol at scale) evaluates a
    deterministic 1/probe_mod sample of test edges —
    ``h60(u <US> v) % probe_mod == 0`` — and pushes the probe
    endpoints into the wedge enumeration as ``adamic_adar(restrict=)``
    so wedges between two non-probe nodes are never enumerated.
    MEASURED decision (sf0.1, cached edges, best-of-2 in fresh
    sessions): restricting to the FULL holdout's endpoints is a 2×
    LOSS (35.4 s vs 17.3 s) — a uniform 10% edge holdout's endpoints
    are degree-biased and touch ~72% of all candidate pairs, a
    property of the protocol, not the scale, so the full eval runs
    UNRESTRICTED; the restriction only pays when the query set is
    genuinely narrow, which is exactly the probe path.
    """
    # the split feeds THREE consumers (train graph ×2 via AA's own
    # lineage, test edges) AND its subtree is replicated dozens of
    # times through AA's salted wedge join and the rank overlay below.
    # A persist() would dedupe EXECUTION but keep the full logical
    # plan in every copy — with a deep upstream (the live extraction
    # lineage in the correctness gate) the overlay's plan reaches
    # ~10^2 copies of the whole pipeline and Catalyst/AQE planning
    # dominates wall-clock (measured: 142 s at sf0.01, driver-bound,
    # vs 6 s for the wedge join itself). localCheckpoint(eager=True)
    # truncates the plan to the materialized blocks — the established
    # device for every iterative op in this repo.
    split = edge_holdout_split(edges).localCheckpoint(eager=True)
    train = split.where(F.col("split") == "train").select(
        "src_entity", "pred", "dst_entity"
    )
    test = (
        split.where(
            (F.col("split") == "test")
            & (F.col("src_entity") != F.col("dst_entity"))
        )
        .select(
            F.least("src_entity", "dst_entity").alias("u"),
            F.greatest("src_entity", "dst_entity").alias("v"),
        )
        .distinct()
    )
    if probe_mod is not None:
        from ner_spark.operators.linking import md5_hash60_col

        test = test.where(
            F.pmod(
                md5_hash60_col(F.concat_ws("\u001f", "u", "v")),
                F.lit(probe_mod),
            )
            == 0
        )
    # the candidate table feeds TWO joins below AND is itself a 2-way
    # union of the same AA result — without a persist the salted wedge
    # join (the expensive part) executes once per branch per consumer.
    # Full eval: UNRESTRICTED AA (measured faster — see docstring).
    # Probe eval: the probe endpoints are a narrow set, so they are
    # pushed into the wedge enumeration (surviving pair scores are
    # bit-identical; wedges between two non-probe nodes never
    # enumerate).
    if probe_mod is None:
        aa = adamic_adar(train).localCheckpoint(eager=True)
    else:
        probe_nodes = test.select(F.col("u").alias("id")).unionByName(
            test.select(F.col("v").alias("id"))
        )
        aa = adamic_adar(train, restrict=probe_nodes).localCheckpoint(
            eager=True
        )
    cand = aa.select(
        F.col("node_u").alias("q"), F.col("node_v").alias("t"),
        F.col("aa_nano").alias("s"),
    ).unionByName(
        aa.select(
            F.col("node_v").alias("q"), F.col("node_u").alias("t"),
            F.col("aa_nano").alias("s"),
        )
    )
    ev = test.select(F.col("u").alias("q"), F.col("v").alias("t")).unionByName(
        test.select(F.col("v").alias("q"), F.col("u").alias("t"))
    )
    scored = ev.join(cand, ["q", "t"], "left")
    better = (
        scored.where(F.col("s").isNotNull())
        .select("q", "t", "s")
        .join(
            cand.withColumnsRenamed({"t": "t2", "s": "s2"}), "q"
        )
        .where(
            (F.col("s2") > F.col("s"))
            | ((F.col("s2") == F.col("s")) & (F.col("t2") < F.col("t")))
        )
        .groupBy("q", "t")
        .agg(F.count(F.lit(1)).alias("n_better"))
    )
    ranked = scored.join(better, ["q", "t"], "left").select(
        "q",
        "t",
        F.when(
            F.col("s").isNotNull(), F.coalesce("n_better", F.lit(0)) + 1
        ).alias("rnk"),
    )
    return ranked.agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("n_test_edges"),
        F.count(F.lit(1)).alias("n_eval"),
        F.count("rnk").alias("n_ranked"),
        F.sum(F.when(F.col("rnk") == 1, 1).otherwise(0)).alias("hits_at_1"),
        F.sum(F.when(F.col("rnk") <= k, 1).otherwise(0)).alias(
            f"hits_at_{k}"
        ),
        F.expr("sum(coalesce(1000000 div rnk, 0)) div count(1)").alias(
            "mrr_micro"
        ),
    )


def verbalize_entities(triples: DataFrame, max_facts: int = 32) -> DataFrame:
    """KG-to-text verbalization (the KELM recipe — Agarwal et al. 2021,
    "Knowledge Graph Based Synthetic Corpus Generation for
    Knowledge-Enhanced Language Model Pre-training") — ``(entity,
    n_facts, card_text)``: each subject's distinct (pred, obj) facts
    rendered as one deterministic training sentence, ``"subj: pred obj;
    pred obj."`` in (pred, obj) order. This is the artifact that feeds
    a KG back INTO the pretraining mix; ``n_facts`` is the subject's
    full distinct-fact count even when the rendering truncates.

    Hub safety: the rendering keeps only the first ``max_facts`` facts
    per subject (rank window in (pred, obj) order), so the collect
    buffer is bounded by ``max_facts`` regardless of how many facts a
    super-hub entity accumulates — same trim-before-collect device as
    entity_cards. The fact count rides the same window (count over the
    partition), so the operator is one exchange on the subject key.
    """
    from pyspark.sql import Window

    t = triples.select("subj", "pred", "obj").distinct()
    w = Window.partitionBy("subj").orderBy("pred", "obj")
    wall = Window.partitionBy("subj")
    r = (
        t.withColumn("rk", F.row_number().over(w))
        .withColumn("nf", F.count(F.lit(1)).over(wall))
        .where(F.col("rk") <= max_facts)
    )
    return r.groupBy("subj").agg(
        F.max("nf").cast("long").alias("n_facts"),
        F.concat(
            F.col("subj"),
            F.lit(": "),
            F.concat_ws(
                "; ",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("rk", "pred", "obj"))),
                    lambda s: F.concat_ws(" ", s.pred, s.obj),
                ),
            ),
            F.lit("."),
        ).alias("card_text"),
    ).withColumnRenamed("subj", "entity")


def cloze_questions(triples: DataFrame) -> DataFrame:
    """Synthetic QA pairs from the canonical KG — ``(question, answer,
    support)``: one row per distinct fact, rendered as the cloze
    template ``"what is the <pred> of <subj>?"`` with the object as
    the answer and ``support`` = how many (conv, turn) assertions back
    the fact. The QA-generation half of the KG-to-training-data story
    whose statement half is ``verbalize_entities``: cloze QA over
    extracted triples is the standard recipe for injecting KG facts
    into instruction-tuning mixes, and ``support`` is the confidence
    column a curation step thresholds on.

    A (subj, pred) with several objects yields several rows — the
    ambiguity is the KG's, not the renderer's; filter on
    ``pred_cardinality_profile``'s functional predicates when a
    single-answer guarantee is needed.

    Plan: one map-side-combinable aggregate on the fact key, then a
    row-local template render — nothing else.
    """
    return (
        triples.groupBy("subj", "pred", "obj")
        .agg(F.count(F.lit(1)).alias("support"))
        .select(
            F.concat(
                F.lit("what is the "),
                F.col("pred"),
                F.lit(" of "),
                F.col("subj"),
                F.lit("?"),
            ).alias("question"),
            F.col("obj").alias("answer"),
            "support",
        )
    )


def supergraph(
    edges: DataFrame,
    iters: int = 3,
    labels: DataFrame | None = None,
) -> DataFrame:
    """Community-contracted rollup of the KG — the graph OF communities:
    ``(src_community, dst_community, n_edges, total_weight, top_pred)``
    with one row per ordered community pair that at least one directed
    edge connects (``src_community == dst_community`` rows are the
    contracted self-loops carrying the community's internal mass).
    ``top_pred`` is the pair's dominant predicate (ties to the
    lexicographically smallest). Communities come from the same
    deterministic ``label_propagation`` (synchronous, ``iters`` rounds,
    weighted majority, lexicographic tie-break) the ``kg_communities``
    query exposes, so the rollup is a pure function of the edge set.

    This is the zoom-out view a KG explorer renders when the full graph
    is too big to draw, and the coarsening step of multilevel graph
    partitioning: at 10^12-turn scale the node graph has ~10^8
    entities but the supergraph has |communities|² worst-case — in
    practice a few thousand rows that fit on one screen / one driver.

    Scale shape: the (node, community) frame is slim and keyed on
    entity id; it joins the directed edge list once per endpoint (both
    shuffles on entity id, the same key every graph operator here
    uses), then everything collapses through ONE map-side-combinable
    aggregate keyed on (src_community, dst_community, pred) — strictly
    smaller than the edge list — followed by a per-pair arg-max via
    ``min(struct(-cnt, pred))``, a second tiny aggregate. No window
    over anything unbounded; self-loop node edges are dropped up front
    exactly as ``label_propagation`` itself drops them.
    """
    # same published-table contract as community_profiles: pass the
    # materialized assignment when one exists
    labels = _lpa_labels(edges, iters, labels, "supergraph")
    ls = labels.select(
        F.col("entity_id").alias("src_entity"),
        F.col("community").alias("src_community"),
    )
    ld = labels.select(
        F.col("entity_id").alias("dst_entity"),
        F.col("community").alias("dst_community"),
    )
    per_pred = (
        edges.where(F.col("src_entity") != F.col("dst_entity"))
        .select(
            "src_entity", "dst_entity", "pred",
            F.col("n_turns").cast("long").alias("w"),
        )
        .join(ls, "src_entity")
        .join(ld, "dst_entity")
        .groupBy("src_community", "dst_community", "pred")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.sum("w").alias("total_weight"),
        )
    )
    return (
        per_pred.groupBy("src_community", "dst_community")
        .agg(
            F.sum("n_edges").alias("n_edges"),
            F.sum("total_weight").alias("total_weight"),
            F.min(
                F.struct((-F.col("n_edges")).alias("nc"), "pred")
            )["pred"].alias("top_pred"),
        )
    )


def node_features(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Denormalized per-entity structural feature table — the one frame
    a GNN / KG-embedding trainer ingests, and the node-level audit view
    a curation UI sorts by: ``(entity_id, entity_type, n_mentions,
    out_edges, in_edges, out_nbrs, in_nbrs, out_preds, in_preds,
    w_out, w_in)``. Degree features count edge ROWS (parallel edges
    under different predicates each count); ``*_nbrs``/``*_preds`` are
    distinct-neighbor / distinct-predicate cardinalities; ``w_*`` sum
    the assertion support. Isolated nodes (no edges) keep their row
    with all-zero structure — dropping them is the classic silent-skew
    bug in feature exports.

    Scale shape: each directed edge explodes into exactly two slim
    (entity, direction, pred, nbr, w) rows, then ONE aggregate keyed on
    entity id produces every feature at once — a single shuffle on the
    same entity-id key every other graph operator here uses, instead
    of a per-feature join chain (the naive 6-join assembly shuffles
    the edge list 6 times). The distinct counts are per-key exact; hot
    entities are plain aggregation skew, which AQE absorbs. The final
    left join back to ``nodes`` broadcasts nothing and stays on the
    entity-id key.
    """
    out = edges.select(
        F.col("src_entity").alias("entity_id"),
        F.lit("out").alias("dir"),
        "pred",
        F.col("dst_entity").alias("nbr"),
        F.col("n_turns").cast("long").alias("w"),
    )
    inn = edges.select(
        F.col("dst_entity").alias("entity_id"),
        F.lit("in").alias("dir"),
        "pred",
        F.col("src_entity").alias("nbr"),
        F.col("n_turns").cast("long").alias("w"),
    )
    is_out = F.col("dir") == "out"
    feats = (
        out.unionByName(inn)
        .groupBy("entity_id")
        .agg(
            F.count(F.when(is_out, 1)).alias("out_edges"),
            F.count(F.when(~is_out, 1)).alias("in_edges"),
            F.countDistinct(F.when(is_out, F.col("nbr"))).alias("out_nbrs"),
            F.countDistinct(F.when(~is_out, F.col("nbr"))).alias("in_nbrs"),
            F.countDistinct(F.when(is_out, F.col("pred"))).alias("out_preds"),
            F.countDistinct(F.when(~is_out, F.col("pred"))).alias("in_preds"),
            F.coalesce(F.sum(F.when(is_out, F.col("w"))), F.lit(0)).alias(
                "w_out"
            ),
            F.coalesce(F.sum(F.when(~is_out, F.col("w"))), F.lit(0)).alias(
                "w_in"
            ),
        )
    )
    zero = F.lit(0).cast("long")
    return (
        nodes.select("entity_id", "entity_type", "n_mentions")
        .join(feats, "entity_id", "left")
        .select(
            "entity_id",
            "entity_type",
            "n_mentions",
            *[
                F.coalesce(F.col(c), zero).alias(c)
                for c in (
                    "out_edges", "in_edges", "out_nbrs", "in_nbrs",
                    "out_preds", "in_preds", "w_out", "w_in",
                )
            ],
        )
    )


def entity_salience(triples: DataFrame, k: int = 5) -> DataFrame:
    """Per-conversation salient entities — ``(conv_id, entity, tf, cf,
    salience, rk)``: the top-``k`` canonical entities of each
    conversation ranked by tf-idf over ASSERTIONS rather than tokens.
    ``tf`` counts the entity's appearances in the conversation's
    triples (subject or object role), ``cf`` counts conversations that
    mention it anywhere, ``salience = round(tf · (ln((N+1)/(cf+1)) +
    1), 6)`` with N the conversations carrying any triple — the same
    smoothed-idf / 6-decimal contract as ``tfidf_top_terms``, so
    corpus-wide boilerplate entities (high cf) sink and
    conversation-specific ones surface. This is the "what is this
    conversation about, in KG terms" signal a retrieval index or a
    conversation-card ranker keys on — the entity-level counterpart of
    the token-level tfidf_top_terms.

    Plan shape: each triple explodes into two slim (conv, entity) role
    rows; one pair-keyed count (map-side combinable), the entity
    conversation-frequency aggregated FROM that tf frame (no second
    pass), an entity-keyed join, N as a broadcast 1-row dimension, and
    a per-conv rank window bounded by the conversation's distinct
    entities — never a corpus-wide window. Rank order (salience desc,
    entity asc) is total, so output is engine- and partitioning-
    invariant.
    """
    occ = triples.select(
        "conv_id", F.col("subj").alias("entity")
    ).unionByName(triples.select("conv_id", F.col("obj").alias("entity")))
    tf = occ.groupBy("conv_id", "entity").agg(F.count(F.lit(1)).alias("tf"))
    cf = tf.groupBy("entity").agg(F.count(F.lit(1)).alias("cf"))
    n = tf.select("conv_id").distinct().agg(
        F.count(F.lit(1)).alias("n_convs")
    )
    scored = (
        tf.join(cf, "entity")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "salience",
            F.round(
                F.col("tf")
                * (
                    F.log(
                        (F.col("n_convs") + 1).cast("double")
                        / (F.col("cf") + 1)
                    )
                    + F.lit(1.0)
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("conv_id").orderBy(
        F.col("salience").desc(), F.col("entity").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("conv_id", "entity", "tf", "cf", "salience", "rk")
    )


def motif_census(
    edges: DataFrame, src: str = "src_entity", dst: str = "dst_entity"
) -> DataFrame:
    """Directed triad census of the KG restricted to complete triads —
    ``(triad_class, n_triads)`` for every triangle of the underlying
    undirected graph, classified by its direction pattern:

    * ``030T`` — no mutual pair, one node points at both others
      (feed-forward / hierarchy motif);
    * ``030C`` — no mutual pair, directions form a 3-cycle (feedback
      motif, rare in real hierarchies — its share is a standard
      structural health metric);
    * ``120D`` / ``120U`` / ``120C`` — exactly one mutually-connected
      pair; the off-dyad node has 2 outgoing / 2 incoming / one-each
      single edges (convention pinned HERE: D = off-dyad node points
      at the dyad);
    * ``210`` — two mutual pairs; ``300`` — all three mutual.

    Motif shares distinguish extraction noise from real structure (a
    KG whose 030C share explodes usually has a symmetric-predicate
    canonicalization bug), and the census is the feature vector for
    graph-level comparisons across corpus snapshots.

    Scale shape: triangle ENUMERATION reuses ``triangle_count``'s
    degree-oriented wedge closing — wedge volume O(m^1.5) no matter
    how skewed the degree distribution — except the closing join must
    KEEP the third vertex (inner join, not semi). Direction bits ride
    a slim per-undirected-pair state frame (fwd/rev/both, one row per
    pair, built with one aggregate from the distinct directed pairs);
    each triangle joins that frame three times on the uniform pair
    key, then classification is pure row-local CASE arithmetic and
    one tiny 7-key aggregate. The SQL oracle is the naive a<b<c
    triple join — free to be quadratic at fixture scale — asserting
    the same census.
    """
    from ner_spark.functions.dedup import register_persist

    d = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
        .where(F.col("s") != F.col("t"))
        .distinct()
    )
    # per-undirected-pair direction state: 1=a→b only, 2=b→a only, 3=both
    pair_state = register_persist(
        d.select(
            F.least("s", "t").alias("a"),
            F.greatest("s", "t").alias("b"),
            F.when(F.col("s") < F.col("t"), F.lit(1))
            .otherwise(F.lit(2))
            .alias("bit"),
        )
        .groupBy("a", "b")
        # d is distinct directed pairs, so each (a, b) sees bit=1 and
        # bit=2 at most once each: plain sum is the state or-mask
        .agg(F.sum("bit").alias("state"))
    )
    und = pair_state.select("a", "b")
    deg = (
        und.select(F.col("a").alias("x"))
        .unionByName(und.select(F.col("b").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    oriented = register_persist(
        und.join(deg.withColumnsRenamed({"x": "a", "deg": "deg_a"}), "a")
        .join(deg.withColumnsRenamed({"x": "b", "deg": "deg_b"}), "b")
        .select(
            F.when(
                (F.col("deg_a") < F.col("deg_b"))
                | (
                    (F.col("deg_a") == F.col("deg_b"))
                    & (F.col("a") < F.col("b"))
                ),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
    )
    w1 = oriented.select(F.col("u"), F.col("v").alias("p"))
    w2 = oriented.select(F.col("u"), F.col("v").alias("q"))
    wedges = w1.join(w2, "u").where(F.col("p") < F.col("q"))
    tri = wedges.join(
        und,
        (F.least("p", "q") == F.col("a")) & (F.greatest("p", "q") == F.col("b")),
    ).select("u", "p", "q")
    # canonical sorted triple (x < y < z) and its three pair states
    tri = tri.select(
        F.array_sort(F.array("u", "p", "q")).alias("n")
    ).select(
        F.col("n")[0].alias("x"), F.col("n")[1].alias("y"), F.col("n")[2].alias("z")
    )
    ps = pair_state
    tri = (
        tri.join(
            ps.select(F.col("a").alias("x"), F.col("b").alias("y"),
                      F.col("state").alias("s_xy")),
            ["x", "y"],
        )
        .join(
            ps.select(F.col("a").alias("x"), F.col("b").alias("z"),
                      F.col("state").alias("s_xz")),
            ["x", "z"],
        )
        .join(
            ps.select(F.col("a").alias("y"), F.col("b").alias("z"),
                      F.col("state").alias("s_yz")),
            ["y", "z"],
        )
    )
    n_mutual = (
        (F.col("s_xy") == 3).cast("int")
        + (F.col("s_xz") == 3).cast("int")
        + (F.col("s_yz") == 3).cast("int")
    )
    # out-degree of each vertex counting SINGLE (non-mutual) edges only
    out_x = (F.col("s_xy") == 1).cast("int") + (F.col("s_xz") == 1).cast("int")
    out_y = (F.col("s_xy") == 2).cast("int") + (F.col("s_yz") == 1).cast("int")
    out_z = (F.col("s_xz") == 2).cast("int") + (F.col("s_yz") == 2).cast("int")
    # the off-dyad vertex's single-edge out-count when n_mutual == 1
    z_out = (
        F.when(F.col("s_yz") == 3, out_x)
        .when(F.col("s_xz") == 3, out_y)
        .otherwise(out_z)
    )
    cls = (
        F.when(n_mutual == 3, F.lit("300"))
        .when(n_mutual == 2, F.lit("210"))
        .when(
            n_mutual == 1,
            F.when(z_out == 2, F.lit("120D"))
            .when(z_out == 0, F.lit("120U"))
            .otherwise(F.lit("120C")),
        )
        # n_mutual == 0: cyclic iff every vertex has out-degree exactly 1
        .when(
            (out_x == 1) & (out_y == 1) & (out_z == 1), F.lit("030C")
        )
        .otherwise(F.lit("030T"))
    )
    return (
        tri.select(cls.alias("triad_class"))
        .groupBy("triad_class")
        .agg(F.count(F.lit(1)).alias("n_triads"))
    )


def fact_confidence(triples: DataFrame) -> DataFrame:
    """Per-fact confidence scores for KG pruning — ``(subj, pred, obj,
    support, n_convs, conf_micro)``: ``support`` counts assertions of
    the fact, ``n_convs`` the distinct conversations asserting it
    (cross-conversation support is the stronger signal — one
    conversation repeating itself is not corroboration), and
    ``conf_micro = floor(1e6 · (support+1) / (sp_total + n_objs))``
    the Laplace-smoothed conditional probability of the object given
    (subj, pred), where ``sp_total`` is the subject-predicate's total
    assertion count and ``n_objs`` its distinct-object count. For a
    functional predicate asserted consistently, conf approaches 1; a
    noisy extraction that scattered objects over a subject-predicate
    pair scores every alternative low — threshold on conf_micro and
    the noise queue falls out.

    Plan shape: one fact-keyed aggregate over the triples (map-side
    combinable; the conv-distinct count expands in-plan), the
    (subj, pred) totals aggregated FROM that fact frame (strictly
    smaller — no second pass over the corpus), and one join back on
    the (subj, pred) key. The division is a single integer→IEEE
    double op floored onto the 1e-6 grid — exact on both engines. No
    window, no Python, nothing wider than the fact table itself.
    """
    facts = triples.groupBy("subj", "pred", "obj").agg(
        F.count(F.lit(1)).alias("support"),
        F.countDistinct("conv_id").alias("n_convs"),
    )
    sp = facts.groupBy("subj", "pred").agg(
        F.sum("support").alias("sp_total"),
        F.count(F.lit(1)).alias("n_objs"),
    )
    return facts.join(sp, ["subj", "pred"]).select(
        "subj",
        "pred",
        "obj",
        "support",
        "n_convs",
        F.floor(
            F.lit(1_000_000)
            * (F.col("support") + 1).cast("double")
            / (F.col("sp_total") + F.col("n_objs")).cast("double")
        ).cast("long").alias("conf_micro"),
    )


def entity_bursts(
    canonical_triples: DataFrame,
    transcripts: DataFrame,
    factor: int = 2,
    min_mentions: int = 3,
) -> DataFrame:
    """Temporal burst detection over entity assertion activity —
    ``(entity, day, n_mentions, total_mentions, n_days)``: one row per
    (entity, UTC day) whose assertion count exceeds ``factor`` × the
    entity's per-active-day corpus mean AND an absolute floor of
    ``min_mentions``. Bursts are the KG-side event detector ("this
    product suddenly dominates the transcripts — launch? incident?")
    and the skew early-warning for downstream per-entity partitioning.

    Determinism without a z-score: the threshold is the integer
    cross-multiplication ``n_mentions · n_days > factor ·
    total_mentions`` (n_days = the CORPUS's distinct active days, a
    broadcast scalar), so no mean, no variance, no sqrt — bit-exact on
    any engine. Day buckets are ``floor(epoch / 86400)`` UTC grid.

    Plan shape: triples join the 3-column-pruned transcripts on the
    (conv_id, turn_idx) key they are already clustered by (at full
    scale ``ts`` threads through extraction instead — see
    edge_temporal_profile); both entity roles union into slim
    (entity, day) rows; one pair-keyed count, the per-entity totals
    aggregated FROM that frame, the day census as a broadcast 1-row
    dimension, one join back on entity. No window anywhere.
    """
    with_ts = canonical_triples.join(
        transcripts.select("conv_id", "turn_idx", "ts"),
        ["conv_id", "turn_idx"],
    ).select(
        "subj", "obj",
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
    )
    occ = with_ts.select(F.col("subj").alias("entity"), "day").unionByName(
        with_ts.select(F.col("obj").alias("entity"), "day")
    )
    per_day = occ.groupBy("entity", "day").agg(
        F.count(F.lit(1)).alias("n_mentions")
    )
    totals = per_day.groupBy("entity").agg(
        F.sum("n_mentions").alias("total_mentions")
    )
    days = transcripts.select(
        F.floor(F.unix_timestamp("ts") / 86400).alias("d")
    ).agg(F.countDistinct("d").alias("n_days"))
    return (
        per_day.join(totals, "entity")
        .crossJoin(F.broadcast(days))
        .where(
            (F.col("n_mentions") * F.col("n_days")
             > F.lit(factor) * F.col("total_mentions"))
            & (F.col("n_mentions") >= min_mentions)
        )
        .select("entity", "day", "n_mentions", "total_mentions", "n_days")
    )


def transitive_closure(
    edges: DataFrame,
    preds: tuple[str, ...] = ("affiliated_with", "based_in", "located_in"),
    max_hops: int = 10,
) -> DataFrame:
    """All-pairs reachability over one predicate's subgraph —
    ``(src_entity, dst_entity, min_hops int)`` for every ordered pair
    connected by a directed path of <= ``max_hops`` edges (self-pairs
    excluded). The hierarchy-completion primitive: materializing the
    closure of a containment predicate (located_in, part_of) turns
    multi-hop KGQA lookups into single equi-joins, and is the standard
    pre-inference step for type/containment reasoning over extracted
    triples. The default predicate set composes org->org affiliation
    with org->place location, the chain the per-predicate (typed,
    bipartite) subgraphs cannot form alone.

    Level-synchronous multi-source BFS (every node is a source):
    starts from the distinct edge set as hop-1 pairs, each round joins
    the FRONTIER (pairs discovered last round, not the closure) to the
    edge list on ``frontier.dst = e.src``, anti-joins pairs already in
    the closure (first discovery = minimum hops); the rounds run under
    ``iterate``. Joins are keyed on entity ids; frontier rows are two
    ids wide — the closure itself, not any single buffer, is the only
    thing that grows. The oracle computes the same pairs by a
    recursive-CTE walk enumeration with min(hops) — a different
    algorithm agreeing on the fixture.
    """
    e = (
        edges.where(F.col("pred").isin(*preds))
        .select(F.col("src_entity").alias("s"), F.col("dst_entity").alias("d"))
        .where(F.col("s") != F.col("d"))
        .distinct()
        .persist()
    )
    step = e.select(F.col("s").alias("m"), F.col("d").alias("nd"))

    def extend(closure, i, keep):
        frontier = closure.where(F.col("min_hops") == i).select("s", "d")
        nxt = keep(
            frontier.join(step, frontier.d == step.m)
            .select("s", F.col("nd").alias("d"))
            .where(F.col("s") != F.col("d"))
            .distinct()
            .join(closure.select("s", "d"), ["s", "d"], "left_anti")
        )
        if nxt.isEmpty():
            return None
        return closure.unionByName(
            nxt.withColumn("min_hops", F.lit(i + 1).cast("int"))
        )

    start = e.withColumn("min_hops", F.lit(1).cast("int"))
    closure = iterate(start, extend, max_hops - 1, cached=(e,))
    return closure.select(
        F.col("s").alias("src_entity"),
        F.col("d").alias("dst_entity"),
        "min_hops",
    )


def subject_completeness(
    nodes: DataFrame, edges: DataFrame, min_share_pct: int = 50
) -> DataFrame:
    """Missing-fact candidates — the KG-completion WORK LIST: for every
    entity type, a predicate is *expected* when at least
    ``min_share_pct`` % of that type's subjects assert it; emit
    ``(entity_id, entity_type, pred)`` for each expected predicate an
    active subject of that type lacks. Ranked KG-completion pipelines
    (link prediction, verbalize-and-ask) start from exactly this table;
    `kg_linkpred_*` then scores the candidates this operator proposes.

    "Subjects of a type" are entities that assert at least one edge —
    inactive tail entities (objects only) carry no evidence about which
    predicates they should have, so they are excluded from both the
    share census and the emission (the oracle restates the same rule).

    Scale shape: everything is census-sized — one (subject, pred)
    distinct projection of the edge fact, one (type, pred) share
    aggregate tested by INTEGER cross-multiplication (100 * n_with >=
    pct * n_subjects, no ratio floats), and one expected-pairs x
    subjects join keyed on the type dimension minus an anti-join on
    the present pairs. Nothing scales with turns or with edge weights.
    """
    present = edges.select(
        F.col("src_entity").alias("entity_id"), "pred"
    ).distinct()
    typed = nodes.select("entity_id", "entity_type")
    subjects = present.select("entity_id").distinct().join(typed, "entity_id")
    n_by_type = subjects.groupBy("entity_type").agg(
        F.count(F.lit(1)).alias("n_subjects")
    )
    n_with = (
        present.join(typed, "entity_id")
        .groupBy("entity_type", "pred")
        .agg(F.count(F.lit(1)).alias("n_with"))
    )
    expected = (
        n_with.join(F.broadcast(n_by_type), "entity_type")
        .where(
            F.lit(100) * F.col("n_with")
            >= F.lit(min_share_pct) * F.col("n_subjects")
        )
        .select("entity_type", "pred")
    )
    return (
        subjects.join(F.broadcast(expected), "entity_type")
        .join(present, ["entity_id", "pred"], "left_anti")
        .select("entity_id", "entity_type", "pred")
    )


def pred_algebra(canonical_triples: DataFrame) -> DataFrame:
    """Relation-algebra census: ONE ROW PER PREDICATE scoring how
    SYMMETRIC it is (``p(a,b) ∧ p(b,a)`` reversed-pair overlap) and
    naming its best INVERSE candidate (the ``q ≠ p`` maximizing
    ``p(a,b) ∧ q(b,a)``) — ``(pred, support, sym_overlap,
    sym_confidence, inv_pred, inv_overlap)``. An ontology layer a KG
    built from free conversation needs before reasoning: symmetric
    preds can be stored once per unordered pair, inverse pairs
    ("works_at" / "employs") collapse into one canonical direction,
    and a mid-range score is an extraction-inconsistency audit queue.
    Confidence is overlap / support(p), AMIE's confidence restricted
    to the reversed-pair rule family. Emitted as a census (LEFT join,
    zero/NULL when no reversal exists) rather than a hit list, so an
    extractor that never produces reversed assertions still gets its
    per-pred report instead of an empty table.

    The evidence base is the DISTINCT triple set — the reference's
    pair-set semantics (``pairs = set()``, /root/reference/
    utils.py:551) lifted to triples — so repeated assertions of one
    fact don't inflate overlap. Self-loops are excluded: ``p(a,a)``
    trivially matches its own reverse and would report every
    self-looping pred as symmetric.

    Scale shape: the reversed-pair join keys on the FULL ``(subj,
    obj)`` entity pair, not on either endpoint — a pair's multiplicity
    is the number of distinct predicates asserted between exactly
    those two entities (a schema-sized constant), so per-key fan-out
    is bounded by |preds-on-pair|² regardless of entity degree; hub
    entities never concentrate a task. Everything after the pair join
    lives on the pred dimension: the support census and the
    argmax-inverse aggregate are map-side-combinable, and the final
    assembly broadcasts pred-sized sides.
    """
    t = (
        canonical_triples.select("subj", "pred", "obj")
        .where(F.col("subj") != F.col("obj"))
        .distinct()
    )
    support = t.groupBy("pred").agg(F.count(F.lit(1)).alias("support"))
    rev = t.select(
        F.col("obj").alias("subj"),
        F.col("pred").alias("pred_b"),
        F.col("subj").alias("obj"),
    )
    overlap = (
        t.join(rev, ["subj", "obj"])
        .groupBy(F.col("pred").alias("pred_a"), "pred_b")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    sym = overlap.where(F.col("pred_a") == F.col("pred_b")).select(
        F.col("pred_a").alias("pred"), F.col("overlap").alias("sym_overlap")
    )
    # deterministic argmax: max overlap, pred name as the tiebreak
    inv = (
        overlap.where(F.col("pred_a") != F.col("pred_b"))
        .groupBy(F.col("pred_a").alias("pred"))
        .agg(F.max(F.struct("overlap", "pred_b")).alias("best"))
        .select(
            "pred",
            F.col("best.pred_b").alias("inv_pred"),
            F.col("best.overlap").alias("inv_overlap"),
        )
    )
    return (
        support.join(F.broadcast(sym), "pred", "left")
        .join(F.broadcast(inv), "pred", "left")
        .select(
            "pred",
            "support",
            F.coalesce("sym_overlap", F.lit(0)).alias("sym_overlap"),
            F.round(
                F.coalesce("sym_overlap", F.lit(0)) / F.col("support"), 6
            ).alias("sym_confidence"),
            "inv_pred",
            F.coalesce("inv_overlap", F.lit(0)).alias("inv_overlap"),
        )
    )


def rule_confidence(
    canonical_triples: DataFrame,
    min_hits: int = 2,
    min_confidence: float = 0.05,
    max_mid_fanout: int = 4096,
) -> DataFrame:
    """Composition-rule mining (AMIE-style length-2 horn rules):
    for every predicate triple where ``p(a,b) ∧ q(b,c)`` paths exist,
    how often does a head edge ``r(a,c)`` close the path —
    ``(body_pred1, body_pred2, head_pred, n_body, n_hits,
    confidence)``. High-confidence rules drive KG completion (predict
    the missing ``r(a,c)`` wherever the body holds but the head is
    absent) and extraction QA (a confident rule that suddenly stops
    firing flags a broken extractor); `kg_subject_completeness`
    proposes per-entity gaps, this proposes the SCHEMA-level rules
    that justify them.

    ``n_body`` counts DISTINCT ``(a, c)`` entity pairs per body (the
    standard support definition — path multiplicity through many
    midpoints must not inflate support), ``n_hits`` counts body pairs
    closed by ``r``, confidence = n_hits / n_body.

    Scale shape: the path enumeration reuses `paths_2hop`'s wedge cap
    — midpoints with in-degree × out-degree > ``max_mid_fanout`` are
    excluded (at most a cap-bounded number of wedges per join key, no
    quadratic hub task); the head probe joins the DISTINCT body-pair
    set against the edge fact on the full ``(a, c)`` pair key, whose
    multiplicity is again schema-bounded. Both aggregates are
    map-side-combinable counts over pred-dimension keys.
    """
    e = (
        canonical_triples.select("subj", "pred", "obj")
        .where(F.col("subj") != F.col("obj"))
        .distinct()
    )
    ind = e.groupBy(F.col("obj").alias("mid")).agg(
        F.count(F.lit(1)).alias("ind")
    )
    outd = e.groupBy(F.col("subj").alias("mid")).agg(
        F.count(F.lit(1)).alias("outd")
    )
    ok = (
        ind.join(outd, "mid")
        .where(F.col("ind") * F.col("outd") <= max_mid_fanout)
        .select("mid")
    )
    e1 = e.select(
        F.col("subj").alias("a"),
        F.col("pred").alias("body_pred1"),
        F.col("obj").alias("mid"),
    ).join(ok, "mid")
    e2 = e.select(
        F.col("subj").alias("mid"),
        F.col("pred").alias("body_pred2"),
        F.col("obj").alias("c"),
    )
    body = (
        e1.join(e2, "mid")
        .where(F.col("a") != F.col("c"))
        .select("body_pred1", "body_pred2", "a", "c")
        .distinct()
    )
    n_body = body.groupBy("body_pred1", "body_pred2").agg(
        F.count(F.lit(1)).alias("n_body")
    )
    heads = e.select(
        F.col("subj").alias("a"),
        F.col("pred").alias("head_pred"),
        F.col("obj").alias("c"),
    )
    n_hits = (
        body.join(heads, ["a", "c"])
        .groupBy("body_pred1", "body_pred2", "head_pred")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        n_hits.join(F.broadcast(n_body), ["body_pred1", "body_pred2"])
        .select(
            "body_pred1",
            "body_pred2",
            "head_pred",
            "n_body",
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_body"), 6).alias("confidence"),
        )
        .where(
            (F.col("n_hits") >= min_hits)
            & (F.col("confidence") >= min_confidence)
        )
    )


def fact_history(
    canonical_triples: DataFrame, transcripts: DataFrame
) -> DataFrame:
    """SCD-2 fact timeline for functional predicates — every VALUE
    CHANGE of a (pred, subject) fact as a half-open validity interval:
    ``(pred, src_entity, obj, valid_from, valid_to, version)``,
    ``valid_to`` NULL on the current version. `kg_current_facts`
    answers "what does the KG believe NOW"; this is its full history
    companion — the table a temporal-KGQA or audit consumer reads
    ("where was the office BEFORE Austin?"), and the precise shape of
    a slowly-changing-dimension type-2 load over conversational
    assertions. Functional predicates are induced by the same
    majority-single-valued census as `current_facts` (set-valued preds
    like "makes" have no meaningful succession order).

    Consecutive re-assertions of the SAME object collapse into one
    version (a fact re-stated is not a change); ordering within a fact
    is the deterministic lexicographic (epoch, conv_id, turn_idx, obj)
    — identical across engines and partitionings.

    Scale shape: ts rides the (conv_id, turn_idx) equi-join; then ONE
    exchange on (pred, src_entity) feeds both windows — the
    change-collapse lag and the interval lead/version run over the
    same partition key, so Catalyst plans a single Exchange with two
    in-partition sorts; a window partition is one fact's assertion
    history (bounded by re-assertion rate, never by corpus size). The
    functional census is a pred-dimension broadcast.
    """
    t = canonical_triples.join(
        transcripts.select("conv_id", "turn_idx", "ts"),
        ["conv_id", "turn_idx"],
    ).select(
        "pred",
        F.col("subj").alias("src_entity"),
        "obj",
        F.unix_timestamp("ts").alias("ep"),
        "conv_id",
        "turn_idx",
    )
    per_subj = t.groupBy("pred", "src_entity").agg(
        F.countDistinct("obj").alias("n_objects")
    )
    census = per_subj.groupBy("pred").agg(
        F.sum(F.when(F.col("n_objects") == 1, 1).otherwise(0)).alias("single"),
        F.sum(F.when(F.col("n_objects") > 1, 1).otherwise(0)).alias("multi"),
    )
    functional = census.where(F.col("single") > F.col("multi")).select("pred")
    w = Window.partitionBy("pred", "src_entity").orderBy(
        "ep", "conv_id", "turn_idx", "obj"
    )
    ordered = (
        t.join(F.broadcast(functional), "pred")
        .withColumn("prev_obj", F.lag("obj").over(w))
    )
    changes = ordered.where(
        F.col("prev_obj").isNull() | (F.col("obj") != F.col("prev_obj"))
    )
    return changes.select(
        "pred",
        "src_entity",
        "obj",
        F.col("ep").alias("valid_from"),
        F.lead("ep").over(w).alias("valid_to"),
        F.row_number().over(w).alias("version"),
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src_entity",
    dst: str = "dst_entity",
    weight: str = "n_turns",
) -> DataFrame:
    """Personalized PageRank: random walk with restart to a SEED set
    instead of the uniform teleport — ``(entity_id, ppr_micro)`` with
    ``ppr_micro = floor(ppr·10⁶ + 0.5)``. This is the KG's
    "relevance around these entities" primitive: seed it with a
    query's linked entities and the ranks order the neighborhood for
    retrieval/expansion (the re-ranking signal a KG-RAG stack feeds
    its retriever).

    Restart mass is uniform over the seed set (1/|S| each); dangling
    mass restarts to the seeds too (the standard PPR absorbing rule),
    so each iteration folds the dangling scalar into the restart
    coefficient: pr' = (1-α + α·dang)·r + α·contrib. Same
    communication pattern as ``pagerank`` (one slim-vector hash join +
    one aggregate + one scalar reduction per iteration, under
    ``iterate``); the integer micro grid absorbs per-sum float noise
    exactly as there.
    """
    seed_ids = seeds.select(F.col(seeds.columns[0]).alias("x")).distinct()
    n_seeds = seed_ids.count()
    if n_seeds == 0:
        raise ValueError(
            "personalized_pagerank requires a non-empty seed set "
            "(restart mass is 1/|S| per seed)"
        )
    e = edges.select(
        F.col(src).alias("s"),
        F.col(dst).alias("d"),
        F.col(weight).cast("double").alias("w"),
    )
    out_w = e.groupBy("s").agg(F.sum("w").alias("w_out"))
    nodes = (
        e.select(F.col("s").alias("x"))
        .unionByName(e.select(F.col("d").alias("x")))
        .distinct()
        .persist()
    )
    trans = (
        e.join(out_w, "s")
        .select("s", "d", (F.col("w") / F.col("w_out")).alias("frac"))
        .persist()
    )
    dangling_nodes = nodes.join(
        out_w.select(F.col("s").alias("x")), "x", "left_anti"
    ).persist()
    restart = nodes.join(seed_ids, "x", "left_semi").select(
        "x", F.lit(1.0 / n_seeds).alias("r")
    ).persist()

    def rank(pr, *_):
        dang = pr.join(dangling_nodes, "x").agg(F.sum("pr")).collect()[0][0]
        coef = (1.0 - damping) + damping * (dang or 0.0)
        contrib = (
            trans.join(pr, trans.s == pr.x)
            .groupBy("d")
            .agg(F.sum(F.col("pr") * F.col("frac")).alias("c"))
        )
        return (
            nodes.join(contrib, nodes.x == contrib.d, "left")
            .join(restart, "x", "left")
            .select(
                "x",
                (
                    F.lit(coef) * F.coalesce(F.col("r"), F.lit(0.0))
                    + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("pr"),
            )
        )

    start = restart.select("x", F.col("r").alias("pr"))
    pr = iterate(start, rank, iters, cached=(nodes, trans, dangling_nodes, restart))
    return pr.select(
        F.col("x").alias("entity_id"),
        F.floor(F.col("pr") * F.lit(1e6) + F.lit(0.5)).alias("ppr_micro"),
    )


def hits_scores(edges: DataFrame, iters: int = 3) -> DataFrame:
    """HITS hubs-and-authorities over the DISTINCT directed canonical
    edge set: ``(entity_id, hub_micro, auth_micro)`` on the 10⁻⁶
    integer grid. In a conversational KG the authority rank surfaces
    the entities facts point AT (the answer-entities worth
    verbalizing into cards) and the hub rank the entities facts
    radiate FROM (the subject-entities worth crawling next) — the
    asymmetry PageRank's single score can't express.

    L1 normalization each half-step (scores are non-negative, so the
    L1 norm is one SUM — a scalar reduction per half-step, the same
    driver-side single-row pattern as PageRank's dangling mass).
    Per iteration: auth' = Σ_{s→x} hub(s) then normalize; hub' =
    Σ_{s→x} auth'(x) then normalize. Each half-step is one hash join
    of the slim score vector against the edge frame + one aggregate;
    the iterations run under ``iterate``. Nodes with no in-edges
    (resp. out-edges) keep authority (resp. hub) 0 via the left join.
    """
    if iters < 1:
        raise ValueError("hits_scores requires iters >= 1")
    e = (
        edges.select(
            F.col("src_entity").alias("s"), F.col("dst_entity").alias("d")
        )
        .distinct()
        .persist()
    )
    nodes = (
        e.select(F.col("s").alias("x"))
        .unionByName(e.select(F.col("d").alias("x")))
        .distinct()
        .persist()
    )
    n_nodes = max(nodes.count(), 1)  # an empty graph: rounds over empty frames

    # per half-step, the edge join is materialized ONCE (the kept raw
    # sums); the L1 norm is then a tiny scalar reduction over the
    # materialized rows and the normalized vector a cheap node-keyed
    # projection of them — without it the join would execute twice per
    # half-step (once under the norm collect, once under the vector's
    # own checkpoint), doubling the real per-iteration work. Measured
    # neutral at sf0.1 (the 882-node graph is per-job-overhead-
    # dominated); the win is the halved join volume at data scale,
    # where the edge join IS the iteration cost.
    def half_step(vec, by, to, keep):
        raw = keep(
            e.join(vec, e[by] == vec.x).groupBy(to).agg(F.sum("score").alias("raw"))
        )
        tot = raw.agg(F.sum("raw")).collect()[0][0] or 1.0
        return keep(
            nodes.join(raw, nodes.x == raw[to], "left").select(
                "x",
                (F.coalesce(F.col("raw"), F.lit(0.0)) / F.lit(tot)).alias("score"),
            )
        )

    def hits_round(state, _, keep):
        auth = half_step(state[0], "s", "d", keep)
        return half_step(auth, "d", "s", keep), auth

    start = nodes.select("x", F.lit(1.0 / n_nodes).alias("score"))
    hub, auth = iterate((start, None), hits_round, iters, cached=(e, nodes))
    return (
        hub.withColumnsRenamed({"score": "h"})
        .join(auth.withColumnsRenamed({"score": "a"}), "x")
        .select(
            F.col("x").alias("entity_id"),
            F.floor(F.col("h") * F.lit(1e6) + F.lit(0.5)).alias("hub_micro"),
            F.floor(F.col("a") * F.lit(1e6) + F.lit(0.5)).alias("auth_micro"),
        )
    )


def neighbor_jaccard(
    edges: DataFrame,
    max_mid_degree: int = 65536,
    min_common: int = 1,
) -> DataFrame:
    """Structural node similarity over the undirected canonical KG:
    for every node pair sharing at least ``min_common`` neighbors,
    ``(node_u, node_v, common_neighbors, union_size, jacc_micro)``
    where jacc = |N(u)∩N(v)| / |N(u)∪N(v)| — the alias-merge /
    role-twin signal ("these two entities connect to the same
    things") that complements Adamic-Adar's missing-edge score.

    EXACT up to the super-hub cut: a common neighbor has degree ≥ 2
    by definition, so the deg ≥ 2 band on wedge mids is lossless;
    mids with deg > ``max_mid_degree`` are excluded identically in
    the SQL oracle (same celebrity-hub cut as ``adamic_adar`` — a
    hub's wedge volume is quadratic while its similarity evidence is
    generic). Union sizes come from FULL degrees (deg_u + deg_v −
    common), and jacc_micro = (2·10⁶·common + union) div (2·union) —
    all-integer rounding, bit-identical on any engine.

    Scale shape: wedge enumeration rides ``functions/dedup.py:
    salted_join`` on the mid key (hot mids spread over a grid of
    bounded cells); the pair aggregate map-side combines; degrees
    join on near-unique node ids (broadcast under AQE when the node
    dimension is small).
    """
    from ner_spark.functions.dedup import register_persist, salted_join

    und = register_persist(undirected_edges(edges))
    adj = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = register_persist(
        adj.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    )
    mids = register_persist(
        adj.join(deg, "a")
        .where((F.col("deg") >= 2) & (F.col("deg") <= max_mid_degree))
        .select(F.col("a").alias("z"), F.col("b").alias("id"))
    )
    pairs = (
        salted_join(
            mids.withColumnRenamed("id", "id_a"),
            mids.withColumnRenamed("id", "id_b"),
            ["z"],
            "id_a",
            "id_b",
        )
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
        .where(F.col("common_neighbors") >= min_common)
    )
    deg_u = deg.select(F.col("a").alias("id_a"), F.col("deg").alias("deg_u"))
    deg_v = deg.select(F.col("a").alias("id_b"), F.col("deg").alias("deg_v"))
    out = (
        pairs.join(deg_u, "id_a")
        .join(deg_v, "id_b")
        .select(
            F.col("id_a").alias("node_u"),
            F.col("id_b").alias("node_v"),
            "common_neighbors",
            (
                F.col("deg_u") + F.col("deg_v") - F.col("common_neighbors")
            ).alias("union_size"),
        )
        .withColumn(
            "jacc_micro",
            F.expr(
                "(2000000 * common_neighbors + union_size)"
                " div (2 * union_size)"
            ),
        )
    )
    return out

"""M4 — canonicalization: connected components via large-star/small-star.

Implements the alternating star-contraction algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14 — the algorithm the
north_star names) as an iterative DataFrame loop:

* **large-star**: every node points its *larger* neighbors at the minimum
  of its neighborhood (including itself);
* **small-star**: every node points its *smaller-or-equal* neighbors and
  itself at the minimum of its small neighborhood.

Both rounds are a single groupBy-min + re-emit — two shuffles per
iteration — and converge in O(log n) rounds to star graphs whose centers
are the component minima. Canonical id = lexicographic min member id —
deterministic regardless of partitioning (SURVEY §7.4: min-id, never
first-seen), matching the union-find oracle ``ner_spark.kg.connected_components``.

Scale notes:
* the rounds run under ``graph.iterate``, which checkpoints each round
  so the plan stays one round deep (SURVEY §4 explicit-engineering item
  c) and releases every frame a round replaces;
* convergence is detected with a cheap deterministic signature
  (count + sum of hash over canonical directed edges) instead of a full
  except-join;
* ``max_iter`` bounds pathological inputs (a 2^20-node chain converges in
  ~20 alternating rounds; entity-link clusters are near-cliques and
  converge in 2-3). Running out of rounds raises: labels read off a
  graph that is not yet a star forest would be wrong components.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ner_spark.operators.graph import checkpointed, iterate


def _sym(edges: DataFrame) -> DataFrame:
    """Undirected edge set as deduped directed pairs (u, v), u != v."""
    fwd = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    rev = edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    return fwd.unionByName(rev).where(F.col("u") != F.col("v")).distinct()


def _large_star(e: DataFrame) -> DataFrame:
    """(u,v) -> for each neighbor v > u: edge (v, m(u)) where
    m(u) = min(N(u) ∪ {u})."""
    m = e.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        e.where(F.col("v") > F.col("u"))
        .join(m, "u")
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """(u,v) -> for each neighbor v <= u plus u itself: edge (v, m≤(u))."""
    le = e.where(F.col("v") < F.col("u"))
    m = le.groupBy("u").agg(F.min("v").alias("m"))
    leaves = le.join(m, "u").select(
        F.col("v").alias("src"), F.col("m").alias("dst")
    )
    selfe = m.select(F.col("u").alias("src"), F.col("m").alias("dst"))
    return (
        leaves.unionByName(selfe)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _star_round(e: DataFrame, *_) -> DataFrame:
    """One large-star + small-star round over a (src, dst) edge frame;
    either direction of an edge may be present."""
    return _small_star(_sym(_large_star(_sym(e))))


def _signature(e: DataFrame) -> tuple[int, int]:
    row = e.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.hash("src", "dst")), F.lit(0)).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"])


LOCAL_SOLVE_MAX_EDGES = 200_000


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "node_id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 25,
    local_threshold: int | None = LOCAL_SOLVE_MAX_EDGES,
) -> DataFrame:
    """Label every node with its component's minimum id.

    nodes: DataFrame with ``id_col``; edges: DataFrame with src/dst cols.
    Returns (node_id, component) — component = lexicographic min member.

    Adaptive strategy (AQE philosophy applied to the iteration): the
    star-contraction loop costs ~6 shuffles + a checkpoint per round —
    the right trade when edges don't fit anywhere, pure overhead when
    they do. Below ``local_threshold`` edges the component map is solved
    driver-side with union-find (milliseconds, same min-id answer —
    it IS the oracle algorithm) and broadcast-joined back; above it the
    distributed large-star/small-star loop runs. The NODE table never
    moves to the driver in either mode — only edge endpoints do, and at
    the threshold that is a few MB. Pass ``local_threshold=None`` to
    force the distributed path (tests exercise both and assert equal
    output). The distributed path raises ``RuntimeError`` when
    ``max_iter`` rounds end before the fixpoint."""
    e0 = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    if local_threshold is None:
        return _solve_distributed(nodes, e0, id_col, max_iter)
    # materialize the (possibly expensive, e.g. LSH-scored) edge lineage
    # ONCE before probing: the probe's collect and — when the graph is
    # over-threshold — the first star-contraction round both read the
    # checkpointed edges instead of recomputing them. The checkpoint is
    # released once the probe's rows are on the driver, or (distributed)
    # once the first round is checkpointed. Fault note: localCheckpoint
    # blocks are NOT fault-tolerant — an executor loss mid-computation
    # fails the job, which the manifest protocol answers by recomputing
    # the stage on resume (the documented trade for not paying the edge
    # lineage twice).
    with checkpointed(e0) as e0:
        probe = e0.limit(local_threshold + 1).collect()
        if len(probe) <= local_threshold:
            return _solve_local(nodes, probe, id_col)
        return _solve_distributed(nodes, e0, id_col, max_iter)


def _solve_distributed(
    nodes: DataFrame, e0: DataFrame, id_col: str, max_iter: int
) -> DataFrame:
    """Large-star/small-star rounds to a star forest, then each node's
    label read off its star: label(u) = min(u, min N(u)); isolated nodes
    label themselves."""
    e = iterate(e0, _star_round, max_iter, fixpoint=_signature)
    labels = _sym(e).groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("component")
    )
    return (
        nodes.select(F.col(id_col).alias("node_id"))
        .distinct()
        .join(labels.withColumnRenamed("u", "node_id"), "node_id", "left")
        .withColumn("component", F.coalesce("component", "node_id"))
    )


def _solve_local(nodes: DataFrame, edge_rows, id_col: str) -> DataFrame:
    """Small-graph path: union-find over collected edge endpoints,
    assignment broadcast back. Isolated nodes (the vast majority of a
    mention-link graph) never leave the executors. Works for any
    orderable id type — the assignment schema mirrors the node id's."""
    from ner_spark.kg import UnionFind

    spark = nodes.sparkSession
    uf = UnionFind()
    touched: set = set()
    for r in edge_rows:
        a, b = r["src"], r["dst"]
        touched.add(a)
        touched.add(b)
        uf.union(a, b)
    comp_min: dict = {}
    for n in touched:
        root = uf.find(n)
        if root not in comp_min or n < comp_min[root]:
            comp_min[root] = n
    rows = [(n, comp_min[uf.find(n)]) for n in sorted(touched)]
    id_type = dict(nodes.dtypes)[id_col]
    # a pandas frame takes the Arrow path: no Python worker pickles rows
    amap = spark.createDataFrame(
        pd.DataFrame(rows, columns=["node_id", "component"]),
        f"node_id {id_type}, component {id_type}",
    )
    return (
        nodes.select(F.col(id_col).alias("node_id"))
        .distinct()
        .join(F.broadcast(amap), "node_id", "left")
        .withColumn("component", F.coalesce("component", "node_id"))
    )


def canonicalize_triples(
    triples: DataFrame, assignment: DataFrame, relations_nodes: DataFrame
) -> DataFrame:
    """Rewrite mention-level triples to canonical entity ids.

    triples: (conv_id, turn_idx, subj, pred, obj, subj_type, obj_type)
    assignment: (node_id, component); relations_nodes: node table with
    (entity_type, norm, node_id, canonical_surface).

    Both endpoint rewrites are joins against the (small relative to
    triples) node→component map — broadcast when it fits, else a standard
    shuffled hash join that AQE can split on skew.
    """
    comp = assignment.join(
        relations_nodes.select("node_id", "entity_type", "norm"), "node_id"
    ).select("entity_type", "norm", "component")

    t = triples.withColumn(
        "subj_norm", F.concat_ws("|", F.col("subj_type"), _norm(F.col("subj")))
    ).withColumn(
        "obj_norm", F.concat_ws("|", F.col("obj_type"), _norm(F.col("obj")))
    )
    subj_map = comp.select(
        F.concat_ws("|", "entity_type", "norm").alias("subj_norm"),
        F.col("component").alias("subj_id"),
    )
    obj_map = comp.select(
        F.concat_ws("|", "entity_type", "norm").alias("obj_norm"),
        F.col("component").alias("obj_id"),
    )
    return (
        t.join(subj_map, "subj_norm")
        .join(obj_map, "obj_norm")
        .select(
            "conv_id",
            "turn_idx",
            F.col("subj_id").alias("subj"),
            "pred",
            F.col("obj_id").alias("obj"),
        )
        .distinct()
    )


def _norm(col):
    from ner_spark.operators.linking import normalize_surface_col

    return normalize_surface_col(col)

"""Similarity search over an embedding column (`array<float>`).

Baseline: brute-force cosine top-k (exact; the correctness oracle).
Scale path: bucketed LSH (coordinate-sign hyperplane signature) that
turns the all-pairs join into a per-bucket join — the IVF-style recall/
cost trade documented per function.

Cosines are computed with JVM-side higher-order functions
(``zip_with`` + ``aggregate`` in double precision, sequential array
order) and ROUNDED to 6 decimals before any ranking or thresholding —
the rounding is part of the spec so the DuckDB oracle (list_cosine_
similarity) agrees bit-for-bit on comparisons and ranks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine_col(a: Column, b: Column, decimals: int = 6) -> Column:
    return F.round(dot_col(a, b) / (norm_col(a) * norm_col(b)), decimals)


def cosine_pre_col(
    a: Column, b: Column, na: Column, nb: Column, decimals: int = 6
) -> Column:
    """``cosine_col`` with the norms PRECOMPUTED as columns — the hot
    quadratic pair scorers (one evaluation per candidate PAIR) fold a
    3-pass expression (dot + both norms, each a 64-element higher-order
    aggregate) down to the single dot pass by materializing each
    vector's norm once per ROW before the join. Bit-identical to
    cosine_col: norm_col evaluates the same expression tree on the same
    array wherever it runs, and the divide/round pipeline is unchanged
    (measured 12.5 -> ~5 s on hard_negatives at sf0.1)."""
    return F.round(dot_col(a, b) / (na * nb), decimals)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared top-k tail: deterministic rank (cosine desc, neighbor asc —
    a total order, so results are engine/partitioning-invariant) applied
    identically by the exact and both approximate search paths."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for each query vector.

    Cost model: |queries| × |corpus| cosines — the right plan when
    |queries| is small (the queries side is broadcast, corpus streamed);
    for query sets at corpus scale use ``lsh_topk``. Ranking ties break
    on neighbor id ascending (total order ⇒ engine-independent)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine_col(F.col("qv"), F.col("cv")))
    )
    return _rank_topk(scored, k)


def sign_bucket_col(
    vec: Column, n_planes: int = 8, offset: Column | int = 0
) -> Column:
    """LSH bucket id from the signs of ``n_planes`` coordinates starting
    at ``offset`` (axis-aligned hyperplanes — deterministic and
    engine-portable; a random-rotation variant plugs in by
    pre-multiplying the vectors). ``offset`` may be a column, which is
    how the multi-table variant derives each table's disjoint plane
    bank from the exploded table index."""
    off = offset if isinstance(offset, Column) else F.lit(offset)
    return F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_planes - 1)),
            lambda i: F.when(
                F.element_at(vec, (off + i + 1).cast("int")) >= 0,
                F.pow(F.lit(2.0), i).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign
    bucket(s). Per-bucket join ⇒ cost |bucket|·|queries-in-bucket|
    instead of |corpus|·|queries|; recall depends on bucket granularity
    (n_planes) — report it against ``brute_force_topk`` in benchmarks.

    ``n_tables`` > 1 is the standard LSH recall repair: each table
    buckets on a DISJOINT bank of ``n_planes`` coordinates (table t →
    coordinates [t·n_planes, (t+1)·n_planes); requires dim ≥
    n_tables·n_planes), and a pair is a candidate if it collides in ANY
    table — one-table miss probability p becomes pᴸ. Cost grows
    linearly in L (each side duplicates into L bucket streams); a
    (query, neighbor) pair meeting in several tables is deduped on slim
    scored rows before ranking, so multi-table results at L=1 are
    byte-identical to the single-table plan."""
    if n_tables < 1:
        raise ValueError("n_tables must be >= 1")
    tbl = F.explode_outer(F.sequence(F.lit(0), F.lit(n_tables - 1))).alias("tbl")

    def _side(df: DataFrame, idname: str, vecname: str) -> DataFrame:
        s = df.select(
            F.col(id_col).alias(idname), F.col(vec_col).alias(vecname), tbl
        )
        return s.withColumn(
            "bucket",
            sign_bucket_col(
                F.col(vecname), n_planes, offset=F.col("tbl") * n_planes
            ),
        )

    q = _side(queries, "query_id", "qv")
    c = _side(emb, "neighbor_id", "cv")
    scored = (
        c.join(q, ["tbl", "bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        # score inside the join, then dedup multi-table meetings on slim
        # (query, neighbor, cosine) rows — exchanges never carry vectors
        # (house ordering; see ivf_cosine_dup_pairs)
        .withColumn("cosine", cosine_col(F.col("qv"), F.col("cv")))
        .select("query_id", "neighbor_id", "cosine")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _rank_topk(scored, k)


def seed_centroids(
    emb: DataFrame, n_cells: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic seed centroids: the first ``n_cells`` vectors by id.
    (cell: long, cvec: array) — the cheap default; ``kmeans_centroids``
    refines them when recall matters."""
    return emb.where(F.col(id_col) < n_cells).select(
        F.col(id_col).cast("long").alias("cell"),
        F.col(vec_col).alias("cvec"),
    )


def _assign_cells(
    df: DataFrame, cent: DataFrame, idname: str, vecname: str, nprobe: int = 1
) -> DataFrame:
    """Nearest-``nprobe`` Voronoi cell(s) per vector against broadcast
    centroids. Ties break on lowest cell id over the ROUNDED cosine, so
    assignment is identical across engines and partitionings.

    nprobe=1 (the corpus side, the big pass) is a ``max_by`` aggregation
    — one partial+final agg, no per-id sort shuffle. nprobe>1 (the small
    query side) takes a rank window."""
    scored = df.crossJoin(F.broadcast(cent)).withColumn(
        "ccos", cosine_col(F.col(vecname), F.col("cvec"))
    )
    if nprobe == 1:
        best = scored.groupBy(idname).agg(
            F.max_by(
                F.struct(F.col("cell"), F.col(vecname).alias("v")),
                F.struct(F.col("ccos"), (-F.col("cell")).alias("tb")),
            ).alias("best")
        )
        return best.select(
            idname, F.col("best.v").alias(vecname), F.col("best.cell").alias("cell")
        )
    w = Window.partitionBy(idname).orderBy(F.col("ccos").desc(), F.col("cell").asc())
    return (
        scored.withColumn("crk", F.row_number().over(w))
        .where(F.col("crk") <= nprobe)
        .select(idname, vecname, "cell")
    )


def kmeans_centroids(
    emb: DataFrame,
    n_cells: int = 16,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd k-means over the embedding column, seeded with
    ``seed_centroids`` (deterministic — no sampling, so every run and
    both engines agree). Each iteration is one corpus pass: a broadcast
    nearest-cell assignment (``max_by`` agg) + an element-wise mean per
    cell (posexplode → (cell, pos) partial-agg mean → re-assembled
    array). Lineage is truncated per iteration; an emptied cell keeps
    its previous centroid. Returns (cell, cvec)."""
    cent = seed_centroids(emb, n_cells, id_col, vec_col)
    corpus = emb.select(F.col(id_col).alias("kid"), F.col(vec_col).alias("kv"))
    for _ in range(n_iter):
        assigned = _assign_cells(corpus, cent, "kid", "kv")
        means = (
            assigned.select("cell", F.posexplode("kv").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("new_cvec")
            )
        )
        cent = (
            cent.join(means, "cell", "left")
            .select("cell", F.coalesce("new_cvec", "cvec").alias("cvec"))
            .localCheckpoint(eager=True)
        )
    return cent


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: corpus partitioned into ``n_cells``
    Voronoi cells (deterministic seed centroids by default; pass
    ``centroids=kmeans_centroids(emb)`` for trained cells); each query
    probes its ``nprobe`` nearest cells.

    Cost: one broadcast pass to assign cells (|corpus|·n_cells cosines,
    embarrassingly parallel, folded into a ``max_by`` aggregation — no
    per-id sort) + a per-cell equi-join — the classic IVF trade vs brute
    force's |corpus|·|queries|. Raising ``nprobe`` multiplies only the
    query side's join fan-out, the recall knob benchmarked in BENCH.md."""
    cent = centroids if centroids is not None else seed_centroids(emb, n_cells, id_col, vec_col)
    c = _assign_cells(
        emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")),
        cent,
        "neighbor_id",
        "cv",
    )
    q = _assign_cells(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")),
        cent,
        "query_id",
        "qv",
        nprobe=nprobe,
    )
    # no pair dedup needed: the corpus side is assigned to exactly one
    # cell, so a (query, neighbor) pair meets in at most one probed cell.
    # Norms materialize once per row so pair scoring is dot-only.
    scored = (
        c.withColumn("cnorm", norm_col(F.col("cv")))
        .join(q.withColumn("qnorm", norm_col(F.col("qv"))), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            cosine_pre_col(
                F.col("qv"), F.col("cv"), F.col("qnorm"), F.col("cnorm")
            ),
        )
    )
    return _rank_topk(scored, k)


def ivf_cosine_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    n_cells: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs blocked by IVF cell — the
    scale path when no fine-grained label exists: a coarse label block
    (≈ the whole corpus at 100 TB) is replaced by ``n_cells`` Voronoi
    cells whose population the centroid count controls directly.

    Each vector lands in its ``nprobe`` nearest cells (multi-probe:
    near-dups sitting just across a Voronoi boundary still meet in one
    of the probed cells, the standard recall repair for cell blocking);
    pairs sharing any cell are verified by exact cosine ≥ threshold and
    deduped. Cost = Σ over cells |cell·nprobe|² — quadratic only within
    a cell, never across the corpus; the cell self-join is
    ``functions/dedup.py:salted_join``, so a hot cell spreads over a
    grid of bounded join cells."""
    from ner_spark.functions.dedup import register_persist, salted_join

    cent = centroids if centroids is not None else seed_centroids(emb, n_cells, id_col, vec_col)
    t = _assign_cells(
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")),
        cent,
        "id",
        "v",
        nprobe=nprobe,
    ).withColumn("n", norm_col(F.col("v")))  # once per row, pre-join
    t = register_persist(t)
    a = t.withColumnsRenamed({"id": "id_a", "v": "v_a", "n": "n_a"})
    b = t.withColumnsRenamed({"id": "id_b", "v": "v_b", "n": "n_b"})

    # hot Voronoi cells hold the corpus's dense regions — exactly where
    # the quadratic within-cell enumeration lands on one task without the
    # skew-split.
    return (
        salted_join(a, b, ["cell"], "id_a", "id_b")
        .where(F.col("id_a") < F.col("id_b"))
        # score FIRST (vectorized, dot-only — norms precomputed; at worst
        # nprobe× redundant for multi-cell meetings), filter, and only
        # then dedup: the dropDuplicates exchange carries slim
        # (id, id, cosine) rows of the few threshold survivors instead
        # of both embedding vectors for every candidate.
        .withColumn(
            "cosine",
            cosine_pre_col(
                F.col("v_a"), F.col("v_b"), F.col("n_a"), F.col("n_b")
            ),
        )
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
        .dropDuplicates(["id_a", "id_b"])
    )


def cosine_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a caller-supplied
    blocking key. Exact within block; when the key is coarse (or absent)
    use ``ivf_cosine_dup_pairs`` — cell blocking with multi-probe — as
    the scale path."""
    t = emb.select(
        F.col(block_col).alias("block"),
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
    )
    a = t.select("block", F.col("id").alias("id_a"), F.col("v").alias("v_a"))
    b = t.select("block", F.col("id").alias("id_b"), F.col("v").alias("v_b"))
    return (
        a.join(b, "block")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine_col(F.col("v_a"), F.col("v_b")))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_centroids(
    embeddings: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    dim: int | None = None,
    grid: int = 1_000_000,
) -> DataFrame:
    """Per-group mean embedding — ``(label, n_vectors, centroid)`` with
    the centroid serialized as a comma-joined list of 1e-6-grid
    integers (array cells don't survive the driver's canonicalizer).
    This is the distributed vector aggregation behind class prototypes,
    IVF coarse quantizers, and embedding-drift monitors.

    Determinism is the design problem floats create here: a naive
    ``sum(embedding[i])`` is reduction-order-dependent, so two runs (or
    two engines) disagree in the last ulp. Each element is therefore
    quantized to an int64 on the 1e-6 grid FIRST; the group sums are
    integer (order-independent), and the mean is one fixed-order IEEE
    division + round per element.

    Plan shape: the ``dim`` sums ride ONE map-side-combinable aggregate
    keyed on the group — no explode (which would multiply rows ×dim
    before the shuffle); partial aggregation reduces every partition to
    |groups| rows of dim+1 columns before the single exchange. ``dim``
    defaults to probing one row (bounded driver action, same device as
    the vocab-dim probe).
    """
    if dim is None:
        dim = len(
            embeddings.select(F.col(vec_col).alias("v")).head()["v"]
        )
    vec = F.col(vec_col)
    q = [
        F.floor(
            F.element_at(vec, i + 1).cast("double") * F.lit(float(grid))
            + F.lit(0.5)
        )
        .cast("long")
        .alias(f"q{i}")
        for i in range(dim)
    ]
    base = embeddings.select(F.col(group_col).alias("grp"), *q)
    aggs = [F.count(F.lit(1)).alias("n_vectors")] + [
        F.sum(f"q{i}").alias(f"s{i}") for i in range(dim)
    ]
    summed = base.groupBy("grp").agg(*aggs)
    mean = [
        F.floor(
            F.col(f"s{i}").cast("double")
            / F.col("n_vectors").cast("double")
            + F.lit(0.5)
        )
        .cast("long")
        .cast("string")
        for i in range(dim)
    ]
    return summed.select(
        F.col("grp").alias(group_col),
        "n_vectors",
        F.concat_ws(",", F.array(*mean)).alias("centroid"),
    )


def embedding_outliers(
    embeddings: DataFrame,
    k: int = 20,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    dim: int | None = None,
    grid: int = 1_000_000,
) -> DataFrame:
    """Top-``k`` embedding-space outliers — ``(vec_id, label, dist_q,
    rank)`` where ``dist_q`` is the squared euclidean distance to the
    GLOBAL corpus centroid, computed entirely on the 1e-6 integer grid.
    This is the distribution-shift/garbage filter of an embedding-based
    curation stack: encoding noise, off-domain documents, and broken
    vectors sit far from the corpus mean and surface here first.

    Determinism: both the centroid (same floor(sum/n + 0.5) per-dim
    arithmetic as ``embedding_centroids`` — the sums are
    order-independent int64) and every per-row distance are integers;
    rank ties break on vec_id ascending (total order).

    Plan shape: one map-side-combinable aggregate produces the
    single-row centroid (dim int64 sums, no explode), broadcast back
    via crossJoin; the distance is a row-local ``zip_with`` +
    ``aggregate`` inside codegen; the top-k is
    ``orderBy(...).limit(k)`` = TakeOrderedAndProject (never a global
    sort), and the final rank window runs over ≤ k rows by
    construction."""
    if dim is None:
        dim = len(embeddings.select(F.col(vec_col).alias("v")).head()["v"])
    vec = F.col(vec_col)
    qcols = [
        F.floor(
            F.element_at(vec, i + 1).cast("double") * F.lit(float(grid))
            + F.lit(0.5)
        )
        .cast("long")
        .alias(f"q{i}")
        for i in range(dim)
    ]
    base = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).alias("label"),
        F.array(*qcols).alias("qv"),
    )
    cent = (
        base.select([F.element_at("qv", i + 1).alias(f"q{i}") for i in range(dim)])
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(f"q{i}").alias(f"s{i}") for i in range(dim)],
        )
        .select(
            F.array(
                *[
                    F.floor(
                        F.col(f"s{i}").cast("double") / F.col("n").cast("double")
                        + F.lit(0.5)
                    ).cast("long")
                    for i in range(dim)
                ]
            ).alias("cv")
        )
    )
    scored = base.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        F.aggregate(
            F.zip_with(F.col("qv"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("dist_q"),
    )
    top = scored.orderBy(F.col("dist_q").desc(), F.col("vec_id").asc()).limit(k)
    w = Window.orderBy(F.col("dist_q").desc(), F.col("vec_id").asc())
    return top.withColumn("rank", F.row_number().over(w))


def rrf_fuse_topk(
    documents: DataFrame,
    embeddings: DataFrame,
    terms: list[str],
    query_vec_id: int = 0,
    k_each: int = 50,
    k: int = 10,
    rrf_k: int = 60,
) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion — ``(doc_id,
    lex_rank, dense_rank, rrf_micro)``: the top-``k_each`` BM25 lexical
    list and the top-``k_each`` brute-force-cosine dense list (the
    document's embedding shares its id) are fused with the standard
    RRF score Σ 1/(rrf_k + rank), each contribution floored onto the
    1e-6 integer grid BEFORE the sum so the fused score is exact and
    engine-independent. A doc present in only one list keeps a NULL
    rank on the other side and simply receives that list's
    contribution — the textbook RRF treatment.

    This closes the retrieval story: BM25 (`bm25_topk`) finds literal
    term matches, the dense arm finds paraphrases, and RRF is the
    standard zero-tuning fusion (Cormack et al., 2009) used by hybrid
    RAG stacks.

    Scale shape: both arms end in TakeOrderedAndProject(k_each), so
    everything downstream — the rank windows, the full-outer join, the
    final top-k — operates on ≤ 2·k_each rows by construction; the
    expensive parts are exactly the two arm queries, each already
    scale-shaped (BM25: no inverted-index shuffle for a bounded query;
    dense: broadcast query, streamed corpus)."""
    from ner_spark.functions.text import bm25_topk

    lex = bm25_topk(documents, terms, k=k_each)
    wl = Window.orderBy(F.col("score_micro").desc(), F.col("doc_id").asc())
    lex_r = lex.select(
        "doc_id", F.row_number().over(wl).cast("int").alias("lex_rank")
    )
    # single-query dense arm: TakeOrderedAndProject over the streamed
    # corpus (brute_force_topk's per-query rank window would put the
    # WHOLE corpus in one window partition for a 1-query set), then the
    # rank window runs over the k_each survivors only
    qv = embeddings.where(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qv")
    )
    dense_scored = (
        embeddings.crossJoin(F.broadcast(qv))
        .where(F.col("vec_id") != query_vec_id)
        .select(
            F.col("vec_id").alias("doc_id"),
            cosine_col(F.col("qv"), F.col("embedding")).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("doc_id").asc())
        .limit(k_each)
    )
    wd = Window.orderBy(F.col("cosine").desc(), F.col("doc_id").asc())
    dense = dense_scored.select(
        "doc_id", F.row_number().over(wd).cast("int").alias("dense_rank")
    )
    fused = lex_r.join(dense, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "dense_rank",
        (
            F.coalesce(
                F.floor(F.lit(1_000_000) / (F.lit(rrf_k) + F.col("lex_rank"))),
                F.lit(0),
            )
            + F.coalesce(
                F.floor(F.lit(1_000_000) / (F.lit(rrf_k) + F.col("dense_rank"))),
                F.lit(0),
            )
        )
        .cast("long")
        .alias("rrf_micro"),
    )
    return fused.orderBy(F.col("rrf_micro").desc(), F.col("doc_id").asc()).limit(k)


def _pq_subspaces(vec_col: str, n_sub: int, dim: int, grid: int):
    """Quantize a vector column onto the integer grid and slice it into
    ``n_sub`` contiguous subvectors — the shared front end of PQ
    encoding (pq_codes) and ADC search (pq_adc_topk). Row-local."""
    sub_dim = dim // n_sub
    qv = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(grid)) + F.lit(0.5)).cast(
            "long"
        ),
    )
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_sub - 1)),
        lambda s: F.slice(qv, s * sub_dim + 1, sub_dim),
    )


def _pq_sqdist() -> Column:
    """Integer squared distance between two grid-quantized subvectors
    bound as columns ``sv`` (vector side) and ``cv`` (codebook side)."""
    return F.aggregate(
        F.zip_with(F.col("sv"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _pq_codebook(
    embeddings: DataFrame, n_sub: int, n_cells: int, dim: int,
    id_col: str, vec_col: str, grid: int,
) -> DataFrame:
    """The deterministic seed codebook: first ``n_cells`` corpus vectors
    sliced per subspace — (cell, sub, cv), n_cells·n_sub slim rows."""
    subs = _pq_subspaces(vec_col, n_sub, dim, grid)
    return embeddings.where(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("cell"), F.posexplode(subs).alias("sub", "cv")
    )


def _pq_assign(
    embeddings: DataFrame, n_sub: int, n_cells: int, dim: int,
    id_col: str, vec_col: str, grid: int,
) -> DataFrame:
    """Per-(vector, subspace) nearest codebook entry — (vec_id, sub,
    cell, dist), the composite integer key ``dist·n_cells + cell``
    making the argmin unique on any engine/partitioning."""
    subs = _pq_subspaces(vec_col, n_sub, dim, grid)
    base = embeddings.select(
        F.col(id_col).alias("vec_id"), F.posexplode(subs).alias("sub", "sv")
    )
    cb = _pq_codebook(embeddings, n_sub, n_cells, dim, id_col, vec_col, grid)
    return (
        base.join(F.broadcast(cb), "sub")
        .select("vec_id", "sub", F.col("cell"), _pq_sqdist().alias("dist"))
        .groupBy("vec_id", "sub")
        .agg(
            F.min_by(
                "cell", F.col("dist") * n_cells + F.col("cell")
            ).alias("cell"),
            F.min("dist").alias("dist"),
        )
    )


def pq_codes(
    embeddings: DataFrame,
    n_sub: int = 4,
    n_cells: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    grid: int = 1_000_000,
) -> DataFrame:
    """Product-quantization encoding — ``(vec_id, codes,
    recon_err_q)``: the vector is split into ``n_sub`` contiguous
    subspaces; each subvector is assigned to its nearest of ``n_cells``
    per-subspace codebook entries (here the deterministic seed
    codebook: the first ``n_cells`` corpus vectors, the same convention
    as the IVF coarse quantizer); ``codes`` is the comma-joined cell
    sequence and ``recon_err_q`` the total squared quantization error
    on the 1e-6 integer grid.

    PQ is the memory side of the production ANN pair (IVF for the
    candidate list, PQ for the in-list distance): 64 float32 dims
    compress to ``n_sub`` bytes, a 64× reduction that lets a
    1000-executor cluster hold a trillion-vector index in RAM. This
    operator materializes the codes table that such an index serves
    from; `kmeans_centroids` plugs in as a trained codebook the same
    way it does for IVF.

    Determinism: distances are integer (both operands on the 1e-6
    grid); the assignment tie-breaks through the composite integer key
    ``dist·n_cells + cell`` (min is unique), so codes are identical on
    any engine or partitioning. Plan shape: quantize + subspace-slice
    are row-local; the codebook (n_cells·n_sub slim rows) broadcasts
    onto the exploded (vec, subspace) stream; one (vec, sub)-keyed
    min_by aggregate and one vec-keyed rollup — no corpus self-join,
    nothing wider than |corpus|·n_sub slim rows ever shuffles.
    """
    assigned = _pq_assign(embeddings, n_sub, n_cells, dim, id_col, vec_col, grid)
    return assigned.groupBy("vec_id").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(F.collect_list(F.struct("sub", "cell"))),
                lambda s: s["cell"].cast("string"),
            ),
        ).alias("codes"),
        F.sum("dist").alias("recon_err_q"),
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.4,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication") — ``(vec_id, cell,
    keep)``: the corpus is clustered (deterministic seed centroids by
    default; pass ``centroids=kmeans_centroids(emb)`` for trained
    cells, the same convention as IVF search), each vector lands in
    exactly one cell (nprobe=1 assignment), and within a cell a vector
    is DROPPED iff it has an above-threshold cosine neighbor with a
    strictly lower id — the deterministic keeper rule (lowest id per
    semantic-duplicate group survives; the paper keeps an arbitrary
    representative, so any pinned total order is a faithful variant,
    and an id order makes both engines and every partitioning agree).

    This is the ACTION half of ``ivf_cosine_dup_pairs``: same cell
    blocking, same multi-candidate cosine verification, but the output
    is the per-vector keep/drop verdict a curation pipeline applies,
    not the pair audit.

    Scale shape: one broadcast centroid pass (max_by aggregation, no
    per-id sort), the within-cell quadratic bounded by cell population
    (centroid count is the knob) and skew-split by
    ``functions/dedup.py:salted_join``, and the verdict join carries
    only the slim distinct dropped-id set. No corpus cross join, no
    window over the corpus.
    """
    from ner_spark.functions.dedup import register_persist, salted_join

    cent = (
        centroids
        if centroids is not None
        else seed_centroids(emb, n_cells, id_col, vec_col)
    )
    t = _assign_cells(
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")),
        cent,
        "id",
        "v",
    ).withColumn("n", norm_col(F.col("v")))  # once per row, pre-join
    t = register_persist(t)
    a = t.withColumnsRenamed({"id": "id_a", "v": "v_a", "n": "n_a"})
    b = t.withColumnsRenamed({"id": "id_b", "v": "v_b", "n": "n_b"})
    dropped = (
        salted_join(a, b, ["cell"], "id_a", "id_b")
        .where(F.col("id_a") < F.col("id_b"))
        # score first (vectorized, dot-only — norms precomputed), filter,
        # THEN distinct: the exchange carries only the few over-threshold
        # ids, never the vectors
        .where(
            cosine_pre_col(
                F.col("v_a"), F.col("v_b"), F.col("n_a"), F.col("n_b")
            )
            >= threshold
        )
        .select(F.col("id_b").alias("id"))
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    return t.join(dropped, "id", "left").select(
        F.col("id").alias(id_col),
        F.col("cell"),
        F.col("dropped").isNull().alias("keep"),
    )


def hard_negatives(
    emb: DataFrame,
    queries: DataFrame | None = None,
    k: int = 5,
    lo: float = 0.10,
    hi: float = 0.80,
    n_cells: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive retrieval training —
    ``(query_id, neighbor_id, cosine, rank)``: for each query the top-k
    neighbors whose rounded cosine falls in ``[lo, hi)`` — similar
    enough to be informative negatives, below the near-duplicate band
    that would poison the label (the standard ANCE/contrastive recipe:
    mine negatives from the middle of the similarity distribution).

    ``queries=None`` mines negatives for EVERY corpus vector — the
    training-set shape — which is exactly why this rides the IVF cell
    blocking rather than brute force: the corpus side is assigned to
    one cell (max_by aggregation), each query probes its ``nprobe``
    nearest cells, and a (query, neighbor) pair meets in at most one
    cell so no pair dedup is needed. Ranking ties break on neighbor id
    ascending (total order ⇒ engine/partitioning-independent).

    Scale shape: identical to ``ivf_topk`` — one broadcast-centroid
    pass, per-cell equi-joins whose quadratic is bounded by cell
    population (``n_cells`` is the knob, same trade as SemDeDup), and
    the band filter applies BEFORE the rank window so near-dup pairs
    never enter the top-k sort.
    """
    cent = (
        centroids
        if centroids is not None
        else seed_centroids(emb, n_cells, id_col, vec_col)
    )
    c = _assign_cells(
        emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")),
        cent,
        "neighbor_id",
        "cv",
    )
    qsrc = emb if queries is None else queries
    q = _assign_cells(
        qsrc.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")),
        cent,
        "query_id",
        "qv",
        nprobe=nprobe,
    )
    # norms materialize once per ROW (row-local, pre-join) so the
    # quadratic scoring pass is dot-only — see cosine_pre_col
    cn = c.withColumn("cnorm", norm_col(F.col("cv")))
    qn = q.withColumn("qnorm", norm_col(F.col("qv")))
    banded = (
        cn.join(qn, "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            cosine_pre_col(
                F.col("qv"), F.col("cv"), F.col("qnorm"), F.col("cnorm")
            ),
        )
        .where((F.col("cosine") >= lo) & (F.col("cosine") < hi))
    )
    return _rank_topk(banded, k)


def pq_adc_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_sub: int = 4,
    n_cells_pq: int = 16,
    n_cells_ivf: int = 16,
    dim: int = 64,
    grid: int = 1_000_000,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF+PQ asymmetric-distance (ADC) top-k — ``(query_id,
    neighbor_id, adc_q, rank)``: the SEARCH half of the production pair
    whose memory half is ``pq_codes``. The coarse IVF stage prunes the
    candidate list (corpus assigned to one Voronoi cell, queries probe
    ``nprobe``); the fine stage ranks candidates by ADC — the sum over
    subspaces of the exact (grid-integer) squared distance between the
    query's subvector and the candidate's CODEBOOK ENTRY, i.e. the
    distance a production index computes from the n_sub-byte codes
    without ever touching the original vectors (Jégou et al. 2011,
    "Product Quantization for Nearest Neighbor Search").

    Determinism: every distance is an integer on the 1e-6 grid and the
    rank order (adc asc, neighbor id asc) is total, so results are
    engine- and partitioning-independent — the same devices as
    pq_codes and ivf_topk, whose helpers this composes.

    Scale shape: corpus codes come from the shared ``_pq_assign`` (one
    broadcast-codebook pass, |corpus|·n_sub slim integer rows); the
    per-query distance table is |queries|·n_sub·n_cells slim rows and
    broadcasts onto the candidate stream (for corpus-scale query sets,
    swap the broadcast for a (sub, cell)-keyed shuffle join — the
    candidate join is already cell-blocked). Nothing corpus×corpus
    ever forms; the widest frame is candidate-pairs × n_sub integers.
    """
    cent = (
        centroids
        if centroids is not None
        else seed_centroids(emb, n_cells_ivf, id_col, vec_col)
    )
    c = _assign_cells(
        emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")),
        cent,
        "neighbor_id",
        "cv",
    )
    q = _assign_cells(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")),
        cent,
        "query_id",
        "qv",
        nprobe=nprobe,
    )
    # corpus side sits in exactly one cell -> a (query, neighbor) pair
    # meets in at most one probed cell, no pair dedup needed
    cand = (
        c.select("neighbor_id", "cell")
        .join(q.select("query_id", "cell"), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )
    codes = _pq_assign(emb, n_sub, n_cells_pq, dim, id_col, vec_col, grid).select(
        F.col("vec_id").alias("neighbor_id"),
        "sub",
        F.col("cell").alias("cell_pq"),
    )
    qsubs = queries.select(
        F.col(id_col).alias("query_id"),
        F.posexplode(_pq_subspaces(vec_col, n_sub, dim, grid)).alias("sub", "sv"),
    )
    cb = _pq_codebook(emb, n_sub, n_cells_pq, dim, id_col, vec_col, grid)
    dtab = qsubs.join(F.broadcast(cb), "sub").select(
        "query_id",
        "sub",
        F.col("cell").alias("cell_pq"),
        _pq_sqdist().alias("qdist"),
    )
    adc = (
        cand.join(codes, "neighbor_id")
        .join(F.broadcast(dtab), ["query_id", "sub", "cell_pq"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("qdist").alias("adc_q"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_q").asc(), F.col("neighbor_id").asc()
    )
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_q", "rank")
    )


def ann_recall_eval(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the IVF index against exact brute-force ground
    truth, as one summary row ``(n_queries bigint, k int, n_hits
    bigint, recall double)`` — the measurement every ANN deployment
    runs before trusting an approximate index (the recall/probe curve
    is THE tuning artifact; BENCH.md carries the clustered-fixture
    curve, this query pins the protocol itself as an operator with a
    two-engine oracle).

    Both arms reuse the production operators (ivf_topk /
    brute_force_topk); the overlay is an inner join on (query,
    neighbor) and two integer counts — recall = hits / (n_queries *
    k), one exact integer division in double, rounded to the 6-decimal
    spec. The brute arm is the eval's cost ceiling by design: ground
    truth at full scale is computed once over a sampled query set, not
    per query at serving time.
    """
    truth = brute_force_topk(emb, queries, k=k, id_col=id_col, vec_col=vec_col)
    approx = ivf_topk(
        emb,
        queries,
        k=k,
        n_cells=n_cells,
        id_col=id_col,
        vec_col=vec_col,
        nprobe=nprobe,
    )
    scored = truth.select("query_id", "neighbor_id").join(
        approx.select("query_id", "neighbor_id").withColumn("hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    return (
        scored.agg(
            F.countDistinct("query_id").alias("n_queries"),
            F.lit(k).cast("int").alias("k"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_hits"),
        )
        .select(
            "n_queries",
            "k",
            "n_hits",
            F.round(
                F.col("n_hits")
                / (F.col("n_queries") * F.lit(k)).cast("double"),
                6,
            ).alias("recall"),
        )
    )


MMR_LAMBDA = 0.5


def mmr_rerank(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance diversity rerank (Carbonell &
    Goldstein 1998) of each query's brute-force shortlist: greedily
    select ``k`` of ``shortlist`` candidates maximizing ``λ·rel −
    (1−λ)·max_sim_to_selected`` (λ = MMR_LAMBDA; the empty-selection
    max-sim is 0, so step 1 is argmax rel) — the rerank a RAG stack
    runs so the retrieved context isn't five near-copies of the same
    passage. Output ``(query_id, neighbor_id, rank int, mmr_score)``;
    ties break (score desc, neighbor_id asc), scores rounded to the
    6-decimal spec.

    This is the engine's showcase of the cogroup + applyInPandas path
    for genuinely iterative per-group logic Spark's relational algebra
    can't express: relevance AND all candidate-candidate similarities
    are computed JVM-side first (the same rounded-cosine expressions
    the green ANN operators use, so both engines see bit-identical
    inputs), and the Python stage receives two slim per-query frames
    — (candidate, rel) and (pair, sim), both bounded by the shortlist
    constant — to run the k-step greedy scan. Nothing in the Arrow
    exchange scales with the corpus.
    """
    import pandas as pd

    short = brute_force_topk(
        emb, queries, k=shortlist, id_col=id_col, vec_col=vec_col
    ).select("query_id", "neighbor_id", F.col("cosine").alias("rel"))
    vecs = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v")
    )
    # disjoint column names on the two shortlist copies: a bare
    # self-join on query_id is ambiguous to the analyzer
    ca = short.select(
        F.col("query_id").alias("qa"), F.col("neighbor_id").alias("na")
    ).join(
        vecs.select(F.col("neighbor_id").alias("na"), F.col("v").alias("va")),
        "na",
    )
    cb = short.select(
        F.col("query_id").alias("qb"), F.col("neighbor_id").alias("nb")
    ).join(
        vecs.select(F.col("neighbor_id").alias("nb"), F.col("v").alias("vb")),
        "nb",
    )
    pairs = (
        ca.join(
            cb, (F.col("qa") == F.col("qb")) & (F.col("na") < F.col("nb"))
        )
        .select(
            F.col("qa").alias("query_id"),
            "na",
            "nb",
            cosine_col(F.col("va"), F.col("vb")).alias("sim"),
        )
    )

    lam = MMR_LAMBDA

    def greedy(cand_pdf: pd.DataFrame, pair_pdf: pd.DataFrame) -> pd.DataFrame:
        if cand_pdf.empty:
            return pd.DataFrame(
                columns=["query_id", "neighbor_id", "rank", "mmr_score"]
            )
        qid = cand_pdf["query_id"].iloc[0]
        rel = dict(zip(cand_pdf["neighbor_id"], cand_pdf["rel"]))
        sim: dict[tuple, float] = {}
        for na, nb, s in zip(pair_pdf["na"], pair_pdf["nb"], pair_pdf["sim"]):
            sim[(na, nb)] = s
            sim[(nb, na)] = s
        selected: list = []
        out = []
        remaining = set(rel)
        for r in range(1, k + 1):
            if not remaining:
                break
            best = None
            for c in remaining:
                maxsim = max((sim[(c, s)] for s in selected), default=0.0)
                score = lam * rel[c] - (1.0 - lam) * maxsim
                key = (-score, c)
                if best is None or key < best[0]:
                    best = (key, c, score)
            _, pick, score = best
            selected.append(pick)
            remaining.remove(pick)
            # RAW score out — rounding happens JVM-side below so the
            # half-up contract matches the oracle (Python's round() is
            # banker's and flips last-digit ties)
            out.append((qid, pick, r, score))
        return pd.DataFrame(
            out, columns=["query_id", "neighbor_id", "rank", "mmr_score"]
        )

    ranked = (
        short.groupBy("query_id")
        .cogroup(pairs.groupBy("query_id"))
        .applyInPandas(
            lambda c, p: greedy(c, p),
            schema="query_id long, neighbor_id long, rank int, mmr_score double",
        )
    )
    return ranked.select(
        "query_id",
        "neighbor_id",
        "rank",
        F.round("mmr_score", 6).alias("mmr_score"),
    )


def sq_codes(
    embeddings: DataFrame,
    dim: int = 64,
    levels: int = 255,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    grid: int = 1_000_000,
) -> DataFrame:
    """Scalar (int8) quantization — ``(vec_id, codes, rem_q)``: each
    dimension is linearly mapped to ``[0, levels]`` against the
    CORPUS-GLOBAL per-dimension min/max, the compression baseline every
    vector store ships before PQ (4 bytes/dim → 1; `pq_codes` is the
    aggressive tier, this is the cheap accurate one). ``codes`` is the
    comma-joined per-dim code, ``rem_q`` the summed truncation
    remainder on the 1e-6 integer grid — the exact precision lost to
    the code grid, an integer (engine-exact) distortion proxy.

    Determinism: values quantize to the 1e-6 grid first, so min/max,
    codes (floor of an integer-valued product over an integer range —
    the double intermediate is exact below 2^53) and remainders are
    all integer arithmetic.

    Plan shape: the per-dim min/max census is ONE posexplode +
    dim-keyed aggregate (64·|corpus| slim rows, map-side combined to
    64 rows), folded to a single bounds row and broadcast back onto
    the corpus (the repo's 1-row crossJoin scalar device) — encoding
    itself is row-local; nothing corpus-sized shuffles.
    """
    q = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.transform(
            vec_col,
            lambda x: F.floor(x.cast("double") * grid + F.lit(0.5)).cast(
                "long"
            ),
        ).alias("qv"),
    )
    ranges = q.select(F.posexplode("qv").alias("i", "x")).groupBy("i").agg(
        F.min("x").alias("lo"), F.max("x").alias("hi")
    )
    bounds = ranges.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "lo"))),
            lambda s: s["lo"],
        ).alias("los"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "hi"))),
            lambda s: s["hi"],
        ).alias("his"),
    )

    def _lo(i):
        return F.get("los", i)

    def _hi(i):
        return F.get("his", i)

    def _code(x, i):
        span = _hi(i) - _lo(i)
        return F.when(
            span > 0,
            F.floor(
                ((x - _lo(i)) * F.lit(levels)).cast("double") / span
            ).cast("long"),
        ).otherwise(F.lit(0).cast("long"))

    def _rem(x, i):
        span = _hi(i) - _lo(i)
        return F.when(
            span > 0, (x - _lo(i)) * F.lit(levels) - _code(x, i) * span
        ).otherwise(F.lit(0).cast("long"))

    return q.crossJoin(F.broadcast(bounds)).select(
        "vec_id",
        F.concat_ws(
            ",",
            F.transform("qv", lambda x, i: _code(x, i).cast("string")),
        ).alias("codes"),
        F.aggregate(
            F.transform("qv", _rem),
            F.lit(0).cast("long"),
            lambda acc, r: acc + r,
        ).alias("rem_q"),
    )


def _sq_quant(df: DataFrame, id_col: str, vec_col: str, grid: int, out_id: str):
    return df.select(
        F.col(id_col).alias(out_id),
        F.transform(
            vec_col,
            lambda x: F.floor(x.cast("double") * grid + F.lit(0.5)).cast(
                "long"
            ),
        ).alias("qv"),
    )


def _sq_code_array(levels: int):
    """codes column builder over (qv, los, his) — shared by sq_codes'
    string output and the SDC search's integer arrays."""

    def _code(x, i):
        lo, hi = F.get("los", i), F.get("his", i)
        return F.when(
            hi - lo > 0,
            F.floor(((x - lo) * F.lit(levels)).cast("double") / (hi - lo)).cast(
                "long"
            ),
        ).otherwise(F.lit(0).cast("long"))

    return F.transform("qv", _code)


def sq_sdc_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    levels: int = 255,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    grid: int = 1_000_000,
) -> DataFrame:
    """Flat-SQ symmetric-distance top-k — ``(query_id, neighbor_id,
    sdc_q, rank)``: the SEARCH half of ``sq_codes``, ranking by the
    squared distance between int8 CODE vectors (SDC, Jégou et al.
    2011's symmetric variant) — the distance a flat scalar-quantized
    index computes from 64 bytes per vector without touching floats.
    Queries quantize against the CORPUS bounds (a production query
    arrives after the index is built), so both sides live on the same
    code grid and every distance is a small exact integer (≤ 255²·64 —
    no overflow, engine-identical).

    Scale shape: the per-dim bounds census is the same 1-row broadcast
    as ``sq_codes``; encoding is row-local; the bounded query-set code
    table broadcasts onto the corpus stream (the ann_topk brute-force
    convention — the IVF cell blocking of `ann_ivf_topk` composes in
    front of this ranking unchanged when the query set is
    corpus-sized); per-query top-k is a rank window over the bounded
    query dimension.
    """
    qe = _sq_quant(emb, id_col, vec_col, grid, "neighbor_id")
    ranges = qe.select(F.posexplode("qv").alias("i", "x")).groupBy("i").agg(
        F.min("x").alias("lo"), F.max("x").alias("hi")
    )
    bounds = ranges.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "lo"))),
            lambda s: s["lo"],
        ).alias("los"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "hi"))),
            lambda s: s["hi"],
        ).alias("his"),
    )
    corpus = qe.crossJoin(F.broadcast(bounds)).select(
        "neighbor_id", _sq_code_array(levels).alias("ncodes")
    )
    qcodes = (
        _sq_quant(queries, id_col, vec_col, grid, "query_id")
        .crossJoin(F.broadcast(bounds))
        .select("query_id", _sq_code_array(levels).alias("qcodes"))
    )
    pairs = corpus.join(
        F.broadcast(qcodes),
        F.col("neighbor_id") != F.col("query_id"),
    ).select(
        "query_id",
        "neighbor_id",
        F.aggregate(
            F.zip_with("qcodes", "ncodes", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("sdc_q"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sdc_q").asc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sdc_q", "rank")
    )

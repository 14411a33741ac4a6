"""M3 — blocking + MinHash-LSH candidate generation + link scoring.

Entity linking over mention surfaces: normalize → char-shingle → MinHash
signature → banded blocking keys → band self-join → Jaccard verification.
The exact hash spec lives in the Spark-free oracle ``ner_spark.kg``
(md5-based so Python / Spark SQL / DuckDB compute identical integers);
this module is the distributed implementation and must agree bit-for-bit.

Scale design (the part the reference, a single-box repo, never had):
* signatures are computed **row-locally** with higher-order array
  functions (``transform`` over ``sequence`` + ``array_min``) — the
  shingle set never explodes into rows, so MinHash costs zero shuffle;
* the only wide operation is the band-key join. Band keys are
  ``entity_type|band|h1-h2-h3`` — high cardinality; residual hot
  buckets are split by AQE skew-join handling from the session defaults;
* ``scored_candidate_pairs`` is the codebase's one MinHash-LSH band
  join: batch and incremental linking, and the document and
  conversation near-dup generators of ``functions.dedup``. Only ``new``
  rows probe the band index; a batch build is the case where every row
  is new;
* the verify score is computed INSIDE the band join (once per band
  collision, row-local and cheap) and the (node_a, node_b) dedup runs
  after it, so the dedup exchange carries slim scored rows — never the
  shingle arrays (same score-then-dedup ordering as
  ``functions.similarity.ivf_cosine_dup_pairs``).
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ner_spark.kg import (
    BAND_ROWS,
    H31_MASK,
    JACCARD_THRESHOLD,
    MERSENNE61,
    MINHASH_A,
    MINHASH_B,
    N_BANDS,
    N_HASHES,
    NORM_SUFFIX_PATTERN,
)

# ---------------------------------------------------------------------------
# column-level building blocks (all row-local, JVM-side)
# ---------------------------------------------------------------------------


def normalize_surface_col(col: Column) -> Column:
    """Spark restatement of ``kg.normalize_surface``: lower, collapse
    whitespace, strip a trailing legal suffix (the reference's only
    normalization is lower-casing, torch_version/data_tools.py:157-159;
    the suffix/whitespace rules are our linking keys)."""
    s = F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")
    return F.regexp_replace(s, NORM_SUFFIX_PATTERN, "")


def md5_hash60_col(col: Column) -> Column:
    """First 15 md5 hex digits as a 60-bit long — same integer as
    ``kg.md5_hash60`` and DuckDB ``('0x'||substring(md5(s),1,15))::BIGINT``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def char_shingles_expr(col: Column, k: int = 3) -> Column:
    """Distinct char k-grams (whole string when shorter than k). Mirrors
    ``kg.char_shingles`` (element order differs — consumers treat the
    array as a set). Row-local higher-order functions, no UDF."""
    return F.when(F.length(col) < k, F.array(col)).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(col) - (k - 1)),
                lambda i: col.substr(i, F.lit(k)),
            )
        )
    )


def shingle_hashes_col(shingles: Column) -> Column:
    """array<long>: one 31-bit md5-derived hash per shingle — the single
    digest pass MinHash permutes arithmetically (kg.minhash_signature)."""
    return F.transform(
        shingles, lambda sh: md5_hash60_col(sh).bitwiseAND(F.lit(H31_MASK))
    )


def minhash_perm(i: int, h: Column) -> Column:
    """Affine rehash ``i`` of a 31-bit shingle hash: ``(a_i*h + b_i) mod
    M61`` (kg.minhash_signature). Signature element i is its minimum over
    the shingles — ``array_min`` row-locally, ``min`` as an aggregate."""
    return (h * F.lit(MINHASH_A[i]) + F.lit(MINHASH_B[i])) % F.lit(MERSENNE61)


def minhash_sig_from_hashes(hashes: Column) -> Column:
    """array<long> of the N_HASHES ``minhash_perm`` minima over the
    shingle hashes. Row-local, pure 64-bit arithmetic — no digest work
    beyond the one pass in ``shingle_hashes_col``, which is let-bound so
    project collapse cannot re-inline the md5 pass once per signature
    element."""
    from ner_spark.functions.colutil import let

    return let(
        hashes,
        lambda hs: F.array(
            *[
                F.array_min(F.transform(hs, functools.partial(minhash_perm, i)))
                for i in range(N_HASHES)
            ]
        ),
    )


def minhash_sig_col(shingles: Column) -> Column:
    return minhash_sig_from_hashes(shingle_hashes_col(shingles))


def band_keys_col(sig: Column, entity_type: Column | None = None) -> Column:
    """array<string> of N_BANDS keys ``band|h-h-h`` over a signature,
    prefixed ``entity_type|`` when linking (kg.band_keys). ``sig`` is
    let-bound: each band slices the SAME evaluated signature, so an
    inlined upstream signature expression is computed once."""
    from ner_spark.functions.colutil import let

    prefix = [] if entity_type is None else [entity_type, F.lit("|")]
    return let(
        sig,
        lambda s: F.transform(
            F.sequence(F.lit(0), F.lit(N_BANDS - 1)),
            lambda b: F.concat(
                *prefix,
                b.cast("string"),
                F.lit("|"),
                F.array_join(
                    F.transform(
                        F.slice(s, b * BAND_ROWS + 1, BAND_ROWS),
                        lambda h: h.cast("string"),
                    ),
                    "-",
                ),
            ),
        ),
    )


def jaccard_col(a: Column, b: Column) -> Column:
    u = F.size(F.array_union(a, b))
    return F.when(u == 0, F.lit(0.0)).otherwise(
        F.size(F.array_intersect(a, b)) / u
    )


# ---------------------------------------------------------------------------
# stage operators
# ---------------------------------------------------------------------------


def mention_nodes(mentions_exploded: DataFrame) -> DataFrame:
    """Distinct typed entity nodes from mention occurrences.

    Input: one row per mention occurrence with columns ``mtype``/``mtext``
    (the exploded extraction output). node_id = ``type|normalized_surface``
    (kg.node_key) — identical surfaces collapse before linking, so LSH
    runs on unique nodes only (at scale: |nodes| << |mentions|)."""
    nodes = mentions_exploded.select(
        F.col("mtype").alias("entity_type"), F.col("mtext").alias("surface")
    ).withColumn("norm", normalize_surface_col(F.col("surface")))
    return (
        nodes.groupBy("entity_type", "norm")
        .agg(
            F.count(F.lit(1)).alias("mention_count"),
            F.min("surface").alias("canonical_surface"),
        )
        .withColumn(
            "node_id", F.concat_ws("|", F.col("entity_type"), F.col("norm"))
        )
    )


def with_signatures(nodes_df: DataFrame) -> DataFrame:
    return (
        nodes_df.withColumn("shingles", char_shingles_expr(F.col("norm")))
        .withColumn("sh_hashes", shingle_hashes_col(F.col("shingles")))
        .withColumn("minhash", minhash_sig_from_hashes(F.col("sh_hashes")))
        .withColumn(
            "bands", band_keys_col(F.col("minhash"), F.col("entity_type"))
        )
        .drop("sh_hashes")
    )


def scored_candidate_pairs(
    sigs: DataFrame,
    score: Callable[[Column, Column], Column] | None = jaccard_col,
    threshold: float = JACCARD_THRESHOLD,
    both_new: bool = False,
) -> DataFrame:
    """The MinHash-LSH band join: pairs ``(node_a < node_b, score)`` with
    at least one ``new`` endpoint — band join → score → dedup →
    threshold, in that order. Entity linking (batch and delta) and the
    document and conversation near-dup generators all run this one join.

    ``sigs`` holds ``node_id``, ``bands`` (``band_keys_col``), a boolean
    ``new`` column and, when scored, ``shingles``. Only new rows probe
    the band index (left = new rows, right = all rows), so an
    incremental build scores just the pairs that can change its output;
    a batch build passes ``new = true`` and the join is the plain
    self-join over ``node_a < node_b``. A new-new pair is kept once
    (``id_l < id_r``), a new-old pair once (``~new_r``).

    ``score(shingles_l, shingles_r)`` is computed INSIDE the join's
    codegen span and only then deduped, so the dropDuplicates exchange
    carries slim (node_a, node_b, score) rows instead of two shingle
    arrays per row (same ordering as ``similarity.ivf_cosine_dup_pairs``
    — exchanges never carry vectors). A deterministic score makes this
    value-identical to dedup-then-score; a pair sharing k bands computes
    the (cheap, row-local) score k times instead of shuffling its arrays
    once — the right trade at scale where the dedup exchange dominates.
    Pairs with ``score >= threshold`` are kept. ``score=None`` returns
    the deduped candidates ``(node_a, node_b)``, and no shingles enter
    the join. ``both_new`` adds that boolean column (the probed right
    row is new; the left one always is).
    """
    from ner_spark.functions.dedup import register_persist

    # the exploded band frame feeds BOTH join sides; without a persist
    # each side re-runs the whole signature pass (md5 per shingle +
    # minhash + band keys) — measured ~2x the band-join cost at sf0.1.
    # Same bounded-LRU registry as the dedup pair generators.
    # explode_outer: bands always holds N_BANDS keys, but a non-outer
    # Generate makes the optimizer infer a size()>0 filter that it pushes
    # BELOW an adaptive repartition (dedup._ensure_parallel) carrying the
    # whole hash pass. Outer generate ≡ same rows here, no inferred filter.
    sh = ["shingles"] if score else []
    b = register_persist(
        sigs.select("node_id", *sh, "new", F.explode_outer("bands").alias("band"))
    )
    left = b.where(F.col("new")).select(
        F.col("band"),
        F.col("node_id").alias("id_l"),
        *[F.col(c).alias(f"{c}_l") for c in sh],
    )
    right = b.select(
        F.col("band"),
        F.col("node_id").alias("id_r"),
        *[F.col(c).alias(f"{c}_r") for c in sh],
        F.col("new").alias("new_r"),
    )
    matched = left.join(right, "band").where(
        (F.col("id_l") < F.col("id_r")) | ~F.col("new_r")
    )
    cols = [
        F.least("id_l", "id_r").alias("node_a"),
        F.greatest("id_l", "id_r").alias("node_b"),
    ]
    if score:
        cols.append(score(F.col("shingles_l"), F.col("shingles_r")).alias("score"))
    if both_new:
        cols.append(F.col("new_r").alias("both_new"))
    pairs = matched.select(*cols).dropDuplicates(["node_a", "node_b"])
    return pairs.where(F.col("score") >= threshold) if score else pairs


def link_edges(mentions_exploded: DataFrame) -> tuple[DataFrame, DataFrame]:
    """exploded mentions -> (nodes, edges). Edges connect same-type nodes
    whose normalized surfaces pass the Jaccard threshold: the band join
    of ``scored_candidate_pairs`` with every node new.

    ``nodes`` is localCheckpointed: it is the small aggregated dimension
    (|nodes| ≪ |mentions|) that three consumers re-derive otherwise —
    the signature pass, the CC strategy probe, and the assignment join —
    each re-running the mention groupBy. Materializing it once is the
    in-query equivalent of what the manifest protocol does between
    pipeline stages (measured 2.4x on the link+CC slice)."""
    nodes = mention_nodes(mentions_exploded).localCheckpoint(eager=True)
    sigs = with_signatures(nodes).withColumn("new", F.lit(True))
    return nodes, scored_candidate_pairs(sigs)

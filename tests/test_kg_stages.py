"""M2-M5 stage parity vs the plain-Python oracle goldens (SURVEY §5.2):
relations, MinHash-LSH link edges, connected components, graph tables,
and the manifest resume protocol."""

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ner_spark import kg
from ner_spark.operators.components import connected_components
from ner_spark.operators.graph import materialize_edges, materialize_nodes
from ner_spark.operators.linking import link_edges, mention_nodes, with_signatures
from ner_spark.operators.relate import extract_relations


@pytest.fixture(scope="module")
def mentions_df(spark, fixtures_small):
    """Reference mentions golden reshaped to the pipeline's exploded form."""
    m = spark.read.parquet(f"{fixtures_small}/reference_mentions.parquet")
    return m.select(
        "conv_id",
        "turn_idx",
        F.col("pred").alias("mtype"),
        F.col("obj").alias("mtext"),
        "span_start",
        "span_end",
    ).cache()


def _mentions_nested(spark, fixtures_small):
    m = spark.read.parquet(f"{fixtures_small}/reference_mentions.parquet")
    return m.groupBy("conv_id", "turn_idx").agg(
        F.collect_list(
            F.struct("pred", "obj", "span_start", "span_end")
        ).alias("mentions")
    )


def test_relations_parity(spark, fixtures_small):
    got = (
        extract_relations(_mentions_nested(spark, fixtures_small))
        .distinct()
        .toPandas()
    )
    want = pd.read_parquet(f"{fixtures_small}/reference_relations.parquet")
    cols = list(want.columns)
    got_s = got[cols].sort_values(cols).reset_index(drop=True)
    want_s = want.astype(got_s.dtypes.to_dict()).sort_values(cols).reset_index(drop=True)
    assert got_s.equals(want_s)


def test_minhash_signature_matches_oracle(spark, mentions_df):
    nodes = with_signatures(mention_nodes(mentions_df))
    rows = nodes.select("node_id", "norm", "minhash", "shingles").collect()
    assert rows
    for r in rows[:200]:
        sh = kg.char_shingles(r["norm"])
        assert set(r["shingles"]) == set(sh)
        assert list(r["minhash"]) == kg.minhash_signature(sh)


def test_link_edges_parity(spark, fixtures_small, mentions_df):
    _nodes, edges = link_edges(mentions_df)
    got = {(r["node_a"], r["node_b"]) for r in edges.collect()}
    want_df = pd.read_parquet(f"{fixtures_small}/link_edges.parquet")
    want = set(zip(want_df["src"], want_df["dst"]))
    assert got == want


def test_connected_components_parity(spark, fixtures_small, mentions_df):
    nodes = mention_nodes(mentions_df)
    edges = spark.read.parquet(f"{fixtures_small}/link_edges.parquet")
    got = connected_components(
        nodes, edges, id_col="node_id", src_col="src", dst_col="dst"
    ).toPandas()
    want = pd.read_parquet(f"{fixtures_small}/canonical_map.parquet")
    gmap = dict(zip(got["node_id"], got["component"]))
    wmap = dict(zip(want["node"], want["canonical"]))
    assert gmap == wmap


@pytest.mark.parametrize(
    "name,n,edges",
    [
        ("chain", 60, [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(59)]),
        ("star", 40, [("n000", f"n{i:03d}") for i in range(1, 40)]),
        (
            "two_cliques_bridge",
            12,
            [(f"a{i}", f"a{j}") for i in range(6) for j in range(i + 1, 6)]
            + [(f"b{i}", f"b{j}") for i in range(6) for j in range(i + 1, 6)]
            + [("a5", "b0")],
        ),
        ("isolated", 5, []),
    ],
)
def test_cc_pathological(spark, name, n, edges):
    if name == "two_cliques_bridge":
        node_ids = [f"a{i}" for i in range(6)] + [f"b{i}" for i in range(6)]
    elif name == "isolated":
        node_ids = [f"x{i}" for i in range(n)]
    else:
        node_ids = [f"n{i:03d}" for i in range(n)]
    nodes = spark.createDataFrame([(x,) for x in node_ids], "node_id string")
    if edges:
        e = spark.createDataFrame(edges, "src string, dst string")
    else:
        e = spark.createDataFrame([], "src string, dst string")
    want = kg.connected_components(node_ids, edges)
    # both physical strategies must give the oracle answer: the adaptive
    # driver-side union-find (default for small edge sets) and the
    # distributed large-star/small-star loop (local_threshold=None)
    for thresh in (None, 200_000):
        got = connected_components(nodes, e, local_threshold=thresh).toPandas()
        gmap = dict(zip(got["node_id"], got["component"]))
        assert gmap == want, f"strategy local_threshold={thresh}"


def test_graph_materialization_parity(spark, fixtures_small, mentions_df):
    nodes = mention_nodes(mentions_df)
    cmap = spark.read.parquet(f"{fixtures_small}/canonical_map.parquet").select(
        F.col("node").alias("node_id"), F.col("canonical").alias("component")
    )
    got_nodes = materialize_nodes(nodes, cmap).toPandas()
    want_nodes = pd.read_parquet(f"{fixtures_small}/nodes.parquet")
    key = ["entity_id"]
    got_nodes = got_nodes.sort_values(key).reset_index(drop=True)
    want_nodes = want_nodes.astype(got_nodes.dtypes.to_dict()).sort_values(key).reset_index(drop=True)
    assert got_nodes.equals(want_nodes)

    relations = spark.read.parquet(f"{fixtures_small}/reference_relations.parquet")
    got_edges = materialize_edges(relations, cmap).toPandas()
    want_edges = pd.read_parquet(f"{fixtures_small}/edges.parquet")
    k2 = ["src_entity", "pred", "dst_entity"]
    got_edges = got_edges.sort_values(k2).reset_index(drop=True)
    want_edges = want_edges.astype(got_edges.dtypes.to_dict()).sort_values(k2).reset_index(drop=True)
    assert got_edges.equals(want_edges)


def test_manifest_resume_idempotent(spark, fixtures_small, tmp_path_factory):
    """Full pipeline twice: second run resumes every stage from the
    manifest; deleting one stage's completion forces only that stage to
    recompute; outputs stay identical (SURVEY §5.2 #4)."""
    from ner_spark.operators import manifest as mf
    from ner_spark.pipeline import PipelineConfig, run_pipeline

    out_dir = str(tmp_path_factory.mktemp("kgout"))
    t = spark.read.parquet(f"{fixtures_small}/transcripts.parquet")
    cfg = PipelineConfig(out_dir=out_dir, run_id="r1")
    sc = spark.sparkContext

    def run_counting_jobs(group):
        sc.setJobGroup(group, group)
        try:
            out = run_pipeline(spark, t, cfg)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    # a fresh run's jobs are its stages' computations and data writes:
    # the manifest appends are driver-written files, no Spark job
    out1, fresh_jobs = run_counting_jobs("fresh-r1")
    assert fresh_jobs <= 33
    res1 = {k: v.toPandas() for k, v in out1.items()}

    man = mf.read_manifest(spark, out_dir).toPandas()
    assert set(man["stage"]) >= {"mentions", "triples", "relations", "assignment", "nodes", "edges"}
    # each publish = one 'superseded' retraction marker + 'complete' rows
    assert set(man["status"]) == {"complete", "superseded"}
    # per-partition lineage: row counts per stage match the published data
    # (markers and sentinels carry rows=0, so the sum is the data count)
    for stage in ["triples", "relations"]:
        total = int(man.loc[man["stage"] == stage, "rows"].sum())
        assert total == len(res1[stage])
        # one row per written file, its count from the file's footer
        per_file = (
            spark.read.parquet(mf.stage_data_path(out_dir, "r1", stage))
            .groupBy(F.input_file_name())
            .count()
            .toPandas()["count"]
        )
        got = man.loc[(man["stage"] == stage) & (man["rows"] > 0), "rows"]
        assert sorted(got) == sorted(per_file)
    # each stage's publish appends two manifest files: marker, complete rows
    man_files = [f for f in os.listdir(mf.manifest_path(out_dir)) if f.endswith(".parquet")]
    assert len(man_files) == 2 * len(res1) == 18

    # resume: full rerun must not change any output
    def canon(df, cols):
        # stringify (array columns aren't sortable/hashable in pandas)
        s = df[cols].astype(str)
        return s.sort_values(cols).reset_index(drop=True)

    # the resumed run decides every stage from one manifest snapshot: the
    # snapshot and one re-read per stage; the weights check runs inside
    # the tagging tasks, so a run that tags nothing issues no job for it
    out2, resume_jobs = run_counting_jobs("resume-r1")
    assert resume_jobs <= 11
    res2 = {k: v.toPandas() for k, v in out2.items()}
    for k in res1:
        cols = list(res1[k].columns)
        assert canon(res1[k], cols).equals(canon(res2[k], cols)), k

    # simulate a torn stage: wipe 'relations' data + its manifest rows
    shutil.rmtree(f"{out_dir}/r1/relations")
    man_keep = mf.read_manifest(spark, out_dir).where(F.col("stage") != "relations")
    keep_pdf = man_keep.toPandas()
    shutil.rmtree(mf.manifest_path(out_dir))
    spark.createDataFrame(keep_pdf, mf.MANIFEST_SCHEMA).write.mode("overwrite").parquet(
        mf.manifest_path(out_dir)
    )
    res3 = {k: v.toPandas() for k, v in run_pipeline(spark, t, cfg).items()}
    cols = list(res1["relations"].columns)
    assert canon(res1["relations"], cols).equals(canon(res3["relations"], cols))


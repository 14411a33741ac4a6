"""M1 end-to-end slice: transcripts → fused tag+extract (mapInPandas) →
triples, gated against the plain-Python oracle goldens (SURVEY §5.2
#2/#3)."""

import json
import os

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from ner_spark.operators.extraction import extract_mentions_bio, mentions_to_triples
from ner_spark.operators.tagging import tag_and_extract
from ner_spark.oracle.reference import micro_prf
from ner_spark.pipeline import build_mentions


def _triples_df(spark, fixtures_small):
    t = spark.read.parquet(f"{fixtures_small}/transcripts.parquet")
    return mentions_to_triples(build_mentions(t))


def test_per_turn_text_equality_under_stable_ordering(spark, fixtures_small):
    # input_hint invariant: reassembling turns via the Window ordering must
    # reproduce the fixture source byte-for-byte
    t = spark.read.parquet(f"{fixtures_small}/transcripts.parquet")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    got = (
        t.withColumn("rn", F.row_number().over(w))
        .select("conv_id", "rn", "turn_idx", "text")
        .toPandas()
    )
    src = pd.read_parquet(f"{fixtures_small}/transcripts.parquet").sort_values(
        ["conv_id", "turn_idx"]
    )
    got = got.sort_values(["conv_id", "turn_idx"])
    assert (got["rn"] == got["turn_idx"] + 1).all()  # contiguous, stable
    assert list(got["text"]) == list(src["text"])


def test_triples_match_reference_and_pr_gate(spark, fixtures_small):
    got = _triples_df(spark, fixtures_small).toPandas()
    want = pd.read_parquet(f"{fixtures_small}/reference_triples.parquet")

    key = ["conv_id", "turn_idx", "subj", "pred", "obj"]
    got_s = got[key].sort_values(key).reset_index(drop=True)
    want_s = want[key].astype(got_s.dtypes.to_dict()).sort_values(key).reset_index(drop=True)
    assert got_s.equals(want_s)

    # micro P/R/F1 gate (≥0.95 required; exact parity gives 1.0)
    def pairs_by_turn(df):
        out = {}
        for r in df.itertuples(index=False):
            out.setdefault((r.conv_id, r.turn_idx), set()).add((r.pred, r.obj))
        return out

    g, w_ = pairs_by_turn(got), pairs_by_turn(want)
    keys = sorted(set(g) | set(w_))
    p, r, f1 = micro_prf([g.get(k, set()) for k in keys], [w_.get(k, set()) for k in keys])
    assert p >= 0.95 and r >= 0.95, (p, r)
    assert p == 1.0 and r == 1.0


def test_tagging_deterministic_across_parallelism(spark, fixtures_small):
    # extraction must be row-local and order-free: different partitioning,
    # identical triples (SURVEY §7.4 determinism across parallelism levels)
    t = spark.read.parquet(f"{fixtures_small}/transcripts.parquet")
    m = tag_and_extract(t.repartition(17))
    # the unfused extraction UDF over the fused stage's own tags and
    # whitespace tokens reproduces its mentions, row by row
    unfused = extract_mentions_bio(F.col("tags"), F.split(F.col("text"), " "))
    assert m.where(~unfused.eqNullSafe(F.col("mentions"))).count() == 0
    a = mentions_to_triples(m).toPandas()
    b = mentions_to_triples(tag_and_extract(t.coalesce(1))).toPandas()
    key = ["conv_id", "turn_idx", "pred", "obj"]
    assert a.sort_values(key).reset_index(drop=True)[key].equals(
        b.sort_values(key).reset_index(drop=True)[key]
    )


def test_hot_conv_salting_bounds_groups(spark, fixtures_small):
    """SURVEY §5.2 #5: the fixture's hot conversation (~30% of turns)
    must spread over every salt sub-group for conv-level aggregation, with
    per-group size bounded and totals preserved."""
    import os

    import pyspark.sql.functions as F

    def salt_hot_convs(df, salts):
        # deterministic salt: spreads each conversation over `salts`
        # sub-keys (pmod of a turn hash) for two-level aggregation
        return df.withColumn("salt", F.pmod(F.hash("turn_idx"), F.lit(salts)))

    t = spark.read.parquet(os.path.join(fixtures_small, "transcripts.parquet"))
    salts = 8
    salted = salt_hot_convs(t, salts=salts)

    # two-level aggregation: per (conv, salt) then merged per conv
    lvl1 = salted.groupBy("conv_id", "salt").agg(F.count(F.lit(1)).alias("n"))
    merged = lvl1.groupBy("conv_id").agg(F.sum("n").alias("n"))
    direct = t.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n"))
    assert {
        (r["conv_id"], r["n"]) for r in merged.collect()
    } == {(r["conv_id"], r["n"]) for r in direct.collect()}

    hot = (
        direct.orderBy(F.desc("n")).limit(1).collect()[0]
    )
    total = t.count()
    assert hot["n"] >= 0.2 * total  # the fixture really is skewed
    hot_groups = lvl1.where(F.col("conv_id") == hot["conv_id"]).collect()
    assert len(hot_groups) == salts  # spread over every salt
    bound = (hot["n"] / salts) * 2  # salt hash is roughly uniform
    assert max(g["n"] for g in hot_groups) <= bound


@pytest.fixture(scope="module")
def published(spark, fixtures_small, tmp_path_factory):
    """``run_pipeline`` over the fixture: (out_dir, published frames)."""
    from ner_spark.pipeline import PipelineConfig, run_pipeline

    out_dir = str(tmp_path_factory.mktemp("kgout"))
    t = spark.read.parquet(os.path.join(fixtures_small, "transcripts.parquet"))
    return out_dir, run_pipeline(spark, t, PipelineConfig(out_dir=out_dir, run_id="r1"))


def test_full_pipeline_canonical_triples_stage(spark, fixtures_small, published):
    """run_pipeline materializes the canonical_triples stage and it
    matches the union-find oracle golden; the same stage graph under the
    entry queries' localCheckpoint materializer gives the published
    rows of every link/CC/graph stage."""
    from ner_spark.entry_queries import _checkpoint
    from ner_spark.pipeline import kg_stages

    _, res = published
    t = spark.read.parquet(os.path.join(fixtures_small, "transcripts.parquet"))
    got = {
        tuple(r)
        for r in res["canonical_triples"]
        .select("conv_id", "turn_idx", "subj", "pred", "obj")
        .collect()
    }
    want = {
        tuple(r)
        for r in spark.read.parquet(
            os.path.join(fixtures_small, "canonical_triples.parquet")
        )
        .select("conv_id", "turn_idx", "subj", "pred", "obj")
        .collect()
    }
    assert got == want and len(got) > 0

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    checkpointed = kg_stages(t, _checkpoint)
    for stage in ("link_edges", "assignment", "nodes", "edges", "canonical_triples"):
        assert rows(checkpointed[stage]) == rows(res[stage]), stage


def test_mentions_files_spread_hot_conversation(spark, published):
    """The ingest's skew claim (``pipeline.py``): range partitioning on
    (conv_id, turn_idx) splits the hot conversation (~30% of turns)
    over several tasks, so no published mentions file is much larger
    than the median one. File rows come from the stage's ``complete``
    manifest rows (parquet footers)."""
    import statistics

    from ner_spark.operators import manifest as mf

    out_dir, res = published
    rows = [
        r.rows
        for r in mf.manifest_rows(spark, out_dir, ["r1"])
        if (r.stage, r.status) == ("mentions", "complete") and r.partition_id >= 0
    ]
    assert len(rows) >= 2
    # 1.004 at sf0.001 on local[4]: 8 files of 112-113 turns
    assert max(rows) <= 1.5 * statistics.median(rows), rows
    hot = (
        res["mentions"].groupBy("conv_id").count()
        .orderBy(F.desc("count")).first()["conv_id"]
    )
    files = (
        res["mentions"].where(F.col("conv_id") == hot)
        .select(F.input_file_name()).distinct().count()
    )
    assert files >= 2


def test_spark_submit_py_files_zip_channel(tmp_path, fixtures_small):
    """The north-rule submission channel, end-to-end: package ner_spark
    into dist/ner_spark.zip (tools/make_pyfiles.py), then spark-submit
    run_pipeline.py from a DIRECTORY OUTSIDE THE REPO with PYTHONPATH
    stripped — the driver and every executor can only import the package
    from the distributed zip. Triple count must equal the golden."""
    import shutil
    import subprocess
    import sys

    import duckdb

    REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import make_pyfiles

    zip_path = make_pyfiles.build(str(tmp_path / "ner_spark.zip"))
    shutil.copy(os.path.join(REPO, "run_pipeline.py"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [
            "spark-submit", "--master", "local[2]",
            "--py-files", zip_path,
            "run_pipeline.py",
            "--input", f"{fixtures_small}/transcripts.parquet",
            "--output", str(tmp_path / "out"), "--show", "0",
        ],
        capture_output=True, text=True, timeout=420, cwd=str(tmp_path), env=env,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    line = [l for l in r.stdout.splitlines() if l.startswith('{"stage"')][0]
    golden = duckdb.sql(
        f"select count(*) from '{fixtures_small}/reference_triples.parquet'"
    ).fetchone()[0]
    assert json.loads(line)["triples"] == golden

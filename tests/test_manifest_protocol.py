"""The manifest's write protocol (operators/manifest.py): the physical
format of a driver-written append, and a crash at every step of a stage
publish, each followed by a resume that must recompute exactly the
unfinished stages and reproduce a clean run's tables."""

import hashlib
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ner_spark.operators import manifest as mf
from ner_spark.pipeline import PipelineConfig, run_incremental, run_pipeline


def _spark_append(spark, out_dir, run_id, stage, status, fingerprint, partition_rows):
    """A manifest append written by a Spark job, the way earlier versions
    of the manifest wrote every append: a one-partition frame of
    non-null literals."""
    rows = F.array(
        *(
            F.struct(
                F.lit(p).cast("int").alias("partition_id"),
                F.lit(n).cast("long").alias("rows"),
            )
            for p, n in partition_rows
        )
    )
    spark.range(1, numPartitions=1).select(F.inline(rows)).select(
        F.lit(run_id).alias("run_id"),
        F.lit(stage).alias("stage"),
        "partition_id",
        "rows",
        F.lit(status).alias("status"),
        F.current_timestamp().alias("updated_at"),
        F.lit(fingerprint).alias("fingerprint"),
    ).write.mode("append").parquet(mf.manifest_path(out_dir))


def test_driver_append_format(spark, tmp_path):
    """A driver-written append runs no Spark job, leaves one visible
    parquet file and no temp file, has the physical schema of a
    Spark-written manifest file, and reads back beside one through both
    Spark and pyarrow."""
    out = str(tmp_path)
    d = mf.manifest_path(out)
    _spark_append(spark, out, "r1", "mentions", "superseded", "fp", [(-1, 0)])
    before = set(os.listdir(d))
    sc = spark.sparkContext
    sc.setJobGroup("driver-append", "driver-append")
    try:
        mf._append_manifest(
            spark, out, "r1", "mentions", "complete", "fp", [(-1, 0), (0, 3), (1, 4)]
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("driver-append")) == []

    new = set(os.listdir(d)) - before
    visible = [f for f in new if not f.startswith((".", "_"))]
    assert len(visible) == 1 and visible[0].endswith(".parquet")
    assert not [f for f in new if f.endswith(".tmp")]
    (spark_file,) = [f for f in before if f.endswith(".parquet")]
    assert pq.ParquetFile(os.path.join(d, visible[0])).schema.equals(
        pq.ParquetFile(os.path.join(d, spark_file)).schema
    )

    cols = [f.name for f in mf.MANIFEST_SCHEMA.fields]
    via_spark = sorted(
        tuple(r)
        for r in mf.read_manifest(spark, out)
        .withColumn("updated_at", F.unix_micros("updated_at"))
        .collect()
    )
    t = pq.read_table(d)
    t = t.set_column(
        cols.index("updated_at"),
        "updated_at",
        t["updated_at"].cast(pa.timestamp("us")).cast(pa.int64()),
    )
    via_arrow = sorted(tuple(r[c] for c in cols) for r in t.to_pylist())
    assert via_spark == via_arrow
    assert [r[1:5] for r in via_spark] == [
        ("mentions", -1, 0, "complete"),
        ("mentions", -1, 0, "superseded"),
        ("mentions", 0, 3, "complete"),
        ("mentions", 1, 4, "complete"),
    ]


def test_failed_republish_keeps_last_publish(spark, tmp_path):
    """A re-publish whose data write fails leaves the previous publish's
    data dir in place, readable with its rows, and no hidden sibling
    behind; the stage reads incomplete, so a resume recomputes it."""
    out = str(tmp_path)
    mf.publish_stage(spark.range(10), out, "r1", "s")
    boom = F.when(F.col("id") == 5, F.raise_error(F.lit("boom"))).otherwise(F.col("id"))
    with pytest.raises(Exception, match="boom"):
        mf.publish_stage(spark.range(10).select(boom.alias("id")), out, "r1", "s")
    path = mf.stage_data_path(out, "r1", "s")
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == list(range(10))
    assert os.listdir(os.path.dirname(path)) == ["data"]
    assert not mf.stage_complete(spark, out, "r1", "s")


# -- crash points -------------------------------------------------------------


class Crash(Exception):
    pass


# marker: after the superseded append; data: after the data write, before
# the complete append; complete: after the complete append; rename: the
# complete rows are in their temp file, not yet renamed into place
STEPS = ("marker", "data", "complete", "rename")


def _digest(df) -> str:
    rows = sorted(repr(tuple(r)) for r in df.collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def _crash_at(monkeypatch, stage: str, step: str) -> None:
    real_append = mf._append_manifest
    appending = []

    def append(spark, out_dir, run_id, st, status, *rest):
        if (st, status, step) == (stage, "complete", "data"):
            raise Crash(step)
        appending[:] = [(st, status)]
        real_append(spark, out_dir, run_id, st, status, *rest)
        if st == stage and (status, step) in {
            ("superseded", "marker"), ("complete", "complete"),
        }:
            raise Crash(step)

    monkeypatch.setattr(mf, "_append_manifest", append)
    if step == "rename":
        real_rename = mf._rename

        def rename(fs, src, dst):
            if appending == [(stage, "complete")]:
                raise Crash(step)
            real_rename(fs, src, dst)

        monkeypatch.setattr(mf, "_rename", rename)


def _crash_and_resume(spark, monkeypatch, run, out_dir, clean, stage, step):
    with monkeypatch.context() as m:
        _crash_at(m, stage, step)
        with pytest.raises(Crash):
            run()

    published = []
    real_publish = mf.publish_stage

    def publish(df, out_dir, run_id, st, fingerprint=""):
        published.append(st)
        return real_publish(df, out_dir, run_id, st, fingerprint)

    monkeypatch.setattr(mf, "publish_stage", publish)
    out = run()
    order = list(clean)
    # a crash after the complete append leaves that stage finished
    first = order.index(stage) + (step == "complete")
    assert published == order[first:]
    assert {k: _digest(v) for k, v in out.items()} == clean
    # a temp file left by the crash is invisible to both readers
    d = mf.manifest_path(out_dir)
    assert pq.read_table(d).num_rows == mf.read_manifest(spark, out_dir).count()


@pytest.fixture(scope="module")
def transcripts(spark, fixtures_small):
    return spark.read.parquet(f"{fixtures_small}/transcripts.parquet")


@pytest.fixture(scope="module")
def clean_pipeline(spark, transcripts, tmp_path_factory):
    cfg = PipelineConfig(out_dir=str(tmp_path_factory.mktemp("clean")), run_id="r1")
    return {k: _digest(v) for k, v in run_pipeline(spark, transcripts, cfg).items()}


@pytest.mark.parametrize("step", STEPS)
@pytest.mark.parametrize("stage", ["mentions", "assignment", "canonical_triples"])
def test_pipeline_crash_resume(
    spark, transcripts, clean_pipeline, tmp_path, monkeypatch, stage, step
):
    cfg = PipelineConfig(out_dir=str(tmp_path), run_id="r1")
    _crash_and_resume(
        spark, monkeypatch, lambda: run_pipeline(spark, transcripts, cfg),
        cfg.out_dir, clean_pipeline, stage, step,
    )


@pytest.fixture(scope="module")
def incremental_base(spark, transcripts, tmp_path_factory):
    """A published base run over half the conversations, the other half
    as the delta, and the digests of a clean incremental run."""
    odd = F.crc32("conv_id") % 2 == 1
    delta = transcripts.where(odd)
    base_dir = str(tmp_path_factory.mktemp("base"))
    run_pipeline(spark, transcripts.where(~odd), PipelineConfig(base_dir, "base"))
    clean_dir = str(tmp_path_factory.mktemp("inc")) + "/kg"
    shutil.copytree(base_dir, clean_dir)
    out = run_incremental(spark, delta, PipelineConfig(clean_dir, "day1"), "base")
    return base_dir, delta, {k: _digest(v) for k, v in out.items()}


@pytest.mark.parametrize("step", STEPS)
def test_incremental_crash_resume(spark, incremental_base, tmp_path, monkeypatch, step):
    base_dir, delta, clean = incremental_base
    out_dir = str(tmp_path / "kg")
    shutil.copytree(base_dir, out_dir)
    cfg = PipelineConfig(out_dir, "day1")
    _crash_and_resume(
        spark, monkeypatch, lambda: run_incremental(spark, delta, cfg, "base"),
        out_dir, clean, "assignment", step,
    )


def _persistent_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_runs_leave_nothing_persisted(spark, transcripts, incremental_base, tmp_path):
    """A run releases what it persisted once the last stage that reads it
    is published (the linking node checkpoint and the band frame over
    it): a long-lived driver keeps no blocks per run."""
    before = _persistent_rdds(spark)
    run_pipeline(spark, transcripts, PipelineConfig(str(tmp_path / "batch"), "r1"))
    assert _persistent_rdds(spark) - before == set()

    base_dir, delta, _ = incremental_base
    out_dir = str(tmp_path / "kg")
    shutil.copytree(base_dir, out_dir)
    before = _persistent_rdds(spark)
    run_incremental(spark, delta, PipelineConfig(out_dir, "day1"), "base")
    assert _persistent_rdds(spark) - before == set()

"""M5 — per-partition lineage manifest + idempotent stage resume.

The manifest is an append-only table with one row per (run, stage,
partition): output row counts, a status and the fingerprint the stage
ran under, so any stage of the pipeline resumes idempotently
(FIXTURES.md F8).

Protocol (write-audit-publish, Iceberg-style without requiring an
Iceberg catalog in the sandbox — plain parquet dirs stand in):

1. a publish first appends a ``superseded`` marker, then writes the
   stage's output to a hidden sibling ``<out>/<run_id>/<stage>/.data-<uuid>``
   and, once that write has succeeded, swaps it in as
   ``<out>/<run_id>/<stage>/data`` (``write_replace``: delete, then
   rename). A visible data dir thus holds exactly one write job's
   files, and a failed write leaves the last publish's data in place;
2. it then reads the row count of every written data file from the
   file's parquet footer — lineage evidence from the *written* data,
   not an estimate, and no Spark job — and appends one ``complete`` row
   per file (``partition_id`` = the file's ordinal in sorted path order)
   plus a ``-1`` sentinel with 0 rows;
3. on resume, a stage is **skipped** and its output re-read when its
   latest ``complete`` row under the current fingerprint is newer than
   its latest ``superseded`` marker and its data dir exists. A pipeline
   run decides this for every stage from ONE snapshot of its manifest
   rows, collected before its first stage (``manifest_rows``; no Spark
   job when no manifest exists yet). An interrupted stage has no
   ``complete`` row newer than its marker, so it recomputes and its
   swap replaces the data dir; a write killed before its swap leaves
   only a hidden sibling, which readers skip.

Every append is one parquet file written by the driver through the
Hadoop FileSystem, in the physical layout Spark writes ``MANIFEST_SCHEMA``
in (every field required, ``updated_at`` INT96), with no Spark job. The
file is written under a dot-prefixed temp name, which Spark's file index
and pyarrow both skip, and then renamed into place: a reader sees all of
an append or none of it. So a publish runs no Spark job beyond those of
its data write.

The snapshot is exact for one writer per run_id, which the protocol
assumes throughout (concurrent publishers of one run would interleave
their markers): a run visits each stage once, and publishing one stage
cannot change another stage's completeness.
"""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("rows", T.LongType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("updated_at", T.TimestampType(), False),
        # configuration/model fingerprint the stage ran under (e.g. the
        # weights-artifact version): a resume only honors rows whose
        # fingerprint matches the current run's, so publishing new model
        # weights invalidates manifests written under the old ones.
        # Nullable: manifests from before this column read as null ≡ "".
        T.StructField("fingerprint", T.StringType(), True),
    ]
)

# MANIFEST_SCHEMA in the physical layout Spark-written manifest files
# have (they were written from non-null literals): every field required,
# ``updated_at`` as INT96 (``use_deprecated_int96_timestamps``), Spark's
# default timestamp output type. Files of both kinds mix in one manifest.
_ARROW_SCHEMA = pa.schema(
    [
        pa.field("run_id", pa.string(), False),
        pa.field("stage", pa.string(), False),
        pa.field("partition_id", pa.int32(), False),
        pa.field("rows", pa.int64(), False),
        pa.field("status", pa.string(), False),
        pa.field("updated_at", pa.timestamp("us", tz="UTC"), False),
        pa.field("fingerprint", pa.string(), False),
    ]
)


def manifest_path(out_dir: str) -> str:
    # NOTE: no leading underscore — Spark's file index silently ignores
    # `_`-prefixed paths (metadata convention), which would make the
    # manifest read back empty.
    return os.path.join(out_dir, "manifest")


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    path = manifest_path(out_dir)
    if not _dir_exists(spark, path):
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    return spark.read.schema(MANIFEST_SCHEMA).parquet(path)


def manifest_rows(spark: SparkSession, out_dir: str, run_ids) -> list[Row]:
    """The manifest rows of ``run_ids``, in one collect — the snapshot a
    run decides resume from. No Spark job when no manifest exists yet."""
    if not _dir_exists(spark, manifest_path(out_dir)):
        return []
    return (
        read_manifest(spark, out_dir)
        .where(F.col("run_id").isin(list(run_ids)))
        .collect()
    )


def hadoop_path(spark: SparkSession, path: str):
    """``path`` as a Hadoop ``Path`` with its ``FileSystem`` — correct for
    hdfs:// / s3a:// / file:// alike, where driver-local ``os`` calls
    only see the driver's own disk."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _dir_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the Hadoop FileSystem API. A driver-local
    ``os.path.isdir`` would silently report False for every distributed
    path, turning resume into full recomputation on a real cluster."""
    fs, p = hadoop_path(spark, path)
    return bool(fs.exists(p))


def _rename(fs, src, dst) -> None:
    if not fs.rename(src, dst):
        raise OSError(f"could not rename {src} to {dst}")


def replace_dir(spark: SparkSession, src: str, dst: str) -> None:
    """Move the finished directory ``src`` to ``dst``, deleting what
    ``dst`` held: a write that fails before this leaves ``dst``'s last
    good contents in place."""
    fs, d = hadoop_path(spark, dst)
    fs.delete(d, True)
    _rename(fs, hadoop_path(spark, src)[1], d)


def write_replace(df: DataFrame, path: str) -> None:
    """Write ``df`` as parquet to a hidden sibling ``.<name>-<uuid>`` of
    ``path``, then move it onto ``path`` (``replace_dir``). A failed
    write leaves ``path``'s last good contents in place, and ``path``
    never holds the files of two write jobs. The sibling is deleted if
    the swap did not happen."""
    spark = df.sparkSession
    parent, name = os.path.split(path.rstrip("/"))
    tmp = os.path.join(parent, f".{name}-{uuid.uuid4().hex}")
    try:
        df.write.parquet(tmp)
        replace_dir(spark, tmp, path)
    finally:
        fs, p = hadoop_path(spark, tmp)
        fs.delete(p, True)


def stage_complete_in(
    spark: SparkSession, manifest: list[Row], out_dir: str, run_id: str,
    stage: str, fingerprint: str = "",
) -> bool:
    """``stage_complete`` decided from ``manifest``, a snapshot of
    manifest rows (``manifest_rows``): the latest ``complete`` row under
    ``fingerprint`` is newer than the latest ``superseded`` marker, and
    the data dir exists."""
    last_ok = last_marker = None
    for r in manifest:
        if r.run_id != run_id or r.stage != stage:
            continue
        if r.status == "complete" and (r.fingerprint or "") == fingerprint:
            last_ok = max(last_ok or r.updated_at, r.updated_at)
        elif r.status == "superseded":
            last_marker = max(last_marker or r.updated_at, r.updated_at)
    if last_ok is None or (last_marker is not None and last_marker >= last_ok):
        return False
    return _dir_exists(spark, stage_data_path(out_dir, run_id, stage))


def stage_complete(
    spark: SparkSession, out_dir: str, run_id: str, stage: str,
    fingerprint: str = "",
) -> bool:
    """A stage is complete iff its LATEST manifest activity is a
    ``complete`` publish under the SAME fingerprint, read fresh from the
    manifest. The manifest is append-only, so a re-publish under a
    different fingerprint cannot retract the old rows — instead every
    publish first appends a ``superseded`` marker (see
    ``publish_stage``), and completeness requires the matching complete
    rows to be NEWER than any marker: a rollback to an earlier
    fingerprint after a re-publish correctly recomputes instead of
    serving the newer fingerprint's data, and a crash between the marker
    and the new complete rows leaves the stage incomplete rather than
    pointing old rows at torn new data."""
    rows = manifest_rows(spark, out_dir, [run_id])
    return stage_complete_in(spark, rows, out_dir, run_id, stage, fingerprint)


def stage_row_counts(rows: list[Row], run_id: str) -> dict[str, int]:
    """Rows per stage of ``run_id``, as its latest ``complete`` publish
    recorded them (the rows of one append share one ``updated_at``)."""
    done = [r for r in rows if r.run_id == run_id and r.status == "complete"]
    latest: dict[str, object] = {}
    for r in done:
        latest[r.stage] = max(latest.get(r.stage, r.updated_at), r.updated_at)
    counts = dict.fromkeys(latest, 0)
    for r in done:
        if r.updated_at == latest[r.stage]:
            counts[r.stage] += r.rows
    return counts


def stage_data_path(out_dir: str, run_id: str, stage: str) -> str:
    # run-scoped: two runs sharing an out_dir must not overwrite each
    # other's published data — a resume of run A after run B wrote the
    # same stage would otherwise silently return run B's output.
    return os.path.join(out_dir, run_id, stage, "data")


def _file_row_counts(spark: SparkSession, files: list[str]) -> list[int]:
    """Row count of each parquet file, from its footer, through the same
    Hadoop FileSystem route as ``_dir_exists`` — no Spark job."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    counts = []
    for f in files:
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                jvm.org.apache.hadoop.fs.Path(f), conf
            )
        )
        try:
            counts.append(int(reader.getRecordCount()))
        finally:
            reader.close()
    return counts


def _append_manifest(
    spark: SparkSession, out_dir: str, run_id: str, stage: str, status: str,
    fingerprint: str, partition_rows: list[tuple[int, int]],
) -> None:
    """Append ``(partition_id, rows)`` manifest rows, all stamped with one
    driver timestamp, as one parquet file written by the driver — no
    Spark job. The file becomes visible by a rename from a dot-prefixed
    temp name, so an append interrupted before the rename leaves
    nothing a reader sees."""
    parts, counts = zip(*partition_rows)
    n = len(parts)
    table = pa.table(
        {
            "run_id": [run_id] * n,
            "stage": [stage] * n,
            "partition_id": parts,
            "rows": counts,
            "status": [status] * n,
            "updated_at": [time.time_ns() // 1000] * n,
            "fingerprint": [fingerprint] * n,
        },
        schema=_ARROW_SCHEMA,
    )
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink, use_deprecated_int96_timestamps=True)
    d = manifest_path(out_dir)
    name = f"part-{uuid.uuid4().hex}.parquet"
    fs, tmp = hadoop_path(spark, os.path.join(d, f".{name}.tmp"))
    stream = fs.create(tmp, False)
    try:
        stream.write(sink.getvalue().to_pybytes())
    finally:
        stream.close()
    _rename(fs, tmp, hadoop_path(spark, os.path.join(d, name))[1])


def publish_stage(
    df: DataFrame, out_dir: str, run_id: str, stage: str,
    fingerprint: str = "",
) -> DataFrame:
    """Write a stage's output + its manifest rows — the ``superseded``
    marker, the data, the ``complete`` rows, in that order — and return
    the re-read (published) DataFrame, so downstream stages consume the
    materialized data, truncating lineage between stages. The two
    manifest appends are driver-written files (``_append_manifest``), so
    the data write's jobs are the publish's only Spark jobs. The complete
    rows carry each written file's row count from its parquet footer,
    plus one sentinel row (partition -1, 0 rows): without it a
    legitimately-empty stage is indistinguishable from an interrupted
    one and would recompute on every resume."""
    spark = df.sparkSession
    path = stage_data_path(out_dir, run_id, stage)
    # write-audit-publish step 0: retract any prior completeness BEFORE
    # touching the data dir. The manifest is append-only, so this is a
    # 'superseded' marker row; completeness requires complete rows to
    # be newer than the latest marker, which (a) invalidates an older
    # fingerprint's rows the moment a re-publish starts and (b) leaves
    # the stage incomplete if we crash before the complete rows.
    _append_manifest(spark, out_dir, run_id, stage, "superseded", fingerprint, [(-1, 0)])
    write_replace(df, path)
    # the written schema, given back: file sources read every column as
    # nullable either way, and parquet schema inference costs a job
    published = spark.read.schema(df.schema).parquet(path)
    counts = _file_row_counts(spark, sorted(published.inputFiles()))
    _append_manifest(
        spark, out_dir, run_id, stage, "complete", fingerprint,
        [(-1, 0), *enumerate(counts)],
    )
    return published


def run_stage(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    stage: str,
    compute,
    resume: bool = True,
    fingerprint: str = "",
    manifest: list[Row] | None = None,
) -> DataFrame:
    """Execute ``compute() -> DataFrame`` under the resume protocol. A
    stage only resumes when its manifest row carries the SAME
    ``fingerprint`` (e.g. the active weights-artifact version) — a
    version bump forces recompute of every stage in the run.
    ``manifest`` is the run's snapshot (``manifest_rows``) to decide
    from; ``None`` reads the manifest afresh."""
    if resume:
        if manifest is None:
            manifest = manifest_rows(spark, out_dir, [run_id])
        if stage_complete_in(spark, manifest, out_dir, run_id, stage, fingerprint):
            return spark.read.parquet(stage_data_path(out_dir, run_id, stage))
    return publish_stage(compute(), out_dir, run_id, stage, fingerprint)

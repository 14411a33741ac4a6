"""Robustness: empty inputs through every stage.

An empty transcripts table must flow through the full pipeline without
crashing and produce empty (but correctly-schemed) stages — the behavior
a scheduled production run hits on an empty partition of a date range.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def empty_transcripts(spark, tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path_factory.mktemp("empty") / "t.parquet")
    df = pd.DataFrame(
        {
            "conv_id": pd.Series([], dtype="object"),
            "turn_idx": pd.Series([], dtype="int32"),
            "role": pd.Series([], dtype="object"),
            "text": pd.Series([], dtype="object"),
            "tool": pd.Series([], dtype="object"),
            "ts": pd.Series([], dtype="datetime64[us]"),
        }
    )
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), p)
    return spark.read.parquet(p)


def test_empty_input_full_pipeline(spark, empty_transcripts, tmp_path_factory):
    from ner_spark.pipeline import STAGES, PipelineConfig, run_pipeline

    out_dir = str(tmp_path_factory.mktemp("empty_out"))
    res = run_pipeline(
        spark, empty_transcripts, PipelineConfig(out_dir=out_dir, run_id="e1")
    )
    assert set(res) == set(STAGES)
    for stage, df in res.items():
        assert df.count() == 0, stage
    # triples schema survives the empty path
    assert res["triples"].columns == ["conv_id", "turn_idx", "subj", "pred", "obj"]


def test_cc_numeric_node_ids_local_path(spark):
    """Regression: the adaptive local CC path must handle non-string ids
    (it previously hardcoded a string schema)."""
    from ner_spark.operators.components import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(6)], "node_id long")
    edges = spark.createDataFrame([(0, 1), (1, 2), (4, 5)], "src long, dst long")
    got = {
        (r["node_id"], r["component"])
        for r in connected_components(nodes, edges).collect()
    }
    assert got == {(0, 0), (1, 0), (2, 0), (3, 3), (4, 4), (5, 4)}


def test_encode_empty_arrays(spark):
    """Regression: sequence(0, -1) descends — zero-length inputs must
    yield empty piece/label arrays, not spurious elements or errors."""
    from ner_spark.operators.encode import spans_to_bio_col, subword_pieces_col

    df = spark.createDataFrame(
        [([],)], "toks array<string>"
    ).select(
        subword_pieces_col(F.col("toks")).alias("pieces"),
        spans_to_bio_col(
            F.array().cast("array<struct<index:array<int>,type:string>>"),
            F.lit(0),
        ).alias("labels"),
    )
    row = df.collect()[0]
    assert row["pieces"] == [] and row["labels"] == []


def test_token_id_lookup_null_tokens_both_paths(spark):
    import ner_spark.sources.tables as tb

    df = spark.createDataFrame(
        [(["aa"],), (None,)], "tokens array<string>"
    )
    vocab = spark.createDataFrame([("aa", 4)], "token string, id int")
    for thresh in (8192, 0):
        old = tb.MAP_LITERAL_MAX_VOCAB
        try:
            tb.MAP_LITERAL_MAX_VOCAB = thresh
            rows = tb.token_id_lookup(df, vocab).collect()
            got = {tuple(r["tokens"]) if r["tokens"] else None: r["token_ids"] for r in rows}
            assert got[("aa",)] == [4]
            assert got[None] is None
        finally:
            tb.MAP_LITERAL_MAX_VOCAB = old


def test_near_dup_survivors_negative_ids(spark):
    """Regression: canonical id must be the NUMERIC minimum even for
    negative ids (plain zero-padding ordered '-5' before '-7')."""
    from ner_spark.functions.dedup import near_dup_survivors

    df = spark.createDataFrame(
        [
            (-7, "alpha beta gamma delta epsilon zeta"),
            (-5, "alpha beta gamma delta epsilon eta"),
            (3, "completely different text entirely here now"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["canonical_id"] for r in near_dup_survivors(df).collect()}
    assert got == {-7: -7, -5: -7, 3: 3}


def test_manifest_runs_are_isolated(spark, empty_transcripts, tmp_path_factory, fixtures_small):
    """Regression: two run_ids sharing an out_dir must not serve each
    other's data on resume — stage paths are run-scoped."""
    import os

    from ner_spark.pipeline import PipelineConfig, run_pipeline

    out_dir = str(tmp_path_factory.mktemp("runs"))
    full = spark.read.parquet(os.path.join(fixtures_small, "transcripts.parquet"))
    r_full = run_pipeline(spark, full, PipelineConfig(out_dir=out_dir, run_id="full"))
    n_full = r_full["triples"].count()
    assert n_full > 0

    r_empty = run_pipeline(
        spark, empty_transcripts, PipelineConfig(out_dir=out_dir, run_id="empty")
    )
    assert r_empty["triples"].count() == 0

    # resuming the FIRST run must still return its own (non-empty) data
    r_again = run_pipeline(spark, full, PipelineConfig(out_dir=out_dir, run_id="full"))
    assert r_again["triples"].count() == n_full


def test_empty_stage_resumes_without_recompute(spark, empty_transcripts, tmp_path_factory):
    """Regression: a legitimately-empty stage publishes a sentinel
    manifest row, so a resumed run skips it instead of recomputing."""
    from ner_spark.operators import manifest as mf
    from ner_spark.pipeline import PipelineConfig, run_pipeline

    out_dir = str(tmp_path_factory.mktemp("empty_resume"))
    run_pipeline(spark, empty_transcripts, PipelineConfig(out_dir=out_dir, run_id="e"))
    # every stage (all empty) has a complete sentinel
    man = mf.read_manifest(spark, out_dir).toPandas()
    # every stage publish = one 'superseded' retraction marker + its
    # 'complete' rows; nothing may be left in-flight: EVERY stage that
    # appears in the manifest must have reached a complete publish
    assert set(man["status"]) == {"complete", "superseded"}
    assert set(man.loc[man["status"] == "complete", "stage"]) == set(man["stage"])
    # completeness is fingerprint-scoped: query under the same weights
    # version the pipeline stamped
    from ner_spark.model.artifact import active_weights_version

    fp = active_weights_version()
    assert mf.stage_complete(spark, out_dir, "e", "triples", fingerprint=fp)
    assert mf.stage_complete(spark, out_dir, "e", "edges", fingerprint=fp)
    assert not mf.stage_complete(spark, out_dir, "e", "triples", fingerprint="other")


def test_load_vocabulary_line_number_is_id(spark, tmp_path):
    """S1 semantics (reference load_vocabulary): line number IS the id,
    reserved tokens first."""
    from ner_spark.sources.tables import load_vocabulary

    p = tmp_path / "vocab.txt"
    p.write_text("[PAD]\n[UNK]\n[SEP]\n[SPA]\nalpha\nbeta\n")
    rows = {r["token"]: r["id"] for r in load_vocabulary(spark, str(p)).collect()}
    assert rows == {"[PAD]": 0, "[UNK]": 1, "[SEP]": 2, "[SPA]": 3, "alpha": 4, "beta": 5}


def test_near_dup_survivors_int64_extremes(spark):
    """Regression: the id encoding must order correctly at BOTH int64
    extremes (an arithmetic offset would overflow near 2^62)."""
    from ner_spark.functions.dedup import near_dup_survivors

    big = (1 << 62) + 7
    lo = -(1 << 62) - 3
    df = spark.createDataFrame(
        [
            (big, "alpha beta gamma delta epsilon zeta"),
            (5, "alpha beta gamma delta epsilon eta"),
            (lo, "alpha beta gamma delta epsilon theta"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["canonical_id"] for r in near_dup_survivors(df).collect()}
    assert got == {big: lo, 5: lo, lo: lo}


def test_rolling_hash_edges_unicode_and_empty(spark):
    """Rolling-hash fingerprint: empty text hashes to 0, short and
    unicode texts produce the exact cross-engine reference values
    (ascii() = codepoint in both engines)."""
    from ner_spark.functions.text import fingerprint_rolling

    df = spark.createDataFrame(
        [("",), ("ab",), ("北京 test",)], "text string"
    ).select("text", fingerprint_rolling(F.col("text")).alias("f"))
    got = {r["text"]: r["f"] for r in df.collect()}
    assert got == {"": 0, "ab": 4260552829731, "北京 test": 932548459117539}

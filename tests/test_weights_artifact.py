"""Versioned weights-artifact path (model/artifact.py): save/load
round-trip, the SparkFiles/--files distribution channel, and the
manifest-fingerprint invalidation rule."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def builtin_weights():
    """Ensure the process is back on the built-in generator afterwards."""
    from ner_spark.model.artifact import reset_builtin

    reset_builtin()
    yield
    reset_builtin()


def test_artifact_roundtrip_bit_identical(tmp_path, builtin_weights):
    from ner_spark.model import tagger
    from ner_spark.model.artifact import install_weights, load_weights, save_weights

    texts = [["ACME", "Ltd", "sells", "red", "Ceramic", "mugs"], ["yuki", "tanaka"]]
    before = tagger.tag_tokens_batch(texts)

    p = save_weights(str(tmp_path / "w.npz"), version="w-test")
    w = load_weights(p)
    assert w["version"] == "w-test"
    assert w["transitions"].dtype == np.float32
    install_weights(w)
    # the artifact was saved FROM the builtin generator: installing it
    # must be a bit-identical no-op for the model's outputs
    assert tagger.tag_tokens_batch(texts) == before


def test_perturbed_artifact_changes_model(tmp_path, builtin_weights):
    from ner_spark.model import tagger
    from ner_spark.model.artifact import install_weights, load_weights, save_weights

    texts = [["ACME", "Ltd", "sells", "red", "Ceramic", "mugs"]]
    before = tagger.tag_tokens_batch(texts)
    p = save_weights(str(tmp_path / "w.npz"), version="w-mute")
    w = load_weights(p)
    w["scalars"] = (0.0, w["scalars"][1] + 100.0, w["scalars"][2])  # O drowns all
    install_weights(w)
    after = tagger.tag_tokens_batch(texts)
    assert after != before
    assert all(t == "O" for row in after for t in row)


def test_env_var_resolution_and_memoization(tmp_path, builtin_weights):
    from ner_spark.model import artifact

    p = artifact.save_weights(str(tmp_path / "w.npz"), version="w-env")
    os.environ[artifact.ENV_VAR] = p
    try:
        assert artifact.maybe_install_from_runtime() == "w-env"
        os.environ[artifact.ENV_VAR] = str(tmp_path / "missing.npz")
        # memoized: the second call must not re-resolve
        assert artifact.maybe_install_from_runtime() == "w-env"
    finally:
        del os.environ[artifact.ENV_VAR]


def test_spark_files_distribution_end_to_end(tmp_path, fixtures_small, builtin_weights):
    """The REAL channel: spark-submit --files ships the artifact, every
    executor worker installs it before tagging. A perturbed artifact must
    change the emitted triple count vs the golden — proving the workers
    actually read the file rather than falling back to the builtin."""
    from ner_spark.model.artifact import DEFAULT_ARTIFACT, load_weights, save_weights

    p = save_weights(str(tmp_path / DEFAULT_ARTIFACT), version="w-dead")
    w = load_weights(p)
    # mute the gazetteer boost: no token ever scores above O
    np.savez(
        p,
        version=np.array("w-dead"),
        transitions=w["transitions"],
        gaz_token=np.array([], dtype=object),
        gaz_type=np.array([], dtype=np.int32),
        gaz_initial=np.array([], dtype=bool),
        scalars=np.array([0.0, w["scalars"][1] + 100.0, w["scalars"][2]]),
    )
    out = tmp_path / "out"
    r = subprocess.run(
        [
            "spark-submit", "--master", "local[2]", "--files", str(p),
            os.path.join(REPO, "run_pipeline.py"),
            "--input", f"{fixtures_small}/transcripts.parquet",
            "--output", str(out), "--show", "0",
        ],
        capture_output=True, text=True, timeout=420, cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    line = [l for l in r.stdout.splitlines() if l.startswith('{"stage"')][0]
    assert json.loads(line)["triples"] == 0  # muted model ⇒ no mentions at all


def test_spark_submit_executor_env_mismatch_fails(tmp_path, fixtures_small, builtin_weights):
    """The CLI surface of the per-task weights check: executors pointed at
    another artifact via ``spark.executorEnv`` while the driver resolves
    the builtin must fail the run loudly, not publish triples — and the
    failed run must leave the last good triples in ``--output`` as they
    were."""
    import pyarrow.parquet as pq

    from ner_spark.model.artifact import ENV_VAR, save_weights

    def extract(*conf):
        return subprocess.run(
            [
                "spark-submit", "--master", "local[2]", *conf,
                os.path.join(REPO, "run_pipeline.py"),
                "--input", f"{fixtures_small}/transcripts.parquet",
                "--output", str(tmp_path / "out"), "--show", "0",
            ],
            capture_output=True, text=True, timeout=420, cwd=REPO,
        )

    r = extract()
    assert r.returncode == 0, r.stderr[-3000:]
    golden = pq.read_table(f"{fixtures_small}/reference_triples.parquet").num_rows
    assert pq.read_table(tmp_path / "out" / "triples").num_rows == golden

    p = save_weights(str(tmp_path / "w-other.npz"), version="w-other")
    r = extract("--conf", f"spark.executorEnv.{ENV_VAR}={p}")
    assert r.returncode != 0
    assert "weights-version mismatch" in r.stderr
    assert pq.read_table(tmp_path / "out" / "triples").num_rows == golden
    # the failed write's hidden sibling is cleaned up
    assert os.listdir(tmp_path / "out") == ["triples"]


def test_weights_mismatch_fails_tagging_tasks(spark, tmp_path, fixtures_small, builtin_weights):
    """Every tagging task checks its worker's weights version against the
    driver's, either way round: executors pointed at another artifact
    (``spark.executorEnv``), or a driver that resolves an artifact the
    running executors never saw. The build fails at the mentions stage
    with nothing published as complete, a rerun of the same run id after
    the fix publishes every stage, and the extract slice fails too."""
    import contextlib

    import pandas as pd

    from ner_spark.model import artifact
    from ner_spark.operators import manifest as mf
    from ner_spark.operators.extraction import mentions_to_triples
    from ner_spark.pipeline import PipelineConfig, build_mentions, run_pipeline

    other = artifact.save_weights(str(tmp_path / "w-other.npz"), version="w-other")
    t = spark.read.parquet(f"{fixtures_small}/transcripts.parquet")
    key = ["conv_id", "turn_idx", "subj", "pred", "obj"]
    # the golden triples are the oracle of a clean run
    want = pd.read_parquet(f"{fixtures_small}/reference_triples.parquet")
    want = want[key].sort_values(key).reset_index(drop=True)

    @contextlib.contextmanager
    def executor_side():
        # pyspark keeps spark.executorEnv.* here; UDF workers inherit it
        env = spark.sparkContext.environment
        env[artifact.ENV_VAR] = other
        try:
            yield
        finally:
            del env[artifact.ENV_VAR]

    @contextlib.contextmanager
    def driver_side():
        os.environ[artifact.ENV_VAR] = other
        artifact.reset_builtin()
        try:
            yield
        finally:
            del os.environ[artifact.ENV_VAR]
            artifact.reset_builtin()

    for name, mismatch in (("executor", executor_side), ("driver", driver_side)):
        out = str(tmp_path / name)
        cfg = PipelineConfig(out_dir=out, run_id="r")
        with mismatch():
            with pytest.raises(Exception, match="weights-version mismatch"):
                run_pipeline(spark, t, cfg)
        man = mf.read_manifest(spark, out).where("stage = 'mentions'").toPandas()
        assert "superseded" in set(man["status"]), name
        assert "complete" not in set(man["status"]), name

        res = run_pipeline(spark, t, cfg)
        assert len(res) == 9
        done = mf.read_manifest(spark, out).where("status = 'complete'").toPandas()
        assert set(done["stage"]) == set(res), name
        got = res["triples"].toPandas()[key].sort_values(key).reset_index(drop=True)
        assert got.equals(want.astype(got.dtypes.to_dict())), name

        with mismatch():
            with pytest.raises(Exception, match="weights-version mismatch"):
                mentions_to_triples(build_mentions(t)).write.mode(
                    "overwrite"
                ).parquet(str(tmp_path / f"{name}-extract"))


def test_inspect_weights_tool(tmp_path, builtin_weights):
    """tools/inspect_weights.py — the reference check_ckpt.py analogue:
    describes an artifact's tensors and the builtin fallback."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import inspect_weights

    from ner_spark.model.artifact import save_weights

    b = inspect_weights.describe(None)
    assert b["source"] == "builtin" and b["transitions"]["shape"] == [17, 17]

    p = save_weights(str(tmp_path / "w.npz"), version="w-inspect")
    d = inspect_weights.describe(p)
    assert d["version"] == "w-inspect"
    assert d["transitions"]["dtype"] == "float32"
    assert d["gazetteer_entries"] >= d["gazetteer_tokens"] > 0


def test_manifest_fingerprint_invalidates_on_version_bump(spark, tmp_path, fixtures_small):
    """Per the fixture-version rule: a stage published under weights
    fingerprint w1 must NOT resume under w2 — and must resume under w1."""
    from ner_spark.operators.manifest import run_stage

    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return spark.read.parquet(f"{fixtures_small}/transcripts.parquet").limit(5)

    out = str(tmp_path / "m")
    run_stage(spark, out, "r", "s", compute, fingerprint="w1")
    assert calls["n"] == 1
    run_stage(spark, out, "r", "s", compute, fingerprint="w1")
    assert calls["n"] == 1, "same fingerprint must resume"
    run_stage(spark, out, "r", "s", compute, fingerprint="w2")
    assert calls["n"] == 2, "bumped fingerprint must recompute"
    run_stage(spark, out, "r", "s", compute, fingerprint="w2")
    assert calls["n"] == 2
    # ROLLBACK: w1's old complete rows must not resurrect — the data dir
    # now holds w2's output, so serving it under w1 would be the exact
    # stale-model bug the fingerprint exists to prevent
    run_stage(spark, out, "r", "s", compute, fingerprint="w1")
    assert calls["n"] == 3, "rolled-back fingerprint must recompute"


def test_convert_external_permuted_npz_roundtrip(tmp_path, builtin_weights):
    """External-model ingestion (the reference's runtime path loads a
    trained artifact and extracts the learned transition tensor,
    /root/reference/predict.py:4-24): an ONNX-output-shaped npz whose
    transitions are listed in a DIFFERENT tag order must convert into an
    artifact that, once installed, is bit-identical to the builtin model
    — proving the tag-order re-alignment is exactly inverted."""
    from ner_spark.model import tagger
    from ner_spark.model.artifact import install_weights, load_weights
    from ner_spark.model.convert import convert_external_artifact

    texts = [["ACME", "Ltd", "sells", "red", "Ceramic", "mugs"], ["yuki", "tanaka"]]
    before = tagger.tag_tokens_batch(texts)

    # external dump: builtin transitions under a reversed tag order
    perm = list(range(len(tagger.TAG_NAMES)))[::-1]
    ext_tags = [tagger.TAG_NAMES[i] for i in perm]
    ext_trans = tagger.transitions()[np.ix_(perm, perm)].astype(np.float64)
    src = str(tmp_path / "external_model.npz")
    np.savez(src, transitions=ext_trans, tags=np.array(ext_tags, dtype=object))

    out = convert_external_artifact(src, str(tmp_path / "w.npz"), version="w-ext1")
    w = load_weights(out)
    assert w["version"] == "w-ext1"
    assert np.array_equal(w["transitions"], tagger.transitions())
    install_weights(w)
    assert tagger.tag_tokens_batch(texts) == before


def test_convert_external_json_and_validation(tmp_path, builtin_weights):
    from ner_spark.model import tagger
    from ner_spark.model.artifact import install_weights, load_weights
    from ner_spark.model.convert import convert_external_artifact

    texts = [["ACME", "Ltd", "sells", "red", "Ceramic", "mugs"]]
    before = tagger.tag_tokens_batch(texts)

    # json export with perturbed transitions: converts AND changes output
    t = tagger.transitions().astype(np.float64)
    t[0, 0] += 50.0  # O->O becomes overwhelming: runs collapse to O
    src = str(tmp_path / "m.json")
    with open(src, "w") as f:
        json.dump({"transitions": t.tolist(), "tags": list(tagger.TAG_NAMES)}, f)
    out = convert_external_artifact(src, str(tmp_path / "w.npz"), version="w-ext2")
    install_weights(load_weights(out))
    assert tagger.tag_tokens_batch(texts) != before

    # validation: wrong tag set / bad shape / non-finite all refused
    np.savez(str(tmp_path / "bad1.npz"), transitions=t[:3, :3])
    with pytest.raises(ValueError, match="refusing to guess|shape"):
        convert_external_artifact(
            str(tmp_path / "bad1.npz"), str(tmp_path / "o.npz"), version="x"
        )
    np.savez(
        str(tmp_path / "bad2.npz"),
        transitions=t,
        tags=np.array(["nope"] * len(tagger.TAG_NAMES), dtype=object),
    )
    with pytest.raises(ValueError, match="duplicate|lacks"):
        convert_external_artifact(
            str(tmp_path / "bad2.npz"), str(tmp_path / "o.npz"), version="x"
        )
    t2 = t.copy()
    t2[1, 1] = np.inf
    np.savez(str(tmp_path / "bad3.npz"), transitions=t2, tags=np.array(list(tagger.TAG_NAMES), dtype=object))
    with pytest.raises(ValueError, match="finite"):
        convert_external_artifact(
            str(tmp_path / "bad3.npz"), str(tmp_path / "o.npz"), version="x"
        )


def test_converted_artifact_drives_manifest_fingerprint(
    spark, tmp_path, fixtures_small, builtin_weights
):
    """Ingesting a converted artifact bumps the manifest fingerprint: a
    stage published under the converted version must resume under it and
    recompute under builtin — the model-upgrade invalidation rule on the
    real converted-artifact path."""
    from ner_spark.model import artifact, tagger
    from ner_spark.model.convert import convert_external_artifact
    from ner_spark.operators.manifest import run_stage

    src = str(tmp_path / "ext.npz")
    np.savez(
        src,
        transitions=tagger.transitions().astype(np.float64),
        tags=np.array(list(tagger.TAG_NAMES), dtype=object),
    )
    p = convert_external_artifact(src, str(tmp_path / "w.npz"), version="w-conv")
    os.environ[artifact.ENV_VAR] = p
    try:
        artifact.reset_builtin()  # force re-resolution through the env var
        v = artifact.active_weights_version()
        assert v == "w-conv"

        calls = {"n": 0}

        def compute():
            calls["n"] += 1
            return spark.read.parquet(
                f"{fixtures_small}/transcripts.parquet"
            ).limit(5)

        out = str(tmp_path / "m")
        run_stage(spark, out, "r", "s", compute, fingerprint=v)
        run_stage(spark, out, "r", "s", compute, fingerprint=v)
        assert calls["n"] == 1, "same converted fingerprint must resume"
    finally:
        del os.environ[artifact.ENV_VAR]
        artifact.reset_builtin()
    run_stage(
        spark, str(tmp_path / "m"), "r", "s",
        lambda: spark.read.parquet(f"{fixtures_small}/transcripts.parquet").limit(5),
        fingerprint=artifact.active_weights_version(),
    )
    # builtin fingerprint != w-conv -> the stage recomputed (no assert on
    # calls: fresh closure) — assert via manifest refusing the OLD rows
    from ner_spark.operators.manifest import stage_complete

    assert stage_complete(spark, str(tmp_path / "m"), "r", "s", fingerprint=artifact.active_weights_version())
    assert not stage_complete(spark, str(tmp_path / "m"), "r", "s", fingerprint="w-conv")

"""Fused single-scan kernel (histograms.fused_scan_partials): one
content read produces histogram partials AND per-row check partials.
It is the unit payload of the engine's checkpointed walk, so
validate_incremental over a parquet snapshot must be bit-identical to
validate()'s two-plan shape over the same files.
"""

import numpy as np
import pytest

from sparkval import ValidationConfig, ValidationEngine, fixtures as fx


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    base_pd, _, commits_pd = fx.make_case("random_mid__identity", n_rows=800)
    snap_pd = fx.distort(fx.distort(base_pd, "dangle_4"), "dup_6")
    d = tmp_path_factory.mktemp("fused")
    paths = {"base": f"file://{d}/base", "snap": f"file://{d}/snap"}
    spark.createDataFrame(base_pd).repartition(3).write.parquet(paths["base"])
    spark.createDataFrame(snap_pd).repartition(3).write.parquet(paths["snap"])
    return paths, spark.createDataFrame(commits_pd)


def _verdict_frames(out):
    return out["verdicts"].toPandas().sort_values(
        ["repo_bucket", "lang"]
    ).reset_index(drop=True)


VCOLS = ["check", "repo", "path", "commit", "content_sha256", "detail"]


def _violation_frame(out):
    return out["violations"].toPandas()[VCOLS].sort_values(VCOLS).reset_index(drop=True)


def test_fused_bit_identical_to_classic(spark, tables, tmp_path):
    paths, commits = tables
    eng = ValidationEngine(ValidationConfig(short_circuit_identical=False))
    base = eng.build_baseline(spark.read.parquet(paths["base"]))
    classic = eng.validate(spark.read.parquet(paths["snap"]), base, commits=commits)
    fused = eng.validate_incremental(
        paths["snap"], base, f"file://{tmp_path}/cache", commits=commits
    )
    vc, vf = _verdict_frames(classic), _verdict_frames(fused)
    assert list(vc.columns) == list(vf.columns) and len(vc) > 0
    for col in ("repo_bucket", "lang", "n_files_base", "n_files_snap",
                "verdict", "low_confidence"):
        assert (vc[col] == vf[col]).all(), col
    assert np.array_equal(vc["score"].to_numpy(), vf["score"].to_numpy())
    assert np.array_equal(vc["pnorm_3"].to_numpy(), vf["pnorm_3"].to_numpy())
    ic, if_ = _violation_frame(classic), _violation_frame(fused)
    assert len(ic) > 0 and ic.equals(if_)


def test_fused_manifest_parity(spark, tables, tmp_path):
    """With the expected-manifest invariant (per-row sha256 of every
    row), violation rows still match the classic shape exactly."""
    from sparkval.constraints import content_manifest

    paths, commits = tables
    eng = ValidationEngine(ValidationConfig(short_circuit_identical=False))
    base_df = spark.read.parquet(paths["base"])
    base = eng.build_baseline(base_df)
    manifest = content_manifest(base_df)  # baseline as "reference run"
    classic = eng.validate(
        spark.read.parquet(paths["snap"]), base, commits=commits,
        expected_manifest=manifest,
    )
    fused = eng.validate_incremental(
        paths["snap"], base, f"file://{tmp_path}/cache", commits=commits,
        expected_manifest=manifest,
    )
    ic, if_ = _violation_frame(classic), _violation_frame(fused)
    assert (ic["check"] == "row_invariant_sha256").any()
    assert ic.equals(if_)


def test_fused_short_circuit_identity(spark, tables, tmp_path):
    paths, _ = tables
    eng = ValidationEngine(ValidationConfig())  # short-circuit ON
    base = eng.build_baseline(spark.read.parquet(paths["base"]))
    out = eng.validate_incremental(paths["base"], base, f"file://{tmp_path}/cache")
    v = _verdict_frames(out)
    assert (v["verdict"] == "PASS").all() and (v["score"] == 0.0).all()
    assert out["violations"].count() == 0
    classic = eng.validate(spark.read.parquet(paths["base"]), base)
    assert v.equals(_verdict_frames(classic))

"""Round-5 self-review regression tests.

1. Verdict-only strip resume honors fused commits from a prior full
   validate (no silent full rescan).
2. fs_write_text commit dance: no residue on success; a crash between
   the two renames leaves .__old__ which fs_read_text serves.
3. decode_stub contract: deterministic_fake=True ALWAYS returns the
   seeded fake vector, even for decodable payloads.
4. validate_with_stop and validate_resumable leave the session's
   cache manager empty, also with a manifest.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparkval import (
    CancellationToken,
    ValidationConfig,
    ValidationEngine,
    fixtures as fx,
)


def _corpus(spark, n=1500):
    return spark.range(0, n).select(
        F.concat(F.lit("r"), (F.col("id") % 9).cast("string")).alias("repo"),
        F.col("id").cast("string").alias("path"),
        F.lit("c0").alias("commit"),
        F.lit("python").alias("lang"),
        F.sha2(F.col("id").cast("string"), 256).alias("content"),
    )


def test_verdict_only_resume_reads_fused_commits(spark, tmp_path):
    """A completed full validate's fused strips satisfy a later
    verdict-only run on the same checkpoint dir: every strip skips,
    verdicts match a fresh batch run (review round 5 — previously the
    verdict-only probe only looked at the classic partials tree and
    silently rescanned everything)."""
    eng = ValidationEngine(ValidationConfig(short_circuit_identical=False))
    corpus = _corpus(spark)
    path = str(tmp_path / "snap.parquet")
    corpus.repartition(4).write.parquet(path)
    base = eng.build_baseline(corpus)
    ckpt = str(tmp_path / "ck_cross")

    eng.validate_strips(
        path, base, ckpt, n_strips=4, include_violations=True
    )["verdicts"].count()

    seen = []
    out = eng.validate_strips(
        path, base, ckpt, n_strips=4, include_violations=False,
        on_strip=lambda i, n, sk: seen.append(sk),
    )
    assert seen == [True] * 4  # all strips resumed from fused commits
    got = out["verdicts"].toPandas()
    full = eng.validate(spark.read.parquet(path), base)["verdicts"].toPandas()
    cols = ["repo_bucket", "lang", "score", "verdict"]
    a = got[cols].sort_values(cols[:2]).reset_index(drop=True)
    b = full[cols].sort_values(cols[:2]).reset_index(drop=True)
    assert a.equals(b)


def test_fs_write_text_dance_no_residue_and_old_fallback(spark, tmp_path):
    from sparkval.io import fs_read_text, fs_write_text, hadoop_fs

    import os

    p = f"file://{tmp_path}/meta.json"
    fs_write_text(spark, p, "v1")
    fs_write_text(spark, p, "v2")
    assert fs_read_text(spark, p) == "v2"
    residue = [f for f in os.listdir(tmp_path) if "__tmp__" in f or "__old__" in f]
    assert not residue, residue

    # simulate the crash window between the parking rename and the
    # final rename: destination missing, .__old__ holds previous
    fs, jpath = hadoop_fs(spark, p)
    old = hadoop_fs(spark, p + ".__old__")[1]
    assert fs.rename(jpath, old)
    assert fs_read_text(spark, p) == "v2"  # served from the parked copy
    # the next write recovers cleanly and drops the stale parked copy
    fs_write_text(spark, p, "v3")
    assert fs_read_text(spark, p) == "v3"
    assert not [f for f in os.listdir(tmp_path) if "__old__" in f]


def test_decode_stub_fake_flag_is_a_contract():
    """deterministic_fake=True must return the seeded hash vector even
    when the payload is genuinely decodable (review round 5: flipping
    behavior on payload magic would silently change fixture
    features)."""
    import hashlib

    from sparkval.pipeline import multimodal

    px = np.zeros((4, 4, 3), dtype=np.uint8)
    payload = multimodal.encode_bmp(px)
    fake = multimodal.decode_stub(payload, "image", deterministic_fake=True)
    real = multimodal.decode_stub(payload, "image", deterministic_fake=False)
    # real path decodes dims; fake path is the digest-derived vector
    assert (real[0], real[1]) == (4, 4)
    digest = hashlib.sha256(payload).digest()
    want0 = np.frombuffer(digest[:4], dtype=np.uint32)[0] / np.iinfo(np.uint32).max
    assert fake[0] == np.float32(want0)
    assert not np.array_equal(fake, real)


def test_with_stop_releases_fused_cache_resumable_never_creates(spark, tmp_path):
    """validate_with_stop and validate_resumable, given a manifest,
    leave no cached table in the session's cache manager."""
    from sparkval.constraints import content_manifest

    base_pd = fx.make_case("random_mid__identity", n_rows=500)[0]
    snap = spark.createDataFrame(fx.distort(base_pd, "dup_6"))
    base_df = spark.createDataFrame(base_pd)
    eng = ValidationEngine(ValidationConfig(short_circuit_identical=False))
    base = eng.build_baseline(base_df)
    manifest = content_manifest(base_df)
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()

    stop = CancellationToken(spark)
    out = eng.validate_with_stop(snap, base, stop, expected_manifest=manifest)
    assert out["verdicts"].count() > 0 and out["violations"].count() > 0
    assert cache.isEmpty()

    out = eng.validate_resumable(
        snap, base, str(tmp_path / "ckr"), expected_manifest=manifest
    )
    assert out["verdicts"].count() > 0 and out["violations"].count() > 0
    assert cache.isEmpty()


def test_write_metrics_fs_form(spark, tmp_path):
    """Metrics sidecar lands through the FS API when spark is passed
    (URI paths work); legacy local form unchanged."""
    import json

    from sparkval.io import fs_read_text

    uri = f"file://{tmp_path}/m.json"
    ValidationEngine.write_metrics({"a": 1, "b": [2, 3]}, uri, spark=spark)
    assert json.loads(fs_read_text(spark, uri)) == {"a": 1, "b": [2, 3]}
    local = str(tmp_path / "m2.json")
    ValidationEngine.write_metrics({"c": 4}, local)
    with open(local) as f:
        assert json.load(f) == {"c": 4}

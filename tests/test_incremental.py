"""Incremental (churn-proportional) validation:
engine.validate_incremental — per-data-file fused partials,
content-addressed by (path, size, mtime), reused across runs.

The stale-reuse cases run over both users of the engine's checkpointed
walk: validate_incremental (one file per unit) and
validate_strips(include_violations=True) (contiguous file groups).
"""

import time

import pytest

from pyspark.sql import functions as F

from sparkval import ValidationConfig, ValidationEngine


def _corpus(spark, n=2000, salt=""):
    return spark.range(0, n).select(
        F.concat(F.lit("r"), (F.col("id") % 7).cast("string")).alias("repo"),
        F.concat(F.lit(salt), F.col("id").cast("string")).alias("path"),
        F.lit("c0").alias("commit"),
        F.lit("python").alias("lang"),
        F.sha2(F.concat(F.lit(salt), F.col("id").cast("string")), 256).alias(
            "content"
        ),
    )


@pytest.fixture(scope="module")
def eng():
    return ValidationEngine(ValidationConfig(short_circuit_identical=False))


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


WALKERS = ["validate_incremental", "validate_strips"]


def _walk(walker, eng, snap, base, ckpt):
    """Run one walker; returns (outputs, units recomputed), the count
    read from its progress hook (on_file / on_strip)."""
    recomputed = []

    def hook(i, n, done):
        recomputed.append(not done)

    if walker == "validate_incremental":
        out = eng.validate_incremental(snap, base, ckpt, on_file=hook)
        assert out["n_files_recomputed"] == sum(recomputed)
        assert out["n_files_reused"] == out["n_files_total"] - sum(recomputed)
    else:
        out = eng.validate_strips(
            snap, base, ckpt, n_strips=2, on_strip=hook, include_violations=True
        )
    return out, sum(recomputed)


def test_incremental_equals_full_and_reuses(spark, tmp_path, eng):
    corpus = _corpus(spark)
    snap = f"file://{tmp_path}/snap"
    corpus.repartition(5).write.parquet(snap)
    base = eng.build_baseline(corpus)
    cache = f"file://{tmp_path}/cache"

    out1 = eng.validate_incremental(snap, base, cache)
    assert out1["n_files_total"] == 5
    assert out1["n_files_recomputed"] == 5 and out1["n_files_reused"] == 0

    # second run over the unchanged snapshot: zero recompute, same rows
    out2 = eng.validate_incremental(snap, base, cache)
    assert out2["n_files_recomputed"] == 0 and out2["n_files_reused"] == 5
    assert _sorted_rows(out2["verdicts"]) == _sorted_rows(out1["verdicts"])

    # and both match the plain batch validate exactly
    full = eng.validate(spark.read.parquet(snap), base)
    assert _sorted_rows(out2["verdicts"]) == _sorted_rows(full["verdicts"])
    assert _sorted_rows(out2["violations"]) == _sorted_rows(full["violations"])


def test_incremental_append_recomputes_only_new_file(spark, tmp_path, eng):
    corpus = _corpus(spark)
    snap = f"file://{tmp_path}/snap"
    corpus.repartition(4).write.parquet(snap)
    base = eng.build_baseline(corpus)
    cache = f"file://{tmp_path}/cache"
    eng.validate_incremental(snap, base, cache)

    # append one new data file (a duplicate slice -> plants uniqueness
    # violations the incremental run must surface)
    extra = _corpus(spark).filter(F.col("path").isin("1", "2", "3"))
    extra.coalesce(1).write.mode("append").parquet(snap)

    out = eng.validate_incremental(snap, base, cache)
    assert out["n_files_total"] == 5
    assert out["n_files_recomputed"] == 1 and out["n_files_reused"] == 4

    full = eng.validate(spark.read.parquet(snap), base)
    assert _sorted_rows(out["violations"]) == _sorted_rows(full["violations"])
    # the planted dups are in there (3 keys x 2 rows)
    assert (
        out["violations"].filter(F.col("check") == "uniqueness").count() == 6
    )
    assert _sorted_rows(out["verdicts"]) == _sorted_rows(full["verdicts"])


@pytest.mark.parametrize("walker", WALKERS)
def test_incremental_detects_in_place_rewrite(spark, tmp_path, eng, walker):
    """Same file NAME, new bytes: (size, mtime) addressing must
    recompute it — pure path addressing would serve stale partials."""
    import glob
    import shutil

    corpus = _corpus(spark)
    snap_dir = tmp_path / "snap"
    corpus.repartition(3).write.parquet(str(snap_dir))
    base = eng.build_baseline(corpus)
    cache = f"file://{tmp_path}/cache"
    _, n1 = _walk(walker, eng, str(snap_dir), base, cache)
    # 3 files: 3 units for incremental, strips of 1 and 2 files
    assert n1 == (3 if walker == "validate_incremental" else 2)

    # rewrite one data file in place (same name) with another file's
    # bytes; keep mtime strictly newer
    parts = sorted(glob.glob(str(snap_dir / "part-*.parquet")))
    time.sleep(1.1)
    shutil.copyfile(parts[0], parts[1])

    def _crc(p):
        import os
        return os.path.join(os.path.dirname(p), "." + os.path.basename(p) + ".crc")

    # LocalFileSystem keeps a .crc shadow per file; a raw byte rewrite
    # must move it too or every later read fails checksum (this is a
    # test-harness concern: a real writer goes through the FS API)
    shutil.copyfile(_crc(parts[0]), _crc(parts[1]))

    out2, n2 = _walk(walker, eng, str(snap_dir), base, cache)
    assert n2 == 1  # only the unit holding the rewritten file
    # result reflects the REWRITTEN snapshot (parity with batch)
    full = eng.validate(spark.read.parquet(str(snap_dir)), base)
    assert _sorted_rows(out2["verdicts"]) == _sorted_rows(full["verdicts"])
    assert _sorted_rows(out2["violations"]) == _sorted_rows(full["violations"])


def test_incremental_prunes_removed_files(spark, tmp_path, eng):
    """Cache entries for files no longer present must not leak into
    the finalize (partition-filter pruning, like stale strips)."""
    import glob
    import os

    corpus = _corpus(spark)
    snap_dir = tmp_path / "snap"
    corpus.repartition(4).write.parquet(str(snap_dir))
    base = eng.build_baseline(corpus)
    cache = f"file://{tmp_path}/cache"
    eng.validate_incremental(str(snap_dir), base, cache)

    removed = sorted(glob.glob(str(snap_dir / "part-*.parquet")))[0]
    os.remove(removed)

    out = eng.validate_incremental(str(snap_dir), base, cache)
    assert out["n_files_total"] == 3
    assert out["n_files_recomputed"] == 0 and out["n_files_reused"] == 3
    full = eng.validate(spark.read.parquet(str(snap_dir)), base)
    assert _sorted_rows(out["verdicts"]) == _sorted_rows(full["verdicts"])
    assert _sorted_rows(out["violations"]) == _sorted_rows(full["violations"])


@pytest.mark.parametrize("walker", WALKERS)
def test_incremental_config_change_invalidates_cache(spark, tmp_path, eng, walker):
    """The unit id hashes the ValidationConfig: re-running with a
    different config must recompute everything, never reuse partials
    bucketed under the old config (review round 5, session 3)."""
    from sparkval import ValidationConfig, ValidationEngine

    corpus = _corpus(spark, n=800)
    snap = f"file://{tmp_path}/snap"
    corpus.repartition(2).write.parquet(snap)
    cache = f"file://{tmp_path}/cache"

    base = eng.build_baseline(corpus)
    _, n1 = _walk(walker, eng, snap, base, cache)
    assert n1 == 2

    other = ValidationEngine(
        ValidationConfig(short_circuit_identical=False, n_repo_buckets=32)
    )
    base32 = other.build_baseline(corpus)
    out2, n2 = _walk(walker, other, snap, base32, cache)
    assert n2 == 2  # no stale reuse
    full = other.validate(spark.read.parquet(snap), base32)
    assert _sorted_rows(out2["verdicts"]) == _sorted_rows(full["verdicts"])
    assert _sorted_rows(out2["violations"]) == _sorted_rows(full["violations"])


def test_incremental_covers_partitioned_layout(spark, tmp_path, eng):
    """partitionBy snapshots put data files in subdirectories; the
    recursive listing must validate ALL of them (a non-recursive walk
    would see zero files or silently drop partitions)."""
    corpus = _corpus(spark, n=1000).withColumn(
        "repo2", F.col("repo")
    )
    snap = f"file://{tmp_path}/snap"
    corpus.write.partitionBy("repo2").parquet(snap)
    base = eng.build_baseline(corpus.drop("repo2"))
    cache = f"file://{tmp_path}/cache"
    out = eng.validate_incremental(snap, base, cache)
    assert out["n_files_total"] >= 7  # one dir per repo2 value
    full = eng.validate(
        spark.read.parquet(snap).select(
            "repo", "path", "commit", "lang", "content"
        ),
        base,
    )
    assert _sorted_rows(out["verdicts"]) == _sorted_rows(full["verdicts"])

"""Round-5 ADVICE regression tests.

1. connected_components warns (instead of silently returning split
   components) when max_iter is exhausted with labels still moving.
2. Repeated direct validate calls in a long-lived session leave no
   cached table behind (none accretes call over call).
3. countmin/bloom/kmv sketch builders cast the value column to string
   (no-op for string inputs), so a non-string column hashes instead of
   crashing the executor, aligned with the codegen estimate chain.
4. Streaming entry queries raise on awaitTermination timeout instead
   of reading a possibly-incomplete sink (asserted structurally: the
   call sites check the boolean — covered by the entry queries running
   green in the oracle harness; no fixture can force a 300 s hang
   cheaply).
"""

import warnings

import pytest
from pyspark.sql import functions as F


def test_connected_components_warns_when_unconverged(spark):
    from sparkval.pipeline.dedup import connected_components

    # a path graph 0-1-2-...-9: diameter 9 needs ~9 rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["a", "b"]
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        labels = connected_components(pairs, max_iter=2, check_every=1)
        labels.count()
    assert any(
        "did not converge" in str(w.message) for w in caught
    ), [str(w.message) for w in caught]

    # enough rounds: converges silently to ONE component
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        labels = connected_components(pairs, max_iter=25, check_every=1)
        comps = {r["component"] for r in labels.collect()}
    assert comps == {0}
    assert not any("did not converge" in str(w.message) for w in caught)


def test_validate_self_releases_previous_fused_cache(spark, corpus_pair):
    from sparkval import ValidationConfig, ValidationEngine
    from sparkval.constraints import content_manifest

    corpus, snap, _commits = corpus_pair
    eng = ValidationEngine(ValidationConfig())
    base = eng.build_baseline(corpus)
    manifest = content_manifest(corpus)
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()

    # repeated direct calls, with and without a manifest: none leaves a
    # cached table, so nothing accretes call over call
    for kwargs in ({}, {"expected_manifest": manifest}, {}):
        out = eng.validate(snap, base, **kwargs)
        assert out["verdicts"].count() > 0 and out["violations"].count() > 0
        assert cache.isEmpty()


def test_sketches_accept_non_string_values(spark):
    """A numeric value column must hash (as its string form), not
    crash the executor with AttributeError in term_hash, and the
    probe expressions must hash a numeric term the same way."""
    from sparkval.stats import (
        bloom_contains_expr,
        bloom_filters,
        countmin_estimate_expr,
        countmin_sketches,
        kmv_sketches,
        merge_countmin,
    )

    df = spark.createDataFrame(
        [(i % 3, i * 11) for i in range(60)], ["g", "v"]
    ).select(F.col("g").cast("string").alias("g"), "v")
    cm = countmin_sketches(df, "v", ["g"])
    assert cm.count() == 3
    bl = bloom_filters(df, "v", ["g"])
    assert bl.count() == 3
    km = kmv_sketches(df, "v", ["g"])
    assert km.count() == 3
    # and the string form is what was hashed: identical to pre-cast
    cm2 = countmin_sketches(
        df.select("g", F.col("v").cast("string").alias("v")), "v", ["g"]
    )
    a = merge_countmin(cm, []).first()["sketch"]
    b = merge_countmin(cm2, []).first()["sketch"]
    assert list(a) == list(b)
    # the probe side hashes a numeric term as its string form too:
    # each v occurs once, and every v is a member of its group filter
    probes = df.join(
        cm.withColumnRenamed("n_values", "_n").join(
            bl.drop("n_values"), "g"
        ),
        "g",
    ).select(
        countmin_estimate_expr("v").alias("est"),
        bloom_contains_expr("v").alias("member"),
    ).collect()
    assert len(probes) == 60
    assert all(r["est"] == 1 for r in probes)
    assert all(r["member"] for r in probes)


def _lsh_family_inputs(spark):
    """Per family: (input DataFrame, near-dup call, score column). Each
    input holds near-dup cliques big enough to exceed a shrunk hot
    cap, and one id that appears twice with the same payload, so an
    unmasked kernel would emit an (id, id) pair."""
    import numpy as np
    from pyspark.sql import types as T

    from sparkval.pipeline import dedup, similarity

    rows = []
    base = "the quick brown fox jumps over the lazy dog again and again "
    for i in range(40):
        rows.append((i, base + f"tail {i % 4}"))           # 4 near-dup cliques
        rows.append((1000 + i, base + f"tail {i % 4} !"))  # near copies
    rows.append(rows[0])                                    # repeated id
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(4, 64))
    vecs = [(i, [float(v) for v in centers[i % 4] + 1e-3 * rng.normal(size=64)])
            for i in range(40)]
    vecs += [(100 + i, [float(v) for v in rng.normal(size=64)]) for i in range(40)]
    vecs.append(vecs[0])                                    # repeated id
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    embs = spark.createDataFrame(vecs, schema)
    return {
        "minhash": (lambda: dedup.near_duplicates_minhash(docs, threshold=0.5),
                    "jaccard_est"),
        "simhash": (lambda: dedup.near_duplicates_simhash(docs, max_hamming=3),
                    "hamming"),
        "cosine": (lambda: similarity.near_duplicates_cosine(embs, threshold=0.9),
                   "cosine"),
        "bit_lsh": (lambda: similarity.bit_lsh_near_dups(embs, threshold=0.9),
                    "cosine"),
    }


@pytest.mark.parametrize("family", ["minhash", "simhash", "cosine", "bit_lsh"])
def test_hot_bucket_block_pairs_match_normal_path(spark, monkeypatch, family):
    """The stage-2 block-pair decomposition for oversized buckets must
    emit EXACTLY the pair set (and scores) of the single-task path:
    force buckets through it by shrinking the cap (and the tile edge,
    so large buckets span several tiles), and compare against the
    default run on the same input. The repeated input id must never
    pair with itself on either path."""
    from sparkval.pipeline import dedup

    call, score = _lsh_family_inputs(spark)[family]
    normal = {(r["a"], r["b"]): r[score] for r in call().collect()}
    assert normal, "fixture must actually produce near-dup pairs"

    monkeypatch.setattr(dedup, "_HOT_BUCKET_CAP", 6)
    monkeypatch.setattr(dedup, "_VERIFY_SPLIT", 4)
    monkeypatch.setattr(dedup, "_VERIFY_BLOCK", 2)
    hot = {(r["a"], r["b"]): r[score] for r in call().collect()}
    assert hot == normal
    assert all(a < b for a, b in normal)



"""The shared bucket-local verify of the LSH near-dup family
(pipeline.dedup.bucket_local_pairs): lazy plans, plan shape, and loud
rejection of malformed input.

1. Building the plan of each family runs no Spark job (no checkpoint,
   no driver probe) — ``materialize=False`` for minhash.
2. Each upstream Python kernel appears once in the executed plan, and
   the simhash plan has no join.
3. A ragged embedding row raises a ValueError naming the column
   instead of silently mis-shaping every later row.
4. connected_components rejects max_iter <= 0 with a ValueError.
"""

import pytest
from pyspark.errors import PythonException
from pyspark.sql import types as T

from sparkval.pipeline import dedup, similarity

_EMB_SCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
])


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again "
    return spark.createDataFrame(
        [(i, base + f"tail {i % 4}") for i in range(24)], ["doc_id", "text"]
    )


def _embs(spark, ragged_row: bool = False):
    rows = [(i, [float((i * 7 + j) % 5 - 2) for j in range(64)]) for i in range(24)]
    if ragged_row:
        rows.append((99, [1.0] * 63))
    return spark.createDataFrame(rows, _EMB_SCHEMA)


def _plans(spark):
    docs, embs = _docs(spark), _embs(spark)
    return {
        "minhash": lambda: dedup.near_duplicates_minhash(
            docs, threshold=0.5, materialize=False
        ),
        "simhash": lambda: dedup.near_duplicates_simhash(docs),
        "cosine": lambda: similarity.near_duplicates_cosine(embs, threshold=0.9),
        "bit_lsh": lambda: similarity.bit_lsh_near_dups(embs, threshold=0.9),
    }


@pytest.mark.parametrize("family", ["minhash", "simhash", "cosine", "bit_lsh"])
def test_plan_build_runs_no_spark_job(spark, family):
    build = _plans(spark)[family]
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    out = build()
    assert set(tracker.getJobIdsForGroup()) == before
    out.collect()
    assert set(tracker.getJobIdsForGroup()) != before  # the action does run


@pytest.mark.parametrize(
    "family, kernel",
    [("minhash", "MapInArrow"), ("simhash", "MapInArrow"), ("cosine", "MapInPandas")],
)
def test_upstream_kernel_runs_once(spark, family, kernel):
    out = _plans(spark)[family]()
    out.collect()
    # the adaptive plan prints its final plan, then the initial one
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count(kernel) == 1, plan
    assert plan.count("FlatMapGroupsInArrow") == 2, plan  # stage 1 + stage 2
    if family == "simhash":
        assert "Join" not in plan, plan


def test_cosine_rejects_ragged_embedding(spark):
    with pytest.raises(PythonException, match=r"ValueError.*'embedding'"):
        similarity.near_duplicates_cosine(_embs(spark, ragged_row=True)).collect()


def test_bit_lsh_rejects_ragged_embedding(spark):
    with pytest.raises(PythonException, match=r"ValueError.*'embedding'"):
        similarity.bit_lsh_near_dups(_embs(spark, ragged_row=True)).collect()


@pytest.mark.parametrize("max_iter", [0, -1])
def test_connected_components_rejects_nonpositive_max_iter(spark, max_iter):
    pairs = spark.createDataFrame([(1, 2)], ["a", "b"])
    with pytest.raises(ValueError, match="max_iter"):
        dedup.connected_components(pairs, max_iter=max_iter)

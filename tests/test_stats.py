"""Histogram + column-stats tests vs straight-line numpy/pandas oracles.

Stage-wise oracle discipline from the reference
(tests/intermediate_values.rs): every distributed kernel is compared
against a single-machine reimplementation on the same input.
"""

import numpy as np
import pandas as pd
import pytest

from sparkval import fixtures as fx
from sparkval.config import BYTE_BINS, LEN_BINS, ValidationConfig
from sparkval.histograms import add_lang_hist, corpus_histograms, repo_bucket_py
from sparkval.stats import column_stats, length_tdigests

CFG = ValidationConfig()


def oracle_hists(pdf: pd.DataFrame):
    """Single-machine reference implementation of corpus_histograms."""
    from sparkval.config import LANG_VOCAB

    bucket = pdf["repo"].map(lambda r: repo_bucket_py(r, CFG.n_repo_buckets))
    lang = pdf["lang"].fillna("other").str.lower()
    lang = lang.where(lang.isin(LANG_VOCAB), "other")
    out = {}
    for (b, lg), grp in pdf.assign(_b=bucket, _l=lang).groupby(["_b", "_l"]):
        present = grp["content"].dropna()
        bh = np.zeros(BYTE_BINS, dtype=np.int64)
        lh = np.zeros(LEN_BINS, dtype=np.int64)
        for c in present:
            bh += np.bincount(
                np.frombuffer(c.encode("utf-8", "replace"), dtype=np.uint8),
                minlength=BYTE_BINS,
            )
        if len(present):
            lens = present.str.len().to_numpy(dtype=np.int64)
            lh = np.bincount(
                np.clip(np.log2(lens + 1).astype(np.int64), 0, LEN_BINS - 1),
                minlength=LEN_BINS,
            )
        out[(b, lg)] = (len(grp), int(grp["content"].isna().sum()), bh, lh)
    return out


@pytest.fixture(scope="module")
def corpus_pdf():
    return fx.make_corpus("random_mid", n_rows=800)


def test_corpus_histograms_match_numpy_oracle(spark, corpus_pdf):
    df = spark.createDataFrame(corpus_pdf)
    got = corpus_histograms(df, CFG).toPandas()
    want = oracle_hists(corpus_pdf)
    assert len(got) == len(want)
    for _, row in got.iterrows():
        n, nn, bh, lh = want[(row["repo_bucket"], row["lang"])]
        assert row["n_files"] == n
        assert row["n_null_content"] == nn
        assert np.array_equal(np.array(row["byte_hist"]), bh), (row["repo_bucket"], row["lang"])
        assert np.array_equal(np.array(row["len_hist"]), lh)


def test_histograms_partition_parity(spark, corpus_pdf):
    """repartition(1) == repartition(8): the strip_parity analog
    (strip.rs:38-45) — counts must be exactly equal."""
    df1 = spark.createDataFrame(corpus_pdf).repartition(1)
    df8 = spark.createDataFrame(corpus_pdf).repartition(8)
    a = corpus_histograms(df1, CFG).toPandas().set_index(["repo_bucket", "lang"]).sort_index()
    b = corpus_histograms(df8, CFG).toPandas().set_index(["repo_bucket", "lang"]).sort_index()
    assert list(a.index) == list(b.index)
    for k in a.index:
        assert np.array_equal(np.array(a.loc[k, "byte_hist"]), np.array(b.loc[k, "byte_hist"]))
        assert np.array_equal(np.array(a.loc[k, "len_hist"]), np.array(b.loc[k, "len_hist"]))


def test_lang_hist_normalized(spark, corpus_pdf):
    df = spark.createDataFrame(corpus_pdf)
    out = add_lang_hist(corpus_histograms(df, CFG)).toPandas()
    for _, row in out.iterrows():
        lh = np.array(row["lang_hist"])
        assert lh.shape == (9,)
        assert abs(lh.sum() - 1.0) < 1e-9


def test_column_stats_vs_pandas(spark, corpus_pdf):
    df = spark.createDataFrame(corpus_pdf)
    got = column_stats(df, ["lang"]).toPandas().set_index("lang").sort_index()
    want = corpus_pdf.assign(_len=corpus_pdf["content"].str.len()).groupby("lang")
    for lang, grp in want:
        assert got.loc[lang, "n_rows"] == len(grp)
        assert got.loc[lang, "len_min"] == grp["_len"].min()
        assert got.loc[lang, "len_max"] == grp["_len"].max()
        assert abs(got.loc[lang, "len_mean"] - grp["_len"].mean()) < 1e-6
        # HLL++ default rsd is 5%; allow 3 sigma
        truth = grp["path"].nunique()
        assert abs(got.loc[lang, "approx_distinct_paths"] - truth) <= max(5, 0.15 * truth)


def _rank_within(vals: np.ndarray, est: float, q: float, eps: float) -> bool:
    """est is a q-quantile of sorted ``vals`` up to rank error eps:
    the share of values below est is <= q + eps and the share at or
    below est is >= q - eps."""
    below = np.searchsorted(vals, est, "left") / len(vals)
    upto = np.searchsorted(vals, est, "right") / len(vals)
    return below - eps <= q <= upto + eps


_QS = ((0.5, "len_p50"), (0.9, "len_p90"), (0.99, "len_p99"))


def test_length_tdigests_spark(spark, corpus_pdf):
    """KLL quantiles from one JVM aggregate: no Python node in the
    plan, monotone, p50/p90/p99 exact in rank on the fixture corpus
    (every group holds <= k=200 values, so no compaction), and on one
    3,000-row group that forces compaction, within 4% in rank (3x the
    1.33% bound) and 15% in value of the exact quantiles."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(corpus_pdf)
    td = length_tdigests(df, CFG)
    plan = td._jdf.queryExecution().executedPlan().toString()
    for node in ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython"):
        assert node not in plan, (node, plan)
    out = td.toPandas()
    assert len(out) > 0
    lens = corpus_pdf.assign(
        repo_bucket=corpus_pdf["repo"].map(lambda r: repo_bucket_py(r, CFG.n_repo_buckets)),
        _len=corpus_pdf["content"].str.len(),
    ).groupby(["repo_bucket", "lang"])["_len"]
    assert len(out) == lens.ngroups
    for _, row in out.iterrows():
        vals = np.sort(lens.get_group((row["repo_bucket"], row["lang"])).to_numpy())
        assert row["len_p50"] <= row["len_p90"] <= row["len_p99"]
        for q, col in _QS:
            assert _rank_within(vals, row[col], q, 0.0), (row["lang"], q, row[col])

    big = spark.range(3000).select(
        F.lit("r/big").alias("repo"),
        F.lit("txt").alias("lang"),
        F.expr("repeat('x', cast(id + 1 as int))").alias("content"),
    )
    [row] = length_tdigests(big, CFG).collect()
    vals = np.arange(1, 3001, dtype=np.float64)
    for q, col in _QS:
        truth = np.quantile(vals, q)
        assert _rank_within(vals, row[col], q, 0.04), (q, row[col])
        assert abs(row[col] - truth) <= 0.15 * truth, (q, row[col], truth)


def test_length_tdigests_all_null_group(spark):
    """A (bucket, lang) group whose contents are all null gets null
    quantiles instead of aborting the job; other groups keep theirs."""
    rows = [("r/null", "a.py", "python", None), ("r/null", "b.py", "python", None)]
    rows += [("r/full", f"{i}.go", "go", "x" * (i + 1)) for i in range(9)]
    df = spark.createDataFrame(
        rows, "repo string, path string, lang string, content string"
    )
    out = {r["lang"]: r for r in length_tdigests(df, CFG).collect()}
    assert set(out) == {"python", "go"}
    nulls = out["python"]
    assert (nulls["len_p50"], nulls["len_p90"], nulls["len_p99"]) == (None, None, None)
    # <= k values: the sketch is exact, quantiles are observed lengths
    go = out["go"]
    assert (go["len_p50"], go["len_p99"]) == (5.0, 9.0)


def test_distinct_sketches_mergeable_monoid(spark):
    """HLL sketches are a reusable monoid: per-group sketches roll up
    to coarser groups and global without rescanning; estimates stay
    within the sketch error bound of exact at every level."""
    from pyspark.sql import functions as F

    from sparkval.stats import distinct_sketches, merge_distinct_sketches

    rows = [(f"g{i % 4}", f"k{i % 100}") for i in range(1000)]
    df = spark.createDataFrame(rows, ["grp", "key"])
    sk = distinct_sketches(df, "key", ["grp"])
    per = {r["grp"]: r["distinct_estimate"]
           for r in merge_distinct_sketches(sk, ["grp"]).collect()}
    # keys k0..k99 cycle over groups g0..g3 -> each group sees 25 keys
    assert set(per) == {"g0", "g1", "g2", "g3"}
    for v in per.values():
        assert abs(v - 25) <= 1
    glob = merge_distinct_sketches(sk, []).collect()[0]
    assert abs(glob["distinct_estimate"] - 100) <= 3
    assert glob["n_rows"] == 1000


# ----------------------------------------------------------- rollup_stats

def test_rollup_stats_all_levels_consistent(spark):
    import pandas as pd

    from sparkval.stats import rollup_stats

    pdf = pd.DataFrame(
        {
            "lang": ["en", "en", "fr", "fr", "fr"],
            "src": ["a", "b", "a", "a", "b"],
            "v": [10, 20, 30, 40, 50],
        }
    )
    out = rollup_stats(
        spark.createDataFrame(pdf), ["lang", "src"], "v"
    ).toPandas()
    levels = out.groupby("grouping_level").n_rows.sum().to_dict()
    # every level partitions the 5 rows
    assert levels == {"lang,src": 5, "lang": 5, "src": 5, "total": 5}
    total = out[out.grouping_level == "total"].iloc[0]
    assert total.val_sum == 150 and total.val_min == 10 and total.val_max == 50
    fr = out[(out.grouping_level == "lang") & (out.lang == "fr")].iloc[0]
    assert fr.val_sum == 120 and fr.val_mean == 40.0
    cell = out[
        (out.grouping_level == "lang,src") & (out.lang == "fr") & (out.src == "a")
    ].iloc[0]
    assert cell.n_rows == 2 and cell.val_sum == 70
    assert len(out) == 2 + 2 + 4 + 1  # langs + srcs + seen cells + total


def test_rollup_stats_single_scan(spark, sf_dir):
    from tests.conftest import load
    from sparkval.stats import rollup_stats

    docs = load(spark, sf_dir, "documents")
    plan = (
        rollup_stats(docs, ["lang", "source"], "n_chars")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("FileScan parquet") == 1, plan
    assert "Expand" in plan  # the map-side cube expansion


def test_correlation_profile_known_values(spark):
    import numpy as np
    import pandas as pd

    from sparkval.stats import correlation_profile

    rng = np.random.default_rng(5)
    x = rng.normal(size=300)
    pdf = pd.DataFrame(
        {
            "x": x,
            "y": 2 * x + 1,          # r == 1 exactly
            "z": rng.normal(size=300),  # near-zero r
        }
    )
    out = correlation_profile(
        spark.createDataFrame(pdf), ["x", "y", "z"]
    ).toPandas().set_index(["col_a", "col_b"])
    assert out.loc[("x", "y")].r == 1.0
    assert abs(out.loc[("x", "z")].r) < 0.2
    exp = round(float(np.corrcoef(x, pdf.z)[0, 1]), 6)
    assert out.loc[("x", "z")].r == pytest.approx(exp, abs=1e-5)
    assert (out.n_pairs == 300).all()


def test_correlation_profile_pairwise_null_deletion(spark):
    import pandas as pd

    from sparkval.stats import correlation_profile

    pdf = pd.DataFrame(
        {
            "a": [1.0, 2.0, 3.0, None, 5.0],
            "b": [2.0, 4.0, 6.0, 8.0, None],
        }
    )
    [r] = correlation_profile(spark.createDataFrame(pdf), ["a", "b"]).collect()
    assert r["n_pairs"] == 3
    assert r["r"] == 1.0  # the 3 complete pairs are perfectly linear


def test_correlation_profile_single_aggregate(spark, sf_dir):
    from tests.conftest import load
    from sparkval.stats import correlation_profile

    ev = load(spark, sf_dir, "events").select("value", "user_id", "event_id")
    plan = (
        correlation_profile(ev, ["value", "user_id", "event_id"])
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert plan.count("Aggregate") == 1, plan

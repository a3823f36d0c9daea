"""Driver contract for the spark-graft builder (PySpark target).

The engine lives in ``sparkval/``; this module recasts its operators
onto the driver's parquet tables (TPC-H-ish star schema + documents +
embeddings) so each implemented operator from SURVEY.md §2 gets a
DuckDB-checkable (spark query, oracle SQL) pair.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # every query starts by loading tables, so draining here bounds
    # lazily-persisted tables (validate single-scan fused tables) to
    # the one query in flight — the owner that lazy path otherwise
    # lacks (ADVICE round 4). Queries must load tables BEFORE building
    # lazy plans (all do: _t is always the first call).
    from sparkval.engine import release_scan_caches

    release_scan_caches()
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Constraint operators (sparkval.constraints) recast onto driver tables
# ---------------------------------------------------------------------------

def q_uniqueness_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniqueness check (SURVEY §2.4 engine-only): duplicate natural keys.

    groupBy(key).count().filter(>1) — one shuffle with map-side partial
    aggregation; scales linearly in distinct keys.
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def q_referential_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential integrity (SURVEY §2.4): orphan count via LEFT ANTI join."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer").select("c_custkey")
    orphans = orders.join(
        F.broadcast(customer),
        orders["o_custkey"] == customer["c_custkey"],
        "left_anti",
    )
    return orphans.agg(F.count(F.lit(1)).alias("n_orphans"))


def q_referential_lineitem_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey")
    orphans = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"], "left_anti")
    return orphans.agg(F.count(F.lit(1)).alias("n_orphans"))


def q_null_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-count column stats (SURVEY §2.5 engine-only column stats)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("text").isNull().cast("long")).alias("null_text"),
        F.sum(F.col("lang").isNull().cast("long")).alias("null_lang"),
        F.sum((F.length("text") != F.col("n_chars")).cast("long")).alias("len_mismatch"),
    )


# ---------------------------------------------------------------------------
# Column-stats operators (sparkval.stats)
# ---------------------------------------------------------------------------

def q_column_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang length stats (SURVEY §2.5): one shuffle, partial+final agg."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(F.length("text")).alias("len_min"),
        F.max(F.length("text")).alias("len_max"),
        F.round(F.avg(F.length("text")), 4).alias("len_avg"),
        F.count_distinct("source").alias("n_sources"),
    )


def q_lang_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the lang mix per source (SURVEY §2.5 entropy
    stat) — two-level agg, all built-ins."""
    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    tot = counts.groupBy("source").agg(F.sum("c").alias("n"))
    p = counts.join(tot, "source").select(
        "source", (F.col("c") / F.col("n")).alias("p")
    )
    ent = p.groupBy("source").agg(
        F.round((-F.sum(F.col("p") * F.log2("p"))), 6).alias("lang_entropy")
    )
    return ent


def q_score_stats_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation reduction family (SURVEY §2.5: fused max + p-norm,
    diff.rs:485-548) recast onto a numeric column: max + 3/6/12-norm
    of o_totalprice per order priority."""
    orders = _t(spark, sf_dir, "orders")
    x = F.col("o_totalprice") / F.lit(100000.0)
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.max(x), 6).alias("max_norm"),
        F.round(F.pow(F.avg(F.pow(x, 3)), 1.0 / 3.0), 6).alias("pnorm_3"),
        F.round(F.pow(F.avg(F.pow(x, 6)), 1.0 / 6.0), 6).alias("pnorm_6"),
        F.round(F.pow(F.avg(F.pow(x, 12)), 1.0 / 12.0), 6).alias("pnorm_12"),
    )


# ---------------------------------------------------------------------------
# Text-analysis operators (sparkval.pipeline.text)
# ---------------------------------------------------------------------------

def q_token_counts_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkval.session import _spread_small_input
    from sparkval.pipeline.text import with_token_count

    docs = _t(spark, sf_dir, "documents")
    # spread the few-partition doc scan so the tokenizer runs on every
    # core (round 6; no-op at >= slots partitions; output is a row SET)
    return with_token_count(
        _spread_small_input(docs.select("doc_id", "text"))
    ).select("doc_id", "n_tokens")


def q_fingerprint_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkval.pipeline.text import with_fingerprint

    docs = _t(spark, sf_dir, "documents")
    return with_fingerprint(docs).select("doc_id", "fp_exact", "fp_normalized")


def q_exact_dup_groups_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (hash-groupBy) over documents ∪ byte-identical
    copies: every text must form exactly one group of 2 (the driver's
    table itself has no byte-identical pairs, so an empty-input
    assertion would be weak evidence)."""
    from sparkval.pipeline.dedup import exact_duplicates

    docs = _t(spark, sf_dir, "documents")
    planted = docs.select("doc_id", "text").unionByName(
        docs.select((F.col("doc_id") + 200000).alias("doc_id"), "text")
    )
    return exact_duplicates(planted).select("fp", "n_dups")


def q_lang_id_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-based language ID counts per (true lang, predicted)."""
    from sparkval.session import _spread_small_input
    from sparkval.pipeline.text import with_lang_id

    docs = _t(spark, sf_dir, "documents")
    # the 5-language marker scorer is the cost: spread the
    # few-partition doc scan first so it runs on every core (round 6;
    # no-op at >= slots partitions, and the groupBy result is
    # partition-invariant)
    return (
        with_lang_id(_spread_small_input(docs.select("lang", "text")))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_quality_score_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring (expression-only, scan speed)."""
    from sparkval.pipeline.text import with_quality_score

    docs = _t(spark, sf_dir, "documents")
    return with_quality_score(docs).select("doc_id", "quality_score")


def q_length_quantiles_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact length quantiles per lang (SURVEY §2.5 column stats);
    the t-digest path covers the approximate/mergeable variant."""
    docs = _t(spark, sf_dir, "documents")
    q = F.percentile(F.length("text"), F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return docs.groupBy("lang").agg(
        F.round(q[0], 4).alias("len_p25"),
        F.round(q[1], 4).alias("len_p50"),
        F.round(q[2], 4).alias("len_p75"),
    )


def q_ngram_jaccard_adjacent_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard on a deterministic candidate set
    (adjacent doc_ids) — the verification kernel of the dedup
    pipeline, JVM built-ins only (array_intersect/union)."""
    from sparkval.pipeline.dedup import ngram_jaccard_exact

    docs = _t(spark, sf_dir, "documents")
    ids = docs.select("doc_id")
    cands = ids.select(F.col("doc_id").alias("a")).join(
        ids.select(F.col("doc_id").alias("b")), F.col("b") == F.col("a") + 1
    )
    out = ngram_jaccard_exact(docs, cands, n=3)
    return out.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


def _planted_near_dups(docs: DataFrame) -> DataFrame:
    """documents ∪ lightly-corrupted copies (doc_id + 100000): a known
    near-dup pair per document, derived deterministically in-plan."""
    corrupt = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit("zq "), F.substring("text", 5, 1 << 20)).alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(corrupt)


def _planted_containment(expected: DataFrame, found: DataFrame) -> DataFrame:
    """Planted-pair containment projection: every expected (a, b) pair
    with a found flag. The detection kernel itself is not
    SQL-expressible, but 'all planted pairs detected' IS — the oracle
    constructs the expected set from id arithmetic and asserts
    found=true, so a recall regression turns the row green->red."""
    return expected.join(
        found.select("a", "b", F.lit(True).alias("_hit")), ["a", "b"], "left"
    ).select("a", "b", F.coalesce("_hit", F.lit(False)).alias("found"))


def q_minhash_near_dups_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup sweep over documents with planted
    corrupted copies: shingle -> 64-perm minhash -> banded LSH ->
    signature-estimated Jaccard >= 0.5. Oracle: planted-pair
    containment (miss probability per pair < 1e-7 at J~0.9 with
    16 bands x 4 rows; estimated-vs-exact Jaccard is pytest-checked).

    ``materialize=False``: this entry is a one-shot plan — the driver
    (and bench.py, which clearCache()s between legs) runs exactly one
    action over it, so the long-lived-session checkpoint+unpersist
    hygiene would only add a forced materialization to the timed path
    (the round-3 bench regression)."""
    from sparkval.pipeline.dedup import near_duplicates_minhash

    docs = _t(spark, sf_dir, "documents")
    found = near_duplicates_minhash(
        _planted_near_dups(docs), threshold=0.5, materialize=False
    )
    expected = docs.select(
        F.col("doc_id").alias("a"), (F.col("doc_id") + 100000).alias("b")
    )
    return _planted_containment(expected, found)


def q_simhash_near_dups_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup sweep (64-bit signatures, 4x16 block LSH,
    Hamming <= 3) with planted EXACT copies: hamming(x, x) = 0, so the
    pigeonhole block design guarantees 100% recall on them — a
    deterministic containment oracle. (Corrupted-copy recall at
    hamming <= 3 is inherently approximate — pytest covers it.)"""
    from sparkval.pipeline.dedup import near_duplicates_simhash

    docs = _t(spark, sf_dir, "documents")
    copies = docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    planted = docs.select("doc_id", "text").unionByName(copies)
    found = near_duplicates_simhash(planted, max_hamming=3)
    expected = docs.select(
        F.col("doc_id").alias("a"), (F.col("doc_id") + 100000).alias("b")
    )
    return _planted_containment(expected, found)


def q_winnow_overlap_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint overlap on documents + planted near-dups
    (guarantee: any match of length >= k+window-1 shares a
    fingerprint). Oracle: planted-pair containment at containment
    >= 0.6, with the web-scale hot-fingerprint cut ON. (0.6, not 0.8:
    winnowing selects ~2/(w+1) of the k-gram stream, so sub-60-char
    docs carry only ~5 fingerprints and one corrupted-head
    fingerprint moves containment by 0.2.)"""
    from sparkval.pipeline.dedup import winnow_fingerprints, winnow_overlap

    docs = _t(spark, sf_dir, "documents")
    fps = winnow_fingerprints(_planted_near_dups(docs))
    found = winnow_overlap(fps, min_containment=0.6, max_fingerprint_df=100)
    expected = docs.select(
        F.col("doc_id").alias("a"), (F.col("doc_id") + 100000).alias("b")
    )
    return _planted_containment(expected, found)


def q_dedup_keep_canonical_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup RETENTION (the step after group detection): over
    documents ∪ byte-identical copies (doc_id + 200000), keep one
    canonical doc per content group (lowest id) and pass uniques
    through. Oracle: exactly the original doc_ids survive."""
    from sparkval.pipeline.dedup import dedupe_keep_canonical

    docs = _t(spark, sf_dir, "documents")
    planted = docs.select("doc_id", "text").unionByName(
        docs.select((F.col("doc_id") + 200000).alias("doc_id"), "text")
    )
    return dedupe_keep_canonical(planted).select("doc_id")


def q_dup_components_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate GROUPS from pairwise candidate edges — the
    pairs->groups step LSH dedup needs before retention (A~B, B~C must
    group A,B,C even though A~C never collided). Planted chain graph:
    edges between consecutive row_number ranks inside blocks of 5
    (diameter 4 — forces >= 4 label-propagation rounds); component =
    min doc_id of the block, which the oracle states in closed form."""
    from pyspark.sql import Window

    from sparkval.pipeline.dedup import connected_components

    docs = _t(spark, sf_dir, "documents")
    d = docs.select("doc_id").withColumn(
        "rn", F.row_number().over(Window.orderBy("doc_id")).cast("long")
    )
    blk = F.floor((F.col("rn") - 1) / 5)
    d = d.withColumn("blk", blk)
    nxt = d.select(
        F.col("doc_id").alias("b"), F.col("rn").alias("rn2"), F.col("blk").alias("blk2")
    )
    pairs = d.join(
        nxt, (F.col("rn2") == F.col("rn") + 1) & (F.col("blk2") == F.col("blk"))
    ).select(F.col("doc_id").alias("a"), "b")
    return connected_components(pairs, "a", "b").select("node", "component")


def q_stratified_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-keyed stratified sampling (training-mix
    composition): per-lang keep rates, reproducible across engines —
    the DuckDB oracle recomputes the SAME sha256-bucket selection."""
    from sparkval.pipeline.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    out = stratified_sample(
        docs,
        "lang",
        {"en": 500, "es": 750, "de": 125, "zh": 100},
        default_permille=50,  # fr exercises the default
    )
    return out.select("doc_id", "lang")


def q_salted_repo_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-salted two-stage aggregation (north-rule skew handling)
    over a deliberately skewed corpus (one repo holds ~25% of rows):
    results must be EXACTLY the plain one-stage GROUP BY — the oracle
    proves the salted rewrite is semantics-preserving."""
    from sparkval.stats import per_repo_stats

    li = _t(spark, sf_dir, "lineitem")
    # repo r0 absorbs suppkeys 0..24 -> hot key
    corpus = li.select(
        F.when(F.col("l_suppkey") % 100 < 25, F.lit("r0"))
        .otherwise(F.concat(F.lit("r"), (F.col("l_suppkey") % 100).cast("string")))
        .alias("repo"),
        F.concat_ws("/", "l_orderkey", "l_linenumber").alias("path"),
        F.lit("c0").alias("commit"),
        F.lit("python").alias("lang"),
        # string/date/int columns only: double->string formatting is
        # not identical across engines, lengths must match the oracle
        F.concat_ws(
            " ",
            "l_returnflag",
            "l_linestatus",
            F.date_format("l_shipdate", "yyyy-MM-dd"),
            F.col("l_orderkey").cast("string"),
        ).alias("content"),
    )
    out = per_repo_stats(corpus, salt_buckets=8)
    return out.select(
        "repo", "n_files", "n_null_content",
        F.round("len_mean", 6).alias("len_mean"), "len_min", "len_max",
    )


# ---------------------------------------------------------------------------
# Event-stream operators (sparkval.pipeline.events)
# ---------------------------------------------------------------------------

_TS_FMT = "yyyy-MM-dd HH:mm:ss"


def q_events_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (batch twin of the streaming op)."""
    from sparkval.pipeline.events import tumbling_window_counts

    ev = _t(spark, sf_dir, "events")
    out = tumbling_window_counts(ev, "1 hour")
    return out.select(
        F.date_format("window_start", _TS_FMT).alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
        "avg_value",
    )


def q_events_sessions_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) rolled up per user."""
    from sparkval.pipeline.events import session_stats_per_user

    ev = _t(spark, sf_dir, "events")
    return session_stats_per_user(ev, gap_minutes=30)


def q_events_latest_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-to-latest: most recent event per user."""
    from sparkval.pipeline.events import latest_event_per_user

    ev = _t(spark, sf_dir, "events")
    return latest_event_per_user(ev).select(
        "user_id", "event_id", F.date_format("ts", _TS_FMT).alias("ts"), "event_type"
    )


def q_events_asof_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (point-in-time) join — custom operator Spark lacks,
    implemented as union + carry-forward window (one shuffle, no range
    explosion): each click gets the user's latest view at-or-before it.
    Oracle: DuckDB's native ASOF JOIN."""
    from pyspark.sql import Window
    from sparkval.pipeline.events import as_of_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    # dedupe right per (user, ts) deterministically: ASOF tie order is
    # engine-specific, so make the right side unique before joining
    w = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    views = (
        ev.filter(F.col("event_type") == "view")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", F.col("event_id").alias("view_id"), "value")
    )
    out = as_of_join(clicks, views, ["user_id"], "ts", right_cols=["view_id", "value"])
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", _TS_FMT).alias("ts"),
        "view_id_right",
        F.round("value_right", 4).alias("view_value"),
        F.date_format("ts_right", _TS_FMT).alias("view_ts"),
    )


def q_events_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON prop extraction (codegen get_json_object) + rollup."""
    from sparkval.pipeline.events import extract_props

    ev = _t(spark, sf_dir, "events")
    return extract_props(ev, keys=("k",)).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("prop_k").alias("sum_k"),
        F.min("prop_k").alias("min_k"),
        F.max("prop_k").alias("max_k"),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing (sparkval.pipeline.multimodal)
# ---------------------------------------------------------------------------

def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view -> click -> purchase with strictly
    increasing timestamps (pipeline.events.funnel_steps): single
    shuffle + expression fold; the oracle is the classic chained
    min-timestamp SQL formulation the fold must equal exactly."""
    from sparkval.pipeline.events import funnel_steps

    ev = _t(spark, sf_dir, "events")
    out = funnel_steps(ev, ["view", "click", "purchase"])
    return out.orderBy("user_id")


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction over the deterministic fake
    media table (decode stubbed — no media libs in this container;
    plumbing, schema and batching are real). Rows-only check."""
    from sparkval.pipeline.multimodal import extract_features, make_fake_media

    media = make_fake_media(spark, n=64)
    feats = extract_features(media, deterministic_fake=True)
    return feats.select(
        "media_id",
        "payload_sha256",
        "payload_bytes",
        F.round(F.aggregate("features", F.lit(0.0), lambda a, v: a + v), 6).alias("feat_sum"),
    )


def q_multimodal_decode_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode (round-4 verdict: finish what the sandbox
    allows). A planted table of P6 PPM / 24bpp BMP / farbfeld / PNG
    payloads whose pixels follow a closed-form formula runs through
    extract_features with deterministic_fake=False — every feature
    comes from multimodal.decode_image's pure-numpy decoders (PNG via
    stdlib zlib with all five filter types exercised), no fake branch.
    The DuckDB oracle recomputes the decoded statistics from the pixel
    formula itself: dims, channel means, and luma-histogram support
    must all match, across all four container formats."""
    from sparkval.pipeline.multimodal import extract_features, make_real_image_media

    media = make_real_image_media(spark, n=48)
    feats = extract_features(media, deterministic_fake=False)
    arr = F.col("features")
    support = F.size(F.filter(F.slice(arr, 9, 16), lambda v: v > 0))
    return feats.join(
        F.broadcast(media.select("media_id", "format")), "media_id"
    ).select(
        "media_id",
        "format",
        F.element_at(arr, 1).cast("long").alias("width"),
        F.element_at(arr, 2).cast("long").alias("height"),
        F.round(F.element_at(arr, 4).cast("double"), 6).alias("mean_all"),
        F.round(F.element_at(arr, 6).cast("double"), 6).alias("mean_r"),
        F.round(F.element_at(arr, 8).cast("double"), 6).alias("mean_b"),
        support.cast("long").alias("luma_hist_support"),
    )


def q_multimodal_decode_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode: planted stereo PCM16 WAVs with closed-form
    samples run through extract_features with deterministic_fake=False
    (pure-numpy RIFF walker, multimodal.decode_wav). DuckDB recomputes
    frames/duration/rms/peak/zero-crossings from the sample formula."""
    from sparkval.pipeline.multimodal import extract_features, make_real_audio_media

    media = make_real_audio_media(spark, n=32)
    feats = extract_features(media, deterministic_fake=False)
    arr = F.col("features")
    return feats.select(
        "media_id",
        F.element_at(arr, 1).cast("long").alias("n_frames"),
        F.element_at(arr, 2).cast("long").alias("sample_rate"),
        F.element_at(arr, 3).cast("long").alias("n_channels"),
        F.element_at(arr, 4).cast("long").alias("duration_ms"),
        F.round(F.element_at(arr, 5).cast("double"), 6).alias("rms"),
        F.round(F.element_at(arr, 6).cast("double"), 6).alias("peak_abs"),
        F.element_at(arr, 7).cast("long").alias("zero_crossings"),
    )


# ---------------------------------------------------------------------------
# Similarity search (sparkval.pipeline.similarity)
# ---------------------------------------------------------------------------

_ANN_QUERY_IDS = [0, 7, 42]


def q_ann_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for three fixed query vectors."""
    from sparkval.pipeline.similarity import brute_force_topk

    embs = _t(spark, sf_dir, "embeddings")
    qrows = embs.filter(F.col("vec_id").isin(_ANN_QUERY_IDS)).collect()
    queries = [(r["vec_id"], list(r["embedding"])) for r in qrows]
    out = brute_force_topk(embs, queries, k=5)
    return out.select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")


def q_ivf_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5 against a centroid-PARTITIONED index (built once
    under /tmp, reused): the nprobe=8-of-16 probe is a partition
    filter, so the scan opens only probed directories. IVF is
    approximate BY DESIGN, so the oracle pins invariants, not result
    values (the t-digest discipline, round-3 verdict #1): recall@5 vs
    the exact brute-force top-5 (itself a fully-oracled query) must
    meet a fixed bound, every query must return exactly k rows, and
    IVF cosines can never EXCEED the exact kth-best (IVF searches a
    subset). Reduced to booleans so the row is value-hash comparable."""
    import hashlib as _h
    import os

    from sparkval.pipeline.similarity import (
        brute_force_topk,
        ivf_probe_lists,
        ivf_topk_indexed,
        write_ivf_index,
    )

    embs = _t(spark, sf_dir, "embeddings")
    # path is versioned: a stale index from an older engine build
    # (different quantizer init / layout) must never feed this row
    index_path = f"/tmp/sparkval_ivf_v4_{_h.md5(sf_dir.encode()).hexdigest()[:12]}"
    if not os.path.exists(f"{index_path}/_centroids.parquet"):
        write_ivf_index(embs, index_path, n_centroids=16)
    qrows = embs.filter(F.col("vec_id").isin(_ANN_QUERY_IDS)).collect()
    queries = [(r["vec_id"], list(r["embedding"])) for r in qrows]
    k, nprobe = 5, 8
    ivf = ivf_topk_indexed(spark, index_path, queries, k=k, nprobe=nprobe)

    # Invariant 1 (EXACT, data-independent): IVF over probed cells ==
    # brute force over exactly those cells' rows — pins assignment,
    # partition-pruned scan, per-cell scoring, and cross-cell merge.
    # Both paths share tie-break (cosine desc, vec_id asc) and the
    # same normalized-float64 matmul, so equality is deterministic.
    probes = ivf_probe_lists(index_path, queries, nprobe)
    idx = spark.read.parquet(index_path)
    subset_parts = [
        brute_force_topk(
            idx.filter(F.col("centroid").isin(probes[qid])).select("vec_id", "embedding"),
            [(qid, vec)],
            k=k,
        )
        for qid, vec in queries
    ]
    subset_exact = subset_parts[0]
    for p in subset_parts[1:]:
        subset_exact = subset_exact.unionByName(p)
    sym_diff = (
        ivf.exceptAll(subset_exact).count() + subset_exact.exceptAll(ivf).count()
    )

    # Invariant 2 (statistical): recall@5 vs the GLOBAL brute force
    # (itself a fully-oracled query) — measured 0.80 at sf0.01 / 0.93
    # at sf0.001 with nprobe=8/16 on the (deliberately unclustered)
    # synthetic embeddings. Bound tightened 0.6 -> 0.75 (round-4
    # verdict #6) against the measured 0.80: the run is deterministic
    # (fixed index, fixed queries, shared tie-break), so the margin
    # only needs to absorb a data regeneration, not run-to-run noise.
    # The design-case companion (ivf_clustered_recall_embeddings)
    # demands recall EXACTLY 1.0 on planted clusters.
    exact = brute_force_topk(embs, queries, k=k)
    hits = exact.join(
        ivf.select("query_id", "vec_id", F.lit(1).alias("_hit")),
        ["query_id", "vec_id"],
        "left",
    )
    per_q = hits.groupBy("query_id").agg(
        F.sum(F.coalesce("_hit", F.lit(0))).alias("n_hits")
    )
    ivf_counts = ivf.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_rows"))
    j = per_q.join(ivf_counts, "query_id").withColumn("_sym_diff", F.lit(sym_diff))
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.min(F.col("n_rows") == k).alias("each_query_k_rows"),
        F.min(F.col("_sym_diff") == 0).alias("probed_subset_exact"),
        ((F.sum("n_hits") / F.sum("n_rows")) >= 0.75).alias("recall_ok"),
    )


def _clustered_embeddings(spark: SparkSession) -> DataFrame:
    """512 vectors in 8 tight planted clusters (dim 16): cluster c's
    members are one-hot e_c plus seeded jitter of norm 0.02 —
    within-cluster cosine ~0.999, cross-cluster ~0.02. IVF's design
    case: _kmeans_lite's farthest-point init seeds every planted
    cluster (contract-tested in similarity), so each cluster owns
    exactly one inverted list and nprobe=2 recall must be perfect."""
    import numpy as np

    rng = np.random.default_rng(1234)
    C, M, D = 8, 64, 16
    jit = rng.standard_normal((C * M, D))
    jit = 0.02 * jit / np.linalg.norm(jit, axis=1, keepdims=True)
    vecs = np.repeat(np.eye(C, D), M, axis=0) + jit
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(C * M)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def q_ivf_clustered_recall_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF on its DESIGN CASE (round-4 verdict #6): the sf embeddings
    table is deliberately unclustered, where IVF can only promise a
    recall bound — on clustered data (why one deploys IVF at all) the
    promise is exact. Planted 8x64 tight clusters, one inverted list
    each (farthest-point init contract): recall@10 at nprobe=2-of-8
    must be EXACTLY 1.0, per query. Booleans for value-hash compare."""
    import os

    from sparkval.pipeline.similarity import (
        brute_force_topk,
        ivf_topk_indexed,
        write_ivf_index,
    )

    embs = _clustered_embeddings(spark)
    index_path = "/tmp/sparkval_ivf_clustered_v5"
    if not os.path.exists(f"{index_path}/_centroids.parquet"):
        write_ivf_index(embs, index_path, n_centroids=8)
    q_ids = [0, 64, 128, 192]
    qrows = embs.filter(F.col("vec_id").isin(q_ids)).collect()
    queries = [(r["vec_id"], list(r["embedding"])) for r in qrows]
    k = 10
    ivf = ivf_topk_indexed(spark, index_path, queries, k=k, nprobe=2)
    exact = brute_force_topk(embs, queries, k=k)
    hits = exact.join(
        ivf.select("query_id", "vec_id", F.lit(1).alias("_hit")),
        ["query_id", "vec_id"],
        "left",
    )
    per_q = hits.groupBy("query_id").agg(
        F.sum(F.coalesce("_hit", F.lit(0))).alias("n_hits")
    )
    counts = ivf.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_rows"))
    return per_q.join(counts, "query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.min(F.col("n_rows") == k).alias("each_query_k_rows"),
        F.min(F.col("n_hits") == k).alias("recall_exactly_one"),
    )


def q_ivf_topk_full_probe_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 with nprobe = n_centroids (probe EVERY cell): exercises
    the whole indexed path — centroid assignment, partitioned layout,
    per-cell scoring, cross-cell top-k merge — under a condition where
    the result must equal brute force EXACTLY, which makes the
    brute-force SQL a true oracle for the machinery. Pruning
    selectivity (nprobe < cells) stays covered by the recall pytest and
    the rows-only ivf_topk_embeddings query."""
    import hashlib as _h
    import os

    from sparkval.pipeline.similarity import ivf_topk_indexed, write_ivf_index

    embs = _t(spark, sf_dir, "embeddings")
    index_path = f"/tmp/sparkval_ivf_v4_{_h.md5(sf_dir.encode()).hexdigest()[:12]}"
    if not os.path.exists(f"{index_path}/_centroids.parquet"):
        write_ivf_index(embs, index_path, n_centroids=16)
    qrows = embs.filter(F.col("vec_id").isin(_ANN_QUERY_IDS)).collect()
    queries = [(r["vec_id"], list(r["embedding"])) for r in qrows]
    out = ivf_topk_indexed(spark, index_path, queries, k=5, nprobe=16)
    return out.select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")


def q_dedupe_cosine_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused embedding near-dup DEDUP (LSH -> exact verify -> connected
    components -> keep canonical): plant TWO scaled copies per vector
    (x2.0 at +100000, x0.5 at +200000 — cosine exactly 1 with the
    original, and transitively with each other), dedupe at 0.95, and
    the kept set must be EXACTLY the original ids — a direct row-set
    oracle (measured max accidental non-self cosine at sf0.01 is 0.51,
    far under threshold, so clusters are precisely the planted
    triples and the canonical is the original id)."""
    from sparkval.pipeline.similarity import dedupe_near_duplicates_cosine

    embs = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def scaled(offset: int, mul: float):
        return embs.select(
            (F.col("vec_id") + offset).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(mul))
            .cast("array<float>")
            .alias("embedding"),
        )

    planted = embs.unionByName(scaled(100000, 2.0)).unionByName(scaled(200000, 0.5))
    kept = dedupe_near_duplicates_cosine(planted, threshold=0.95)
    return kept.select("vec_id")


def q_cosine_near_dups_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-amplified LSH near-dup pairs verified by exact cosine >= 0.9,
    over embeddings ∪ planted scaled copies (vec_id + 100000). Oracle:
    planted-pair containment — cosine(v, 2v) = 1, so every planted
    pair must surface from every hash table; non-collinear recall is
    pytest-checked against brute force."""
    from sparkval.pipeline.similarity import near_duplicates_cosine

    embs = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = embs.unionByName(
        embs.select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(2.0))
            .cast("array<float>")
            .alias("embedding"),
        )
    )
    found = near_duplicates_cosine(planted, threshold=0.9)
    expected = embs.select(
        F.col("vec_id").alias("a"), (F.col("vec_id") + 100000).alias("b")
    )
    return _planted_containment(expected, found)


# ---------------------------------------------------------------------------
# Drift check (sparkval.drift) — non-SQL-expressible; rows-only oracle
# ---------------------------------------------------------------------------

def q_verdict_set_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-comparison operator (SURVEY §2.8: exceptAll both directions
    = the exact-match rate check): two independent formulations of the
    duplicate-key set must agree exactly — symmetric difference empty."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    a = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )
    w = Window.partitionBy("l_orderkey", "l_linenumber")
    b = (
        li.withColumn("dup_count", F.count(F.lit(1)).over(w))
        .filter(F.col("dup_count") > 1)
        .select("l_orderkey", "l_linenumber", "dup_count")
        .distinct()
    )
    diff = a.exceptAll(b).unionByName(b.exceptAll(a))
    return diff.agg(F.count(F.lit(1)).alias("n_mismatched"))


def _docs_as_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id")).alias("path"),
        F.lit("c0").alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
    )


def q_drilldown_bucket_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket -> repo drill-down (drift.drill_down_bucket: the
    automated-bisection step after a bucket-level FAIL): plant a
    vowel-shift in ONE repo (src3), drill into exactly that repo's
    bucket, and the per-repo attribution must (a) rank src3 top by
    score, (b) flag it FAIL, (c) score every co-bucketed untouched
    repo exactly 0 — identical histograms through the same kernel."""
    from sparkval import ValidationConfig
    from sparkval.drift import drill_down_bucket
    from sparkval.histograms import repo_bucket_py

    target = "src3"
    cfg = ValidationConfig()
    corpus = _docs_as_corpus(spark, sf_dir)
    shifted = corpus.withColumn(
        "content",
        F.when(
            F.col("repo") == target,
            F.translate("content", "aeiou", "xqzvw"),
        ).otherwise(F.col("content")),
    )
    dv = drill_down_bucket(
        shifted, corpus, repo_bucket_py(target, cfg.n_repo_buckets), cfg
    )
    return dv.agg(
        F.max_by("repo", "score").alias("top_repo"),
        F.max(
            F.when(F.col("repo") == target, F.col("verdict") == "FAIL")
        ).alias("planted_failed"),
        F.min(
            F.when(F.col("repo") != target, F.col("score") == 0.0).otherwise(
                F.lit(True)
            )
        ).alias("others_zero"),
    )


def q_drift_identity_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identity drift check over documents-as-corpus, reduced to its
    SQL-expressible invariant: snapshot == baseline ⇒ zero failures,
    max score exactly 0.0 (short-circuit, diff.rs:766-772), and every
    document accounted for in some partition. (Partition identities
    use a crc32 bucket DuckDB can't compute; per-partition rows are
    asserted in pytest.)"""
    from sparkval import ValidationConfig, ValidationEngine

    corpus = _docs_as_corpus(spark, sf_dir)
    eng = ValidationEngine(ValidationConfig())
    base = eng.build_baseline(corpus)
    v = eng.validate(corpus, base)["verdicts"]
    return v.agg(
        F.sum((F.col("verdict") != "PASS").cast("long")).alias("n_not_pass"),
        F.max("score").alias("max_score"),
        F.sum("n_files_snap").alias("n_files_total"),
    )


def q_manifest_check_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row sha256 invariant vs a reference manifest (the
    BASELINE.json input_hint contract): one doc's hash is perturbed,
    one key is dropped, one extra key is planted — the check must
    report exactly those three, classified."""
    from sparkval.constraints import content_manifest, manifest_violations

    corpus = _docs_as_corpus(spark, sf_dir)
    ref = content_manifest(corpus)
    perturbed = (
        ref.withColumn(
            "content_sha256",
            F.when(F.col("path") == "doc/0", F.sha2(F.lit("tampered"), 256)).otherwise(
                F.col("content_sha256")
            ),
        )
        .filter(F.col("path") != "doc/1")  # missing from reference
        .unionByName(
            ref.filter(F.col("path") == "doc/2").select(
                "repo",
                F.lit("doc/extra").alias("path"),
                "commit",
                "content_sha256",
            )
        )
    )
    out = manifest_violations(corpus, perturbed)
    return out.select("check", "repo", "path", "commit", "detail")


def q_drift_topk_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k worst-drifting partitions (SURVEY §2.8 orderBy+limit)
    against a byte-shifted snapshot. Oracle invariant: the 5 worst
    partitions under a whole-alphabet translate all exceed the FAIL
    threshold (ranks 1..5, failed=true)."""
    from pyspark.sql import Window
    from sparkval import ValidationConfig, ValidationEngine

    corpus = _docs_as_corpus(spark, sf_dir)
    shifted = corpus.withColumn("content", F.translate("content", "aeiou", "xqzvw"))
    eng = ValidationEngine(ValidationConfig())
    base = eng.build_baseline(corpus)
    v = eng.validate(shifted, base)["verdicts"]
    w = Window.orderBy(F.desc("score"), "repo_bucket", "lang")
    return (
        v.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("rank", (F.col("verdict") == "FAIL").alias("failed"))
    )


def q_drift_shifted_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift check against a byte-shifted snapshot, reduced to its
    SQL-expressible invariant: translate('aeiou'->'xqzvw') moves so
    much byte-histogram mass that EVERY partition must flag
    (n_pass = 0, all_failed = true), with every document accounted
    for. Per-partition scores are pinned in pytest goldens."""
    from sparkval import ValidationConfig, ValidationEngine

    corpus = _docs_as_corpus(spark, sf_dir)
    shifted = corpus.withColumn("content", F.translate("content", "aeiou", "xqzvw"))
    eng = ValidationEngine(ValidationConfig())
    base = eng.build_baseline(corpus)
    v = eng.validate(shifted, base)["verdicts"]
    return v.agg(
        F.sum((F.col("verdict") == "PASS").cast("long")).alias("n_pass"),
        F.min(F.col("verdict") == "FAIL").alias("all_failed"),
        F.sum("n_files_snap").alias("n_files_total"),
    )


def q_driftmap_violations_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bin driftmap violation sink (the diffmap-heatmap output,
    butteraugli-cli main.rs:461-519) under a planted single-byte shift
    ('e' -> 0x01): drift must be confined to the byte channel (lengths
    and lang mix are untouched by translate), and the source/target
    byte bins (101 and 1) must both be flagged in every affected
    partition. Exact per-bin drift values are kernel outputs pinned in
    pytest; the channel/bin invariant is the SQL oracle."""
    from sparkval import ValidationConfig, ValidationEngine
    from sparkval.drift import driftmap_violations

    corpus = _docs_as_corpus(spark, sf_dir)
    shifted = corpus.withColumn("content", F.translate("content", "e", "\x01"))
    eng = ValidationEngine(ValidationConfig(compute_driftmap=True))
    base = eng.build_baseline(corpus)
    v = eng.validate(shifted, base)["verdicts"]
    dv = driftmap_violations(v, threshold=1.0)
    return dv.agg(
        F.array_join(F.array_sort(F.collect_set("channel")), ",").alias("channels_with_drift"),
        F.max((F.col("channel") == "byte") & (F.col("channel_bin") == 101)).alias("bin_e_flagged"),
        F.max((F.col("channel") == "byte") & (F.col("channel_bin") == 1)).alias("bin_x01_flagged"),
    )


def q_dedupe_near_dups_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused end-to-end near-dup dedup (LSH pairs -> connected
    components -> keep-canonical) over planted clusters with
    closed-form canonicals: documents are regrouped into blocks of 5
    consecutive doc_id ranks; each block's text is 24 block-keyed hex
    tokens (xxhash64 -> cross-block shingle overlap ~0) plus a tiny
    per-member suffix (within-block Jaccard ~0.93-0.95, so every
    member pair clears threshold 0.7 with per-pair LSH miss
    probability < 1e-9). The dedup must therefore keep EXACTLY the
    min doc_id of every block — which the oracle states in closed
    form from row_number arithmetic alone."""
    from pyspark.sql import Window

    from sparkval.pipeline.dedup import dedupe_near_duplicates

    docs = _t(spark, sf_dir, "documents")
    d = docs.select("doc_id").withColumn(
        "rn", F.row_number().over(Window.orderBy("doc_id")).cast("long")
    )
    blk = F.floor((F.col("rn") - 1) / 5)
    member = ((F.col("rn") - 1) % 5).cast("string")
    toks = [F.hex(F.xxhash64(blk, F.lit(j))) for j in range(24)]
    planted = d.select(
        "doc_id", F.concat_ws(" ", *toks, F.concat(F.lit("m"), member)).alias("text")
    )
    kept = dedupe_near_duplicates(planted, threshold=0.7)
    return kept.select("doc_id")


def q_repetition_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition stats (pipeline.text.
    with_repetition_stats, the Gopher duplicate-line rule) over
    documents with PLANTED repetition: every 10th doc gets its first
    line duplicated 5x — those must flag, clean docs must not (unless
    the source text genuinely repeats lines, which the oracle equally
    detects). All codegen expressions; the oracle replays the rule with
    DuckDB list lambdas."""
    from sparkval.pipeline.text import with_repetition_stats

    docs = _t(spark, sf_dir, "documents")
    first_line = F.element_at(F.split(F.coalesce(F.col("text"), F.lit("")), "\n"), 1)
    planted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat_ws(
                "\n", first_line, first_line, first_line, first_line, first_line,
                F.col("text"),
            ),
        ).otherwise(F.col("text")),
    )
    out = with_repetition_stats(planted)
    return out.select(
        "doc_id",
        "n_lines",
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
        F.round("dup_char_frac", 6).alias("dup_char_frac"),
        "is_repetitive",
    ).orderBy("doc_id")


def q_token_budget_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group TOKEN-budget sampling (pipeline.sampling.
    token_budget_sample): cap each language at 3000 whitespace tokens
    by keeping the deterministic hash-shuffle prefix whose inclusive
    cumulative token count fits. The engine resolves it with the
    scale-safe two-level plan (bucket sums -> boundary-bucket window);
    the oracle replays the FLAT per-row cumsum rule the two-level plan
    must equal exactly — sha256 order is engine-portable."""
    from sparkval.pipeline.sampling import token_budget_sample

    docs = _t(spark, sf_dir, "documents")
    kept = token_budget_sample(docs, 3000, group_col="lang")
    return kept.select("lang", "doc_id").orderBy("lang", "doc_id")


def q_decontaminate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (pipeline.dedup.decontaminate): drop
    every training document sharing ANY 13-token word n-gram with a
    benchmark set (the GPT-3/PaLM overlap rule) — the cross-corpus op
    that keeps eval sets out of the training mix. Benchmark here =
    every 50th document, so those documents (and any true 13-gram
    collision) must come back as the dropped set. Plan shape: the
    benchmark reduces to a broadcast DISTINCT hash set; corpus grams
    die in a map-side LEFT SEMI probe — no corpus-side shuffle. The
    oracle recomputes the overlap from the n-gram STRINGS (no xxhash64
    in DuckDB), so it independently pins the semantics."""
    from sparkval.pipeline.dedup import decontaminate

    docs = _t(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 50 == 5).select("doc_id", "text")
    clean = decontaminate(docs, benchmark, n=13)
    dropped = docs.select("doc_id").exceptAll(clean.select("doc_id"))
    return dropped.orderBy("doc_id")


def q_dedup_report_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup accounting report (pipeline.dedup.dedup_report) over the
    same planted 5-member blocks as dedupe_near_dups_documents —
    closed-form oracle: n/5 clusters of exactly 5 members, 4/5 of the
    rows removed, char accounting consistent (every kept doc is a
    block's min-id member, and all block members have equal-length
    text except the per-member suffix digit, so kept_chars is the sum
    over blocks of the m0 member's length)."""
    from pyspark.sql import Window

    from sparkval.pipeline.dedup import (
        dedup_report,
        dedupe_near_duplicates,
        near_duplicates_minhash,
    )

    docs = _t(spark, sf_dir, "documents")
    d = docs.select("doc_id").withColumn(
        "rn", F.row_number().over(Window.orderBy("doc_id")).cast("long")
    )
    blk = F.floor((F.col("rn") - 1) / 5)
    member = ((F.col("rn") - 1) % 5).cast("string")
    toks = [F.hex(F.xxhash64(blk, F.lit(j))) for j in range(24)]
    planted = d.select(
        "doc_id", F.concat_ws(" ", *toks, F.concat(F.lit("m"), member)).alias("text")
    )
    kept = dedupe_near_duplicates(planted, threshold=0.7)
    pairs = near_duplicates_minhash(planted, threshold=0.7, materialize=False)
    rep = dedup_report(planted, kept, pairs=pairs)
    return rep.select(
        "in_rows", "kept_rows", "removed_rows", "removed_fraction",
        "n_clusters", "max_cluster_size", "avg_cluster_size",
        (F.col("in_chars") > F.col("kept_chars")).alias("chars_shrank"),
    )


def q_hll_distinct_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Datasketches HLL,
    stats.distinct_sketches / merge_distinct_sketches): per-source
    sketches roll up to any coarser group without rescanning — the
    monoid discipline applied to cardinality. Invariant oracle:
    (a) every per-source estimate within 2% of the exact per-source
    distinct count (computed in the same query), (b) the GLOBAL
    estimate obtained by UNIONING the per-source sketches within 2%
    of exact, and (c) the direct raw-row sketch estimate within 2% of
    exact too. (Union and direct are NOT asserted equal: Datasketches
    promotes sketch modes differently under union — measured 501 vs
    504 on 500 true distincts — both inside the error bound.)"""
    from sparkval.stats import distinct_sketches, merge_distinct_sketches

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.select(
        F.col("source").alias("grp"), F.col("doc_id").cast("string").alias("key")
    )
    sk = distinct_sketches(corpus, "key", ["grp"])
    per = merge_distinct_sketches(sk, ["grp"])
    exact = corpus.groupBy("grp").agg(
        F.countDistinct("key").alias("exact_distinct")
    )
    per_ok = (
        per.join(exact, "grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sources"),
            F.min(
                (F.abs(F.col("distinct_estimate") - F.col("exact_distinct"))
                 / F.col("exact_distinct")) <= 0.02
            ).alias("per_source_within_2pct"),
        )
    )
    rollup = merge_distinct_sketches(sk, []).select(
        F.col("distinct_estimate").alias("rollup_est")
    )
    direct = corpus.agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col("key"), F.lit(12))
        ).alias("direct_est"),
        F.countDistinct("key").alias("exact_global"),
    )
    g = rollup.crossJoin(direct)
    pct = lambda c: (  # noqa: E731
        F.abs(F.col(c) - F.col("exact_global")) / F.col("exact_global") <= 0.02
    )
    return per_ok.crossJoin(
        g.select(
            pct("rollup_est").alias("rollup_within_2pct"),
            pct("direct_est").alias("direct_within_2pct"),
        )
    )


def q_tdigest_lengths_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(bucket, lang) KLL length quantiles (Spark's
    kll_sketch_agg_bigint, default k=200) reduced to their
    SQL-expressible invariants (the sketch is approximate and its
    compaction randomized, so the oracle pins properties, not values):
    quantiles monotone in p for every group, within 15% relative of
    the EXACT per-group percentiles (measured max 7.2% at sf0.01 /
    2.0% at sf0.1; KLL bounds the rank error at ~1.33% of the group,
    groups of <= k values are exact, and the rest of the gap is
    nearest-rank vs interpolated percentiles), and every document
    counted in some group."""
    from sparkval.config import ValidationConfig
    from sparkval.histograms import prepared_scan
    from sparkval.stats import length_tdigests

    corpus = _docs_as_corpus(spark, sf_dir)
    cfg = ValidationConfig()
    td = length_tdigests(corpus, cfg)
    exact = (
        prepared_scan(corpus, cfg.n_repo_buckets)
        .groupBy(F.col("_b").alias("repo_bucket"), F.col("_l").alias("lang"))
        .agg(
            F.percentile("_len", 0.5).alias("e50"),
            F.percentile("_len", 0.9).alias("e90"),
            F.percentile("_len", 0.99).alias("e99"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    m = td.join(exact, ["repo_bucket", "lang"])
    rel = lambda p, e: F.abs(F.col(p) - F.col(e)) / F.col(e)  # noqa: E731
    return m.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups_nonzero"),
        F.min(
            (F.col("len_p50") <= F.col("len_p90"))
            & (F.col("len_p90") <= F.col("len_p99"))
        ).alias("all_monotone"),
        F.max(
            F.greatest(rel("len_p50", "e50"), rel("len_p90", "e90"),
                       rel("len_p99", "e99"))
        ).alias("max_rel"),
        F.sum("n").alias("n_files_total"),
    ).select(
        (F.col("n_groups_nonzero") > 0).alias("has_groups"),
        "all_monotone",
        (F.col("max_rel") <= 0.15).alias("within_15pct_of_exact"),
        "n_files_total",
    )


def q_strip_validate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strip-walker validation (ValidationEngine.validate_strips:
    per-strip committed partial histograms over the input files,
    butteraugli_strip's walker recast to the scan) reduced to the
    strip==full invariant (strip.rs:38-45 / tests/strip_parity.rs):
    verdicts from a 4-strip walk must EXACTLY equal batch validate()
    — the partial-histogram monoid makes them bit-identical — and the
    vowel shift must fail every partition. Round 4: strip mode is a
    FULL validate (include_violations=True commits narrow per-row
    check partials alongside the histograms); violation parity with
    batch validate() is asserted in the same row (n_vio_mismatch,
    planted duplicate keys included)."""
    import atexit
    import shutil
    import tempfile

    from sparkval import ValidationConfig, ValidationEngine

    corpus = _docs_as_corpus(spark, sf_dir)
    shifted = corpus.withColumn("content", F.translate("content", "aeiou", "xqzvw"))
    eng = ValidationEngine(ValidationConfig())
    base = eng.build_baseline(corpus)
    base.persist().count()

    tmp = tempfile.mkdtemp(prefix="sparkval_strip_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    snap_path = f"{tmp}/snapshot.parquet"
    shifted.repartition(8, "path").write.parquet(snap_path)
    # plant 3 duplicated keys AS A SEPARATE APPENDED FILE: identical
    # rows colocate under any column-hash repartition, so only file
    # separation actually lands the two copies of a key in DIFFERENT
    # strips — the cross-strip uniqueness-count case this row claims
    # to exercise (review round 4)
    shifted.filter(F.col("path").isin("doc/20", "doc/21", "doc/22")).coalesce(
        1
    ).write.mode("append").parquet(snap_path)

    out = eng.validate_strips(
        snap_path, base, f"{tmp}/ck", n_strips=4, include_violations=True
    )
    strip_v = out["verdicts"]
    batch = eng.validate(spark.read.parquet(snap_path), base)
    batch_v = batch["verdicts"]
    cols = ["repo_bucket", "lang", "score", "pnorm_3", "verdict", "n_files_snap"]
    sv, bv = strip_v.select(*cols), batch_v.select(*cols)
    n_mismatch = sv.exceptAll(bv).count() + bv.exceptAll(sv).count()
    vcols = ["check", "repo", "path", "commit", "content_sha256", "detail"]
    svio, bvio = out["violations"].select(*vcols), batch["violations"].select(*vcols)
    n_vio_mismatch = svio.exceptAll(bvio).count() + bvio.exceptAll(svio).count()
    n_vio = svio.count()
    res = sv.agg(
        F.lit(n_mismatch).cast("long").alias("n_mismatch"),
        F.min(F.col("verdict") == "FAIL").alias("all_failed"),
        F.sum("n_files_snap").alias("n_files_total"),
        F.lit(n_vio_mismatch).cast("long").alias("n_vio_mismatch"),
        # 3 duplicated keys -> 6 uniqueness violation rows, closed form
        F.lit(n_vio == 6).alias("planted_vio_count_ok"),
    )
    base.unpersist()
    return res


def q_lineage_metrics_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The run-metrics lineage surface (CLI JSON output + batch
    summary, butteraugli-cli main.rs:156-194,624-660) under planted
    violations, reduced to its closed-form invariants: 3 duplicated
    natural keys -> 6 uniqueness rows, 2 nullified contents -> 2
    null_required rows, files_validated counts every row including the
    planted ones, and the verdict counts partition the partition set."""
    from sparkval import ValidationConfig, ValidationEngine

    corpus = _docs_as_corpus(spark, sf_dir)
    dups = corpus.filter(F.col("path").isin("doc/20", "doc/21", "doc/22"))
    nulled = corpus.withColumn(
        "content",
        F.when(F.col("path").isin("doc/10", "doc/11"), F.lit(None)).otherwise(
            F.col("content")
        ),
    )
    snap = nulled.unionByName(dups)
    eng = ValidationEngine(ValidationConfig())
    base = eng.build_baseline(corpus)
    out = eng.validate(snap, base)
    import time as _time

    m = eng.run_metrics(out["verdicts"], out["violations"], _time.time())
    vc = m["verdict_counts"]
    row = {
        "files_validated": int(m["files_validated"]),
        "n_uniqueness": int(m["violations_by_check"].get("uniqueness", 0)),
        "n_null_required": int(m["violations_by_check"].get("null_required", 0)),
        "n_referential": int(m["violations_by_check"].get("referential_commit_repo", 0)),
        "counts_consistent": bool(
            vc["PASS"] + vc["WARN"] + vc["FAIL"] == m["partitions"] > 0
        ),
    }
    return spark.createDataFrame(
        [row],
        "files_validated: long, n_uniqueness: long, n_null_required: long, "
        "n_referential: long, counts_consistent: boolean",
    ).select(
        "files_validated", "n_uniqueness", "n_null_required", "n_referential",
        "counts_consistent",
    )


def q_stream_dedupe_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup with bounded state
    (sparkval.streaming.stream_dedupe: dropDuplicatesWithinWatermark)
    over a REAL multi-micro-batch stream: every event written TWICE
    into the source (duplicates deliberately split across files so
    copies land in different micro-batches and must be caught by
    retained state, not same-batch dedup). DIRECT row-set oracle: the
    deduped event_id set must equal the events table exactly."""
    import atexit
    import shutil
    import tempfile

    from sparkval.streaming import stream_dedupe

    ev = _t(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts")
    )
    tmp = tempfile.mkdtemp(prefix="sparkval_sdedup_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    src, out, ckpt = f"{tmp}/events", f"{tmp}/out", f"{tmp}/ckpt"
    # copy 1 = ONE file = the whole first micro-batch: the watermark
    # for batch 1 is still at epoch (it advances from the PREVIOUS
    # batch's data), so every original is emitted. Copy 2 = a second
    # file/batch, by which time the watermark sits 2h under copy 1's
    # max ts: each duplicate is dropped either by retained key state
    # (ts within the delay) or as late data (older than watermark) —
    # both correct dedup outcomes, neither re-emits
    ev.repartition(1).write.parquet(src)
    ev.repartition(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_dedupe(stream, ["event_id"], ts_col="ts", delay="2 hours")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        raise TimeoutError(
            "streaming query still running after 300 s — refusing to "
            "read a possibly-incomplete sink (ADVICE r5)"
        )
    return spark.read.parquet(out).select("event_id").orderBy("event_id")


def q_stream_windowed_counts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window streaming aggregation
    (sparkval.streaming.windowed_lang_counts) run as a REAL
    multi-micro-batch stream (maxFilesPerTrigger=1, availableNow,
    complete mode) — with a DIRECT value oracle, not an invariant:
    the final per-(window, event_type) counts must equal DuckDB's
    batch date_trunc GROUP BY on the same events table (complete mode
    keeps all window state, so end-of-stream equals batch; the
    watermark only bounds state on unbounded streams)."""
    import atexit
    import shutil
    import tempfile

    from sparkval.streaming import windowed_lang_counts

    # events.ts is TIMESTAMP_NTZ; watermarks require TIMESTAMP —
    # cast once at the source (session tz is UTC, so formatting is
    # unchanged and the oracle's naive date_trunc matches)
    ev = _t(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type"
    )
    tmp = tempfile.mkdtemp(prefix="sparkval_win_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    src = f"{tmp}/events"
    ev.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = windowed_lang_counts(
        stream, ts_col="ts", lang_col="event_type", window="1 hour",
        watermark="2 hours",
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sparkval_win_ev")
        .option("checkpointLocation", f"{tmp}/ck")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        raise TimeoutError(
            "streaming query still running after 300 s — refusing to "
            "read a possibly-incomplete sink (ADVICE r5)"
        )
    return spark.table("sparkval_win_ev").select(
        F.date_format("window_start", _TS_FMT).alias("window_start"),
        "event_type",
        F.col("n").alias("n_events"),
    )


def q_stream_cumulative_drift_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful streaming operator
    (sparkval.streaming.stream_cumulative_drift, applyInPandasWithState:
    running per-bucket histograms as typed group state — the strip
    walker's StripReducer as a stream) reduced to its state-correctness
    invariant: accumulating the corpus over 4 micro-batches
    (maxFilesPerTrigger=1) must land EXACTLY where a single-batch run
    lands — the histogram monoid is associative, so the final per-bucket
    scores are bit-equal (n_mismatch = 0) — and the vowel shift fails
    every bucket with every document counted."""
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import Window

    from sparkval import ValidationConfig, ValidationEngine
    from sparkval.streaming import stream_cumulative_drift

    corpus = _docs_as_corpus(spark, sf_dir)
    shifted = corpus.withColumn("content", F.translate("content", "aeiou", "xqzvw"))
    cfg = ValidationConfig()
    base = ValidationEngine(cfg).build_baseline(corpus)
    base.persist().count()

    tmp = tempfile.mkdtemp(prefix="sparkval_cum_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    src = f"{tmp}/src"
    shifted.repartition(4).write.parquet(src)

    def run(name: str, max_files: int | None):
        reader = spark.readStream.schema(shifted.schema)
        if max_files is not None:
            reader = reader.option("maxFilesPerTrigger", max_files)
        stream = reader.parquet(src)
        q = (
            stream_cumulative_drift(stream, base, cfg)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", f"{tmp}/ck_{name}")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            raise TimeoutError(
                "streaming query still running after 300 s — refusing to "
                "read a possibly-incomplete sink (ADVICE r5)"
            )
        # last emission per bucket = the cumulative final state
        w = Window.partitionBy("repo_bucket").orderBy(F.desc("files_seen"))
        return (
            spark.table(name)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("repo_bucket", "files_seen", "score", "verdict")
        )

    multi = run("cum_multi", 1)    # 4 micro-batches, state carried across
    single = run("cum_single", None)  # everything in one batch
    n_mismatch = multi.exceptAll(single).count() + single.exceptAll(multi).count()
    res = multi.agg(
        F.lit(n_mismatch).cast("long").alias("n_mismatch"),
        F.min(F.col("verdict") == "FAIL").alias("all_failed"),
        F.sum("files_seen").alias("n_files_total"),
    )
    base.unpersist()
    return res


def q_stream_drift_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift (sparkval.streaming.stream_validate: foreachBatch
    over an availableNow file source) reduced to its batch-equivalence
    invariant — the strip==full parity discipline (strip.rs:38-45)
    applied to Structured Streaming: the streamed verdict set must
    EXACTLY equal the batch verdict set over the same shifted corpus
    (n_mismatch = 0 via exceptAll both ways, bit-equal scores since
    both paths run the same integer-exact histogram merge + kernel),
    and the vowel-shift distortion must fail every partition with all
    documents accounted for."""
    import atexit
    import shutil
    import tempfile

    from sparkval import ValidationConfig, ValidationEngine
    from sparkval.drift import drift_verdicts, partition_histograms
    from sparkval.streaming import stream_validate

    corpus = _docs_as_corpus(spark, sf_dir)
    shifted = corpus.withColumn("content", F.translate("content", "aeiou", "xqzvw"))
    cfg = ValidationConfig()
    eng = ValidationEngine(cfg)
    base = eng.build_baseline(corpus)
    base.persist().count()

    tmp = tempfile.mkdtemp(prefix="sparkval_stream_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    src, out, ckpt = f"{tmp}/src", f"{tmp}/verdicts", f"{tmp}/ckpt"
    shifted.write.parquet(src)
    stream = spark.readStream.schema(shifted.schema).parquet(src)
    q = stream_validate(stream, base, cfg, out, ckpt, trigger_once=True)
    if not q.awaitTermination(300):
        raise TimeoutError(
            "streaming query still running after 300 s — refusing to "
            "read a possibly-incomplete sink (ADVICE r5)"
        )

    cols = ["repo_bucket", "lang", "score", "verdict", "n_files_snap"]
    sv = spark.read.parquet(out).select(*cols)
    bv = drift_verdicts(base, partition_histograms(shifted, cfg), cfg).select(*cols)
    n_mismatch = sv.exceptAll(bv).count() + bv.exceptAll(sv).count()
    res = sv.agg(
        F.lit(n_mismatch).cast("long").alias("n_mismatch"),
        F.min(F.col("verdict") == "FAIL").alias("all_failed"),
        F.sum("n_files_snap").alias("n_files_total"),
    )
    base.unpersist()
    return res


def q_duplicated_spans_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level duplicate detection (pipeline.dedup.duplicated_spans,
    the Lee et al. 2022 substring-dedup rule) over documents with a
    PLANTED 20-word boilerplate passage prepended to every 25th doc:
    those docs must report a span starting at word 0 of length >= 20
    (plus any organic duplicated spans, which the oracle — replaying
    the rule from n-gram STRINGS, positions and island merge included —
    equally finds)."""
    from sparkval.pipeline.dedup import duplicated_spans

    docs = _t(spark, sf_dir, "documents")
    passage = " ".join(f"dupseg{i:02d}" for i in range(20))
    planted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 25 == 0,
            F.concat(F.lit(passage + " "), F.coalesce(F.col("text"), F.lit(""))),
        ).otherwise(F.col("text")),
    )
    out = duplicated_spans(planted, n=13)
    return out.select("doc_id", "span_start", "span_end", "n_words").orderBy(
        "doc_id", "span_start"
    )


def q_cluster_embeddings_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed spherical k-means (pipeline.similarity.
    cluster_embeddings) on its design case — the same 8x64 planted
    clusters as the IVF recall row: every planted group must land in
    exactly ONE cluster, no two groups may share a cluster (8 distinct
    ids), and every winning cosine is ~1. The farthest-point init
    contract makes the outcome deterministic, so the invariant
    booleans are exact, not probabilistic."""
    from sparkval.pipeline.similarity import cluster_embeddings

    embs = _clustered_embeddings(spark)
    out = cluster_embeddings(embs, k=8, iters=3)
    per = out.withColumn("planted", (F.col("vec_id") / 64).cast("long")).groupBy(
        "planted"
    ).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.countDistinct("cluster").alias("n_clusters"),
        F.min("similarity").alias("min_sim"),
    )
    groups = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min(F.col("n_members") == 64).alias("groups_complete"),
        F.min(F.col("n_clusters") == 1).alias("each_group_one_cluster"),
        F.min(F.col("min_sim") > 0.99).alias("all_tight"),
    )
    # global distinctness: two pure groups sharing one cluster would
    # pass the per-group checks — this column catches that collapse
    total = out.agg(
        F.countDistinct("cluster").cast("long").alias("n_distinct_clusters")
    )
    return groups.crossJoin(F.broadcast(total))


def q_merge_baselines_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-baseline invariant (baseline.merge_baselines):
    baselines built over a disjoint 2-way hash split of the corpus,
    merged, must equal the one-shot full-corpus baseline in EVERY
    column — accumulator sums, XOR'd fingerprints, renormalized
    lang_hist, re-derived warm bands. The full-outer join reduces the
    bit-equality to n_mismatched_rows == 0 (a key on one side only
    also counts as a mismatch), with n_files_total globally oracled
    (the crc32 partition key itself is pytest-covered; DuckDB cannot
    compute it)."""
    from sparkval import ValidationConfig
    from sparkval.baseline import build_baseline, merge_baselines

    corpus = _docs_as_corpus(spark, sf_dir)
    cfg = ValidationConfig()
    parts = [
        corpus.filter(F.pmod(F.xxhash64("path"), F.lit(2)) == i) for i in range(2)
    ]
    merged = merge_baselines(*[build_baseline(p, cfg) for p in parts], config=cfg)
    full = build_baseline(corpus, cfg)
    key = ["repo_bucket", "lang"]
    cond = F.lit(True)
    for c in full.columns:
        if c not in key:
            cond = cond & (F.col(f"m.{c}") == F.col(f"f.{c}"))
    j = merged.alias("m").join(full.alias("f"), key, "full_outer")
    return j.agg(
        F.sum(F.when(cond, 0).otherwise(1)).cast("long").alias("n_mismatched_rows"),
        F.sum("f.n_files").cast("long").alias("n_files_total"),
    )


def q_dedupe_against_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus NEAR-dup decontamination (pipeline.dedup.
    dedupe_against): the reference set holds a lightly-perturbed twin
    (one short suffix token changed, Jaccard ~0.95) of every 20th
    corpus doc; those docs — and only those — must be dropped at
    threshold 0.7. Unrelated docs are random hex token streams
    (pairwise Jaccard ~0), so the dropped set has a closed form the
    oracle states directly. Reference side is broadcast end-to-end;
    corpus content never shuffles."""
    from sparkval.pipeline.dedup import dedupe_against

    docs = _t(spark, sf_dir, "documents")
    toks = [F.hex(F.xxhash64(F.col("doc_id"), F.lit(j))) for j in range(24)]
    corpus = docs.select(
        "doc_id", F.concat_ws(" ", *toks, F.lit("c0")).alias("text")
    )
    ref = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat_ws(" ", *toks, F.lit("r1")).alias("text"),
    )
    clean = dedupe_against(corpus, ref, threshold=0.7)
    dropped = corpus.select("doc_id").exceptAll(clean.select("doc_id"))
    return dropped.orderBy("doc_id")


def q_hash_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (pipeline.sampling.
    hash_split): sha256(doc_id) bucket in [0,1000) mapped onto the
    default 800/100/100 ranges. Hash-keyed, so a row never migrates
    between splits under repartitioning or corpus growth. Pure
    projection — no shuffle; the oracle replays the bucket arithmetic
    exactly (sha256 is the engine-portable primitive)."""
    from sparkval.pipeline.sampling import hash_split

    docs = _t(spark, sf_dir, "documents")
    return hash_split(docs.select("doc_id")).orderBy("doc_id")


def q_mixture_report_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix accounting (pipeline.sampling.mixture_report):
    per-language doc/token counts, token share, and the resampling
    weight that would rebalance to a uniform mix. One groupBy + a
    broadcast one-row total — row data shuffles once."""
    from sparkval.pipeline.sampling import mixture_report

    docs = _t(spark, sf_dir, "documents")
    out = mixture_report(docs, group_col="lang")
    return out.select(
        "lang", "n_docs", "n_tokens",
        F.round("token_share", 6).alias("token_share"),
        F.round("target_share", 6).alias("target_share"),
        F.round("mix_weight", 6).alias("mix_weight"),
    ).orderBy("lang")


def q_pack_sequences_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window sequence packing (pipeline.sampling.
    pack_sequences): per-language concat-then-split-at-512-token
    boundaries in deterministic sha256 order. The engine runs the
    scale-safe two-level bucket plan; the oracle replays the FLAT
    per-row running-sum rule the bucketed plan must equal exactly."""
    from sparkval.pipeline.sampling import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    out = pack_sequences(docs, ctx_tokens=512, group_col="lang")
    return out.select(
        "doc_id", "lang", "pack_id", "offset_in_pack", "n_tokens"
    ).orderBy("doc_id")


def q_gopher_quality_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality rules (pipeline.text.
    with_gopher_quality, Rae et al. 2021 §A1.1.2): word-count band,
    mean-word-length band, symbol ratio, alpha-word fraction, distinct
    stopword minimum. All higher-order array expressions over one
    tokenization; the oracle replays each rule with DuckDB list
    lambdas. Rules are evaluated on UNROUNDED values on both sides;
    only the reported fractions are rounded."""
    from sparkval.pipeline.text import with_gopher_quality

    docs = _t(spark, sf_dir, "documents")
    out = with_gopher_quality(docs)
    return out.select(
        "doc_id", "n_words",
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("symbol_word_ratio", 6).alias("symbol_word_ratio"),
        F.round("alpha_word_frac", 6).alias("alpha_word_frac"),
        "stopword_hits", "rule_words", "rule_word_len", "rule_symbols",
        "rule_alpha", "rule_stopwords", "gopher_keep",
    ).orderBy("doc_id")


def q_pii_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction accounting (pipeline.text.
    with_pii_stats / redact_pii) over documents with PLANTED PII:
    every 7th doc gains an email, every 11th an IPv4, every 13th a
    phone number — so all three detectors fire on known rows (plus any
    organic matches, which the oracle equally detects). The patterns
    are the RE2-and-Java-compatible subset, so DuckDB replays both the
    counts and the redacted length."""
    from sparkval.pipeline.text import redact_pii, with_pii_stats

    docs = _t(spark, sf_dir, "documents")
    base = F.coalesce(F.col("text"), F.lit(""))
    planted = docs.withColumn(
        "text",
        F.concat(
            base,
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat(F.lit(" contact user"),
                            F.col("doc_id").cast("string"),
                            F.lit("@example.com"))).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 3,
                   F.lit(" from 10.1.2.3")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 6,
                   F.lit(" call 555-867-5309")).otherwise(F.lit("")),
        ),
    )
    out = redact_pii(with_pii_stats(planted))
    return out.select(
        "doc_id", "n_email", "n_ipv4", "n_phone", "has_pii",
        F.length("text_redacted").cast("long").alias("redacted_len"),
    ).orderBy("doc_id")


def q_vocab_topk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-50 (pipeline.text.vocab_topk): most
    frequent lowercased whitespace terms with occurrence and
    document-frequency counts. Explode -> two-level aggregate; top-k
    resolves as TakeOrderedAndProject with a term-string tiebreak so
    the cut is total-ordered and engine-reproducible."""
    from sparkval.pipeline.text import vocab_topk

    docs = _t(spark, sf_dir, "documents")
    return vocab_topk(docs, k=50)


def q_corpus_diff_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (constraints.corpus_diff): per-id added/removed/
    changed/unchanged status between two corpus versions. The
    "current" version derives deterministically from documents: ids
    with doc_id%7==3 are dropped (-> removed), ids with doc_id%5==1
    get ' EDIT' appended (-> changed, unless also dropped), and
    clones at doc_id+10000000 are appended for doc_id%11==6
    (-> added). Plan: both sides project to (id, sha256) at the scan —
    content never shuffles; full-outer join on id only. The oracle
    replays the same mutations and compares text with IS NOT DISTINCT
    FROM, independently pinning the NULL-text semantics."""
    from sparkval.constraints import corpus_diff

    docs = _t(spark, sf_dir, "documents")
    prev = docs.select("doc_id", "text")
    cur = (
        docs.filter(F.col("doc_id") % 7 != 3)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 5 == 1, F.concat(F.col("text"), F.lit(" EDIT"))
            ).otherwise(F.col("text")).alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 11 == 6).select(
                (F.col("doc_id") + 10000000).alias("doc_id"), "text"
            )
        )
    )
    return corpus_diff(cur, prev).orderBy("doc_id", "status")


def q_source_overlap_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap matrix (pipeline.dedup.
    group_overlap_matrix): exact Jaccard of distinct word-5-shingle
    sets for every source pair — the mixture-redundancy report. Plan:
    (source, gram-hash) distinct stream, self-equi-join ON THE GRAM
    KEY (no group-level cross join), broadcast size dimensions. The
    oracle recomputes from shingle STRINGS (no xxhash64 in DuckDB),
    so it independently pins the shingle tokenizer and the count
    semantics; hash collisions would surface as count drift."""
    from sparkval.pipeline.dedup import group_overlap_matrix

    docs = _t(spark, sf_dir, "documents")
    out = group_overlap_matrix(docs, group_col="source", k_shingle=5)
    return out.orderBy("group_a", "group_b")


def q_unigram_divergence_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution shift (stats.unigram_divergence):
    KL(P_source || P_corpus) over lowercased whitespace unigrams with
    token/vocab counts — the mixture-drift metric. One scan; corpus
    marginals derive from the per-group counts table (no second
    scan); the only cross join is the 1-row corpus-total scalar.
    Rounded at 1e-6 so f64 summation order differences between
    engines cannot surface."""
    from sparkval.stats import unigram_divergence

    docs = _t(spark, sf_dir, "documents")
    out = unigram_divergence(docs, group_col="source")
    return out.withColumnRenamed("group", "grp").orderBy("grp")


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (pipeline.sampling.chunk_documents):
    chunk_size=128 / stride=96 sliding character windows per document,
    emitted as narrow (id, idx, start, len, md5) rows — offsets +
    fingerprints, never the chunk text. Pure codegen projection
    (sequence + posexplode + substring), zero shuffle. The oracle
    replays the window rule on a constant 0..63 grid (DuckDB
    generate_series needs constant bounds; max doc is 577 chars =
    7 chunks) and md5-hashes the same UTF-8 slices."""
    from sparkval.pipeline.sampling import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_size=128, stride=96).orderBy(
        "doc_id", "chunk_idx"
    )


def q_unigram_nll_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity-proxy scoring (pipeline.text.unigram_lm
    + with_unigram_nll): per-doc mean negative log-likelihood under a
    unigram LM built from the EVEN-id half of the corpus, scored over
    the held-out ODD-id half — so the OOV smoothing path (add-one,
    p = (n+1)/(total+|V|+1)) genuinely exercises. Plan: LM is a
    vocabulary-sized broadcastable counts table; scoring is explode ->
    term-key join -> per-doc reduce (content never shuffles, terms
    do). Rounded at 1e-6; per-doc token counts are small so f64
    summation order cannot surface."""
    from sparkval.pipeline.text import unigram_lm, with_unigram_nll

    docs = _t(spark, sf_dir, "documents")
    lm = unigram_lm(docs.filter(F.col("doc_id") % 2 == 0))
    scored = with_unigram_nll(docs.filter(F.col("doc_id") % 2 == 1), lm)
    # with_* keeps every input row (empty docs score NULL); the oracle
    # covers the scored rows
    return (
        scored.filter(F.col("n_tokens").isNotNull())
        .select("doc_id", "n_tokens", "oov_frac", "mean_nll")
        .orderBy("doc_id")
    )


def q_source_signature_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source TF-IDF signature terms (pipeline.text.
    source_signature_terms): top-5 most characteristic terms per
    source — the qualitative complement of the unigram-KL drift
    number. The top-k window partitions the VOCABULARY-sized
    (source, term) table, never corpus rows; tfidf is rounded at 1e-6
    BEFORE ranking on both engines so the (tfidf DESC, term) cut is
    total-ordered and engine-reproducible."""
    from sparkval.pipeline.text import source_signature_terms

    docs = _t(spark, sf_dir, "documents")
    return source_signature_terms(docs, k=5).orderBy("group", "rank")


def q_events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention (pipeline.events.retention_cohorts):
    cohort = ISO week of first event, per-(cohort, offset) distinct
    active users + retention fraction. Both engines truncate weeks to
    Monday and difference week-starts in whole days / 7, so the
    offset arithmetic is exact. The user-key exchange is shared
    between the first-event and distinct-activity tables; final
    aggregates are O(weeks^2)."""
    from sparkval.pipeline.events import retention_cohorts

    ev = _t(spark, sf_dir, "events")
    out = retention_cohorts(ev)
    return out.select(
        F.date_format("cohort_week", _TS_FMT).alias("cohort_week"),
        "week_offset",
        "n_active",
        "cohort_size",
        "retention",
    ).orderBy("cohort_week", "week_offset")


def q_random_projection_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection (pipeline.similarity.random_projection):
    64->16 dims through the closed-form full-rank sign matrix
    R[i][j] = ((((i*2654435761+7) % p) * ((j*40503+2654435789) % p))
    % p) % 3 - 1 with p = 2^31-1, scaled sqrt(3/(2*16)).
    The oracle regenerates the SAME matrix from the same arithmetic
    on a constant 0..63 x 0..15 grid and recomputes every projected
    element (float32 inputs cast to f64 on both engines; elements
    rounded at 1e-6, absorbing f64 summation-order differences over
    the 64-term dot products). Result is exploded to scalar rows so
    the driver's typed value hash covers every element."""
    from sparkval.pipeline.similarity import random_projection

    emb = _t(spark, sf_dir, "embeddings")
    proj = random_projection(emb, out_dim=16)
    return proj.select(
        "vec_id", F.posexplode("projected").alias("dim", "value")
    ).orderBy("vec_id", "dim")


def q_mad_outliers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection (stats.mad_outliers): per-event-type
    MAD rule (|x - median| > 3.5 * 1.4826 * MAD) over event values,
    summarized per group. Exact interpolating percentiles on both
    engines (Spark percentile == DuckDB quantile_cont); medians and
    MADs rounded at 1e-6, and the flag threshold sits far from any
    data point so a last-ulp interpolation difference cannot flip a
    count."""
    from sparkval.stats import mad_outliers

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    out = mad_outliers(ev, "value", "event_type")
    return (
        out.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("is_outlier").cast("long")).alias("n_outliers"),
            F.round(F.first("group_median"), 6).alias("median_value"),
            F.round(F.first("group_mad"), 6).alias("mad_value"),
        )
        .orderBy("event_type")
    )


def q_psi_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index (stats.psi_report): the production
    drift gate between a reference (even event ids) and a current
    snapshot (odd ids with values scaled 1.25x — a planted shift, so
    PSI must come out positive) per event type, over fixed [0, 500)
    10-bin histograms. Closed-form binning from explicit bounds keeps
    PSI comparable across runs; +0.5/bin Laplace smoothing keeps
    empty bins finite. Each side collapses to O(groups x 10) counts
    at the scan."""
    from sparkval.stats import psi_report

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    ref = ev.filter(F.col("event_id") % 2 == 0)
    cur = ev.filter(F.col("event_id") % 2 == 1).withColumn(
        "value", F.col("value") * 1.25
    )
    out = psi_report(cur, ref, "value", lo=0.0, hi=500.0, n_bins=10,
                     group_col="event_type")
    return out.orderBy("event_type")


def q_heavy_hitters_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min heavy hitters (stats.countmin_sketches /
    merge_countmin / countmin_estimate_expr): per-source sketches
    merge into one global 4x2048 sketch, then the exact top-20 terms'
    frequencies are re-estimated from the sketch with PURE codegen
    expressions (md5-prefix hash + mod-prime mixing + element_at).
    The whole hash chain is engine-replayable, so est_n has a FULL
    value oracle — DuckDB rebuilds every sketch cell the top terms
    touch from the vocabulary counts and takes the same min-over-rows
    (deterministic: collisions only ever add, identically on both
    engines)."""
    from sparkval.session import _spread_small_input
    from sparkval.pipeline.text import _ws_tokens
    from sparkval.stats import (
        countmin_estimate_expr,
        countmin_sketches,
        merge_countmin,
    )

    docs = _t(spark, sf_dir, "documents")
    # tokenize+explode feeds BOTH the sketch build and the exact
    # top-20 aggregation: spread the (few-partition) doc scan first so
    # the explode runs on every core instead of 1-2 scan partitions
    # (round 6; no-op whenever the table has >= slots partitions)
    terms = _spread_small_input(docs.select("source", "text")).filter(
        F.trim(F.col("text")) != ""
    ).select("source", F.explode(_ws_tokens("text")).alias("term"))
    sk = countmin_sketches(terms, "term", ["source"])
    merged = merge_countmin(sk, [])
    top = (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), "term")
        .limit(20)
    )
    est = top.crossJoin(F.broadcast(merged.select("sketch"))).withColumn(
        "est_n", countmin_estimate_expr("term")
    )
    return est.select("term", "exact_n", "est_n").orderBy(
        F.desc("exact_n"), "term"
    )


def q_stream_heavy_hitters_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters (streaming.stream_heavy_hitters): the
    term stream is split into 3 files consumed one per micro-batch
    (maxFilesPerTrigger=1); each batch appends per-source count-min
    partial sketches, and the final answer merges the WHOLE append-only
    sketch log. Because the sketch is a monoid, stream == batch bit
    for bit, so the SAME cell-reconstruction oracle as
    heavy_hitters_documents pins the streamed estimates exactly;
    n_batches == 3 pins that retained cross-batch merging (not a
    single batch) produced them."""
    import atexit
    import shutil
    import tempfile

    from sparkval.session import _spread_small_input
    from sparkval.pipeline.text import _ws_tokens
    from sparkval.stats import countmin_estimate_expr, merge_countmin
    from sparkval.streaming import stream_heavy_hitters

    docs = _t(spark, sf_dir, "documents")
    # spread the few-partition doc scan before the explode (round 6 —
    # see q_heavy_hitters; no-op at >= slots partitions)
    terms = _spread_small_input(docs.select("source", "text")).filter(
        F.trim(F.col("text")) != ""
    ).select("source", F.explode(_ws_tokens("text")).alias("term"))
    tmp = tempfile.mkdtemp(prefix="sparkval_shh_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    src, out, ckpt = f"{tmp}/terms", f"{tmp}/out", f"{tmp}/ckpt"
    terms.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema(terms.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_heavy_hitters(stream, "term", out, ckpt, ["source"])
    q.awaitTermination()

    log = spark.read.parquet(out)
    merged = merge_countmin(log.drop("batch_id"), [])
    batches = log.agg(F.count_distinct("batch_id").alias("n_batches"))
    top = (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), "term")
        .limit(10)
    )
    est = (
        top.crossJoin(F.broadcast(merged.select("sketch")))
        .withColumn("est_n", countmin_estimate_expr("term"))
        .crossJoin(F.broadcast(batches))
    )
    return est.select("term", "exact_n", "est_n", "n_batches").orderBy(
        F.desc("exact_n"), "term"
    )


def q_bloom_decontaminate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase Bloom decontamination (pipeline.dedup.bloom_decontaminate):
    benchmark = every 50th document folds its distinct 13-grams into a
    single 128 KB Bloom filter (sparkval.bloom — fixed-size broadcast
    no matter how large the benchmark); the training side (all other
    docs) probes every gram map-side with pure JVM expressions, and
    only bloom-flagged docs enter the exact-hash verify. Per-doc
    report: (n_grams, bloom_hits, exact_hits, contaminated) with
    false positives ACCOUNTED rather than silently dropping docs.
    The hash chain (md5 prefix + mod-Mersenne-prime mixing, shared
    with count-min) is engine-replayable, so the oracle recomputes
    the k=4 bit positions of every gram in DuckDB and pins
    bloom_hits — the probabilistic column — EXACTLY, alongside the
    string-level exact_hits."""
    from sparkval.pipeline.dedup import bloom_decontaminate

    docs = _t(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 50 == 5).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 50 != 5)
    return bloom_decontaminate(corpus, benchmark, n=13).orderBy("doc_id")


def q_bm25_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (pipeline.text.bm25_scores) for the
    3-term query [hash, join, vector]: standard Okapi/Lucene idf and
    tf-saturation over the shared lowercased-whitespace tokenization.
    Zero row-wise shuffles — per-term tf is a higher-order filter
    over each doc's token array and the (N, avgdl, df) stats row
    broadcasts into the scoring pass. The score is a fixed-arity
    expression tree, so DuckDB replays it exactly (same ln, same
    operand order) and the float compare at 6 significant digits
    pins every doc's score."""
    from sparkval.pipeline.text import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    return bm25_scores(docs, ["hash", "join", "vector"]).orderBy("doc_id")


def q_contamination_spans_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level contamination localization
    (pipeline.dedup.contamination_spans): for every training doc
    sharing a 13-gram with the benchmark split (doc_id % 50 == 5),
    the maximal [span_start, span_end) token spans covering the
    shared grams — decontaminate says WHICH docs, this says WHERE, so
    the remedy can be a surgical cut instead of dropping the doc.
    Anchors are (id, pos, 8B hash) probing a broadcast benchmark hash
    set; the oracle recomputes anchors from gram STRINGS and replays
    the same gaps-and-islands merge in window SQL.

    The corpus splits share no natural 13-gram at this sf, so the
    corpus is augmented with PLANTED part-copies derived from each
    >=30-token benchmark doc: tokens[1..15] + 5 unique filler words +
    tokens[16..30]. Each planted doc must come back as exactly the
    spans [0, 15) and [20, 35) — two islands with the filler gap
    verbatim — plus whatever cross-doc gram sharing truly exists."""
    from sparkval.pipeline.dedup import contamination_spans
    from sparkval.pipeline.text import _ws_tokens

    docs = _t(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 50 == 5).select("doc_id", "text")
    toks = _ws_tokens("text")
    filler = F.array(*[F.lit(f"zqfill{i}") for i in range(1, 6)])
    planted = benchmark.filter(F.size(toks) >= 30).select(
        (F.col("doc_id") + 10000000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.concat(F.slice(toks, 1, 15), filler, F.slice(toks, 16, 15)),
        ).alias("text"),
    )
    corpus = (
        docs.filter(F.col("doc_id") % 50 != 5)
        .select("doc_id", "text")
        .unionAll(planted)
    )
    return contamination_spans(corpus, benchmark, n=13).orderBy(
        "doc_id", "span_start"
    )


def q_embedding_stats_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding diagnostics (pipeline.similarity.embedding_stats):
    per-dimension mean/std from the (sum, sumsq, n) moment monoid
    plus the anisotropy collapse ratio ||mean vec|| / mean ||x||.
    Plan is pure JVM: posexplode partial-aggregates to n_dims rows
    per task before the exchange; the oracle unnests with a constant
    64-dim grid and recomputes the identical moment formulas."""
    from sparkval.pipeline.similarity import embedding_stats

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_stats(emb, "embedding").orderBy("dim")


def q_pmi_bigrams_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining (pipeline.text.pmi_bigrams): adjacent
    bigrams with count >= 5 scored by pointwise mutual information
    against unigram marginals. Bigrams pair adjacent tokens inside
    the token array (higher-order transform), so the only shuffles
    are map-side-combined counts; the pmi float tree is fixed-arity
    and the oracle replays it with identical operand order."""
    from sparkval.pipeline.text import pmi_bigrams

    docs = _t(spark, sf_dir, "documents")
    return pmi_bigrams(docs, min_count=5).orderBy("x", "y")


def q_temperature_mixture_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source mixing
    (pipeline.sampling.temperature_mixture) at T = 0.7 with a 1M-token
    budget: per source, raw vs temperature sampling shares, the
    up/down-sampling factor, and the implied epochs over each source —
    the standard multilingual/multi-source mixing rule. One groupBy to
    O(groups) rows + one broadcast totals row."""
    from sparkval.pipeline.sampling import temperature_mixture

    docs = _t(spark, sf_dir, "documents")
    return temperature_mixture(
        docs, "source", temperature=0.7, budget_tokens=1_000_000
    ).orderBy("source")


def q_cut_spans_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-dedup APPLY step (pipeline.dedup.cut_spans composed
    with duplicated_spans): the same planted-boilerplate corpus as
    duplicated_spans_documents, but the detected spans are CUT and
    every doc comes back as (n_words, n_removed, text_clean) — docs
    carrying the planted 20-word passage lose it (plus any organic
    duplicated spans the rule finds), all others pass through
    verbatim with n_removed = 0. The oracle replays detection AND
    the cut: kept tokens are the original-case grid anti-ranged
    against the island-merged spans, re-joined in position order."""
    from sparkval.pipeline.dedup import cut_spans, duplicated_spans

    docs = _t(spark, sf_dir, "documents")
    passage = " ".join(f"dupseg{i:02d}" for i in range(20))
    planted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 25 == 0,
            F.concat(F.lit(passage + " "), F.coalesce(F.col("text"), F.lit(""))),
        ).otherwise(F.col("text")),
    )
    spans = duplicated_spans(planted, n=13)
    return cut_spans(planted, spans).orderBy("doc_id")


def q_encoding_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-damage flags (pipeline.text.with_encoding_stats) over
    a corpus with PLANTED damage: every 10th doc gets a U+FFFD, a C0
    control char (BEL) and a UTF-8-as-Latin-1 mojibake pair appended
    — those docs must report exactly (1, 1, 1, clean=false) plus
    whatever damage the raw corpus truly has; all other docs pin the
    clean path. Pure scan-speed length-delta expressions; the oracle
    replays the same character classes in RE2's \\x{{..}} spelling."""
    from sparkval.pipeline.text import with_encoding_stats

    docs = _t(spark, sf_dir, "documents")
    damage = " xÃ©y \x07 �"
    planted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(damage)),
        ).otherwise(F.col("text")),
    )
    return with_encoding_stats(planted).select(
        "doc_id",
        "n_replacement_chars",
        "n_control_chars",
        "n_mojibake_pairs",
        "encoding_clean",
    ).orderBy("doc_id")


def q_kmv_overlap_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set-overlap sketches (stats.kmv_sketches / kmv_overlap):
    per-source k=256 minimum-hash sketches over word 5-shingle
    STRINGS, then every source pair's estimated Jaccard and each
    side's estimated distinct-shingle count — computed from the
    kilobyte sketch table alone, the corpus never rescanned. The md5
    hash chain and both estimators are deterministic closed forms, so
    DuckDB recomputes the identical sketches (k smallest distinct
    hashes per source) AND the identical estimates — the sketch
    family's sixth monoid, fully value-oracled."""
    from sparkval.session import _spread_small_input
    from sparkval.stats import kmv_overlap, kmv_sketches

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.coalesce(F.col("text"), F.lit("")))), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 4),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 5)),
    )
    # spread the doc scan BEFORE the shingle explode (round 6): the
    # explode otherwise runs on 1-2 scan partitions, and spreading the
    # 90 B gram strings afterwards costs ~100x the doc bytes
    stream = _spread_small_input(docs.select("source", "text")).filter(
        F.size(toks) >= 5
    ).select("source", F.explode(grams).alias("gram"))
    sk = kmv_sketches(stream, "gram", ["source"], k=256)
    return kmv_overlap(sk, "source", k=256).orderBy("group_a", "group_b")


def q_boilerplate_lines_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-frequency boilerplate removal
    (pipeline.text.boilerplate_lines) over a corpus with PLANTED
    boilerplate: every doc gets a 'nav menu home' header line and
    every even doc a newsletter footer line. Both recur across far
    more than 5% of docs, so they must be stripped from every doc
    while each doc's own body line survives verbatim — the
    (n_lines, n_boilerplate_removed, text_clean) report is
    value-hashed end-to-end, cleaned text included."""
    from sparkval.pipeline.text import boilerplate_lines

    docs = _t(spark, sf_dir, "documents")
    planted = docs.withColumn(
        "text",
        F.concat(
            F.lit("nav menu home\n"),
            F.coalesce(F.col("text"), F.lit("")),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.lit("\nsubscribe to our newsletter"),
            ).otherwise(F.lit("")),
        ),
    )
    return boilerplate_lines(planted, min_doc_frac=0.05).orderBy("doc_id")


def q_skew_report_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostics (stats.skew_report) over a PLANTED
    Zipf-hot key: ~30% of event rows remap to key 0 (event_id % 10 <
    3), the rest keep their user_id + 1000 — the report must rank key
    0 first with ~0.3 share and recommend ceil(0.3 * 32) = 10 salt
    buckets, with every rank/share/total pinned by the oracle's
    identical window arithmetic."""
    from sparkval.stats import skew_report

    events = _t(spark, sf_dir, "events")
    keyed = events.select(
        F.when(F.col("event_id") % 10 < 3, F.lit(0))
        .otherwise(F.col("user_id") + 1000)
        .alias("key")
    )
    return skew_report(keyed, ["key"], n_top=10, n_partitions=32).orderBy(
        "rank"
    )


def q_zipf_fit_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law corpus diagnostic (stats.zipf_fit): least-squares
    (ln rank, ln freq) fit over the top-30 terms — the synthetic
    corpus's near-uniform vocabulary must show a near-zero alpha with
    every regression sum pinned by the oracle's identical closed
    forms (deterministic rank ties: count desc, term asc)."""
    from sparkval.stats import zipf_fit

    docs = _t(spark, sf_dir, "documents")
    return zipf_fit(docs, n_ranks=30)


def q_stream_contamination_gate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming contamination gate
    (streaming.stream_contamination_gate): the training corpus
    arrives as 3 micro-batches (maxFilesPerTrigger=1) and every batch
    probes the STATIC benchmark Bloom filter, appending one
    (batch_id, n_docs, n_flagged) accounting row. Because the
    per-doc probe is independent of batching, the log's totals equal
    the batch-mode bloom-flag count exactly — the same shared-array
    position oracle as bloom_decontaminate pins n_flagged, and
    n_batches = 3 pins that the number came from cross-batch
    accumulation."""
    import atexit
    import shutil
    import tempfile

    from sparkval.pipeline.dedup import bloom_gram_filter
    from sparkval.streaming import stream_contamination_gate

    docs = _t(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 50 == 5).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 50 != 5).select("doc_id", "text")
    filt = bloom_gram_filter(benchmark)

    tmp = tempfile.mkdtemp(prefix="sparkval_scg_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    src, out, ckpt = f"{tmp}/docs", f"{tmp}/out", f"{tmp}/ckpt"
    corpus.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_contamination_gate(stream, filt, out, ckpt)
    q.awaitTermination()

    log = spark.read.parquet(out)
    return log.agg(
        F.count_distinct("batch_id").alias("n_batches"),
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_flagged").alias("n_flagged"),
    )


def q_apply_mixture_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture APPLY step (pipeline.sampling.apply_mixture) driven by
    temperature_mixture's T=0.7 factors: each doc is emitted floor(f)
    times plus a sha256-hash-deterministic extra for the fractional
    part. Per-source accounting (n_copies, n_docs_kept) is pinned by
    the oracle replaying the whole chain — closed-form factors, the
    same hash bucketing, the same floor thresholds — so the
    materialized training mix is engine-portable down to which exact
    docs repeat."""
    from sparkval.pipeline.sampling import apply_mixture, temperature_mixture

    docs = _t(spark, sf_dir, "documents")
    factors = temperature_mixture(docs, "source", temperature=0.7).select(
        "source", "sample_factor"
    )
    emitted = apply_mixture(docs, factors, "source")
    return (
        emitted.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.count_distinct("doc_id").alias("n_docs_kept"),
        )
        .orderBy("source")
    )


def q_winsorize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (stats.winsorize — mad_outliers' APPLY step):
    per-event-type values clip into median +/- 3.5 scaled MADs, and
    the per-group accounting (n, n_clipped, winsorized sum, bounds)
    is pinned by the oracle recomputing the same exact interpolating
    percentiles and the same clip expression."""
    from sparkval.stats import winsorize

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    w = winsorize(ev, "value", "event_type", k=3.5)
    return (
        w.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("was_clipped").cast("long")).alias("n_clipped"),
            F.round(F.sum("value_winsorized"), 6).alias("sum_winsorized"),
            F.round(F.min("lo_bound"), 6).alias("lo_bound"),
            F.round(F.min("hi_bound"), 6).alias("hi_bound"),
        )
        .orderBy("event_type")
    )


def q_ks_drift_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift gate (stats.ks_drift): the
    binning-free companion to psi_events. Reference = even doc_ids'
    n_chars; current = odd doc_ids' n_chars + 10 (a planted +10-char
    location shift, so D must come out positive in every source).
    Both sides collapse to per-(source, distinct length) counts at
    the scan; the ECDF window partitions by source."""
    from sparkval.stats import ks_drift

    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars").isNotNull())
    ref = docs.filter(F.col("doc_id") % 2 == 0).select("source", "n_chars")
    cur = docs.filter(F.col("doc_id") % 2 == 1).select(
        "source", (F.col("n_chars") + 10).alias("n_chars")
    )
    return ks_drift(cur, ref, "n_chars", group_col="source").orderBy("source")


def q_benford_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit conformance (stats.benford_report) of
    o_totalprice per order priority — the fabricated-numeric-column
    detector. Digit extraction is exact (string head of
    floor(value)), and the nine Benford masses are shared literal
    doubles, so the chi-square is engine-replayable to 1e-6."""
    from sparkval.stats import benford_report

    orders = _t(spark, sf_dir, "orders")
    return benford_report(orders, "o_totalprice", group_col="o_orderpriority").orderBy(
        "o_orderpriority", "digit"
    )


def q_chi2_lang_source_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence of lang x source
    (stats.chi2_independence) with Cramer's V effect size — the
    one-row summary answer to 'does any source carry a skewed
    language mix?'. One scan to the contingency cells; marginals via
    windows over that tiny table."""
    from sparkval.stats import chi2_independence

    docs = _t(spark, sf_dir, "documents")
    return chi2_independence(docs, "lang", "source")


def q_rule_suite_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative conformance suite (constraints.rule_suite): six
    user-declared row rules — null, cross-field consistency, domain
    membership, range, regex shape, length budget — evaluated as six
    conditional sums in ONE hash aggregate over ONE scan. NULL rule
    results count as violations (unknown fails)."""
    from sparkval.constraints import rule_suite

    docs = _t(spark, sf_dir, "documents")
    rules = {
        "text_not_null": F.col("text").isNotNull(),
        "n_chars_consistent": F.col("n_chars") == F.length("text"),
        "lang_known": F.col("lang").isin("de", "en", "es", "fr", "zh"),
        "doc_id_nonneg": F.col("doc_id") >= 0,
        "source_wellformed": F.col("source").rlike("^src[0-9]+$"),
        "n_chars_le_256": F.col("n_chars") <= 256,
    }
    return rule_suite(docs, rules).orderBy("rule")


def q_fd_check_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency mining source -> lang
    (constraints.fd_check): per determinant key, the TANE g3 repair
    cost — rows outside the key's majority dependent class. Two
    cascaded map-side-partial aggregates; nothing wider than the
    (source, lang) pair ever shuffles."""
    from sparkval.constraints import fd_check

    docs = _t(spark, sf_dir, "documents")
    return fd_check(docs, ["source"], "lang").orderBy("source")


def q_normalize_text_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (text.with_normalized_text): NFC
    (Arrow-vectorized pandas string op) + control-chars-to-space +
    space-run collapse + trim, as a map-only projection. Full-text
    value oracle: DuckDB nfc_normalize + the same regex chain must
    reproduce every normalized string byte-for-byte."""
    from sparkval.pipeline.text import with_normalized_text

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return with_normalized_text(docs).select(
        "doc_id", "text_norm", "n_chars_norm", "was_changed"
    ).orderBy("doc_id")


def q_seasonal_anomaly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive volume anomaly gate (events.seasonal_anomaly):
    hourly counts per event type z-scored against the same
    hour-of-day's mean/stddev across all days; |z| > 2.5 flags. The
    scan collapses to O(types x hours) counts before any window
    runs."""
    from sparkval.pipeline.events import seasonal_anomaly

    ev = _t(spark, sf_dir, "events")
    out = seasonal_anomaly(ev, z_threshold=2.5)
    return out.select(
        "event_type",
        F.date_format("hour_ts", _TS_FMT).alias("hour_ts"),
        "n_events",
        "expected",
        "z",
        "is_anomaly",
    ).orderBy("event_type", "hour_ts")


def q_bit_lsh_near_dups_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit-sampling LSH near-dup pairs (similarity.bit_lsh_near_dups,
    zero-Python LSH) over embeddings ∪ planted copies with coordinate
    3 NEGATED (vec_id + 100000). The negation flips one sign bit, so
    band 0 always disagrees and the pair surfaces only through
    OR-amplification over bands 1-7 — the bucketing logic is load
    bearing, not decorative. ~80% of planted pairs clear the cosine
    0.95 verify; the rest are pruned by the threshold. FULL value
    oracle: DuckDB rebuilds the same planted table, the same 4-bit
    sign buckets, the same candidate join, and the same
    round(round(cos,9),6) values."""
    from sparkval.pipeline.similarity import bit_lsh_near_dups

    embs = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = embs.unionByName(
        embs.select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: F.when(i == F.lit(2), -x).otherwise(x),
            )
            .cast("array<float>")
            .alias("embedding"),
        )
    )
    out = bit_lsh_near_dups(planted, threshold=0.95)
    return out.select(
        "a", "b", F.round("cosine", 6).alias("cosine")
    ).orderBy("a", "b")


def q_stream_sessions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming SESSION windows
    (streaming.streaming_sessions, built-in F.session_window) run as
    a real 4-micro-batch append-mode stream. The source is written as
    four SEQUENTIAL time-slice files (FileStreamSource processes
    oldest-modified first), so event time is monotone across batches
    and the 2h watermark never drops rows as late; the final no-data
    micro-batch flushes every session whose end fell behind
    max(ts) - 2h. Value oracle: DuckDB gaps-and-islands with Spark's
    exact merge rule (same session iff delta <= 30 min INCLUSIVE — an
    event landing exactly at the previous session end still merges,
    pinned by test; session_end = last event + 30 min) filtered to
    the watermark horizon."""
    import atexit
    import shutil
    import tempfile
    import time

    from sparkval.streaming import streaming_sessions

    ev = _t(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "user_id"
    )
    tmp = tempfile.mkdtemp(prefix="sparkval_sess_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    src = f"{tmp}/events"
    # four contiguous time slices, written oldest-first with distinct
    # mtimes -> in-order watermark, zero late-drops
    bounds = ev.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).collect()[0]
    lo, hi = bounds["lo"], bounds["hi"]
    span = (hi - lo) / 4
    for i in range(4):
        s = lo + i * span
        e = hi if i == 3 else lo + (i + 1) * span
        cond = (F.col("ts") >= F.lit(s)) & (
            F.col("ts") <= F.lit(e) if i == 3 else F.col("ts") < F.lit(e)
        )
        ev.filter(cond).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)  # distinct mtime seconds for stable ordering

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = streaming_sessions(
        stream, ts_col="ts", key_col="user_id", gap="30 minutes",
        watermark="2 hours",
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("sparkval_sess_ev")
        .option("checkpointLocation", f"{tmp}/ck")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        raise TimeoutError(
            "streaming query still running after 300 s — refusing to "
            "read a possibly-incomplete sink (ADVICE r5)"
        )
    return spark.table("sparkval_sess_ev").select(
        "user_id",
        F.date_format("session_start", _TS_FMT).alias("session_start"),
        F.date_format("session_end", _TS_FMT).alias("session_end"),
        "n_events",
    ).orderBy("user_id", "session_start")


def q_schema_check_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema conformance as a report (schema.schema_diff_df) — the
    fail-fast check_corpus_schema's REPORT form, run against an
    expectation planted to exercise every verdict class: ok (doc_id,
    text), type_mismatch (n_chars int vs bigint), nullability (lang
    expected NOT NULL), missing (license), extra (source). Purely
    driver-side metadata — no job touches the table data."""
    from pyspark.sql import types as T

    from sparkval.schema import schema_diff_df

    actual = _t(spark, sf_dir, "documents").schema
    expected = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), False),
            T.StructField("n_chars", T.IntegerType(), True),
            T.StructField("license", T.StringType(), True),
        ]
    )
    return schema_diff_df(spark, actual, expected).orderBy("column")


def q_rate_limit_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window rate constraint
    (constraints.rate_limit_violations): events that are the 3rd+
    within any trailing 1h window for their user — exact RANGE window
    over event-time micros, so boundary-straddling bursts can't hide
    from a tumbling bucket. One shuffle on user_id."""
    from sparkval.constraints import rate_limit_violations

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    out = rate_limit_violations(ev, max_events=2, window_seconds=3600)
    return out.select(
        "event_id", "user_id", "n_in_window"
    ).orderBy("event_id")


def q_incremental_validate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn-proportional incremental validation
    (engine.validate_incremental): per-data-file fused partials
    content-addressed by (path, size, mtime). Scenario: full build
    over a 4-file snapshot, then ONE appended file (3 duplicated docs
    -> 6 planted uniqueness violations); the second run recomputes
    exactly the appended file, reuses the other 4 from cache, and its
    verdicts AND violations are row-identical to a from-scratch batch
    validate of the new snapshot. Reduced to counts + booleans for
    the value hash (lineage_metrics discipline)."""
    import atexit
    import shutil
    import tempfile

    from sparkval import ValidationConfig, ValidationEngine

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id")).alias("path"),
        F.lit("c0").alias("commit"),
        "lang",
        F.col("text").alias("content"),
    )
    tmp = tempfile.mkdtemp(prefix="sparkval_incr_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    snap = f"file://{tmp}/snap"
    corpus.repartition(4).write.parquet(snap)

    eng = ValidationEngine(ValidationConfig(short_circuit_identical=False))
    base = eng.build_baseline(corpus)
    cache = f"file://{tmp}/cache"
    out1 = eng.validate_incremental(snap, base, cache)
    first_full_recompute = (
        out1["n_files_recomputed"] == 4 and out1["n_files_reused"] == 0
    )

    corpus.filter(F.col("path").isin("doc/1", "doc/2", "doc/3")).coalesce(
        1
    ).write.mode("append").parquet(snap)
    out2 = eng.validate_incremental(snap, base, cache)

    full = eng.validate(spark.read.parquet(snap), base)

    def _match(a, b) -> bool:
        return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    n_uniq = (
        out2["violations"].filter(F.col("check") == "uniqueness").count()
    )
    return spark.createDataFrame(
        [
            (
                bool(first_full_recompute),
                int(out2["n_files_total"]),
                int(out2["n_files_recomputed"]),
                int(out2["n_files_reused"]),
                _match(out2["verdicts"], full["verdicts"]),
                _match(out2["violations"], full["violations"]),
                int(n_uniq),
            )
        ],
        "first_full_recompute boolean, n_files_total bigint, "
        "n_recomputed_delta bigint, n_reused bigint, verdicts_match boolean, "
        "violations_match boolean, n_uniqueness bigint",
    )


def q_rollup_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup stats (stats.rollup_stats): cube(lang,
    source) n/sum/mean/min/max of n_chars at every granularity —
    (lang, source), lang-only, source-only, grand total — from ONE
    scan (map-side cube expansion, O(groups x 4) rows shuffle).
    Grouping levels labeled via grouping() flags."""
    from sparkval.stats import rollup_stats

    docs = _t(spark, sf_dir, "documents")
    return rollup_stats(docs, ["lang", "source"], "n_chars").orderBy(
        "grouping_level", "lang", "source"
    )


def q_correlation_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation profile
    (stats.correlation_profile) over (value, event-time micros,
    user_id): all three coefficients from ONE aggregate over ONE scan
    (streaming co-moments, map-side partials), stack()-unpivoted to
    long form. Micros (not seconds) on both engines so the inputs are
    bit-identical."""
    from sparkval.stats import correlation_profile

    ev = _t(spark, sf_dir, "events").select(
        "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "user_id",
    )
    return correlation_profile(ev, ["value", "ts_us", "user_id"]).orderBy(
        "col_a", "col_b"
    )


def q_monotonicity_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordering constraint (constraints.monotonicity_violations):
    event_id must be non-decreasing per user in time order. The
    natural feed satisfies it (0 rows — verified), so the query
    plants deterministic regressions (every event_id % 97 == 0 dips
    by 10^6) and the check must surface exactly the planted dips with
    their predecessor values."""
    from sparkval.constraints import monotonicity_violations

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_id") % 97 == 0, F.col("event_id") - 1000000)
        .otherwise(F.col("event_id"))
        .alias("seq"),
    )
    out = monotonicity_violations(ev, "user_id", "ts", "seq")
    return out.select("event_id", "user_id", "seq", "prev_value").orderBy(
        "event_id"
    )


def q_coverage_gaps_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-completeness gaps (events.coverage_gaps): hours with ZERO
    events per type inside each type's activity span — the silence
    check seasonal_anomaly structurally cannot raise. Scan collapses
    to per-(type, hour) counts; the dense calendar is
    sequence()-generated per type and anti-joined."""
    from sparkval.pipeline.events import coverage_gaps

    ev = _t(spark, sf_dir, "events")
    out = coverage_gaps(ev, unit_seconds=3600)
    return out.select(
        "event_type", F.date_format("missing_ts", _TS_FMT).alias("missing_ts")
    ).orderBy("event_type", "missing_ts")


def q_reconcile_orders_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-detail totals reconciliation (constraints.
    reconcile_totals): per order priority, how many orders' stored
    o_totalprice agrees (rel err <= 0.5) with the total recomputed
    from lineitem extendedprice*(1-disc)*(1+tax), how many have no
    lineitems at all, and the error profile. The synthetic data does
    NOT reconcile (prices are independent draws) — which is exactly
    what the gate reports; the oracle recomputes the same accounting."""
    from sparkval.constraints import reconcile_totals

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    amount = (
        F.col("l_extendedprice")
        * (F.lit(1.0) - F.col("l_discount"))
        * (F.lit(1.0) + F.col("l_tax"))
    )
    return reconcile_totals(
        orders, li, "o_orderkey", "l_orderkey", "o_totalprice",
        amount, group_col="o_orderpriority", rel_tol=0.5,
    )


def q_trend_fit_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of `value` over time (events.
    trend_fit): slope/day, intercept at 2024-01-01, r^2, n — the
    "is this metric drifting?" monitoring gate. x is integer
    epoch-micros minus origin over a day: bit-identical regressors
    on both engines; regr_* are one-pass mergeable aggregates."""
    from sparkval.pipeline.events import trend_fit

    ev = _t(spark, sf_dir, "events")
    out = trend_fit(ev)
    return out.select(
        "event_type",
        F.col("n_points").cast("long").alias("n_points"),
        "slope_per_day", "intercept", "r2", "mean_value",
    )


def q_fuzzy_near_dups_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs (dedup.near_duplicates_levenshtein)
    with planted typo copies: each doc >= 40 chars gets a copy (id +
    100000) whose chars 21-22 become 'zz' (<= 2 edits). Prefix-12
    blocking co-locates every planted pair; the oracle replays the
    entire pipeline — mutation, blocking, hot-block cap, length
    pruning, and true distances — so this is a full value oracle,
    not containment."""
    from sparkval.pipeline.dedup import near_duplicates_levenshtein

    docs = _t(spark, sf_dir, "documents")
    mut = docs.filter(F.length("text") >= 40).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 20),
            F.lit("zz"),
            F.expr("substring(text, 23)"),
        ).alias("text"),
    )
    planted = docs.select("doc_id", "text").unionByName(mut)
    out = near_duplicates_levenshtein(planted, max_dist=4)
    return out.select("a", "b", F.col("dist").cast("long").alias("dist"))


def q_priority_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (sampling.priority_sample,
    Efraimidis-Spirakis with hash-derived uniforms): top-100 docs by
    exponential priority -ln(u)/n_chars. Deterministic, so the oracle
    recomputes the identical sample — ranks, ids, and priorities."""
    from sparkval.pipeline.sampling import priority_sample

    docs = _t(spark, sf_dir, "documents")
    out = priority_sample(docs, k=100)
    return out.select(
        F.col("rank").cast("long").alias("rank"),
        "doc_id", "weight", "priority",
    )


def q_key_candidates_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key profiling (stats.key_candidates): distinct counts,
    collision counts, and is-key verdicts for four key candidates over
    lineitem, all from ONE aggregate pass (multi-distinct expand)."""
    from sparkval.stats import key_candidates

    li = _t(spark, sf_dir, "lineitem")
    return key_candidates(
        li,
        [
            ("l_orderkey",),
            ("l_orderkey", "l_linenumber"),
            ("l_partkey", "l_suppkey"),
            ("l_orderkey", "l_partkey", "l_suppkey"),
        ],
    )


def q_wasserstein_drift_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earth-mover drift per lang (stats.wasserstein_drift) between
    the even- and odd-doc_id halves of documents' n_chars — the
    integrated companion to ks_drift_documents (same split). W1 sums
    |ECDF gap| x value-gap over merged distinct values; the oracle
    replays the running-sum + lead windows exactly."""
    from sparkval.stats import wasserstein_drift

    docs = _t(spark, sf_dir, "documents")
    cur = docs.filter(F.col("doc_id") % 2 == 0)
    ref = docs.filter(F.col("doc_id") % 2 == 1)
    out = wasserstein_drift(cur, ref, "n_chars", group_col="lang")
    return out.select(
        "lang", "w1", "w1_norm",
        F.col("n_current").cast("long").alias("n_current"),
        F.col("n_reference").cast("long").alias("n_reference"),
    ).orderBy("lang")


def q_event_transitions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition table (events.event_transitions):
    per (prev type -> next type) within each user's ts-ordered
    timeline (event_id tiebreak), counts + P(next|prev). Integer
    count ratio — bit-identical probability on both engines."""
    from sparkval.pipeline.events import event_transitions

    ev = _t(spark, sf_dir, "events")
    return event_transitions(ev)


def q_change_attribution_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period change attribution (events.
    change_attribution): which event types drove the value-sum change
    across the 2024-01-16 midpoint — both period sums, delta, pct
    change, share of total delta."""
    from sparkval.pipeline.events import change_attribution

    ev = _t(spark, sf_dir, "events")
    return change_attribution(ev, "2024-01-16 00:00:00")


def q_gap_fill_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly series with LOCF imputation (events.gap_fill) —
    the repair step for the holes coverage_gaps_events detects: every
    hour in each type's span gets a row; empty hours inherit the last
    observed hourly mean with is_filled=true."""
    from sparkval.pipeline.events import gap_fill

    ev = _t(spark, sf_dir, "events")
    out = gap_fill(ev, unit_seconds=3600)
    return out.select(
        "event_type",
        F.date_format("bucket_ts", _TS_FMT).alias("bucket_ts"),
        "value",
        "is_filled",
    ).orderBy("event_type", "bucket_ts")


def q_proportion_drift_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test per lang (stats.proportion_drift): did the
    rate of long documents (n_chars > 300) move between the even- and
    odd-doc_id halves beyond sampling noise? The significance-floored
    rate-drift gate; z and the drift flag replay exactly in SQL."""
    from sparkval.stats import proportion_drift

    docs = _t(spark, sf_dir, "documents")
    return proportion_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        F.col("n_chars") > 300,
        group_col="lang",
    )


def q_interval_violations_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validity-interval integrity (constraints.interval_violations):
    each event claims [ts, ts + floor(value) minutes] on its user's
    timeline; the check reports intervals that start before a prior
    interval of the same user ended (running-max catches containment).
    727 natural overlaps at sf0.01 — a real workload, not a planted
    toy; the oracle replays the running-max window to the microsecond."""
    from sparkval.constraints import interval_violations

    ev = _t(spark, sf_dir, "events")
    start = F.col("ts").cast("timestamp")
    end = F.timestamp_micros(
        F.unix_micros(start) + F.floor("value").cast("long") * 60_000_000
    )
    iv = ev.select(
        "event_id", "user_id",
        start.alias("start_ts"), end.alias("end_ts"),
    )
    out = interval_violations(
        iv, "user_id", "start_ts", "end_ts", id_col="event_id"
    )
    return out.select(
        "event_id", "user_id",
        F.date_format("start_ts", _TS_FMT).alias("start_ts"),
        F.date_format("end_ts", _TS_FMT).alias("end_ts"),
        "violation",
        F.date_format("conflicts_until", _TS_FMT).alias("conflicts_until"),
    ).orderBy("event_id")


def q_embedding_drift_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift (similarity.embedding_drift) between the
    even- and odd-vec_id halves: cosine + L2 distance between the two
    mean vectors and the worst-shifted dimension — the encoder-change
    gate. Both sides collapse to per-dim moment rows at the scan; the
    oracle replays the same sums over a constant 64-dim grid."""
    from sparkval.pipeline.similarity import embedding_drift

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_drift(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
    )


def q_numeric_histogram_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram profile (stats.numeric_histogram): 20
    fixed-shape bins of `value` per event type, empty bins emitted
    with n = 0 — the profiling staple and the pinned-bin input a
    PSI-style gate consumes. Zero sorting: closed-form bin index over
    broadcast per-group bounds; the oracle replays the identical
    float bin arithmetic."""
    from sparkval.stats import numeric_histogram

    ev = _t(spark, sf_dir, "events")
    return numeric_histogram(ev, "value", n_bins=20, group_col="event_type")


def q_table_fingerprint_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table fingerprint (constraints.
    table_fingerprint) over orders' integer/string columns: one row of
    (count, xor-of-row-hashes, min/max hash) — the no-sort migration
    reconciliation scalar. The oracle recomputes the identical
    sha256-derived 60-bit row hashes and folds."""
    from sparkval.constraints import table_fingerprint

    orders = _t(spark, sf_dir, "orders")
    return table_fingerprint(
        orders, ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    )


def q_split_leakage_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage audit (sampling.cross_split_leakage) with
    planted exact copies: every 10th doc gets a copy under an
    independent id (id + 200000), so hash_split assigns the pair's
    sides independently and a deterministic subset crosses splits —
    byte-identical eval rows inside train. The oracle replays the
    split arithmetic, the content hash, and the pair counting."""
    from sparkval.pipeline.sampling import cross_split_leakage

    docs = _t(spark, sf_dir, "documents")
    copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    planted = docs.select("doc_id", "text").unionByName(copies)
    out = cross_split_leakage(planted)
    return out.select(
        "split_a", "split_b", "n_leaked_pairs",
        F.col("n_leaked_contents").cast("long").alias("n_leaked_contents"),
    )


def q_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan column profile (stats.profile_table) over lineitem's
    integer/string columns: per column, rows / nulls / EXACT distinct
    count / min / max from a single multi-distinct aggregate. Floats
    and timestamps excluded (their string renderings differ across
    engines; the op profiles them fine, the cross-engine compare
    would not)."""
    from sparkval.stats import profile_table

    li = _t(spark, sf_dir, "lineitem")
    return profile_table(
        li,
        ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
         "l_returnflag", "l_linestatus"],
    )


def q_freshness_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness gate (events.freshness_report): per event type,
    last-seen timestamp and lag vs the table's max instant, stale at
    > 120 min — the observability first-page. Deterministic because
    the evaluation instant derives from the data, never wall clock."""
    from sparkval.pipeline.events import freshness_report

    ev = _t(spark, sf_dir, "events")
    out = freshness_report(ev)
    return out.select(
        "event_type", "n_events",
        F.date_format("last_ts", _TS_FMT).alias("last_ts"),
        "lag_minutes", "is_stale",
    )


def q_stratified_priority_sample_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exactly-k-per-stratum weighted sampling (sampling.
    stratified_priority_sample): top-10 docs per lang by E-S priority
    -ln(u)/n_chars — exact quotas, deterministic, replayed fully in
    SQL via the same hash-uniform and a rank window."""
    from sparkval.pipeline.sampling import stratified_priority_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_priority_sample(docs, k_per_group=10)


def q_fingerprint_partitions_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint monoid (constraints.partition_fingerprints): one
    mergeable (count, xor, min, max) fingerprint row per order
    priority — persist once, reconcile any slice union later by
    folding kilobyte rows. `xor-fold == whole-table fingerprint` is
    pinned in pytest; the oracle replays the per-partition hashes."""
    from sparkval.constraints import partition_fingerprints

    orders = _t(spark, sf_dir, "orders")
    return partition_fingerprints(
        orders, "o_orderpriority",
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
    )


def q_stream_freshness_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming freshness monitor (streaming.stream_freshness): the
    events table replayed as 3 micro-batches into a complete-mode
    per-group (count, last-seen) state, finalized with the SAME
    freshness_verdicts the batch gate uses — the oracle is the batch
    freshness SQL, so this row IS the stream == batch parity check."""
    import atexit
    import shutil
    import tempfile

    from sparkval.pipeline.events import freshness_verdicts
    from sparkval.streaming import stream_freshness

    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.col("ts").cast("timestamp").alias("ts")
    )
    tmp = tempfile.mkdtemp(prefix="sparkval_sfresh_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    src, ckpt = f"{tmp}/events", f"{tmp}/ckpt"
    # three files -> three micro-batches (complete-mode agg: order
    # cannot matter, no watermark, no late-drop)
    for i in range(3):
        ev.filter(F.pmod(F.xxhash64("ts"), F.lit(3)) == i).repartition(
            1
        ).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_freshness(stream)
        .writeStream.format("memory")
        .queryName("sparkval_fresh_state")
        .option("checkpointLocation", ckpt)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        raise TimeoutError(
            "streaming query still running after 300 s — refusing to "
            "read a possibly-incomplete sink (ADVICE r5)"
        )
    state = spark.table("sparkval_fresh_state")
    out = freshness_verdicts(state)
    return out.select(
        "event_type", "n_events",
        F.date_format("last_ts", _TS_FMT).alias("last_ts"),
        "lag_minutes", "is_stale",
    )


def q_dedupe_fuzzy_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUSED fuzzy dedup (dedup.dedupe_near_duplicates with the
    levenshtein generator): planted typo copies -> blocked
    edit-distance pairs -> connected components -> keep the lowest-id
    member. Because this generator is DETERMINISTIC (no LSH
    probability), the oracle replays the ENTIRE pipeline including
    the transitive closure — a WITH RECURSIVE reachability CTE — so
    this is the first fused-dedup row whose CC step is value-oracled
    end-to-end, not argued via planted-containment bounds. (The
    exact-first pre-pass is the identity here — planted texts are all
    distinct — so the oracle's generator+CC replay covers the whole
    computation.)"""
    from sparkval.pipeline.dedup import dedupe_near_duplicates

    docs = _t(spark, sf_dir, "documents")
    mut = docs.filter(F.length("text") >= 40).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 20),
            F.lit("zz"),
            F.expr("substring(text, 23)"),
        ).alias("text"),
    )
    planted = docs.select("doc_id", "text").unionByName(mut)
    kept = dedupe_near_duplicates(planted, method="levenshtein", max_edit=4)
    return kept.select("doc_id").orderBy("doc_id")


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # Ordered least-recently-driver-attested first (round-6 /
    # round-5-verdict #1): the driver's correctness sweep covers ~50
    # rows per round in dict order, so the 72 rows only ever checked
    # by the local harness come first, then the 8 last attested in
    # r4, then the 50 r5-green rows. Pure reordering - every entry
    # and its oracle are unchanged.
    "duplicated_spans_documents": q_duplicated_spans_documents,
    "dedupe_against_documents": q_dedupe_against_documents,
    "hash_split_documents": q_hash_split_documents,
    "mixture_report_documents": q_mixture_report_documents,
    "pack_sequences_documents": q_pack_sequences_documents,
    "gopher_quality_documents": q_gopher_quality_documents,
    "pii_stats_documents": q_pii_stats_documents,
    "vocab_topk_documents": q_vocab_topk_documents,
    "corpus_diff_documents": q_corpus_diff_documents,
    "source_overlap_documents": q_source_overlap_documents,
    "unigram_divergence_documents": q_unigram_divergence_documents,
    "chunk_documents": q_chunk_documents,
    "unigram_nll_documents": q_unigram_nll_documents,
    "source_signature_documents": q_source_signature_documents,
    "events_retention_cohorts": q_events_retention_cohorts,
    "random_projection_embeddings": q_random_projection_embeddings,
    "mad_outliers_events": q_mad_outliers_events,
    "psi_events": q_psi_events,
    "ks_drift_documents": q_ks_drift_documents,
    "rule_suite_documents": q_rule_suite_documents,
    "fd_check_documents": q_fd_check_documents,
    "normalize_text_documents": q_normalize_text_documents,
    "seasonal_anomaly_events": q_seasonal_anomaly_events,
    "bit_lsh_near_dups_embeddings": q_bit_lsh_near_dups_embeddings,
    "stream_sessions_events": q_stream_sessions_events,
    "schema_check_documents": q_schema_check_documents,
    "rate_limit_events": q_rate_limit_events,
    "incremental_validate_documents": q_incremental_validate_documents,
    "rollup_stats_documents": q_rollup_stats_documents,
    "correlation_profile_events": q_correlation_profile_events,
    "monotonicity_events": q_monotonicity_events,
    "coverage_gaps_events": q_coverage_gaps_events,
    "benford_orders": q_benford_orders,
    "chi2_lang_source_documents": q_chi2_lang_source_documents,
    "heavy_hitters_documents": q_heavy_hitters_documents,
    "stream_heavy_hitters_documents": q_stream_heavy_hitters_documents,
    "bloom_decontaminate_documents": q_bloom_decontaminate_documents,
    "bm25_documents": q_bm25_documents,
    "contamination_spans_documents": q_contamination_spans_documents,
    "embedding_stats_embeddings": q_embedding_stats_embeddings,
    "pmi_bigrams_documents": q_pmi_bigrams_documents,
    "temperature_mixture_documents": q_temperature_mixture_documents,
    "cut_spans_documents": q_cut_spans_documents,
    "encoding_stats_documents": q_encoding_stats_documents,
    "kmv_overlap_documents": q_kmv_overlap_documents,
    "boilerplate_lines_documents": q_boilerplate_lines_documents,
    "skew_report_events": q_skew_report_events,
    "zipf_fit_documents": q_zipf_fit_documents,
    "stream_contamination_gate_documents": q_stream_contamination_gate_documents,
    "apply_mixture_documents": q_apply_mixture_documents,
    "winsorize_events": q_winsorize_events,
    "reconcile_orders_lineitem": q_reconcile_orders_lineitem,
    "trend_fit_events": q_trend_fit_events,
    "fuzzy_near_dups_documents": q_fuzzy_near_dups_documents,
    "priority_sample_documents": q_priority_sample_documents,
    "key_candidates_lineitem": q_key_candidates_lineitem,
    "wasserstein_drift_documents": q_wasserstein_drift_documents,
    "event_transitions_events": q_event_transitions_events,
    "change_attribution_events": q_change_attribution_events,
    "gap_fill_events": q_gap_fill_events,
    "proportion_drift_documents": q_proportion_drift_documents,
    "interval_violations_events": q_interval_violations_events,
    "embedding_drift_embeddings": q_embedding_drift_embeddings,
    "numeric_histogram_events": q_numeric_histogram_events,
    "table_fingerprint_orders": q_table_fingerprint_orders,
    "split_leakage_documents": q_split_leakage_documents,
    "profile_lineitem": q_profile_lineitem,
    "freshness_events": q_freshness_events,
    "stratified_priority_sample_documents": q_stratified_priority_sample_documents,
    "fingerprint_partitions_orders": q_fingerprint_partitions_orders,
    "stream_freshness_events": q_stream_freshness_events,
    "dedupe_fuzzy_documents": q_dedupe_fuzzy_documents,
    "tdigest_lengths_documents": q_tdigest_lengths_documents,
    "hll_distinct_documents": q_hll_distinct_documents,
    "strip_validate_documents": q_strip_validate_documents,
    "lineage_metrics_documents": q_lineage_metrics_documents,
    "stream_drift_documents": q_stream_drift_documents,
    "stream_cumulative_drift_documents": q_stream_cumulative_drift_documents,
    "stream_windowed_counts_events": q_stream_windowed_counts_events,
    "stream_dedupe_events": q_stream_dedupe_events,
    "uniqueness_lineitem": q_uniqueness_lineitem,
    "referential_orders_customer": q_referential_orders_customer,
    "referential_lineitem_part": q_referential_lineitem_part,
    "null_stats_documents": q_null_stats_documents,
    "column_stats_documents": q_column_stats_documents,
    "lang_entropy_by_source": q_lang_entropy_by_source,
    "score_stats_orders": q_score_stats_orders,
    "token_counts_documents": q_token_counts_documents,
    "fingerprint_documents": q_fingerprint_documents,
    "exact_dup_groups_documents": q_exact_dup_groups_documents,
    "dedup_keep_canonical_documents": q_dedup_keep_canonical_documents,
    "dup_components_documents": q_dup_components_documents,
    "stratified_sample_documents": q_stratified_sample_documents,
    "lang_id_documents": q_lang_id_documents,
    "verdict_set_compare": q_verdict_set_compare,
    "manifest_check_documents": q_manifest_check_documents,
    "quality_score_documents": q_quality_score_documents,
    "length_quantiles_documents": q_length_quantiles_documents,
    "ngram_jaccard_adjacent_documents": q_ngram_jaccard_adjacent_documents,
    "minhash_near_dups_documents": q_minhash_near_dups_documents,
    "winnow_overlap_documents": q_winnow_overlap_documents,
    "salted_repo_stats": q_salted_repo_stats,
    "simhash_near_dups_documents": q_simhash_near_dups_documents,
    "events_hourly_counts": q_events_hourly_counts,
    "events_sessions_per_user": q_events_sessions_per_user,
    "events_latest_per_user": q_events_latest_per_user,
    "events_props_extract": q_events_props_extract,
    "events_asof_click_view": q_events_asof_click_view,
    "events_funnel": q_events_funnel,
    "multimodal_features": q_multimodal_features,
    "multimodal_decode_images": q_multimodal_decode_images,
    "multimodal_decode_audio": q_multimodal_decode_audio,
    "ann_topk_embeddings": q_ann_topk_embeddings,
    "ivf_topk_embeddings": q_ivf_topk_embeddings,
    "ivf_clustered_recall_embeddings": q_ivf_clustered_recall_embeddings,
    "ivf_topk_full_probe_embeddings": q_ivf_topk_full_probe_embeddings,
    "cosine_near_dups_embeddings": q_cosine_near_dups_embeddings,
    "dedupe_cosine_embeddings": q_dedupe_cosine_embeddings,
    "drift_identity_documents": q_drift_identity_documents,
    "drilldown_bucket_documents": q_drilldown_bucket_documents,
    "drift_shifted_documents": q_drift_shifted_documents,
    "drift_topk_partitions": q_drift_topk_partitions,
    "driftmap_violations_documents": q_driftmap_violations_documents,
    "dedupe_near_dups_documents": q_dedupe_near_dups_documents,
    "dedup_report_documents": q_dedup_report_documents,
    "decontaminate_documents": q_decontaminate_documents,
    "token_budget_sample_documents": q_token_budget_sample_documents,
    "repetition_stats_documents": q_repetition_stats_documents,
    "merge_baselines_documents": q_merge_baselines_documents,
    "cluster_embeddings_planted": q_cluster_embeddings_planted,
}

ORACLE_SQL: dict[str, str] = {
    "uniqueness_lineitem": """
        SELECT l_orderkey, l_linenumber, count(*) AS dup_count
        FROM lineitem GROUP BY 1, 2 HAVING count(*) > 1
    """,
    "referential_orders_customer": """
        SELECT count(*) AS n_orphans FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    """,
    "referential_lineitem_part": """
        SELECT count(*) AS n_orphans FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
    """,
    # ::BIGINT casts matter: DuckDB sum() over integers returns HUGEINT,
    # which pandas renders as float64 ("3.0" vs Spark's "3") — a value-
    # hash mismatch even when the numbers are identical.
    "null_stats_documents": """
        SELECT count(*) AS n_rows,
               sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_text,
               sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_lang,
               sum(CASE WHEN length(text) <> n_chars THEN 1 ELSE 0 END)::BIGINT AS len_mismatch
        FROM documents
    """,
    "column_stats_documents": """
        SELECT lang,
               count(*) AS n_rows,
               min(length(text)) AS len_min,
               max(length(text)) AS len_max,
               round(avg(length(text)), 4) AS len_avg,
               count(DISTINCT source) AS n_sources
        FROM documents GROUP BY lang
    """,
    "lang_entropy_by_source": """
        SELECT source, round(entropy(lang), 6) AS lang_entropy
        FROM documents GROUP BY source
    """,
    "score_stats_orders": """
        SELECT o_orderpriority,
               round(max(o_totalprice / 100000.0), 6) AS max_norm,
               round(pow(avg(pow(o_totalprice / 100000.0, 3)), 1.0/3.0), 6) AS pnorm_3,
               round(pow(avg(pow(o_totalprice / 100000.0, 6)), 1.0/6.0), 6) AS pnorm_6,
               round(pow(avg(pow(o_totalprice / 100000.0, 12)), 1.0/12.0), 6) AS pnorm_12
        FROM orders GROUP BY o_orderpriority
    """,
    "token_counts_documents": """
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
        FROM documents
    """,
    "fingerprint_documents": """
        SELECT doc_id,
               md5(text) AS fp_exact,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp_normalized
        FROM documents
    """,
    "exact_dup_groups_documents": """
        SELECT sha256(text) AS fp, 2::BIGINT AS n_dups FROM documents
    """,
    "dedup_keep_canonical_documents": """
        SELECT doc_id FROM documents
    """,
    "dup_components_documents": """
        WITH d AS (
            SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn
            FROM documents
        ),
        blocks AS (SELECT doc_id, (rn - 1) // 5 AS blk FROM d)
        SELECT doc_id AS node,
               MIN(doc_id) OVER (PARTITION BY blk) AS component
        FROM blocks
        QUALIFY COUNT(*) OVER (PARTITION BY blk) > 1
    """,
    "stratified_sample_documents": """
        SELECT doc_id, lang FROM documents
        WHERE ('0x' || substr(sha256(doc_id::VARCHAR), 1, 4))::BIGINT % 1000
              < CASE lang WHEN 'en' THEN 500 WHEN 'es' THEN 750
                          WHEN 'de' THEN 125 WHEN 'zh' THEN 100 ELSE 50 END
    """,
    "verdict_set_compare": """
        WITH a AS (
            SELECT l_orderkey, l_linenumber, count(*) AS dup_count
            FROM lineitem GROUP BY 1, 2 HAVING count(*) > 1
        ), b AS (
            SELECT DISTINCT l_orderkey, l_linenumber, dup_count FROM (
                SELECT l_orderkey, l_linenumber,
                       count(*) OVER (PARTITION BY l_orderkey, l_linenumber) AS dup_count
                FROM lineitem
            ) WHERE dup_count > 1
        )
        SELECT count(*) AS n_mismatched FROM (
            (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
            UNION ALL
            (SELECT * FROM b EXCEPT ALL SELECT * FROM a)
        )
    """,
    "ann_topk_embeddings": """
        WITH q AS (
            SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
            FROM embeddings WHERE vec_id IN (0, 7, 42)
        ), scored AS (
            SELECT q.query_id, e.vec_id,
                   list_cosine_similarity(q.qv, e.embedding::DOUBLE[]) AS cos_raw
            FROM q CROSS JOIN embeddings e
        ), ranked AS (
            SELECT query_id, vec_id, cos_raw,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos_raw DESC, vec_id ASC) AS rank
            FROM scored
        )
        SELECT query_id, vec_id, round(cos_raw, 6) AS cosine, rank
        FROM ranked WHERE rank <= 5
    """,
    # full-probe IVF must equal brute force exactly -> same oracle
    "ivf_topk_full_probe_embeddings": """
        WITH q AS (
            SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
            FROM embeddings WHERE vec_id IN (0, 7, 42)
        ), scored AS (
            SELECT q.query_id, e.vec_id,
                   list_cosine_similarity(q.qv, e.embedding::DOUBLE[]) AS cos_raw
            FROM q CROSS JOIN embeddings e
        ), ranked AS (
            SELECT query_id, vec_id, cos_raw,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos_raw DESC, vec_id ASC) AS rank
            FROM scored
        )
        SELECT query_id, vec_id, round(cos_raw, 6) AS cosine, rank
        FROM ranked WHERE rank <= 5
    """,
    "manifest_check_documents": """
        WITH corpus AS (
            SELECT source AS repo, 'doc/' || doc_id AS path, 'c0' AS "commit",
                   sha256(text) AS content_sha256
            FROM documents
        ), ref AS (
            SELECT repo, path, "commit",
                   CASE WHEN path = 'doc/0' THEN sha256('tampered')
                        ELSE content_sha256 END AS expected_sha256
            FROM corpus WHERE path <> 'doc/1'
            UNION ALL
            SELECT repo, 'doc/extra', "commit", content_sha256
            FROM corpus WHERE path = 'doc/2'
        )
        SELECT 'row_invariant_sha256' AS check, coalesce(c.repo, r.repo) AS repo,
               coalesce(c.path, r.path) AS path,
               coalesce(c."commit", r."commit") AS "commit",
               CASE WHEN c.path IS NULL THEN 'missing_in_snapshot'
                    WHEN r.path IS NULL THEN 'unexpected_in_snapshot'
                    ELSE 'content_hash_mismatch' END AS detail
        FROM corpus c FULL OUTER JOIN ref r
          ON c.repo = r.repo AND c.path = r.path AND c."commit" = r."commit"
        WHERE c.path IS NULL OR r.path IS NULL
              OR c.content_sha256 <> r.expected_sha256
    """,
    "quality_score_documents": """
        SELECT doc_id,
               round(
                 (CASE WHEN length(text) BETWEEN 20 AND 100000 THEN 1 ELSE 0 END) * 0.4
                 + (CASE WHEN length(text)::DOUBLE / greatest(
                       len(regexp_split_to_array(trim(text), '\\s+')), 1)
                       BETWEEN 2.0 AND 15.0 THEN 1 ELSE 0 END) * 0.2
                 + least(length(regexp_replace(text, '[^A-Za-zÀ-ɏ一-鿿]', '', 'g'))::DOUBLE
                         / greatest(length(text), 1) * 2.0, 1.0) * 0.4,
               6) AS quality_score
        FROM documents
    """,
    "length_quantiles_documents": """
        SELECT lang,
               round(quantile_cont(length(text), 0.25), 4) AS len_p25,
               round(quantile_cont(length(text), 0.50), 4) AS len_p50,
               round(quantile_cont(length(text), 0.75), 4) AS len_p75
        FROM documents GROUP BY lang
    """,
    "ngram_jaccard_adjacent_documents": """
        WITH toks AS (
            SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
            FROM documents
        ), grams AS (
            SELECT doc_id,
                   list_distinct([
                       array_to_string(list_slice(t, i, i + 2), ' ')
                       for i in range(1, greatest(len(t) - 3, 0) + 2)
                   ]) AS g
            FROM toks
        )
        SELECT a.doc_id AS a, b.doc_id AS b,
               round(len(list_intersect(a.g, b.g))::DOUBLE
                     / greatest(len(list_distinct(list_concat(a.g, b.g))), 1), 6) AS jaccard
        FROM grams a JOIN grams b ON b.doc_id = a.doc_id + 1
    """,
    "salted_repo_stats": """
        SELECT CASE WHEN l_suppkey % 100 < 25 THEN 'r0'
                    ELSE 'r' || (l_suppkey % 100) END AS repo,
               count(*) AS n_files,
               0 AS n_null_content,
               round(avg(length(c)), 6) AS len_mean,
               min(length(c)) AS len_min,
               max(length(c)) AS len_max
        FROM (
            SELECT l_suppkey,
                   l_returnflag || ' ' || l_linestatus || ' '
                   || strftime(l_shipdate, '%Y-%m-%d') || ' ' || l_orderkey AS c
            FROM lineitem
        ) GROUP BY 1
    """,
    "events_hourly_counts": """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               count(*) AS n_events,
               round(sum(value), 4) AS sum_value,
               round(avg(value), 6) AS avg_value
        FROM events GROUP BY 1, 2
    """,
    "events_sessions_per_user": """
        WITH g AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), s AS (
            SELECT user_id, ts, new_session,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING) AS session_seq
            FROM g
        ), per_session AS (
            SELECT user_id, session_seq, count(*) AS n_events,
                   date_diff('second', min(ts), max(ts)) AS duration_s
            FROM s GROUP BY 1, 2
        )
        SELECT user_id, count(*) AS n_sessions, sum(n_events)::BIGINT AS n_events,
               max(duration_s) AS max_session_s
        FROM per_session GROUP BY user_id
    """,
    "events_latest_per_user": """
        SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, event_type
        FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id
                                         ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
    """,
    "events_asof_click_view": """
        WITH clicks AS (
            SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        ), views AS (
            SELECT user_id, ts, event_id AS view_id, value FROM (
                SELECT *, row_number() OVER (PARTITION BY user_id, ts
                                             ORDER BY event_id DESC) AS rn
                FROM events WHERE event_type = 'view'
            ) WHERE rn = 1
        )
        SELECT c.event_id, c.user_id,
               strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS ts,
               v.view_id AS view_id_right,
               round(v.value, 4) AS view_value,
               strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts
        FROM clicks c ASOF LEFT JOIN views v
          ON c.user_id = v.user_id AND c.ts >= v.ts
    """,
    "events_props_extract": """
        SELECT event_type, count(*) AS n,
               sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k,
               min(json_extract_string(props, '$.k')::BIGINT) AS min_k,
               max(json_extract_string(props, '$.k')::BIGINT) AS max_k
        FROM events GROUP BY event_type
    """,
    "lang_id_documents": """
        WITH t AS (
            SELECT lang, text,
                   regexp_split_to_array(lower(text), '\\s+') AS toks
            FROM documents
        ), scored AS (
            SELECT lang,
                   list_max([
                       {'hits': len(list_filter(toks, t -> list_contains(
                           ['der','die','und','das','ist'], t)))::BIGINT, 'lang': 'de'},
                       {'hits': len(list_filter(toks, t -> list_contains(
                           ['the','and','of','to','is'], t)))::BIGINT, 'lang': 'en'},
                       {'hits': len(list_filter(toks, t -> list_contains(
                           ['que','los','las','una','por'], t)))::BIGINT, 'lang': 'es'},
                       {'hits': len(list_filter(toks, t -> list_contains(
                           ['les','des','une','est','dans'], t)))::BIGINT, 'lang': 'fr'},
                       {'hits': (length(text) - length(regexp_replace(
                           text, '[的是了在我]', '', 'g')))::BIGINT, 'lang': 'zh'}
                   ]) AS best
            FROM t
        )
        SELECT lang,
               CASE WHEN best.hits > 0 THEN best.lang ELSE 'unknown' END AS lang_pred,
               count(*) AS n
        FROM scored GROUP BY 1, 2
    """,
    # Planted-pair containment oracles: the LSH/fingerprint kernels are
    # not SQL-expressible, but their recall contract on planted pairs
    # is — the expected pair set is pure id arithmetic.
    "minhash_near_dups_documents": """
        SELECT doc_id AS a, doc_id + 100000 AS b, true AS found FROM documents
    """,
    "simhash_near_dups_documents": """
        SELECT doc_id AS a, doc_id + 100000 AS b, true AS found FROM documents
    """,
    "winnow_overlap_documents": """
        SELECT doc_id AS a, doc_id + 100000 AS b, true AS found FROM documents
    """,
    "cosine_near_dups_embeddings": """
        SELECT vec_id AS a, vec_id + 100000 AS b, true AS found FROM embeddings
    """,
    # planted x2.0/x0.5 copies (cosine 1) cluster with their original;
    # keep-canonical = min id = the original -> kept set == originals
    "dedupe_cosine_embeddings": """
        SELECT vec_id FROM embeddings
    """,
    "drilldown_bucket_documents": """
        SELECT 'src3' AS top_repo, true AS planted_failed, true AS others_zero
    """,
    "drift_identity_documents": """
        SELECT 0::BIGINT AS n_not_pass, 0.0::DOUBLE AS max_score,
               (SELECT count(*) FROM documents) AS n_files_total
    """,
    "drift_shifted_documents": """
        SELECT 0::BIGINT AS n_pass, true AS all_failed,
               (SELECT count(*) FROM documents) AS n_files_total
    """,
    "drift_topk_partitions": """
        SELECT r + 1 AS rank, true AS failed FROM range(5) t(r)
    """,
    "driftmap_violations_documents": """
        SELECT 'byte' AS channels_with_drift,
               true AS bin_e_flagged, true AS bin_x01_flagged
    """,
    "stream_drift_documents": """
        SELECT 0::BIGINT AS n_mismatch, true AS all_failed,
               (SELECT count(*) FROM documents) AS n_files_total
    """,
    "dedupe_near_dups_documents": """
        WITH d AS (
            SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn
            FROM documents
        )
        SELECT MIN(doc_id) AS doc_id FROM d GROUP BY (rn - 1) // 5
    """,
    "dedup_report_documents": """
        WITH n AS (SELECT count(*)::BIGINT AS c FROM documents)
        SELECT c AS in_rows,
               ((c + 4) // 5)::BIGINT AS kept_rows,
               (c - (c + 4) // 5)::BIGINT AS removed_rows,
               round((c - (c + 4) // 5) / c::DOUBLE, 6) AS removed_fraction,
               (c // 5 + CASE WHEN c % 5 > 1 THEN 1 ELSE 0 END)::BIGINT AS n_clusters,
               (CASE WHEN c >= 5 THEN 5 ELSE c END)::BIGINT AS max_cluster_size,
               round((5 * (c // 5) + CASE WHEN c % 5 > 1 THEN c % 5 ELSE 0 END)
                     / (c // 5 + CASE WHEN c % 5 > 1 THEN 1 ELSE 0 END)::DOUBLE, 6)
                   AS avg_cluster_size,
               true AS chars_shrank
        FROM n
    """,
    "strip_validate_documents": """
        SELECT 0::BIGINT AS n_mismatch, true AS all_failed,
               (SELECT count(*) + 3 FROM documents) AS n_files_total,
               0::BIGINT AS n_vio_mismatch, true AS planted_vio_count_ok
    """,
    "tdigest_lengths_documents": """
        SELECT true AS has_groups, true AS all_monotone,
               true AS within_15pct_of_exact,
               (SELECT count(*) FROM documents) AS n_files_total
    """,
    "hll_distinct_documents": """
        SELECT (SELECT count(DISTINCT source) FROM documents) AS n_sources,
               true AS per_source_within_2pct,
               true AS rollup_within_2pct, true AS direct_within_2pct
    """,
    "stream_cumulative_drift_documents": """
        SELECT 0::BIGINT AS n_mismatch, true AS all_failed,
               (SELECT count(*) FROM documents) AS n_files_total
    """,
    "stream_windowed_counts_events": """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type, count(*) AS n_events
        FROM events GROUP BY 1, 2
    """,
    # planted double-delivery deduped back to exactly the source set
    "stream_dedupe_events": """
        SELECT event_id FROM events ORDER BY event_id
    """,
    "lineage_metrics_documents": """
        SELECT (SELECT count(*) FROM documents) + 3 AS files_validated,
               6::BIGINT AS n_uniqueness, 2::BIGINT AS n_null_required,
               0::BIGINT AS n_referential, true AS counts_consistent
    """,
    # IVF is approximate by design, so the query reduces itself to
    # SQL-expressible invariants (recall@5 vs the fully-oracled brute
    # force, k rows per query, subset-search cosine envelope) and the
    # oracle is the constant-true row — the t-digest pattern.
    "ivf_topk_embeddings": """
        SELECT 3::BIGINT AS n_queries, true AS each_query_k_rows,
               true AS probed_subset_exact, true AS recall_ok
    """,
    # design-case invariants (planted clusters): fixed expected booleans,
    # same discipline as ivf_topk_embeddings
    "ivf_clustered_recall_embeddings": """
        SELECT 4::BIGINT AS n_queries, true AS each_query_k_rows,
               true AS recall_exactly_one
    """,
}


def _multimodal_oracle_sql() -> str:
    """Generated oracle for the fake-media feature extraction.

    Reproduces decode_stub exactly in SQL: payload = ascii hexdigest
    repeated (i%5+1) times; digest = sha256(payload); features =
    float32(uint32_le(digest bytes, cycled) / uint32_max); feat_sum =
    left-assoc double sum of the 32 features (matches F.aggregate)."""
    feats = []
    for j in range(32):
        m = (4 * j) % 32  # byte offset into the 32-byte digest (cycled)
        parts = [
            f"(('0x' || substr(dh, {2 * (m + bi) + 1}, 2))::BIGINT << {8 * bi})"
            for bi in range(4)
        ]
        feats.append(f"CAST(({' + '.join(parts)}) / 4294967295.0 AS FLOAT)")
    feat_sum = " + ".join(f"CAST({t} AS DOUBLE)" for t in feats)
    return f"""
        WITH m AS (
            SELECT i AS media_id,
                   repeat(sha256('media-' || i), (i % 5 + 1)::INT) AS payload
            FROM range(64) t(i)
        ), h AS (
            SELECT media_id,
                   sha256(payload) AS payload_sha256,
                   length(payload)::BIGINT AS payload_bytes,
                   sha256(payload) AS dh
            FROM m
        )
        SELECT media_id, payload_sha256, payload_bytes,
               round({feat_sum}, 6) AS feat_sum
        FROM h
    """


ORACLE_SQL["multimodal_features"] = _multimodal_oracle_sql()

# Real-decode oracle: re-derives every decoded statistic from the
# planted pixel formula pixel(x,y,c) = (x*7 + y*13 + c*29 + i*31) % 256
# (make_real_image_media). Float32 feature values are re-cast the same
# way Spark-side (double -> FLOAT -> double -> round 6). Luma bins can
# only sit ON a boundary at luma 0/1 (16*(r+g+b)/765 is integral only
# for 0 and 765), so floor() is rounding-safe on both engines.
ORACLE_SQL["multimodal_decode_images"] = """
    WITH m AS (
        SELECT i AS media_id,
               CASE i % 4 WHEN 0 THEN 'ppm' WHEN 1 THEN 'bmp'
                    WHEN 2 THEN 'farbfeld' ELSE 'png' END AS format,
               16 + (i % 9) AS w, 12 + (i % 5) AS h
        FROM range(48) t(i)
    ),
    px AS (
        SELECT m.media_id, m.format, m.w, m.h,
               (gx.x * 7 + gy.y * 13 + m.media_id * 31) % 256      AS r,
               (gx.x * 7 + gy.y * 13 + 29 + m.media_id * 31) % 256 AS g,
               (gx.x * 7 + gy.y * 13 + 58 + m.media_id * 31) % 256 AS b
        FROM m,
             generate_series(0, 23) gx(x),
             generate_series(0, 15) gy(y)
        WHERE gx.x < m.w AND gy.y < m.h
    )
    SELECT media_id,
           any_value(format) AS format,
           any_value(w)::BIGINT AS width,
           any_value(h)::BIGINT AS height,
           round(CAST(CAST(avg((r + g + b) / 765.0) AS FLOAT) AS DOUBLE), 6)
               AS mean_all,
           round(CAST(CAST(avg(r / 255.0) AS FLOAT) AS DOUBLE), 6) AS mean_r,
           round(CAST(CAST(avg(b / 255.0) AS FLOAT) AS DOUBLE), 6) AS mean_b,
           COUNT(DISTINCT LEAST(floor((r + g + b) * 16 / 765.0), 15))::BIGINT
               AS luma_hist_support
    FROM px
    GROUP BY media_id
"""

# Audio analog: samples f(t, c) = ((t*37 + c*101 + i*211) % 4001) - 2000
# over 800 + 40*(i%5) stereo frames at 8 kHz (make_real_audio_media).
# rms/peak re-cast double -> FLOAT -> double like the Spark float32
# features; zero-crossings use the same >= 0 sign convention, lag's
# NULL first row falling out of the CASE on both engines.
ORACLE_SQL["multimodal_decode_audio"] = """
    WITH m AS (
        SELECT i AS media_id, 800 + 40 * (i % 5) AS n
        FROM range(32) t(i)
    ),
    s AS (
        SELECT m.media_id, m.n, g.t,
               ((g.t * 37 + m.media_id * 211) % 4001) - 2000       AS r0,
               ((g.t * 37 + 101 + m.media_id * 211) % 4001) - 2000 AS r1
        FROM m, generate_series(0, 959) g(t)
        WHERE g.t < m.n
    ),
    zx AS (
        SELECT media_id, n, t, r0, r1,
               CASE WHEN (r0 >= 0) <> (lag(r0) OVER (
                        PARTITION BY media_id ORDER BY t) >= 0)
                    THEN 1 ELSE 0 END AS zc
        FROM s
    )
    SELECT media_id,
           any_value(n)::BIGINT AS n_frames,
           8000::BIGINT AS sample_rate,
           2::BIGINT AS n_channels,
           (any_value(n) / 8)::BIGINT AS duration_ms,
           round(CAST(CAST(sqrt(avg((r0 * r0 + r1 * r1) / 2.0)
                                / 1073741824.0) AS FLOAT) AS DOUBLE), 6) AS rms,
           round(CAST(CAST(max(greatest(abs(r0), abs(r1))) / 32768.0
                           AS FLOAT) AS DOUBLE), 6) AS peak_abs,
           sum(zc)::BIGINT AS zero_crossings
    FROM zx
    GROUP BY media_id
"""

# decontamination oracle: string n-grams (DuckDB has no xxhash64; the
# engine joins on 64-bit gram hashes whose collisions are ~1e-19/pair,
# so the string-derived and hash-derived dropped sets are identical on
# this data). trim+lower+regex-split mirrors the engine tokenizer.
ORACLE_SQL["decontaminate_documents"] = """
    WITH tok AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
        FROM documents
        WHERE text IS NOT NULL
    ),
    -- generate_series needs CONSTANT bounds in DuckDB; 512 safely
    -- exceeds the corpus max token count (measured 100 at sf0.1)
    bg AS (
        SELECT DISTINCT array_to_string(t[g.i : g.i + 12], ' ') AS g
        FROM tok, generate_series(1, 512) g(i)
        WHERE doc_id % 50 = 5 AND g.i + 12 <= len(t)
    ),
    cg AS (
        SELECT DISTINCT doc_id, array_to_string(t[g.i : g.i + 12], ' ') AS g
        FROM tok, generate_series(1, 512) g(i)
        WHERE g.i + 12 <= len(t)
    )
    SELECT DISTINCT cg.doc_id
    FROM cg JOIN bg USING (g)
    ORDER BY doc_id
"""

# token-budget oracle: the FLAT rule (per-group sha256-ordered running
# token sum, keep while inclusive cum <= budget) that the engine's
# two-level bucket plan must equal exactly. trim is space-only on both
# engines and \s+ splitting counts boundary empties identically.
ORACLE_SQL["token_budget_sample_documents"] = """
    WITH t AS (
        SELECT lang, doc_id,
               sha256(doc_id::VARCHAR) AS k,
               CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\\s+'))
               END AS tok
        FROM documents
    ),
    c AS (
        SELECT lang, doc_id,
               sum(tok) OVER (PARTITION BY lang ORDER BY k, doc_id) AS cum
        FROM t
    )
    SELECT lang, doc_id FROM c WHERE cum <= 3000 ORDER BY lang, doc_id
"""

# repetition oracle: same planted duplication, rule replayed with
# DuckDB list lambdas (list_filter nested like Spark's HOFs).
ORACLE_SQL["repetition_stats_documents"] = """
    WITH planted AS (
        SELECT doc_id,
               CASE WHEN doc_id % 10 = 0 THEN
                   concat_ws(chr(10),
                       string_split(coalesce(text, ''), chr(10))[1],
                       string_split(coalesce(text, ''), chr(10))[1],
                       string_split(coalesce(text, ''), chr(10))[1],
                       string_split(coalesce(text, ''), chr(10))[1],
                       string_split(coalesce(text, ''), chr(10))[1],
                       text)
               ELSE text END AS text
        FROM documents
    ),
    l AS (
        SELECT doc_id,
               list_filter(string_split(coalesce(text, ''), chr(10)),
                           x -> trim(x) <> '') AS lines
        FROM planted
    ),
    d AS (
        SELECT doc_id, lines,
               list_filter(lines,
                   x -> len(list_filter(lines, y -> y = x)) >= 2) AS dups
        FROM l
    ),
    s AS (
        SELECT doc_id,
               len(lines)::BIGINT AS n_lines,
               CASE WHEN len(lines) > 0
                    THEN len(dups)::DOUBLE / len(lines) ELSE 0.0 END AS dlf,
               -- list_sum of an EMPTY list is NULL in DuckDB
               CASE WHEN coalesce(list_sum(list_transform(lines, x -> length(x))), 0) > 0
                    THEN coalesce(list_sum(list_transform(dups, x -> length(x))), 0)::DOUBLE
                         / list_sum(list_transform(lines, x -> length(x)))
                    ELSE 0.0 END AS dcf
        FROM d
    )
    SELECT doc_id, n_lines,
           round(dlf, 6) AS dup_line_frac,
           round(dcf, 6) AS dup_char_frac,
           (dlf > 0.30 OR dcf > 0.20) AS is_repetitive
    FROM s ORDER BY doc_id
"""

# funnel oracle: chained min-timestamp formulation; strict > at every
# hop matches the fold's (step, last_ts) accumulator.
ORACLE_SQL["events_funnel"] = """
    WITH base AS (
        SELECT user_id, ts, event_type FROM events
        WHERE event_type IN ('view', 'click', 'purchase')
    ),
    u AS (SELECT DISTINCT user_id FROM base),
    s1 AS (
        SELECT user_id, min(ts) AS t1 FROM base
        WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT b.user_id, min(b.ts) AS t2 FROM base b
        JOIN s1 USING (user_id)
        WHERE b.event_type = 'click' AND b.ts > s1.t1 GROUP BY b.user_id
    ),
    s3 AS (
        SELECT b.user_id, min(b.ts) AS t3 FROM base b
        JOIN s2 USING (user_id)
        WHERE b.event_type = 'purchase' AND b.ts > s2.t2 GROUP BY b.user_id
    )
    SELECT u.user_id,
           (CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
                 WHEN t1 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               AS steps_completed,
           t3 AS completed_at
    FROM u
    LEFT JOIN s1 USING (user_id)
    LEFT JOIN s2 USING (user_id)
    LEFT JOIN s3 USING (user_id)
    ORDER BY user_id
"""

# span-dedup oracle: the full rule replayed from n-gram STRINGS —
# positional gram stream, corpus-wide count >= 2, per-doc island merge
# of overlapping 13-word windows. generate_series needs CONSTANT
# bounds in DuckDB; 544 = 512 corpus max + planted passage.
ORACLE_SQL["duplicated_spans_documents"] = """
    WITH planted AS (
        SELECT doc_id,
               CASE WHEN doc_id % 25 = 0 THEN
                   'dupseg00 dupseg01 dupseg02 dupseg03 dupseg04 dupseg05 dupseg06 dupseg07 dupseg08 dupseg09 dupseg10 dupseg11 dupseg12 dupseg13 dupseg14 dupseg15 dupseg16 dupseg17 dupseg18 dupseg19 '
                   || coalesce(text, '')
               ELSE text END AS text
        FROM documents
    ),
    tok AS (
        SELECT doc_id,
               string_split_regex(trim(lower(coalesce(text, ''))), '\\s+') AS t
        FROM planted
    ),
    g AS (
        SELECT doc_id, g.i - 1 AS pos,
               array_to_string(t[g.i : g.i + 12], ' ') AS gram
        FROM tok, generate_series(1, 544) g(i)
        WHERE len(t) >= 13 AND g.i + 12 <= len(t)
    ),
    dup AS (
        SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2
    ),
    m AS (
        SELECT doc_id, pos FROM g JOIN dup USING (gram)
    ),
    s AS (
        SELECT doc_id, pos,
               max(pos + 13) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS pme
        FROM m
    ),
    i AS (
        SELECT doc_id, pos,
               sum(CASE WHEN pme IS NULL OR pos > pme THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        FROM s
    )
    SELECT doc_id,
           min(pos)::BIGINT AS span_start,
           (max(pos) + 13)::BIGINT AS span_end,
           (max(pos) + 13 - min(pos))::BIGINT AS n_words
    FROM i GROUP BY doc_id, isl
    ORDER BY doc_id, span_start
"""

# clustering oracle: invariant booleans on the deterministic design
# case (farthest-point init contract) — exact recovery, not a bound.
ORACLE_SQL["cluster_embeddings_planted"] = """
    SELECT 8::BIGINT AS n_groups, true AS groups_complete,
           true AS each_group_one_cluster, true AS all_tight,
           8::BIGINT AS n_distinct_clusters
"""

# merge-baselines oracle: the invariant-boolean pattern (ivf/strip
# precedent) — bit-equality of merged vs one-shot baseline reduces to
# a zero mismatch count; the file total is globally oracled.
ORACLE_SQL["merge_baselines_documents"] = """
    SELECT 0::BIGINT AS n_mismatched_rows,
           (SELECT count(*) FROM documents) AS n_files_total
"""

# cross-corpus near-dup oracle: closed-form planted design — the
# reference contains a Jaccard-~0.95 twin of exactly the docs with
# doc_id % 20 == 0, every other pair is ~0 (independent xxhash64 hex
# streams), so the dropped set at threshold 0.7 is exactly that
# residue class (16x4-band LSH miss probability ~1e-12 per twin).
ORACLE_SQL["dedupe_against_documents"] = """
    SELECT doc_id FROM documents WHERE doc_id % 20 = 0 ORDER BY doc_id
"""

# hash_split oracle: the bucket arithmetic replayed exactly — first 4
# hex chars of sha256(decimal id string) mod 1000 onto 800/100/100.
ORACLE_SQL["hash_split_documents"] = """
    SELECT doc_id,
           CASE WHEN b < 800 THEN 'train'
                WHEN b < 900 THEN 'val' ELSE 'test' END AS split
    FROM (
        SELECT doc_id,
               ('0x' || substr(sha256(doc_id::VARCHAR), 1, 4))::BIGINT % 1000 AS b
        FROM documents
    ) ORDER BY doc_id
"""

# mixture oracle: shares/weights from UNROUNDED double division over
# identical integer operands (bit-equal IEEE quotients), rounded only
# for display; zero-token groups get NULL weight on both engines.
ORACLE_SQL["mixture_report_documents"] = """
    WITH per AS (
        SELECT lang, count(*) AS n_docs,
               sum(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+'))
                   END)::BIGINT AS n_tokens
        FROM documents GROUP BY lang
    ),
    tot AS (
        SELECT sum(n_tokens)::BIGINT AS total, count(*)::BIGINT AS ng FROM per
    )
    SELECT lang, n_docs, n_tokens,
           round(n_tokens::DOUBLE / greatest(total, 1), 6) AS token_share,
           round(1.0 / ng, 6) AS target_share,
           round(CASE WHEN n_tokens > 0
                      THEN (1.0 / ng) / (n_tokens::DOUBLE / greatest(total, 1))
                 END, 6) AS mix_weight
    FROM per, tot ORDER BY lang
"""

# packing oracle: the FLAT rule — per-group sha256-ordered running
# token sum; each doc's start offset is the cumsum minus its own
# tokens; pack = offset // ctx. The engine's two-level bucket plan
# must equal this exactly (the bucket key is a PREFIX of the order
# key, so bucketing never perturbs the order).
ORACLE_SQL["pack_sequences_documents"] = """
    WITH t AS (
        SELECT doc_id, lang, sha256(doc_id::VARCHAR) AS k,
               CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\\s+'))
               END AS tok
        FROM documents
    ),
    c AS (
        SELECT doc_id, lang, tok,
               (sum(tok) OVER (PARTITION BY lang ORDER BY k, doc_id) - tok)::BIGINT AS off
        FROM t
    )
    SELECT doc_id, lang,
           (off // 512)::BIGINT AS pack_id,
           (off % 512)::BIGINT AS offset_in_pack,
           tok::BIGINT AS n_tokens
    FROM c ORDER BY doc_id
"""

# Gopher oracle: every rule replayed with DuckDB list lambdas over the
# same whitespace tokenization; rules compare UNROUNDED doubles (the
# divisions have identical integer operands on both engines).
ORACLE_SQL["gopher_quality_documents"] = """
    WITH w AS (
        SELECT doc_id,
               CASE WHEN text IS NULL OR trim(text) = '' THEN []::VARCHAR[]
                    ELSE string_split_regex(trim(text), '\\s+') END AS ws
        FROM documents
    ),
    lw AS (
        SELECT doc_id, ws,
               list_transform(ws, x -> lower(x)) AS lws,
               len(ws) AS n,
               greatest(len(ws), 1)::DOUBLE AS nf
        FROM w
    ),
    m AS (
        SELECT doc_id, n, nf,
               coalesce(list_sum(list_transform(ws, x -> length(x))), 0)::DOUBLE / nf AS mwl,
               len(list_filter(ws, x -> contains(x, '#') OR contains(x, '...')
                                        OR contains(x, '…')))::DOUBLE / nf AS swr,
               len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE / nf AS awf,
               (list_contains(lws, 'the')::INT + list_contains(lws, 'be')::INT
                + list_contains(lws, 'to')::INT + list_contains(lws, 'of')::INT
                + list_contains(lws, 'and')::INT + list_contains(lws, 'that')::INT
                + list_contains(lws, 'have')::INT
                + list_contains(lws, 'with')::INT)::BIGINT AS sh
        FROM lw
    )
    SELECT doc_id, n::BIGINT AS n_words,
           round(mwl, 6) AS mean_word_len,
           round(swr, 6) AS symbol_word_ratio,
           round(awf, 6) AS alpha_word_frac,
           sh AS stopword_hits,
           (n >= 50 AND n <= 100000) AS rule_words,
           (mwl >= 3.0 AND mwl <= 10.0) AS rule_word_len,
           (swr <= 0.10) AS rule_symbols,
           (awf >= 0.80) AS rule_alpha,
           (sh >= 2) AS rule_stopwords,
           ((n >= 50 AND n <= 100000) AND (mwl >= 3.0 AND mwl <= 10.0)
            AND swr <= 0.10 AND awf >= 0.80 AND sh >= 2) AS gopher_keep
    FROM m ORDER BY doc_id
"""

# PII oracle: same planting, same patterns (the RE2/Java-identical
# subset: no backrefs/lookaround), counts on the planted text and the
# chained-redaction length in the same email->ipv4->phone order.
ORACLE_SQL["pii_stats_documents"] = """
    WITH planted AS (
        SELECT doc_id,
               coalesce(text, '')
               || CASE WHEN doc_id % 7 = 0
                       THEN ' contact user' || doc_id::VARCHAR || '@example.com'
                       ELSE '' END
               || CASE WHEN doc_id % 11 = 3 THEN ' from 10.1.2.3' ELSE '' END
               || CASE WHEN doc_id % 13 = 6 THEN ' call 555-867-5309' ELSE '' END
                   AS text
        FROM documents
    ),
    c AS (
        SELECT doc_id,
               len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::BIGINT AS n_email,
               len(regexp_extract_all(text,
                   '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))::BIGINT AS n_ipv4,
               len(regexp_extract_all(text,
                   '\\b\\d{3}-\\d{3}-\\d{4}\\b'))::BIGINT AS n_phone,
               length(regexp_replace(regexp_replace(regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[PII]', 'g'),
                   '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[PII]', 'g'),
                   '\\b\\d{3}-\\d{3}-\\d{4}\\b', '[PII]', 'g'))::BIGINT AS redacted_len
        FROM planted
    )
    SELECT doc_id, n_email, n_ipv4, n_phone,
           (n_email > 0 OR n_ipv4 > 0 OR n_phone > 0) AS has_pii,
           redacted_len
    FROM c ORDER BY doc_id
"""

# vocab oracle: unnest the same tokenization; count(*) over exploded
# terms == the engine's sum of per-doc counts; the (count DESC, term)
# order makes the top-50 cut total-ordered on both engines.
ORACLE_SQL["vocab_topk_documents"] = """
    WITH words AS (
        SELECT doc_id,
               lower(unnest(string_split_regex(trim(text), '\\s+'))) AS term
        FROM documents
        WHERE text IS NOT NULL AND trim(text) <> ''
    )
    SELECT term, count(*)::BIGINT AS n_occurrences,
           count(DISTINCT doc_id)::BIGINT AS n_docs
    FROM words GROUP BY term
    ORDER BY n_occurrences DESC, term LIMIT 50
"""

# snapshot-diff oracle: replay the deterministic version mutations and
# classify with IS NOT DISTINCT FROM (the engine compares sha256
# fingerprints with a NULL sentinel — same NULL semantics, no
# collision at any realistic scale).
ORACLE_SQL["corpus_diff_documents"] = """
    WITH prev AS (SELECT doc_id, text FROM documents),
    cur AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 1 THEN text || ' EDIT' ELSE text END AS text
        FROM documents WHERE doc_id % 7 <> 3
        UNION ALL
        SELECT doc_id + 10000000 AS doc_id, text
        FROM documents WHERE doc_id % 11 = 6
    )
    SELECT coalesce(c.doc_id, p.doc_id) AS doc_id,
           CASE WHEN p.doc_id IS NULL THEN 'added'
                WHEN c.doc_id IS NULL THEN 'removed'
                WHEN c.text IS NOT DISTINCT FROM p.text THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM cur c FULL OUTER JOIN prev p ON c.doc_id = p.doc_id
    ORDER BY doc_id, status
"""

# source-overlap oracle: distinct 5-shingle STRINGS per source (the
# engine joins 64-bit shingle hashes; a collision would shift a
# count by 1 and break the hash match — none on this data). The
# [i : i+4] list slice is inclusive on both ends = 5 tokens.
ORACLE_SQL["source_overlap_documents"] = """
    WITH tok AS (
        SELECT source,
               string_split_regex(trim(lower(coalesce(text, ''))), '\\s+') AS t
        FROM documents
    ),
    g AS (
        SELECT DISTINCT source, array_to_string(t[i.i : i.i + 4], ' ') AS gram
        FROM tok, generate_series(1, 512) i(i)
        WHERE i.i + 4 <= len(t)
    ),
    sz AS (SELECT source, count(*) AS n FROM g GROUP BY source),
    inter AS (
        SELECT a.source AS group_a, b.source AS group_b,
               count(*) AS n_common
        FROM g a JOIN g b USING (gram)
        WHERE a.source < b.source
        GROUP BY 1, 2
    )
    SELECT i.group_a, i.group_b,
           sa.n::BIGINT AS n_grams_a, sb.n::BIGINT AS n_grams_b,
           i.n_common::BIGINT AS n_common,
           round(i.n_common::DOUBLE / (sa.n + sb.n - i.n_common), 6) AS jaccard
    FROM inter i
    JOIN sz sa ON sa.source = i.group_a
    JOIN sz sb ON sb.source = i.group_b
    ORDER BY group_a, group_b
"""

# unigram-KL oracle: same tokenization, ln() on both engines, and the
# same vocabulary-sized join back to corpus marginals; rounding at
# 1e-6 absorbs f64 summation-order differences.
ORACLE_SQL["unigram_divergence_documents"] = """
    WITH terms AS (
        SELECT source AS grp,
               unnest(string_split_regex(trim(lower(coalesce(text, ''))),
                      '\\s+')) AS term
        FROM documents WHERE trim(text) <> ''
    ),
    c AS (SELECT grp, term, count(*) AS n FROM terms GROUP BY 1, 2),
    cc AS (SELECT term, sum(n) AS n_corpus FROM c GROUP BY 1),
    tot AS (SELECT sum(n) AS total FROM c),
    gt AS (SELECT grp, sum(n) AS n_tokens FROM c GROUP BY 1)
    SELECT c.grp,
           any_value(gt.n_tokens)::BIGINT AS n_tokens,
           count(*)::BIGINT AS n_distinct_terms,
           round(sum((c.n::DOUBLE / gt.n_tokens)
                     * ln((c.n::DOUBLE / gt.n_tokens)
                          / (cc.n_corpus::DOUBLE / tot.total))), 6)
               AS kl_vs_corpus
    FROM c
    JOIN cc USING (term)
    JOIN gt USING (grp)
    CROSS JOIN tot
    GROUP BY c.grp ORDER BY grp
"""

# chunking oracle: constant 0..63 grid (generate_series needs constant
# bounds; 64 * stride 96 = 6144 chars >> max doc 577) + the same
# [i*96, i*96+128) character windows; md5 over identical UTF-8 slices.
ORACLE_SQL["chunk_documents"] = """
    SELECT doc_id,
           g.i::INTEGER AS chunk_idx,
           (g.i * 96)::BIGINT AS chunk_start,
           length(substr(text, g.i * 96 + 1, 128))::BIGINT AS chunk_len,
           md5(substr(text, g.i * 96 + 1, 128)) AS chunk_md5
    FROM documents, generate_series(0, 63) g(i)
    WHERE text IS NOT NULL AND length(text) > 0
      AND g.i * 96 < length(text)
    ORDER BY doc_id, chunk_idx
"""

# unigram-NLL oracle: same even/odd LM split, same add-one smoothing
# p=(n+1)/(total+|V|+1), ln() in nats on both engines.
ORACLE_SQL["unigram_nll_documents"] = """
    WITH lm AS (
        SELECT term, count(*)::DOUBLE AS n FROM (
            SELECT unnest(string_split_regex(trim(lower(coalesce(text, ''))),
                   '\\s+')) AS term
            FROM documents WHERE doc_id % 2 = 0 AND trim(text) <> ''
        ) GROUP BY term
    ),
    s AS (SELECT sum(n) AS total, count(*) AS vsize FROM lm),
    toks AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(coalesce(text, ''))),
                      '\\s+')) AS term
        FROM documents WHERE doc_id % 2 = 1 AND trim(text) <> ''
    )
    SELECT doc_id,
           count(*)::BIGINT AS n_tokens,
           round(avg(CASE WHEN lm.term IS NULL THEN 1.0 ELSE 0.0 END), 6)
               AS oov_frac,
           round(avg(-ln((coalesce(lm.n, 0) + 1) / (s.total + s.vsize + 1))), 6)
               AS mean_nll
    FROM toks LEFT JOIN lm USING (term) CROSS JOIN s
    GROUP BY doc_id ORDER BY doc_id
"""

# TF-IDF signature oracle: tfidf rounded at 1e-6 BEFORE the
# (tfidf DESC, term) rank on both engines, making the top-5 cut
# deterministic.
ORACLE_SQL["source_signature_documents"] = """
    WITH terms AS (
        SELECT source AS grp,
               unnest(string_split_regex(trim(lower(coalesce(text, ''))),
                      '\\s+')) AS term
        FROM documents WHERE trim(text) <> ''
    ),
    c AS (SELECT grp, term, count(*) AS n FROM terms GROUP BY 1, 2),
    gt AS (SELECT grp, sum(n) AS gtot FROM c GROUP BY 1),
    dfreq AS (SELECT term, count(*) AS gdf FROM c GROUP BY 1),
    ng AS (SELECT count(DISTINCT grp)::DOUBLE AS ngroups FROM c),
    scored AS (
        SELECT c.grp, c.term, c.n,
               round((c.n::DOUBLE / gt.gtot) * ln(ng.ngroups / dfreq.gdf), 6)
                   AS tfidf
        FROM c JOIN gt USING (grp) JOIN dfreq USING (term) CROSS JOIN ng
    ),
    ranked AS (
        SELECT grp, term, n, tfidf,
               row_number() OVER (PARTITION BY grp
                                  ORDER BY tfidf DESC, term) AS rnk
        FROM scored
    )
    SELECT grp AS "group", rnk::INTEGER AS rank, term,
           n::BIGINT AS n_occurrences, tfidf
    FROM ranked WHERE rnk <= 5 ORDER BY "group", rank
"""

# retention oracle: same Monday week-truncation, whole-day differences
# // 7 (week starts are exactly 7k days apart), exact distinct counts.
ORACLE_SQL["events_retention_cohorts"] = """
    WITH f AS (
        SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
        FROM events GROUP BY 1
    ),
    a AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events
    ),
    sz AS (SELECT cohort_week, count(*) AS cohort_size FROM f GROUP BY 1),
    j AS (
        SELECT f.cohort_week,
               (date_diff('day', f.cohort_week, a.w) // 7)::INTEGER
                   AS week_offset,
               a.user_id
        FROM a JOIN f USING (user_id)
    )
    SELECT strftime(j.cohort_week, '%Y-%m-%d %H:%M:%S') AS cohort_week,
           week_offset,
           count(DISTINCT user_id)::BIGINT AS n_active,
           any_value(sz.cohort_size)::BIGINT AS cohort_size,
           round(count(DISTINCT user_id)::DOUBLE
                 / any_value(sz.cohort_size), 6) AS retention
    FROM j JOIN sz USING (cohort_week)
    GROUP BY j.cohort_week, week_offset
    ORDER BY 1, 2
"""

# JL-projection oracle: regenerate the closed-form sign matrix on a
# constant grid and recompute each element; ::DOUBLE lifts the
# float32 embedding values exactly, as numpy's astype(f64) does.
ORACLE_SQL["random_projection_embeddings"] = """
    SELECT vec_id,
           j.j::INTEGER AS dim,
           round(sum(embedding[i.i + 1]::DOUBLE
                     * ((((((i.i * 2654435761 + 7) % 2147483647)
                           * ((j.j * 40503 + 2654435789) % 2147483647))
                          % 2147483647) % 3) - 1))
                 * sqrt(3.0 / 32.0), 6) AS value
    FROM embeddings,
         generate_series(0, 15) j(j),
         generate_series(0, 63) i(i)
    GROUP BY vec_id, j.j
    ORDER BY vec_id, dim
"""

# MAD oracle: quantile_cont is the same interpolating exact quantile
# as Spark's percentile(); the 3.5-scaled-MAD threshold sits far from
# any data point, so a last-ulp interpolation difference cannot flip
# an outlier count.
ORACLE_SQL["mad_outliers_events"] = """
    WITH e AS (
        SELECT event_type, value FROM events WHERE value IS NOT NULL
    ),
    med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS m
        FROM e GROUP BY 1
    ),
    dev AS (
        SELECT e.event_type, abs(e.value - med.m) AS ad, med.m AS m
        FROM e JOIN med USING (event_type)
    ),
    mad AS (
        SELECT event_type, quantile_cont(ad, 0.5) AS md
        FROM dev GROUP BY 1
    )
    SELECT dev.event_type,
           count(*)::BIGINT AS n,
           sum(CASE WHEN dev.ad > 3.5 * 1.4826 * mad.md
                    THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
           round(any_value(dev.m), 6) AS median_value,
           round(any_value(mad.md), 6) AS mad_value
    FROM dev JOIN mad USING (event_type)
    GROUP BY 1 ORDER BY 1
"""

# PSI oracle: identical closed-form binning (floor((v-lo)/50), clamped
# to [0, 9]), +0.5 Laplace smoothing with denominator +0.5*n_bins.
ORACLE_SQL["psi_events"] = """
    WITH cur AS (
        SELECT event_type, value * 1.25 AS v FROM events
        WHERE value IS NOT NULL AND event_id % 2 = 1
    ),
    ref AS (
        SELECT event_type, value AS v FROM events
        WHERE value IS NOT NULL AND event_id % 2 = 0
    ),
    cb AS (
        SELECT event_type,
               least(greatest(floor(v / 50.0), 0), 9)::INT AS bin,
               count(*) AS n_cur
        FROM cur GROUP BY 1, 2
    ),
    rb AS (
        SELECT event_type,
               least(greatest(floor(v / 50.0), 0), 9)::INT AS bin,
               count(*) AS n_ref
        FROM ref GROUP BY 1, 2
    ),
    j AS (
        SELECT coalesce(cb.event_type, rb.event_type) AS event_type,
               coalesce(cb.n_cur, 0) AS n_cur,
               coalesce(rb.n_ref, 0) AS n_ref
        FROM cb FULL OUTER JOIN rb
          ON cb.event_type = rb.event_type AND cb.bin = rb.bin
    ),
    t AS (
        SELECT event_type, sum(n_cur) AS tc, sum(n_ref) AS tr
        FROM j GROUP BY 1
    )
    SELECT j.event_type,
           round(sum(((n_cur + 0.5) / (tc + 5.0) - (n_ref + 0.5) / (tr + 5.0))
                     * ln(((n_cur + 0.5) / (tc + 5.0))
                          / ((n_ref + 0.5) / (tr + 5.0)))), 6) AS psi,
           sum(n_cur)::BIGINT AS n_current,
           sum(n_ref)::BIGINT AS n_reference
    FROM j JOIN t USING (event_type)
    GROUP BY 1 ORDER BY 1
"""

# count-min oracle: rebuild the sketch cells from vocabulary counts
# with the SAME hash chain (md5 prefix -> ('0x'||hex)::BIGINT ==
# conv(,16,10) == python int(,16); mod-prime mixing with every
# intermediate < 2^63) and take the same min over depth rows.
ORACLE_SQL["heavy_hitters_documents"] = """
    WITH terms AS (
        SELECT unnest(string_split_regex(trim(lower(coalesce(text, ''))),
               '\\s+')) AS term
        FROM documents WHERE trim(text) <> ''
    ),
    counts AS (SELECT term, count(*) AS n FROM terms GROUP BY 1),
    top AS (SELECT term, n FROM counts ORDER BY n DESC, term LIMIT 20),
    vb AS (
        SELECT c.term, c.n, j.j,
               ((((2654435761 * (j.j + 1)) % 2147483647)
                 * (('0x' || substr(md5(c.term), 1, 8))::BIGINT)
                 + ((40503 * (j.j + 1) + 7) % 2147483647))
                % 2147483647) % 2048 AS b
        FROM counts c, generate_series(0, 3) j(j)
    ),
    cell AS (SELECT j, b, sum(n) AS tot FROM vb GROUP BY 1, 2)
    SELECT t.term, t.n::BIGINT AS exact_n, min(cell.tot)::BIGINT AS est_n
    FROM top t
    JOIN vb ON vb.term = t.term
    JOIN cell ON cell.j = vb.j AND cell.b = vb.b
    GROUP BY t.term, t.n
    ORDER BY exact_n DESC, t.term
"""

# streaming count-min oracle: the monoid makes stream == batch
# exactly, so the same cell reconstruction applies; n_batches pins
# the 3-file/3-micro-batch source layout.
ORACLE_SQL["stream_heavy_hitters_documents"] = """
    WITH terms AS (
        SELECT unnest(string_split_regex(trim(lower(coalesce(text, ''))),
               '\\s+')) AS term
        FROM documents WHERE trim(text) <> ''
    ),
    counts AS (SELECT term, count(*) AS n FROM terms GROUP BY 1),
    top AS (SELECT term, n FROM counts ORDER BY n DESC, term LIMIT 10),
    vb AS (
        SELECT c.term, c.n, j.j,
               ((((2654435761 * (j.j + 1)) % 2147483647)
                 * (('0x' || substr(md5(c.term), 1, 8))::BIGINT)
                 + ((40503 * (j.j + 1) + 7) % 2147483647))
                % 2147483647) % 2048 AS b
        FROM counts c, generate_series(0, 3) j(j)
    ),
    cell AS (SELECT j, b, sum(n) AS tot FROM vb GROUP BY 1, 2)
    SELECT t.term, t.n::BIGINT AS exact_n, min(cell.tot)::BIGINT AS est_n,
           3::BIGINT AS n_batches
    FROM top t
    JOIN vb ON vb.term = t.term
    JOIN cell ON cell.j = vb.j AND cell.b = vb.b
    GROUP BY t.term, t.n
    ORDER BY exact_n DESC, t.term
"""


# bloom decontamination oracle: the bloom hash chain is
# engine-replayable (md5 prefix + mod-prime mixing, k=4 positions mod
# 2^20 bits), so DuckDB recomputes every gram's bit positions and a
# gram is "in the filter" iff all 4 of its positions appear in the
# benchmark position set — pinning bloom_hits exactly, false
# positives included. exact_hits recomputes string-level overlap.
ORACLE_SQL["bloom_decontaminate_documents"] = """
    WITH tok AS (
        SELECT doc_id,
               string_split_regex(trim(lower(coalesce(text, ''))), '\\s+') AS t
        FROM documents
    ),
    bg AS (
        SELECT DISTINCT array_to_string(t[g.i : g.i + 12], ' ') AS g
        FROM tok, generate_series(1, 512) g(i)
        WHERE doc_id % 50 = 5 AND g.i + 12 <= len(t)
    ),
    -- the engine's filter is ONE shared bit array: a probe position
    -- is satisfied by a bit set under ANY hash row of ANY benchmark
    -- gram, so the position set here deliberately drops j (a
    -- j-partitioned join would model a partitioned Bloom variant and
    -- undercount false positives)
    bpos AS (
        SELECT DISTINCT
               ((((2654435761 * (j.j + 1)) % 2147483647)
                 * (('0x' || substr(md5(g), 1, 8))::BIGINT)
                 + ((40503 * (j.j + 1) + 7) % 2147483647))
                % 2147483647) % 1048576 AS p
        FROM bg, generate_series(0, 3) j(j)
    ),
    cg AS (
        SELECT DISTINCT doc_id, array_to_string(t[g.i : g.i + 12], ' ') AS g
        FROM tok, generate_series(1, 512) g(i)
        WHERE doc_id % 50 <> 5 AND g.i + 12 <= len(t)
    ),
    cpos AS (
        SELECT doc_id, g, j.j,
               ((((2654435761 * (j.j + 1)) % 2147483647)
                 * (('0x' || substr(md5(g), 1, 8))::BIGINT)
                 + ((40503 * (j.j + 1) + 7) % 2147483647))
                % 2147483647) % 1048576 AS p
        FROM cg, generate_series(0, 3) j(j)
    ),
    inb AS (
        SELECT doc_id, g
        FROM cpos LEFT JOIN bpos ON bpos.p = cpos.p
        GROUP BY doc_id, g
        HAVING count(bpos.p) = 4
    ),
    ex AS (SELECT DISTINCT cg.doc_id, cg.g FROM cg JOIN bg USING (g))
    SELECT c.doc_id,
           count(*)::BIGINT AS n_grams,
           sum(CASE WHEN i.g IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               AS bloom_hits,
           sum(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               AS exact_hits,
           bool_or(e.g IS NOT NULL) AS contaminated
    FROM cg c
    LEFT JOIN inb i ON i.doc_id = c.doc_id AND i.g = c.g
    LEFT JOIN ex e ON e.doc_id = c.doc_id AND e.g = c.g
    GROUP BY c.doc_id
    ORDER BY c.doc_id
"""


# BM25 oracle: fixed-arity expression tree — same ln, same operand
# order on both engines, so scores agree to the driver's 6 significant
# digits with no variable-order float summation anywhere.
ORACLE_SQL["bm25_documents"] = """
    WITH d AS (
        SELECT doc_id,
               string_split_regex(trim(lower(text)), '\\s+') AS t
        FROM documents WHERE trim(text) <> ''
    ),
    base AS (
        SELECT doc_id, len(t) AS dl,
               len(list_filter(t, x -> x = 'hash'))   AS tf0,
               len(list_filter(t, x -> x = 'join'))   AS tf1,
               len(list_filter(t, x -> x = 'vector')) AS tf2
        FROM d
    ),
    s AS (
        SELECT count(*)::BIGINT AS n, avg(dl) AS avgdl,
               sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::BIGINT AS df0,
               sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::BIGINT AS df1,
               sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::BIGINT AS df2
        FROM base
    )
    SELECT doc_id,
           ((CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)
            + (CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)
            + (CASE WHEN tf2 > 0 THEN 1 ELSE 0 END))::BIGINT AS matched_terms,
           (  ln(1.0 + (n::DOUBLE - df0::DOUBLE + 0.5) / (df0::DOUBLE + 0.5))
                * tf0::DOUBLE * 2.2
                / (tf0::DOUBLE + 1.2 * (0.25 + 0.75 * dl::DOUBLE / avgdl))
            + ln(1.0 + (n::DOUBLE - df1::DOUBLE + 0.5) / (df1::DOUBLE + 0.5))
                * tf1::DOUBLE * 2.2
                / (tf1::DOUBLE + 1.2 * (0.25 + 0.75 * dl::DOUBLE / avgdl))
            + ln(1.0 + (n::DOUBLE - df2::DOUBLE + 0.5) / (df2::DOUBLE + 0.5))
                * tf2::DOUBLE * 2.2
                / (tf2::DOUBLE + 1.2 * (0.25 + 0.75 * dl::DOUBLE / avgdl))
           ) AS score
    FROM base, s
    WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
    ORDER BY doc_id
"""


# contamination-spans oracle: anchors from gram STRINGS (no xxhash64
# in DuckDB), then the identical gaps-and-islands merge in window SQL
# — pos is the 0-based word index (engine posexplode), i.e. g.i - 1.
ORACLE_SQL["contamination_spans_documents"] = """
    WITH tok AS (
        SELECT doc_id,
               string_split_regex(trim(lower(coalesce(text, ''))), '\\s+') AS t
        FROM documents
    ),
    bg AS (
        SELECT DISTINCT array_to_string(t[g.i : g.i + 12], ' ') AS g
        FROM tok, generate_series(1, 512) g(i)
        WHERE doc_id % 50 = 5 AND g.i + 12 <= len(t)
    ),
    ctok AS (
        SELECT doc_id, t FROM tok WHERE doc_id % 50 <> 5
        UNION ALL
        SELECT doc_id + 10000000,
               string_split_regex(
                   array_to_string(t[1:15], ' ')
                   || ' zqfill1 zqfill2 zqfill3 zqfill4 zqfill5 '
                   || array_to_string(t[16:30], ' '), '\\s+')
        FROM tok WHERE doc_id % 50 = 5 AND len(t) >= 30
    ),
    anchors AS (
        SELECT doc_id, g.i - 1 AS pos, g.i + 12 AS e
        FROM ctok, generate_series(1, 512) g(i)
        WHERE g.i + 12 <= len(t)
          AND array_to_string(t[g.i : g.i + 12], ' ') IN (SELECT g FROM bg)
    ),
    ni AS (
        SELECT doc_id, pos, e,
               CASE WHEN max(e) OVER w IS NULL OR pos > max(e) OVER w
                    THEN 1 ELSE 0 END AS new_island
        FROM anchors
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    grp AS (
        SELECT doc_id, pos, e,
               sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        FROM ni
    )
    SELECT doc_id, min(pos)::BIGINT AS span_start, max(e)::BIGINT AS span_end,
           (max(e) - min(pos))::BIGINT AS n_words
    FROM grp GROUP BY doc_id, isl
    ORDER BY doc_id, span_start
"""


# embedding-stats oracle: constant 64-dim unnest grid (DuckDB
# generate_series needs constant bounds), double-cast before any
# arithmetic to match the engine, same moment formulas.
ORACLE_SQL["embedding_stats_embeddings"] = """
    WITH v AS (
        SELECT g.i - 1 AS dim, embedding[g.i]::DOUBLE AS val
        FROM embeddings, generate_series(1, 64) g(i)
        WHERE g.i <= len(embedding)
    ),
    per_dim AS (
        SELECT dim,
               sum(val) / count(*) AS mean_v,
               sqrt(greatest(
                   sum(val * val) / count(*)
                   - (sum(val) / count(*)) * (sum(val) / count(*)), 0.0))
                   AS std_v
        FROM v GROUP BY dim
    ),
    mean_norm AS (
        SELECT sqrt(sum(mean_v * mean_v)) AS mn FROM per_dim
    ),
    avg_norm AS (
        SELECT avg(sqrt(list_sum(
                   list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))))
               AS an
        FROM embeddings
    )
    SELECT dim::INT AS dim, mean_v, std_v, (mn / an) AS anisotropy
    FROM per_dim, mean_norm, avg_norm
    ORDER BY dim
"""


# PMI oracle: bigram/unigram counts from the constant position grid,
# then ln((c_xy/N_b) / ((c_x/N_u)*(c_y/N_u))) with the engine's
# operand order. N_b sums over ALL bigrams (pre-min_count filter).
ORACLE_SQL["pmi_bigrams_documents"] = """
    WITH base AS (
        SELECT string_split_regex(trim(lower(text)), '\\s+') AS t
        FROM documents WHERE trim(text) <> ''
    ),
    ucnt AS (
        SELECT w, count(*) AS n
        FROM (SELECT unnest(t) AS w FROM base) GROUP BY w
    ),
    nu AS (SELECT sum(n)::BIGINT AS nu FROM ucnt),
    bcnt AS (
        SELECT x, y, count(*) AS n_xy
        FROM (
            SELECT t[g.i] AS x, t[g.i + 1] AS y
            FROM base, generate_series(1, 512) g(i)
            WHERE g.i + 1 <= len(t)
        ) GROUP BY x, y
    ),
    nb AS (SELECT sum(n_xy)::BIGINT AS nb FROM bcnt)
    SELECT b.x, b.y, b.n_xy::BIGINT AS n_xy,
           ln((b.n_xy::DOUBLE / nb::DOUBLE)
              / ((cx.n::DOUBLE / nu::DOUBLE) * (cy.n::DOUBLE / nu::DOUBLE)))
               AS pmi
    FROM bcnt b
    JOIN ucnt cx ON cx.w = b.x
    JOIN ucnt cy ON cy.w = b.y, nu, nb
    WHERE b.n_xy >= 5
    ORDER BY b.x, b.y
"""

# temperature-mixture oracle: same token-count convention as
# mixture_report; pow/divisions in the engine's operand order.
ORACLE_SQL["temperature_mixture_documents"] = """
    WITH per AS (
        SELECT source, count(*) AS n_docs,
               sum(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+'))
                   END)::BIGINT AS n_tokens
        FROM documents GROUP BY source
    ),
    p2 AS (SELECT *, pow(n_tokens::DOUBLE, 0.7) AS w FROM per),
    tot AS (SELECT sum(n_tokens)::BIGINT AS tt, sum(w) AS tw FROM p2)
    SELECT source, n_docs, n_tokens,
           n_tokens::DOUBLE / tt::DOUBLE AS raw_share,
           w / tw AS temp_share,
           (w / tw) / (n_tokens::DOUBLE / tt::DOUBLE) AS sample_factor,
           (w / tw) * 1000000.0 AS target_tokens,
           ((w / tw) * 1000000.0) / n_tokens::DOUBLE AS epochs
    FROM p2, tot ORDER BY source
"""


# cut-spans oracle: duplicated_spans detection replayed verbatim
# (same planted corpus, grams, island merge), then the CUT — the
# original-case token grid anti-ranged against the spans and
# re-joined with string_agg in position order.
ORACLE_SQL["cut_spans_documents"] = """
    WITH planted AS (
        SELECT doc_id,
               CASE WHEN doc_id % 25 = 0 THEN
                   'dupseg00 dupseg01 dupseg02 dupseg03 dupseg04 dupseg05 dupseg06 dupseg07 dupseg08 dupseg09 dupseg10 dupseg11 dupseg12 dupseg13 dupseg14 dupseg15 dupseg16 dupseg17 dupseg18 dupseg19 '
                   || coalesce(text, '')
               ELSE text END AS text
        FROM documents
    ),
    tok AS (
        SELECT doc_id,
               string_split_regex(trim(lower(coalesce(text, ''))), '\\s+') AS t
        FROM planted
    ),
    g AS (
        SELECT doc_id, g.i - 1 AS pos,
               array_to_string(t[g.i : g.i + 12], ' ') AS gram
        FROM tok, generate_series(1, 544) g(i)
        WHERE len(t) >= 13 AND g.i + 12 <= len(t)
    ),
    dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
    m AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
    s AS (
        SELECT doc_id, pos,
               max(pos + 13) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS pme
        FROM m
    ),
    i AS (
        SELECT doc_id, pos,
               sum(CASE WHEN pme IS NULL OR pos > pme THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        FROM s
    ),
    spans AS (
        SELECT doc_id, min(pos) AS span_start, max(pos) + 13 AS span_end
        FROM i GROUP BY doc_id, isl
    ),
    grid AS (
        SELECT p.doc_id, g.i - 1 AS pos, t2[g.i] AS tok
        FROM (
            SELECT doc_id,
                   string_split_regex(trim(text), '\\s+') AS t2
            FROM planted WHERE trim(coalesce(text, '')) <> ''
        ) p, generate_series(1, 544) g(i)
        WHERE g.i <= len(t2)
    ),
    kept AS (
        SELECT doc_id, pos, tok FROM grid tg
        WHERE NOT EXISTS (
            SELECT 1 FROM spans s
            WHERE s.doc_id = tg.doc_id
              AND tg.pos >= s.span_start AND tg.pos < s.span_end
        )
    ),
    agg AS (
        SELECT g.doc_id,
               count(*) AS nw,
               coalesce(
                   (SELECT string_agg(k.tok, ' ' ORDER BY k.pos)
                    FROM kept k WHERE k.doc_id = g.doc_id), '') AS clean,
               (SELECT count(*) FROM kept k WHERE k.doc_id = g.doc_id) AS nk
        FROM grid g GROUP BY g.doc_id
    )
    SELECT p.doc_id,
           coalesce(a.nw, 0)::BIGINT AS n_words,
           (coalesce(a.nw, 0) - coalesce(a.nk, 0))::BIGINT AS n_removed,
           coalesce(a.clean, '') AS text_clean
    FROM planted p LEFT JOIN agg a ON a.doc_id = p.doc_id
    ORDER BY p.doc_id
"""


# encoding-stats oracle: same planted damage, same character classes
# (RE2 \x{..} spelling of the Java \uXXXX ranges), 'g' flag for
# replace-all parity with Spark's regexp_replace default.
ORACLE_SQL["encoding_stats_documents"] = """
    WITH planted AS (
        SELECT doc_id,
               CASE WHEN doc_id % 10 = 0 THEN
                   coalesce(text, '') || ' xÃ©y ' || chr(7) || ' ' || chr(65533)
               ELSE coalesce(text, '') END AS t
        FROM documents
    ),
    c AS (
        SELECT doc_id,
               length(t) - length(regexp_replace(t, chr(65533), '', 'g'))
                   AS n_rep,
               length(t) - length(regexp_replace(t,
                   '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F]', '', 'g'))
                   AS n_ctl,
               (length(t) - length(regexp_replace(t,
                   'Ã[\\x{0080}-\\x{00BF}]', '', 'g'))) / 2 AS n_moji
        FROM planted
    )
    SELECT doc_id, n_rep::BIGINT AS n_replacement_chars,
           n_ctl::BIGINT AS n_control_chars,
           n_moji::BIGINT AS n_mojibake_pairs,
           (n_rep = 0 AND n_ctl = 0 AND n_moji = 0) AS encoding_clean
    FROM c ORDER BY doc_id
"""


# KMV oracle: the k smallest distinct md5-prefix hashes per source
# are a deterministic set, so DuckDB rebuilds each sketch with a
# row_number window and replays both estimators exactly — the
# distinct estimate (k-1)*2^32/h_k at saturation (exact below) and
# the union-rank Jaccard |X ∩ A ∩ B| / |X| with X = rank <= k.
ORACLE_SQL["kmv_overlap_documents"] = """
    WITH tok AS (
        SELECT source,
               string_split_regex(trim(lower(coalesce(text, ''))), '\\s+') AS t
        FROM documents WHERE trim(coalesce(text, '')) <> ''
    ),
    g AS (
        SELECT DISTINCT source, array_to_string(t[gs.i : gs.i + 4], ' ') AS gr
        FROM tok, generate_series(1, 512) gs(i)
        WHERE gs.i + 4 <= len(t)
    ),
    h AS (
        SELECT DISTINCT source,
               ('0x' || substr(md5(gr), 1, 8))::BIGINT AS h0
        FROM g
    ),
    sk AS (
        SELECT source, h0
        FROM (SELECT source, h0,
                     row_number() OVER (PARTITION BY source ORDER BY h0) AS rn
              FROM h)
        WHERE rn <= 256
    ),
    cnt AS (SELECT source, count(*) AS n, max(h0) AS hk FROM sk GROUP BY source),
    est AS (
        SELECT source,
               CASE WHEN n < 256 THEN n::DOUBLE
                    ELSE 255.0 * 4294967296.0 / hk::DOUBLE END AS d
        FROM cnt
    ),
    pairs AS (
        SELECT a.source AS sa, b.source AS sb
        FROM cnt a JOIN cnt b ON a.source < b.source
    ),
    uh AS (
        SELECT p.sa, p.sb, s.h0,
               max(CASE WHEN s.source = p.sa THEN 1 ELSE 0 END) AS ina,
               max(CASE WHEN s.source = p.sb THEN 1 ELSE 0 END) AS inb
        FROM pairs p JOIN sk s ON s.source IN (p.sa, p.sb)
        GROUP BY p.sa, p.sb, s.h0
    ),
    ur AS (
        SELECT *, row_number() OVER (PARTITION BY sa, sb ORDER BY h0) AS rn
        FROM uh
    ),
    j AS (
        SELECT sa, sb,
               sum(CASE WHEN rn <= 256 AND ina = 1 AND inb = 1
                        THEN 1 ELSE 0 END)::DOUBLE
               / count(CASE WHEN rn <= 256 THEN 1 END)::DOUBLE AS jac
        FROM ur GROUP BY sa, sb
    )
    SELECT j.sa AS group_a, j.sb AS group_b, j.jac AS est_jaccard,
           ea.d AS est_distinct_a, eb.d AS est_distinct_b
    FROM j
    JOIN est ea ON ea.source = j.sa
    JOIN est eb ON eb.source = j.sb
    ORDER BY group_a, group_b
"""


# boilerplate-lines oracle: same planted header/footer, same
# trimmed-non-empty line grid, doc-distinct counts against the
# ceil(frac*N) threshold, and the rebuild via ORDER BY pos string_agg.
ORACLE_SQL["boilerplate_lines_documents"] = """
    WITH planted AS (
        SELECT doc_id,
               'nav menu home' || chr(10) || coalesce(text, '')
               || CASE WHEN doc_id % 2 = 0
                       THEN chr(10) || 'subscribe to our newsletter'
                       ELSE '' END AS text
        FROM documents
    ),
    l AS (
        SELECT doc_id, gs.i AS pos, trim(parts[gs.i]) AS line
        FROM (SELECT doc_id, string_split(text, chr(10)) AS parts
              FROM planted),
             generate_series(1, 600) gs(i)
        WHERE gs.i <= len(parts) AND trim(parts[gs.i]) <> ''
    ),
    nd AS (SELECT count(DISTINCT doc_id) AS ndocs FROM l),
    hot AS (
        SELECT line
        FROM (SELECT line, count(DISTINCT doc_id) AS dc FROM l GROUP BY line),
             nd
        WHERE dc >= greatest(2, ceil(0.05 * ndocs))
    ),
    kept AS (SELECT * FROM l WHERE line NOT IN (SELECT line FROM hot)),
    agg AS (
        SELECT doc_id, count(*) AS nk,
               string_agg(line, chr(10) ORDER BY pos) AS clean
        FROM kept GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, count(*) AS nl FROM l GROUP BY doc_id)
    SELECT p.doc_id,
           coalesce(t.nl, 0)::BIGINT AS n_lines,
           (coalesce(t.nl, 0) - coalesce(a.nk, 0))::BIGINT
               AS n_boilerplate_removed,
           coalesce(a.clean, '') AS text_clean
    FROM planted p
    LEFT JOIN tot t USING (doc_id)
    LEFT JOIN agg a USING (doc_id)
    ORDER BY p.doc_id
"""


# skew-report oracle: identical key remap, count-desc/key-asc rank,
# and the ceil(max_share * 32) salt recommendation.
ORACLE_SQL["skew_report_events"] = """
    WITH keyed AS (
        SELECT CASE WHEN event_id % 10 < 3 THEN 0
                    ELSE user_id + 1000 END AS key
        FROM events
    ),
    c AS (SELECT key, count(*) AS n FROM keyed GROUP BY key),
    tot AS (
        SELECT sum(n)::BIGINT AS total, count(*)::BIGINT AS n_keys,
               max(n)::BIGINT AS max_n
        FROM c
    ),
    top AS (
        SELECT key, n, row_number() OVER (ORDER BY n DESC, key) AS rank
        FROM c
    )
    SELECT rank::INT AS rank, key, n::BIGINT AS n_rows,
           n::DOUBLE / total::DOUBLE AS key_share,
           n_keys, total AS total_rows,
           max_n::DOUBLE / total::DOUBLE AS max_share,
           greatest(1, ceil(max_n::DOUBLE / total::DOUBLE * 32))::INT
               AS suggested_salt_buckets
    FROM top, tot
    WHERE rank <= 10
    ORDER BY rank
"""


# zipf-fit oracle: same rank order, same closed-form regression sums
# (the fixed top-30 table makes float summation order noise sit far
# below the 6-significant-digit compare).
ORACLE_SQL["zipf_fit_documents"] = """
    WITH terms AS (
        SELECT unnest(string_split_regex(trim(lower(coalesce(text, ''))),
               '\\s+')) AS term
        FROM documents WHERE trim(text) <> ''
    ),
    c AS (SELECT term, count(*) AS n FROM terms GROUP BY term),
    v AS (SELECT count(*)::BIGINT AS vocab_size FROM c),
    top AS (
        SELECT n, row_number() OVER (ORDER BY n DESC, term) AS rank
        FROM c ORDER BY n DESC, term LIMIT 30
    ),
    xy AS (SELECT ln(rank::DOUBLE) AS x, ln(n::DOUBLE) AS y FROM top),
    s AS (
        SELECT count(*)::DOUBLE AS m, sum(x) AS sx, sum(y) AS sy,
               sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
        FROM xy
    )
    SELECT m::BIGINT AS n_terms_fit, vocab_size,
           -((m * sxy - sx * sy) / (m * sxx - sx * sx)) AS alpha,
           (sy - ((m * sxy - sx * sy) / (m * sxx - sx * sx)) * sx) / m
               AS intercept,
           ((m * sxy - sx * sy) * (m * sxy - sx * sy))
           / ((m * sxx - sx * sx) * (m * syy - sy * sy)) AS r2
    FROM s, v
"""


# streaming-gate oracle: the same shared-bit-array position model as
# bloom_decontaminate (probe bit satisfied by ANY benchmark row);
# totals are batching-independent, n_batches pins the 3-file layout.
ORACLE_SQL["stream_contamination_gate_documents"] = """
    WITH tok AS (
        SELECT doc_id,
               string_split_regex(trim(lower(coalesce(text, ''))), '\\s+') AS t
        FROM documents
    ),
    bg AS (
        SELECT DISTINCT array_to_string(t[g.i : g.i + 12], ' ') AS g
        FROM tok, generate_series(1, 512) g(i)
        WHERE doc_id % 50 = 5 AND g.i + 12 <= len(t)
    ),
    bpos AS (
        SELECT DISTINCT
               ((((2654435761 * (j.j + 1)) % 2147483647)
                 * (('0x' || substr(md5(g), 1, 8))::BIGINT)
                 + ((40503 * (j.j + 1) + 7) % 2147483647))
                % 2147483647) % 1048576 AS p
        FROM bg, generate_series(0, 3) j(j)
    ),
    cg AS (
        SELECT DISTINCT doc_id, array_to_string(t[g.i : g.i + 12], ' ') AS g
        FROM tok, generate_series(1, 512) g(i)
        WHERE doc_id % 50 <> 5 AND g.i + 12 <= len(t)
    ),
    cpos AS (
        SELECT doc_id, g, j.j,
               ((((2654435761 * (j.j + 1)) % 2147483647)
                 * (('0x' || substr(md5(g), 1, 8))::BIGINT)
                 + ((40503 * (j.j + 1) + 7) % 2147483647))
                % 2147483647) % 1048576 AS p
        FROM cg, generate_series(0, 3) j(j)
    ),
    inb AS (
        SELECT doc_id, g
        FROM cpos LEFT JOIN bpos ON bpos.p = cpos.p
        GROUP BY doc_id, g
        HAVING count(bpos.p) = 4
    ),
    flag AS (SELECT DISTINCT doc_id FROM inb)
    SELECT 3::BIGINT AS n_batches,
           (SELECT count(*) FROM documents WHERE doc_id % 50 <> 5)::BIGINT
               AS n_docs,
           (SELECT count(*) FROM flag)::BIGINT AS n_flagged
"""


# apply-mixture oracle: the full chain — temperature factors (same
# closed forms as temperature_mixture_documents), sha256 hash buckets
# (same convention as token_budget), floor thresholds — replayed so
# per-source copy counts match doc-for-doc.
ORACLE_SQL["apply_mixture_documents"] = """
    WITH per AS (
        SELECT source,
               sum(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+'))
                   END)::BIGINT AS n_tokens
        FROM documents GROUP BY source
    ),
    p2 AS (SELECT *, pow(n_tokens::DOUBLE, 0.7) AS w FROM per),
    tot AS (SELECT sum(n_tokens)::BIGINT AS tt, sum(w) AS tw FROM p2),
    fac AS (
        SELECT source,
               (w / tw) / (n_tokens::DOUBLE / tt::DOUBLE) AS f
        FROM p2, tot
    ),
    d AS (
        SELECT doc.doc_id, doc.source, fac.f,
               ('0x' || substr(sha256(doc.doc_id::VARCHAR), 1, 4))::BIGINT
                   % 1000 AS b
        FROM documents doc JOIN fac USING (source)
    ),
    c AS (
        SELECT source, doc_id,
               floor(f)::BIGINT
               + CASE WHEN b < floor((f - floor(f)) * 1000)
                      THEN 1 ELSE 0 END AS nc
        FROM d
    )
    SELECT source, sum(nc)::BIGINT AS n_copies,
           count(CASE WHEN nc >= 1 THEN 1 END)::BIGINT AS n_docs_kept
    FROM c GROUP BY source
    HAVING sum(nc) >= 1
    ORDER BY source
"""


# winsorize oracle: same exact percentiles as mad_outliers, same
# clip expression greatest(least(v, hi), lo).
ORACLE_SQL["winsorize_events"] = """
    WITH e AS (
        SELECT event_type, value FROM events WHERE value IS NOT NULL
    ),
    med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS m
        FROM e GROUP BY 1
    ),
    dev AS (
        SELECT e.event_type, e.value, abs(e.value - med.m) AS ad, med.m AS m
        FROM e JOIN med USING (event_type)
    ),
    mad AS (
        SELECT event_type, quantile_cont(ad, 0.5) AS md
        FROM dev GROUP BY 1
    ),
    b AS (
        SELECT dev.event_type, dev.value, dev.ad, mad.md,
               dev.m - 3.5 * 1.4826 * mad.md AS lo,
               dev.m + 3.5 * 1.4826 * mad.md AS hi
        FROM dev JOIN mad USING (event_type)
    )
    SELECT event_type, count(*)::BIGINT AS n,
           sum(CASE WHEN ad > 3.5 * 1.4826 * md THEN 1 ELSE 0 END)::BIGINT
               AS n_clipped,
           round(sum(greatest(least(value, hi), lo)), 6) AS sum_winsorized,
           round(min(lo), 6) AS lo_bound,
           round(min(hi), 6) AS hi_bound
    FROM b GROUP BY 1 ORDER BY 1
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: uniqueness violations on lineitem's natural key at sf0.001."""
    return q_uniqueness_lineitem(spark, "/root/testdata/sf0.001")


ORACLE_SQL["ks_drift_documents"] = """
    WITH cur AS (
        SELECT source, n_chars + 10 AS v FROM documents
        WHERE n_chars IS NOT NULL AND doc_id % 2 = 1
    ),
    ref AS (
        SELECT source, n_chars AS v FROM documents
        WHERE n_chars IS NOT NULL AND doc_id % 2 = 0
    ),
    u AS (
        SELECT source, v, sum(c) AS n_cur, sum(r) AS n_ref FROM (
            SELECT source, v, 1 AS c, 0 AS r FROM cur
            UNION ALL
            SELECT source, v, 0 AS c, 1 AS r FROM ref
        ) GROUP BY 1, 2
    ),
    w AS (
        SELECT source,
               sum(n_cur) OVER (PARTITION BY source ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cur,
               sum(n_ref) OVER (PARTITION BY source ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ref,
               sum(n_cur) OVER (PARTITION BY source) AS tot_cur,
               sum(n_ref) OVER (PARTITION BY source) AS tot_ref
        FROM u
    )
    SELECT source,
           round(max(abs(CASE WHEN tot_cur > 0 THEN cum_cur / tot_cur END
                         - CASE WHEN tot_ref > 0 THEN cum_ref / tot_ref END)),
                 6) AS ks_d,
           max(tot_cur)::BIGINT AS n_current,
           max(tot_ref)::BIGINT AS n_reference
    FROM w GROUP BY 1 ORDER BY 1
"""

# Benford masses: the SAME Python-computed double literals the Spark
# plan embeds (stats.BENFORD_P) — repr() round-trips doubles exactly,
# so both engines parse to the identical IEEE-754 values.
from sparkval.stats import BENFORD_P as _BENFORD_P  # noqa: E402

ORACLE_SQL["benford_orders"] = f"""
    WITH c AS (
        SELECT o_orderpriority,
               substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                      1, 1)::INT AS digit,
               count(*) AS n_obs
        FROM orders WHERE o_totalprice >= 1 GROUP BY 1, 2
    ),
    w AS (
        SELECT o_orderpriority, digit, n_obs,
               sum(n_obs) OVER (PARTITION BY o_orderpriority) AS n,
               CASE digit {' '.join(f"WHEN {d + 1} THEN CAST({p!r} AS DOUBLE)" for d, p in enumerate(_BENFORD_P))} END AS p_exp
        FROM c
    )
    SELECT o_orderpriority, digit, n_obs::BIGINT AS n_obs,
           round(n_obs / n, 6) AS p_obs,
           round(p_exp, 6) AS p_benford,
           round(sum((n_obs - n * p_exp) * (n_obs - n * p_exp)
                     / (n * p_exp))
                     OVER (PARTITION BY o_orderpriority)
                 + n
                 - sum(n * p_exp) OVER (PARTITION BY o_orderpriority),
                 6) AS chi2
    FROM w ORDER BY 1, 2
"""

ORACLE_SQL["chi2_lang_source_documents"] = """
    WITH cells AS (
        SELECT lang, source, count(*) AS o FROM documents
        WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2
    ),
    w AS (
        SELECT o,
               sum(o) OVER (PARTITION BY lang) AS rt,
               sum(o) OVER (PARTITION BY source) AS ct,
               sum(o) OVER () AS n,
               dense_rank() OVER (ORDER BY lang) AS ri,
               dense_rank() OVER (ORDER BY source) AS ci
        FROM cells
    )
    SELECT round(sum((o - rt::DOUBLE * ct / n) * (o - rt::DOUBLE * ct / n)
                     / (rt::DOUBLE * ct / n))
                 + max(n) - sum(rt::DOUBLE * ct / n), 6)
               AS chi2,
           ((max(ri) - 1) * (max(ci) - 1))::BIGINT AS dof,
           round(CASE WHEN least(max(ri), max(ci)) > 1 THEN
                 sqrt((sum((o - rt::DOUBLE * ct / n)
                           * (o - rt::DOUBLE * ct / n)
                           / (rt::DOUBLE * ct / n))
                       + max(n) - sum(rt::DOUBLE * ct / n))
                      / (max(n) * (least(max(ri), max(ci)) - 1))) END, 6)
               AS cramers_v,
           max(n)::BIGINT AS n_rows,
           max(ri)::BIGINT AS n_row_levels,
           max(ci)::BIGINT AS n_col_levels
    FROM w
"""


ORACLE_SQL["rule_suite_documents"] = """
    WITH a AS (
        SELECT count(*) AS n_rows,
               sum(CASE WHEN NOT coalesce(text IS NOT NULL, FALSE)
                   THEN 1 ELSE 0 END) AS v_text_not_null,
               sum(CASE WHEN NOT coalesce(n_chars = length(text), FALSE)
                   THEN 1 ELSE 0 END) AS v_n_chars_consistent,
               sum(CASE WHEN NOT coalesce(
                       lang IN ('de', 'en', 'es', 'fr', 'zh'), FALSE)
                   THEN 1 ELSE 0 END) AS v_lang_known,
               sum(CASE WHEN NOT coalesce(doc_id >= 0, FALSE)
                   THEN 1 ELSE 0 END) AS v_doc_id_nonneg,
               sum(CASE WHEN NOT coalesce(
                       regexp_matches(source, '^src[0-9]+$'), FALSE)
                   THEN 1 ELSE 0 END) AS v_source_wellformed,
               sum(CASE WHEN NOT coalesce(n_chars <= 256, FALSE)
                   THEN 1 ELSE 0 END) AS v_n_chars_le_256
        FROM documents
    )
    SELECT rule, n_rows::BIGINT AS n_rows, n_violations::BIGINT AS n_violations,
           n_violations = 0 AS pass
    FROM (
        SELECT 'text_not_null' AS rule, n_rows, v_text_not_null AS n_violations FROM a
        UNION ALL
        SELECT 'n_chars_consistent', n_rows, v_n_chars_consistent FROM a
        UNION ALL
        SELECT 'lang_known', n_rows, v_lang_known FROM a
        UNION ALL
        SELECT 'doc_id_nonneg', n_rows, v_doc_id_nonneg FROM a
        UNION ALL
        SELECT 'source_wellformed', n_rows, v_source_wellformed FROM a
        UNION ALL
        SELECT 'n_chars_le_256', n_rows, v_n_chars_le_256 FROM a
    ) ORDER BY rule
"""

ORACLE_SQL["fd_check_documents"] = """
    WITH pair AS (
        SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2
    ),
    k AS (
        SELECT source, sum(c) AS n_rows, count(*) AS n_distinct_dep,
               max(c) AS majority
        FROM pair GROUP BY 1
    )
    SELECT source, n_rows::BIGINT AS n_rows,
           n_distinct_dep::BIGINT AS n_distinct_dep,
           (n_rows - majority)::BIGINT AS n_violations
    FROM k WHERE n_rows - majority >= 1 ORDER BY 1
"""


ORACLE_SQL["normalize_text_documents"] = r"""
    WITH n AS (
        SELECT doc_id, text,
               trim(regexp_replace(
                   regexp_replace(nfc_normalize(text),
                                  '[\x00-\x1f\x7f]', ' ', 'g'),
                   ' {2,}', ' ', 'g')) AS text_norm
        FROM documents
    )
    SELECT doc_id, text_norm,
           length(text_norm)::BIGINT AS n_chars_norm,
           text_norm <> text AS was_changed
    FROM n ORDER BY doc_id
"""

ORACLE_SQL["seasonal_anomaly_events"] = """
    WITH h AS (
        SELECT event_type, date_trunc('hour', ts) AS hour_ts,
               count(*) AS n_events
        FROM events GROUP BY 1, 2
    ),
    w AS (
        SELECT event_type, hour_ts, n_events,
               avg(n_events) OVER (PARTITION BY event_type,
                                   extract(hour FROM hour_ts)) AS mu,
               stddev_samp(n_events) OVER (PARTITION BY event_type,
                                           extract(hour FROM hour_ts)) AS sd
        FROM h
    )
    SELECT event_type,
           strftime(hour_ts, '%Y-%m-%d %H:%M:%S') AS hour_ts,
           n_events::BIGINT AS n_events,
           round(mu, 6) AS expected,
           round(CASE WHEN sd > 0 THEN (n_events - mu) / sd END, 6) AS z,
           coalesce(abs(CASE WHEN sd > 0 THEN (n_events - mu) / sd END)
                    > 2.5, FALSE) AS is_anomaly
    FROM w ORDER BY 1, 2
"""


ORACLE_SQL["bit_lsh_near_dups_embeddings"] = """
    WITH u AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        UNION ALL
        SELECT vec_id + 100000,
               (embedding[1:2] || [-embedding[3]] || embedding[4:64])::DOUBLE[]
        FROM embeddings
    ),
    b AS (
        SELECT vec_id, band,
               (CASE WHEN v[band * 4 + 1] > 0 THEN 1 ELSE 0 END
                + CASE WHEN v[band * 4 + 2] > 0 THEN 2 ELSE 0 END
                + CASE WHEN v[band * 4 + 3] > 0 THEN 4 ELSE 0 END
                + CASE WHEN v[band * 4 + 4] > 0 THEN 8 ELSE 0 END) AS bucket
        FROM u CROSS JOIN (SELECT unnest(range(8)) AS band) bands
    ),
    cand AS (
        SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
        FROM b x JOIN b y
          ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id
    )
    SELECT a, b,
           round(round(list_cosine_similarity(ua.v, ub.v), 9), 6) AS cosine
    FROM cand
    JOIN u ua ON ua.vec_id = cand.a
    JOIN u ub ON ub.vec_id = cand.b
    WHERE round(list_cosine_similarity(ua.v, ub.v), 9) >= 0.95
    ORDER BY a, b
"""


ORACLE_SQL["stream_sessions_events"] = """
    WITH m AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         <= INTERVAL 30 MINUTE
                    THEN 0 ELSE 1 END AS brk
        FROM events
    ),
    s AS (
        SELECT user_id, ts,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS sid
        FROM m
    ),
    g AS (
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS session_end,
               count(*) AS n_events
        FROM s GROUP BY user_id, sid
    )
    SELECT user_id,
           strftime(session_start, '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(session_end, '%Y-%m-%d %H:%M:%S') AS session_end,
           n_events::BIGINT AS n_events
    FROM g
    WHERE session_end <= (SELECT max(ts) FROM events) - INTERVAL 2 HOUR
    ORDER BY 1, 2
"""


# incremental validation: the scenario is deterministic (4-file
# snapshot + 1 appended file with 3 duplicated docs), so the reuse
# accounting and both parity booleans are pinned constants — the
# lineage_metrics discipline
ORACLE_SQL["incremental_validate_documents"] = """
    SELECT true AS first_full_recompute, 5::BIGINT AS n_files_total,
           1::BIGINT AS n_recomputed_delta, 4::BIGINT AS n_reused,
           true AS verdicts_match, true AS violations_match,
           6::BIGINT AS n_uniqueness
"""

ORACLE_SQL["monotonicity_events"] = """
    WITH e AS (
        SELECT event_id, user_id, ts,
               CASE WHEN event_id % 97 = 0 THEN event_id - 1000000
                    ELSE event_id END AS seq
        FROM events
    ),
    w AS (
        SELECT event_id, user_id, seq,
               lag(seq) OVER (PARTITION BY user_id
                              ORDER BY ts, seq) AS prev_value
        FROM e
    )
    SELECT event_id, user_id, seq, prev_value
    FROM w WHERE seq < prev_value ORDER BY event_id
"""

ORACLE_SQL["coverage_gaps_events"] = """
    WITH o AS (
        SELECT event_type, (epoch_us(ts) // 3600000000)::BIGINT AS u
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    s AS (
        SELECT event_type, min(u) AS lo, max(u) AS hi FROM o GROUP BY 1
    ),
    d AS (
        SELECT event_type, unnest(range(lo, hi + 1)) AS u FROM s
    )
    SELECT event_type,
           strftime(make_timestamp(u * 3600000000), '%Y-%m-%d %H:%M:%S')
               AS missing_ts
    FROM d ANTI JOIN o USING (event_type, u)
    ORDER BY 1, 2
"""

ORACLE_SQL["correlation_profile_events"] = """
    WITH e AS (
        SELECT value, epoch_us(ts) AS ts_us, user_id FROM events
    )
    SELECT * FROM (
        SELECT 'value' AS col_a, 'ts_us' AS col_b,
               round(corr(value, ts_us), 6) AS r,
               sum((value IS NOT NULL AND ts_us IS NOT NULL)::INT)::BIGINT
                   AS n_pairs
        FROM e
        UNION ALL
        SELECT 'value', 'user_id', round(corr(value, user_id), 6),
               sum((value IS NOT NULL AND user_id IS NOT NULL)::INT)::BIGINT
        FROM e
        UNION ALL
        SELECT 'ts_us', 'user_id', round(corr(ts_us, user_id), 6),
               sum((ts_us IS NOT NULL AND user_id IS NOT NULL)::INT)::BIGINT
        FROM e
    ) ORDER BY col_a, col_b
"""

ORACLE_SQL["rollup_stats_documents"] = """
    SELECT CASE WHEN concat_ws(',',
                    CASE WHEN GROUPING(lang) = 0 THEN 'lang' END,
                    CASE WHEN GROUPING(source) = 0 THEN 'source' END) = ''
                THEN 'total'
                ELSE concat_ws(',',
                    CASE WHEN GROUPING(lang) = 0 THEN 'lang' END,
                    CASE WHEN GROUPING(source) = 0 THEN 'source' END)
           END AS grouping_level,
           lang, source,
           count(*) AS n_rows,
           sum(n_chars)::BIGINT AS val_sum,
           round(avg(n_chars), 6) AS val_mean,
           min(n_chars) AS val_min,
           max(n_chars) AS val_max
    FROM documents
    GROUP BY CUBE (lang, source)
    ORDER BY 1, 2, 3
"""

ORACLE_SQL["schema_check_documents"] = """
    SELECT * FROM (VALUES
        ('doc_id',  'ok',            'bigint', 'bigint'),
        ('lang',    'nullability',   'string', 'string'),
        ('license', 'missing',       'string', NULL),
        ('n_chars', 'type_mismatch', 'int',    'bigint'),
        ('source',  'extra',         NULL,     'string'),
        ('text',    'ok',            'string', 'string')
    ) AS t("column", status, expected_type, actual_type)
    ORDER BY "column"
"""

ORACLE_SQL["rate_limit_events"] = """
    SELECT event_id, user_id, n_in_window::BIGINT AS n_in_window FROM (
        SELECT event_id, user_id,
               count(*) OVER (PARTITION BY user_id ORDER BY ts
                              RANGE BETWEEN INTERVAL 3600 SECONDS PRECEDING
                              AND CURRENT ROW) AS n_in_window
        FROM events
    ) WHERE n_in_window > 2 ORDER BY event_id
"""

# reconciliation oracle: the four-bucket accounting replayed —
# no-detail (no lines), unverifiable (lines but no computable error:
# NULL total or all-NULL amounts), within-tol, mismatch; the buckets
# partition n_headers on both engines
ORACLE_SQL["reconcile_orders_lineitem"] = """
    WITH agg AS (
        SELECT l_orderkey AS k,
               sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS d,
               count(*) AS nl
        FROM lineitem GROUP BY 1
    ),
    e AS (
        SELECT o_orderpriority AS group_key, nl,
               CASE WHEN o_totalprice IS NOT NULL AND d IS NOT NULL
                    THEN abs(o_totalprice::DOUBLE - d)
                         / greatest(abs(o_totalprice::DOUBLE), 1e-12)
               END AS rel_err
        FROM orders LEFT JOIN agg ON o_orderkey = k
    )
    SELECT group_key,
           count(*)::BIGINT AS n_headers,
           sum((nl IS NULL)::INT)::BIGINT AS n_no_detail,
           sum((rel_err IS NULL AND nl IS NOT NULL)::INT)::BIGINT
               AS n_unverifiable,
           sum(CASE WHEN rel_err <= 0.5 THEN 1 ELSE 0 END)::BIGINT
               AS n_within_tol,
           sum(CASE WHEN rel_err > 0.5 THEN 1 ELSE 0 END)::BIGINT
               AS n_mismatch,
           round(avg(rel_err), 6) AS mean_rel_err,
           round(max(rel_err), 6) AS max_rel_err
    FROM e GROUP BY 1 ORDER BY 1
"""

# trend oracle: x built from INTEGER epoch-micros then one double
# division — bit-identical regressors; regr_* are the SQL-standard
# population-moment aggregates on both engines
ORACLE_SQL["trend_fit_events"] = """
    SELECT event_type,
           regr_count(value, x)::BIGINT AS n_points,
           round(regr_slope(value, x), 6) AS slope_per_day,
           round(regr_intercept(value, x), 6) AS intercept,
           round(regr_r2(value, x), 6) AS r2,
           round(avg(value), 6) AS mean_value
    FROM (
        SELECT event_type, value::DOUBLE AS value,
               (epoch_us(ts) - 1704067200000000) / 86400000000.0 AS x
        FROM events
    ) GROUP BY 1 ORDER BY 1
"""

# fuzzy-dedup oracle: the WHOLE pipeline replayed — planting, prefix
# blocking, hot-block cap, length pruning, true edit distances
ORACLE_SQL["fuzzy_near_dups_documents"] = """
    WITH planted AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000,
               substr(text, 1, 20) || 'zz' || substr(text, 23)
        FROM documents WHERE length(text) >= 40
    ),
    t AS (
        SELECT doc_id AS id, coalesce(text, '') AS t,
               substr(coalesce(text, ''), 1, 12) AS blk
        FROM planted
    ),
    ok AS (
        SELECT blk FROM t GROUP BY 1 HAVING count(*) BETWEEN 2 AND 1000
    ),
    b AS (SELECT t.* FROM t JOIN ok USING (blk))
    SELECT x.id AS a, y.id AS b, levenshtein(x.t, y.t)::BIGINT AS dist
    FROM b x JOIN b y ON x.blk = y.blk AND x.id < y.id
    WHERE abs(length(x.t) - length(y.t)) <= 4
      AND levenshtein(x.t, y.t) <= 4
    ORDER BY 1, 2
"""

# priority-sample oracle: hash-uniform u = (48-bit sha prefix + 1) /
# 2^48, priority = -ln(u)/weight, k smallest — replayed exactly
ORACLE_SQL["priority_sample_documents"] = """
    WITH t AS (
        SELECT doc_id, n_chars AS weight,
               -ln((('0x' || substr(sha256(doc_id::VARCHAR), 1, 12))::BIGINT
                    + 1) / 281474976710656.0) / n_chars::DOUBLE AS p
        FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
    )
    SELECT row_number() OVER (ORDER BY p, doc_id) AS rank,
           doc_id, weight, round(p, 8) AS priority
    FROM t ORDER BY p, doc_id LIMIT 100
"""

# wasserstein oracle: the collapsed-table windows replayed — running
# ECDF sums, lead value gap, range normalization; one-sided langs
# would emit NULL on both engines (this split has none)
ORACLE_SQL["wasserstein_drift_documents"] = """
    WITH u AS (
        SELECT lang, v, sum(c)::BIGINT AS n_cur, sum(r)::BIGINT AS n_ref
        FROM (
            SELECT lang, n_chars::DOUBLE AS v, 1 AS c, 0 AS r
            FROM documents WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL
            UNION ALL
            SELECT lang, n_chars::DOUBLE, 0, 1
            FROM documents WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL
        ) GROUP BY 1, 2
    ),
    w AS (
        SELECT lang,
               lead(v) OVER (PARTITION BY lang ORDER BY v) - v AS dv,
               sum(n_cur) OVER (PARTITION BY lang ORDER BY v
                                ROWS UNBOUNDED PRECEDING) AS cum_cur,
               sum(n_ref) OVER (PARTITION BY lang ORDER BY v
                                ROWS UNBOUNDED PRECEDING) AS cum_ref,
               sum(n_cur) OVER (PARTITION BY lang) AS tot_cur,
               sum(n_ref) OVER (PARTITION BY lang) AS tot_ref,
               max(v) OVER (PARTITION BY lang)
                   - min(v) OVER (PARTITION BY lang) AS rng
        FROM u
    )
    SELECT lang,
           round(CASE WHEN max(tot_cur) > 0 AND max(tot_ref) > 0 THEN
                 coalesce(sum(abs(cum_cur::DOUBLE / tot_cur
                         - cum_ref::DOUBLE / tot_ref) * dv), 0.0)
                 END, 6) AS w1,
           round(CASE WHEN max(tot_cur) > 0 AND max(tot_ref) > 0
                      AND max(rng) > 0 THEN
                 coalesce(sum(abs(cum_cur::DOUBLE / tot_cur
                         - cum_ref::DOUBLE / tot_ref) * dv), 0.0) / max(rng)
                 END, 6) AS w1_norm,
           max(tot_cur)::BIGINT AS n_current,
           max(tot_ref)::BIGINT AS n_reference
    FROM w GROUP BY 1 ORDER BY 1
"""

ORACLE_SQL["event_transitions_events"] = """
    WITH p AS (
        SELECT lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type,
               event_type AS next_type
        FROM events WHERE ts IS NOT NULL
    ),
    c AS (
        SELECT prev_type, next_type, count(*)::BIGINT AS n
        FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n,
           round(n::DOUBLE / sum(n) OVER (PARTITION BY prev_type), 6)
               AS prob
    FROM c ORDER BY 1, 2
"""

# attribution oracle: UNROUNDED deltas feed the share window; rounding
# is display-only on both engines
ORACLE_SQL["change_attribution_events"] = """
    WITH seg AS (
        SELECT event_type,
               sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                        THEN 0.0 ELSE value::DOUBLE END) AS sum_before,
               sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                        THEN value::DOUBLE ELSE 0.0 END) AS sum_after
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    )
    SELECT event_type,
           round(sum_before, 6) AS sum_before,
           round(sum_after, 6) AS sum_after,
           round(sum_after - sum_before, 6) AS delta,
           round(CASE WHEN abs(sum_before) > 0
                 THEN (sum_after - sum_before) / abs(sum_before) END, 6)
               AS pct_change,
           round(CASE WHEN abs(sum(sum_after - sum_before) OVER ()) > 1e-12
                 THEN (sum_after - sum_before)
                      / sum(sum_after - sum_before) OVER () END, 6)
               AS share_of_total_delta
    FROM seg ORDER BY 1
"""

# gap-fill oracle: per-(type, hour) means, dense range() calendar,
# LOCF via IGNORE NULLS window — the repair twin of coverage_gaps
ORACLE_SQL["gap_fill_events"] = """
    WITH o AS (
        SELECT event_type, (epoch_us(ts) // 3600000000)::BIGINT AS u,
               avg(value::DOUBLE) AS obs
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    s AS (
        SELECT event_type, min(u) AS lo, max(u) AS hi FROM o GROUP BY 1
    ),
    d AS (
        SELECT event_type, unnest(range(lo, hi + 1)) AS u FROM s
    ),
    j AS (
        SELECT d.event_type, d.u, o.obs
        FROM d LEFT JOIN o ON d.event_type = o.event_type AND d.u = o.u
    )
    SELECT event_type,
           strftime(make_timestamp(u * 3600000000), '%Y-%m-%d %H:%M:%S')
               AS bucket_ts,
           round(last_value(obs IGNORE NULLS)
                     OVER (PARTITION BY event_type ORDER BY u
                           ROWS UNBOUNDED PRECEDING), 6) AS value,
           obs IS NULL AS is_filled
    FROM j ORDER BY 1, 2
"""

# two-proportion z oracle: identical pooled-variance formula over
# identical integer counts -> bit-identical z before rounding
ORACLE_SQL["proportion_drift_documents"] = """
    WITH u AS (
        SELECT lang, coalesce((n_chars > 300), FALSE)::BIGINT AS h, 1 AS c
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT lang, coalesce((n_chars > 300), FALSE)::BIGINT, 0
        FROM documents WHERE doc_id % 2 = 1
    ),
    g AS (
        SELECT lang,
               sum(c)::BIGINT AS n_cur, sum(h * c)::BIGINT AS k_cur,
               sum(1 - c)::BIGINT AS n_ref, sum(h * (1 - c))::BIGINT AS k_ref
        FROM u GROUP BY 1
    ),
    zc AS (
        SELECT lang, n_cur, k_cur, n_ref, k_ref,
               CASE WHEN n_cur > 0 AND n_ref > 0
                         AND (k_cur + k_ref)::DOUBLE / (n_cur + n_ref) > 0
                         AND (k_cur + k_ref)::DOUBLE / (n_cur + n_ref) < 1
                    THEN (k_cur / n_cur - k_ref / n_ref)
                         / sqrt(((k_cur + k_ref)::DOUBLE / (n_cur + n_ref))
                                * (1 - (k_cur + k_ref)::DOUBLE
                                       / (n_cur + n_ref))
                                * (1.0 / n_cur + 1.0 / n_ref))
               END AS z
        FROM g
    )
    SELECT lang,
           n_cur AS n_current, k_cur AS k_current,
           n_ref AS n_reference, k_ref AS k_reference,
           round(CASE WHEN n_cur > 0 THEN k_cur / n_cur END, 6)
               AS rate_current,
           round(CASE WHEN n_ref > 0 THEN k_ref / n_ref END, 6)
               AS rate_reference,
           round(z, 6) AS z,
           coalesce(abs(z) > 3.0, FALSE) AS is_drift
    FROM zc ORDER BY lang
"""

# interval oracle: the running-max-prior-end window replayed over
# integer epoch-micros; inverted branch is structurally present
# (empty here: floor(value) >= 0)
ORACLE_SQL["interval_violations_events"] = """
    WITH iv AS (
        SELECT event_id, user_id, epoch_us(ts) AS s,
               epoch_us(ts) + floor(value)::BIGINT * 60000000 AS e
        FROM events
    ),
    o AS (
        SELECT event_id, user_id, s, e,
               max(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS pme
        FROM iv WHERE e >= s
    )
    SELECT event_id, user_id,
           strftime(make_timestamp(s), '%Y-%m-%d %H:%M:%S') AS start_ts,
           strftime(make_timestamp(e), '%Y-%m-%d %H:%M:%S') AS end_ts,
           'inverted' AS violation,
           NULL::VARCHAR AS conflicts_until
    FROM iv WHERE e < s
    UNION ALL
    SELECT event_id, user_id,
           strftime(make_timestamp(s), '%Y-%m-%d %H:%M:%S'),
           strftime(make_timestamp(e), '%Y-%m-%d %H:%M:%S'),
           'overlap',
           strftime(make_timestamp(pme), '%Y-%m-%d %H:%M:%S')
    FROM o WHERE s < pme
    ORDER BY event_id
"""

# embedding-drift oracle: per-dim sums over the constant 64-dim grid,
# then the identical scalar formulas; worst_dim via arg_max (unique on
# continuous data)
ORACLE_SQL["embedding_drift_embeddings"] = """
    WITH cur AS (
        SELECT g.i - 1 AS dim, sum(embedding[g.i]::DOUBLE) AS s,
               count(*)::BIGINT AS n
        FROM embeddings, generate_series(1, 64) g(i)
        WHERE g.i <= len(embedding) AND vec_id % 2 = 0
        GROUP BY 1
    ),
    ref AS (
        SELECT g.i - 1 AS dim, sum(embedding[g.i]::DOUBLE) AS s,
               count(*)::BIGINT AS n
        FROM embeddings, generate_series(1, 64) g(i)
        WHERE g.i <= len(embedding) AND vec_id % 2 = 1
        GROUP BY 1
    ),
    j AS (
        SELECT coalesce(cur.s / cur.n, 0.0) AS mc,
               coalesce(ref.s / ref.n, 0.0) AS mr,
               coalesce(cur.s / cur.n, 0.0)
                   - coalesce(ref.s / ref.n, 0.0) AS d,
               cur.n AS n_cur, ref.n AS n_ref,
               coalesce(cur.dim, ref.dim) AS dim
        FROM cur FULL JOIN ref ON cur.dim = ref.dim
    ),
    a AS (
        SELECT coalesce(max(n_cur), 0)::BIGINT AS n_current,
               coalesce(max(n_ref), 0)::BIGINT AS n_reference,
               sum(mc * mr) AS dot,
               sqrt(sum(mc * mc)) AS na,
               sqrt(sum(mr * mr)) AS nb,
               sqrt(sum(d * d)) AS l2,
               max(abs(d)) AS maxd,
               arg_max(dim, abs(d)) AS wd
        FROM j
    )
    SELECT n_current, n_reference,
           round(CASE WHEN na > 0 AND nb > 0 THEN dot / (na * nb) END, 6)
               AS mean_cosine,
           round(l2, 6) AS l2_shift,
           round(maxd, 6) AS max_dim_shift,
           wd::INT AS worst_dim
    FROM a
"""

# histogram oracle: identical closed-form bin arithmetic (floor over
# the same IEEE quotient; max pinned into the last bin), dense grid
# zero-filled
ORACLE_SQL["numeric_histogram_events"] = """
    WITH vals AS (
        SELECT event_type, value::DOUBLE AS v
        FROM events WHERE value IS NOT NULL AND NOT isnan(value::DOUBLE)
    ),
    b AS (
        SELECT event_type, min(v) AS lo, max(v) AS hi
        FROM vals GROUP BY 1
    ),
    binned AS (
        SELECT vals.event_type,
               (CASE WHEN hi > lo
                     THEN least(floor((v - lo) / ((hi - lo) / 20.0)), 19)
                     ELSE 0 END)::BIGINT AS bin,
               count(*)::BIGINT AS n
        FROM vals JOIN b ON vals.event_type IS NOT DISTINCT FROM b.event_type
        GROUP BY 1, 2
    ),
    dense AS (
        SELECT event_type, lo, hi, unnest(range(0, 20)) AS bin FROM b
    )
    SELECT d.event_type,
           d.bin,
           round(lo + (hi - lo) / 20.0 * d.bin, 6) AS bin_lo,
           round(CASE WHEN d.bin = 19 THEN hi
                 ELSE lo + (hi - lo) / 20.0 * (d.bin + 1) END, 6) AS bin_hi,
           coalesce(n, 0)::BIGINT AS n
    FROM dense d LEFT JOIN binned
        ON d.event_type IS NOT DISTINCT FROM binned.event_type
        AND d.bin = binned.bin
    ORDER BY 1, 2
"""

ORACLE_SQL["table_fingerprint_orders"] = """
    WITH h AS (
        SELECT ('0x' || substr(sha256(concat_ws(chr(31),
                   coalesce(length(o_orderkey::VARCHAR)::VARCHAR || ':'
                            || o_orderkey::VARCHAR, 'N'),
                   coalesce(length(o_custkey::VARCHAR)::VARCHAR || ':'
                            || o_custkey::VARCHAR, 'N'),
                   coalesce(length(o_orderstatus)::VARCHAR || ':'
                            || o_orderstatus, 'N'),
                   coalesce(length(o_orderpriority)::VARCHAR || ':'
                            || o_orderpriority, 'N'))),
               1, 15))::BIGINT AS v
        FROM orders
    )
    SELECT count(*)::BIGINT AS n_rows,
           bit_xor(v)::BIGINT AS xor_hash,
           min(v) AS min_hash,
           max(v) AS max_hash
    FROM h
"""

# leakage oracle: split arithmetic (hash_split's bucket math), planted
# copies under independent ids, content-hash self-join across splits
ORACLE_SQL["split_leakage_documents"] = """
    WITH planted AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 200000, text FROM documents WHERE doc_id % 10 = 0
    ),
    s AS (
        SELECT sha256(coalesce(text, '')) AS h,
               CASE WHEN b < 800 THEN 'train'
                    WHEN b < 900 THEN 'val' ELSE 'test' END AS split
        FROM (
            SELECT text,
                   ('0x' || substr(sha256(doc_id::VARCHAR), 1, 4))::BIGINT
                       % 1000 AS b
            FROM planted
        )
    )
    SELECT a.split AS split_a, b.split AS split_b,
           count(*)::BIGINT AS n_leaked_pairs,
           count(DISTINCT a.h)::BIGINT AS n_leaked_contents
    FROM s a JOIN s b ON a.h = b.h AND a.split < b.split
    GROUP BY 1, 2 ORDER BY 1, 2
"""

# profile oracle: one scalar block per column, UNION ALL'd — the same
# exact aggregates the one-pass Spark plan computes via Expand
ORACLE_SQL["profile_lineitem"] = """
    WITH p AS (
        SELECT 'l_orderkey' AS column_name,
               count(*)::BIGINT AS n_rows,
               sum((l_orderkey IS NULL)::INT)::BIGINT AS n_nulls,
               count(DISTINCT l_orderkey)::BIGINT AS n_distinct,
               min(l_orderkey)::VARCHAR AS min_value,
               max(l_orderkey)::VARCHAR AS max_value
        FROM lineitem
        UNION ALL
        SELECT 'l_partkey' AS column_name,
               count(*)::BIGINT AS n_rows,
               sum((l_partkey IS NULL)::INT)::BIGINT AS n_nulls,
               count(DISTINCT l_partkey)::BIGINT AS n_distinct,
               min(l_partkey)::VARCHAR AS min_value,
               max(l_partkey)::VARCHAR AS max_value
        FROM lineitem
        UNION ALL
        SELECT 'l_suppkey' AS column_name,
               count(*)::BIGINT AS n_rows,
               sum((l_suppkey IS NULL)::INT)::BIGINT AS n_nulls,
               count(DISTINCT l_suppkey)::BIGINT AS n_distinct,
               min(l_suppkey)::VARCHAR AS min_value,
               max(l_suppkey)::VARCHAR AS max_value
        FROM lineitem
        UNION ALL
        SELECT 'l_linenumber' AS column_name,
               count(*)::BIGINT AS n_rows,
               sum((l_linenumber IS NULL)::INT)::BIGINT AS n_nulls,
               count(DISTINCT l_linenumber)::BIGINT AS n_distinct,
               min(l_linenumber)::VARCHAR AS min_value,
               max(l_linenumber)::VARCHAR AS max_value
        FROM lineitem
        UNION ALL
        SELECT 'l_returnflag' AS column_name,
               count(*)::BIGINT AS n_rows,
               sum((l_returnflag IS NULL)::INT)::BIGINT AS n_nulls,
               count(DISTINCT l_returnflag)::BIGINT AS n_distinct,
               min(l_returnflag)::VARCHAR AS min_value,
               max(l_returnflag)::VARCHAR AS max_value
        FROM lineitem
        UNION ALL
        SELECT 'l_linestatus' AS column_name,
               count(*)::BIGINT AS n_rows,
               sum((l_linestatus IS NULL)::INT)::BIGINT AS n_nulls,
               count(DISTINCT l_linestatus)::BIGINT AS n_distinct,
               min(l_linestatus)::VARCHAR AS min_value,
               max(l_linestatus)::VARCHAR AS max_value
        FROM lineitem
    )
    SELECT column_name, n_rows, n_nulls, n_distinct,
           round(n_nulls::DOUBLE / greatest(n_rows, 1), 6) AS null_frac,
           min_value, max_value
    FROM p ORDER BY column_name
"""

ORACLE_SQL["freshness_events"] = """
    WITH per AS (
        SELECT event_type, count(*)::BIGINT AS n_events,
               max(epoch_us(ts)) AS last_us
        FROM events GROUP BY 1
    ),
    ref AS (SELECT max(epoch_us(ts)) AS as_of_us FROM events)
    SELECT event_type, n_events,
           strftime(make_timestamp(last_us), '%Y-%m-%d %H:%M:%S') AS last_ts,
           round((as_of_us - last_us) / 60000000.0, 6) AS lag_minutes,
           coalesce((as_of_us - last_us) / 60000000.0 > 120.0, TRUE)
               AS is_stale
    FROM per, ref ORDER BY event_type
"""

# stratified sample oracle: same hash-uniform priority, ranked inside
# each lang via a window, quota 10
ORACLE_SQL["stratified_priority_sample_documents"] = """
    WITH t AS (
        SELECT lang, doc_id, n_chars AS weight,
               -ln((('0x' || substr(sha256(doc_id::VARCHAR), 1, 12))::BIGINT
                    + 1) / 281474976710656.0) / n_chars::DOUBLE AS p
        FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
    ),
    r AS (
        SELECT lang, doc_id, weight, p,
               row_number() OVER (PARTITION BY lang ORDER BY p, doc_id)
                   AS rank
        FROM t
    )
    SELECT lang, rank::BIGINT AS rank, doc_id, weight,
           round(p, 8) AS priority
    FROM r WHERE rank <= 10 ORDER BY lang, rank
"""

ORACLE_SQL["fingerprint_partitions_orders"] = """
    WITH h AS (
        SELECT o_orderpriority,
               ('0x' || substr(sha256(concat_ws(chr(31),
                   coalesce(length(o_orderkey::VARCHAR)::VARCHAR || ':'
                            || o_orderkey::VARCHAR, 'N'),
                   coalesce(length(o_custkey::VARCHAR)::VARCHAR || ':'
                            || o_custkey::VARCHAR, 'N'),
                   coalesce(length(o_orderstatus)::VARCHAR || ':'
                            || o_orderstatus, 'N'),
                   coalesce(length(o_orderpriority)::VARCHAR || ':'
                            || o_orderpriority, 'N'))),
               1, 15))::BIGINT AS v
        FROM orders
    )
    SELECT o_orderpriority,
           count(*)::BIGINT AS n_rows,
           bit_xor(v)::BIGINT AS xor_hash,
           min(v) AS min_hash,
           max(v) AS max_hash
    FROM h GROUP BY 1 ORDER BY 1
"""

# streaming freshness oracle == the BATCH freshness SQL: the memory
# sink's complete-mode state finalized by the shared verdict exprs
# must equal the one-pass batch aggregate exactly (stream == batch)
ORACLE_SQL["stream_freshness_events"] = ORACLE_SQL["freshness_events"]

# fused fuzzy dedup oracle: the ONLY fused-dedup row with a full
# value oracle through the CC step — the deterministic levenshtein
# generator makes the transitive closure SQL-replayable via a
# recursive reachability CTE (min reachable id == component label ==
# the engine's min-label propagation fixpoint)
ORACLE_SQL["dedupe_fuzzy_documents"] = """
    WITH RECURSIVE planted AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000,
               substr(text, 1, 20) || 'zz' || substr(text, 23)
        FROM documents WHERE length(text) >= 40
    ),
    t AS (
        SELECT doc_id AS id, coalesce(text, '') AS t,
               substr(coalesce(text, ''), 1, 12) AS blk
        FROM planted
    ),
    ok AS (
        SELECT blk FROM t GROUP BY 1 HAVING count(*) BETWEEN 2 AND 1000
    ),
    b AS (SELECT t.* FROM t JOIN ok USING (blk)),
    pairs AS (
        SELECT x.id AS a, y.id AS b
        FROM b x JOIN b y ON x.blk = y.blk AND x.id < y.id
        WHERE abs(length(x.t) - length(y.t)) <= 4
          AND levenshtein(x.t, y.t) <= 4
    ),
    e AS (SELECT a AS x, b AS y FROM pairs UNION SELECT b, a FROM pairs),
    reach AS (
        SELECT id AS n, id AS m FROM t
        UNION
        SELECT r.n, e.y FROM reach r JOIN e ON r.m = e.x
    ),
    comp AS (SELECT n, min(m) AS mn FROM reach GROUP BY 1)
    SELECT n AS doc_id FROM comp WHERE mn = n ORDER BY doc_id
"""

ORACLE_SQL["key_candidates_lineitem"] = """
    WITH w AS (
        -- FILTERs replicate Spark countDistinct's any-NULL-skips
        -- semantics (no-op on lineitem's non-null keys, exact on
        -- nullable columns)
        SELECT count(*)::BIGINT AS n,
               count(DISTINCT l_orderkey)::BIGINT AS d0,
               count(DISTINCT (l_orderkey, l_linenumber))
                   FILTER (l_orderkey IS NOT NULL
                           AND l_linenumber IS NOT NULL)::BIGINT AS d1,
               count(DISTINCT (l_partkey, l_suppkey))
                   FILTER (l_partkey IS NOT NULL
                           AND l_suppkey IS NOT NULL)::BIGINT AS d2,
               count(DISTINCT (l_orderkey, l_partkey, l_suppkey))
                   FILTER (l_orderkey IS NOT NULL
                           AND l_partkey IS NOT NULL
                           AND l_suppkey IS NOT NULL)::BIGINT AS d3
        FROM lineitem
    )
    SELECT candidate, n AS n_rows, d AS n_distinct, n - d AS dup_rows,
           n = d AS is_key
    FROM (
        SELECT n, 'l_orderkey' AS candidate, d0 AS d FROM w
        UNION ALL SELECT n, 'l_orderkey+l_linenumber', d1 FROM w
        UNION ALL SELECT n, 'l_partkey+l_suppkey', d2 FROM w
        UNION ALL SELECT n, 'l_orderkey+l_partkey+l_suppkey', d3 FROM w
    ) ORDER BY candidate
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLE_SQL)

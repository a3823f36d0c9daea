"""The benchmark's workloads: operations, their layer decompositions
and their correctness checks.

Every operation is timed from the library call through the action
that forces its result; the time until the call returns is reported
as ``plan_s``. ``run_<op>`` is the operation as a user calls it
(untraced). ``trace_<op>`` runs the same work as spans around the
calls into each layer, each layer over inputs materialized before its
span starts. Both return whether the output matched the planted truth.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter

import numpy as np
from pyspark.sql import functions as F

import gen


class Timer:
    """Times one untraced operation: call, then forced result."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.t_called = None
        self.t1 = None

    def called(self) -> None:
        self.t_called = time.perf_counter()

    def done(self) -> None:
        self.t1 = time.perf_counter()

    @property
    def latency_s(self) -> float:
        return self.t1 - self.t0

    @property
    def plan_s(self) -> float:
        return (self.t_called or self.t1) - self.t0


def _pairs(rows) -> set:
    return {(min(r["a"], r["b"]), max(r["a"], r["b"])) for r in rows}


def _recall(found: set, planted: set) -> float:
    return len(found & planted) / len(planted) if planted else 1.0


def _verdict_key(r) -> tuple:
    return (r["repo_bucket"], r["lang"], r["n_files_base"], r["n_files_snap"],
            r["verdict"], round(r["score"], 9))


def _violation_key(r) -> tuple:
    return (r["check"], r["repo"], r["path"], r["commit"], r["content_sha256"], r["detail"])


class Workload:
    """Inputs, a schedule of operations, and their checks."""

    name = ""
    #: operation -> (reported metric name, unit), in the order a pass
    #: runs them
    ops: dict = {}

    def __init__(self, root: str, seed: int, scale: float):
        self.root, self.seed, self.scale = root, seed, scale
        self.truth = None
        self.spark = None

    def size(self, n: int, floor: int = 1) -> int:
        return max(floor, int(round(n * self.scale)))

    def rows(self, op: str) -> int:
        """Input rows of an operation reported as a rate (unit 1/s)."""
        raise NotImplementedError

    def generate(self) -> dict:
        raise NotImplementedError

    def prepare(self, spark) -> None:
        raise NotImplementedError

    def before(self, op: str) -> None:
        """Untimed change to the inputs an operation responds to."""

    def after(self, op: str) -> None:
        """Untimed undo of ``before``."""

    def report(self) -> dict:
        """Extra per-run ratios for the report (name -> value)."""
        return {}

    def run(self, op: str, t: Timer) -> bool:
        return getattr(self, f"run_{op}")(t)

    def trace(self, op: str, tr) -> bool:
        return getattr(self, f"trace_{op}")(tr)


# -- engine_validate --------------------------------------------------------

class EngineValidate(Workload):
    name = "engine_validate"
    ops = {
        "baseline_build": ("baseline_build_s", "s"),
        "validate": ("validate_files_per_s", "1/s"),
        "incr_full": ("incr_full_s", "s"),
        "incr_delta": ("incr_delta_s", "s"),
    }

    def __init__(self, root, seed, scale):
        super().__init__(root, seed, scale)
        self.n_rows = self.size(12_000, 200)
        self.repeat = 4
        self.n_files = 4
        self.delta_rows = self.size(750, 20)
        self.delta_seq = 0
        self.delta_orphans = 0
        self.reference = None  # the last one-shot validate's output

    def rows(self, op):
        return self.truth.n_files

    def generate(self):
        self.truth = gen.write_engine_inputs(
            f"{self.root}/engine", self.seed, self.n_rows, self.repeat, self.n_files)
        return {"snapshot_files": self.truth.n_files,
                "snapshot_parquet_bytes": self.truth.input_bytes}

    def prepare(self, spark):
        from sparkval import ValidationEngine

        self.spark = spark
        self.eng = ValidationEngine()
        d = f"{self.root}/engine"
        self.corpus = spark.read.parquet(f"{d}/corpus")
        self.snap_path = f"{d}/snapshot"
        self.snap = spark.read.parquet(self.snap_path)
        self.commits = spark.read.parquet(f"{d}/commits")
        self.base_path = f"{d}/baseline"
        self.base = None
        self.cache_dir = f"{d}/incremental-cache"

    def report(self) -> dict:
        return {"incr_cache_bytes_per_input_byte":
                gen.parquet_bytes(self.cache_dir) / self.truth.input_bytes}

    # checks
    def _check_validate(self, verdicts, violations, delta_orphans=None) -> bool:
        """Violation rows per check equal the planted counts and the
        drifted partitions are non-PASS. Without a delta file in the
        snapshot (``delta_orphans`` None) every partition has a verdict
        and those of untouched buckets are PASS; a delta file adds its
        dangling commits."""
        t = self.truth
        want = dict(t.violations)
        want["referential_commit_repo"] += delta_orphans or 0
        by_part = {(r["repo_bucket"], r["lang"]): r["verdict"] for r in verdicts}
        ok = (dict(Counter(r["check"] for r in violations)) == {k: v for k, v in want.items() if v}
              and all(by_part.get(k, "PASS") != "PASS" for k in t.drifted))
        if delta_orphans is None:
            ok = ok and set(by_part) == t.partitions and all(
                by_part[k] == "PASS" for k in t.untouched)
        return ok

    def _delta_path(self) -> str:
        return f"{self.snap_path}/delta-{self.delta_seq:05d}.parquet"

    def _persist_baseline(self, base) -> None:
        base.write.mode("overwrite").parquet(self.base_path)

    def _check_baseline(self) -> bool:
        self.base = self.spark.read.parquet(self.base_path)
        return self.base.count() == len(self.truth.partitions)

    # baseline_build: build plus persist, as a user stores a baseline
    def run_baseline_build(self, t):
        base = self.eng.build_baseline(self.corpus)
        t.called()
        self._persist_baseline(base)
        t.done()
        return self._check_baseline()

    def trace_baseline_build(self, tr):
        from sparkval import baseline

        with tr.span("baseline.build_baseline", "baseline_build") as sp:
            base = baseline.build_baseline(self.corpus, self.eng.config)
            sp.called()
            self._persist_baseline(base)
        sp.count(baseline_bytes=gen.parquet_bytes(self.base_path))
        return self._check_baseline()

    # validate: the one-shot production call, both outputs forced
    def _validated(self, verdicts, violations) -> bool:
        self.reference = (sorted(map(_verdict_key, verdicts)),
                          sorted(map(_violation_key, violations)))
        return self._check_validate(verdicts, violations)

    def run_validate(self, t):
        out = self.eng.validate(self.snap, self.base, self.commits)
        t.called()
        verdicts = out["verdicts"].collect()
        violations = out["violations"].collect()
        t.done()
        return self._validated(verdicts, violations)

    def trace_validate(self, tr):
        from sparkval import constraints, drift, histograms

        cfg = self.eng.config
        with tr.span("histograms.partial_histograms", "validate") as sp:
            partials = histograms.partial_histograms(self.snap, cfg)
            sp.called()
            partials = partials.localCheckpoint(eager=True)
        with tr.span("histograms.merge_histograms_with_lang", "validate") as sp:
            merged = histograms.merge_histograms_with_lang(partials)
            sp.called()
            merged = merged.localCheckpoint(eager=True)
        with tr.span("drift.joined_hists", "validate") as sp:
            joined = drift.joined_hists(self.base, merged)
            sp.called()
            joined = joined.localCheckpoint(eager=True)
        with tr.span("drift.drift_verdicts_joined", "validate") as sp:
            scored = drift.drift_verdicts_joined(joined, cfg)
            sp.called()
            verdicts = scored.collect()
        with tr.span("constraints.all_violations", "validate") as sp:
            viol = constraints.all_violations(self.snap, self.commits)
            sp.called()
            violations = viol.collect()
        self._trace_kernel(tr, joined.collect())
        return self._check_validate(verdicts, violations)

    def _trace_kernel(self, tr, joined_rows) -> None:
        """kernels.drift_score_batch in-process, on the joined rows the
        Spark kernel scores (warm path: precomputed baseline bands)."""
        from sparkval import config, kernels

        chans = (("byte", config.BYTE_BINS), ("len", config.LEN_BINS),
                 ("lang", len(config.LANG_VOCAB)))
        rows = [r for r in joined_rows
                if r["b_byte"] is not None and r["s_byte"] is not None
                and r["b_pre_byte"] is not None]
        base = {c: np.array([r[f"b_{c}"] for r in rows], dtype=np.float64) for c, _ in chans}
        snap = {c: np.array([r[f"s_{c}"] for r in rows], dtype=np.float64) for c, _ in chans}
        pre = {c: kernels.unpack_bands(
            np.array([r[f"b_pre_{c}"] for r in rows], dtype=np.float64), n) for c, n in chans}
        with tr.span("kernels.drift_score_batch", "validate") as sp:
            calls = 0
            while calls < 3 or time.perf_counter() - sp.t0 < 0.2:
                kernels.drift_score_batch(base, snap, precomputed=pre)
                calls += 1
            sp.called()
        sp.count(scored_rows_per_s=calls * len(rows) / (time.perf_counter() - sp.t0))

    # incremental: per-file partials of the same snapshot, cached
    def before(self, op: str) -> None:
        if op == "incr_full":
            shutil.rmtree(self.cache_dir, ignore_errors=True)
        elif op == "incr_delta":
            # one seeded drifted file arrives; after() takes it away, so
            # every other operation sees the planted snapshot
            k = self.delta_seq
            self.delta_orphans = gen.write_drifted_file(
                self._delta_path(), self.seed + 1000 + k, self.delta_rows, self.repeat,
                20_000_000 + k * self.delta_rows, self.truth.commits)

    def after(self, op: str) -> None:
        if op == "incr_delta":
            os.remove(self._delta_path())
            self.delta_seq += 1

    def _incr(self, op, t=None, tr=None) -> bool:
        if tr is None:
            out = self.eng.validate_incremental(self.snap_path, self.base, self.cache_dir,
                                                self.commits)
            t.called()
            verdicts, violations = out["verdicts"].collect(), out["violations"].collect()
            t.done()
        else:
            from sparkval import io

            with tr.span("io.fs_file_statuses", op) as sp:
                io.fs_file_statuses(self.spark, self.snap_path)
                sp.called()
            files = _FileSpans(tr, op)
            with tr.span("engine.validate_incremental", op) as sp:
                out = self.eng.validate_incremental(
                    self.snap_path, self.base, self.cache_dir, self.commits,
                    on_file=files.on_file)
                files.close()
                sp.called()
                verdicts, violations = out["verdicts"].collect(), out["violations"].collect()
            sp.count(cache_hit_ratio=out["n_files_reused"] / out["n_files_total"],
                     files_recomputed=out["n_files_recomputed"])
        if op == "incr_full":
            # from an empty cache: every file scanned, and the result is
            # the one-shot validate's, row for row
            return (out["n_files_recomputed"] == out["n_files_total"]
                    and self._check_validate(verdicts, violations)
                    and self.reference in (None, (sorted(map(_verdict_key, verdicts)),
                                                  sorted(map(_violation_key, violations)))))
        return (out["n_files_recomputed"] == 1
                and self._check_validate(verdicts, violations, self.delta_orphans))

    def run_incr_full(self, t):
        return self._incr("incr_full", t=t)

    def trace_incr_full(self, tr):
        return self._incr("incr_full", tr=tr)

    def run_incr_delta(self, t):
        return self._incr("incr_delta", t=t)

    def trace_incr_delta(self, tr):
        return self._incr("incr_delta", tr=tr)


class _FileSpans:
    """Opens one span per recomputed data file from
    ``validate_incremental``'s ``on_file`` callback: the span runs from
    the callback until the next callback, covering the file's
    ``fused_scan_partials`` write job."""

    def __init__(self, tr, op):
        self.tr, self.op, self.cm = tr, op, None

    def on_file(self, i, n, done) -> None:
        self.close()
        if not done:
            self.cm = self.tr.span("histograms.fused_scan_partials", self.op)
            self.cm.__enter__()

    def close(self) -> None:
        if self.cm is not None:
            self.cm.__exit__(None, None, None)
            self.cm = None


# -- curation_dedup ---------------------------------------------------------

class CurationDedup(Workload):
    name = "curation_dedup"
    ops = {
        "minhash": ("near_dup_minhash_s", "s"),
        "dedupe": ("dedupe_text_s", "s"),
        "simhash": ("near_dup_simhash_s", "s"),
        "levenshtein": ("fuzzy_pairs_s", "s"),
        "cosine": ("near_dup_embed_s", "s"),
        "tdigest": ("length_quantiles_s", "s"),
    }

    def __init__(self, root, seed, scale):
        super().__init__(root, seed, scale)
        self.sizes = dict(
            n_base=self.size(1000, 40), n_mutants=2, n_exact=self.size(100, 4),
            n_titles=self.size(1000, 30), n_vec_base=self.size(2000, 60),
            n_vec_scaled=self.size(200, 5), n_vec_noisy=self.size(500, 15), n_files=8)

    def generate(self):
        self.truth = gen.write_curation_inputs(f"{self.root}/curation", self.seed, **self.sizes)
        return {"docs": self.truth.n_docs, **self.sizes}

    def prepare(self, spark):
        from sparkval import ValidationConfig

        self.spark = spark
        d = f"{self.root}/curation"
        self.docs = spark.read.parquet(f"{d}/docs")
        self.titles = spark.read.parquet(f"{d}/titles")
        self.vecs = spark.read.parquet(f"{d}/vecs")
        self.corpus = self.docs.select(F.col("source").alias("repo"), "lang",
                                       F.col("text").alias("content"))
        self.config = ValidationConfig()

    def _pair_op(self, tr, t, layer, op, call, planted):
        if tr is None:
            df = call()
            t.called()
            found = _pairs(df.collect())
            t.done()
        else:
            with tr.span(layer, op) as sp:
                df = call()
                sp.called()
                found = _pairs(df.collect())
            sp.count(pairs=len(found), planted_recall=_recall(found, planted))
        return _recall(found, planted) == 1.0

    def _minhash(self, t=None, tr=None):
        from sparkval.pipeline import dedup

        return self._pair_op(tr, t, "pipeline.dedup.near_duplicates_minhash", "minhash",
                             lambda: dedup.near_duplicates_minhash(self.docs),
                             self.truth.exact_pairs)

    def run_minhash(self, t):
        return self._minhash(t=t)

    def trace_minhash(self, tr):
        return self._minhash(tr=tr)

    def _check_kept(self, kept: set) -> bool:
        """Exact copies collapse: the higher id of each planted copy
        pair is gone; near-dup clustering removes at least those."""
        gone = {b for _, b in self.truth.exact_pairs}
        return not (gone & kept) and len(kept) <= self.truth.n_docs - len(gone)

    def run_dedupe(self, t):
        from sparkval.pipeline import dedup

        kept = dedup.dedupe_near_duplicates(self.docs)
        t.called()
        ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
        t.done()
        return self._check_kept(ids)

    def trace_dedupe(self, tr):
        """dedupe_near_duplicates' stages: exact contraction, minhash
        pairs, connected components; the final anti-join is benchmark
        glue outside any layer span."""
        from sparkval.pipeline import dedup

        with tr.span("pipeline.dedup.dedupe_keep_canonical", "dedupe") as sp:
            work = dedup.dedupe_keep_canonical(self.docs)
            sp.called()
            work = work.localCheckpoint(eager=True)
        with tr.span("pipeline.dedup.near_duplicates_minhash", "dedupe") as sp:
            pairs = dedup.near_duplicates_minhash(work)
            sp.called()
            pairs = pairs.localCheckpoint(eager=True)
        with tr.span("pipeline.dedup.connected_components", "dedupe") as sp:
            labels = dedup.connected_components(pairs)
            sp.called()
            labels = labels.localCheckpoint(eager=True)
        losers = labels.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("doc_id"))
        ids = {r["doc_id"] for r in work.join(losers, ["doc_id"], "left_anti")
               .select("doc_id").collect()}
        return self._check_kept(ids)

    def _simhash(self, t=None, tr=None):
        from sparkval.pipeline import dedup

        return self._pair_op(tr, t, "pipeline.dedup.near_duplicates_simhash", "simhash",
                             lambda: dedup.near_duplicates_simhash(self.docs),
                             self.truth.exact_pairs)

    def run_simhash(self, t):
        return self._simhash(t=t)

    def trace_simhash(self, tr):
        return self._simhash(tr=tr)

    def _levenshtein(self, t=None, tr=None):
        from sparkval.pipeline import dedup

        return self._pair_op(tr, t, "pipeline.dedup.near_duplicates_levenshtein",
                             "levenshtein",
                             lambda: dedup.near_duplicates_levenshtein(self.titles),
                             self.truth.typo_pairs)

    def run_levenshtein(self, t):
        return self._levenshtein(t=t)

    def trace_levenshtein(self, tr):
        return self._levenshtein(tr=tr)

    def _cosine(self, t=None, tr=None):
        from sparkval.pipeline import similarity

        return self._pair_op(tr, t, "pipeline.similarity.near_duplicates_cosine", "cosine",
                             lambda: similarity.near_duplicates_cosine(self.vecs),
                             self.truth.scaled_pairs)

    def run_cosine(self, t):
        return self._cosine(t=t)

    def trace_cosine(self, tr):
        return self._cosine(tr=tr)

    def _check_quantiles(self, rows) -> bool:
        """Every (bucket, lang) present, quantiles ordered, p50 within
        15% of the exact median (the sketch's documented property)."""
        want = self.truth.median_length
        got = {(r["repo_bucket"], r["lang"]): r for r in rows}
        if set(got) != set(want):
            return False
        for key, r in got.items():
            exact = want[key]
            if not (r["len_p50"] <= r["len_p90"] <= r["len_p99"]):
                return False
            if abs(r["len_p50"] - exact) > 0.15 * exact:
                return False
        return True

    def run_tdigest(self, t):
        from sparkval import stats

        df = stats.length_tdigests(self.corpus, self.config)
        t.called()
        rows = df.select("repo_bucket", "lang", "len_p50", "len_p90", "len_p99").collect()
        t.done()
        return self._check_quantiles(rows)

    def trace_tdigest(self, tr):
        from sparkval import stats

        with tr.span("stats.length_tdigests", "tdigest") as sp:
            df = stats.length_tdigests(self.corpus, self.config)
            sp.called()
            rows = df.select("repo_bucket", "lang", "len_p50", "len_p90", "len_p99").collect()
        return self._check_quantiles(rows)


WORKLOADS = {w.name: w for w in (EngineValidate, CurationDedup)}

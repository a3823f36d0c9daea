"""Seeded input generators for the benchmark workloads.

Every input is a pure function of (seed, scale): the same seed gives
byte-identical parquet files. Each generator also returns the ground
truth it planted (violation counts, drifted partitions, near-duplicate
pairs), so correctness is checked against what was planted, not against
a second run of the program under test.

Partition keys follow the engine's documented contract: a row's
partition is ``(crc32(repo) % n_repo_buckets, lang)``; the bucket is
computed here with ``zlib`` so the truth does not come from sparkval.
"""

from __future__ import annotations

import hashlib
import os
import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_BUCKETS = 16  # ValidationConfig().n_repo_buckets
CORPUS_LANGS = ["python", "rust", "go", "js", "c"]
HOT_REPO = "hot-monorepo"
N_COLD_REPOS = 49
COMMITS_PER_REPO = 64
#: rows in a drifted partition are planted, 1 in PLANT_EVERY each, as
#: a duplicate-key row or a NULL content
PLANT_EVERY = 97
#: rows anywhere whose commit is dangling (not in the commits table)
ORPHAN_EVERY = 211


def repo_bucket(repo: str) -> int:
    return zlib.crc32(repo.encode("utf-8")) % N_BUCKETS


REPOS = [HOT_REPO] + [f"r{i}" for i in range(N_COLD_REPOS)]


_TRANSLATE_DRIFT = str.maketrans("0123", "wxyz")


def _commit(repo: str, k: int) -> str:
    return hashlib.sha256(f"{repo}#{k}".encode()).hexdigest()[:12]


def corpus_table(seed: int, n_rows: int, repeat: int, id_offset: int = 0) -> pa.Table:
    """Lineitem-shaped corpus rows ``(repo, path, commit, lang,
    content)``: one hot repo holds ~30% of the rows, content is a
    lineitem-like record (keys, prices, flags, dates) repeated
    1..2*repeat-1 times, so lengths and byte mixes are non-trivial."""
    rng = np.random.default_rng([seed, 1, id_offset])
    ids = np.arange(id_offset, id_offset + n_rows)
    hot = rng.random(n_rows) < 0.3
    repo_idx = np.where(hot, 0, 1 + rng.integers(N_COLD_REPOS, size=n_rows))
    commit_k = rng.integers(COMMITS_PER_REPO, size=n_rows)
    lang = rng.integers(len(CORPUS_LANGS), size=n_rows)
    dirs = rng.integers(97, size=n_rows)
    f1, f2, f3 = (rng.integers(m, size=n_rows) for m in (200_000, 10_000, 50))
    price = rng.integers(10_000_000, size=n_rows)
    disc = rng.integers(10, size=n_rows)
    flag = rng.integers(3, size=n_rows)
    day = rng.integers(2500, size=n_rows)
    times = 1 + rng.integers(2 * repeat - 1, size=n_rows)
    epoch = np.datetime64("1992-01-01")
    commits = {}
    content, path, commit = [], [], []
    for i in range(n_rows):
        r = REPOS[repo_idx[i]]
        key = (repo_idx[i], commit_k[i])
        if key not in commits:
            commits[key] = _commit(r, int(commit_k[i]))
        commit.append(commits[key])
        path.append(f"d{dirs[i]}/f{ids[i]}.src")
        rec = (f"{ids[i]} {f1[i]} {f2[i]} {f3[i] + 1} {price[i] / 100:,.2f} "
               f"0.0{disc[i]} {'ANR'[flag[i]]} {epoch + day[i]}")
        content.append(" ".join([rec] * int(times[i])))
    return pa.table({
        "repo": [REPOS[k] for k in repo_idx],
        "path": path,
        "commit": commit,
        "lang": np.array(CORPUS_LANGS)[lang],
        "content": content,
    })


def drift_text(text: str) -> str:
    """Byte-mix drift: digits 0-3 become letters, so the byte histogram
    of a drifted partition moves far past the FAIL threshold."""
    return text.translate(_TRANSLATE_DRIFT)


def write_drifted_file(path: str, seed: int, n_rows: int, repeat: int, id_offset: int,
                       commits: set) -> int:
    """Write one parquet file of corpus rows whose content is all
    drifted; return how many of its rows reference a (repo, commit)
    outside ``commits`` (each one a referential violation)."""
    tbl = corpus_table(seed, n_rows, repeat, id_offset)
    drifted = [drift_text(c) for c in tbl.column("content").to_pylist()]
    pq.write_table(tbl.set_column(4, "content", pa.array(drifted, pa.string())), path)
    keys = zip(tbl.column("repo").to_pylist(), tbl.column("commit").to_pylist())
    return sum(k not in commits for k in keys)


@dataclass
class EngineTruth:
    partitions: set = field(default_factory=set)  # every (bucket, lang)
    drifted: set = field(default_factory=set)     # planted drift: non-PASS
    #: partitions in buckets with no drifted partition: PASS. The others
    #: share their bucket's lang-mix channel with a drifted partition
    #: whose row count the planted duplicates changed, so they may WARN.
    untouched: set = field(default_factory=set)
    violations: dict = field(default_factory=dict)  # check -> rows
    n_files: int = 0        # snapshot rows ("files" of the corpus)
    input_bytes: int = 0    # snapshot parquet bytes
    commits: set = field(default_factory=set)  # (repo, commit) in the commits table


def choose_drifted(seed: int, n: int) -> set:
    rng = np.random.default_rng([seed, 2])
    cells = [(b, lang) for b in sorted({repo_bucket(r) for r in REPOS})
             for lang in CORPUS_LANGS]
    idx = rng.choice(len(cells), size=n, replace=False)
    return {cells[i] for i in idx}


def partition_keys(table: pa.Table) -> list:
    return [(repo_bucket(r), lg) for r, lg in
            zip(table.column("repo").to_pylist(), table.column("lang").to_pylist())]


def plant(table: pa.Table, seed: int, drifted: set) -> tuple[pa.Table, pa.Table, dict]:
    """Split a clean corpus into (baseline side, snapshot side, planted
    violation counts).

    Inside the ``drifted`` (bucket, lang) partitions the snapshot gets
    drifted content, one duplicate-key row per PLANT_EVERY rows and one
    NULL content per PLANT_EVERY rows. Everywhere, one row in
    ORPHAN_EVERY carries a commit missing from the commits table; it
    is the same on both sides, so it moves no histogram. Untouched
    partitions are byte-identical on both sides."""
    rng = np.random.default_rng([seed, 3])
    n = table.num_rows
    in_drift = np.array([k in drifted for k in partition_keys(table)], dtype=bool)
    cls = rng.integers(PLANT_EVERY, size=n)
    dup = in_drift & (cls == 0)
    null = in_drift & (cls == 1)
    orphan = (rng.integers(ORPHAN_EVERY, size=n) == 0) & ~dup & ~null
    commit = np.array(table.column("commit").to_pylist(), dtype=object)
    commit[orphan] = ["gone" + c[:8] for c in commit[orphan]]
    base = table.set_column(2, "commit", pa.array(commit.tolist(), pa.string()))
    content = base.column("content").to_pylist()
    snap_content = [
        None if nl else (drift_text(c) if dr else c)
        for c, dr, nl in zip(content, in_drift, null)
    ]
    snap = base.set_column(4, "content", pa.array(snap_content, pa.string()))
    snap = pa.concat_tables([snap, snap.filter(pa.array(dup))])
    return base, snap, {
        "uniqueness": 2 * int(dup.sum()),
        "null_required": int(null.sum()),
        "referential_commit_repo": int(orphan.sum()),
    }


def commit_pairs(base: pa.Table) -> set:
    return {(r, c) for r, c in zip(base.column("repo").to_pylist(),
                                   base.column("commit").to_pylist())
            if not c.startswith("gone")}


def write_engine_inputs(root: str, seed: int, n_rows: int, repeat: int,
                        n_files: int, n_drifted: int = 4) -> EngineTruth:
    """Write ``corpus`` (the baseline side), ``snapshot`` and
    ``commits`` parquet under ``root``; see ``plant`` for what the
    snapshot carries."""
    drifted = choose_drifted(seed, n_drifted)
    base, snap, counts = plant(corpus_table(seed, n_rows, repeat), seed, drifted)
    commits = commit_pairs(base)
    write_files(base, f"{root}/corpus", n_files)
    write_files(snap, f"{root}/snapshot", n_files)
    pairs = sorted(commits)
    write_files(pa.table({"repo": [p[0] for p in pairs], "commit": [p[1] for p in pairs]}),
                f"{root}/commits", 1)
    present = set(partition_keys(base))
    drifted_buckets = {b for b, _ in drifted}
    return EngineTruth(
        partitions=present,
        drifted=drifted & present,
        untouched={k for k in present if k[0] not in drifted_buckets},
        violations=counts,
        n_files=snap.num_rows,
        input_bytes=parquet_bytes(f"{root}/snapshot"),
        commits=commits,
    )


def parquet_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f))
                     for f in files if f.endswith(".parquet"))
    return total


# -- curation inputs --------------------------------------------------------

@dataclass
class CurationTruth:
    exact_pairs: set = field(default_factory=set)   # minhash, simhash must find
    typo_pairs: set = field(default_factory=set)    # levenshtein must find
    scaled_pairs: set = field(default_factory=set)  # cosine must find
    n_docs: int = 0
    #: (bucket, lang) -> exact median content length, for the quantile check
    median_length: dict = field(default_factory=dict)


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, size=n)
    return np.array(["".join(rng.choice(letters, size=k)) for k in lens])


def _pairs(ids_a: np.ndarray, ids_b: np.ndarray) -> set:
    return {(int(min(a, b)), int(max(a, b))) for a, b in zip(ids_a, ids_b)}


def write_curation_inputs(root: str, seed: int, n_base: int, n_mutants: int,
                          n_exact: int, n_titles: int, n_vec_base: int,
                          n_vec_scaled: int, n_vec_noisy: int,
                          n_files: int) -> CurationTruth:
    """Write ``docs`` (doc_id, text, lang, source), ``titles`` (doc_id,
    text) and ``vecs`` (vec_id, embedding) parquet under ``root``.

    docs: ``n_base`` documents of 40-120 words, each followed by
    ``n_mutants`` one-word mutants, plus ``n_exact`` verbatim copies of
    seeded base documents. titles: ``n_titles`` short word strings,
    half of them with a one-character typo copy after the 12-char
    blocking prefix. vecs: ``n_vec_base`` unit vectors (dim 64), plus
    positively scaled copies (cosine 1) and small-noise copies."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, 4000)
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    zipf /= zipf.sum()

    base = []
    for _ in range(n_base):
        base.append(rng.choice(len(vocab), size=int(rng.integers(40, 121)), p=zipf))
    texts, origin = [], []
    for i, words in enumerate(base):
        texts.append(" ".join(vocab[words]))
        origin.append(i)
        for _ in range(n_mutants):
            w = words.copy()
            w[rng.integers(len(w))] = rng.integers(len(vocab))
            texts.append(" ".join(vocab[w]))
            origin.append(-1)
    exact_src = rng.choice(n_base, size=n_exact, replace=False)
    base_pos = {o: k for k, o in enumerate(origin) if o >= 0}
    exact_rows = [base_pos[int(i)] for i in exact_src]
    texts += [texts[k] for k in exact_rows]
    n_docs = len(texts)
    ids = rng.permutation(n_docs).astype(np.int64) * 3 + 1  # sparse, unordered
    exact_pairs = _pairs(ids[exact_rows], ids[n_docs - n_exact:])
    langs = np.array(CORPUS_LANGS)[rng.integers(len(CORPUS_LANGS), size=n_docs)]
    sources = np.array([f"src{i}" for i in range(8)])[rng.integers(8, size=n_docs)]
    write_files(pa.table({"doc_id": ids, "text": texts, "lang": langs, "source": sources}),
                f"{root}/docs", n_files)

    median_length: dict = {}
    tlen = np.array([len(t) for t in texts])
    buckets = np.array([repo_bucket(s) for s in sources])
    for key in {(int(b), str(lg)) for b, lg in zip(buckets, langs)}:
        sel = (buckets == key[0]) & (langs == key[1])
        median_length[key] = float(np.median(tlen[sel]))

    # titles: uniform words, so 12-char prefixes rarely collide
    title_words = [" ".join(vocab[rng.integers(len(vocab), size=int(rng.integers(5, 9)))])
                   for _ in range(n_titles)]
    typo_src = rng.choice(n_titles, size=n_titles // 2, replace=False)
    typos = []
    for i in typo_src:
        t = title_words[int(i)]
        pos = int(rng.integers(12, len(t))) if len(t) > 12 else len(t) - 1
        c = "q" if t[pos] != "q" else "z"
        typos.append(t[:pos] + c + t[pos + 1:])
    all_titles = title_words + typos
    tids = rng.permutation(len(all_titles)).astype(np.int64) * 5 + 2
    typo_pairs = _pairs(tids[typo_src], tids[n_titles:])
    write_files(pa.table({"doc_id": tids, "text": all_titles}), f"{root}/titles", n_files)

    dim = 64
    v = rng.standard_normal((n_vec_base, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    s_src = rng.choice(n_vec_base, size=n_vec_scaled, replace=False)
    scaled = v[s_src] * rng.uniform(0.5, 2.0, size=(n_vec_scaled, 1))
    n_src = rng.choice(n_vec_base, size=n_vec_noisy)
    noisy = v[n_src] + rng.standard_normal((n_vec_noisy, dim)) * 0.05
    allv = np.vstack([v, scaled, noisy]).astype(np.float32)
    vids = rng.permutation(len(allv)).astype(np.int64) * 7 + 3
    scaled_pairs = _pairs(vids[s_src], vids[n_vec_base:n_vec_base + n_vec_scaled])
    emb = pa.FixedSizeListArray.from_arrays(pa.array(allv.ravel()), dim).cast(
        pa.list_(pa.float32()))
    write_files(pa.table({"vec_id": vids, "embedding": emb}), f"{root}/vecs", n_files)

    return CurationTruth(
        exact_pairs=exact_pairs,
        typo_pairs=typo_pairs,
        scaled_pairs=scaled_pairs,
        n_docs=n_docs,
        median_length=median_length,
    )


def write_files(table: pa.Table, path: str, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, f"{path}/part-{i:05d}.parquet")

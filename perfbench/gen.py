"""Seeded corpus generator for the benchmark.

Writes the ``(repo, path, commit, lang, content)`` table the package reads
through ``sources.corpus.read_corpus``.  Two shapes:

- ``planted``: repos grouped into pools that draw file contents from a
  pool-local set, with a small share of rows drawing from one global set
  (sparse cross-pool links).  Inside a repo, files belong to modules and a
  commit touches files of mostly one module, so the co-commit file graph
  has module communities and the shared-content repo graph has pool
  communities.
- ``zipf``: repos belong to ecosystems; inside each, shared-content
  multiplicities follow a Zipf law.  The rest of the bodies are
  file-unique, every repo vendors one of a few library files (links across
  ecosystems), and two boilerplate bodies sit in 95% of the repos.  Those
  exceed ``max_group`` and get dropped by the builders' skew cap.  Head
  bodies sit in a fixed number of seeded repos each, under ``max_group``:
  they pass the cap and make the largest buckets of the self-join and the
  hub repos.

The same seed and shape always give the same table.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = np.array(["py", "c", "cpp", "java", "rs"])

# Sizes per shape.  "tiny" is the smoke size: every call and oracle runs,
# on the same engines as at full size, in seconds.
SHAPES = {
    "planted_files": dict(
        kind="planted", n_repos=2250, repos_per_pool=8, files_per_repo=40,
        modules_per_repo=2, commits_per_repo=8, contents_per_pool=120,
        cross_p=0.02, n_global=400,
    ),
    "zipf_repos": dict(
        kind="zipf", n_repos=1100, files_per_repo=8, commits_per_repo=4, n_ecosystems=8,
        vocab=20_000, alpha=0.7, shared_p=0.4, n_boiler=2, boiler_share=0.95,
        n_vendored=60, heads=(450,),
    ),
}
TINY = {
    "planted_files": dict(SHAPES["planted_files"], n_repos=40),
    "zipf_repos": dict(SHAPES["zipf_repos"], n_repos=150, files_per_repo=4,
                       commits_per_repo=2, boiler_share=0.05, heads=(60,)),
}


def _planted(rng, n_repos, repos_per_pool, files_per_repo, modules_per_repo,
             commits_per_repo, contents_per_pool, cross_p, n_global):
    per_module = files_per_repo // modules_per_repo
    n_commits = n_repos * commits_per_repo
    c_repo = np.repeat(np.arange(n_repos), commits_per_repo)
    c_no = np.tile(np.arange(commits_per_repo), n_repos)
    # a commit touches a fixed number of files, half a module to a whole
    # one, drawn from one module, plus an occasional cross-module file
    k = per_module // 2 + c_no % (per_module - per_module // 2 + 1)
    module = rng.integers(modules_per_repo, size=n_commits)
    order = np.argsort(rng.random((n_commits, per_module)), axis=1)
    ci, pos = np.nonzero(np.arange(per_module) < k[:, None])
    cross_module = np.flatnonzero(rng.random(n_commits) < 0.15)
    ci = np.concatenate([ci, cross_module])
    touched = np.concatenate([module[ci[:len(pos)]] * per_module + order[ci[:len(pos)], pos],
                              rng.integers(files_per_repo, size=len(cross_module))])
    cf = np.unique(ci * files_per_repo + touched)
    repo = c_repo[cf // files_per_repo]
    commit = c_no[cf // files_per_repo]
    file = cf % files_per_repo
    pool = repo // repos_per_pool
    local = pool * contents_per_pool + rng.integers(contents_per_pool, size=len(repo))
    cross = rng.random(len(repo)) < cross_p
    key = np.where(cross, -1 - rng.integers(n_global, size=len(repo)), local)
    return repo, file // per_module, file, commit, key


def _zipf(rng, n_repos, files_per_repo, commits_per_repo, n_ecosystems, vocab, alpha,
          shared_p, n_boiler, boiler_share, n_vendored, heads):
    per_repo = files_per_repo * commits_per_repo
    n = n_repos * per_repo
    idx = np.arange(n)
    repo = idx // per_repo
    file = (idx // commits_per_repo) % files_per_repo
    commit = idx % commits_per_repo
    slot = idx % per_repo
    # negative keys are file-unique bodies, never shared
    key = -1 - idx
    # slot 0: every repo vendors one of a few library files, so no repo is
    # isolated and the graph's ids stay dense
    key[slot == 0] = -1 - n - rng.permutation(n_repos) % n_vendored
    # slots 1..n_boiler: boilerplate bodies (licence, empty file), each in
    # the same share of repos
    for b in range(n_boiler):
        has = rng.permutation(n_repos) < boiler_share * n_repos
        key[np.flatnonzero(slot == 1 + b)[has]] = b
    # the next slots: head bodies, each in a fixed number of seeded repos
    for h, size in enumerate(heads):
        has = rng.permutation(n_repos) < size
        key[np.flatnonzero(slot == 1 + n_boiler + h)[has]] = n_boiler + n_ecosystems * vocab + h
    # other slots: each ecosystem (a seeded share of the repos) has its own
    # shared bodies, whose multiplicities follow a Zipf law.  The
    # multiplicities are fixed and only their placement is seeded, so every
    # seed gives a graph of the same degree structure.
    eco = rng.permutation(n_repos) % n_ecosystems
    p = np.arange(1, vocab + 1, dtype=np.float64) ** -alpha
    for e in range(n_ecosystems):
        free = np.flatnonzero((slot > n_boiler + len(heads)) & (eco[repo] == e))
        counts = np.floor(shared_p * len(free) * p / p.sum()).astype(np.int64)
        shared = n_boiler + e * vocab + np.repeat(np.arange(vocab), counts)
        key[rng.choice(free, size=len(shared), replace=False)] = shared
    return repo, np.zeros_like(file), file, commit, key


def _labels(fmt, *cols) -> np.ndarray:
    """``fmt(*row)`` for every row of ``cols``, called once per distinct row."""
    key = np.zeros(len(cols[0]), dtype=np.int64)
    for c in cols:
        key = key * (int(c.max() - c.min()) + 1) + (c - c.min())
    _, first, inv = np.unique(key, return_index=True, return_inverse=True)
    rows = zip(*(c[first].tolist() for c in cols))
    return np.array([fmt(*r) for r in rows], dtype=object)[inv]


def make_corpus(shape: str, seed: int, tiny: bool = False) -> pd.DataFrame:
    params = dict((TINY if tiny else SHAPES)[shape])
    gen = _planted if params.pop("kind") == "planted" else _zipf
    rng = np.random.default_rng([seed, sum(map(ord, shape))])
    repo, module, file, commit, key = gen(rng, **params)
    return pd.DataFrame({
        "repo": _labels("repo_{:05d}".format, repo),
        "path": _labels(lambda m, f: f"src/m{m}/f{f:03d}.{LANGS[f % len(LANGS)]}", module, file),
        "commit": _labels("{:05x}{:04x}".format, repo, commit),
        "lang": LANGS[file % len(LANGS)],
        "content": _labels("file-body-{}".format, key),
    })


def write_corpus(df: pd.DataFrame, path: str, n_files: int) -> None:
    """Parquet in ``n_files`` parts so the scan has one task per core."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(df, preserve_index=False)
    step = -(-len(df) // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))

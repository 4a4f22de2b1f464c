"""Seeded change-event (WAL) generator owned by the benchmark.

The benchmark's inputs must not move when the library changes, so this file
does not import ``linked_maps_spark``: it writes grid-aligned
MULTILINESTRING WKT (0.01-degree pitch, axis-aligned or 45-degree unit steps,
the fixture domain the engine folds) from its own numpy code.

One row is one change event ``(repo, path, commit, lang, content)``.  A key
``(repo, path)`` starts as a few random walks on the grid; every later commit
keeps each unit edge with probability ``keep`` and adds fresh walks, so each
commit edits the key's geometry and deepens its segmentation lattice.

Two shapes:

* ``backfill``: every key is edited in every commit (the lattice deepens
  with every commit, as in a catch-up over a deep history); repos are
  Zipf-skewed so a few repos hold most keys.
* ``live_tail``: a rotating key window.  Key group ``g`` is live for commits
  ``[g, g + lifespan)``, so once the window is full every commit carries the
  same number of events and per-commit work is stationary while the table
  keeps growing.

Everything is a pure function of ``(seed, params)``.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when the generated bytes change for the same (seed, params)
GENERATOR_VERSION = 1

COLUMNS = ("repo", "path", "commit", "lang", "content")

# unit steps a walk may take: the four canonical directions of the grid
_DIRS = np.array([(1, 0), (0, 1), (1, 1), (1, -1)], dtype=np.int64)


def commit_label(i: int) -> str:
    """Year-style edition label; the engine dates editions by its first 4
    characters, so commit ``i`` is edition year ``1950 + i``."""
    return f"{1950 + i:04d}c"


def _rng(seed: int, *streams: int) -> np.random.Generator:
    return np.random.default_rng([seed, *streams])


def _walks(rng: np.random.Generator, grid: int, n: int, length: int) -> np.ndarray:
    """``n`` straight walks of ``length`` unit steps as encoded edge codes.

    An edge is its start point plus a direction index:
    ``code = (d * grid + x) * grid + y``."""
    lo, hi = length + 1, grid - length - 1
    x = rng.integers(lo, hi, size=n)
    y = rng.integers(lo, hi, size=n)
    d = rng.integers(0, len(_DIRS), size=n)
    k = np.arange(length, dtype=np.int64)
    xs = (x[:, None] + k[None, :] * _DIRS[d, 0][:, None]).ravel()
    ys = (y[:, None] + k[None, :] * _DIRS[d, 1][:, None]).ravel()
    ds = np.repeat(d, length)
    return np.unique((ds * grid + xs) * grid + ys)


def to_wkt(codes: np.ndarray, grid: int) -> str:
    """Edge codes → MULTILINESTRING, collinear unit steps merged into runs."""
    d, rest = np.divmod(codes, grid * grid)
    x, y = np.divmod(rest, grid)
    parts = []
    for di, (ux, uy) in enumerate(_DIRS.tolist()):
        m = d == di
        if not m.any():
            continue
        xs, ys = x[m], y[m]
        # the line an edge lies on, and its position along that line
        line = {(1, 0): ys, (0, 1): xs, (1, 1): ys - xs, (1, -1): xs + ys}[(ux, uy)]
        pos = ys if (ux, uy) == (0, 1) else xs
        order = np.lexsort((pos, line))
        line, pos, xs, ys = line[order], pos[order], xs[order], ys[order]
        brk = np.flatnonzero((np.diff(line) != 0) | (np.diff(pos) != 1)) + 1
        starts = np.concatenate(([0], brk))
        ends = np.concatenate((brk, [len(xs)])) - 1
        for s, e in zip(starts.tolist(), ends.tolist()):
            x0, y0 = xs[s], ys[s]
            x1, y1 = xs[e] + ux, ys[e] + uy
            parts.append(f"({x0 / 100:.2f} {y0 / 100:.2f}, {x1 / 100:.2f} {y1 / 100:.2f})")
    return "MULTILINESTRING (" + ", ".join(sorted(parts)) + ")"


def _zipf_repos(rng: np.random.Generator, n_keys: int, n_repos: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n_repos + 1) ** s
    return rng.choice(n_repos, size=n_keys, p=w / w.sum())


def _key_history(rng, n_commits: int, grid: int, n_walks: int, walk_len: int, keep: float):
    """Geometry of one key for each of its ``n_commits`` consecutive edits."""
    codes = _walks(rng, grid, n_walks, walk_len)
    out = [codes]
    for _ in range(n_commits - 1):
        kept = codes[rng.random(codes.size) < keep]
        fresh = _walks(rng, grid, max(1, n_walks // 3), walk_len)
        codes = np.union1d(kept, fresh)
        out.append(codes)
    return out


def generate(seed: int, params: dict) -> dict[str, list[str]]:
    """The WAL as column lists, rows ordered by (commit, path)."""
    shape = params["shape"]
    grid, n_walks, walk_len = params["grid"], params["n_walks"], params["walk_len"]
    keep = params["keep"]
    rows: list[tuple[str, str, str, str, str]] = []
    if shape == "backfill":
        n_keys, n_commits = params["n_keys"], params["n_commits"]
        repos = _zipf_repos(_rng(seed, 0), n_keys, params["n_repos"], params["zipf_s"])
        for k in range(n_keys):
            hist = _key_history(_rng(seed, 1, k), n_commits, grid, n_walks, walk_len, keep)
            for c, codes in enumerate(hist):
                rows.append((f"region_{repos[k]:03d}", f"railroads/{k:05d}",
                             commit_label(c), "wkt", to_wkt(codes, grid)))
    elif shape == "live_tail":
        groups, kpg, life = params["groups"], params["keys_per_group"], params["lifespan"]
        for g in range(groups):
            repos = _zipf_repos(_rng(seed, 2, g), kpg, params["n_repos"], params["zipf_s"])
            for k in range(kpg):
                hist = _key_history(_rng(seed, 3, g, k), life, grid, n_walks, walk_len, keep)
                for i, codes in enumerate(hist):
                    rows.append((f"region_{repos[k]:03d}", f"railroads/g{g:03d}_{k:04d}",
                                 commit_label(g + i), "wkt", to_wkt(codes, grid)))
    else:
        raise ValueError(f"unknown WAL shape {shape!r}")
    rows.sort(key=lambda r: (r[2], r[1]))
    return {c: [r[i] for r in rows] for i, c in enumerate(COLUMNS)}


def digest(wal: dict[str, list[str]]) -> str:
    """sha256 over every row's bytes, in row order."""
    h = hashlib.sha256()
    for row in zip(*(wal[c] for c in COLUMNS)):
        h.update("\x1f".join(row).encode())
        h.update(b"\n")
    return h.hexdigest()


def cached(cache_dir: str, seed: int, params: dict) -> tuple[str, dict]:
    """Generate (or reuse) the WAL for ``(seed, params)`` as a parquet file.

    Returns its path and a summary: event count, commits and content bytes.
    The cache key covers the generator version, so a stale file is never
    reused after the generator changes."""
    key = hashlib.sha256(
        json.dumps([GENERATOR_VERSION, seed, params], sort_keys=True).encode()
    ).hexdigest()[:16]
    path = os.path.join(cache_dir, f"wal-{key}.parquet")
    meta_path = path + ".json"
    if os.path.exists(path) and os.path.exists(meta_path):
        with open(meta_path) as fh:
            return path, json.load(fh)
    wal = generate(seed, params)
    meta = {
        "events": len(wal["commit"]),
        "commits": sorted(set(wal["commit"])),
        "content_bytes": sum(len(c.encode()) for c in wal["content"]),
        "sha256": digest(wal),
    }
    os.makedirs(cache_dir, exist_ok=True)
    tmp = path + f".tmp{os.getpid()}"
    pq.write_table(pa.table({c: pa.array(wal[c], pa.string()) for c in COLUMNS}), tmp)
    os.replace(tmp, path)
    with open(meta_path + f".tmp{os.getpid()}", "w") as fh:
        json.dump(meta, fh)
    os.replace(meta_path + f".tmp{os.getpid()}", meta_path)
    return path, meta

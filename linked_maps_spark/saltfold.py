"""Hot-key salted fold — SURVEY.md §7.3's commit-range/leaf-slice
decomposition of the sequential edition fold.

The fold (``fold.fold_key``, semantics from ``/root/reference/main.py:85-131``)
is sequential per ``(repo, path)`` key: round *r*'s leaf set feeds round
*r+1*.  A Zipf-head key therefore serializes its whole lattice into one task
(round-1 skew gap).  This module parallelizes the one dimension that IS
independent without changing a single output bit:

* Within a round, each leaf's ``I = L ∩ E`` / ``M = L \\ I`` pair depends on
  that leaf alone, and the children stay in the same lineage — so the leaf
  set can be **sliced across salts** and each slice runs the lattice's leaf
  split over the *entire* commit sequence on only its leaves
  (``fold_slice``).
* The only cross-slice value per round is the union of all I-geometries
  (the ``mu`` subtrahend, ``main.py:111-118``; a non-empty union is also
  the "any intersection" bit that decides the edition leaf's fate).  Union
  is associative, so each slice reports a per-round partial and a per-key
  **coordinator** (``fold_coord``) runs the full edition round over the
  edition/mu lineage with the merged partials in its subtrahend.
* ``seq`` is the one output that depends on global creation order.  Names /
  gids / geometry / editions don't (gid = hash of name; names derive from
  parent names + commit), so a final ``renumber`` pass over the nodes'
  creation records (``kind``, ``parent``, ``commit_created``) replays the
  sequential assignment: per round — edition node, then per leaf in
  final-seq order its I then M, then mu.

Slices and coordinator are thin callers of ``fold._Lattice`` — the same
state, rules, quarantine and vectorized split as the plain fold, so the
paths cannot drift.  ``fold_key_salted`` composes the three phases
in-process and is property-tested for bit-equality against ``fold_key``;
the Spark wiring in ``ingest`` runs slices as ``(repo, path, salt)`` groups
and coordinators as ``(repo, path)`` groups.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from . import geometry as G
from .fold import FoldResult, _Lattice, _Node, edition_years


@dataclass
class SliceResult:
    """Phase-1 output of one leaf slice."""

    fold: FoldResult  # nodes carry PROVISIONAL seqs (patched by renumber)
    partials: dict[str, np.ndarray]  # commit -> sorted union of the slice's I ids
    first_seq: int  # 1 + the slice's highest resume-leaf seq


def fold_slice(
    repo: str,
    path: str,
    events: list[dict],
    leaves_in: list[dict],
    geom_type: str = G.LINE,
    on_error: str = "raise",
) -> SliceResult:
    """Fold the full commit sequence over ONE leaf slice: each round runs
    only the lattice's leaf split, wired to the edition's derived gid (the
    coordinator emits the edition node and ``mu``), and reports the union
    of this slice's I ids.  Quarantined events are dropped here; the
    coordinator, which sees the same events, reports them."""
    lattice = _Lattice(repo, path, leaves_in, geom_type, on_error)
    partials: dict[str, np.ndarray] = {}
    for commit, e_ids, _ in lattice.editions(events):
        own = lattice.split(
            commit, e_ids, lattice.gid(commit), tuple(edition_years(commit))
        )
        if own is not None:
            partials[commit] = own
    fold = lattice.result(len(events))
    # result() serialized every node's wkt/sha; the coordinator reads only
    # those and the creation records, so the id arrays stay out of the
    # pickled payload the slice shuffles to it
    for n in fold.nodes:
        n.ids = None
    return SliceResult(fold, partials, lattice.first_seq)


def fold_coord(
    repo: str,
    path: str,
    events: list[dict],
    ext_partials: dict[str, np.ndarray],
    geom_type: str = G.LINE,
    on_error: str = "raise",
) -> FoldResult:
    """Phase 2: the edition / ``mu`` lineage of one key — the full edition
    round over no resume leaves (they all live in slices), with every
    slice's merged partial joining the ``mu`` subtrahend."""
    lattice = _Lattice(repo, path, [], geom_type, on_error)
    for commit, e_ids, extras in lattice.editions(events):
        lattice.edition_round(commit, e_ids, extras, ext_partials.get(commit))
    return lattice.result(len(events))


_KIND_RANK = {"i": 0, "m": 1}


def renumber(nodes: list[_Node], first_seq: int) -> None:
    """Replay the sequential fold's seq assignment in place from the
    nodes' creation records alone: per commit round — edition first, then
    I/M pairs ordered by their parent leaf's (already final) seq with I
    before M, then mu.  Resume leaves (``kind == ""``) keep their seq."""
    seqmap = {n.name: n.seq for n in nodes if not n.kind}
    nxt = first_seq
    by_commit: dict[str, list[_Node]] = {}
    for n in nodes:
        if n.kind:
            by_commit.setdefault(n.commit_created, []).append(n)
    for commit in sorted(by_commit):
        ns = by_commit[commit]
        ims = sorted(
            (n for n in ns if n.kind in _KIND_RANK),
            key=lambda n: (seqmap[n.parent], _KIND_RANK[n.kind]),
        )
        for kind_nodes in (
            [n for n in ns if n.kind == "e"], ims, [n for n in ns if n.kind == "mu"]
        ):
            for n in kind_nodes:
                seqmap[n.name] = n.seq = nxt
                nxt += 1


def merge_partials(slice_partials: list[dict[str, np.ndarray]]) -> dict[str, np.ndarray]:
    """Union per-round partials across slices (union is associative, so
    slice order is irrelevant)."""
    merged: dict[str, np.ndarray] = {}
    for partials in slice_partials:
        for commit, ids in partials.items():
            cur = merged.get(commit)
            merged[commit] = ids if cur is None else G.union_all([cur, ids])
    return merged


def combine(slice_results: list[SliceResult], coord: FoldResult) -> FoldResult:
    """Phase 3: renumber the slice + coordinator nodes and concatenate
    their output into the key's one ``FoldResult``."""
    folds = [sr.fold for sr in slice_results] + [coord]
    nodes = [n for f in folds for n in f.nodes]
    renumber(nodes, max((sr.first_seq for sr in slice_results), default=0))
    nodes.sort(key=lambda n: n.seq)
    return FoldResult(
        nodes=nodes,
        repo=coord.repo,
        path=coord.path,
        geom_type=coord.geom_type,
        relations=[r for f in folds for r in f.relations],
        n_events=coord.n_events,
        n_nodes_created=sum(f.n_nodes_created for f in folds),
        dead=coord.dead,
        # the slices and the coordinator partition the live leaves
        n_leaves=sum(f.n_leaves for f in folds),
    )


def fold_key_salted(
    repo: str,
    path: str,
    events: list[dict],
    leaves_in: list[dict],
    n_salts: int = 4,
    geom_type: str = G.LINE,
    on_error: str = "raise",
) -> FoldResult:
    """In-process composition of the three phases — the executable spec the
    Spark wiring follows, property-tested bit-equal to ``fold_key``."""
    slices: list[list[dict]] = [[] for _ in range(n_salts)]
    for r in leaves_in:
        slices[int(r["seq"]) % n_salts].append(r)
    slice_results = [
        fold_slice(repo, path, events, s, geom_type, on_error) for s in slices
    ]
    ext = merge_partials([sr.partials for sr in slice_results])
    coord = fold_coord(repo, path, events, ext, geom_type, on_error)
    return combine(slice_results, coord)

"""Per-key segmentation fold — the CDC "apply" kernel.

Reproduces the reference's edition fold exactly (semantics from
main.py:85-131 and segment.py:81-115 of /root/reference, re-derived — not
translated):

    leaves = nodes with no children            # main.py:88,123-131
    append edition node E                      # main.py:91
    for each leaf L (creation order):          # main.py:94
        I = intersect(L, E)                    # main.py:96
        if I:                                  #   name i_<md5('i_<L>_<E>')>
            M = minus(L, I)                    # main.py:102  m_<md5('m_<L>_<I>')>
    if any I:                                  # main.py:111
        R = minus_union(E, [I...])             # main.py:113  mu_<md5('mu_<E>_UL')>

Parent wiring: I ← {L, E} (segment.py:88-93); M ← {L} (segment.py:102-104);
R ← {E} (segment.py:112-114).  The G4 type guard (empty result ⇒ no node,
postgis_sqls.py:95-103) maps to "empty id-set ⇒ no node".

Engine deltas vs the reference (all determinism fixes, SURVEY.md §4.1):

* ``gid`` is ``sha256(repo|path|name)[:32]`` instead of a Postgres SERIAL —
  output state becomes independent of execution order across partitions.
* Edition order is the explicit ``commit`` ordering, not ``listdir`` order
  (main.py:141 is OS-dependent).
* Edition years (main.py:66-67: ``name[:4]`` when ``'_' not in name``)
  propagate to descendants at node-creation time — equivalent to the
  creation-ordered transitive date propagation of generate_graph.py:73-75,
  because every parent precedes its children in creation order and a node's
  ancestor set is fixed at creation.

The fold is sequential *within* a ``(repo, path)`` key (semantics-bearing)
and embarrassingly parallel *across* keys — all scale-out comes from the key
dimension (SURVEY.md §7.0).  Tombstone events (``content == ''``,
FIXTURES.md §1) retire the key: current leaves are flagged ``retired`` and
the lattice restarts empty on the next add.

Every rule above lives once, in ``_Lattice``: ``fold_key`` runs its edition
round over the resume leaves, and the salted fold (``saltfold``) runs the
same leaf split per slice and the same round in its per-key coordinator.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field
from itertools import accumulate

import numpy as np

from . import geometry as G

SEGMENT_BASE_COLUMNS = [
    ("repo", "string"),
    ("path", "string"),
    ("gid", "string"),
    ("name", "string"),
    ("seq", "long"),
    ("commit_created", "string"),
    ("wkt", "string"),
    ("content_sha256", "string"),
    ("editions", "array<string>"),
    ("is_leaf", "boolean"),
    ("retired", "boolean"),
]

RELATION_COLUMNS = [
    ("repo", "string"),
    ("path", "string"),
    ("parent_gid", "string"),
    ("child_gid", "string"),
]


def md5_hex(s: str) -> str:
    """Naming hash — the reference's ``hash_string_md5`` (main.py:96,102,113)."""
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def make_gid(repo: str, path: str, name: str) -> str:
    """Deterministic node identity replacing SERIAL gid (postgis_sqls.py:25)."""
    return hashlib.sha256(f"{repo}|{path}|{name}".encode("utf-8")).hexdigest()[:32]


def gid_factory(repo: str, path: str):
    """Per-key closure computing :func:`make_gid` from a COPIED sha256 state
    pre-fed with the ``{repo}|{path}|`` prefix — incremental hashing makes
    ``copy + update(name)`` ≡ hashing the full string, so digests are
    identical while the prefix is hashed once per key instead of once per
    node (the fold creates tens of nodes per key per epoch)."""
    base = hashlib.sha256(f"{repo}|{path}|".encode("utf-8"))

    def gid(name: str) -> str:
        h = base.copy()
        h.update(name.encode("utf-8"))
        return h.hexdigest()[:32]

    return gid


def edition_years(name: str) -> list[str]:
    """Year-extraction rule of main.py:66-67."""
    return [name[:4]] if "_" not in name else []


@dataclass(slots=True)
class _Node:
    seq: int
    gid: str
    name: str
    ids: np.ndarray | None  # None on a salted slice's shipped (serialized) node
    editions: tuple[str, ...]
    commit_created: str
    is_leaf: bool = True
    retired: bool = False
    extras: dict = field(default_factory=dict)
    dirty: bool = True  # needs to be emitted (new node or flag change)
    # canonical serialization carried from the lake row: a state leaf whose
    # geometry is untouched (flag-only change) re-emits these instead of
    # re-serializing — to_wkt was 33% of fold CPU
    wkt: str | None = None
    sha: str | None = None
    # creation record: "e"/"i"/"m"/"mu" for a node this fold created ("" for
    # a resume-state leaf) and, for i/m, the parent leaf's name — what the
    # salted fold's renumber replays the sequential seq order from
    kind: str = ""
    parent: str | None = None


class FoldResult:
    """Fold output.  ``segments`` row dicts are built LAZILY from the node
    objects: the Spark hot path (``ingest._make_fold_fn``) reads the nodes
    column-wise and never pays the dict-per-row cost (``node_to_row`` +
    a row-dict path profiled at ~30% of the fold stage), while every dict
    consumer (tests, oracle) sees the exact rows on first touch of
    ``.segments``.  The plain fold and the salted fold (``saltfold``, whose
    coordinator renumbers the slices' nodes) both return one, built by the
    same ``_Lattice``."""

    __slots__ = (
        "_segments", "relations", "n_events", "n_nodes_created", "dead",
        "nodes", "repo", "path", "geom_type", "n_leaves",
    )

    def __init__(
        self,
        *,
        nodes: "list[_Node]",
        relations: list[dict],
        repo: str,
        path: str,
        geom_type: str,
        n_events: int,
        n_nodes_created: int,
        dead: list[dict],
        n_leaves: int = 0,
    ) -> None:
        self._segments: "list[dict] | None" = None
        self.nodes = nodes
        self.relations = relations
        self.repo = repo
        self.path = path
        self.geom_type = geom_type
        self.n_events = n_events
        self.n_nodes_created = n_nodes_created
        # quarantined poison events (on_error="quarantine"): one dict per
        # skipped event with repo/path/commit/error/content
        self.dead = dead
        #: final ``is_leaf & ~retired`` count after the fold — the engine's
        #: Zipf-head (salting) advisory reads this instead of re-scanning
        #: table state per epoch (ingest emits a kind='hot' marker row when
        #: it crosses the salt threshold)
        self.n_leaves = n_leaves

    @property
    def segments(self) -> list[dict]:
        if self._segments is None:
            self._segments = [
                node_to_row(self.repo, self.path, n, self.geom_type)
                for n in self.nodes
            ]
        return self._segments

    @property
    def n_segments(self) -> int:
        """Row count without materializing the dicts."""
        return len(self.nodes)


def leaves_from_rows(leaves_in: list[dict], geom_type: str = G.LINE) -> "list[_Node]":
    """Rehydrate the live leaf ``_Node``s from ``segments`` table rows (seq
    order); retired rows are dropped."""
    _base = {c for c, _ in SEGMENT_BASE_COLUMNS} | {"is_leaf", "retired"}
    return [
        _Node(
            seq=int(r["seq"]),
            gid=r["gid"],
            name=r["name"],
            ids=G.parse_wkt(r["wkt"], geom_type),
            # editions may arrive as list / numpy array / None via Arrow
            editions=tuple(r["editions"]) if r["editions"] is not None else (),
            commit_created=r.get("commit_created", ""),
            extras={k: v for k, v in r.items() if k not in _base},
            dirty=False,
            wkt=r["wkt"],
            sha=r.get("content_sha256"),
        )
        for r in sorted(leaves_in, key=lambda r: int(r["seq"]))
        if not r.get("retired")
    ]


def serialize_nodes(nodes: "list[_Node]", geom_type: str = G.LINE) -> None:
    """Fill ``wkt``/``sha`` for every un-serialized node in ONE vectorized
    pass (``to_wkt_batch``) — the per-node serializer was the top CPU cost
    of the fold after parse vectorization."""
    need = [n for n in nodes if n.wkt is None]
    wkts = G.to_wkt_batch(
        [n.ids for n in need],
        geom_type,
        # only final leaves are rehydrated (parsed) next epoch — priming
        # interior/retired nodes wastes put-time and cache budget
        prime=[n.is_leaf and not n.retired for n in need],
    )
    for n, w in zip(need, wkts):
        n.wkt = w
        n.sha = G.sha256_hex(w)


def node_to_row(repo: str, path: str, node: "_Node", geom_type: str = G.LINE) -> dict:
    """Serialize a node to a ``segments`` table row (the dict form of
    :class:`FoldResult`; the Spark fold reads the nodes column-wise).
    State leaves whose geometry is untouched reuse their stored canonical
    wkt/sha (bit-identical: to_wkt is a canonical form)."""
    wkt = node.wkt if node.wkt is not None else G.to_wkt(node.ids, geom_type)
    sha = node.sha if node.sha is not None else G.sha256_hex(wkt)
    row = {
        "repo": repo,
        "path": path,
        "gid": node.gid,
        "name": node.name,
        "seq": node.seq,
        "commit_created": node.commit_created,
        "wkt": wkt,
        "content_sha256": sha,
        "editions": list(node.editions),
        "is_leaf": node.is_leaf,
        "retired": node.retired,
    }
    row.update(node.extras)
    return row


def dedup_events(events: list[dict]) -> list[dict]:
    """Deterministic last-writer-wins dedup within a batch: one event per
    commit, largest content wins (SURVEY.md §2.11 window-dedup semantics,
    done fold-side to save a separate window shuffle).  Shared by the
    sequential fold and every salted sub-fold so replicas of the same event
    stream collapse identically."""

    def _ev_rank(e: dict) -> tuple:
        return (
            e.get("content") or "",
            tuple(
                sorted(
                    (k, str(v))
                    for k, v in e.items()
                    if k not in ("repo", "path", "commit")
                )
            ),
        )

    by_commit: dict[str, dict] = {}
    for ev in events:
        cur = by_commit.get(ev["commit"])
        if cur is None or _ev_rank(ev) > _ev_rank(cur):
            by_commit[ev["commit"]] = ev
    return sorted(by_commit.values(), key=lambda e: e["commit"])




_EVENT_KEYS = ("repo", "path", "commit", "content")


class _Lattice:
    """One key's edition lattice — the one implementation of the fold's
    rules, driven by the plain fold (:func:`fold_key`) and by the salted
    leaf slices and coordinator (``saltfold``), which differ only in the
    leaves they start from and the round they run per edition.

    Holds the live ``leaves`` (creation order), ``next_seq``, the
    ``created`` and ``touched`` nodes, the ``relations`` and the
    quarantined ``dead`` events."""

    __slots__ = (
        "repo", "path", "geom_type", "on_error", "leaves", "first_seq",
        "next_seq", "created", "touched", "relations", "dead", "gid",
    )

    def __init__(
        self, repo: str, path: str, leaves_in: list[dict],
        geom_type: str = G.LINE, on_error: str = "raise",
    ) -> None:
        if on_error not in ("raise", "quarantine"):
            raise ValueError(f"on_error must be 'raise' or 'quarantine', got {on_error!r}")
        self.repo, self.path = repo, path
        self.geom_type, self.on_error = geom_type, on_error
        self.leaves: list[_Node] = leaves_from_rows(leaves_in, geom_type)
        # a key's highest-seq node is always a leaf (a child is created after
        # its parent), but it may be retired: numbering past the retired rows
        # too keeps a re-add after a tombstone from reusing their seqs
        self.first_seq = max((int(r["seq"]) for r in leaves_in), default=-1) + 1
        self.next_seq = self.first_seq
        self.created: list[_Node] = []
        self.touched: dict[str, _Node] = {}
        self.relations: list[dict] = []
        self.dead: list[dict] = []
        self.gid = gid_factory(repo, path)

    def new(self, kind, name, ids, editions, commit, parent=None, extras=None) -> _Node:
        node = _Node(
            seq=self.next_seq,
            gid=self.gid(name),
            name=name,
            ids=ids,
            editions=editions,
            commit_created=commit,
            extras=extras or {},
            kind=kind,
            parent=parent,
        )
        self.next_seq += 1
        self.created.append(node)
        self.touched[node.gid] = node
        return node

    def link(self, parent: _Node, child: _Node) -> None:
        self.relations.append(
            {"repo": self.repo, "path": self.path,
             "parent_gid": parent.gid, "child_gid": child.gid}
        )
        if parent.is_leaf:
            parent.is_leaf = False
            parent.dirty = True
            self.touched[parent.gid] = parent

    def editions(self, events: list[dict]):
        """Yield ``(commit, ids, extras)`` per edition round, in commit
        order, after the within-batch commit dedup.  A tombstone retires
        every live leaf (the lattice restarts empty on the next add); a
        poison event raises or, under ``on_error="quarantine"``, lands in
        ``dead`` exactly as if it never appeared.  After each round the
        next leaf set is rebuilt."""
        geom_type = self.geom_type
        for ev in dedup_events(events):
            n_before = len(self.created)
            commit = ev["commit"]
            content = ev.get("content") or ""
            if content.strip() == "":
                # tombstone: retire the key; lattice restarts empty (FIXTURES.md §1)
                for leaf in self.leaves:
                    leaf.retired = True
                    leaf.dirty = True
                    self.touched[leaf.gid] = leaf
                self.leaves = []
                continue
            try:
                ids = G.parse_wkt(content, geom_type)
            except G.GeometryError as exc:
                if self.on_error != "quarantine":
                    raise
                self.dead.append({
                    "repo": self.repo, "path": self.path, "commit": commit,
                    "error": str(exc), "content": content[:256],
                })
                continue
            yield commit, ids, {k: v for k, v in ev.items() if k not in _EVENT_KEYS}
            # next round's leaves, in creation (seq) order — main.py:123-131.
            # Incremental form of the "pool every node ever created, filter,
            # sort" rebuild (O(nodes) per event): is_leaf/retired transitions
            # are one-way (True→False / False→True), so a node created in an
            # earlier round re-enters only via ``leaves`` itself; both parts
            # are already seq-ordered and every new seq exceeds every old
            # one, so the concatenation needs no sort.
            self.leaves = [n for n in self.leaves if n.is_leaf and not n.retired] + [
                n for n in self.created[n_before:] if n.is_leaf and not n.retired
            ]

    def split(self, commit: str, e_ids: np.ndarray, e_gid: str, e_editions: tuple):
        """Split every live leaf L by edition ``commit`` (main.py:94-109):
        ``I = L ∩ E`` (child of L and of the edition, by ``e_gid``) and
        ``M = L \\ I`` (child of L).  Returns the sorted union of the
        round's I ids, or ``None`` when no leaf intersects."""
        leaves = self.leaves
        if not leaves or not e_ids.size:
            return None
        # Live leaves are pairwise DISJOINT (each round replaces an
        # intersected leaf with its {i, m} partition; mu ⊆ e avoids the
        # untouched leaves by construction), so the per-leaf
        # intersect/difference probes collapse into ONE vectorized
        # membership test of the concatenated leaf mass against e_ids:
        # i_k = leaf_k[mask_k] and m_k = leaf_k[~mask_k] are exactly
        # G.intersect/G.difference's answers (same per-leaf sorted order),
        # and ∪i = sort(cat[mask]) because the leaves are disjoint.
        lens = [leaf.ids.size for leaf in leaves]
        cat = np.concatenate([leaf.ids for leaf in leaves])
        pos = np.searchsorted(e_ids, cat)
        pos[pos == e_ids.size] = 0
        mask = e_ids[pos] == cat
        if not mask.any():
            return None
        # plain slices, not np.split (array_split's per-chunk machinery was
        # itself a profile line at deep-lattice scale); offsets via
        # itertools.accumulate — np.cumsum on a tiny python list pays more
        # in array conversion than the sum itself.  Hot methods are bound
        # to locals: attribute lookups inside this loop cost measurable CPU.
        offs = list(accumulate(lens, initial=0))
        new, link, relations = self.new, self.link, self.relations
        repo, path = self.repo, self.path
        for k, leaf in enumerate(leaves):
            mk = mask[offs[k]:offs[k + 1]]
            i_ids = leaf.ids[mk]
            if G.is_multi(i_ids):  # G4 guard
                i_node = new(
                    "i", "i_" + md5_hex(f"i_{leaf.name}_{commit}"), i_ids,
                    tuple(dict.fromkeys(leaf.editions + e_editions)), commit, leaf.name,
                )
                link(leaf, i_node)
                relations.append(
                    {"repo": repo, "path": path, "parent_gid": e_gid, "child_gid": i_node.gid}
                )
                m_ids = leaf.ids[~mk]
                if G.is_multi(m_ids):
                    m_name = "m_" + md5_hex(f"m_{leaf.name}_{i_node.name}")
                    link(leaf, new("m", m_name, m_ids, leaf.editions, commit, leaf.name))
        return np.sort(cat[mask])

    def edition_round(self, commit: str, e_ids: np.ndarray, extras: dict, ext=None) -> None:
        """One edition round (main.py:91-118): edition node E, the leaf
        :meth:`split`, then ``mu = E \\ ∪I`` when any I exists.  ``ext`` is
        the union of other slices' I ids for this round (salted
        coordinator); it joins the ``mu`` subtrahend."""
        e_node = self.new("e", commit, e_ids, tuple(edition_years(commit)), commit, extras=extras)
        sub = self.split(commit, e_ids, e_node.gid, e_node.editions)
        if ext is not None:
            sub = ext if sub is None else G.union_all([sub, ext])
        if sub is not None:
            e_node.is_leaf = False  # parent of the round's I nodes
            r_ids = G.difference(e_ids, sub)
            if G.is_multi(r_ids):
                mu_name = "mu_" + md5_hex(f"mu_{commit}_UL")
                self.link(e_node, self.new("mu", mu_name, r_ids, e_node.editions, commit))

    def result(self, n_events: int) -> FoldResult:
        nodes = sorted(self.touched.values(), key=lambda n: n.seq)
        serialize_nodes(nodes, self.geom_type)
        return FoldResult(
            nodes=nodes,
            repo=self.repo,
            path=self.path,
            geom_type=self.geom_type,
            relations=self.relations,
            n_events=n_events,
            n_nodes_created=len(self.created),
            dead=self.dead,
            n_leaves=len(self.leaves),
        )


def fold_key(
    repo: str,
    path: str,
    events: list[dict],
    leaves_in: list[dict],
    geom_type: str = G.LINE,
    on_error: str = "raise",
) -> FoldResult:
    """Fold ordered change events for one key over its current leaf state.

    ``events``: dicts with at least ``commit`` and ``content`` (extra keys are
    carried through onto the edition node — the schema-evolution path).
    ``leaves_in``: current ``is_leaf`` rows of the ``segments`` table for this
    key (``gid, name, seq, wkt, editions``), i.e. resume state lives in the
    lake table itself, not in Spark state stores (SURVEY.md §7.3).  Retired
    rows only advance the seq numbering; their ``wkt`` may be NULL.

    ``on_error``: ``"raise"`` (default — a malformed event aborts the fold,
    the exactly-once replay contract) or ``"quarantine"`` — a poison event
    (unparseable / off-grid / wrong-type WKT) is skipped EXACTLY as if it
    never appeared in the WAL (the remaining fold is bit-identical to
    folding the clean subset, tested) and reported in ``FoldResult.dead``
    for the engine's dead-letter table.  Quarantine runs after the
    within-batch commit dedup, so a poison replica that out-ranks a clean
    one under last-writer-wins quarantines the commit (deterministic both
    ways).
    """
    lattice = _Lattice(repo, path, leaves_in, geom_type, on_error)
    for commit, e_ids, extras in lattice.editions(events):
        lattice.edition_round(commit, e_ids, extras)
    return lattice.result(len(events))

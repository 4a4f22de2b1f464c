"""Deterministic grid-geometry kernel (the engine's compute algebra).

The reference implements its segmentation algebra as PostGIS SQL
(reference: postgis_sqls.py:32-105, dispatched from segment.py:60-115):

* G1 ``intersect(L, E)``  = ``ST_MULTI(ST_INTERSECTION(L, ST_INTERSECTION(
  ST_Buffer(L, 0.0015), ST_Buffer(E, 0.0015))))``    (MULTILINESTRING mode)
* G2 ``minus(L, I)``      = same template with ``ST_DIFFERENCE``
* G3 ``minus_union(E, Is)`` = G2 with subtrahend ``ST_Multi(ST_Union(...))``
* G4 result-type guard    = keep only ``ST_MultiLineString`` /
  ``ST_MultiPolygon`` results (drops empty / collapsed geometries,
  postgis_sqls.py:95-103)
* A1 dissolve             = ``ST_UNION(geom)`` over an edition's features
  (postgis_sqls.py:119-128)

This engine runs without a C geometry library (no GEOS/Shapely in the
runtime), so it fixes the geometry domain to **grid-aligned** polylines /
polygons — exactly the fixture shape FIXTURES.md §2 mandates: all vertices on
multiples of ``PITCH = 0.01°``, segments axis-aligned or 45°, well above the
reference's 0.0015° buffer.  On that domain the buffered PostGIS algebra
degenerates to *exact set algebra over elementary grid edges / cells*:

* two grid-aligned polylines overlap (within the 0.0015 buffer tolerance)
  iff they share elementary unit edges, because distinct grid edges are
  ≥ ``PITCH/2 > 2×buffer`` apart;
* ``ST_INTERSECTION`` → set intersection of edge ids,
  ``ST_DIFFERENCE`` → set difference, ``ST_UNION`` → set union;
* the G4 type guard → "result edge-set is non-empty".

That makes every geometry op a vectorized ``numpy`` set operation on sorted
``int64`` arrays — deterministic bit-for-bit across partitions, executors and
replays, which is the precondition for the per-row ``sha256(content)``
replay invariant (BASELINE.json ``input_hint``).

Encoding
--------
grid point  ``pid = ix * 2^14 + iy``      (ix, iy = round(coord / PITCH))
unit edge   ``eid = min(p,q) * 2^28 + max(p,q)``   (LINE mode, fits int64)
unit cell   ``cid = pid of the SW corner``          (POLYGON mode)

Codec
-----
One batch kernel per direction; the single-string calls are batches of one.

* Parse: :func:`parse_lines` turns N LINE strings into per-string sorted
  unique edge ids (or that string's :class:`GeometryError`) in one numpy
  pass; :func:`parse_wkt`'s miss path, :func:`preparse_wkts` and the
  osm_link chunk parse all call it.  POLYGON strings parse one at a time.
* Serialize: :func:`to_wkt_batch` merges collinear unit runs (LINE) or
  row-strips (POLYGON) with one rule — a packed ``(node, group, pos)`` key,
  one ``argsort``, a run break wherever the key steps by ≠ 1 — and emits
  runs in ``(sx, sy, ex, ey)`` order; :func:`to_wkt` is a batch of one.

So ``parse → to_wkt`` is a stable canonical form:
``content_sha256 = sha256(canonical_wkt)``.
"""

from __future__ import annotations

import hashlib
import re
from collections import OrderedDict

import numpy as np

PITCH = 0.01  # degrees; grid pitch (FIXTURES.md §2)
_SCALE = 1.0 / PITCH
# 14 bits per axis → pid < 2^28, edge id < 2^56: fits int64 with headroom.
# Grid range is therefore [0, 163.83°] per axis at 0.01° pitch.
_P = 1 << 14  # point-id base (per-axis capacity)
_E = 1 << 28  # edge-id base

LINE = "MULTILINESTRING"
POLYGON = "MULTIPOLYGON"

# unit step directions a polyline segment may take (axis-aligned or 45°);
# the synthetic change-log walks draw from them
_DIRS = ((1, 0), (0, 1), (1, 1), (1, -1))


def _pid(ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
    return ix.astype(np.int64) * _P + iy.astype(np.int64)


class GeometryError(ValueError):
    pass


# ---------------------------------------------------------------- parsing


_RING_RE = re.compile(r"\(([^()]+)\)")
_OFF_GRID = f"coordinate not on the {PITCH}° grid"
_OUT_OF_RANGE = "coordinate outside grid range"


def split_groups(s: str) -> list[str]:
    """Top-level parenthesized groups of ``s`` (paren-depth splitter) —
    shared with the snap-rounding front-end for structure-aware parsing."""
    groups: list[str] = []
    depth = 0
    start = -1
    for i, ch in enumerate(s):
        if ch == "(":
            depth += 1
            if depth == 1:
                start = i + 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                groups.append(s[start:i])
    if depth != 0:
        raise GeometryError("unbalanced parentheses in WKT")
    return groups


def _floats(tokens: list[str]) -> np.ndarray:
    """Coordinate tokens → float64; a non-numeric token is a GeometryError
    carrying numpy's own message (it lands in ``dead_letter.error``)."""
    try:
        return np.asarray(tokens, dtype=np.float64)
    except ValueError as exc:
        raise GeometryError(str(exc)) from None


def _snap(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Grid indices of coordinate values plus their two fault masks, in the
    parse's check order: off the grid (NaN included), outside the range."""
    iv = np.rint(vals * _SCALE).astype(np.int64)
    return iv, ~(np.abs(vals - iv * PITCH) <= 1e-9), (iv < 0) | (iv >= _P)


def _parse_rings(body: str) -> list[np.ndarray]:
    """Split 'MULTI*((..),(..))' body into (n,2) int arrays of snapped
    grid coords — innermost paren groups (the POLYGON parse)."""
    parts: list[np.ndarray] = []
    for grp in _RING_RE.findall(body):
        vals = _floats(grp.replace(",", " ").split())
        if vals.size % 2:
            raise GeometryError(f"odd coordinate count in ring {grp[:40]!r}")
        iv, off_grid, out_of_range = _snap(vals)
        if off_grid.any():
            raise GeometryError(_OFF_GRID)
        if out_of_range.any():
            raise GeometryError(_OUT_OF_RANGE)
        parts.append(np.stack([iv[0::2], iv[1::2]], axis=1))
    if not parts:
        raise GeometryError("no coordinate rings found in WKT")
    return parts


def parse_lines(wkts) -> "list[np.ndarray | GeometryError]":
    """The LINE parse kernel: N WKT strings → per string its sorted unique
    unit-edge ids, or the :class:`GeometryError` that string raises.

    Each string is checked in this order, and the first fault is its error:
    head, rings, float tokens, coordinate count, grid, range, ≥2 points,
    zero-length segment, 45°.  The text checks run per string; everything
    numeric — float conversion, grid snap, unit-edge expansion and the
    per-string sorted-unique — runs once over the whole batch, segmented by
    a string id, so a fault in one string never costs the others their
    batch pass.  ``None`` and blank / ``EMPTY`` strings (tombstones) give
    an empty set.  Returned arrays are slices of one batch array."""
    wkts = list(wkts)
    out: list = [np.empty(0, dtype=np.int64)] * len(wkts)
    acc: list[int] = []  # index of every string that reaches the numeric pass
    toks: list[str] = []  # their coordinate tokens, batch order
    n_tok: list[int] = []  # token count per accepted string
    ring_pts: list[int] = []  # point count per ring, batch order
    short: list[bool] = []  # per accepted string: a ring with < 2 points
    for i, w in enumerate(wkts):
        s = (w or "").strip()
        if not s or s.upper().endswith("EMPTY"):
            continue
        pre = s.split("(", 1)[0]
        head = pre.strip().upper()
        if head not in ("MULTILINESTRING", "LINESTRING"):
            out[i] = GeometryError(f"expected {LINE}, got {head}")
            continue
        body = s[len(pre):]
        grps = _RING_RE.findall("(" + body + ")" if head == "LINESTRING" else body)
        if not grps:
            out[i] = GeometryError("no coordinate rings found in WKT")
            continue
        t = " ".join(grps).replace(",", " ").split()
        pts = [g.count(",") + 1 for g in grps]
        if 2 * sum(pts) != len(t):
            try:  # a non-numeric token outranks the count
                _floats(t)
                out[i] = GeometryError("odd coordinate count in WKT body")
            except GeometryError as exc:
                out[i] = exc
            continue
        acc.append(i)
        toks.extend(t)
        n_tok.append(len(t))
        ring_pts.extend(pts)
        short.append(min(pts) < 2)
    if not acc:
        return out

    err: list = [None] * len(acc)

    def _flag(bad_sid: np.ndarray, msg: str) -> None:
        for j in np.unique(bad_sid).tolist():
            if err[j] is None:
                err[j] = GeometryError(msg)

    try:
        vals = _floats(toks)
    except GeometryError:  # rare: convert per string to blame the right ones
        vals = np.zeros(len(toks))
        lo = 0
        for j, n in enumerate(n_tok):
            try:
                vals[lo:lo + n] = _floats(toks[lo:lo + n])
            except GeometryError as exc:
                err[j] = exc
            lo += n
    tok_sid = np.repeat(np.arange(len(acc), dtype=np.int64), n_tok)
    iv, off_grid, out_of_range = _snap(vals)
    _flag(tok_sid[off_grid], _OFF_GRID)
    _flag(tok_sid[out_of_range], _OUT_OF_RANGE)
    _flag(np.flatnonzero(short), "linestring needs ≥2 points")

    # vertex pairs within rings (ring ids are batch-global, so neither ring
    # nor string bounds pair up) of the strings still clean
    ring_id = np.repeat(np.arange(len(ring_pts), dtype=np.int64), ring_pts)
    pt_sid = tok_sid[0::2]
    keep = np.asarray([e is None for e in err])[pt_sid]
    xs, ys, ring_id, pt_sid = iv[0::2][keep], iv[1::2][keep], ring_id[keep], pt_sid[keep]
    same = ring_id[:-1] == ring_id[1:]
    dx, dy = np.diff(xs)[same], np.diff(ys)[same]
    x0v, y0v, pair_sid = xs[:-1][same], ys[:-1][same], pt_sid[:-1][same]
    step = np.maximum(np.abs(dx), np.abs(dy))
    _flag(pair_sid[step == 0], "zero-length segment")
    step = np.maximum(step, 1)
    ux, uy = dx // step, dy // step
    _flag(pair_sid[(ux * step != dx) | (uy * step != dy)], "segment not axis-aligned or 45°")

    # expand each clean vertex pair into its unit steps
    keep = np.asarray([e is None for e in err])[pair_sid]
    step, ux, uy = step[keep], ux[keep], uy[keep]
    x0v, y0v, pair_sid = x0v[keep], y0v[keep], pair_sid[keep]
    k = np.arange(int(step.sum()), dtype=np.int64) - np.repeat(np.cumsum(step) - step, step)
    rux, ruy = np.repeat(ux, step), np.repeat(uy, step)
    x0 = np.repeat(x0v, step) + k * rux
    y0 = np.repeat(y0v, step) + k * ruy
    p = _pid(x0, y0)
    q = _pid(x0 + rux, y0 + ruy)
    eid = np.minimum(p, q) * _E + np.maximum(p, q)
    esid = np.repeat(pair_sid, step)
    # per-string sorted unique: order by (string, id), drop repeats
    order = np.lexsort((eid, esid))
    eid, esid = eid[order], esid[order]
    keep = np.ones(eid.size, dtype=bool)
    keep[1:] = (eid[1:] != eid[:-1]) | (esid[1:] != esid[:-1])
    eid, esid = eid[keep], esid[keep]
    bounds = np.searchsorted(esid, np.arange(len(acc) + 1)).tolist()
    for j, i in enumerate(acc):
        out[i] = err[j] if err[j] is not None else eid[bounds[j]:bounds[j + 1]]
    return out


def _parse_polygon(wkt: str, geom_type: str) -> np.ndarray:
    wkt = (wkt or "").strip()
    if not wkt or wkt.upper().endswith("EMPTY"):
        return np.empty(0, dtype=np.int64)
    if geom_type != POLYGON:
        raise GeometryError(f"unknown geometry type {geom_type}")
    head = wkt.split("(", 1)[0].strip().upper()
    if head not in ("MULTIPOLYGON", "POLYGON"):
        raise GeometryError(f"expected {geom_type}, got {head}")
    body = wkt[len(wkt.split("(", 1)[0]):]
    # hole guard: a polygon body with >1 ring is an interior hole the
    # grid algebra would silently treat as solid area — reject it here
    # (the snap-rounding front-end handles holes by even-odd fill)
    outer = split_groups(body)
    polys = split_groups(outer[0]) if head == "MULTIPOLYGON" else outer
    for poly in polys:
        if len(split_groups(poly)) > 1:
            raise GeometryError(
                "polygon holes are not supported by the strict grid "
                "parser; pre-process with snap.snap_wkt"
            )
    cells: list[np.ndarray] = []
    for arr in _parse_rings(body):
        if len(arr) >= 2 and (arr[0] == arr[-1]).all():
            arr = arr[:-1]
        xs, ys = arr[:, 0], arr[:, 1]
        x0, x1, y0, y1 = xs.min(), xs.max(), ys.min(), ys.max()
        if len(arr) != 4 or set(map(tuple, arr.tolist())) != {
            (x0, y0), (x0, y1), (x1, y0), (x1, y1)
        }:
            raise GeometryError("only axis-aligned rectangles supported")
        gx, gy = np.meshgrid(
            np.arange(x0, x1, dtype=np.int64), np.arange(y0, y1, dtype=np.int64)
        )
        cells.append(_pid(gx.ravel(), gy.ravel()))
    return np.unique(np.concatenate(cells)) if cells else np.empty(0, np.int64)


# -------------------------------------------------- canonical-parse cache
#
# The fold rehydrates resume-state leaves from their stored canonical WKT at
# EVERY epoch boundary — for a deep lattice that is 3-5 parse calls per
# string that never changes (measured: 33.4k parses for 6.4k events at
# 2 commits/epoch).  Since ``to_wkt`` is a canonical form with an exact
# round-trip (``parse_wkt(to_wkt(ids)) == ids``, property-tested), the
# parse of a string we *ourselves serialized* is a pure lookup.  The cache
# is primed at serialization time and bounded by total stored elements; it
# lives per python worker process (Spark reuses workers across tasks).
# Entries are returned READ-ONLY so an accidental in-place mutation raises
# instead of corrupting a shared array.

_PARSE_CACHE: "OrderedDict[tuple[str, str], np.ndarray]" = OrderedDict()
_PARSE_CACHE_ELEMS = 0
#: element budget (int64 count, ~8 B each) per worker process
PARSE_CACHE_MAX_ELEMS = 2_000_000


def _parse_cache_put(key: tuple[str, str], ids: np.ndarray) -> None:
    global _PARSE_CACHE_ELEMS
    if PARSE_CACHE_MAX_ELEMS <= 0 or ids.size > PARSE_CACHE_MAX_ELEMS:
        return
    old = _PARSE_CACHE.pop(key, None)
    if old is not None:
        _PARSE_CACHE_ELEMS -= old.size
    ids.setflags(write=False)
    _PARSE_CACHE[key] = ids
    _PARSE_CACHE_ELEMS += ids.size
    while _PARSE_CACHE_ELEMS > PARSE_CACHE_MAX_ELEMS and _PARSE_CACHE:
        _, ev = _PARSE_CACHE.popitem(last=False)
        _PARSE_CACHE_ELEMS -= ev.size


#: consume-once results of :func:`preparse_wkts` — separate from the LRU so
#: a partition's batch-parsed events can never evict still-useful canonical
#: leaf entries (and vice versa); :func:`parse_wkt` pops on first lookup, so
#: the table self-empties as the fold consumes it
_PREPARSED: dict[tuple[str, str], np.ndarray] = {}


def clear_parse_cache() -> None:
    """Release the canonical-parse memo (library hook; tests use it too)."""
    global _PARSE_CACHE_ELEMS
    _PARSE_CACHE.clear()
    _PARSE_CACHE_ELEMS = 0
    _PREPARSED.clear()


def parse_wkt(wkt: str, geom_type: str = LINE) -> np.ndarray:
    """WKT → sorted unique int64 ids (unit edges for LINE, cells for POLYGON).

    Empty / blank input (a tombstone payload) parses to an empty set.
    Memoized for canonical strings (see the cache note above); a LINE miss
    is :func:`parse_lines` on a batch of one.  The returned array may be
    read-only — callers copy before mutating (the fold's set algebra never
    mutates in place).
    """
    key = (geom_type, wkt or "")
    hit = _PARSE_CACHE.get(key)
    if hit is not None:
        _PARSE_CACHE.move_to_end(key)
        return hit
    pre = _PREPARSED.pop(key, None)
    if pre is not None:
        return pre
    if geom_type == LINE:
        ids = parse_lines([wkt])[0]
        if isinstance(ids, GeometryError):
            raise ids
    else:
        ids = _parse_polygon(wkt, geom_type)
    if ids.size:
        _parse_cache_put(key, ids)
    return ids


def preparse_wkts(wkts, geom_type: str = LINE) -> None:
    """Prime the parse memo with one :func:`parse_lines` pass over MANY
    LINE WKTs (a fold task's event contents and resume leaves).

    The fold parses every event content and every cache-missed resume leaf
    one string at a time; at ~15 small numpy calls per string the per-call
    dispatch dominates.  One batch pass here makes the fold's later
    :func:`parse_wkt` calls lookups.  Only strings that parse clean are
    primed: a poison string stays unprimed, so the fold's own parse raises
    (or quarantines) with that string's exact error, and the batch never
    changes error semantics.  Non-string entries (Arrow nulls), non-LINE
    geometries and strings already in the memo are skipped.
    """
    if geom_type != LINE:
        return
    # entries a previous batch never consumed (dropped duplicate events,
    # crashed task) must not accumulate across batches
    _PREPARSED.clear()
    todo = [
        w for w in dict.fromkeys(w for w in wkts if isinstance(w, str))
        if (geom_type, w) not in _PARSE_CACHE
    ]
    for w, ids in zip(todo, parse_lines(todo)):
        if not isinstance(ids, GeometryError) and ids.size:
            ids = ids.copy()
            ids.setflags(write=False)
            _PREPARSED[(geom_type, w)] = ids


# ---------------------------------------------------------- serialization


_COORD_STRS: list[str] | None = None


def _coord_strs() -> list[str]:
    """Lazy per-process lookup table: grid index → canonical coordinate
    string (``i//100 . i%100``).  Serialization formats millions of
    coordinates from a ≤16385-value domain, so a one-time table turns four
    f-string format ops per run into list indexing (profiled hot at
    deep-lattice scale)."""
    global _COORD_STRS
    if _COORD_STRS is None:
        _COORD_STRS = [f"{i // 100}.{i % 100:02d}" for i in range(_P + 2)]
    return _COORD_STRS


def to_wkt(ids: np.ndarray, geom_type: str = LINE) -> str:
    """Ids → canonical WKT: ``to_wkt_batch([ids], geom_type)[0]``.

    This is the ``ST_ASTEXT`` analog (reference: postgis_sqls.py:42-43); its
    output is the ``content`` whose sha256 is the per-row replay invariant.
    Serialization PRIMES the parse cache (see :func:`to_wkt_batch`).
    """
    return to_wkt_batch([ids], geom_type)[0]


def to_wkt_batch(
    ids_list: list[np.ndarray],
    geom_type: str = LINE,
    prime: "list[bool] | None" = None,
) -> list[str]:
    """Serialize MANY id-sets (in any order) to canonical WKT in one pass.

    Run-merge, one rule for both geometry types: each id gets a packed
    ``(node, group, pos)`` int64 key — LINE group = direction (2 bits) +
    the line's perpendicular offset (16 bits), POLYGON group = the cell's
    row; pos is the coordinate along the line / row — and after one
    ``argsort`` a run ends wherever the key steps by anything but 1.  Runs
    are ordered within a node by ``(sx, sy, ex, ey)`` through a 2-key
    lexsort of the packed ``(node, start pid)`` and end pid.

    Priming: for sorted-unique ids the round trip ``parse_wkt(to_wkt(ids))
    == ids`` is exact (property-tested), so each node's string goes into the
    parse memo and the fold's next-epoch rehydration of it is a lookup.
    ``prime`` picks which nodes (``None`` = all, the :func:`to_wkt`
    behavior); the fold passes its final-leaf flags, since only
    ``is_leaf & ~retired`` rows are rehydrated and priming interior nodes
    spends put-time and evicts useful leaf entries from the bounded cache.
    Nodes whose ids hold duplicates are never primed."""
    n = len(ids_list)
    if n == 0:
        return []
    sizes = np.asarray([len(x) for x in ids_list], dtype=np.int64)
    out = [f"{geom_type} EMPTY"] * n
    if sizes.sum() == 0:
        return out
    if geom_type not in (LINE, POLYGON):
        raise GeometryError(f"unknown geometry type {geom_type}")
    # np.repeat with size 0 contributes nothing, so node aligns with concat
    node = np.repeat(np.arange(n, dtype=np.int64), sizes)
    cat = np.concatenate([np.asarray(x, dtype=np.int64) for x in ids_list if len(x)])
    # The primed arrays must be sorted-unique.  The fold's set algebra keeps
    # every id array sorted-unique, so one vectorized check usually replaces
    # a sort; otherwise one segmented lexsort (``node`` is already grouped,
    # so it only permutes within nodes).
    seg_edge = node[1:] != node[:-1]
    if bool(((cat[1:] >= cat[:-1]) | seg_edge).all()):
        ids = cat
    else:
        ids = cat[np.lexsort((cat, node))]
    offs = np.concatenate(([0], np.cumsum(sizes))).tolist()
    adj_dup = (ids[1:] == ids[:-1]) & ~seg_edge
    dup_cnt = np.bincount(node[1:][adj_dup], minlength=n).tolist() if adj_dup.any() else None

    if geom_type == LINE:
        s, e = ids >> 28, ids & (_E - 1)  # run start / end pid of each unit edge
        sx, sy = s >> 14, s & (_P - 1)
        ux, uy = (e >> 14) - sx, (e & (_P - 1)) - sy  # (0,1) (1,-1) (1,0) (1,1)
        group = ((3 * ux + uy - 1) << 16) | (ux * sy - uy * sx + _P)
        pos = sy + ux * (sx - sy)
    else:  # a run is a row strip of cells: SW corner of the first → NE of the last
        s, e = ids, ids
        group, pos = ids & (_P - 1), ids >> 14
    # 15 pos bits: pos < 2^15 - 1, so a step of exactly 1 never crosses a group
    key = (((node << 18) | group) << 15) | pos
    order = np.argsort(key)
    brk = np.flatnonzero(np.diff(key[order]) != 1)
    first = order[np.concatenate(([0], brk + 1))]
    last = order[np.concatenate((brk, [order.size - 1]))]
    rn, rs, re_ = node[first], s[first], e[last]
    o = np.lexsort((re_, (rn << 28) | rs))
    rn, rs, re_ = rn[o], rs[o], re_[o]
    ex, ey = re_ >> 14, re_ & (_P - 1)
    if geom_type == POLYGON:
        ex, ey = ex + 1, ey + 1
    S = _coord_strs()
    coords = zip((rs >> 14).tolist(), (rs & (_P - 1)).tolist(), ex.tolist(), ey.tolist())
    if geom_type == LINE:
        runs = [f"({S[a]} {S[b]}, {S[c]} {S[d]})" for a, b, c, d in coords]
    else:
        runs = [
            f"(({S[a]} {S[b]}, {S[c]} {S[b]}, {S[c]} {S[d]}, {S[a]} {S[d]}, {S[a]} {S[b]}))"
            for a, b, c, d in coords
        ]
    cuts = np.flatnonzero(np.diff(rn)) + 1
    for lo, hi in zip([0, *cuts.tolist()], [*cuts.tolist(), len(runs)]):
        i = int(rn[lo])
        out[i] = f"{geom_type} (" + ", ".join(runs[lo:hi]) + ")"
        if (prime is None or prime[i]) and not (dup_cnt and dup_cnt[i]):
            _parse_cache_put((geom_type, out[i]), ids[offs[i]:offs[i + 1]].copy())
    return out


# ------------------------------------------------------------- set algebra


def intersect(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """G1: buffered intersection (reference: postgis_sqls.py:47-56).

    Inputs are ALWAYS sorted unique int64 (the module invariant), so
    membership is a searchsorted probe — ~3-5× faster than
    ``np.intersect1d(assume_unique=True)``'s concatenate+argsort at the
    few-hundred-element sizes the fold works with (profiled: the set
    algebra was 28% of fold CPU).  An ``idx == b.size`` probe means
    ``a_i > b[-1]``; clamping it to 0 can't collide because then
    ``b[0] < a_i``."""
    if a.size == 0 or b.size == 0 or a[-1] < b[0] or b[-1] < a[0]:
        # sorted-unique invariant ⇒ disjoint id RANGES are disjoint SETS —
        # an O(1) pretest that skips the probe for the (common) far-apart
        # leaf×edition pairs in deep lattices (profiled: intersect was 31%
        # of deep-fold CPU, most calls returning empty)
        return np.empty(0, dtype=np.int64)
    idx = np.searchsorted(b, a)
    idx[idx == b.size] = 0
    return a[b[idx] == a]


def difference(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """G2: buffered difference (reference: postgis_sqls.py:8,37-39).
    Same sorted-unique searchsorted kernel as :func:`intersect`."""
    if a.size == 0 or b.size == 0 or a[-1] < b[0] or b[-1] < a[0]:
        return a.copy()  # disjoint ranges ⇒ nothing to subtract
    idx = np.searchsorted(b, a)
    idx[idx == b.size] = 0
    return a[b[idx] != a]


def union_all(parts: list[np.ndarray]) -> np.ndarray:
    """A1/A2: ST_UNION dissolve (reference: postgis_sqls.py:78,124)."""
    if not parts:
        return np.empty(0, dtype=np.int64)
    return np.unique(np.concatenate(parts))


def is_multi(ids: np.ndarray) -> bool:
    """G4 type guard: non-empty result (reference: postgis_sqls.py:95-103)."""
    return ids.size > 0


def sha256_hex(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()

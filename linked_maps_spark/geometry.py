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

Canonical WKT re-serialization merges collinear unit runs (LINE) or
row-strips (POLYGON) in sorted-id order, so ``parse → to_wkt`` is a stable
canonical form: ``content_sha256 = sha256(canonical_wkt)``.
"""

from __future__ import annotations

import hashlib
import os
import re
from collections import OrderedDict

import numpy as np

PITCH = 0.01  # degrees; grid pitch (FIXTURES.md §2)
BUFFER = 0.0015  # reference buffer, segment.py:60 — documented, not needed numerically
_SCALE = 1.0 / PITCH
# 14 bits per axis → pid < 2^28, edge id < 2^56: fits int64 with headroom.
# Grid range is therefore [0, 163.83°] per axis at 0.01° pitch.
_P = 1 << 14  # point-id base (per-axis capacity)
_E = 1 << 28  # edge-id base

LINE = "MULTILINESTRING"
POLYGON = "MULTIPOLYGON"

# unit step directions a polyline segment may take (axis-aligned or 45°)
_DIRS = ((1, 0), (0, 1), (1, 1), (1, -1))


def _pid(ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
    return ix.astype(np.int64) * _P + iy.astype(np.int64)


def _unpid(pid: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    return pid // _P, pid % _P


class GeometryError(ValueError):
    pass


# ---------------------------------------------------------------- parsing


_RING_RE = re.compile(r"\(([^()]+)\)")


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


def _snap_arr(vals: np.ndarray) -> np.ndarray:
    iv = np.rint(vals * _SCALE).astype(np.int64)
    if not np.all(np.abs(vals - iv * PITCH) <= 1e-9):
        raise GeometryError(f"coordinate not on the {PITCH}° grid")
    if iv.size and (iv.min() < 0 or iv.max() >= _P):
        raise GeometryError("coordinate outside grid range")
    return iv


def _parse_rings(body: str) -> list[np.ndarray]:
    """Split 'MULTI*((..),(..))' body into (n,2) int arrays of snapped
    grid coords — innermost paren groups, fully vectorized."""
    parts: list[np.ndarray] = []
    for grp in _RING_RE.findall(body):
        vals = np.asarray(grp.replace(",", " ").split(), dtype=np.float64)
        if vals.size % 2:
            raise GeometryError(f"odd coordinate count in ring {grp[:40]!r}")
        iv = _snap_arr(vals)
        parts.append(np.stack([iv[0::2], iv[1::2]], axis=1))
    if not parts:
        raise GeometryError("no coordinate rings found in WKT")
    return parts


def _parse_rings_flat(body: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """All rings of a WKT body as flat snapped arrays: (xs, ys, ring_id).

    One numpy pass for the whole geometry instead of per-ring ops — the
    canonical WKT of a big lattice node holds hundreds of short runs, and
    per-ring numpy overhead dominated the fold profile (parse was 52% of
    fold CPU before this)."""
    grps = _RING_RE.findall(body)
    if not grps:
        raise GeometryError("no coordinate rings found in WKT")
    joined = " ".join(g.replace(",", " ") for g in grps)
    vals = np.asarray(joined.split(), dtype=np.float64)
    n_tokens = np.asarray([g.count(",") + 1 for g in grps], dtype=np.int64) * 2
    if int(n_tokens.sum()) != vals.size or vals.size % 2:
        raise GeometryError("odd coordinate count in WKT body")
    iv = _snap_arr(vals)
    ring_id = np.repeat(np.arange(len(grps), dtype=np.int64), n_tokens // 2)
    return iv[0::2], iv[1::2], ring_id


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
PARSE_CACHE_MAX_ELEMS = int(os.environ.get("LMS_PARSE_CACHE_ELEMS", "2000000"))


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
    Memoized for canonical strings (see the cache note above); the returned
    array may be read-only — callers copy before mutating (the fold's set
    algebra never mutates in place).
    """
    key = (geom_type, wkt or "")
    hit = _PARSE_CACHE.get(key)
    if hit is not None:
        _PARSE_CACHE.move_to_end(key)
        return hit
    pre = _PREPARSED.pop(key, None)
    if pre is not None:
        return pre
    ids = _parse_wkt_impl(wkt, geom_type)
    if ids.size:
        _parse_cache_put(key, ids)
    return ids


def preparse_wkts(wkts, geom_type: str = LINE) -> None:
    """Vectorized batch parse of MANY LINE WKTs into the parse memo.

    The fold parses every event content and every cache-missed resume leaf
    one string at a time; at ~15 small numpy calls per string the per-call
    dispatch dominates (profiled 10.3 s of an 18 s single-core fold for
    32k events).  This primes the memo for a whole partition in ONE numpy
    pass — float conversion, grid snap, unit-edge expansion and the
    per-string sorted-unique all run globally, segmented by a string id —
    so the fold's subsequent :func:`parse_wkt` calls are cache hits.

    Best-effort by contract: any string that fails validation anywhere in
    the batch is simply left unprimed (the fold's own per-string parse then
    raises or quarantines with its exact error — batch priming must never
    change error semantics).  Validation that is cheap per-string (token
    counts, ring sizes) skips just that string; grid/alignment failures are
    only detected globally, so they drop the whole batch to a per-string
    fallback loop (poison events are rare by definition).  Non-LINE
    geometries and strings already in the memo are skipped.  Results are
    bit-identical to :func:`_parse_wkt_impl` (same ops, same order).
    """
    if geom_type != LINE:
        return
    # entries a previous batch never consumed (dropped duplicate events,
    # crashed task) must not accumulate across batches
    _PREPARSED.clear()
    tok_l: list[str] = []          # every coordinate token, batch order
    ring_tok: list[int] = []       # token count per ring
    ring_str: list[int] = []       # owning string index per ring
    strs: list[str] = []           # accepted (to-prime) original strings
    for raw in wkts:
        # arrow/pandas nulls arrive as None or NaN floats — not parseable
        if not isinstance(raw, str):
            continue
        s = raw.strip()
        if not s or s.upper().endswith("EMPTY"):
            continue
        key = (geom_type, raw)
        if key in _PARSE_CACHE or key in _PREPARSED:
            continue
        head = s.split("(", 1)[0].strip().upper()
        if head not in ("MULTILINESTRING", "LINESTRING"):
            continue
        body = s[len(s.split("(", 1)[0]):]
        if head == "LINESTRING":
            body = "(" + body + ")"
        grps = _RING_RE.findall(body)
        if not grps:
            continue
        toks = " ".join(g.replace(",", " ") for g in grps).split()
        counts = [(g.count(",") + 1) * 2 for g in grps]
        # exactly _parse_rings_flat's count check, per string: a mismatch
        # (or a <2-point ring) leaves the string for the per-string parse
        if sum(counts) != len(toks) or any(c < 4 for c in counts):
            continue
        i = len(strs)
        strs.append(raw)
        tok_l.extend(toks)
        ring_tok.extend(counts)
        ring_str.extend([i] * len(counts))
    if not strs:
        return

    def _fallback() -> None:
        for raw in strs:
            try:
                ids = _parse_wkt_impl(raw, geom_type)
            # ValueError: the impl lets float-conversion errors propagate
            # raw — the per-string parse will surface the same error
            except (GeometryError, ValueError):
                continue
            if ids.size:
                ids.setflags(write=False)
                _PREPARSED[(geom_type, raw)] = ids

    try:
        vals = np.asarray(tok_l, dtype=np.float64)
    except ValueError:
        return _fallback()
    iv = np.rint(vals * _SCALE).astype(np.int64)
    if (
        not np.all(np.abs(vals - iv * PITCH) <= 1e-9)
        or iv.min() < 0
        or iv.max() >= _P
    ):
        return _fallback()
    xs, ys = iv[0::2], iv[1::2]
    n_rings = len(ring_tok)
    pts = np.asarray(ring_tok, dtype=np.int64) // 2
    ring_id = np.repeat(np.arange(n_rings, dtype=np.int64), pts)
    same = ring_id[:-1] == ring_id[1:]
    dx = (xs[1:] - xs[:-1])[same]
    dy = (ys[1:] - ys[:-1])[same]
    x0v, y0v = xs[:-1][same], ys[:-1][same]
    step = np.maximum(np.abs(dx), np.abs(dy))
    if (step == 0).any():
        return _fallback()
    ux, uy = dx // step, dy // step
    if ((ux * step != dx) | (uy * step != dy)).any():
        return _fallback()
    total = int(step.sum())
    k = np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(step) - step, step)
    rux, ruy = np.repeat(ux, step), np.repeat(uy, step)
    x0 = np.repeat(x0v, step) + k * rux
    y0 = np.repeat(y0v, step) + k * ruy
    p = _pid(x0, y0)
    q = _pid(x0 + rux, y0 + ruy)
    ids = np.minimum(p, q) * _E + np.maximum(p, q)
    str_of_ring = np.asarray(ring_str, dtype=np.int64)
    sid = np.repeat(str_of_ring[ring_id[:-1][same]], step)
    # segmented sorted-unique == np.unique per string (lexsort is ascending)
    order = np.lexsort((ids, sid))
    ids_s, sid_s = ids[order], sid[order]
    keep = np.ones(len(ids_s), dtype=bool)
    keep[1:] = (ids_s[1:] != ids_s[:-1]) | (sid_s[1:] != sid_s[:-1])
    ids_k, sid_k = ids_s[keep], sid_s[keep]
    bounds = np.concatenate(
        ([0], np.flatnonzero(sid_k[1:] != sid_k[:-1]) + 1, [len(sid_k)])
    )
    for j in range(len(bounds) - 1):
        lo = int(bounds[j])
        arr = ids_k[lo:int(bounds[j + 1])].copy()
        arr.setflags(write=False)
        _PREPARSED[(geom_type, strs[int(sid_k[lo])])] = arr


def _parse_wkt_impl(wkt: str, geom_type: str = LINE) -> np.ndarray:
    wkt = (wkt or "").strip()
    if not wkt or wkt.upper().endswith("EMPTY"):
        return np.empty(0, dtype=np.int64)
    head = wkt.split("(", 1)[0].strip().upper()
    if geom_type == LINE:
        if head not in ("MULTILINESTRING", "LINESTRING"):
            raise GeometryError(f"expected {geom_type}, got {head}")
        body = wkt[len(wkt.split("(", 1)[0]):]
        if head == "LINESTRING":
            body = "(" + body + ")"
        xs, ys, ring_id = _parse_rings_flat(body)
        counts = np.bincount(ring_id)
        if (counts < 2).any():
            raise GeometryError("linestring needs ≥2 points")
        # vertex pairs within rings only (mask pairs crossing ring bounds) —
        # one vectorized pass over every ring of the geometry
        same = ring_id[:-1] == ring_id[1:]
        dx = np.diff(xs)[same]
        dy = np.diff(ys)[same]
        x0v = xs[:-1][same]
        y0v = ys[:-1][same]
        step = np.maximum(np.abs(dx), np.abs(dy))
        if (step == 0).any():
            raise GeometryError("zero-length segment")
        ux, uy = dx // step, dy // step
        if ((ux * step != dx) | (uy * step != dy)).any():
            raise GeometryError("segment not axis-aligned or 45°")
        # expand each vertex-pair into its unit steps, fully vectorized
        total = int(step.sum())
        k = np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(step) - step, step)
        rux, ruy = np.repeat(ux, step), np.repeat(uy, step)
        x0 = np.repeat(x0v, step) + k * rux
        y0 = np.repeat(y0v, step) + k * ruy
        p = _pid(x0, y0)
        q = _pid(x0 + rux, y0 + ruy)
        return np.unique(np.minimum(p, q) * _E + np.maximum(p, q))
    elif geom_type == POLYGON:
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
    raise GeometryError(f"unknown geometry type {geom_type}")


# ---------------------------------------------------------- serialization


def _fmt(i: np.int64 | int) -> str:
    return f"{i * PITCH:.2f}"


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
    """Sorted ids → canonical WKT (collinear unit runs merged, stable order).

    This is the ``ST_ASTEXT`` analog (reference: postgis_sqls.py:42-43); its
    output is the ``content`` whose sha256 is the per-row replay invariant.

    Serialization PRIMES the parse cache: for a sorted-unique input the
    round-trip ``parse_wkt(to_wkt(ids)) == ids`` is exact (property-tested),
    so the fold's next-epoch rehydration of this string is a lookup.
    """
    ids = np.sort(np.asarray(ids, dtype=np.int64))
    if ids.size == 0:
        return f"{geom_type} EMPTY"
    wkt = _to_wkt_impl(ids, geom_type)
    if ids.size == 1 or (ids[1:] > ids[:-1]).all():  # sorted unique ⇒ cacheable
        _parse_cache_put((geom_type, wkt), ids)
    return wkt


def _to_wkt_impl(ids: np.ndarray, geom_type: str) -> str:
    if geom_type == LINE:
        p = ids // _E
        q = ids % _E
        px, py = _unpid(p)
        qx, qy = _unpid(q)
        dx = np.sign(qx - px)
        dy = np.sign(qy - py)
        sx_l, sy_l, ex_l, ey_l = [], [], [], []
        for ux, uy in _DIRS:
            m = (dx == ux) & (dy == uy)
            if not m.any():
                continue
            # line index: constant along the direction
            if (ux, uy) == (1, 0):
                line, pos = py[m], px[m]
            elif (ux, uy) == (0, 1):
                line, pos = px[m], py[m]
            elif (ux, uy) == (1, 1):
                line, pos = px[m] - py[m], px[m]
            else:  # (1, -1)
                line, pos = px[m] + py[m], px[m]
            order = np.lexsort((pos, line))
            line, pos = line[order], pos[order]
            brk = np.flatnonzero((np.diff(line) != 0) | (np.diff(pos) != 1))
            starts = np.concatenate(([0], brk + 1))
            ends = np.concatenate((brk, [len(pos) - 1]))
            sx_l.append(px[m][order][starts])
            sy_l.append(py[m][order][starts])
            ex_l.append(qx[m][order][ends])
            ey_l.append(qy[m][order][ends])
        sx = np.concatenate(sx_l)
        sy = np.concatenate(sy_l)
        ex = np.concatenate(ex_l)
        ey = np.concatenate(ey_l)
        o = np.lexsort((ey, ex, sy, sx))  # canonical run order
        S = _coord_strs()
        parts = [
            f"({S[a]} {S[b]}, {S[c]} {S[d]})"
            for a, b, c, d in zip(
                sx[o].tolist(), sy[o].tolist(), ex[o].tolist(), ey[o].tolist()
            )
        ]
        return "MULTILINESTRING (" + ", ".join(parts) + ")"
    elif geom_type == POLYGON:
        cx, cy = _unpid(ids)
        order = np.lexsort((cx, cy))  # by row, then column
        cx, cy = cx[order], cy[order]
        brk = np.flatnonzero((np.diff(cy) != 0) | (np.diff(cx) != 1))
        starts = np.concatenate(([0], brk + 1))
        ends = np.concatenate((brk, [len(cx) - 1]))
        rx0, ry0 = cx[starts], cy[starts]
        rx1, ry1 = cx[ends] + 1, cy[ends] + 1
        o = np.lexsort((ry1, rx1, ry0, rx0))

        f = _coord_strs().__getitem__

        parts = [
            f"(({f(a)} {f(b)}, {f(c)} {f(b)}, {f(c)} {f(d)}, {f(a)} {f(d)}, {f(a)} {f(b)}))"
            for a, b, c, d in zip(
                rx0[o].tolist(), ry0[o].tolist(), rx1[o].tolist(), ry1[o].tolist()
            )
        ]
        return "MULTIPOLYGON (" + ", ".join(parts) + ")"
    raise GeometryError(f"unknown geometry type {geom_type}")


def _line_wkt_strings(node, px, py, qx, qy, n_nodes: int) -> list[str | None]:
    """Shared run-merging for LINE serialization over (node-tagged) edges;
    returns per-node WKT bodies (None where a node has no edges)."""
    dx = np.sign(qx - px)
    dy = np.sign(qy - py)
    rn_l, sx_l, sy_l, ex_l, ey_l = [], [], [], [], []
    for ux, uy in _DIRS:
        m = (dx == ux) & (dy == uy)
        if not m.any():
            continue
        nn = node[m]
        if (ux, uy) == (1, 0):
            line, pos = py[m], px[m]
        elif (ux, uy) == (0, 1):
            line, pos = px[m], py[m]
        elif (ux, uy) == (1, 1):
            line, pos = px[m] - py[m], px[m]
        else:  # (1, -1)
            line, pos = px[m] + py[m], px[m]
        order = np.lexsort((pos, line, nn))
        nn_o, line_o, pos_o = nn[order], line[order], pos[order]
        brk = np.flatnonzero(
            (np.diff(nn_o) != 0) | (np.diff(line_o) != 0) | (np.diff(pos_o) != 1)
        )
        starts = np.concatenate(([0], brk + 1))
        ends = np.concatenate((brk, [len(pos_o) - 1]))
        rn_l.append(nn_o[starts])
        sx_l.append(px[m][order][starts])
        sy_l.append(py[m][order][starts])
        ex_l.append(qx[m][order][ends])
        ey_l.append(qy[m][order][ends])
    rn = np.concatenate(rn_l)
    sx = np.concatenate(sx_l)
    sy = np.concatenate(sy_l)
    ex = np.concatenate(ex_l)
    ey = np.concatenate(ey_l)
    o = np.lexsort((ey, ex, sy, sx, rn))  # canonical run order within node
    rn, sx, sy, ex, ey = rn[o], sx[o], sy[o], ex[o], ey[o]
    bounds = np.concatenate(
        ([0], np.flatnonzero(np.diff(rn) != 0) + 1, [len(rn)])
    )
    out: list[str | None] = [None] * n_nodes
    sx_t, sy_t, ex_t, ey_t = sx.tolist(), sy.tolist(), ex.tolist(), ey.tolist()
    S = _coord_strs()
    for i in range(len(bounds) - 1):
        lo, hi = bounds[i], bounds[i + 1]
        parts = [
            f"({S[a]} {S[b]}, {S[c]} {S[d]})"
            for a, b, c, d in zip(
                sx_t[lo:hi], sy_t[lo:hi], ex_t[lo:hi], ey_t[lo:hi]
            )
        ]
        out[int(rn[lo])] = "MULTILINESTRING (" + ", ".join(parts) + ")"
    return out


def to_wkt_batch(
    ids_list: list[np.ndarray],
    geom_type: str = LINE,
    prime: "list[bool] | None" = None,
) -> list[str]:
    """Serialize MANY id-sets in one vectorized pass — identical strings to
    per-node :func:`to_wkt` (property-tested), ~2× less per-node numpy
    overhead; the fold emission path uses this for all created nodes.

    ``prime``: per-node flags choosing which canonical strings are written
    into the parse memo (``None`` = all, the single-node ``to_wkt``
    behavior).  The fold passes its final-leaf flags: only
    ``is_leaf & ~retired`` rows are ever rehydrated next epoch, so priming
    interior nodes spends put-time AND evicts useful leaf entries from the
    bounded cache."""
    n = len(ids_list)
    if n == 0:
        return []
    sizes = np.asarray([len(x) for x in ids_list], dtype=np.int64)
    out = [f"{geom_type} EMPTY"] * n
    if sizes.sum() == 0:
        return out
    # np.repeat with size 0 contributes nothing, so node aligns with concat
    node = np.repeat(np.arange(n, dtype=np.int64), sizes)
    cat = np.concatenate([np.asarray(x, dtype=np.int64) for x in ids_list if len(x)])
    # The fold's set algebra keeps every id array sorted-unique, so the
    # common case needs NO sort at all — one vectorized check replaces a
    # np.sort per node (the per-call numpy dispatch dominated).  The
    # fallback is a single stable segmented lexsort: ``node`` is already
    # grouped, so it only permutes within groups — ``ids`` is identical to
    # the old per-node-sorted concatenation either way.
    seg_edge = node[1:] != node[:-1]
    if bool(((cat[1:] >= cat[:-1]) | seg_edge).all()):
        ids = cat
    else:
        ids = cat[np.lexsort((cat, node))]
    offs = np.concatenate(([0], np.cumsum(sizes)))
    # per-node duplicate detection in one pass: a node's canonical string is
    # cacheable only when its sorted ids are strictly increasing (unique) —
    # the exact round-trip precondition of the memo
    adj_dup = (ids[1:] == ids[:-1]) & ~seg_edge
    dup_cnt = (
        np.bincount(node[1:][adj_dup], minlength=n) if adj_dup.any() else None
    )

    def _prime(i: int, wkt: str) -> None:
        if (prime is not None and not prime[i]) or (
            dup_cnt is not None and dup_cnt[i]
        ):
            return
        _parse_cache_put((geom_type, wkt), ids[offs[i]:offs[i + 1]].copy())

    if geom_type == LINE:
        p = ids // _E
        q = ids % _E
        px, py = _unpid(p)
        qx, qy = _unpid(q)
        bodies = _line_wkt_strings(node, px, py, qx, qy, n)
        for i, b in enumerate(bodies):
            if b is not None:
                out[i] = b
                _prime(i, b)
        return out
    elif geom_type == POLYGON:
        cx, cy = _unpid(ids)
        order = np.lexsort((cx, cy, node))
        nn, cx_o, cy_o = node[order], cx[order], cy[order]
        brk = np.flatnonzero(
            (np.diff(nn) != 0) | (np.diff(cy_o) != 0) | (np.diff(cx_o) != 1)
        )
        starts = np.concatenate(([0], brk + 1))
        ends = np.concatenate((brk, [len(cx_o) - 1]))
        rn = nn[starts]
        rx0, ry0 = cx_o[starts], cy_o[starts]
        rx1, ry1 = cx_o[ends] + 1, cy_o[ends] + 1
        o = np.lexsort((ry1, rx1, ry0, rx0, rn))
        rn, rx0, ry0, rx1, ry1 = rn[o], rx0[o], ry0[o], rx1[o], ry1[o]
        bounds = np.concatenate(
            ([0], np.flatnonzero(np.diff(rn) != 0) + 1, [len(rn)])
        )

        f = _coord_strs().__getitem__

        for i in range(len(bounds) - 1):
            lo, hi = bounds[i], bounds[i + 1]
            parts = [
                f"(({f(a)} {f(b)}, {f(c)} {f(b)}, {f(c)} {f(d)}, {f(a)} {f(d)}, {f(a)} {f(b)}))"
                for a, b, c, d in zip(
                    rx0[lo:hi].tolist(), ry0[lo:hi].tolist(),
                    rx1[lo:hi].tolist(), ry1[lo:hi].tolist(),
                )
            ]
            out[int(rn[lo])] = "MULTIPOLYGON (" + ", ".join(parts) + ")"
            _prime(int(rn[lo]), out[int(rn[lo])])
        return out
    raise GeometryError(f"unknown geometry type {geom_type}")


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

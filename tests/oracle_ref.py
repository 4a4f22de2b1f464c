"""Independent single-process oracle implementing the reference fold literally.

Deliberately mirrors the *structure* of /root/reference/main.py (SegmentsGraph,
get_leaf_nodes, add_segment_to_graph) and /root/reference/segment.py
(Segment.intersect/minus/minus_union_of_segments with the verify guard), with
an in-memory geometry store standing in for the PostGIS ``geom`` table.  It is
coded independently of linked_maps_spark.fold so the two can cross-check each
other (SURVEY.md §5.2 item 1).
"""

from __future__ import annotations

import hashlib
import re

from linked_maps_spark import geometry as G


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


class OracleSegment:
    def __init__(self, store, gid, name):
        self.store = store  # gid -> id-set (the "geom table")
        self.gid = gid
        self.name = name
        self.parents = {}
        self.children = {}

    def _op(self, result_ids, new_name):
        # G4 type guard: only non-empty MULTI* results inserted
        if not G.is_multi(result_ids):
            return None
        gid = len(self.store)
        self.store.append(result_ids)
        return OracleSegment(self.store, gid, new_name)

    def _verify(self, other):
        # segment.py:21-38
        return self is not other and self.name != other.name

    def intersect(self, other, new_name):
        if not self._verify(other):
            return None
        new_seg = self._op(G.intersect(self.store[self.gid], self.store[other.gid]), new_name)
        if new_seg:
            self.children[new_seg.gid] = new_seg
            other.children[new_seg.gid] = new_seg
            new_seg.parents[self.gid] = self
            new_seg.parents[other.gid] = other
        return new_seg

    def minus(self, other, new_name):
        if not self._verify(other):
            return None
        new_seg = self._op(G.difference(self.store[self.gid], self.store[other.gid]), new_name)
        if new_seg:
            self.children[new_seg.gid] = new_seg
            new_seg.parents[self.gid] = self
        return new_seg

    def minus_union_of_segments(self, list_of_gids, new_name):
        union = G.union_all([self.store[g] for g in list_of_gids])
        new_seg = self._op(G.difference(self.store[self.gid], union), new_name)
        if new_seg:
            self.children[new_seg.gid] = new_seg
            new_seg.parents[self.gid] = self
        return new_seg


class OracleGraph:
    """main.py:33-131, in memory."""

    def __init__(self, geom_type=G.LINE):
        self.sg = []
        self.store = []
        self.geom_type = geom_type

    def get_leaf_nodes(self):
        return [s for s in self.sg if len(s.children) == 0]

    def add_edition(self, name, wkt):
        ids = G.parse_wkt(wkt, self.geom_type)
        gid = len(self.store)
        self.store.append(ids)
        segment = OracleSegment(self.store, gid, name)

        leaves = self.get_leaf_nodes()
        self.sg.append(segment)
        list_of_leaf_gids = []
        for leaf_seg in leaves:
            int_seg = leaf_seg.intersect(
                segment, "i_" + _md5("i_%s_%s" % (leaf_seg.name, segment.name))
            )
            if int_seg:
                self.sg.append(int_seg)
                list_of_leaf_gids.append(int_seg.gid)
                leaf_min_int = leaf_seg.minus(
                    int_seg, "m_" + _md5("m_%s_%s" % (leaf_seg.name, int_seg.name))
                )
                if leaf_min_int:
                    self.sg.append(leaf_min_int)
        if list_of_leaf_gids:
            seg_min_union = segment.minus_union_of_segments(
                list_of_leaf_gids, "mu_" + _md5("mu_%s_UL" % segment.name)
            )
            if seg_min_union:
                self.sg.append(seg_min_union)

    # --- export views matching the engine's tables ---

    def segments(self):
        rows = []
        for s in self.sg:
            rows.append(
                {
                    "name": s.name,
                    "seq": s.gid,
                    "wkt": G.to_wkt(self.store[s.gid], self.geom_type),
                    "is_leaf": len(s.children) == 0,
                    "years": [s.name[:4]] if "_" not in s.name else [],
                }
            )
        return rows

    def relations(self):
        rows = []
        for s in self.sg:
            for child_gid in s.children:
                rows.append({"parent_name": s.name, "child_name": self.sg_name(child_gid)})
        return rows

    def sg_name(self, gid):
        for s in self.sg:
            if s.gid == gid:
                return s.name
        raise KeyError(gid)

    def editions_transitive(self):
        """generate_graph.py:52-54,73-75 — dates propagated down in creation order."""
        dates: dict[str, list[str]] = {}
        for s in self.sg:
            dates[s.name] = [s.name[:4]] if "_" not in s.name else []
        for s in self.sg:  # rel.jl is written in parent-creation order (main.py:77)
            for child_gid in s.children:
                cn = self.sg_name(child_gid)
                for d in dates[s.name]:
                    if d not in dates[cn]:
                        dates[cn].append(d)
        return dates


# ------------------------------------------------- grid-WKT codec spec
#
# A plain-Python statement of the canonical codec (geometry.py's encoding
# section), written without numpy or run-merge keys, so the batch kernels
# are checked against a definition instead of against each other.

_STEP = 1 << 14  # grid index → pid base
_ESTEP = 1 << 28  # pid → edge id base


def _edge(a: tuple[int, int], b: tuple[int, int]) -> int:
    p, q = sorted((a[0] * _STEP + a[1], b[0] * _STEP + b[1]))
    return p * _ESTEP + q


def spec_parse_line(wkt: str) -> list[int]:
    """Sorted edge ids of a clean grid (MULTI)LINESTRING: each vertex pair
    walked one unit step at a time into a set."""
    edges: set[int] = set()
    for ring in re.findall(r"\(([^()]+)\)", wkt):
        pts = [tuple(round(float(v) * 100) for v in pt.split()) for pt in ring.split(",")]
        for (x0, y0), (x1, y1) in zip(pts, pts[1:]):
            n = max(abs(x1 - x0), abs(y1 - y0))
            ux, uy = (x1 - x0) // n, (y1 - y0) // n
            for k in range(n):
                a = (x0 + k * ux, y0 + k * uy)
                edges.add(_edge(a, (a[0] + ux, a[1] + uy)))
    return sorted(edges)


def _coord(i: int) -> str:
    return f"{i / 100:.2f}"


def spec_to_wkt(ids, geom_type: str = G.LINE) -> str:
    """Canonical WKT of an id set: maximal collinear unit runs (LINE) or
    maximal row strips of cells (POLYGON), sorted by (sx, sy, ex, ey)."""
    ids = {int(i) for i in ids}
    if not ids:
        return f"{geom_type} EMPTY"
    runs = []
    if geom_type == G.LINE:
        for eid in ids:
            p, q = divmod(eid, _ESTEP)
            (px, py), (qx, qy) = divmod(p, _STEP), divmod(q, _STEP)
            u = (qx - px, qy - py)
            if _edge((px - u[0], py - u[1]), (px, py)) in ids:
                continue  # not the first edge of its run
            while _edge((qx, qy), (qx + u[0], qy + u[1])) in ids:
                qx, qy = qx + u[0], qy + u[1]
            runs.append((px, py, qx, qy))
        fmt = "({0} {1}, {2} {3})"
    else:
        for cid in ids:
            x, y = divmod(cid, _STEP)
            if (x - 1) * _STEP + y in ids:
                continue
            x1 = x + 1
            while x1 * _STEP + y in ids:
                x1 += 1
            runs.append((x, y, x1, y + 1))
        fmt = "(({0} {1}, {2} {1}, {2} {3}, {0} {3}, {0} {1}))"
    return f"{geom_type} (" + ", ".join(
        fmt.format(*map(_coord, r)) for r in sorted(runs)
    ) + ")"


#: one poison LINE string per parse check, in the kernel's check order, with
#: the exact message it raises (the text lands in ``dead_letter.error``)
LINE_PARSE_ERRORS = [
    ("POLYGON ((0.00 0.00, 0.01 0.00, 0.01 0.01, 0.00 0.00))",
     "expected MULTILINESTRING, got POLYGON"),
    ("MULTILINESTRING ()", "no coordinate rings found in WKT"),
    ("MULTILINESTRING ((0.00 0.00, abc 0.00))", "could not convert string to float: 'abc'"),
    ("MULTILINESTRING ((0.00 0.00, 0.01))", "odd coordinate count in WKT body"),
    ("MULTILINESTRING ((0.005 0.00, 0.01 0.00))", "coordinate not on the 0.01° grid"),
    ("MULTILINESTRING ((0.00 0.00, 200.00 0.00))", "coordinate outside grid range"),
    ("MULTILINESTRING ((0.00 0.00, 0.01 0.00), (0.05 0.05))", "linestring needs ≥2 points"),
    ("MULTILINESTRING ((0.00 0.00, 0.00 0.00))", "zero-length segment"),
    ("MULTILINESTRING ((0.00 0.00, 0.02 0.01))", "segment not axis-aligned or 45°"),
]

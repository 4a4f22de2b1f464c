"""Property-based checks of the grid-geometry algebra (SURVEY.md §5.2 item 4)
— pure python, no Spark."""

import numpy as np
from hypothesis import given, settings, strategies as st

from linked_maps_spark import geometry as G

from .oracle_ref import LINE_PARSE_ERRORS, spec_parse_line, spec_to_wkt

# arbitrary unit edges on a small grid: generate endpoints + direction
def _mk_edges(trips: list[tuple[int, int, int]]) -> np.ndarray:
    ids = []
    for x, y, d in trips:
        ux, uy = G._DIRS[d]
        if not (0 <= y + uy <= 51):
            continue
        p = x * G._P + y
        q = (x + ux) * G._P + (y + uy)
        ids.append(min(p, q) * G._E + max(p, q))
    return np.unique(np.array(ids, dtype=np.int64))


_edge_ids = st.lists(
    st.tuples(st.integers(0, 50), st.integers(1, 50), st.integers(0, 3)),
    min_size=0, max_size=60,
).map(_mk_edges)


@settings(max_examples=150, deadline=None)
@given(_edge_ids, _edge_ids)
def test_partition_identity(a, b):
    """I ∪ (A∖I) ∪ (B∖I) == A ∪ B with pairwise disjoint parts — the lattice
    postcondition of one fold round (SURVEY.md §2.5)."""
    i = G.intersect(a, b)
    ma = G.difference(a, i)
    mb = G.difference(b, i)
    assert np.array_equal(G.union_all([i, ma, mb]), G.union_all([a, b]))
    assert G.intersect(i, ma).size == 0
    assert G.intersect(i, mb).size == 0
    assert G.intersect(ma, mb).size == 0


@settings(max_examples=100, deadline=None)
@given(_edge_ids)
def test_wkt_roundtrip_is_canonical_fixpoint(ids):
    w1 = G.to_wkt(ids, G.LINE)
    back = G.parse_wkt(w1, G.LINE)
    assert np.array_equal(back, ids)
    assert G.to_wkt(back, G.LINE) == w1  # canonical fixpoint
    assert G.sha256_hex(w1) == G.sha256_hex(G.to_wkt(back, G.LINE))


@settings(max_examples=100, deadline=None)
@given(_edge_ids, _edge_ids)
def test_algebra_laws(a, b):
    assert np.array_equal(G.intersect(a, b), G.intersect(b, a))
    assert np.array_equal(G.union_all([a, b]), G.union_all([b, a]))
    assert G.intersect(G.difference(a, b), b).size == 0
    assert np.array_equal(
        G.union_all([G.intersect(a, b), G.difference(a, b)]), a
    )


# ------------------------------------------------------ snap front-end props

_float_lines = st.lists(
    st.tuples(
        st.floats(min_value=-124.9, max_value=-95.0, allow_nan=False),
        st.floats(min_value=32.1, max_value=60.0, allow_nan=False),
    ),
    min_size=2,
    max_size=8,
)


@settings(max_examples=100, deadline=None)
@given(_float_lines)
def test_snap_always_yields_canonical_grid_wkt(pts):
    """Any arbitrary-coordinate polyline snaps to WKT the strict parser
    accepts, and the result is a canonical fixpoint (parse→to_wkt stable;
    re-snapping on the engine grid is the identity)."""
    from linked_maps_spark import snap as S

    wkt = "LINESTRING (" + ", ".join(f"{x:.7f} {y:.7f}" for x, y in pts) + ")"
    s = S.snap_wkt(wkt)
    ids = G.parse_wkt(s, G.LINE)  # strict parser accepts the snapped form
    assert G.to_wkt(ids, G.LINE) == s
    if ids.size:
        assert S.snap_wkt(s, pitch=G.PITCH, origin=(0.0, 0.0)) == s


def _shuffled_batch(ids_list, seed):
    """The batch as a caller may hand it over: each id set in any order,
    and one of them repeated."""
    rng = np.random.default_rng(seed)
    batch = [rng.permutation(ids) for ids in ids_list]
    return batch + batch[:1]


def _check_batch_against_spec(ids_list, seed, geom_type):
    batch = _shuffled_batch(ids_list, seed)
    G.clear_parse_cache()
    got = G.to_wkt_batch(batch, geom_type)
    assert got == [spec_to_wkt(ids, geom_type) for ids in batch]
    assert [G.to_wkt(ids, geom_type) for ids in batch] == got
    # every node is primed with its sorted ids
    for ids, w in zip(batch, got):
        if ids.size:
            assert G._PARSE_CACHE[(geom_type, w)].tolist() == sorted(ids.tolist())
    G.clear_parse_cache()


@settings(max_examples=100, deadline=None)
@given(st.lists(_edge_ids, min_size=0, max_size=6), st.integers(0, 2**32 - 1))
def test_to_wkt_batch_equals_per_node(ids_list, seed):
    """The batched serializer emits, per node, exactly the spec's canonical
    string (maximal collinear runs sorted by (sx, sy, ex, ey)) — it feeds
    content_sha256 — for empty, unsorted and repeated id sets."""
    _check_batch_against_spec(ids_list, seed, G.LINE)


_cell_ids = st.lists(
    st.tuples(st.integers(0, 50), st.integers(0, 50)), min_size=0, max_size=60
).map(
    lambda pts: np.unique(
        np.array([x * G._P + y for x, y in pts], dtype=np.int64)
    )
)


@settings(max_examples=100, deadline=None)
@given(st.lists(_cell_ids, min_size=0, max_size=6), st.integers(0, 2**32 - 1))
def test_to_wkt_batch_equals_per_node_polygon(ids_list, seed):
    _check_batch_against_spec(ids_list, seed, G.POLYGON)


# a clean polyline: a start vertex and up to 4 legs of 1-3 unit steps in
# one of the 8 axis / 45° headings
_leg = st.tuples(st.integers(0, 3), st.sampled_from([-3, -2, -1, 1, 2, 3]))
_polyline = st.tuples(st.integers(15, 40), st.integers(15, 40), st.lists(_leg, min_size=1, max_size=4))


def _line_wkt(rings, single):
    out = []
    for x, y, legs in rings:
        pts = [(x, y)]
        for d, n in legs:
            ux, uy = G._DIRS[d]
            x, y = x + n * ux, y + n * uy
            pts.append((x, y))
        out.append("(" + ", ".join(f"{a / 100:.2f} {b / 100:.2f}" for a, b in pts) + ")")
    if single:
        return "LINESTRING " + out[0]
    return "MULTILINESTRING (" + ", ".join(out) + ")"


_clean_wkt = st.builds(_line_wkt, st.lists(_polyline, min_size=1, max_size=3), st.booleans())
_batch_item = st.one_of(
    _clean_wkt,
    st.sampled_from([w for w, _ in LINE_PARSE_ERRORS]),
    st.sampled_from(["", "MULTILINESTRING EMPTY", None]),
)


@settings(max_examples=150, deadline=None)
@given(st.lists(_batch_item, min_size=0, max_size=10))
def test_parse_batch_equals_spec(batch):
    """One parse_lines / preparse_wkts pass over a batch that mixes clean,
    poison, empty and repeated strings: every clean string gets the spec's
    edge set and is primed, every poison string gets its own message."""
    batch = batch + batch[:2]
    errors = dict(LINE_PARSE_ERRORS)
    got = G.parse_lines(batch)
    G.clear_parse_cache()
    G.preparse_wkts(batch, G.LINE)
    for w, r in zip(batch, got):
        if w in errors:
            assert isinstance(r, G.GeometryError) and str(r) == errors[w]
            assert (G.LINE, w) not in G._PREPARSED
        elif w and w != "MULTILINESTRING EMPTY":
            assert r.tolist() == spec_parse_line(w)
            assert G._PREPARSED[(G.LINE, w)].tolist() == r.tolist()
        else:
            assert r.size == 0
    G.clear_parse_cache()

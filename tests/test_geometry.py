import numpy as np
import pytest

from linked_maps_spark import geometry as G

from .oracle_ref import LINE_PARSE_ERRORS, spec_parse_line


def test_parse_roundtrip_line():
    wkt = "MULTILINESTRING ((0.00 0.00, 0.03 0.00), (0.05 0.05, 0.07 0.07))"
    ids = G.parse_wkt(wkt, G.LINE)
    assert ids.size == 5  # 3 horizontal unit edges + 2 diagonal
    assert G.to_wkt(ids, G.LINE) == wkt
    # reparse of canonical form is stable (canonical fixpoint)
    assert np.array_equal(G.parse_wkt(G.to_wkt(ids, G.LINE), G.LINE), ids)


def test_parse_merges_collinear_runs():
    # two touching collinear pieces merge into one canonical run
    a = G.parse_wkt("MULTILINESTRING ((0.00 0.00, 0.02 0.00))", G.LINE)
    b = G.parse_wkt("MULTILINESTRING ((0.02 0.00, 0.04 0.00))", G.LINE)
    u = G.union_all([a, b])
    assert G.to_wkt(u, G.LINE) == "MULTILINESTRING ((0.00 0.00, 0.04 0.00))"


def test_single_linestring_accepted():
    ids = G.parse_wkt("LINESTRING (0.00 0.00, 0.01 0.00)", G.LINE)
    assert ids.size == 1


def test_empty_and_tombstone():
    assert G.parse_wkt("", G.LINE).size == 0
    assert G.parse_wkt("MULTILINESTRING EMPTY", G.LINE).size == 0
    assert G.to_wkt(np.empty(0, np.int64), G.LINE) == "MULTILINESTRING EMPTY"


def test_off_grid_rejected():
    with pytest.raises(G.GeometryError):
        G.parse_wkt("MULTILINESTRING ((0.005 0.00, 0.01 0.00))", G.LINE)
    with pytest.raises(G.GeometryError):
        # not axis-aligned / 45°
        G.parse_wkt("MULTILINESTRING ((0.00 0.00, 0.02 0.01))", G.LINE)


def test_set_algebra_matches_reference_semantics():
    # G1/G2/G3 of postgis_sqls.py:32-105 on grid-aligned input
    L = G.parse_wkt("MULTILINESTRING ((0.00 0.00, 0.04 0.00))", G.LINE)
    E = G.parse_wkt("MULTILINESTRING ((0.02 0.00, 0.06 0.00))", G.LINE)
    I = G.intersect(L, E)
    assert G.to_wkt(I, G.LINE) == "MULTILINESTRING ((0.02 0.00, 0.04 0.00))"
    M = G.difference(L, I)
    assert G.to_wkt(M, G.LINE) == "MULTILINESTRING ((0.00 0.00, 0.02 0.00))"
    R = G.difference(E, G.union_all([I]))
    assert G.to_wkt(R, G.LINE) == "MULTILINESTRING ((0.04 0.00, 0.06 0.00))"
    # partition property: I ∪ M ∪ R == L ∪ E, pairwise disjoint
    assert np.array_equal(G.union_all([I, M, R]), G.union_all([L, E]))
    assert G.intersect(I, M).size == 0 and G.intersect(I, R).size == 0


def test_polygon_mode():
    wkt = "MULTIPOLYGON (((0.00 0.00, 0.02 0.00, 0.02 0.01, 0.00 0.01, 0.00 0.00)))"
    ids = G.parse_wkt(wkt, G.POLYGON)
    assert ids.size == 2  # two unit cells
    assert G.to_wkt(ids, G.POLYGON) == wkt
    other = G.parse_wkt(
        "MULTIPOLYGON (((0.01 0.00, 0.03 0.00, 0.03 0.01, 0.01 0.01, 0.01 0.00)))", G.POLYGON
    )
    inter = G.intersect(ids, other)
    assert G.to_wkt(inter, G.POLYGON) == (
        "MULTIPOLYGON (((0.01 0.00, 0.02 0.00, 0.02 0.01, 0.01 0.01, 0.01 0.00)))"
    )


def test_disjoint_intersection_empty():
    a = G.parse_wkt("MULTILINESTRING ((0.00 0.00, 0.01 0.00))", G.LINE)
    b = G.parse_wkt("MULTILINESTRING ((0.10 0.10, 0.11 0.10))", G.LINE)
    assert not G.is_multi(G.intersect(a, b))  # G4 guard drops it


def test_sha256_stability():
    w = "MULTILINESTRING ((0.00 0.00, 0.01 0.00))"
    assert G.sha256_hex(w) == G.sha256_hex(w)
    assert len(G.sha256_hex(w)) == 64


def test_parse_cache_round_trip_and_read_only():
    """Serialization primes the parse cache; the cached hit is value-equal
    to a cold parse, returned read-only, and evicted under the budget."""
    import numpy as np
    from linked_maps_spark import geometry as G

    G.clear_parse_cache()
    a = G.parse_wkt("MULTILINESTRING ((0.00 0.00, 0.03 0.00))", G.LINE)
    w = G.to_wkt(a, G.LINE)
    # primed by to_wkt: the next parse is a cache hit (same object)
    hit = G.parse_wkt(w, G.LINE)
    assert hit is G._PARSE_CACHE[(G.LINE, w)]
    assert np.array_equal(hit, a)
    # read-only: in-place mutation must raise, not corrupt the shared array
    import pytest as _pytest

    with _pytest.raises(ValueError):
        hit[0] = 0
    # batch priming matches the per-node serializer
    G.clear_parse_cache()
    ids2 = G.parse_wkt("MULTILINESTRING ((0.00 0.01, 0.02 0.01))", G.LINE)
    outs = G.to_wkt_batch([a, ids2], G.LINE)
    assert outs[0] == w
    assert (G.LINE, outs[1]) in G._PARSE_CACHE
    assert np.array_equal(G.parse_wkt(outs[1], G.LINE), ids2)
    # duplicate-bearing input is serialized but NOT cached (round-trip would
    # return the deduped set, not the input)
    G.clear_parse_cache()
    dup = np.concatenate([a, a[:1]])
    w_dup = G.to_wkt(dup, G.LINE)
    assert (G.LINE, w_dup) not in G._PARSE_CACHE
    assert np.array_equal(G.parse_wkt(w_dup, G.LINE), a)
    G.clear_parse_cache()


def test_parse_cache_budget_evicts_lru():
    import numpy as np
    from linked_maps_spark import geometry as G

    G.clear_parse_cache()
    old = G.PARSE_CACHE_MAX_ELEMS
    G.PARSE_CACHE_MAX_ELEMS = 4
    try:
        w1 = G.to_wkt(np.array([G._pid(np.array([0]), np.array([0]))[0] * G._E
                                + G._pid(np.array([1]), np.array([0]))[0]]), G.LINE)
        ws = []
        for i in range(6):
            p = G._pid(np.array([i]), np.array([2]))[0]
            q = G._pid(np.array([i + 1]), np.array([2]))[0]
            ws.append(G.to_wkt(np.array([min(p, q) * G._E + max(p, q)]), G.LINE))
        assert G._PARSE_CACHE_ELEMS <= 4
        assert (G.LINE, w1) not in G._PARSE_CACHE  # LRU-evicted
    finally:
        G.PARSE_CACHE_MAX_ELEMS = old
        G.clear_parse_cache()


def test_preparse_batch_equals_per_string():
    """preparse_wkts primes the consume-once table with the spec's edge set
    of every clean string, across MULTILINESTRING/LINESTRING forms, shared
    substrings and duplicate inputs."""
    wkts = [
        "MULTILINESTRING ((0.00 0.00, 0.03 0.00), (0.05 0.05, 0.07 0.07))",
        "LINESTRING (0.01 0.01, 0.01 0.04)",
        "MULTILINESTRING ((0.10 0.10, 0.13 0.13))",
        "MULTILINESTRING ((0.10 0.10, 0.13 0.13))",  # duplicate
        "MULTILINESTRING ((0.13 0.13, 0.10 0.10, 0.10 0.12))",  # unsorted walk
        "",  # tombstone
        None,  # arrow null
        "MULTILINESTRING EMPTY",
    ]
    expected = {w: spec_parse_line(w) for w in wkts if isinstance(w, str) and w}
    G.clear_parse_cache()
    G.preparse_wkts(wkts, G.LINE)
    for w, exp in expected.items():
        if exp:
            assert (G.LINE, w) in G._PREPARSED, w
        got = G.parse_wkt(w, G.LINE)
        assert got.tolist() == exp, w
        assert not got.flags.writeable or got.size == 0
    # consume-once: a second parse still answers (slow path), identically
    for w, exp in expected.items():
        assert G.parse_wkt(w, G.LINE).tolist() == exp


def test_preparse_poison_left_for_per_string_error():
    """A malformed / off-grid / zero-step string anywhere in the batch must
    not change error semantics: clean strings still prime, the poison
    string stays unprimed and raises its exact GeometryError."""
    clean = "MULTILINESTRING ((0.00 0.00, 0.02 0.00))"
    exp = spec_parse_line(clean)
    for poison, msg in LINE_PARSE_ERRORS:
        G.clear_parse_cache()
        G.preparse_wkts([clean, poison], G.LINE)
        assert (G.LINE, clean) in G._PREPARSED, poison
        assert (G.LINE, poison) not in G._PREPARSED, poison
        assert G.parse_wkt(clean, G.LINE).tolist() == exp, poison
        with pytest.raises(G.GeometryError) as exc:
            G.parse_wkt(poison, G.LINE)
        assert str(exc.value) == msg


@pytest.mark.parametrize("wkt,msg", LINE_PARSE_ERRORS, ids=[m for _, m in LINE_PARSE_ERRORS])
def test_parse_error_messages_pinned(wkt, msg):
    """Each parse check raises its exact message (these land in
    ``dead_letter.error``, so they must not drift), alone and from inside a
    batch that holds clean strings on both sides."""
    G.clear_parse_cache()
    with pytest.raises(G.GeometryError) as exc:
        G.parse_wkt(wkt, G.LINE)
    assert str(exc.value) == msg
    clean = "MULTILINESTRING ((0.00 0.00, 0.02 0.00))"
    got = G.parse_lines([clean, wkt, clean])
    assert isinstance(got[1], G.GeometryError) and str(got[1]) == msg
    assert got[0].tolist() == got[2].tolist() == spec_parse_line(clean)


def test_parse_error_precedence():
    """A string with several faults reports the earliest check: an
    alignment fault beside an off-grid ring is a grid error, a zero-length
    pair beside a 30° one is a zero-length error."""
    for wkt, msg in [
        ("MULTILINESTRING ((0.00 0.00, 0.02 0.01), (0.005 0.00, 0.01 0.00))",
         "coordinate not on the 0.01° grid"),
        ("MULTILINESTRING ((0.00 0.00, 0.02 0.01), (0.00 0.00, 0.00 0.00))",
         "zero-length segment"),
        ("MULTILINESTRING ((0.00 0.00, abc), (0.00))",
         "could not convert string to float: 'abc'"),
    ]:
        G.clear_parse_cache()
        with pytest.raises(G.GeometryError) as exc:
            G.parse_wkt(wkt, G.LINE)
        assert str(exc.value) == msg


def test_preparse_batches_do_not_accumulate():
    """Unconsumed entries from one batch are dropped by the next (the
    crashed-task / deduped-event leak guard)."""
    a = "MULTILINESTRING ((0.00 0.00, 0.02 0.00))"
    b = "MULTILINESTRING ((0.05 0.05, 0.07 0.07))"
    G.clear_parse_cache()
    G.preparse_wkts([a], G.LINE)
    G.preparse_wkts([b], G.LINE)
    assert list(G._PREPARSED) == [(G.LINE, b)]
    G.clear_parse_cache()
    assert not G._PREPARSED

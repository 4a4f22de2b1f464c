"""Tests of the benchmark's own code (no Spark needed).

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import math
import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402
import walgen  # noqa: E402
from spans import (ProcTree, Py4jCounter, Span, Tracer, attribute, own_resident,  # noqa: E402
                   stage_shares, union_s)

BENCH = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
SPEC = os.path.join(HERE, "spec.json")


def load(path):
    with open(path) as fh:
        return json.load(fh)


# ------------------------------------------------------------- tail rule

@pytest.mark.parametrize("n", [0, 1, 5, 19, 20, 21, 39])
def test_tail_omitted_without_ten_samples_beyond_the_lowest_rung(n):
    assert M.tail([float(i) for i in range(n)]) is None


@pytest.mark.parametrize("n,p", [(40, 75.0), (99, 75.0), (100, 90.0), (199, 90.0),
                                 (200, 95.0), (1000, 99.0), (10000, 99.9)])
def test_tail_is_highest_rung_with_ten_samples_beyond(n, p):
    xs = [float(i) for i in range(n)]
    got_p, value = M.tail(xs)
    assert got_p == p
    assert value == pytest.approx(M.percentile(xs, p))
    assert sum(x > value for x in xs) >= M.TAIL_BEYOND
    assert value > M.p50(xs)


def test_tail_is_never_the_median():
    assert 50.0 not in M.TAIL_LADDER
    xs = [1.0] * 20 + [2.0] * 20
    assert M.tail(xs)[0] != 50.0


def test_percentile_interpolates():
    assert M.percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert M.percentile([1.0, 2.0], 50) == 1.5
    assert M.percentile([5.0], 99) == 5.0
    with pytest.raises(ValueError):
        M.percentile([], 50)


# ----------------------------------------------------- ops_failed_share

def test_failed_share_arithmetic():
    assert M.failed_share(0, 7) == 0.0
    assert M.failed_share(2, 8) == 0.25
    assert M.failed_share(3, 3) == 1.0


@pytest.mark.parametrize("failed,attempted", [(0, 0), (-1, 3), (4, 3)])
def test_failed_share_rejects_impossible_counts(failed, attempted):
    with pytest.raises(ValueError):
        M.failed_share(failed, attempted)


# ---------------------------------------------------- metric schema

def test_benchmark_json_keys_and_limits():
    bench = load(BENCH)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert bench["paths"] == ["perfbench"]
    assert 1 <= bench["run_seconds"] <= 60 and isinstance(bench["run_seconds"], int)
    assert 2 <= len(bench["workloads"]) <= 8
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
        assert M.NAME_RE.match(w["name"])
    assert 1 <= len(bench["end_to_end"]) <= 16
    assert 1 <= len(bench["per_layer"]) <= 128
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
    for m in bench["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in bench["end_to_end"])
    M.check_spec(bench)
    assert len(json.dumps(bench)) <= 64 * 1024


def test_workloads_match_spec():
    bench, spec = load(BENCH), load(SPEC)
    assert [w["name"] for w in bench["workloads"]] == list(spec["workloads"])
    for w in spec["workloads"].values():
        assert {"purpose", "wal", "default_seed", "n_buckets"} <= set(w)


def test_backfill_replays_one_wal_in_pipelined_epochs():
    b = load(SPEC)["workloads"]["backfill"]
    # the replay check compares at least two warehouses built from one WAL
    assert b["min_steps"] >= 2
    assert b["commits_per_epoch"] > 1
    assert b["wal"]["n_commits"] >= 2 * b["commits_per_epoch"]


def test_layer_map_covers_every_metric():
    bench, spec = load(BENCH), load(SPEC)
    # a layer moves an end-to-end metric or one of the ungated timings
    e2e = {m["name"] for m in bench["end_to_end"]} | {
        m["name"] for m in bench["per_layer"] if m["name"].startswith("bench.")}
    reads = ["q1_edition", "q2_edition_unique", "q3_persisted", "q4_retired",
             "classify_changes"]
    mapped = set()
    for row in spec["layer_map"]:
        assert set(row["moves"]) <= e2e
        assert set(row["on"]) <= set(spec["workloads"])
        for m in row["metrics"]:
            if m.startswith("queries.<read>."):
                mapped |= {m.replace("<read>", r) for r in reads}
            elif m.startswith("<module>.<leaf>."):
                mapped |= {m.replace("<module>.<leaf>", f"{mod}.{leaf}")
                           for mod, leaf in spec["leaves"]}
            elif m.endswith(".*"):
                mapped |= {n["name"] for n in bench["per_layer"]
                           if n["name"].startswith(m[:-1])}
            else:
                mapped.add(m)
    assert {m["name"] for m in bench["per_layer"]} == mapped


@pytest.mark.parametrize("trace", [False, True])
def test_result_line_has_exactly_the_declared_metrics(trace):
    bench = load(BENCH)
    wanted = bench["per_layer" if trace else "end_to_end"]
    values = {m["name"]: 1.5 for m in bench["end_to_end"] + bench["per_layer"]}
    out = json.loads(M.result_line(bench, trace, values, True, 4, 0))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["metrics"] == {m["name"]: {"value": 1.5, "unit": m["unit"]} for m in wanted}


def test_result_line_refuses_missing_or_non_finite_metrics():
    bench = load(BENCH)
    values = {m["name"]: 1.0 for m in bench["end_to_end"]}
    del values["setup_s"]
    with pytest.raises(KeyError):
        M.result_line(bench, False, values, True, 1, 0)
    values["setup_s"] = math.nan
    with pytest.raises(ValueError):
        M.result_line(bench, False, values, True, 1, 0)


def test_check_spec_rejects_bad_entries():
    bench = load(BENCH)
    bad = json.loads(json.dumps(bench))
    bad["end_to_end"][0]["bound"] = 0.3
    with pytest.raises(ValueError):
        M.check_spec(bad)
    bad = json.loads(json.dumps(bench))
    bad["per_layer"].append(dict(bad["per_layer"][0]))
    with pytest.raises(ValueError):
        M.check_spec(bad)
    bad = json.loads(json.dumps(bench))
    bad["per_layer"][0]["unit"] = "events per second"
    with pytest.raises(ValueError):
        M.check_spec(bad)


# ------------------------------------------------------ WAL generator

def small(shape):
    geo = {"grid": 60, "n_walks": 4, "walk_len": 6, "keep": 0.7, "n_repos": 4, "zipf_s": 1.2}
    if shape == "backfill":
        return dict(shape=shape, n_keys=12, n_commits=3, **geo)
    return dict(shape=shape, groups=4, keys_per_group=5, lifespan=2, **geo)


@pytest.mark.parametrize("shape", ["backfill", "live_tail"])
def test_same_seed_same_wal_bytes(shape):
    a, b = walgen.generate(5, small(shape)), walgen.generate(5, small(shape))
    assert a == b
    assert walgen.digest(a) == walgen.digest(b)
    assert walgen.digest(walgen.generate(6, small(shape))) != walgen.digest(a)


@pytest.mark.parametrize("shape", ["backfill", "live_tail"])
def test_cached_file_holds_the_generated_rows(tmp_path, shape):
    path, meta = walgen.cached(str(tmp_path), 9, small(shape))
    table = pq.read_table(path)
    rows = {c: table[c].to_pylist() for c in walgen.COLUMNS}
    assert walgen.digest(rows) == meta["sha256"] == walgen.digest(walgen.generate(9, small(shape)))
    assert meta["events"] == table.num_rows
    assert meta["commits"] == sorted(set(rows["commit"]))
    # a second call reuses the file
    assert walgen.cached(str(tmp_path), 9, small(shape)) == (path, meta)


def test_backfill_edits_every_key_in_every_commit():
    p = small("backfill")
    wal = walgen.generate(1, p)
    keys = set(zip(wal["repo"], wal["path"]))
    assert len(keys) == p["n_keys"]
    assert len(wal["commit"]) == p["n_keys"] * p["n_commits"]
    assert wal["commit"] == sorted(wal["commit"])


def test_live_tail_has_commits_for_every_timed_call():
    lt = load(SPEC)["workloads"]["live_tail"]
    # two timed commits at least, so the medians never rest on one call
    assert lt["min_steps"] >= 2
    assert lt["wal"]["groups"] >= lt["ramp_commits"] + lt["min_steps"]


def test_live_tail_window_is_stationary_after_ramp():
    p = small("live_tail")
    wal = walgen.generate(1, p)
    per_commit = {}
    for c in wal["commit"]:
        per_commit[c] = per_commit.get(c, 0) + 1
    counts = [per_commit[c] for c in sorted(per_commit)]
    life, kpg = p["lifespan"], p["keys_per_group"]
    assert counts[life - 1:p["groups"]] == [life * kpg] * (p["groups"] - life + 1)
    assert len(counts) == p["groups"] + life - 1


def test_wkt_merges_collinear_unit_steps():
    # two touching unit edges east from (1, 1) and one diagonal from (5, 5)
    codes = [(0 * 60 + 1) * 60 + 1, (0 * 60 + 2) * 60 + 1, (2 * 60 + 5) * 60 + 5]
    import numpy as np

    assert walgen.to_wkt(np.array(codes), 60) == (
        "MULTILINESTRING ((0.01 0.01, 0.03 0.01), (0.05 0.05, 0.06 0.06))")


# ------------------------------------------------ span attribution

def _span(sid, name, layer, start, end, parent=None):
    s = Span(name, layer, start, parent, sid)
    s.end = end
    return s


def test_jobs_go_to_the_innermost_span_holding_their_submission():
    spans = [_span(0, "read_round", "bench", 0.0, 10.0),
             _span(1, "queries.q1_edition.exec", "queries", 1.0, 2.0, 0),
             _span(2, "ingest", "ingest", 20.0, 30.0)]
    jobs = [{"id": 1, "start": 1.5, "module": None, "stages": []},
            {"id": 2, "start": 5.0, "module": None, "stages": []},
            {"id": 3, "start": 25.0, "module": "lakehouse", "stages": []},
            {"id": 4, "start": 40.0, "module": None, "stages": []}]
    by = attribute(jobs, spans)
    assert [j["id"] for j in by[1]] == [1] and by[1][0]["layer"] == "queries"
    assert by[1][0]["module"] is None
    assert [j["id"] for j in by[0]] == [2] and by[0][0]["layer"] == "bench"
    assert by[2][0]["module"] == "lakehouse" and by[2][0]["layer"] == "ingest"
    assert all(4 not in [j["id"] for j in js] for js in by.values())
    assert jobs[3]["layer"] is None


def _job(start, dur, module=None, layer=None):
    return {"start": start, "module": module, "layer": layer,
            "stages": [{"start": start, "end": start + dur}]}


def test_stage_shares_skip_the_benchmarks_own_spans():
    jobs = [_job(1.0, 4.0, module="ingest", layer="ingest"),
            _job(2.0, 3.0, layer="ingest"),
            _job(3.0, 2.0, layer="bench"),
            _job(4.0, 1.0, layer="session"),
            _job(5.0, 10.0),
            _job(50.0, 99.0, module="ingest")]      # outside the window
    by_site, named = stage_shares(jobs, 0.0, 20.0)
    assert by_site == pytest.approx(4.0 / 20.0)
    assert named == pytest.approx(7.0 / 20.0)
    assert stage_shares([], 0.0, 1.0) == (0.0, 0.0)


def test_tracer_charges_its_own_bookkeeping_inside_the_window_only():
    tr = Tracer(True, ProcTree())
    with tr.span("setup", "session"):
        pass
    assert tr.overhead_s == 0.0
    tr.timed = True
    with tr.span("ingest", "ingest"):
        pass
    assert tr.overhead_s > 0.0
    assert tr.spans[1].attrs["timed"] and "cpu_s" in tr.spans[1].attrs
    plain = Tracer(False, ProcTree())
    plain.timed = True
    with plain.span("ingest", "ingest"):
        pass
    assert plain.overhead_s == 0.0


def test_py4j_counter_skips_proxy_releases():
    from py4j import protocol

    class Client:
        def send_command(self, command, retry=True):
            return command

    class Gateway:
        _gateway_client = Client()

    counter = Py4jCounter()
    counter.install(Gateway())
    client = Gateway._gateway_client
    client.send_command("c\no0\nfoo\ne\n")
    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME + "o1\ne\n"
    assert client.send_command(release) == release
    client.send_command("c\no0\nbar\ne\n", retry=False)
    assert counter.read() == 2
    assert counter.read() == 2      # a read sends nothing


def test_proc_tree_reads_its_own_resident_size():
    rss = ProcTree().rss()
    assert rss[os.getpid()] > 1 << 20


def test_resident_size_leaves_out_a_child_that_shares_its_parents_memory():
    page = os.sysconf("SC_PAGE_SIZE")
    jvm = "900000 400000 9000 1 0 500000 0\n"
    statm = {
        1: ("5000 3000 1000 1 0 2000 0\n", None),
        2: (jvm, 1),
        3: ("900000 400100 9000 1 0 500000 0\n", 2),   # spawned by 2, not yet exec'd
        4: ("8000 2000 1500 1 0 1000 0\n", 2),         # exec'd child
        5: ("8000 2100 1500 1 0 1000 0\n", 4),         # its fork, not yet grown
        6: ("9000 2500 1500 1 0 2000 0\n", 4),         # a fork that has grown
    }
    got = own_resident(statm)
    assert got == {1: 3000 * page, 2: 400000 * page, 4: 2000 * page, 6: 2500 * page}
    # a parent that has ended leaves its child counted
    assert own_resident({8: (jvm, 7)}) == {8: 400000 * page}


def test_union_of_intervals():
    assert union_s([]) == 0.0
    assert union_s([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert union_s([(0, 5), (1, 2)]) == pytest.approx(5.0)

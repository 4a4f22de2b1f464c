"""Recompute the segments digests the benchmark pins for the default seed.

Run from the repository root after a change to the WAL generator or to the
workload parameters (never to make a failing engine pass)::

    python3 perfbench/pin.py [workload ...]

For ``backfill`` the digest is taken after one ingest call of its WAL; for
``live_tail`` after every commit, since a run ingests as many commits as its
time allows.  The named workloads (default: all) get new entries in
``pinned_digests`` in ``spec.json``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

import run
from spans import ProcTree, Tracer


def main() -> int:
    spec_path = os.path.join(run.HERE, "spec.json")
    spec = run.load_json(spec_path)
    sys.path.insert(0, run.ROOT)
    os.environ["PYTHONPATH"] = run.ROOT
    os.environ["SPARK_DRIVER_MEM"] = spec["driver_mem"]
    os.makedirs(run.CACHE, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="pin-", dir=run.CACHE)
    tree = ProcTree()
    session = run.Session(run_dir, min(len(os.sched_getaffinity(0)), spec["cores"]))
    names = sys.argv[1:] or list(run.WORKLOADS)
    pins: dict[str, dict[str, str]] = spec["pinned_digests"]
    try:
        spark = session.start()
        for name in names:
            cls = run.WORKLOADS[name]
            cfg = dict(spec["workloads"][name])
            seed = cfg["seed"] = cfg["default_seed"]
            path, meta = run.walgen.cached(os.path.join(run.CACHE, "inputs"), seed, cfg["wal"])
            wl = cls(spark, cfg, path, meta, run_dir, Tracer(False, tree), session.cores)
            pins[name] = {}
            if name == "backfill":
                eng = wl.engine("pin-backfill")
                eng.ingest(wl.load(path), commits_per_epoch=cfg["commits_per_epoch"])
                pins[name][str(len(meta["commits"]))] = run.segments_digest(eng.current_segments())
                continue
            wl.setup_landing()
            for commit, batch, _, content in wl.batches:
                wl.eng.ingest(wl.batch_df(batch), commits_per_epoch=1,
                              guard_min_commit=wl.engines[0][1], track_batch_range=True)
                wl.advance(commit, content)
                pins[name][str(wl.engines[0][2])] = run.segments_digest(wl.eng.current_segments())
                print(f"# {name} {commit}: {pins[name][str(wl.engines[0][2])]}",
                      file=sys.stderr, flush=True)
    finally:
        session.close(tree)
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(spec_path, "w") as fh:
        json.dump(spec, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

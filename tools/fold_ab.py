"""In-process A/B of the plain fold on the skew fixture's hot key: this
checkout's ``fold_key`` against another checkout's, imported side by side.

The key is ``tools/skew_bench.py``'s hot key (``synth_change_log`` seed 42,
``n_walks`` walks of 10 steps on a ``grid`` grid, 24 commits).  Epoch 1
(commits 0-11) is folded once to get its leaf state; every repeat then runs
epoch 2 (commits 12-23 over that state) the way a fold task does: the parse
memo cleared, one ``preparse_wkts`` over the event contents and resume
leaves, then ``fold_key``.  Each repeat is one pair (the side that runs
first alternates); process CPU seconds are reported per side for the whole
epoch, for parsing (``preparse_wkts`` plus every ``parse_wkt`` call) and for
``serialize_nodes``, as median [q1, q3] with the pairs this checkout won.
The two sides' segment rows must be equal.

Usage: python tools/fold_ab.py BASELINE_CHECKOUT [--walks 12000]
[--grid 1600] [--repeats 10]  (prints a markdown table).
"""

from __future__ import annotations

import argparse
import atexit
import importlib
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(pkg_dir: str, alias: str):
    """Import ``pkg_dir`` (a ``linked_maps_spark`` directory) as ``alias``."""
    link_root = tempfile.mkdtemp(prefix="fold_ab_")
    atexit.register(shutil.rmtree, link_root, True)
    os.symlink(pkg_dir, os.path.join(link_root, alias))
    sys.path.insert(0, link_root)
    return importlib.import_module(f"{alias}.fold")


def _timed(mod, name: str, acc: list[float]):
    """Wrap ``mod.name`` so its process CPU time adds into ``acc[0]``."""
    fn = getattr(mod, name)

    def wrapper(*a, **kw):
        t0 = time.process_time()
        try:
            return fn(*a, **kw)
        finally:
            acc[0] += time.process_time() - t0

    setattr(mod, name, wrapper)


def _epoch(fold, events: list[dict], state: list[dict]) -> tuple[dict, list]:
    G = fold.G
    parse, ser = [0.0], [0.0]
    orig_parse, orig_ser = G.parse_wkt, fold.serialize_nodes
    _timed(G, "parse_wkt", parse)
    _timed(fold, "serialize_nodes", ser)
    try:
        G.clear_parse_cache()
        t0 = time.process_time()
        G.preparse_wkts([e["content"] for e in events] + [r["wkt"] for r in state], G.LINE)
        parse[0] += time.process_time() - t0
        res = fold.fold_key("region_hot", "railroads/hot", events, state)
        total = time.process_time() - t0
    finally:
        G.parse_wkt, fold.serialize_nodes = orig_parse, orig_ser
        G.clear_parse_cache()
    return {"total": total, "parse": parse[0], "serialize": ser[0]}, res.segments


def _q(xs: list[float]) -> str:
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return f"{statistics.median(xs):.2f} [{q1:.2f}, {q3:.2f}]"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("baseline")
    ap.add_argument("--walks", type=int, default=12000)
    ap.add_argument("--grid", type=int, default=1600)
    ap.add_argument("--repeats", type=int, default=10)
    args = ap.parse_args()

    sides = {
        "baseline": _load(os.path.join(os.path.abspath(args.baseline), "linked_maps_spark"),
                          "lms_baseline"),
        "this": _load(os.path.join(REPO, "linked_maps_spark"), "lms_this"),
    }
    changelog = importlib.import_module("lms_this.changelog")
    wal = changelog.synth_change_log(n_keys=1, n_commits=24, seed=42,
                                     n_walks=args.walks, walk_len=10, grid=args.grid)
    events = wal[["commit", "content"]].to_dict("records")
    state = [s for s in sides["this"].fold_key("region_hot", "railroads/hot",
                                               events[:12], []).segments if s["is_leaf"]]
    samples: dict[str, list[dict]] = {"baseline": [], "this": []}
    for r in range(args.repeats):
        order = ("baseline", "this") if r % 2 == 0 else ("this", "baseline")
        rows = {}
        for side in order:
            t, rows[side] = _epoch(sides[side], events[12:], state)
            samples[side].append(t)
            print(f"repeat {r} {side}: " + ", ".join(f"{k} {v:.2f}" for k, v in t.items()),
                  file=sys.stderr)
        assert rows["baseline"] == rows["this"], "checkouts disagree!"
    print(f"{args.repeats} interleaved pairs, hot key {args.walks} walks on a "
          f"{args.grid} grid, epoch 2 over {len(state)} leaves; process CPU s, "
          "median [q1, q3]\n")
    print("| part | baseline | this checkout | pairs this checkout faster |")
    print("|---|---|---|---|")
    for part in ("total", "parse", "serialize"):
        b = [s[part] for s in samples["baseline"]]
        t = [s[part] for s in samples["this"]]
        wins = sum(y < x for x, y in zip(b, t))
        print(f"| {part} | {_q(b)} | {_q(t)} | {wins}/{args.repeats} |")


if __name__ == "__main__":
    main()

"""Hot-key skew evidence: the same Zipf-head WAL ingested with the salted
fold off vs on (fresh JVM each), digests compared, walls reported.

The fixture is FIXTURES.md §6 `skewed_log`-shaped: one key's geometry (and
therefore its per-epoch leaf lattice) dwarfs the uniform keys, so the plain
fold serializes the stage behind that key's single task while the salted
fold splits its leaf slices across tasks.

Writes BENCH/skew_latest.md.  Usage: python tools/skew_bench.py [BASELINE]
(env: SKEW_CORES, SKEW_COLD_KEYS, SKEW_COMMITS, SKEW_HOT_WALKS, SKEW_GRID,
SKEW_CPE, SKEW_REPEATS).  BASELINE is another checkout of this repository
(e.g. the parent commit, from ``git archive``): every repeat then also runs
both modes on it, interleaved with this checkout's runs, and the report
adds a per-mode comparison of the two.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_JOB = r"""
import json, os, shutil, sys, tempfile, time
sys.path.insert(0, {repo!r})
import pandas as pd
from linked_maps_spark.session import get_spark
from linked_maps_spark.changelog import synth_change_log, to_spark
from linked_maps_spark.ingest import CdcEngine
from linked_maps_spark.util import table_digest

cores, cold_keys, commits, hot_walks, n_salts, grid, cpe = {cores}, {cold_keys}, {commits}, {hot_walks}, {n_salts}, {grid}, {cpe}
cold = synth_change_log(n_keys=cold_keys, n_commits=commits, seed=41)
hot = synth_change_log(n_keys=1, n_commits=commits, seed=42,
                       n_walks=hot_walks, walk_len=10, grid=grid)
hot["path"] = "railroads/hot"; hot["repo"] = "region_hot"
wal = pd.concat([cold, hot], ignore_index=True)

spark = get_spark(f"skew-{{n_salts}}", cores=cores)
spark.sparkContext.setLogLevel("ERROR")
wal_df = to_spark(spark, wal).repartition(cores).cache()
n_events = wal_df.count()
wh = tempfile.mkdtemp(prefix="lms_skew_", dir="/dev/shm")
try:
    eng = CdcEngine(spark, wh, n_buckets=max(cores, 8),
                    n_salts=n_salts, salt_leaf_threshold=16)
    eng.create_tables(overwrite=True)
    t0 = time.monotonic()
    eng.ingest(wal_df, commits_per_epoch=cpe)
    sec = time.monotonic() - t0
    cols = ["repo", "path", "gid", "name", "seq", "wkt", "content_sha256",
            "editions", "is_leaf", "retired"]
    digest = table_digest(eng.current_segments(), cols)
    walls = [r["wall_ms"] for r in eng.read_metrics().collect()
             if r["wall_ms"] is not None]
finally:
    shutil.rmtree(wh, ignore_errors=True)
print(json.dumps({{"n_salts": n_salts, "sec": round(sec, 2),
                   "events": n_events, "digest": digest,
                   "max_task_wall_ms": round(max(walls), 1) if walls else None}}))
"""


def run(n_salts: int, cores: int, cold_keys: int, commits: int,
        hot_walks: int, grid: int, cpe: int, repo: str = REPO) -> dict:
    code = _JOB.format(repo=repo, cores=cores, cold_keys=cold_keys,
                       commits=commits, hot_walks=hot_walks, n_salts=n_salts,
                       grid=grid, cpe=cpe)
    out = subprocess.run([sys.executable, "-c", code],
                         capture_output=True, text=True, check=True, cwd=repo)
    line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    qs = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3
    return qs[0], statistics.median(xs), qs[2]


def _comparison(samples: dict, repeats: int) -> str:
    """Per-mode table of the baseline checkout vs this one: wall and
    slowest fold-task wall as median [q1, q3], pairs this checkout won."""
    rows = []
    for mode, n_salts in (("plain", 1), ("salted", 8)):
        base, this = samples[("baseline", n_salts)], samples[("this", n_salts)]
        assert len({r["digest"] for r in base + this}) == 1, "checkouts disagree!"
        for metric, label in (("sec", "wall (s)"),
                              ("max_task_wall_ms", "slowest fold task (ms)")):
            b = _quartiles([r[metric] for r in base])
            t = _quartiles([r[metric] for r in this])
            wins = sum(y[metric] < x[metric] for x, y in zip(base, this))
            rows.append(
                f"| {mode} | {label} | {b[1]:.1f} [{b[0]:.1f}, {b[2]:.1f}] "
                f"| {t[1]:.1f} [{t[0]:.1f}, {t[2]:.1f}] | {wins}/{repeats} |"
            )
    return (
        "\n## Baseline checkout vs this checkout\n\n"
        f"{repeats} interleaved pairs per mode (the side that runs first "
        "alternates per repeat); median [q1, q3]; digests identical across "
        "both checkouts and modes.\n\n"
        "| mode | metric | baseline | this checkout | pairs this checkout faster |\n"
        "|---|---|---|---|---|\n" + "\n".join(rows) + "\n"
    )


def main() -> None:
    baseline = os.path.abspath(sys.argv[1]) if len(sys.argv) > 1 else None
    cores = int(os.environ.get("SKEW_CORES", "16"))
    cold_keys = int(os.environ.get("SKEW_COLD_KEYS", "96"))
    commits = int(os.environ.get("SKEW_COMMITS", "24"))
    # Fixture shape notes (hard-won):
    # * the straggler must be the PLAIN FOLD STAGE wall, so the hot key's
    #   per-epoch sequential fold has to reach seconds — that takes a deep
    #   lattice (many commits per epoch against accumulated leaves), not
    #   just a big edition;
    # * grid must scale with walks: saturating the grid makes editions
    #   near-identical and the lattice (hence the straggler) degenerates;
    # * FEW epochs (cpe=8 → 2 epochs): the salted path pays event
    #   replication + payload shuffle PER EPOCH, so many shallow epochs
    #   hand the win back to plain (measured 0.31× at cpe=2/8 epochs).
    hot_walks = int(os.environ.get("SKEW_HOT_WALKS", "4000"))
    grid = int(os.environ.get("SKEW_GRID", "900"))
    cpe = int(os.environ.get("SKEW_CPE", "12"))
    repeats = int(os.environ.get("SKEW_REPEATS", "2"))
    # legs ALTERNATED (plain, salted, plain, salted, …) so both modes
    # sample the same background-load windows — the bench_scaling lesson:
    # sequential phases let hypervisor load drift bias the ratio
    # With a baseline checkout, its runs interleave with this checkout's
    # and the side that runs first alternates per repeat.
    trees = [("this", REPO)] + ([("baseline", baseline)] if baseline else [])
    samples: dict = {(name, n): [] for name, _ in trees for n in (1, 8)}
    for i in range(repeats):
        for n_salts in (1, 8):
            for name, repo in trees if i % 2 == 0 else trees[::-1]:
                samples[(name, n_salts)].append(run(
                    n_salts, cores, cold_keys, commits, hot_walks, grid, cpe, repo
                ))
    plains, salteds = samples[("this", 1)], samples[("this", 8)]
    plain = min(plains, key=lambda r: r["sec"])
    salted = min(salteds, key=lambda r: r["sec"])
    assert plain["digest"] == salted["digest"], "salted fold changed the state!"
    speedup = plain["sec"] / salted["sec"]
    # best-of-N per METRIC (the documented estimator for this noisy
    # sandbox): the straggler-task wall from the best-wall run of a mode is
    # itself a noisy sample, so take each mode's min across its samples
    plain_straggler = min(r["max_task_wall_ms"] for r in plains)
    salted_straggler = min(r["max_task_wall_ms"] for r in salteds)
    md = f"""# BENCH — hot-key skew evidence (salted fold)

Same skewed WAL ({plain['events']} events over {commits} commits, ingested
{cpe} commits/epoch; one Zipf-head key of {hot_walks} walks on a {grid}-cell
grid whose leaf lattice dwarfs {cold_keys} uniform keys), run on
local[{cores}] with the salted fold OFF (n_salts=1) vs ON (n_salts=8,
threshold 16 leaves); best of {repeats} fresh-JVM runs per mode.

| mode | wall (s) | max fold-task wall (ms, best-of-{repeats}) | digest |
|---|---|---|---|
| plain fold | {plain['sec']} | {plain_straggler} | {plain['digest'][:12]}… |
| salted fold | {salted['sec']} | {salted_straggler} | {salted['digest'][:12]}… |

**Digest identical** (bit-equal state); wall ratio plain/salted =
**{speedup:.2f}×**; the plain straggler fold task is
{plain_straggler / max(salted_straggler, 1):.2f}× the salted one.

Where the win comes from (and when it flips): the hot key's deep lattice
makes the PLAIN epoch-2 fold a single multi-second task that walls its
stage while every cold key finishes; the salted fold splits that key's
leaf slices across tasks.  The salted machinery (event replication to
every salt + pickled slice-payload shuffle + per-key coordinator) is paid
PER EPOCH, so the same WAL chopped into many shallow epochs hands the win
back to plain (measured 0.31× at 2 commits/epoch over 8 epochs) — which is
exactly why the engine gates salting behind the leaf-count threshold
instead of salting every key.  Deterministic slice balance (created nodes
per slice ≤ 2× median) is pinned by tests/test_saltfold.py.

Kernel-speed crossover (measured on local[16] of a 32-vCPU host,
interleaved legs): after the round-4
fold-kernel vectorization the ORIGINAL fixture (4,000 hot walks / 900
cells) no longer shows a wall win — plain ≈ salted ≈ 23 s, because the
faster kernel shrank the plain straggler below the stage wall (its task
is still 2.3× the salted one).  The win reappears exactly where the
theory says: at 12,000 walks / 1,600 cells the plain straggler walls the
stage again and salting wins total wall (1.27× there).  Faster kernels
RAISE the skew threshold where salting pays — which the engine's leaf-count
gate encodes.  The win also needs idle cores: on local[4] the eight slices
queue behind each other and the cold keys' tasks, and the salted leg is
slower in total wall although its slowest task stays shorter.

Reproduce: `python tools/skew_bench.py` (`python tools/skew_bench.py
BASELINE_CHECKOUT` adds the comparison below).
""" + (_comparison(samples, repeats) if baseline else "")
    with open(os.path.join(REPO, "BENCH", "skew_latest.md"), "w") as fh:
        fh.write(md)
    print(md)
    print(json.dumps({"plain": plain, "salted": salted,
                      "speedup": round(speedup, 2),
                      "samples": {f"{name}/{n}": v
                                  for (name, n), v in samples.items()}}))


if __name__ == "__main__":
    main()

"""The repository's benchmark: CDC ingest and reads, end to end and per layer.

Run from the repository root::

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 20 --trace 0

Workloads (closed loop, one client: each call starts when the previous one
has returned; parameters in ``perfbench/spec.json``).  Both run steps of one
timed ``ingest`` call and one timed read round, at least ``min_steps`` and
while the time allows:

* ``backfill``: each step replays the same Zipf-skewed WAL (every key edited
  in every commit, several commits per epoch) into a fresh warehouse and
  reads it.  The untimed warm-up is one replay and one read round.
* ``live_tail``: each step ingests the next commit (the micro-batch shape of
  ``streaming.stream_ingest``) of a rotating key window and reads the
  warehouse.  The untimed warm-up is the first commit and a read round.

A read round forces, with ``count()``, the four CDC classification queries,
``classify_changes`` and ``triples.build_triples`` over the warehouse.

The session runs at ``local[min(nproc, cores)]`` with the JVM options of
``spec.json``: few task threads, one C1 JIT thread and a code cache that is
never flushed, so the JVM's own compile and GC work stays small and even
from call to call.  The gated cost of a call is what it asks of Spark: the
jobs it submits and the py4j commands it sends (the first ``min_steps``
steps, which every run makes).  Its wall time and the CPU time of the whole
process tree are per-layer metrics, because on a shared host both drift
with the neighbours by more than any useful bound.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace 1``
prints its per-layer metrics, taken from spans around each call into the
library, Spark's status store, ``CdcEngine.read_metrics`` and
``LakeTable.snapshot``.  The traced run also times the nine headline query
leaves over a seeded corpus (checked against their DuckDB oracles) and
replays backfill's WAL at ``local[1]`` as a single-core baseline.

Every run checks the engine's output (see ``Gate``) and exits non-zero, after
printing the result line with ``"correct": false``, when a check fails.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import metrics as M  # noqa: E402
import walgen  # noqa: E402
from spans import (ProcTree, Py4jCounter, RssSampler, Tracer, attribute,  # noqa: E402
                   stage_records, stage_shares, union_s)

READS = ("q1_edition", "q2_edition_unique", "q3_persisted", "q4_retired", "classify_changes")
WAL_SCHEMA = "repo string, path string, commit string, lang string, content string"


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def load_json(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def segments_digest(df) -> str:
    """Order-insensitive sha256 over every column of every row.  Kept here,
    not taken from the library, so a library change cannot move the pin."""
    cols = sorted(df.columns)
    lines = sorted(repr(tuple(r[c] for c in cols)) for r in df.select(*cols).collect())
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


# ------------------------------------------------------------------ session

class Session:
    """The Spark session of one run and the JVM process behind it."""

    def __init__(self, run_dir: str, cores: int):
        self.run_dir, self.cores = run_dir, cores
        self.spark = None
        self.proc = None

    def start(self, cores: int | None = None):
        from linked_maps_spark.session import get_spark

        cores = cores or self.cores
        local = os.path.join(self.run_dir, "spark-local")
        os.makedirs(local, exist_ok=True)
        # shuffle and block files stay inside the checkout; the environment
        # variable wins over the session's own spark.local.dir
        os.environ["SPARK_LOCAL_DIRS"] = local
        self.spark = get_spark(
            f"perfbench-{cores}", cores=cores,
            extra_conf={
                "spark.local.dir": local,
                "spark.ui.showConsoleProgress": "false",
                # every job of the run stays in the status store: the runs
                # count them, and the traced run reads their stages
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.proc = getattr(self.spark.sparkContext._gateway, "proc", None) or self.proc
        return self.spark

    def restart(self, cores: int):
        self.spark.stop()
        return self.start(cores)

    def close(self, tree: ProcTree) -> None:
        """Stop Spark, then the JVM, and wait until every child has ended."""
        from pyspark import SparkContext

        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:
                traceback.print_exc()
        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:
                traceback.print_exc()
        if self.proc is not None:
            try:
                self.proc.stdin.close()
            except (OSError, AttributeError):
                pass
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait(timeout=30)
        deadline = time.monotonic() + 15
        while time.monotonic() < deadline and len(tree.pids()) > 1:
            time.sleep(0.2)
        for pid in tree.pids()[1:]:
            try:
                os.kill(pid, 9)
            except OSError:
                pass


# --------------------------------------------------------------- workloads

class Workload:
    """Shared loop: ingest calls and read rounds, timed by spans."""

    def __init__(self, spark, cfg: dict, wal_path: str, wal_meta: dict, run_dir: str,
                 tracer: Tracer, cores: int):
        self.spark, self.cfg, self.run_dir = spark, cfg, run_dir
        self.wal_path, self.wal_meta = wal_path, wal_meta
        self.tracer, self.cores = tracer, cores
        self.commit_s: list[float] = []
        self.read_s: list[float] = []
        # per timed call: CPU seconds of the whole process tree, Spark jobs
        # submitted and py4j commands sent
        self.commit_cpu_s: list[float] = []
        self.read_cpu_s: list[float] = []
        self.commit_jobs: list[int] = []
        self.read_jobs: list[int] = []
        self.commit_py4j: list[int] = []
        self.read_py4j: list[int] = []
        self.py4j: Py4jCounter | None = None
        self.events = 0
        self.attempted = 0
        self.failed = 0
        self.engines: list = []          # (engine, expected watermark, n commits)
        self.timed_epochs: dict[int, set[int]] = {}   # engine index -> epochs
        self.epoch_walls: list[float] = []
        self.call_wal_bytes: list[int] = []
        self.lake_ratios: list[float] = []
        self.snap_diffs: list[tuple[int, int]] = []   # (snapshots, bytes added)

    def engine(self, name: str):
        from linked_maps_spark import geometry as G
        from linked_maps_spark.ingest import CdcEngine

        eng = CdcEngine(self.spark, os.path.join(self.run_dir, name),
                        geom_type=G.LINE, n_buckets=self.cfg["n_buckets"])
        eng.create_tables(overwrite=True)
        return eng

    # -- lakehouse views (LakeTable.snapshot) ------------------------------

    TABLES = ("segments", "relations", "commit_log", "metrics", "dead_letter")

    def lake_state(self, eng) -> dict:
        out = {}
        for t in self.TABLES:
            tbl = getattr(eng, t)
            snap = tbl.snapshot()
            out[t] = (snap["version"], {f["path"] for f in snap["files"]}, tbl.path)
        return out

    @staticmethod
    def lake_diff(before: dict, after: dict) -> tuple[int, int]:
        snaps = added = 0
        for t, (v1, files1, path) in after.items():
            v0, files0, _ = before[t]
            snaps += v1 - v0
            for f in files1 - files0:
                try:
                    added += os.path.getsize(os.path.join(path, f))
                except OSError:
                    pass
        return snaps, added

    @staticmethod
    def out_of_time(t0: float, done: int, seconds: float) -> bool:
        """Stop when one more iteration would likely end more than half an
        iteration past ``seconds``: the number of iterations then stays the
        same over a wide range of machine speeds."""
        elapsed = time.perf_counter() - t0
        return elapsed + 0.5 * elapsed / done >= seconds

    # -- timed calls ---------------------------------------------------------

    def marks(self) -> tuple[int, int, float]:
        """Jobs the status store holds, py4j commands sent and the tree's CPU
        seconds, read in that order: the job count's own py4j commands fall
        before the window that opens here."""
        sc = self.spark.sparkContext._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None).size()
        return jobs, self.py4j.read(), self.tracer.tree.cpu_s()

    def since(self, marks: tuple[int, int, float]) -> tuple[int, int, float]:
        """What a window opened by ``marks`` cost, read in the reverse order."""
        cpu = self.tracer.tree.cpu_s() - marks[2]
        calls = self.py4j.read() - marks[1]
        sc = self.spark.sparkContext._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        return sc.statusStore().jobsList(None).size() - marks[0], calls, cpu

    def timed_ingest(self, eng, idx: int, df, n_events: int, wal_bytes: int, **kw) -> bool:
        before = self.lake_state(eng) if self.tracer.enabled else None
        self.attempted += 1
        m = self.marks()
        try:
            with self.tracer.span("ingest", "ingest") as s:
                stats = eng.ingest(df, **kw)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return False
        jobs, calls, cpu = self.since(m)
        self.commit_jobs.append(jobs)
        self.commit_py4j.append(calls)
        self.commit_cpu_s.append(cpu)
        self.commit_s.append(s.attrs["wall_s"])
        self.events += n_events
        self.call_wal_bytes.append(wal_bytes)
        self.timed_epochs.setdefault(idx, set()).update(e.epoch for e in stats.epochs)
        self.epoch_walls.extend(e.wall_ms / 1000.0 for e in stats.epochs)
        if before is not None:
            self.snap_diffs.append(self.lake_diff(before, self.lake_state(eng)))
        return True

    def read_round(self, eng, y1: str, y2: str, tracer: Tracer | None = None,
                   timed: bool = True) -> bool:
        from linked_maps_spark import queries as Q, triples

        tr = tracer or self.tracer
        if timed:
            self.attempted += 1
        # an untimed round's spans never count as measured, even when it
        # runs inside the measured window
        was_timed, tr.timed = tr.timed, tr.timed and timed
        m = self.marks() if timed else None
        try:
            with tr.span("read_round", "bench") as rs:
                with tr.span("lakehouse.read", "lakehouse"):
                    segs = eng.current_segments()
                    rels = eng.relations.read()
                builders = {
                    "q1_edition": lambda: Q.q1_edition(segs, rels, y2),
                    "q2_edition_unique": lambda: Q.q2_edition_unique(segs, rels, y2),
                    "q3_persisted": lambda: Q.q3_persisted(segs, rels, y1, y2),
                    "q4_retired": lambda: Q.q4_retired(segs, rels, y1, y2),
                    "classify_changes": lambda: Q.classify_changes(segs, rels, y1, y2),
                    "build_triples": lambda: triples.build_triples(segs, rels),
                }
                for name, build in builders.items():
                    layer = "triples" if name == "build_triples" else "queries"
                    with tr.span(f"{layer}.{name}.build", layer):
                        df = build()
                    with tr.span(f"{layer}.{name}.exec", layer):
                        df.count()
        except Exception:
            traceback.print_exc()
            if timed:
                self.failed += 1
            return False
        finally:
            tr.timed = was_timed
        if timed:
            jobs, calls, cpu = self.since(m)
            self.read_jobs.append(jobs)
            self.read_py4j.append(calls)
            self.read_cpu_s.append(cpu)
            self.read_s.append(rs.attrs["wall_s"])
        return True


class Backfill(Workload):
    def setup(self) -> None:
        """Load the WAL, then the untimed warm-up: one replay of it into a
        throwaway warehouse and one read round on that, so the timed calls
        reuse compiled plans and booted workers.  (A smaller warm-up WAL
        left the first timed call about 8% dearer than the second.)"""
        self.wal = self.load(self.wal_path)
        eng = self.engine("warmup")
        eng.ingest(self.wal, commits_per_epoch=self.cfg["commits_per_epoch"])
        commits = self.wal_meta["commits"]
        if not self.read_round(eng, commits[-2][:4], commits[-1][:4], timed=False):
            raise RuntimeError("warm-up read round failed")
        shutil.rmtree(eng.warehouse, ignore_errors=True)

    def load(self, path: str):
        df = (self.spark.read.schema(WAL_SCHEMA).parquet(path)
              .repartition(self.cores).cache())
        df.count()
        return df

    def run(self, seconds: float) -> None:
        """Steps of one replay of the WAL into a fresh warehouse and one read
        round on it, at least ``min_steps`` and while the window allows."""
        commits = self.wal_meta["commits"]
        y1, y2 = commits[-2][:4], commits[-1][:4]
        t0 = time.perf_counter()
        i = 0
        while i < self.cfg["min_steps"] or not self.out_of_time(t0, i, seconds):
            eng = self.engine(f"wh{i}")
            self.engines.append((eng, commits[-1], len(commits)))
            ok = self.timed_ingest(eng, i, self.wal, self.wal_meta["events"],
                                   self.wal_meta["content_bytes"],
                                   commits_per_epoch=self.cfg["commits_per_epoch"])
            if not ok:
                return
            self.lake_ratios.append(dir_bytes(eng.warehouse) / self.wal_meta["content_bytes"])
            if not self.read_round(eng, y1, y2):
                return
            i += 1


class LiveTail(Workload):
    def setup_landing(self) -> None:
        """One parquet file per commit, as a file-stream source would land
        them, and an empty warehouse."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        table = pq.read_table(self.wal_path)
        landing = os.path.join(self.run_dir, "landing")
        os.makedirs(landing)
        self.batches = []
        for c in self.wal_meta["commits"]:
            part = table.filter(pc.equal(table["commit"], c))
            path = os.path.join(landing, f"{c}.parquet")
            pq.write_table(part, path)
            content = sum(len(s.encode()) for s in part["content"].to_pylist())
            self.batches.append((c, path, part.num_rows, content))
        self.eng = self.engine("wh")
        self.engines.append([self.eng, None, 0])
        self.lake_bytes_in = 0
        self.next = 0

    def setup(self) -> None:
        """Ramp the key window in (the first commits only insert keys), then
        one untimed read round: the warm-up of the per-commit plans."""
        self.setup_landing()
        for _ in range(self.cfg["ramp_commits"]):
            c, path, _, content = self.batches[self.next]
            self.eng.ingest(self.batch_df(path), commits_per_epoch=1,
                            guard_min_commit=self.engines[0][1], track_batch_range=True)
            self.advance(c, content)
        c = self.engines[0][1][:4]
        if not self.read_round(self.eng, c, c, timed=False):
            raise RuntimeError("warm-up read round failed")

    def batch_df(self, path: str):
        return self.spark.read.schema(WAL_SCHEMA).parquet(path)

    def advance(self, commit: str, content: int) -> None:
        self.engines[0][1] = commit
        self.engines[0][2] += 1
        self.lake_bytes_in += content
        self.next += 1

    def run(self, seconds: float) -> None:
        t0 = time.perf_counter()
        n = 0
        while self.next < len(self.batches):
            c, path, rows, content = self.batches[self.next]
            prev = self.batches[self.next - 1][0]
            df = self.batch_df(path)
            ok = self.timed_ingest(self.eng, 0, df, rows, content, commits_per_epoch=1,
                                   guard_min_commit=prev, track_batch_range=True)
            if not ok:
                return
            self.advance(c, content)
            if not self.read_round(self.eng, prev[:4], c[:4]):
                return
            n += 1
            if n == self.cfg["min_steps"]:
                # at a fixed commit, so the ratio does not move with the
                # number of steps the time allows
                self.lake_ratios.append(dir_bytes(self.eng.warehouse) / self.lake_bytes_in)
            if n >= self.cfg["min_steps"] and self.out_of_time(t0, n, seconds):
                break
        if self.next >= len(self.batches):
            log("live_tail ran out of commits; raise 'groups' in spec.json")


WORKLOADS = {"backfill": Backfill, "live_tail": LiveTail}


# -------------------------------------------------------------------- gate

class Gate:
    """Untimed output checks; each failure is recorded with its reason."""

    def __init__(self):
        self.failures: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failures.append(what)
            log(f"CHECK FAILED: {what}")

    def engines(self, wl: Workload, pinned: dict | None, seed_is_default: bool) -> None:
        from pyspark.sql import functions as F

        from linked_maps_spark import queries as Q

        checksums = []
        for i, (eng, last_commit, n_commits) in enumerate(wl.engines):
            segs = eng.current_segments()
            rels = eng.relations.read()
            cols = sorted(segs.columns)
            row = segs.agg(
                F.sum(F.when(~F.col("content_sha256").eqNullSafe(F.sha2(F.col("wkt"), 256)), 1)
                      .otherwise(0)).alias("bad_sha"),
                F.bit_xor(F.xxhash64(*cols)).alias("x"),
                F.count(F.lit(1)).alias("n"),
            ).first()
            self.check(row["bad_sha"] == 0,
                       f"{row['bad_sha']} segments rows with content_sha256 != sha2(wkt)")
            checksums.append((row["x"], row["n"]))
            wm = eng.watermark()
            self.check(wm == last_commit, f"watermark {wm!r} != last WAL commit {last_commit!r}")
            if i > 0:
                # a replay must match the first warehouse's checksum, which
                # the checks below cover
                continue
            flagged = eng.current_leaves().select("gid", F.lit(1).alias("a"))
            anti = Q.leaf_features(segs, rels).select("gid", F.lit(1).alias("b"))
            diff = (flagged.join(anti, "gid", "full_outer")
                    .filter(F.col("a").isNull() | F.col("b").isNull()).count())
            self.check(diff == 0, f"is_leaf & !retired differs from leaf_features by {diff} rows")
            if seed_is_default and pinned is not None:
                want = pinned.get(str(n_commits))
                got = segments_digest(segs)
                self.check(want is not None and got == want,
                           f"segments digest after {n_commits} commits {got} != pinned {want}")
        # backfill replays one WAL into several warehouses: they must hold
        # the same segments
        self.check(len(set(checksums)) == 1,
                   f"replays of one WAL disagree: {checksums}")


# ----------------------------------------------------------- traced extras

def leaf_round(spark, qs, leaves, corpus_dir, tracer: Tracer) -> dict:
    """Build and collect each leaf; its (row count, value hash) by name."""
    out = {}
    for module, name in leaves:
        with tracer.span(f"{module}.{name}.build", module):
            df = qs[name](spark, corpus_dir)
        with tracer.span(f"{module}.{name}.exec", module):
            rows = df.collect()
        out[name] = (len(rows), corpus.value_hash([tuple(r) for r in rows], df.columns))
    return out


def per_layer(values: dict, wl: Workload, tracer: Tracer, jobs: list[dict],
              spec: dict, fold_rows: list[dict]) -> None:
    by_span = attribute(jobs, tracer.spans)

    def stages_of(span):
        return [st for j in by_span.get(span.id, []) for st in j["stages"] if st["start"]]

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    for name in ("get_spark", "warmup"):
        values[f"session.{name}_s"] = tracer.find(f"session.{name}")[0].attrs["wall_s"]

    calls = [s for s in tracer.find("ingest") if s.attrs["timed"]]
    per_call: dict[str, list[float]] = {}

    def add(k, v):
        per_call.setdefault(k, []).append(v)

    for s in calls:
        js = by_span.get(s.id, [])
        sts = stages_of(s)
        busy = union_s([(st["start"], st["end"] or s.end) for st in sts])
        add("call_s", s.attrs["wall_s"])
        add("jobs", len(js))
        add("stages", len(sts))
        add("tasks", sum(st["tasks"] for st in sts))
        add("stage_busy_s", busy)
        add("driver_gap_s", s.attrs["wall_s"] - busy)
        for mod in ("ingest", "lakehouse", None):
            mine = [j for j in js if j["module"] == mod]
            add(f"jobs_from.{mod or 'jvm'}", len(mine))
            add(f"run_s_from.{mod or 'jvm'}", sum(st["run_s"] for j in mine for st in j["stages"]))
        for k, f in (("executor_run_s", "run_s"), ("executor_cpu_s", "cpu_s"),
                     ("jvm_gc_s", "gc_s"), ("shuffle_write_bytes", "shuffle_write"),
                     ("shuffle_read_bytes", "shuffle_read"), ("spill_bytes", "spill")):
            add(k, sum(st[f] for st in sts))
        add("process_cpu_s", s.attrs["cpu_s"])
        add("py4j_calls", s.attrs["py4j_calls"])
    for k, xs in per_call.items():
        values[f"ingest.{k}"] = med(xs)
    values["ingest.epoch_s.p50"] = M.p50(wl.epoch_walls)

    # the per-task rows carry no event count; the timed calls' events do
    walls = [r["wall_ms"] / 1000.0 for r in fold_rows]
    ev = wl.events
    values["fold.task_wall_s.sum"] = sum(walls)
    values["fold.task_wall_s.p50"] = M.p50(walls)
    values["fold.task_wall_s.max"] = max(walls)
    values["fold.events_per_task_s"] = ev / sum(walls)
    values["fold.keys"] = sum(r["n_keys"] for r in fold_rows)
    values["fold.segments_per_event"] = sum(r["n_segments"] for r in fold_rows) / ev
    values["fold.relations_per_event"] = sum(r["n_relations"] for r in fold_rows) / ev

    eng = wl.engines[-1][0]
    t = time.perf_counter()
    snaps = {n: getattr(eng, n).snapshot() for n in ("segments", "relations")}
    values["lakehouse.snapshot_read_s"] = time.perf_counter() - t
    files = [f for s in snaps.values() for f in s["files"]]
    values["lakehouse.data_files"] = len(files)
    per_bucket: dict[tuple, int] = {}
    for n, s in snaps.items():
        for f in s["files"]:
            per_bucket[(n, f["bucket"])] = per_bucket.get((n, f["bucket"]), 0) + 1
    values["lakehouse.files_per_bucket.max"] = max(per_bucket.values())
    values["lakehouse.snapshots"] = med([d[0] for d in wl.snap_diffs])
    values["lakehouse.bytes_added_per_wal_byte"] = (
        sum(d[1] for d in wl.snap_diffs) / sum(wl.call_wal_bytes))

    rounds = [s for s in tracer.find("read_round") if s.attrs["timed"]]
    for name in READS + ("build_triples",):
        layer = "triples" if name == "build_triples" else "queries"
        b, e, nj, ib = [], [], [], []
        for r in rounds:
            kids = [s for s in tracer.spans if s.parent == r.id]
            bs = next(s for s in kids if s.name == f"{layer}.{name}.build")
            es = next(s for s in kids if s.name == f"{layer}.{name}.exec")
            b.append(bs.attrs["wall_s"])
            e.append(es.attrs["wall_s"])
            nj.append(len(by_span.get(es.id, [])) + len(by_span.get(bs.id, [])))
            ib.append(sum(st["input_bytes"] for st in stages_of(es)))
        values[f"{layer}.{name}.build_s"] = med(b)
        values[f"{layer}.{name}.exec_s"] = med(e)
        values[f"{layer}.{name}.jobs"] = med(nj)
        values[f"{layer}.{name}.input_bytes"] = med(ib)

    for module, name in spec["leaves"]:
        bs = tracer.find(f"{module}.{name}.build")[-1]
        es = tracer.find(f"{module}.{name}.exec")[-1]
        values[f"{module}.{name}.build_s"] = bs.attrs["wall_s"]
        values[f"{module}.{name}.exec_s"] = es.attrs["wall_s"]
        values[f"{module}.{name}.jobs"] = len(by_span.get(bs.id, [])) + len(by_span.get(es.id, []))
        values[f"{module}.{name}.py4j_calls"] = bs.attrs["py4j_calls"]

    # shares of stage time inside the timed window: on jobs named by a
    # library call site, and on jobs named by that or by the library call
    # whose span holds them
    timed = [s for s in tracer.spans if s.attrs["timed"]]
    lo, hi = min(s.start for s in timed), max(s.end for s in timed)
    (values["trace.call_site_stage_share"],
     values["trace.named_stage_share"]) = stage_shares(jobs, lo, hi)


def fold_rows_of(wl: Workload) -> list[dict]:
    rows = []
    for idx, epochs in wl.timed_epochs.items():
        eng = wl.engines[idx][0]
        rows += [{k: v or 0 for k, v in r.asDict().items()}
                 for r in eng.read_metrics().collect() if r["epoch"] in epochs]
    return rows


# --------------------------------------------------------------------- main

def library_present() -> bool:
    return (os.path.isfile(os.path.join(ROOT, "linked_maps_spark", "ingest.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")))


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not library_present():
        log(f"no linked_maps_spark library under {ROOT}; nothing to measure")
        return 2
    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    M.check_spec(bench)
    spec = load_json(os.path.join(HERE, "spec.json"))
    cfg = dict(spec["workloads"][args.workload], seed=args.seed)
    trace = bool(args.trace)

    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_DRIVER_MEM"] = spec["driver_mem"]
    # the session's own opt-in: the driver heap is committed and touched at
    # start, so its resident size does not move with when the GC grows it
    os.environ["SPARK_PRETOUCH"] = "1"
    inputs = os.path.join(CACHE, "inputs")
    # inputs are generated before the session starts: not part of setup_s
    wal_path, wal_meta = walgen.cached(inputs, args.seed, cfg["wal"])
    bcfg = spec["workloads"]["backfill"]
    if trace:
        # the traced run's single-core baseline replays backfill's WAL
        base_path, base_meta = walgen.cached(inputs, args.seed, bcfg["wal"])
        corpus_dir = corpus.cached(inputs, args.seed, spec["corpus"])
    os.makedirs(CACHE, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=CACHE)
    os.environ["TMPDIR"] = run_dir
    tempfile.tempdir = run_dir
    # every JVM, the launcher's included, keeps its scratch and perf data
    # inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={run_dir} {spec['jvm_opts']}"

    cores = min(len(os.sched_getaffinity(0)), spec["cores"])
    tree = ProcTree()
    rss = RssSampler(tree).start()
    tracer = Tracer(trace, tree)
    session = Session(run_dir, cores)
    gate = Gate()
    values: dict[str, float] = {}
    wl = None
    jobs: list[dict] = []
    try:
        t0 = time.perf_counter()
        with tracer.span("session.get_spark", "session"):
            spark = session.start()
        # one counter, shared by the tracer's spans and the workload's calls
        py4j = tracer.py4j or Py4jCounter()
        py4j.install(spark.sparkContext._gateway)
        wl = WORKLOADS[args.workload](spark, cfg, wal_path, wal_meta, run_dir, tracer, cores)
        wl.py4j = py4j
        with tracer.span("session.warmup", "session"):
            wl.setup()
        values["setup_s"] = time.perf_counter() - t0

        tracer.timed = True
        t1 = time.perf_counter()
        wl.run(args.seconds)
        tracer.timed = False
        log(f"setup {values['setup_s']:.1f}s (session "
            f"{tracer.find('session.get_spark')[0].attrs['wall_s']:.1f}s), "
            f"timed {time.perf_counter() - t1:.1f}s")

        gate.check(wl.failed == 0, f"{wl.failed} of {wl.attempted} timed calls failed")
        if wl.commit_s and wl.read_s:
            pinned = spec["pinned_digests"].get(args.workload)
            gate.engines(wl, pinned, args.seed == cfg["default_seed"])
            # counts over the steps every run makes: live_tail's commits
            # differ (some compact), so more steps would move the median
            k = cfg["min_steps"]
            values["ingest_jobs.p50"] = M.p50(wl.commit_jobs[:k])
            values["ingest_py4j_calls.p50"] = M.p50(wl.commit_py4j[:k])
            values["read_round_jobs.p50"] = M.p50(wl.read_jobs[:k])
            values["read_round_py4j_calls.p50"] = M.p50(wl.read_py4j[:k])
            values["lake_bytes_per_wal_byte"] = M.p50(wl.lake_ratios)
            # CPU and wall clock: per-layer only, see BENCHMARK.json
            values["bench.commit_cpu_s.p50"] = M.p50(wl.commit_cpu_s)
            values["bench.read_round_cpu_s.p50"] = M.p50(wl.read_cpu_s)
            values["bench.ingest_eps"] = wl.events / sum(wl.commit_s)
            values["bench.commit_s.p50"] = M.p50(wl.commit_s)
            values["bench.read_round_s.p50"] = M.p50(wl.read_s)
        log(f"gate done at {time.perf_counter() - t0:.1f}s")
        for name, xs in (("commit_s", wl.commit_s), ("read_round_s", wl.read_s),
                         ("commit_cpu_s", wl.commit_cpu_s), ("read_cpu_s", wl.read_cpu_s),
                         ("commit_jobs", wl.commit_jobs), ("read_jobs", wl.read_jobs),
                         ("commit_py4j", wl.commit_py4j), ("read_py4j", wl.read_py4j)):
            log(f"{name}: n={len(xs)} p50={M.p50(xs) if xs else None} "
                f"all={[round(x, 2) for x in xs]}")

        if trace and wl.commit_s and wl.read_s:
            values["trace.overhead_s"] = tracer.overhead_s

            import __spark_entry__

            qs = __spark_entry__.queries()
            oracle_sql = __spark_entry__.oracle_sql()
            leaves = [tuple(x) for x in spec["leaves"]]
            for _ in range(spec["leaf_warmup_rounds"]):
                leaf_round(spark, qs, leaves, corpus_dir, Tracer(False, tree))
            got = leaf_round(spark, qs, leaves, corpus_dir, tracer)
            want = corpus.oracle_hashes(corpus_dir, {n: oracle_sql[n] for _, n in leaves})
            for _, n in leaves:
                gate.check(got[n] == want[n], f"leaf {n}: spark {got[n]} != duckdb {want[n]}")

            jobs = stage_records(spark)
            per_layer(values, wl, tracer, jobs, spec, fold_rows_of(wl))

            # single-core baseline: backfill's WAL at local[N] and
            # local[1] into fresh warehouses, timing the last call; a session
            # that has not run backfill's plans yet gets a warm-up call first
            eps = {}
            for n_cores in (cores, 1):
                if n_cores != cores:
                    spark = session.restart(n_cores)
                bw = Backfill(spark, bcfg, base_path, base_meta, run_dir, Tracer(False, tree),
                              n_cores)
                df = bw.load(base_path)
                warm = n_cores == cores and args.workload == "backfill"
                for k in range(1 if warm else 2):
                    eng = bw.engine(f"base{n_cores}-{k}")
                    t = time.perf_counter()
                    eng.ingest(df, commits_per_epoch=bcfg["commits_per_epoch"])
                    eps[n_cores] = base_meta["events"] / (time.perf_counter() - t)
                    gate.check(eng.watermark() == base_meta["commits"][-1],
                               f"baseline watermark at local[{n_cores}]")
                df.unpersist()
            values["ingest.eps_1core"] = eps[1]
            values["ingest.scaling_eff_1toN"] = eps[cores] / (cores * eps[1])
    except Exception:
        traceback.print_exc()
        gate.check(False, "benchmark raised")
    finally:
        t2 = time.perf_counter()
        session.close(tree)
        log(f"closed in {time.perf_counter() - t2:.1f}s")
        values["peak_rss_mb"] = rss.stop() / 1e6
        log("peak resident memory by process (RSS, MB): " + ", ".join(
            f"{pid}:{b / 1e6:.0f}" for pid, b in sorted(rss.at_peak.items(), key=lambda kv: -kv[1])))
        tracer.write(os.path.join(CACHE, "traces",
                                  f"{args.workload}-{args.seed}-{tracer.run_id}.jsonl"), jobs)
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = max(wl.attempted if wl else 0, 1)
    failed = wl.failed if wl else 0
    values["bench.ops_failed_share"] = M.failed_share(min(failed, attempted), attempted)
    correct = not gate.failures
    try:
        line = M.result_line(bench, trace, values, correct, attempted, failed)
    except (KeyError, ValueError) as exc:
        log(f"no result: {exc}")
        return 1
    print(line, flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

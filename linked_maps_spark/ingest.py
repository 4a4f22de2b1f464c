"""CDC ingest: WAL tail → per-key fold → exactly-once MERGE into lake tables.

Spark redesign of the reference lifecycle (SURVEY.md §3.1): the reference
folds editions sequentially over a single Postgres connection
(main.py:141-154, one transaction per edition at main.py:121); here the WAL is
consumed in **epochs** (micro-batches of commit labels), each epoch shuffled
by ``(repo, path)`` into a partition-stream ``mapInPandas`` fold — sequential
per key, parallel across keys — and MERGEd into snapshot-versioned lake
tables.

Exactly-once contract
---------------------
* The watermark (last ingested commit label) is read from the ``commit_log``
  table, which is written **last** in each epoch.
* Epoch write path (one for every epoch): the fold output is written ONCE,
  dynamic-partitioned by ``(kind, _bucket)``, into a scratch directory
  (segments and relations share one bucket layout: ingest re-converges a
  diverged pair before its first epoch); segments' kept rows of the
  touched buckets are rewritten beside it; then each table adopts its
  files by hard link.  Relations are insert-only (each edge's child is a
  node the epoch created), so theirs are always an append.  Commit order:
  relations + metrics (metrics rows re-append under a higher ``attempt``
  on a replay and the read path keeps only each epoch's latest attempt),
  then **segments**, then the commit-log append.
* One replay rule: each table's snapshot summary records the
  ``end_commit`` of the last epoch it committed.  A crash can leave
  relations, or relations and segments, holding an epoch the commit log
  lacks.  A resume therefore ends its FIRST epoch at the highest such
  ``end_commit`` above the watermark, so that epoch re-covers the crashed
  one (or a prefix of it), and each table whose ``end_commit`` reaches the
  epoch's already holds its output and skips the write.  Segments that
  landed skip the whole epoch (re-folding would intersect the edition
  with its own descendants) and go straight to the commit-log row;
  relations that landed skip only their adopt.  The fold is deterministic
  over the same resume state (segments alone), so the skipped output is
  exactly what a re-write would add.
* Duplicate / reordered events inside an epoch are collapsed by a
  deterministic last-writer-wins rule per ``(repo, path, commit)`` inside the
  fold (window-dedup semantics without the extra shuffle).

Resume state lives in the ``segments`` table itself (``is_leaf`` rows), not
in Spark state stores — SURVEY.md §7.3.
"""

from __future__ import annotations

import os
import re
import shutil
import threading
import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import DataType

from . import geometry as G
from .fold import RELATION_COLUMNS, SEGMENT_BASE_COLUMNS, fold_key
from .lakehouse import LakeTable, bucket_files
from .util import balanced_part_col, quote_ident

EVENT_CORE_COLS = ("repo", "path", "commit", "content")

# Names a WAL extra column can never take: they collide with the fold's
# event/state frame, its output schema, the salted fold's own columns or
# the epoch write's partition column — fail fast with a contract error
# instead of a duplicate-column plan corruption.
_EXTRAS_FORBIDDEN = frozenset(
    {"commit", "content", "_is_event", "kind", "_pid", "parent_gid",
     "child_gid", "_wall_ms", "_n_keys", "_n_segments", "_n_relations",
     "gid", "name", "seq", "commit_created", "wkt", "content_sha256",
     "editions", "is_leaf", "retired", "_bucket", "payload", "_salt"}
)
#: the epoch's projections are Spark-SQL text, so a WAL extra must also be a
#: plain identifier (a dotted, spaced or backticked name would be parsed)
_EXTRA_NAME = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _check_extras(columns: list[str]) -> None:
    """Contract check on a WAL's extra column names, before any Spark job."""
    bad = sorted(
        c for c in columns
        if c not in EVENT_CORE_COLS
        and (c in _EXTRAS_FORBIDDEN or not _EXTRA_NAME.fullmatch(c))
    )
    if bad:
        raise ValueError(
            f"WAL extra column(s) {bad} collide with reserved fold/state "
            "column names or are not plain identifiers "
            "([A-Za-z_][A-Za-z0-9_]*) — rename them upstream of ingest"
        )


def _mark(marks: list[tuple[str, float]] | None, label: str) -> None:
    """Record an epoch span boundary for the ``LMS_TRACE_INGEST=1`` stderr
    line; ``marks`` is None when tracing is off."""
    if marks is not None:
        marks.append((label, time.monotonic()))

# Target rows (events + resume-state leaves) per fold task for the adaptive
# shuffle width: ~2k rows ≈ 0.5–1 s of fold kernel at measured speeds —
# large enough that per-task python overhead amortizes, small enough that a
# stage is many tasks wide on any real epoch.  Override only via tests.
_FOLD_ROWS_PER_TASK = 2000


#: applicationIds whose python-worker pool has been pre-warmed (one warmup
#: job per Spark session, however many engines it hosts)
_PREWARMED: set[str] = set()


def prewarm_workers(spark: SparkSession, block: bool = False) -> None:
    """Boot the executor python-worker pool, import the fold's modules and
    COMPILE-WARM the epoch plan shapes ahead of the first fold stage.

    Two costs of a fresh session are hoisted off the first epoch's critical
    path into this (normally background) warmup:

    * **worker boot** — the first mapInPandas stage pays worker fork +
      package import inside its own tasks (measured 3.8 s across 32 local
      workers; a warm rerun of the identical stage: 0.5 s);
    * **first-run plan cost** — the epoch's combined fold+write job pays
      whole-stage-codegen compilation, janino/class loading, Arrow and
      parquet-writer setup on its first execution (measured ~4 s on a
      2-ROW input, i.e. pure fixed cost).  A micro ingest over a 2-key
      synthetic WAL into a throwaway warehouse executes the exact same
      plan shapes; the epoch projection carries no per-epoch literals (see
      ``_prepare_epoch``), and string literals land in the codegen
      references array rather than the source, so the generated code is
      byte-identical and the real epoch's compile becomes a cache hit.

    One warmup per applicationId; failures are swallowed (a stopped
    session just means nothing to warm).  Results are never affected —
    the micro warehouse is created and deleted under a temp dir; only
    where the boot/compile cost lands changes.  ``LMS_PLAN_WARM=0``
    disables the plan-compile half (the test suite does, to keep its
    small fixed-core sessions deterministic).
    """
    app = spark.sparkContext.applicationId
    if app in _PREWARMED:
        return
    _PREWARMED.add(app)
    plan_warm = os.environ.get("LMS_PLAN_WARM", "1") != "0"

    def noop(it):
        import linked_maps_spark.fold  # noqa: F401 — the fold fn's imports
        for pdf in it:
            yield pdf

    def run() -> None:
        try:
            if plan_warm:
                # the micro ingest's own fold stage boots the worker pool
                # (its shuffle width is floored at defaultParallelism), so
                # the separate noop stage would be redundant
                _plan_warm(spark)
            else:
                dp = spark.sparkContext.defaultParallelism
                spark.range(dp, numPartitions=dp).mapInPandas(noop, "id long").count()
        except Exception:
            pass

    if block:
        run()
    else:
        threading.Thread(target=run, name="lms-prewarm", daemon=True).start()


def _plan_warm(spark: SparkSession) -> None:
    """Run a 2-key, 1-commit micro ingest into a throwaway warehouse so the
    session's codegen/class caches hold every epoch plan shape (WAL census,
    fold + combined dynamic-partition write, manifest adopt, accounting
    appends) before the first real epoch executes them."""
    import tempfile

    from .changelog import synth_change_log, to_spark
    from .util import scratch_root

    wh = tempfile.mkdtemp(prefix="lms_planwarm_", dir=scratch_root())
    # the micro WAL is CACHED like a persisted batch feed (bench.py's): the
    # fold job's input stage then compiles against the same InMemoryTableScan
    # + commit-range filter shape a real epoch reads through (an uncached
    # local relation here left that stage's codegen cold — measured ~2 s
    # still paid by the first real fold)
    wal = to_spark(spark, synth_change_log(n_keys=2, n_commits=1, seed=1)).cache()
    try:
        wal.count()
        eng = CdcEngine(spark, wh, geom_type=G.LINE, n_buckets=32)
        eng.create_tables(overwrite=True)
        eng.ingest(wal, commits_per_epoch=1)
    finally:
        wal.unpersist()
        shutil.rmtree(wh, ignore_errors=True)


def _wal_census(df: DataFrame, bucket_sql: str) -> dict[str, tuple[int, set[int]]]:
    """``commit → (events, table buckets touched)`` of a (pre-filtered) WAL
    frame, in the ONE pass that also learns the commit labels: every epoch
    of the call sums its commits' counts and unions their buckets, so no
    epoch scans the WAL for its own stats.  The groupBy partial-aggregates
    map-side and ``coalesce(1)`` runs the final merge as a single task (a
    bare groupBy paid a shuffle-partition-wide reduce stage for a handful
    of labels).  A NULL commit groups as its own row and fails loudly: it
    cannot be ordered into any epoch."""
    rows = (
        df.groupBy("commit")
        .agg(F.expr("count(1) AS n"), F.expr(f"collect_set({bucket_sql}) AS bks"))
        .coalesce(1)
        .collect()
    )
    census = {r["commit"]: (r["n"], set(r["bks"])) for r in rows}
    if None in census:
        raise ValueError(
            f"ingest: batch carries {census[None][0]} event(s) with a NULL "
            "commit label — these cannot be ordered into any epoch; fix the "
            "WAL upstream (every event needs a commit label)"
        )
    return census


def _fold_width(
    n_conf: int, dp: int, n_events: int, state_rows: "int | None"
) -> int:
    """Adaptive fold-shuffle partition count: sized by the epoch's actual
    row volume, floored at ``dp`` (defaultParallelism — every core still
    gets work) and capped at ``n_conf`` (the configured shuffle partitions
    — large epochs unchanged).  ``state_rows=None`` (unknown manifest row
    stats) disables the shrink."""
    if state_rows is None:
        return n_conf
    rows_est = n_events + state_rows
    return min(n_conf, max(dp, -(-rows_est // _FOLD_ROWS_PER_TASK)))

COMMIT_LOG_SCHEMA = (
    "epoch long, start_commit string, end_commit string, n_events long, "
    "n_keys long, wall_ms double, throughput_eps double"
)
METRICS_SCHEMA = (
    "epoch long, partition_id int, n_keys long, n_segments long, "
    "n_relations long, n_events long, wall_ms double, attempt long"
)
DEAD_LETTER_SCHEMA = (
    "epoch long, repo string, path string, commit string, "
    "error string, content string, attempt long"
)


def _fold_output_schema(extras: list[tuple[str, str]]) -> str:
    base = ", ".join(f"{c} {t}" for c, t in SEGMENT_BASE_COLUMNS)
    rel = "parent_gid string, child_gid string"
    extra = "".join(f", {quote_ident(c)} {t}" for c, t in extras)
    # _n_* ride on the per-task 'timing' row: the fold task already knows its
    # own key/segment/relation counts, so the metrics append reads them
    # straight off the changes cache — no groupBy shuffle over the epoch's
    # full change set just for accounting
    return (
        f"kind string, _pid int, {base}, {rel}{extra}, _wall_ms double, "
        "_n_keys long, _n_segments long, _n_relations long"
    )


def _rows_by_key(pdf: "pd.DataFrame", extra_cols: list[str]):
    """Yield ``(repo, path, event_rows, state_rows)`` per key from a unified
    partition frame — the list-based replacement for pandas
    ``groupby``/boolean-slice/``to_dict("records")``, which profiled at ~25%
    of the whole fold stage's CPU (11.6 s vs 0.14 s on the 4k-key bench
    frame, identical output).  Column values are pulled to python lists
    ONCE (NaN/NA → None), keys are bucketed by first appearance (same
    iteration order as ``groupby(sort=False)``), and row dicts are built
    straight from the lists.  Group order never affects results — events
    re-order by commit inside the fold and state rows by seq — but keeping
    it identical makes old/new outputs byte-comparable.  The plain fold,
    the salted slices and the salted coordinator all read rows here."""
    ev_cols = ("repo", "path", "commit", "content", *extra_cols)
    st_cols = ("repo", "path", *_STATE_COLS, *extra_cols)
    na = pd.NA
    lists: dict[str, list] = {}
    for c in dict.fromkeys(("repo", "path", "_is_event") + ev_cols + st_cols):
        s = pdf[c]
        if c == "editions":
            v = s.tolist()
        elif s.dtype == object:
            v = [
                None
                if (x is None or x is na or (isinstance(x, float) and x != x))
                else x
                for x in s.tolist()
            ]
        elif s.isna().any():
            v = s.astype(object).where(s.notna(), None).tolist()
        else:
            v = s.tolist()
        lists[c] = v
    groups: dict[tuple, tuple[list, list]] = {}
    for i, (r, p, e) in enumerate(
        zip(lists["repo"], lists["path"], lists["_is_event"])
    ):
        g = groups.get((r, p))
        if g is None:
            groups[(r, p)] = g = ([], [])
        g[0 if e else 1].append(i)
    for (r, p), (ei, si) in groups.items():
        if not ei:
            continue
        yield (
            r,
            p,
            [{c: lists[c][i] for c in ev_cols} for i in ei],
            [{c: lists[c][i] for c in st_cols} for i in si],
        )


_STATE_TYPES = [
    ("gid", "string"),
    ("name", "string"),
    ("seq", "long"),
    ("commit_created", "string"),
    ("wkt", "string"),
    ("content_sha256", "string"),
    ("editions", "array<string>"),
    ("is_leaf", "boolean"),
    ("retired", "boolean"),
]
_STATE_COLS = [c for c, _ in _STATE_TYPES]


def _preparse(pdf: "pd.DataFrame", geom_type: str) -> None:
    """One vectorized batch parse primes the memo for every event content
    and resume leaf of a fold task's frame; the per-key parses become
    lookups (poison strings stay unprimed and surface their exact error in
    the fold's own parse)."""
    m = pdf["_is_event"].astype(bool).to_numpy()
    G.preparse_wkts(
        pdf["content"].to_numpy()[m].tolist() + pdf["wkt"].to_numpy()[~m].tolist(),
        geom_type,
    )


def _timing_row(seg_cols, extra_cols, pid, wall_ms, n_keys, n_segs, n_rels) -> dict:
    """kind='timing' row: one fold task's wall time and accounting, which
    the metrics append reads instead of re-aggregating the change set."""
    row = dict.fromkeys(seg_cols + extra_cols)
    row.update(kind="timing", _pid=pid, parent_gid=None, child_gid=None,
               _wall_ms=wall_ms, _n_keys=n_keys, _n_segments=n_segs,
               _n_relations=n_rels)
    return row


def _make_fold_fn(geom_type: str, extras: list[tuple[str, str]], on_error: str = "raise",
                  hot_threshold: int = 0):
    """Partition-stream fold (``mapInPandas``): the batch's events and the
    current leaf state arrive in ONE frame flagged by ``_is_event``,
    hash-partitioned by ``(repo, path)`` so each key is wholly inside one
    partition; grouping happens in pandas.

    One python/Arrow round-trip per *partition* instead of per *key* —
    measured ~10× less overhead than per-group ``applyInPandas`` at
    16k keys/epoch."""
    seg_cols = [c for c, _ in SEGMENT_BASE_COLUMNS]
    extra_cols = [c for c, _ in extras]
    out_cols = [
        "kind", "_pid", *seg_cols, "parent_gid", "child_gid", *extra_cols,
        "_wall_ms", "_n_keys", "_n_segments", "_n_relations",
    ]

    def fn(batches) -> "pd.DataFrame":
        from pyspark import TaskContext

        t0 = time.monotonic()
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else -1
        chunks = list(batches)
        if not chunks:
            return
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        del chunks
        _preparse(pdf, geom_type)

        cols: dict[str, list] = {c: [] for c in out_cols}
        n_keys = n_segs = n_rels = 0
        hot_keys: list[tuple[str, str]] = []
        for repo, path, ev_rows, st_rows in _rows_by_key(pdf, extra_cols):
            res = fold_key(
                repo,
                path,
                ev_rows,
                st_rows,
                geom_type=geom_type,
                on_error=on_error,
            )
            if hot_threshold and res.n_leaves >= hot_threshold:
                hot_keys.append((repo, path))
            _append_fold_cols(cols, res, pid, seg_cols, extra_cols)
            n_keys += 1
            n_segs += res.n_segments
            n_rels += len(res.relations)
        # per-task fold wall time + accounting (kind='timing'): the metrics
        # append reads these rows directly instead of re-aggregating the
        # whole change set
        _append_row(cols, _timing_row(
            seg_cols, extra_cols, pid, (time.monotonic() - t0) * 1000.0,
            n_keys, n_segs, n_rels,
        ))
        # kind='hot' advisory markers: keys whose final lattice crossed the
        # salt threshold this epoch.  The engine carries them forward so the
        # next epoch's Zipf-head routing needs NO state scan; the rows never
        # reach any table (every table filter/adopt selects its own kind).
        for hr, hp in hot_keys:
            hrow = dict.fromkeys(seg_cols + extra_cols)
            hrow.update(kind="hot", _pid=pid, repo=hr, path=hp,
                        parent_gid=None, child_gid=None)
            _append_row(cols, hrow)
        yield pd.DataFrame(cols)

    return fn


def _dead_changes_row(seg_cols, extra_cols, pid, repo, path, d) -> dict:
    """kind='dead' row for the unified change frame — THE definition of the
    column-smuggling encoding (commit rides in commit_created, the parse
    error in name, the raw payload in wkt), shared by the plain fold and the
    salted coordinator so the two paths cannot drift."""
    drow = dict.fromkeys(seg_cols + extra_cols)
    drow.update(
        kind="dead", _pid=pid, repo=repo, path=path,
        commit_created=d["commit"], name=d["error"], wkt=d["content"],
        parent_gid=None, child_gid=None, _wall_ms=None,
    )
    return drow


def _dead_letter_select(df: DataFrame, epoch: int, attempt: int) -> DataFrame:
    """Decode kind='dead' change rows into dead_letter's schema — the single
    inverse of :func:`_dead_changes_row`."""
    return df.select(
        F.lit(epoch).cast("long").alias("epoch"),
        "repo", "path",
        F.col("commit_created").alias("commit"),
        F.col("name").alias("error"),
        F.col("wkt").alias("content"),
        F.lit(attempt).cast("long").alias("attempt"),
    )


def _append_row(cols: dict, row: dict) -> None:
    """Append one dict-shaped row (dead/timing — rare) to the column lists."""
    for c, lst in cols.items():
        lst.append(row.get(c))


def _append_fold_cols(cols: dict, res, pid: int, seg_cols: list[str],
                      extra_cols: list[str]) -> None:
    """Append one key's :class:`FoldResult` to the changes-frame column
    lists, reading the fold's node objects directly — no ``node_to_row``
    dict, and the final ``pd.DataFrame`` builds from ready column lists
    instead of inferring from 100k+ row dicts (a dict path profiled at ~50%
    of the whole fold stage: 1.3 s format + 4.3 s DataFrame-from-dicts vs
    5.1 s of actual fold on the 800-key bench frame).  Emission order:
    segments then relations, both in creation order, then the key's
    quarantined events as kind='dead' rows.  The plain fold and the salted
    coordinator both emit through here."""
    nodes = res.nodes
    rels = res.relations
    n, m = len(nodes), len(rels)
    nones_n = [None] * n
    cols["kind"].extend(["segment"] * n)
    cols["gid"].extend([nd.gid for nd in nodes])
    cols["name"].extend([nd.name for nd in nodes])
    cols["seq"].extend([nd.seq for nd in nodes])
    cols["commit_created"].extend([nd.commit_created for nd in nodes])
    cols["wkt"].extend([nd.wkt for nd in nodes])
    cols["content_sha256"].extend([nd.sha for nd in nodes])
    cols["editions"].extend([list(nd.editions) for nd in nodes])
    cols["is_leaf"].extend([nd.is_leaf for nd in nodes])
    cols["retired"].extend([nd.retired for nd in nodes])
    for c in extra_cols:
        cols[c].extend([nd.extras.get(c) for nd in nodes])
    cols["parent_gid"].extend(nones_n)
    cols["child_gid"].extend(nones_n)
    if m:
        nones_m = [None] * m
        cols["kind"].extend(["relation"] * m)
        for c in ("gid", "name", "seq", "commit_created", "wkt",
                  "content_sha256", "editions", "is_leaf", "retired", *extra_cols):
            cols[c].extend(nones_m)
        cols["parent_gid"].extend([r["parent_gid"] for r in rels])
        cols["child_gid"].extend([r["child_gid"] for r in rels])
    total = n + m
    # every row of this key shares repo/path/pid; metrics/timing stay NULL
    cols["repo"].extend([res.repo] * total)
    cols["path"].extend([res.path] * total)
    cols["_pid"].extend([pid] * total)
    nones_t = [None] * total
    for c in ("_wall_ms", "_n_keys", "_n_segments", "_n_relations"):
        cols[c].extend(nones_t)
    # quarantined poison events ride the unified frame as kind='dead'
    # (commit in commit_created, error in name, payload in wkt); the epoch
    # assembly appends them to the dead_letter table
    for d in res.dead:
        _append_row(cols, _dead_changes_row(seg_cols, extra_cols, pid, res.repo, res.path, d))


def _make_slice_fn(geom_type: str, extras: list[tuple[str, str]], on_error: str = "raise"):
    """Phase-1 salted sub-fold: one ``(repo, path, salt)`` group = one leaf
    slice folded over the (replicated) epoch events; output is a single
    pickled payload row carrying the slice's ``SliceResult`` (serialized
    nodes with provisional seqs and no id arrays, relations, per-round
    partial intersection unions) and its wall time."""
    import pickle

    extra_cols = [c for c, _ in extras]

    def fn(key, pdf):
        from .saltfold import fold_slice

        t0 = time.monotonic()
        _preparse(pdf, geom_type)
        ((repo, path, ev_rows, st_rows),) = _rows_by_key(pdf, extra_cols)
        res = fold_slice(repo, path, ev_rows, st_rows, geom_type, on_error)
        payload = pickle.dumps((res, (time.monotonic() - t0) * 1000.0))
        return pd.DataFrame(
            [{"repo": repo, "path": path, "_salt": int(key[2]), "payload": payload}]
        )

    return fn


def _make_coord_fn(geom_type: str, extras: list[tuple[str, str]], on_error: str = "raise"):
    """Phase-2 per-key coordinator: folds the edition/mu lineage with the
    slices' partials mixed in, replays the sequential seq numbering, and
    emits the combined changes rows."""
    import pickle

    extra_cols = [c for c, _ in extras]
    seg_cols = [c for c, _ in SEGMENT_BASE_COLUMNS]
    out_cols = [
        "kind", "_pid", *seg_cols, "parent_gid", "child_gid", *extra_cols,
        "_wall_ms", "_n_keys", "_n_segments", "_n_relations",
    ]

    def fn(key, pdf):
        from pyspark import TaskContext

        from .saltfold import combine, fold_coord, merge_partials

        t0 = time.monotonic()
        ctx = TaskContext.get()
        # offset keeps metrics (epoch, partition_id) keys from colliding with
        # the cold fold stage's task ids
        pid = 20000 + (ctx.partitionId() if ctx else 0)
        slices = [pickle.loads(bytes(b)) for b in pdf["payload"] if b is not None]
        _preparse(pdf, geom_type)
        ((repo, path, ev_rows, _),) = _rows_by_key(pdf, extra_cols)
        coord = fold_coord(
            repo, path, ev_rows, merge_partials([sr.partials for sr, _ in slices]),
            geom_type, on_error,
        )
        res = combine([sr for sr, _ in slices], coord)
        cols: dict[str, list] = {c: [] for c in out_cols}
        # dead rows come from the coordinator alone (slices drop the same
        # events — deterministic from identical strings)
        _append_fold_cols(cols, res, pid, seg_cols, extra_cols)
        # timing: the max slice wall (phase 1) and the coordinator wall —
        # what the skew accounting and straggler checks read
        wall = max([w for _, w in slices] + [(time.monotonic() - t0) * 1000.0])
        _append_row(cols, _timing_row(
            seg_cols, extra_cols, pid, wall, 1, res.n_segments, len(res.relations),
        ))
        return pd.DataFrame(cols)

    return fn


@dataclass
class EpochStats:
    epoch: int
    start_commit: str
    end_commit: str
    n_events: int
    n_keys: int
    wall_ms: float


@dataclass
class IngestStats:
    epochs: list[EpochStats] = field(default_factory=list)
    # unfiltered commit range of the batch handed to this ingest() call
    # (BEFORE the watermark replay-skip) — lets callers that need ordering
    # evidence (stream_ingest's misorder guard) reuse the call's WAL census
    # instead of running their own min/max aggregation per micro-batch
    batch_min_commit: str | None = None
    batch_max_commit: str | None = None

    @property
    def n_events(self) -> int:
        return sum(e.n_events for e in self.epochs)

    @property
    def wall_ms(self) -> float:
        return sum(e.wall_ms for e in self.epochs)

    @property
    def throughput_eps(self) -> float:
        return self.n_events / (self.wall_ms / 1000.0) if self.wall_ms else 0.0


class CdcEngine:
    """The engine: lake warehouse + ingest loop + table accessors."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        geom_type: str = G.LINE,
        n_buckets: int = 16,
        n_salts: int = 8,
        salt_leaf_threshold: int = 256,
        on_error: str = "raise",
    ):
        if on_error not in ("raise", "quarantine"):
            raise ValueError(f"on_error must be 'raise' or 'quarantine', got {on_error!r}")
        self.spark = spark
        self.warehouse = os.path.abspath(warehouse)
        self.geom_type = geom_type
        self.n_buckets = n_buckets
        # poison-event policy: "raise" aborts the epoch on a malformed WKT
        # (the strict replay contract); "quarantine" skips the event exactly
        # as if it never entered the WAL and appends it to the dead_letter
        # table with the parse error (attempt-deduped like metrics, so a
        # crashed epoch's replay fully replaces its dead rows)
        self.on_error = on_error
        # hot-key salted fold (SURVEY §7.3): keys whose current leaf count
        # reaches the threshold are folded as n_salts leaf slices + a
        # coordinator instead of one sequential task.  Threshold 0 or
        # n_salts <= 1 disables the path.
        self.n_salts = n_salts
        self.salt_leaf_threshold = salt_leaf_threshold
        # adaptive bucket sizing: once mean bucket size crosses this, the
        # post-ingest maintenance pass doubles the table's bucket count so
        # COW MERGE write amplification stays ~delta-sized instead of
        # ~table/n_buckets (256 MB ≈ 2 parquet row groups per bucket)
        self.target_bucket_bytes = 256 * 1024 * 1024
        # test hook: raise after the named step to exercise crash-replay
        # windows ("relations_merge", "segments_merge")
        self._crash_after: str | None = None
        # Zipf-head advisory carry: the known hot-key set, grown from the
        # fold's own kind='hot' markers (see _make_fold_fn) so steady-state
        # epochs route salting with ZERO detection scans.  None = unknown
        # (fresh engine over pre-existing state) — the first epoch then
        # falls back to the manifest pretest / exact count, which seeds it.
        # Advisory only: salted vs plain folds are bit-identical (pinned),
        # so a stale entry costs a little speed, never correctness; the set
        # only grows (a key whose lattice later shrinks stays salted).
        # SINGLE-WRITER ASSUMPTION (like the exactly-once commit log
        # itself): the carry trusts that every commit to this warehouse
        # flows through this engine instance.  A second concurrent writer
        # can grow a key past the threshold AFTER this instance validated
        # its bucket, and this instance would keep plain-folding it for
        # the rest of its lifetime — perf-only (bit-equality pinned), and
        # out of scope because concurrent writers already violate the
        # ordered-commit contract.  A restarted engine re-seeds from the
        # manifest pretest, so the advisory heals across process restarts.
        self._hot_carry: "set[tuple[str, str]] | None" = None
        # buckets whose PRE-EXISTING leaf state has been ground-truthed for
        # hot keys (one manifest pretest + at most one full-population scan
        # per bucket per engine lifetime); keys folded by THIS engine are
        # covered by the fold's kind='hot' markers instead.  Keyed to the
        # bucket count so a rebucket (which renumbers buckets) re-validates.
        self._validated_buckets: set[int] = set()
        self._validated_n_buckets: int | None = None
        # boot the python-worker pool in the background (once per session)
        # so the first fold stage runs against warm workers — overlaps with
        # the caller's WAL load and the ingest call's WAL census
        prewarm_workers(spark)

    # ---------------------------------------------------------------- tables

    def _path(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def create_tables(self, overwrite: bool = False) -> None:
        seg_schema = ", ".join(f"{c} {t}" for c, t in SEGMENT_BASE_COLUMNS)
        rel_schema = ", ".join(f"{c} {t}" for c, t in RELATION_COLUMNS)
        # MERGE identity stays the content-hash gid / edge pair, but the file
        # layout buckets on (repo, path): the ingest epoch can then prune its
        # leaf-state read to exactly the buckets its batch keys hash into,
        # making epoch cost independent of untouched-table size.
        LakeTable.create(
            self.spark, self._path("segments"), seg_schema,
            key_cols=["gid"], bucket_cols=["repo", "path"],
            n_buckets=self.n_buckets, overwrite=overwrite,
        )
        LakeTable.create(
            self.spark, self._path("relations"), rel_schema,
            key_cols=["parent_gid", "child_gid"], bucket_cols=["repo", "path"],
            n_buckets=self.n_buckets, overwrite=overwrite,
        )
        LakeTable.create(
            self.spark, self._path("commit_log"), COMMIT_LOG_SCHEMA,
            key_cols=[], n_buckets=1, overwrite=overwrite,
        )
        # APPEND-ONLY (key-less): a keyed COW upsert would re-read and
        # rewrite the whole metrics history every epoch — O(N²) rows over N
        # epochs.  Appends are O(epoch-delta); a replayed epoch re-appends
        # its rows under a higher ``attempt`` and ``read_metrics`` keeps only
        # each epoch's latest attempt (full replacement even when the
        # replay's task partition ids differ from the crashed attempt's).
        LakeTable.create(
            self.spark, self._path("metrics"), METRICS_SCHEMA,
            key_cols=[], n_buckets=1, overwrite=overwrite,
        )
        # dead-letter queue (append-only like metrics, same attempt-dedup
        # read): poison events quarantined under on_error="quarantine";
        # created unconditionally so the schema exists before the first
        # poison arrives
        LakeTable.create(
            self.spark, self._path("dead_letter"), DEAD_LETTER_SCHEMA,
            key_cols=[], n_buckets=1, overwrite=overwrite,
        )

    @property
    def segments(self) -> LakeTable:
        return LakeTable.load(self.spark, self._path("segments"))

    @property
    def relations(self) -> LakeTable:
        return LakeTable.load(self.spark, self._path("relations"))

    @property
    def commit_log(self) -> LakeTable:
        return LakeTable.load(self.spark, self._path("commit_log"))

    @property
    def metrics(self) -> LakeTable:
        return LakeTable.load(self.spark, self._path("metrics"))

    @property
    def dead_letter(self) -> LakeTable:
        return LakeTable.load(self.spark, self._path("dead_letter"))

    def _read_latest_attempt(self, table: LakeTable) -> DataFrame:
        """Replay dedup shared by the append-only accounting tables
        (metrics, dead_letter): a crashed epoch's replay re-appends its rows
        under a higher ``attempt`` — keep only each epoch's latest (stale
        partial accounting from the crashed attempt is fully replaced).
        Rows written before the attempt column existed read as NULL; they
        must dedup as attempt 0, not vanish from a NULL comparison."""
        from pyspark.sql import Window

        d = table.read().withColumn(
            "attempt", F.coalesce(F.col("attempt"), F.lit(0).cast("long"))
        )
        w = Window.partitionBy("epoch")
        return (
            d.withColumn("_ma", F.max("attempt").over(w))
            .filter(F.col("attempt") == F.col("_ma"))
            .drop("_ma", "attempt")
        )

    def read_dead_letter(self) -> DataFrame:
        """Quarantined poison events with replay dedup (the read_metrics
        rule — one shared implementation, so the two reads cannot drift)."""
        return self._read_latest_attempt(self.dead_letter)

    def read_metrics(self) -> DataFrame:
        """Metrics with replay dedup (see :meth:`_read_latest_attempt`)."""
        return self._read_latest_attempt(self.metrics)

    # ----------------------------------------------------------------- state

    def watermark(self) -> str | None:
        """Last fully committed commit label.

        O(1) driver-side manifest read — NOT a Spark job: every commit-log
        append (and the log-compaction overwrite) records its ``end_commit``
        in the snapshot summary, and epochs commit in ascending commit
        order, so the newest summary value IS the max.  At any scale this
        makes the per-ingest-call watermark lookup a single small JSON read
        instead of a full commit-log scan + agg job."""
        wm = self.commit_log.latest_summary_value("end_commit")
        return None if wm is None else str(wm)

    def current_segments(self) -> DataFrame:
        return self.segments.read()

    _LEAF_PREDS = [("is_leaf", "=", True), ("retired", "=", False)]

    def current_leaves(self) -> DataFrame:
        # stats-pruned: a data file whose footer says every row is retired
        # (or none is a leaf) is skipped at the manifest, not the scan
        return self.segments.read_where(self._LEAF_PREDS)

    def _hot_keys(self, leaves: DataFrame) -> list[tuple[str, str]]:
        """Exact Zipf-head count: keys whose accumulated leaf lattice crosses
        ``salt_leaf_threshold`` (routed through the salted fold).  One Spark
        job; callers gate it behind the manifest-row pretest."""
        return [
            (r["repo"], r["path"])
            for r in leaves.groupBy("repo", "path")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= self.salt_leaf_threshold)
            .collect()
        ]

    def _absorb_hot_markers(self, scratch: str) -> None:
        """Fold-emitted ``kind='hot'`` advisory rows → the carry, read
        driver-side with pyarrow (the ``met_from_timing`` pattern) — zero
        Spark jobs.  The scratch path is always a local directory: the
        engine keeps ``os.path.abspath`` of its warehouse."""
        if self._hot_carry is None:
            return
        import pyarrow.parquet as pq

        for fp, _ in bucket_files(os.path.join(scratch, "kind=hot")):
            t = pq.read_table(fp, columns=["repo", "path"])
            self._hot_carry.update(
                zip(t.column("repo").to_pylist(), t.column("path").to_pylist())
            )

    def _leaves_for(
        self,
        batch_keys: DataFrame,
        buckets: list[int],
        patch_changes: DataFrame | None,
    ) -> DataFrame:
        """Resume-state leaves (live and retired) for the batch keys:
        bucket-pruned table read, optionally patched with the in-flight
        previous epoch's change set (pipelined ingest).  The patch applies
        exactly the MERGE the table is about to commit — anti-join out
        updated gids, union the new rows, re-filter leaves — so downstream
        sees post-merge state.  Retired leaves only carry the key's seq
        high-water mark into the fold.  Opens only the buckets of the keys,
        which may repeat (semi joins ignore that)."""
        base = (
            self.segments.read_where([("is_leaf", "=", True)], buckets=buckets)
            .join(batch_keys, on=["repo", "path"], how="left_semi")
        )
        if patch_changes is None:
            return base
        delta = patch_changes.join(batch_keys, on=["repo", "path"], how="left_semi")
        kept = base.join(delta.select("gid"), on="gid", how="left_anti")
        return (
            kept.unionByName(delta, allowMissingColumns=True)
            .filter("is_leaf")
        )

    # ---------------------------------------------------------------- ingest

    def ingest(
        self,
        change_log: DataFrame,
        commits_per_epoch: int = 4,
        max_epochs: int | None = None,
        guard_min_commit: str | None = None,
        track_batch_range: bool = False,
    ) -> IngestStats:
        """Tail the WAL from the current watermark to its head.

        ``max_epochs`` stops early (kill-and-resume tests); a subsequent call
        resumes from the watermark and converges to the same final state.

        ``guard_min_commit``: if set, raise BEFORE any processing when the
        batch carries a commit at or below it.  Used by ``stream_ingest``'s
        misorder guard: events at-or-below the watermark are silently
        treated as checkpoint replays, so a delivery order that diverges
        from commit order must fail loudly instead — and the check rides
        the WAL census this method already runs.

        ``track_batch_range`` (implied by ``guard_min_commit``): report the
        batch's UNfiltered commit lo/hi on the returned stats.  This runs
        the WAL census without the ``commit > watermark`` pushdown
        — right for streaming micro-batches (small, and the guard needs the
        true range), wrong as a default: a batch resume over a deep WAL
        history relies on that pushed filter to prune already-ingested
        files at the parquet-footer level.

        **One WAL census per call** (:func:`_wal_census`): a single job
        learns every pending commit's event count and touched buckets; each
        epoch sums its chunk of commits, so no epoch runs a stats job.

        **One replay rule** (module docstring): segments' and relations'
        ``end_commit`` are read once per call.  The first epoch ends at the
        higher of the two when it lies above the watermark (a crashed
        attempt landed it); later epochs are cut by ``commits_per_epoch``.
        A table whose ``end_commit`` reaches an epoch's skips its write:
        segments the whole epoch, relations their adopt.

        **Pipelined epochs**: epoch k+1's PREPARE (resume-state read, fold
        and combined write) overlaps epoch k's merge WRITES — the
        two halves of consecutive epochs that dominate the wall.  The
        exactly-once COMMIT order is untouched: epoch k's ordered snapshot
        commits (relations, metrics, segments, commit_log) all land before
        epoch k+1's writes start.  Epoch k+1's resume state cannot come from
        the table (k isn't committed while k+1 prepares), so the pruned leaf
        read against the pre-k snapshot is PATCHED with epoch k's in-memory
        change set — semantically the same MERGE the table is about to
        apply, so the fold input is bit-identical to the serial schedule
        (the epoch-size-invariance and kill/resume digest tests pin this).

        Every epoch writes through ONE combined ``partitionBy(kind,
        _bucket)`` job, which needs segments and relations to share a bucket
        layout; a pair diverged by an external rebucket is re-converged
        here, before the first epoch (a snapshot comparison when they
        already match).
        """
        # checked before any Spark job: range() with a step below 1 yields no
        # epoch (or raises only after the census), and a negative slice drops
        # the last epochs
        if commits_per_epoch < 1:
            raise ValueError(f"commits_per_epoch must be >= 1, got {commits_per_epoch}")
        if max_epochs is not None and max_epochs < 1:
            raise ValueError(f"max_epochs must be None or >= 1, got {max_epochs}")
        _check_extras(change_log.columns)
        self._share_layout()
        if self.on_error == "quarantine":
            # warehouses created before the dead-letter table existed get it
            # lazily (metadata-only, idempotent)
            dl = LakeTable(self.spark, self._path("dead_letter"))
            if not dl.exists():
                LakeTable.create(
                    self.spark, self._path("dead_letter"), DEAD_LETTER_SCHEMA,
                    key_cols=[], n_buckets=1,
                )
        wm = self.watermark()
        stats = IngestStats()
        # the buckets are those of the shared layout _share_layout just
        # settled; nothing rebuckets before maintain() ends the call
        bucket_sql = self.segments.bucket_sql()
        if guard_min_commit is not None or track_batch_range:
            # census WITHOUT the watermark pushdown, so the batch's true
            # lo/hi are known for the misorder guard / stats; the replay
            # skip applies driver-side instead
            census = _wal_census(change_log, bucket_sql)
            all_commits = sorted(census)
            if guard_min_commit is not None and all_commits and (
                all_commits[0] <= guard_min_commit
            ):
                raise ValueError(
                    f"ingest: batch carries commit {all_commits[0]!r} <= "
                    f"already-delivered {guard_min_commit!r} — delivery order "
                    "diverges from commit order; these events would be "
                    "silently dropped as watermark replays. Land WAL files "
                    "with monotone mtimes in commit order (see the "
                    "stream_ingest contract note)."
                )
            if all_commits:
                stats.batch_min_commit = all_commits[0]
                stats.batch_max_commit = all_commits[-1]
            commits = (
                [c for c in all_commits if c > wm]
                if wm is not None else all_commits
            )
        else:
            # batch path: keep the commit > watermark predicate IN the scan
            # — on a resume over deep WAL history the pushed filter prunes
            # already-ingested files at the parquet-footer level
            pending = (
                change_log.filter(
                    (F.col("commit") > F.lit(wm)) | F.col("commit").isNull()
                )
                if wm is not None else change_log
            )
            census = _wal_census(pending, bucket_sql)
            commits = sorted(census)
        # O(1) epoch numbering: every commit-log append records its epoch in
        # the snapshot summary, so the next epoch id is a manifest read.  A
        # log with no files starts at epoch 0; the count() job runs only
        # when files exist but no summary carries an epoch (a log whose
        # compaction predates the summary marks' inheritance).
        last_epoch = self.commit_log.latest_summary_value("epoch")
        if last_epoch is not None:
            epoch0 = int(last_epoch) + 1
        elif not self.commit_log.snapshot()["files"]:
            epoch0 = 0
        else:
            epoch0 = self.commit_log.read().count()
        # the one replay rule (module docstring): the first epoch ends at the
        # highest end_commit a crashed attempt landed above the watermark
        seg_mark, rel_mark = (
            str(t.latest_summary_value("end_commit") or "")
            for t in (self.segments, self.relations)
        )
        head = [c for c in commits if c <= max(seg_mark, rel_mark)]
        rest = commits[len(head):]
        chunks = ([head] if head else []) + [
            rest[i : i + commits_per_epoch]
            for i in range(0, len(rest), commits_per_epoch)
        ]
        if max_epochs is not None:
            chunks = chunks[:max_epochs]
        prev: dict | None = None  # the epoch whose writes are in flight
        try:
            for j, chunk in enumerate(chunks):
                # a chunk is a contiguous run of the sorted pending commits,
                # so its census rows are exactly the events the epoch's
                # commit-range filter selects
                n_events = sum(census[c][0] for c in chunk)
                if seg_mark >= chunk[-1]:
                    # segments landed (only ever the first chunk, so nothing
                    # is in flight): no fold runs, and the commit-log row's
                    # key count comes from a dedicated (rare) job
                    t0 = time.monotonic()
                    n_keys = (
                        change_log.filter(F.col("commit").between(chunk[0], chunk[-1]))
                        .select("repo", "path").distinct().count()
                    )
                    stats.epochs.append(self._finish_epoch(
                        epoch0 + j, chunk[0], chunk[-1], n_events, n_keys, t0,
                    ))
                    continue
                prep = self._prepare_epoch(
                    epoch0 + j, change_log, chunk[0], chunk[-1], n_events,
                    sorted(set().union(*(census[c][1] for c in chunk))),
                    patch_changes=None if prev is None else prev["patch_df"],
                )
                prep["rel_landed"] = rel_mark >= chunk[-1]
                if prev is not None:
                    stats.epochs.append(self._commit_epoch(prev))
                prev = prep
                self._start_writes(prep)
            if prev is not None:
                stats.epochs.append(self._commit_epoch(prev))
                prev = None
        finally:
            # crash path: join the in-flight write pool, so a caller that
            # catches and immediately retries ingest never races a zombie
            # kept-write job against the retry's scratch rmtree
            pool = prev and prev.get("pool")
            if pool is not None:
                pool.shutdown(wait=True, cancel_futures=True)
        self.maintain()
        return stats

    def maintain(
        self,
        target_bucket_bytes: int | None = None,
        keep_snapshots: int = 4,
        max_log_files: int = 8,
        max_files_per_bucket: int | None = 8,
    ) -> None:
        """Post-ingest table maintenance (amortized once per ingest call):

        * :meth:`maybe_rebucket` — keep COW write amplification ~delta-sized;
        * **log compaction** — ``commit_log``/``metrics`` add one small file
          per epoch; once past ``max_log_files`` they are rewritten into a
          single file (metrics with replay-dedup applied) so the watermark
          read stays O(1) in epochs, not O(K) tiny parquet opens;
        * **binpack compaction** — buckets that relations' per-epoch
          appends, the hot-key salted writes or skewed epochs fragmented
          past ``max_files_per_bucket`` files are coalesced
          (``LakeTable.compact_files``; O(fragmented buckets), the Iceberg
          rewrite_data_files binpack analog; ``None`` disables);
        * **snapshot expiry** — drop snapshot metadata beyond the last
          ``keep_snapshots`` versions and GC unreferenced data files, keeping
          COW storage amplification bounded (the Iceberg
          expire_snapshots/remove_orphan_files analog).
        """
        self.maybe_rebucket(target_bucket_bytes)
        if max_files_per_bucket is not None:
            for tbl in (self.segments, self.relations):
                tbl.compact_files(max_files_per_bucket=max_files_per_bucket)
        # crashed epochs can leave combined-write scratch dirs behind
        shutil.rmtree(os.path.join(self.warehouse, "_stage"), ignore_errors=True)
        # adopted (combined-write) data files enter manifests without footer
        # stats so the epoch hot path never pays per-file metadata reads;
        # backfill them here, amortized once per ingest call, so the
        # stats-pruned leaf reads get sharper every maintenance pass
        for tbl in (self.segments, self.relations):
            tbl.analyze()
        has_dead = LakeTable(self.spark, self._path("dead_letter")).exists()
        log_tables = [(self.commit_log, None), (self.metrics, self.read_metrics)]
        if has_dead:
            log_tables.append((self.dead_letter, self.read_dead_letter))
        for tbl, dedup_read in log_tables:
            if len(tbl.snapshot()["files"]) > max_log_files:
                if dedup_read is None:
                    df = tbl.read()
                else:
                    # compaction re-bases attempts: deduped rows all become
                    # attempt 0 of the compacted generation (later appends
                    # commit at higher versions, so monotonicity holds)
                    df = dedup_read().withColumn("attempt", F.lit(0).cast("long"))
                # the overwrite inherits the log's epoch / end_commit marks
                tbl.overwrite(df, summary={"reason": "log-compaction"})
        expire = [self.segments, self.relations, self.commit_log, self.metrics]
        if has_dead:
            expire.append(self.dead_letter)
        for tbl in expire:
            tbl.expire_snapshots(keep_last=keep_snapshots)

    def maybe_rebucket(self, target_bucket_bytes: int | None = None) -> None:
        """Post-ingest maintenance: double the bucket count while mean
        bucket size exceeds the target.  Layout-only (digests unchanged);
        amortized once per ingest call, not per epoch.

        **Shared layout policy**: segments and relations move TOGETHER to
        the max of their individually-desired counts, because the combined
        epoch write partitions both tables' rows by one ``_bucket`` column.
        Letting each table double by its own mean size would diverge them
        exactly when the table grows, and every later ingest would then pay
        a rebucket to re-converge them.  The cost of over-bucketing the
        smaller table (relations) is only file count."""
        target = target_bucket_bytes or self.target_bucket_bytes
        shared = 0
        for tbl in (self.segments, self.relations):
            stats = tbl.bucket_stats()
            n = tbl.snapshot()["n_buckets"]
            new_n = n
            if stats:
                mean = sum(stats.values()) / n
                while mean > target and new_n < (1 << 20):
                    new_n *= 2
                    mean /= 2
            shared = max(shared, new_n)
        self._share_layout(shared)

    def _share_layout(self, n_buckets: int | None = None) -> None:
        """Move segments and relations onto one bucket count: ``n_buckets``,
        or by default the larger of their current counts (counts only ever
        grow, so the larger one is what a size trigger asked for).  A
        layout-only ``rebucket`` of each table not already there; when both
        match, this is two snapshot-JSON reads and no Spark work."""
        tables = (self.segments, self.relations)
        counts = [t.snapshot()["n_buckets"] for t in tables]
        shared = n_buckets or max(counts)
        for tbl, n in zip(tables, counts):
            if n != shared:
                tbl.rebucket(shared, summary={"reason": "shared layout policy"})

    def _prepare_epoch(
        self,
        epoch: int,
        change_log: DataFrame,
        start_commit: str,
        end_commit: str,
        n_events: int,
        buckets: list[int],
        patch_changes: DataFrame | None = None,
    ) -> dict:
        """PREPARE phase: resume-state read (optionally patched with the
        previous in-flight epoch's changes), fold, and the epoch's one
        combined write of its change files into a scratch directory (adopted
        by the tables at commit).  ``n_events`` and ``buckets`` (the table
        buckets the batch touches; segments and relations share one layout,
        see :meth:`_share_layout`) come from the call's WAL census, so the
        epoch runs no stats job of its own.  The batch is not cached: the
        fold's event side reads it once, and the leaf semi-join only its
        ``(repo, path)`` columns.  Returns the epoch context for
        :meth:`_start_writes` / :meth:`_commit_epoch`."""
        marks = [] if os.environ.get("LMS_TRACE_INGEST") == "1" else None
        t0 = time.monotonic()
        _mark(marks, "start")
        # (within-batch duplicate events are collapsed deterministically
        # inside the fold — no separate window shuffle needed)
        batch = change_log.filter(
            (F.col("commit") >= F.lit(start_commit)) & (F.col("commit") <= F.lit(end_commit))
        )

        # resume state: current leaves of only the keys present in this
        # batch, read from only the buckets those keys hash into.  With the
        # pipeline in flight the table read sees the PRE-previous-epoch
        # snapshot; the previous epoch's uncommitted changes patch in via
        # the same anti-join ∪ override the MERGE itself will apply.  Keys
        # repeat per event; the semi-joins they feed ignore that.
        batch_keys = batch.select("repo", "path")
        keep = set(buckets)
        # manifest row-count upper bound for the touched buckets (driver-side
        # arithmetic, no job) — sizes the fold shuffle below AND, when it
        # proves the touched buckets hold ZERO state rows (fresh table,
        # append-only keys), lets the resume-state subtree be skipped
        # outright: no bucket scan, no broadcast semi-join, a leaner
        # union/codegen unit for the fold stage.
        seg_snap = self.segments.snapshot()
        state_rows: int | None = 0
        for f in seg_snap["files"]:
            if f["bucket"] in keep:
                if f.get("rows") is None:
                    state_rows = None
                    break
                state_rows += f["rows"]
        if state_rows == 0 and patch_changes is None:
            # provably-empty resume state: the table's empty relation (its
            # current schema) keeps the evolution columns visible to the
            # extras merge without a scan
            leaves = self.segments.empty()
        else:
            leaves = self._leaves_for(batch_keys, buckets, patch_changes)
        # schema evolution: extra columns from either side, deduped by NAME
        # (an evolved column present in both with different types must not
        # yield two same-named output columns); the lake table's type wins
        # and the event side is cast to it
        seg_base_names = {c for c, _ in SEGMENT_BASE_COLUMNS}
        extras_map: dict[str, str] = {}
        for f in batch.schema.fields:
            if f.name not in EVENT_CORE_COLS:
                extras_map[f.name] = f.dataType.simpleString()
        for f in leaves.schema.fields:
            if f.name not in seg_base_names:
                extras_map[f.name] = f.dataType.simpleString()
        extras = sorted(extras_map.items())
        ev_cols, st_cols = set(batch.columns), set(leaves.columns)
        q = quote_ident
        ev_side = batch.selectExpr(
            "repo", "path", "commit", "content",
            *[
                f"CAST({q(c) if c in ev_cols else 'NULL'} AS {t}) AS {q(c)}"
                for c, t in extras
            ],
            *[f"CAST(NULL AS {t}) AS {c}" for c, t in _STATE_TYPES],
            "true AS _is_event",
        )
        st_side = leaves.selectExpr(
            "repo", "path", "CAST(NULL AS string) AS commit",
            "CAST(NULL AS string) AS content",
            *[
                q(c) if c in st_cols else f"CAST(NULL AS {t}) AS {q(c)}"
                for c, t in extras
            ],
            # a retired leaf only carries its seq into the fold: a NULL wkt
            # keeps the batch parse off it
            *[
                f"CAST({'IF(retired, NULL, wkt)' if c == 'wkt' else c} AS {t}) AS {c}"
                for c, t in _STATE_TYPES
            ],
            "false AS _is_event",
        )
        n_parts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        # Adaptive fold width: a small epoch fanned into the full configured
        # partition count pays per-task python overhead (worker boot, Arrow
        # round-trip, batch preparse) for tasks holding a few hundred rows —
        # at 32 cores / 128 partitions the 32k-event bench epoch spent more
        # stage time on task overhead waves than on folding.  Size the fold
        # shuffle by the epoch's actual row volume (events + a manifest
        # upper bound on touched-bucket state rows — driver-side arithmetic,
        # no job), floored at defaultParallelism so every core still gets
        # work and capped at the configured count so large epochs are
        # unchanged.  Unknown per-file row stats disable the shrink
        # (conservative).  AQE can't do this for us: the width must be
        # chosen BEFORE the shuffle that the bucketed COW write reuses.
        # (state_rows was computed from the manifest above, before the
        # resume-state read was planned.)
        n_parts = _fold_width(
            n_parts,
            self.spark.sparkContext.defaultParallelism,
            n_events,
            state_rows,
        )
        # Fold partition key REFINES the tables' shared bucket hash: the fold
        # shuffles on fold_part = pmod(xxhash64(repo,path), k·n_buckets), so
        # the combined write below needs no exchange of its own — one
        # shuffle of the epoch's changes.  A Spark partition is NOT
        # bucket-pure (it may hold several fold_part values); correctness
        # never depends on that (the dynamic-partition writer splits by
        # _bucket regardless).  File count stays bounded because each
        # fold_part VALUE lands wholly in one partition and maps to exactly
        # one bucket (n_buckets | modulus): an epoch writes ≤
        # #distinct-fold_part-values ≈ min(modulus, n_keys) files per kind,
        # not partitions × buckets.  The shuffle routes through
        # balanced_part_col (NOT raw repartition(n, fold_part)):
        # hash-of-hash birthday collisions on a modulus-sized value set left
        # ~1/e of the stage's slots idle.
        nb = seg_snap["n_buckets"]
        modulus = nb * max(1, round(n_parts / nb))
        spread = balanced_part_col(
            f"pmod(xxhash64(repo, path), {modulus})", modulus, n_parts
        )
        shaped = ev_side.unionByName(st_side)
        hot_threshold = (
            self.salt_leaf_threshold
            if (self.n_salts > 1 and self.salt_leaf_threshold > 0) else 0
        )
        fold_fn = _make_fold_fn(self.geom_type, extras, self.on_error,
                                hot_threshold=hot_threshold)
        out_schema = _fold_output_schema(extras)

        # Zipf-head detection: keys whose accumulated leaf lattice crosses
        # the threshold would serialize an entire stage behind one task;
        # route them through the salted fold (leaf slices + coordinator,
        # saltfold.py), everything else through the plain partition fold.
        hot: list[tuple[str, str]] = []
        if hot_threshold:
            if self._validated_n_buckets != seg_snap["n_buckets"]:
                # a rebucket renumbered the buckets; re-validate lazily
                # (rare, size-triggered — the carry itself stays valid,
                # hotness is a per-key property)
                self._validated_buckets = set()
                self._validated_n_buckets = seg_snap["n_buckets"]
            if self._hot_carry is None:
                self._hot_carry = set()
            # One-time ground truth per bucket: a key's leaves all hash into
            # ONE bucket, so the PRE-EXISTING (pre-engine) hot keys of a
            # bucket are findable by scanning that bucket once.  Manifest
            # pretest first (no key can reach the threshold unless its
            # bucket's manifest row count does — an upper bound); only
            # not-ruled-out buckets pay the full-population leaf scan.
            # Everything folded by THIS engine afterwards is covered by the
            # fold's kind='hot' markers, so steady-state epochs run ZERO
            # detection jobs.  In-flight pipelined changes need no special
            # case: they were folded here, so their markers are already
            # absorbed before the next prepare.
            fresh = [b for b in keep if b not in self._validated_buckets]
            if fresh:
                fresh_set = set(fresh)
                bucket_rows: dict[int, int] = {}
                unknown_rows = False
                for f in seg_snap["files"]:
                    if f["bucket"] in fresh_set:
                        if f.get("rows") is None:
                            unknown_rows = True
                            break
                        bucket_rows[f["bucket"]] = (
                            bucket_rows.get(f["bucket"], 0) + f["rows"]
                        )
                if unknown_rows or any(
                    v >= self.salt_leaf_threshold for v in bucket_rows.values()
                ):
                    pre_state = self.segments.read_where(
                        self._LEAF_PREDS, buckets=fresh
                    )
                    self._hot_carry.update(self._hot_keys(pre_state))
                self._validated_buckets.update(fresh)
            if self._hot_carry:
                # batch-scope the routing set: the salted-fold split
                # machinery should run only when a hot key actually appears
                # in this batch (one tiny broadcast-semi-join job, and only
                # for engines that have ever seen a hot key at all)
                hot_df0 = self.spark.createDataFrame(
                    sorted(self._hot_carry), "repo string, path string"
                )
                hot = sorted({
                    (r["repo"], r["path"])
                    for r in batch_keys.join(
                        F.broadcast(hot_df0), ["repo", "path"], "left_semi"
                    ).collect()
                })
        _mark(marks, "hot_detect")
        if not hot:
            folded = (
                shaped
                # partition by key: every (repo,path)'s events+state land
                # in one partition; the mapper groups in pandas (one Arrow
                # round-trip per partition, not per key)
                .repartition(n_parts, spread)
                .mapInPandas(fold_fn, out_schema)
            )
        else:
            hot_df = self.spark.createDataFrame(
                pd.DataFrame(hot, columns=["repo", "path"]),
                "repo string, path string",
            )
            cold = shaped.join(F.broadcast(hot_df), ["repo", "path"], "left_anti")
            hotr = shaped.join(F.broadcast(hot_df), ["repo", "path"], "left_semi")
            cold_changes = cold.repartition(n_parts, spread).mapInPandas(
                fold_fn, out_schema
            )
            hot_changes = self._salted_fold(hotr, extras, out_schema)
            folded = cold_changes.unionByName(hot_changes)
        seg_cols_x = [
            quote_ident(c) for c, _ in SEGMENT_BASE_COLUMNS + extras
        ]

        # THE EPOCH WRITE: the fold output is written ONCE, dynamic-
        # partitioned by (kind, bucket), straight off the fold's
        # bucket-refining partitioning — this job IS the fold
        # materialization AND the data write of every table.  The commit
        # phase adopts the files into each table's manifest by hard link
        # (lakehouse.adopt_merge) — zero extra data movement.  Timing rows
        # all land in bucket 0.  epoch / attempt / n_events are NOT written
        # into the files: they are per-epoch constants the driver already
        # knows, and met_from_timing stamps them when it reads the timing
        # rows back.  Keeping per-epoch literals out of this projection
        # makes the whole post-shuffle stage's generated code byte-identical
        # across epochs and engines, so whole-stage codegen compiles once
        # per session instead of once per epoch.  The accounting columns
        # ride ONLY on timing rows; segment/relation rows keep them NULL so
        # the adopted data files stay clean (null columns RLE-compress to
        # ~nothing).  They keep the fold's own reserved names
        # (_EXTRAS_FORBIDDEN), so no WAL extra can shadow them;
        # met_from_timing maps them onto METRICS_SCHEMA.
        combined = folded.selectExpr(
            "kind",
            *seg_cols_x,
            "parent_gid", "child_gid",
            *[f"CASE WHEN kind = 'timing' THEN {c} END AS {c}"
              for c in ("_pid", "_n_keys", "_n_segments", "_n_relations",
                        "_wall_ms")],
            f"CASE WHEN kind = 'timing' THEN 0 "
            f"ELSE {self.segments.bucket_sql()} END AS _bucket",
        )
        scratch = os.path.join(self.warehouse, "_stage", f"e{epoch}")
        if os.path.exists(scratch):  # crashed attempt: deterministic redo
            shutil.rmtree(scratch)
        combined.write.partitionBy("kind", "_bucket").parquet(scratch)
        _mark(marks, "fold")
        self._absorb_hot_markers(scratch)
        seg_dir = os.path.join(scratch, "kind=segment")
        seg_schema = DataType.fromDDL(", ".join(
            f"{quote_ident(c)} {t}" for c, t in SEGMENT_BASE_COLUMNS + extras
        ))
        return {
            "epoch": epoch, "start_commit": start_commit, "end_commit": end_commit,
            # n_keys is filled in by the metrics assembly (met_from_timing
            # sums the fold's per-task key counts) before _finish_epoch reads
            # it — no dedicated countDistinct job on the epoch critical path
            "n_events": n_events, "t0": t0, "buckets": buckets,
            "marks": marks,
            # ``attempt`` = a metrics snapshot version ≥ the one this append
            # will commit as — monotonic across replays, so read_metrics can
            # keep only the latest attempt
            "attempt": self.metrics.version() + 1,
            "scratch": scratch,
            # a known schema skips the footer-inference job
            "patch_df": (
                self.spark.read.schema(seg_schema).parquet(seg_dir)
                .selectExpr(*seg_cols_x)
                if os.path.isdir(seg_dir) else None
            ),
            "seg_schema": seg_schema,
        }

    #: metric column order (must track METRICS_SCHEMA)
    _MET_COLS = [
        "epoch", "partition_id", "n_keys", "n_segments", "n_relations",
        "n_events", "wall_ms", "attempt",
    ]

    def _metrics_commit_from_rows(self, rows: list[dict], epoch: int):
        """Append per-task accounting rows driver-side (pyarrow, no Spark
        job) and return the deferred commit callable.  The row count is
        bounded by the epoch's fold task count, never by data size — the
        Spark writer's two jobs (agg + dynamic-partition write) cost ~3 s of
        epoch critical path in this runtime for ≤ a few hundred rows.
        Falls back to the Spark append only when the warehouse's metrics
        schema predates METRICS_SCHEMA (name mismatch ⇒ evolution needed,
        which the arrow path deliberately does not do)."""
        import pyarrow as pa

        schema = pa.schema(
            [
                ("epoch", pa.int64()),
                ("partition_id", pa.int32()),
                ("n_keys", pa.int64()),
                ("n_segments", pa.int64()),
                ("n_relations", pa.int64()),
                ("n_events", pa.int64()),
                ("wall_ms", pa.float64()),
                ("attempt", pa.int64()),
            ]
        )
        if [f.name for f in self.metrics.schema().fields] != self._MET_COLS:
            df = self.spark.createDataFrame(
                [tuple(r.get(c) for c in self._MET_COLS) for r in rows],
                METRICS_SCHEMA,
            )
            return self.metrics.append(
                df, summary={"epoch": epoch}, defer_commit=True
            )
        tbl = pa.Table.from_pylist(
            [{c: r.get(c) for c in self._MET_COLS} for r in rows], schema=schema
        )
        return self.metrics.append_arrow(
            tbl, summary={"epoch": epoch}, defer_commit=True
        )

    def _start_writes(self, prep: dict) -> None:
        """Submit the epoch's remaining WRITES concurrently; commits stay
        deferred.  The change files already exist (the combined scratch
        write in prepare), so the data jobs left are the segments KEPT
        rewrite (rows of touched buckets the epoch did not update — only
        when those buckets hold files) plus the metrics append built from
        the scratch timing files and the dead-letter append.  Relations
        need no write here: they adopt their edge files as an append.  Must
        run after the previous epoch's commits (the kept rows read the
        then-current table)."""
        from concurrent.futures import ThreadPoolExecutor

        durs: dict[str, float] = {}

        def timed(label, fn, *a, **k):
            def run():
                ts = time.monotonic()
                out = fn(*a, **k)
                durs[label] = time.monotonic() - ts
                return out

            return run

        scratch, epoch, buckets = prep["scratch"], prep["epoch"], prep["buckets"]
        pool = ThreadPoolExecutor(max_workers=3)
        prep["durs"] = durs
        prep["pool"] = pool

        seg_dir = os.path.join(scratch, "kind=segment")
        tim_dir = os.path.join(scratch, "kind=timing")

        def kept_segments():
            seg, seg_schema = self.segments, prep["seg_schema"]
            keep = set(buckets)
            if not any(f["bucket"] in keep for f in seg.snapshot()["files"]):
                return  # nothing to keep: buckets had no files
            # align kept rows to table-schema ∪ source-schema (the same
            # evolution the adopting commit records)
            cur = seg._align_to(seg.read(buckets=buckets), seg._merged_with(seg_schema))
            if os.path.isdir(seg_dir):
                src_keys = self.spark.read.schema(seg_schema).parquet(seg_dir).select("gid")
                cur = cur.join(src_keys, on=["gid"], how="left_anti")
            (
                cur.withColumn("_bucket", seg.bucket_expr(cur))
                .write.partitionBy("_bucket").parquet(os.path.join(scratch, "kept_segments"))
            )

        prep["f_seg"] = pool.submit(timed("seg_kept", kept_segments))
        if os.path.isdir(tim_dir):

            def met_from_timing(tim_dir=tim_dir, epoch=epoch, attempt=prep["attempt"]):
                # timing rows are one-per-fold-task: read them driver-side
                # (pyarrow) and aggregate in plain python — no Spark job at
                # all on this leg.  The fold's reserved accounting columns
                # map onto METRICS_SCHEMA here, and epoch/attempt/n_events
                # are stamped here (per-epoch driver constants) so the
                # combined write's projection carries no per-epoch literals
                # — see the codegen note in _prepare_epoch.
                import pyarrow.parquet as pq

                names = {"_pid": "partition_id", "_n_keys": "n_keys",
                         "_n_segments": "n_segments",
                         "_n_relations": "n_relations", "_wall_ms": "wall_ms"}
                raw = []
                for p, _ in bucket_files(tim_dir):
                    raw.extend(
                        pq.read_table(p, columns=list(names))
                        .rename_columns(list(names.values())).to_pylist()
                    )
                agg: dict[int, dict] = {}
                for r in raw:
                    k = r["partition_id"]
                    a = agg.get(k)
                    if a is None:
                        agg[k] = dict(r)
                        continue
                    for c in ("n_keys", "n_segments", "n_relations"):
                        a[c] = (a[c] or 0) + (r[c] or 0)
                    if r["wall_ms"] is not None and (
                        a["wall_ms"] is None or r["wall_ms"] > a["wall_ms"]
                    ):
                        a["wall_ms"] = r["wall_ms"]
                rows = [
                    {"epoch": epoch, "n_events": None, "attempt": attempt,
                     **agg[k]}
                    for k in sorted(agg)
                ]
                # the fold counted each distinct key exactly once across its
                # tasks — the commit-log row reads the epoch's key count off
                # this accounting instead of paying a countDistinct job
                prep["met_n_keys"] = sum(r["n_keys"] or 0 for r in rows)
                return self._metrics_commit_from_rows(rows, epoch)

            prep["f_met"] = pool.submit(timed("met", met_from_timing))
        else:
            prep["f_met"] = pool.submit(lambda: (lambda: None))
        dead_dir = os.path.join(scratch, "kind=dead")
        if os.path.isdir(dead_dir):
            drows = _dead_letter_select(
                self.spark.read.schema(prep["seg_schema"]).parquet(dead_dir),
                epoch, prep["attempt"],
            )
            prep["f_dead"] = pool.submit(timed(
                "dead", self.dead_letter.append, drows,
                summary={"epoch": epoch}, defer_commit=True,
            ))

    def _commit_epoch(self, prep: dict) -> EpochStats:
        """COMMIT order is the exactly-once contract (see module docstring):
        relations + metrics first (relations append their edges unless the
        replay rule found them landed; metrics re-append under a higher
        attempt), the SEGMENTS commit last, because the fold reads its
        resume state from segments alone.  Any crash before the segments
        commit replays the fold over unchanged input state; a crash after
        it is replayed as the commit-log row alone.  Only the atomic
        snapshot links are sequenced here — the data writes ran
        concurrently (and, pipelined, under the NEXT epoch's fold)."""
        import sys

        marks = prep["marks"]
        # wait for kept writes + metrics append, then ADOPT the combined
        # scratch files + kept files into each table's manifest by hard link
        # (no further data jobs)
        prep["f_seg"].result()
        commit_met = prep["f_met"].result()
        commit_dead = prep["f_dead"].result() if "f_dead" in prep else (lambda: None)
        prep["pool"].shutdown(wait=False)
        scratch = prep["scratch"]

        summary = {"epoch": prep["epoch"], "end_commit": prep["end_commit"]}
        # relations that already hold the epoch's edges skip the adopt
        commit_rel = (
            (lambda: None) if prep["rel_landed"]
            else self.relations.adopt_merge(
                bucket_files(os.path.join(scratch, "kind=relation")),
                DataType.fromDDL(", ".join(f"{c} {t}" for c, t in RELATION_COLUMNS)),
                [], summary, operation="append",
            )
        )
        commit_seg = self.segments.adopt_merge(
            bucket_files(os.path.join(scratch, "kind=segment"),
                         os.path.join(scratch, "kept_segments")),
            prep["seg_schema"], prep["buckets"], summary,
        )
        commit_rel()
        commit_met()
        # dead-letter commits with the replay-safe group (re-appends under a
        # higher attempt on replay; read_dead_letter keeps the latest)
        commit_dead()
        _mark(marks, "relations+metrics")
        if self._crash_after == "relations_merge":
            raise RuntimeError("injected crash: after relations/metrics, before segments")
        commit_seg()
        _mark(marks, "segments_merge")
        if self._crash_after == "segments_merge":
            raise RuntimeError("injected crash: after segments merge, before commit log")
        es = self._finish_epoch(
            prep["epoch"], prep["start_commit"], prep["end_commit"],
            prep["n_events"], prep.get("met_n_keys", 0), prep["t0"],
        )
        # adopted files are hard links; the scratch names are no longer
        # needed (the pipelined next epoch consumed its patch during ITS
        # prepare, which completed before this commit ran)
        shutil.rmtree(scratch, ignore_errors=True)
        if marks is not None:
            _mark(marks, "log")
            prev = prep["t0"]
            spans = []
            for label, ts in marks[1:]:
                spans.append(f"{label}={ts - prev:.1f}s")
                prev = ts
            spans += [f"w_{k}={v:.1f}s" for k, v in prep["durs"].items()]
            print(f"[epoch {prep['epoch']}] " + " ".join(spans), file=sys.stderr)
        return es

    def _salted_fold(
        self, shaped: DataFrame, extras: list[tuple[str, str]], out_schema: str
    ) -> DataFrame:
        """Salted fold for hot keys: events replicate to every salt, leaves
        slice by ``seq % n_salts``, phase-1 slice folds run as
        ``(repo, path, salt)`` groups, and a per-key coordinator group folds
        the edition/mu lineage, renumbers, and emits the combined changes."""
        n_salts = self.n_salts
        ev = shaped.filter("_is_event")
        st = shaped.filter("NOT _is_event")
        ev_rep = ev.selectExpr("*", f"explode(sequence(0, {n_salts - 1})) AS _salt")
        st_s = st.selectExpr("*", f"CAST(pmod(seq, {n_salts}) AS INT) AS _salt")
        payloads = (
            ev_rep.unionByName(st_s)
            .groupBy("repo", "path", "_salt")
            .applyInPandas(
                _make_slice_fn(self.geom_type, extras, self.on_error),
                "repo string, path string, _salt int, payload binary",
            )
        )
        pay_side = payloads.selectExpr(
            "repo",
            "path",
            *[
                f"CAST(NULL AS {f.dataType.simpleString()}) AS {quote_ident(f.name)}"
                for f in ev.schema.fields
                if f.name not in ("repo", "path", "_is_event")
            ],
            "false AS _is_event",
            "payload",
        )
        ev_side = ev.selectExpr("*", "CAST(NULL AS BINARY) AS payload")
        return (
            ev_side.unionByName(pay_side)
            .groupBy("repo", "path")
            .applyInPandas(_make_coord_fn(self.geom_type, extras, self.on_error), out_schema)
        )

    def _finish_epoch(
        self, epoch: int, start_commit: str, end_commit: str,
        n_events: int, n_keys: int, t0: float,
    ) -> EpochStats:
        """Append the commit-log row — the watermark write that makes the
        epoch durable.  Written LAST; also the entire replay path for an
        epoch whose state writes already landed."""
        wall_ms = (time.monotonic() - t0) * 1000.0
        summary = {"epoch": epoch, "end_commit": end_commit}
        row = {
            "epoch": int(epoch),
            "start_commit": start_commit,
            "end_commit": end_commit,
            "n_events": int(n_events),
            "n_keys": int(n_keys),
            "wall_ms": float(wall_ms),
            "throughput_eps": float(
                n_events / (wall_ms / 1000.0) if wall_ms else 0.0
            ),
        }
        log_cols = [c.split()[0] for c in COMMIT_LOG_SCHEMA.split(", ")]
        if [f.name for f in self.commit_log.schema().fields] == log_cols:
            # one accounting row: write it driver-side (pyarrow), the
            # metrics append_arrow pattern — the Spark literal-projection
            # write this replaces was a full (tiny) job per epoch
            import pyarrow as pa

            tbl = pa.Table.from_pylist([row], schema=pa.schema([
                ("epoch", pa.int64()),
                ("start_commit", pa.string()),
                ("end_commit", pa.string()),
                ("n_events", pa.int64()),
                ("n_keys", pa.int64()),
                ("wall_ms", pa.float64()),
                ("throughput_eps", pa.float64()),
            ]))
            self.commit_log.append_arrow(tbl, summary=summary)
        else:
            # evolved/legacy commit-log schema: keep the Spark append
            # (literal-projection row, NOT createDataFrame-from-tuples,
            # whose python-RDD plan costs ~5-8 s per write in this runtime)
            types = dict(s.split(" ", 1) for s in COMMIT_LOG_SCHEMA.split(", "))
            log_row = self.spark.range(1).select(
                *[F.lit(row[c]).cast(types[c]).alias(c) for c in log_cols]
            )
            self.commit_log.append(log_row, summary=summary)
        return EpochStats(epoch, start_commit, end_commit, n_events, n_keys, wall_ms)

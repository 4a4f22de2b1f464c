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
  diverged pair before its first epoch); the touched buckets' kept rows
  are rewritten beside it; then each table adopts its files by hard link.
  Commit order: relations + metrics (both replay-safe: the same edges
  re-upsert; metrics rows re-append under a higher ``attempt`` and the read
  path keeps only each epoch's latest attempt), then **segments**, then the
  commit-log append.  The fold's resume state comes from segments alone, so
  a crash anywhere before the segments commit replays the fold over
  unchanged input and converges; a crash between the segments commit and
  the commit-log append is caught by the epoch guard (segments' snapshot
  summary already carries this epoch's ``end_commit``) and the replay skips
  straight to the bookkeeping — re-folding there would wrongly intersect
  the edition with its own descendants.
* Duplicate / reordered events inside an epoch are collapsed by a
  deterministic last-writer-wins rule per ``(repo, path, commit)`` inside the
  fold (window-dedup semantics without the extra shuffle).

Resume state lives in the ``segments`` table itself (``is_leaf`` rows), not
in Spark state stores — SURVEY.md §7.3.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import geometry as G
from .fold import RELATION_COLUMNS, SEGMENT_BASE_COLUMNS, fold_key
from .lakehouse import LakeTable
from .util import balanced_part_col

EVENT_CORE_COLS = ("repo", "path", "commit", "content")

# Names a WAL extra column can never take: they collide with the fold's
# event/state frame, its output schema or the epoch write's partition
# column — fail fast with a contract error instead of a duplicate-column
# plan corruption.
_EXTRAS_FORBIDDEN = frozenset(
    {"commit", "content", "_is_event", "kind", "_pid", "parent_gid",
     "child_gid", "_wall_ms", "_n_keys", "_n_segments", "_n_relations",
     "gid", "name", "seq", "commit_created", "wkt", "content_sha256",
     "editions", "is_leaf", "retired", "_bucket"}
)

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
    session's codegen/class caches hold every epoch plan shape (stats agg,
    fold + combined dynamic-partition write, manifest adopt, accounting
    appends) before the first real epoch executes them."""
    import tempfile

    from .changelog import synth_change_log, to_spark
    from .util import scratch_root

    wh = tempfile.mkdtemp(prefix="lms_planwarm_", dir=scratch_root())
    # the micro WAL is CACHED like a production batch feed: the fold job's
    # input stage then compiles against the same InMemoryTableScan + commit-
    # range filter shape a real epoch reads through (an uncached local
    # relation here left that stage's codegen cold — measured ~2 s still
    # paid by the first real fold)
    wal = to_spark(spark, synth_change_log(n_keys=2, n_commits=1, seed=1)).cache()
    try:
        wal.count()
        eng = CdcEngine(spark, wh, geom_type=G.LINE, n_buckets=32)
        eng.create_tables(overwrite=True)
        eng.ingest(wal, commits_per_epoch=1)
    finally:
        wal.unpersist()
        shutil.rmtree(wh, ignore_errors=True)


def _collect_commits(df: DataFrame) -> list[str]:
    """Distinct commit labels of a (pre-filtered) WAL frame, ONE job:
    ``collect_set`` partial-aggregates map-side into a single final task
    (a ``.distinct()`` here paid a full shuffle-partition-wide reduce stage
    for a handful of labels).  ``collect_set`` skips NULLs, which would
    SILENTLY drop a malformed row's events from every epoch — so NULL
    commits are counted in the same job and fail loudly instead."""
    row = df.agg(
        F.collect_set("commit").alias("cs"),
        F.count(F.when(F.col("commit").isNull(), 1)).alias("nn"),
    ).collect()[0]
    if row["nn"]:
        raise ValueError(
            f"ingest: batch carries {row['nn']} event(s) with a NULL commit "
            "label — these cannot be ordered into any epoch; fix the WAL "
            "upstream (every event needs a commit label)"
        )
    return sorted(row["cs"] or [])


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
    extra = "".join(f", {c} {t}" for c, t in extras)
    # _n_* ride on the per-task 'timing' row: the fold task already knows its
    # own key/segment/relation counts, so the metrics append reads them
    # straight off the changes cache — no groupBy shuffle over the epoch's
    # full change set just for accounting
    return (
        f"kind string, _pid int, {base}, {rel}{extra}, _wall_ms double, "
        "_n_keys long, _n_segments long, _n_relations long"
    )


def _normalize_pdf(pdf: "pd.DataFrame") -> "pd.DataFrame":
    """NaN→None once for a whole Arrow partition frame (arrays in
    ``editions`` can't go through a frame-wide ``where()``)."""
    for c in pdf.columns:
        if c != "editions":
            s = pdf[c]
            if s.dtype == object or s.isna().any():
                s = s.astype(object)
                pdf[c] = s.where(s.notna(), None)
    return pdf


def _rows_by_key(pdf: "pd.DataFrame", extra_cols: list[str]):
    """Yield ``(repo, path, event_rows, state_rows)`` per key from a unified
    partition frame — the list-based replacement for pandas
    ``groupby``/boolean-slice/``to_dict("records")``, which profiled at ~25%
    of the whole fold stage's CPU (11.6 s vs 0.14 s on the 4k-key bench
    frame, identical output).  Column values are pulled to python lists
    ONCE (NaN/NA → None, matching :func:`_normalize_pdf`'s contract), keys
    are bucketed by first appearance (same iteration order as
    ``groupby(sort=False)``), and row dicts are built straight from the
    lists.  Group order never affects results — events re-order by commit
    inside the fold and state rows by seq — but keeping it identical makes
    old/new outputs byte-comparable."""
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
        # one vectorized batch parse primes the memo for every event content
        # and cache-missed resume leaf in the partition; the per-key parses
        # below become lookups (poison strings stay unprimed and surface
        # their exact error in the per-event parse)
        m = pdf["_is_event"].astype(bool).to_numpy()
        G.preparse_wkts(
            pdf["content"].to_numpy()[m].tolist()
            + pdf["wkt"].to_numpy()[~m].tolist(),
            geom_type,
        )

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
            _append_fold_cols(cols, res, pid, extra_cols)
            # quarantined poison events ride the unified frame as kind='dead'
            # (commit in commit_created, error in name, payload in wkt); the
            # epoch assembly appends them to the dead_letter table
            for d in res.dead:
                _append_row(
                    cols, _dead_changes_row(seg_cols, extra_cols, pid, repo, path, d)
                )
            n_keys += 1
            n_segs += res.n_segments
            n_rels += len(res.relations)
        # per-task fold wall time + accounting (kind='timing'): the metrics
        # append reads these rows directly instead of re-aggregating the
        # whole change set
        row = dict.fromkeys(seg_cols + extra_cols)
        row.update(kind="timing", _pid=pid, parent_gid=None, child_gid=None,
                   _wall_ms=(time.monotonic() - t0) * 1000.0,
                   _n_keys=n_keys, _n_segments=n_segs, _n_relations=n_rels)
        _append_row(cols, row)
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


def _append_fold_cols(cols: dict, res, pid: int, extra_cols: list[str]) -> None:
    """Columnar twin of :func:`_format_rows` reading the fold's node objects
    directly — no ``node_to_row`` dict, no per-row re-dict, and the final
    ``pd.DataFrame`` builds from ready column lists instead of inferring
    from 100k+ row dicts (the dict path profiled at ~50% of the whole fold
    stage: 1.3 s format + 4.3 s DataFrame-from-dicts vs 5.1 s of actual
    fold on the 800-key bench frame).  Emission order (segments then
    relations per key, both in creation order) and every value are
    byte-identical to the dict path — pinned-digest suites prove it."""
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


def _format_rows(segments, relations, pid, seg_cols, extra_cols) -> list[dict]:
    """Fold output → the unified changes-frame rows (kind segment/relation)."""
    rows: list[dict] = []
    for seg in segments:
        row = {c: seg.get(c) for c in seg_cols + extra_cols}
        row.update(kind="segment", _pid=pid, parent_gid=None, child_gid=None, _wall_ms=None)
        rows.append(row)
    for rel in relations:
        row = dict.fromkeys(seg_cols + extra_cols)
        row.update(
            kind="relation",
            _pid=pid,
            repo=rel["repo"],
            path=rel["path"],
            parent_gid=rel["parent_gid"],
            child_gid=rel["child_gid"],
            _wall_ms=None,
        )
        rows.append(row)
    return rows


def _split_poison(events: list[dict], geom_type: str, on_error: str):
    """Deterministic poison split for the salted path: DEDUP FIRST (so a
    poison replica that out-ranks a clean one under last-writer-wins
    quarantines the commit, exactly like fold_key's in-loop handling), then
    validate each survivor's WKT.  Every slice computes the same split from
    the same strings; only the coordinator emits the dead rows.  The
    validation parse primes the worker's canonical-parse cache, so the
    fold's real parse of each clean event is a lookup — near-zero net cost.
    """
    from .fold import dedup_events

    if on_error != "quarantine":
        return events, []
    clean: list[dict] = []
    dead: list[dict] = []
    for ev in dedup_events(events):
        content = ev.get("content") or ""
        if content.strip() == "":
            clean.append(ev)  # tombstone: always valid
            continue
        try:
            ids = G.parse_wkt(content, geom_type)
            # the parse may have CONSUMED a preparsed entry — put it back so
            # the fold's own parse of this event stays a lookup
            G.preparsed_put(content, geom_type, ids)
            clean.append(ev)
        except G.GeometryError as exc:
            dead.append({
                "repo": ev["repo"], "path": ev["path"], "commit": ev["commit"],
                "error": str(exc), "content": content[:256],
            })
    return clean, dead


def _make_slice_fn(geom_type: str, extras: list[tuple[str, str]], on_error: str = "raise"):
    """Phase-1 salted sub-fold: one ``(repo, path, salt)`` group = one leaf
    slice folded over the (replicated) epoch events; output is a single
    pickled payload row carrying the slice's segments/relations, its
    per-round partial intersection unions, renumber metadata, and wall time."""
    import pickle

    extra_cols = [c for c, _ in extras]

    def fn(key, pdf):
        from .saltfold import fold_slice

        t0 = time.monotonic()
        repo, path, salt = str(key[0]), str(key[1]), int(key[2])
        pdf = _normalize_pdf(pdf)
        is_event = pdf["_is_event"].astype(bool)
        ev = pdf[is_event]
        st = pdf[~is_event]
        # batch-prime the slice's event contents + leaf-slice geometries
        G.preparse_wkts(ev["content"].tolist() + st["wkt"].tolist(), geom_type)
        clean, _ = _split_poison(
            ev[["repo", "path", "commit", "content", *extra_cols]].to_dict("records"),
            geom_type, on_error,
        )
        res = fold_slice(
            repo,
            path,
            clean,
            st[["repo", "path", *_STATE_COLS, *extra_cols]].to_dict("records"),
            geom_type=geom_type,
        )
        payload = pickle.dumps(
            {
                "salt": salt,
                "segments": res.segments,
                "relations": res.relations,
                "partials": res.partials,
                "metas": res.metas,
                "initial_seqs": res.initial_seqs,
                "wall_ms": (time.monotonic() - t0) * 1000.0,
            }
        )
        return pd.DataFrame(
            [{"repo": repo, "path": path, "_salt": salt, "payload": payload}]
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

        from .saltfold import SliceResult, combine, fold_coord, merge_partials

        t0 = time.monotonic()
        ctx = TaskContext.get()
        # offset keeps metrics (epoch, partition_id) keys from colliding with
        # the cold fold stage's task ids
        pid = 20000 + (ctx.partitionId() if ctx else 0)
        repo, path = str(key[0]), str(key[1])
        pdf = _normalize_pdf(pdf)
        is_event = pdf["_is_event"].astype(bool)
        ev = pdf[is_event]
        payloads = [
            pickle.loads(bytes(b)) for b in pdf[~is_event]["payload"] if b is not None
        ]
        ext = merge_partials([p["partials"] for p in payloads])
        G.preparse_wkts(ev["content"].tolist(), geom_type)
        clean, dead = _split_poison(
            ev[["repo", "path", "commit", "content", *extra_cols]].to_dict("records"),
            geom_type, on_error,
        )
        coord = fold_coord(
            repo,
            path,
            clean,
            ext,
            geom_type=geom_type,
        )
        slice_objs = [
            SliceResult(
                p["segments"], p["relations"], p["partials"], p["metas"], p["initial_seqs"]
            )
            for p in payloads
        ]
        segments, relations = combine(slice_objs, coord)
        rows = _format_rows(segments, relations, pid, seg_cols, extra_cols)
        # dead rows emitted ONCE per key, by the coordinator (slices drop
        # the same events silently — deterministic from identical strings)
        for d in dead:
            rows.append(_dead_changes_row(seg_cols, extra_cols, pid, repo, path, d))
        # timing: the max slice wall (phase 1) and the coordinator wall —
        # what the skew accounting and straggler checks read
        wall = max(
            [p["wall_ms"] for p in payloads] + [(time.monotonic() - t0) * 1000.0]
        )
        trow = dict.fromkeys(seg_cols + extra_cols)
        trow.update(kind="timing", _pid=pid, parent_gid=None, child_gid=None,
                    _wall_ms=wall, _n_keys=1,
                    _n_segments=len(segments), _n_relations=len(relations))
        rows.append(trow)
        return pd.DataFrame(rows, columns=out_cols)

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
    # evidence (stream_ingest's misorder guard) reuse the pending-commits
    # job instead of running their own min/max aggregation per micro-batch
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
        # the caller's WAL load and the epoch's stats job
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

    def _pruned_leaves(self, batch_keys: DataFrame) -> tuple[DataFrame, list[int]]:
        """Leaf state for exactly the batch's ``(repo, path)`` keys, reading
        only the manifest buckets those keys hash into.

        At 100 TB this is the load-bearing pruning: an epoch touching 0.1% of
        keys opens ~0.1% of the segments files instead of scanning the whole
        table (round 1 read the entire table every epoch)."""
        segs = self.segments
        buckets = segs.buckets_for(batch_keys)
        leaves = (
            segs.read_where(self._LEAF_PREDS, buckets=buckets)
            .join(batch_keys, on=["repo", "path"], how="left_semi")
        )
        return leaves, buckets

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
        """Fold-emitted ``kind='hot'`` advisory rows → the carry.  Fast
        path: read the scratch partition driver-side with pyarrow (the
        ``met_from_timing`` pattern) — zero Spark jobs.  A non-local
        warehouse (URI scheme) is invisible to the driver-side read, so it
        falls back to ONE Spark job over the hot partition rather than
        silently never salting keys that turn hot after bucket validation."""
        if self._hot_carry is None:
            return
        if scratch.startswith("file:"):
            # file:-scheme warehouses ARE local — strip the scheme so the
            # driver-side fast path below applies (file:///x → /x)
            scratch = "/" + scratch[5:].lstrip("/")
        elif "://" in scratch:
            from pyspark.errors.exceptions.captured import AnalysisException

            try:
                rows = (
                    self.spark.read.parquet(os.path.join(scratch, "kind=hot"))
                    .select("repo", "path").collect()
                )
            except AnalysisException as exc:
                # ONLY a missing kind=hot partition means "no hot keys this
                # epoch"; AnalysisException also covers schema/column
                # errors, which must propagate instead of silently
                # disabling hot-key salting
                cls = getattr(exc, "getErrorClass", lambda: None)() or ""
                msg = str(exc)
                if "PATH_NOT_FOUND" in cls or "PATH_NOT_FOUND" in msg or (
                    "Path does not exist" in msg
                ):
                    return
                raise
            self._hot_carry.update((r["repo"], r["path"]) for r in rows)
            return
        hot_dir = os.path.join(scratch, "kind=hot")
        if not os.path.isdir(hot_dir):
            return
        import glob

        import pyarrow.parquet as pq

        for fp in sorted(glob.glob(
            os.path.join(hot_dir, "**", "*.parquet"), recursive=True
        )):
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
        """Resume-state leaves for the batch keys: bucket-pruned table read,
        optionally patched with the in-flight previous epoch's change set
        (pipelined ingest).  The patch applies exactly the MERGE the table
        is about to commit — anti-join out updated gids, union the new rows,
        re-filter leaves — so downstream sees post-merge state."""
        base = (
            self.segments.read_where(self._LEAF_PREDS, buckets=buckets)
            .join(batch_keys, on=["repo", "path"], how="left_semi")
        )
        if patch_changes is None:
            return base
        delta = patch_changes.join(batch_keys, on=["repo", "path"], how="left_semi")
        kept = base.join(delta.select("gid"), on="gid", how="left_anti")
        return (
            kept.unionByName(delta, allowMissingColumns=True)
            .filter(F.col("is_leaf") & ~F.col("retired"))
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
        the pending-commits job this method already runs.

        ``track_batch_range`` (implied by ``guard_min_commit``): report the
        batch's UNfiltered commit lo/hi on the returned stats.  This runs
        the pending-commits job without the ``commit > watermark`` pushdown
        — right for streaming micro-batches (small, and the guard needs the
        true range), wrong as a default: a batch resume over a deep WAL
        history relies on that pushed filter to prune already-ingested
        files at the parquet-footer level.

        **Pipelined epochs**: epoch k+1's PREPARE (stats, resume-state read,
        fold, cache materialization) overlaps epoch k's merge WRITES — the
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
        if guard_min_commit is not None or track_batch_range:
            # one metadata-sized job over the (micro-)batch: distinct
            # commits WITHOUT the watermark pushdown, so the batch's true
            # lo/hi are known for the misorder guard / stats; the replay
            # skip applies driver-side instead.  collect_set partial-
            # aggregates map-side into ONE final task — `.distinct()` here
            # paid a full shuffle-partition-wide reduce stage (128 tiny
            # tasks at the session default) for a handful of labels.
            all_commits = _collect_commits(change_log)
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
            # already-ingested files at the parquet-footer level.  Same
            # collect_set shape as above: map-side partial agg, one final
            # task, no wide distinct stage.
            pending = (
                change_log.filter(
                    (F.col("commit") > F.lit(wm)) | F.col("commit").isNull()
                )
                if wm is not None else change_log
            )
            commits = _collect_commits(pending)
        # O(1) epoch numbering: every commit-log append records its epoch in
        # the snapshot summary, so the next epoch id is a manifest read —
        # the count() job this replaces cost a full (tiny) Spark job per
        # ingest call.  Fallback to the count only when no summary carries
        # an epoch (e.g. right after log compaction + expiry).
        last_epoch = self.commit_log.latest_summary_value("epoch")
        epoch0 = (
            int(last_epoch) + 1 if last_epoch is not None
            else (self.commit_log.read().count() or 0)
        )
        chunks = [
            commits[i : i + commits_per_epoch]
            for i in range(0, len(commits), commits_per_epoch)
        ]
        if max_epochs is not None:
            chunks = chunks[:max_epochs]
        prev: dict | None = None  # the epoch whose writes are in flight
        try:
            for j, chunk in enumerate(chunks):
                prep = self._prepare_epoch(
                    epoch0 + j, change_log, chunk[0], chunk[-1],
                    patch_changes=None if prev is None else prev["patch_df"],
                )
                if prev is not None:
                    stats.epochs.append(self._commit_epoch(prev))
                    prev = None
                if prep.get("skip"):
                    stats.epochs.append(
                        self._finish_epoch(
                            prep["epoch"], prep["start_commit"], prep["end_commit"],
                            prep["n_events"], prep["n_keys"], prep["t0"],
                        )
                    )
                else:
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
        * **binpack compaction** — buckets the hot-key salted writes or
          skewed epochs fragmented past ``max_files_per_bucket`` files are
          coalesced (``LakeTable.compact_files``; O(fragmented buckets), the
          Iceberg rewrite_data_files binpack analog; ``None`` disables);
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
            dedup = dedup_read is not None
            if len(tbl.snapshot()["files"]) > max_log_files:
                df = dedup_read() if dedup else tbl.read()
                summary = {"reason": "log-compaction"}
                if dedup:
                    # compaction re-bases attempts: deduped rows all become
                    # attempt 0 of the compacted generation (later appends
                    # commit at higher versions, so monotonicity holds)
                    df = df.withColumn("attempt", F.lit(0).cast("long"))
                else:
                    # the O(1) watermark reads the newest snapshot summary's
                    # end_commit (and the epoch numbering its epoch); the
                    # compaction overwrite must carry both forward or expiry
                    # could strand the metadata paths
                    wm = self.watermark()
                    if wm is not None:
                        summary["end_commit"] = wm
                    ep = self.commit_log.latest_summary_value("epoch")
                    if ep is not None:
                        summary["epoch"] = ep
                tbl.overwrite(df, summary=summary)
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
        patch_changes: DataFrame | None = None,
    ) -> dict:
        """PREPARE phase: batch stats, resume-state read (optionally patched
        with the previous in-flight epoch's changes), fold, and the epoch's
        one combined write of its change files into a scratch directory
        (adopted by the tables at commit).  Returns the epoch context for
        :meth:`_start_writes` / :meth:`_commit_epoch`, or ``{"skip": True,
        ...}`` when the exactly-once guard says this epoch's state already
        landed."""
        trace = os.environ.get("LMS_TRACE_INGEST") == "1"
        marks: list[tuple[str, float]] = []

        def mark(label: str) -> None:
            if trace:
                marks.append((label, time.monotonic()))

        t0 = time.monotonic()
        mark("start")
        batch = change_log.filter(
            (F.col("commit") >= F.lit(start_commit)) & (F.col("commit") <= F.lit(end_commit))
        )
        # second-layer cache only when the caller's change_log is NOT
        # already persisted: re-filtering a cached parent per consumer is
        # cheaper than materializing another in-memory copy of the batch,
        # while an uncached WAL (the production parquet tail) must still be
        # read from storage exactly once per epoch
        own_cache = not (
            change_log.storageLevel.useMemory or change_log.storageLevel.useDisk
        )
        if own_cache:
            batch = batch.cache()
        # (within-batch duplicate events are collapsed deterministically
        # inside the fold — no separate window shuffle needed)

        # one driver job: event count + the set of table buckets this batch
        # touches (bucket count is bounded by n_buckets, so the collect
        # stays driver-light at any scale).  The exact distinct-key count is
        # NOT computed here: countDistinct planned an extra expand + a full
        # shuffle-partition-wide dedup stage per epoch, and the fold's own
        # per-task accounting rows already count each folded key exactly
        # once — n_keys is summed from them at commit time for free.
        # (segments and relations share one layout — see _share_layout — so
        # this bucket set serves both tables)
        stats = batch.agg(
            F.count(F.lit(1)).alias("n"),
            F.collect_set(self.segments.bucket_expr(batch)).alias("bks"),
        ).collect()[0]
        n_events = stats["n"]
        buckets = sorted(stats["bks"])
        mark("stats")

        # Exactly-once replay guard: the segments merge is the LAST state
        # write of an epoch (relations and metrics precede it and are
        # idempotent re-applied).  If segments already carry this epoch's
        # end_commit, the crash hit the window between that merge and the
        # commit-log append — re-folding now would intersect the edition with
        # its own descendants, so skip straight to the bookkeeping.  (A skip
        # can only trigger on the first epoch of a call — later epochs'
        # commits are excluded by the watermark — so it never races the
        # pipeline's in-flight writes.)
        seg_applied = self.segments.latest_summary_value("end_commit")
        if seg_applied is not None and str(seg_applied) >= end_commit:
            # replay-only path: no fold runs, so the commit-log row's key
            # count comes from a dedicated (rare) job here
            n_keys = batch.select("repo", "path").distinct().count()
            if own_cache:
                batch.unpersist()
            return {
                "skip": True, "epoch": epoch, "start_commit": start_commit,
                "end_commit": end_commit, "n_events": n_events,
                "n_keys": n_keys, "t0": t0,
            }

        # resume state: current leaves of only the keys present in this
        # batch, read from only the buckets those keys hash into.  With the
        # pipeline in flight the table read sees the PRE-previous-epoch
        # snapshot; the previous epoch's uncommitted changes patch in via
        # the same anti-join ∪ override the MERGE itself will apply.
        batch_keys = batch.select("repo", "path").distinct()
        keep = set(buckets)
        # manifest row-count upper bound for the touched buckets (driver-side
        # arithmetic, no job) — sizes the fold shuffle below AND, when it
        # proves the touched buckets hold ZERO state rows (fresh table,
        # append-only keys), lets the resume-state subtree be skipped
        # outright: no bucket scan, no batch-keys distinct + broadcast
        # semi-join, a leaner union/codegen unit for the fold stage.
        seg_snap = self.segments.snapshot()
        state_rows: int | None = 0
        for f in seg_snap["files"]:
            if f["bucket"] in keep:
                if f.get("rows") is None:
                    state_rows = None
                    break
                state_rows += f["rows"]
        if state_rows == 0 and patch_changes is None:
            # provably-empty resume state: an empty local relation with the
            # table's current schema keeps the evolution columns visible to
            # the extras merge while Catalyst folds the union side away
            leaves = self.spark.createDataFrame([], self.segments.schema())
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
        bad = sorted(set(extras_map) & _EXTRAS_FORBIDDEN)
        if bad:
            raise ValueError(
                f"WAL extra column(s) {bad} collide with reserved fold/state "
                "column names — rename them upstream of ingest"
            )

        def _null(t):
            return F.lit(None).cast(t)

        ev_side = batch.select(
            "repo", "path", "commit", "content",
            *[
                (F.col(c).cast(t) if c in batch.columns else _null(t)).alias(c)
                for c, t in extras
            ],
            *[_null(t).alias(c) for c, t in _STATE_TYPES],
            F.lit(True).alias("_is_event"),
        )
        st_side = leaves.select(
            "repo", "path", _null("string").alias("commit"), _null("string").alias("content"),
            *[
                (F.col(c) if c in leaves.columns else _null(t)).alias(c)
                for c, t in extras
            ],
            *[F.col(c).cast(t).alias(c) for c, t in _STATE_TYPES],
            F.lit(False).alias("_is_event"),
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
        fold_part = F.pmod(F.xxhash64("repo", "path"), F.lit(modulus))
        spread = balanced_part_col(fold_part, modulus, n_parts)
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
                hot = sorted(
                    (r["repo"], r["path"])
                    for r in batch_keys.join(
                        F.broadcast(hot_df0), ["repo", "path"], "left_semi"
                    ).collect()
                )
        mark("hot_detect")
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
        seg_cols_x = [c for c, _ in SEGMENT_BASE_COLUMNS] + [c for c, _ in extras]

        def m(col):
            # accounting columns ride ONLY on timing rows; segment/relation
            # rows keep them NULL so the adopted data files stay clean (null
            # columns RLE-compress to ~nothing).  They keep the fold's own
            # reserved names (_EXTRAS_FORBIDDEN), so no WAL extra can
            # shadow them; met_from_timing maps them onto METRICS_SCHEMA.
            return F.when(F.col("kind") == "timing", F.col(col)).alias(col)

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
        # per session instead of once per epoch.
        combined = folded.select(
            "kind",
            *seg_cols_x,
            "parent_gid", "child_gid",
            *[m(c) for c in ("_pid", "_n_keys", "_n_segments", "_n_relations",
                             "_wall_ms")],
            F.when(F.col("kind") == "timing", F.lit(0))
            .otherwise(self.segments.bucket_expr(folded))
            .alias("_bucket"),
        )
        scratch = os.path.join(self.warehouse, "_stage", f"e{epoch}")
        if os.path.exists(scratch):  # crashed attempt: deterministic redo
            shutil.rmtree(scratch)
        combined.write.partitionBy("kind", "_bucket").parquet(scratch)
        mark("fold")
        self._absorb_hot_markers(scratch)
        if own_cache:
            batch.unpersist()
        seg_dir = os.path.join(scratch, "kind=segment")
        return {
            "epoch": epoch, "start_commit": start_commit, "end_commit": end_commit,
            # n_keys is filled in by the metrics assembly (met_from_timing
            # sums the fold's per-task key counts) before _finish_epoch reads
            # it — no dedicated countDistinct job on the epoch critical path
            "n_events": n_events, "t0": t0, "buckets": buckets,
            "trace": trace, "marks": marks,
            # ``attempt`` = a metrics snapshot version ≥ the one this append
            # will commit as — monotonic across replays, so read_metrics can
            # keep only the latest attempt
            "attempt": self.metrics.version() + 1,
            "scratch": scratch,
            "patch_df": (
                self.spark.read.parquet(seg_dir).select(*seg_cols_x)
                if os.path.isdir(seg_dir) else None
            ),
            "seg_schema": self.spark.createDataFrame([], ", ".join(
                f"`{c}` {t}" for c, t in SEGMENT_BASE_COLUMNS + extras
            )).schema,
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
        write in prepare), so the data jobs left are the per-table KEPT
        rewrites (rows of touched buckets the epoch did not update — only
        when those buckets hold files) plus the metrics append built from
        the scratch timing files and the dead-letter append.  Must run after
        the previous epoch's commits (kept rows read the then-current
        table)."""
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

        def kept_write(table, src_dir, out_dir, key_cols, src_schema):
            keep = set(buckets)
            if not any(f["bucket"] in keep for f in table.snapshot()["files"]):
                return None  # nothing to keep: buckets had no files
            # align kept rows to table-schema ∪ source-schema (the same
            # evolution the adopting commit records)
            merged, _ = table._merged_schema(
                self.spark.createDataFrame([], src_schema)
            )
            cur = table._align_to(table.read(buckets=buckets), merged)
            if os.path.isdir(src_dir):
                src_keys = (
                    self.spark.read.parquet(src_dir).select(*key_cols).distinct()
                )
                cur = cur.join(src_keys, on=key_cols, how="left_anti")
            (
                cur.withColumn("_bucket", table.bucket_expr(cur))
                .write.partitionBy("_bucket").parquet(out_dir)
            )
            return out_dir

        rel_schema = self.spark.createDataFrame(
            [], ", ".join(f"{c} {t}" for c, t in RELATION_COLUMNS)
        ).schema
        prep["rel_schema"] = rel_schema
        seg_dir = os.path.join(scratch, "kind=segment")
        rel_dir = os.path.join(scratch, "kind=relation")
        tim_dir = os.path.join(scratch, "kind=timing")
        prep["f_seg"] = pool.submit(timed(
            "seg_kept", kept_write, self.segments, seg_dir,
            os.path.join(scratch, "kept_segments"), ["gid"], prep["seg_schema"],
        ))
        prep["f_rel"] = pool.submit(timed(
            "rel_kept", kept_write, self.relations, rel_dir,
            os.path.join(scratch, "kept_relations"),
            ["parent_gid", "child_gid"], rel_schema,
        ))
        if os.path.isdir(tim_dir):

            def met_from_timing(tim_dir=tim_dir, epoch=epoch, attempt=prep["attempt"]):
                # timing rows are one-per-fold-task: read them driver-side
                # (pyarrow) and aggregate in plain python — no Spark job at
                # all on this leg.  The fold's reserved accounting columns
                # map onto METRICS_SCHEMA here, and epoch/attempt/n_events
                # are stamped here (per-epoch driver constants) so the
                # combined write's projection carries no per-epoch literals
                # — see the codegen note in _prepare_epoch.
                import glob

                import pyarrow.parquet as pq

                names = {"_pid": "partition_id", "_n_keys": "n_keys",
                         "_n_segments": "n_segments",
                         "_n_relations": "n_relations", "_wall_ms": "wall_ms"}
                raw = []
                for p in sorted(glob.glob(
                    os.path.join(tim_dir, "**", "*.parquet"), recursive=True
                )):
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
                self.spark.read.parquet(dead_dir), epoch, prep["attempt"]
            )
            prep["f_dead"] = pool.submit(timed(
                "dead", self.dead_letter.append, drows,
                summary={"epoch": epoch}, defer_commit=True,
            ))

    def _commit_epoch(self, prep: dict) -> EpochStats:
        """COMMIT order is the exactly-once contract (see module docstring):
        relations + metrics first (both replay-safe — relations upserts the
        same edges, metrics re-appends under a higher attempt), the SEGMENTS
        commit last, because the fold reads its resume state from segments
        alone.  Any crash before the segments commit replays the fold over
        unchanged input state; a crash after it is caught by the epoch
        guard.  Only the atomic snapshot links are sequenced here — the data
        writes ran concurrently (and, pipelined, under the NEXT epoch's
        fold)."""
        import sys

        marks = prep["marks"]
        trace = prep["trace"]

        def mark(label: str) -> None:
            if trace:
                marks.append((label, time.monotonic()))

        # wait for kept writes + metrics append, then ADOPT the combined
        # scratch files + kept files into each table's manifest by hard link
        # (no further data jobs)
        prep["f_seg"].result()
        prep["f_rel"].result()
        commit_met = prep["f_met"].result()
        commit_dead = prep["f_dead"].result() if "f_dead" in prep else (lambda: None)
        prep["pool"].shutdown(wait=False)
        scratch = prep["scratch"]

        def scan(*dirs) -> list[tuple[str, int]]:
            out = []
            for d in dirs:
                if not os.path.isdir(d):
                    continue
                for bdir in sorted(os.listdir(d)):
                    if not bdir.startswith("_bucket="):
                        continue
                    b = int(bdir.split("=", 1)[1])
                    for p in sorted(os.listdir(os.path.join(d, bdir))):
                        if p.endswith(".parquet"):
                            out.append((os.path.join(d, bdir, p), b))
            return out

        summary = {"epoch": prep["epoch"], "end_commit": prep["end_commit"]}
        commit_rel = self.relations.adopt_merge(
            scan(os.path.join(scratch, "kind=relation"),
                 os.path.join(scratch, "kept_relations")),
            prep["rel_schema"], prep["buckets"], summary,
        )
        commit_seg = self.segments.adopt_merge(
            scan(os.path.join(scratch, "kind=segment"),
                 os.path.join(scratch, "kept_segments")),
            prep["seg_schema"], prep["buckets"], summary,
        )
        commit_rel()
        commit_met()
        # dead-letter commits with the replay-safe group (re-appends under a
        # higher attempt on replay; read_dead_letter keeps the latest)
        commit_dead()
        mark("relations+metrics")
        if self._crash_after == "relations_merge":
            raise RuntimeError("injected crash: after relations/metrics, before segments")
        commit_seg()
        mark("segments_merge")
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
        if trace:
            mark("log")
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
        ev = shaped.filter(F.col("_is_event"))
        st = shaped.filter(~F.col("_is_event"))
        ev_rep = ev.withColumn(
            "_salt", F.explode(F.array(*[F.lit(s) for s in range(n_salts)]))
        )
        st_s = st.withColumn("_salt", F.pmod(F.col("seq"), F.lit(n_salts)).cast("int"))
        payloads = (
            ev_rep.unionByName(st_s)
            .groupBy("repo", "path", "_salt")
            .applyInPandas(
                _make_slice_fn(self.geom_type, extras, self.on_error),
                "repo string, path string, _salt int, payload binary",
            )
        )
        pay_side = payloads.select(
            "repo",
            "path",
            *[
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in ev.schema.fields
                if f.name not in ("repo", "path", "_is_event")
            ],
            F.lit(False).alias("_is_event"),
            "payload",
        )
        ev_side = ev.withColumn("payload", F.lit(None).cast("binary"))
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

"""Structured Streaming front-end for the CDC engine (SURVEY.md §2.11).

The reference is batch-only (sequential per-edition fold, main.py:141-154).
The engine's streaming story: ``readStream`` over the WAL landing directory →
``foreachBatch`` → the same epoch-apply used by batch ingest.  Event order is
given by ``commit`` (not wall-clock), so no watermark is needed for
correctness — within each micro-batch events are folded in commit order per
key, and the commit-log watermark makes redelivery a no-op (exactly-once at
the table level even under at-least-once delivery from the source).

``trigger(availableNow=True)`` drains the backlog incrementally with source
checkpointing — the streaming analog of the batch ``ingest()`` loop; a
continuous trigger tails new files as they land.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .changelog import CHANGE_LOG_SCHEMA
from .ingest import CdcEngine

EVENTS_SCHEMA = (
    "event_id long, user_id long, event_type string, ts timestamp, value double"
)


def stream_ingest(
    engine: CdcEngine,
    wal_dir: str,
    checkpoint_dir: str,
    commits_per_epoch: int = 8,
    schema: str = CHANGE_LOG_SCHEMA,
    max_files_per_trigger: "int | None" = None,
):
    """Drain the WAL directory into the engine via Structured Streaming.

    Returns the finished StreamingQuery (availableNow drains and stops).

    ``max_files_per_trigger`` slices the drain into multiple micro-batches
    (availableNow honors the source option) — each micro-batch is its own
    ``engine.ingest`` call resuming from the previous one's committed leaf
    state, the long-running-stream shape.  CONTRACT: the landing files must
    be commit-aligned (a commit's events never span a micro-batch boundary;
    a real WAL is append-ordered so this holds by construction), because
    ``ingest`` treats commits at or below its watermark as checkpoint
    replays and skips them — a random row split would silently drop the
    tail of a commit it has already seen the head of.
    """
    spark: SparkSession = engine.spark
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(wal_dir)

    # Misorder guard for the micro-batched drain: FileStreamSource orders
    # files by modification time, NOT by commit — if a landing writer
    # produces mtimes that disagree with commit order, a later micro-batch
    # can carry a commit at-or-below the watermark advanced by an earlier
    # one, and ingest() would silently discard it as a checkpoint replay.
    # Detect the divergence and fail LOUDLY instead: a NEW batch whose
    # minimum commit is ≤ the maximum commit of a previous NEW batch in
    # this drain violates the commit-aligned/append-ordered contract.
    # The check rides ingest()'s own WAL census (guard_min_commit
    # + batch_max_commit on the returned stats) — zero extra Spark jobs
    # per micro-batch.  Replays are exempt two ways: a re-fired batch_id
    # within this call is recognized directly, and a re-drain from a fresh
    # checkpoint starts with empty per-call state (its first batch has
    # nothing to be behind).  Best-effort by design: the state is
    # per-call, so misorder across a process restart is not detected (the
    # contract note covers it).
    seen_batches: set[int] = set()
    max_commit: list[str] = []

    def apply_batch(batch_df, batch_id: int) -> None:
        replay = batch_id in seen_batches
        # The commit-log watermark inside ingest() deduplicates redelivered
        # micro-batches (checkpoint replay after a crash) — the sink-side
        # half of exactly-once; the source checkpoint is the other half.
        st = engine.ingest(
            batch_df,
            commits_per_epoch=commits_per_epoch,
            guard_min_commit=max_commit[0] if max_commit and not replay else None,
            track_batch_range=True,
        )
        if not replay:
            hi = st.batch_max_commit
            if hi is not None:
                if not max_commit:
                    max_commit.append(hi)
                elif hi > max_commit[0]:
                    max_commit[0] = hi
            seen_batches.add(batch_id)

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def write_commit_aligned_landing(pdf, landing: str) -> int:
    """Write a WAL pandas frame as a commit-aligned landing directory: one
    parquet file per commit, mtimes ascending in commit order — the
    append-ordered shape :func:`stream_ingest`'s micro-batched drain
    contract requires (and the misorder guard enforces).  Returns the file
    count (= micro-batch count at ``max_files_per_trigger=1``).

    Appendable: a second call on the same landing dir continues BOTH the
    file numbering and the mtime sequence from what is already there, so a
    long-running stream landing batches over time keeps the monotone-mtime
    contract across calls (a fixed mtime base would make the second call's
    files sort before the first call's and trip the misorder guard)."""
    os.makedirs(landing, exist_ok=True)
    existing = [
        os.path.join(landing, f)
        for f in os.listdir(landing)
        if f.endswith(".parquet")
    ]
    base = 1_000_000_000
    if existing:
        base = int(max(os.path.getmtime(f) for f in existing)) + 1
    i0 = len(existing)
    commits = sorted(pdf["commit"].unique())
    for i, c in enumerate(commits):
        f = os.path.join(landing, f"wal_{i0 + i:06d}.parquet")
        pdf[pdf["commit"] == c].to_parquet(f, index=False)
        os.utime(f, (base + i, base + i))
    return len(commits)


def stream_scd2(
    spark: SparkSession,
    events_dir: str,
    events_tbl,
    dim,
    checkpoint_dir: str,
    schema: str = EVENTS_SCHEMA,
):
    """Streaming SCD2 maintenance: tail an events landing directory and keep
    a persisted Type-2 dimension current, micro-batch by micro-batch.

    Each batch (a) appends to the events log table — idempotently: the
    source ``batch_id`` rides the append's commit summary, and a replayed
    batch after a checkpoint-recovery crash is skipped instead of
    double-appended (the canonical foreachBatch idempotent-sink pattern) —
    and (b) runs :func:`temporal.maintain_scd2`, whose own cursor makes the
    dimension refresh idempotent.  Together the two cursors give
    exactly-once dimension maintenance under at-least-once micro-batch
    delivery.  ``availableNow`` drains and stops; the same call with a live
    trigger tails indefinitely."""
    from .temporal import maintain_scd2

    stream = spark.readStream.schema(schema).parquet(events_dir)

    stream_id = os.path.abspath(checkpoint_dir)

    def apply_batch(batch_df, batch_id: int) -> None:
        last_id = events_tbl.latest_summary_value("stream_id")
        last = events_tbl.latest_summary_value("stream_batch_id")
        if last_id is not None and last_id != stream_id:
            # the idempotency key is (checkpoint, batch_id): a DIFFERENT
            # checkpoint restarts batch numbering, so its ids are
            # incomparable — bare-batch_id comparison would silently drop
            # new rows (e.g. fresh batch 0 vs recorded batch 0).  Surface
            # the mismatch: resume with the ORIGINAL checkpoint, or point
            # the new one at a new events table.
            raise ValueError(
                f"stream_scd2: events table was fed by checkpoint "
                f"{last_id!r}; refusing batches from {stream_id!r}"
            )
        if last is None or batch_id > last:
            events_tbl.append(
                batch_df.select(*events_tbl.schema().names),
                summary={"stream_id": stream_id, "stream_batch_id": batch_id},
            )
        # batch_id <= last under the SAME checkpoint: replayed batch — skip
        maintain_scd2(events_tbl, dim)

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def stream_curate(
    spark: SparkSession,
    docs_path: str,
    checkpoint_dir: str,
    out_dir: str,
    schema: str = DOCS_SCHEMA,
    drop_pii: bool = False,
) -> DataFrame:
    """Streaming corpus curation: the LLM-pipeline counterpart of the CDC
    stream — documents land as files and are curated incrementally instead
    of re-scanning the corpus per batch.

    Stateless stages (content hash, token count, PII total, split band) map
    1:1 from their batch definitions — same Column expressions, so stream ≡
    batch by construction.  The stateful stage is exact dedup ACROSS
    micro-batches via ``dropDuplicates`` on the content hash: state is one
    tiny row per distinct hash in the state store, persisted in the
    checkpoint, so a duplicate arriving days later (or after a restart) is
    still dropped — the incremental-ingest property a batch job can only get
    by rescanning everything.  A production deployment with an arrival
    timestamp bounds the state with ``dropDuplicatesWithinWatermark``.

    Keeper contract: across micro-batches the keeper is the FIRST ARRIVAL
    (that is the point of incremental curation); within one micro-batch
    holding several copies, ``dropDuplicates`` keeps an arbitrary one —
    the surviving content set is deterministic, the surviving doc_id is
    not.  Use the batch curate path when a reproducible keeper identity
    (min doc_id) matters more than incrementality.

    Output keeps the FULL document columns plus the curation annotations —
    the same schema the batch curate CLI writes — so downstream consumers
    can tokenize/train from either.  ``drop_pii`` filters PII-bearing docs
    before dedup (also matching batch).  Drains with ``availableNow`` into
    a parquet sink (append mode: each doc is emitted exactly once, on first
    sight; the file sink's commit log — unlike a memory sink — supports
    restart recovery, so re-invoking with the same checkpoint processes
    only newly landed files) and returns a batch read of the output
    directory."""
    from .sampling import split_expr
    from .textops import curation_columns

    stream = spark.readStream.schema(schema).parquet(docs_path)
    cur = stream
    for name, col in curation_columns().items():
        cur = cur.withColumn(name, col)
    cur = cur.withColumn("split", split_expr())
    if drop_pii:
        cur = cur.filter(F.col("n_pii") == 0)
    cur = cur.dropDuplicates(["content_md5"])
    q = (
        cur.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir)

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

import pandas as pd
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


def windowed_event_counts(
    spark: SparkSession,
    events_path: str,
    checkpoint_dir: str,
    query_name: str,
    window: str = "1 hour",
    watermark: str = "1 day",
    schema: str = EVENTS_SCHEMA,
) -> DataFrame:
    """§2.11 streaming windowed aggregation with a watermark: per
    (event-time window, event_type) counts over a file stream.

    The watermark bounds the aggregation state Spark keeps for late data —
    at 100 TB/day this is what makes the operator's memory finite.  Drains
    with ``availableNow`` into a memory sink and returns the result frame
    (tests assert stream ≡ batch)."""
    stream = spark.readStream.schema(schema).parquet(events_path)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def user_running_stats(
    spark: SparkSession,
    events_path: str,
    checkpoint_dir: str,
    query_name: str,
    schema: str = EVENTS_SCHEMA,
) -> DataFrame:
    """§2.11 custom stateful streaming operator via
    ``applyInPandasWithState``: per-user running (event count, value sum) —
    the arbitrary-state shape Spark's built-in aggregations can't express
    when the update logic grows beyond algebraic aggregates.

    State lives in the state store keyed by user_id (bounded by #users);
    each micro-batch's Arrow frames fold into it and the updated row is
    emitted."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            [{"user_id": key[0], "n_events": n, "total_value": total}]
        )

    stream = spark.readStream.schema(schema).parquet(events_path)
    res = stream.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    q = (
        res.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def stream_sessionize(
    spark: SparkSession,
    events_path: str,
    checkpoint_dir: str,
    query_name: str,
    gap_seconds: int = 21600,
    watermark: str = "1 day",
    schema: str = EVENTS_SCHEMA,
) -> DataFrame:
    """§2.11 native session windows: the streaming counterpart of
    ``relational.event_sessionize`` via ``F.session_window`` — Spark's
    built-in merging session state, the idiomatic answer where the batch op
    needs lag + running sum (which streaming can't express: arbitrary
    windows over event order don't exist on an unbounded stream).

    Gap contract: the batch operator measures inactivity in WHOLE seconds
    (``unix_timestamp`` floor, oracle-identical to DuckDB's
    ``date_diff('second')``) and starts a new session strictly ABOVE
    ``gap_seconds``.  ``session_window`` merges at microsecond precision
    with a half-open ``diff < gap`` rule, so the stream truncates event
    time to seconds and windows by ``gap_seconds + 1``: truncated
    ``diff < gap+1  ⟺  floor-diff ≤ gap``, exactly the batch rule.  The
    emitted first/last timestamps keep the original precision.

    The watermark bounds session state: a session closes (and its state is
    dropped) once the watermark passes its window end — at 100 TB/day the
    state store holds only sessions still inside the lateness horizon,
    never the history.  Drains with ``availableNow`` into a memory sink
    (complete mode, so tests see every session without a sentinel flush;
    a production run would use append mode + a parquet sink and let the
    watermark emit sessions as they close)."""
    stream = spark.readStream.schema(schema).parquet(events_path)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(
            "user_id",
            F.session_window(
                F.date_trunc("second", F.col("ts")), f"{gap_seconds + 1} seconds"
            ).alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .select("user_id", "n_events", "first_ts", "last_ts")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


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


def stream_attribution_join(
    spark: SparkSession,
    events_path: str,
    checkpoint_dir: str,
    query_name: str,
    window_minutes: int = 30,
    watermark: str = "2 hours",
    schema: str = EVENTS_SCHEMA,
) -> DataFrame:
    """§2.11 stream-stream interval join: purchases attributed to every
    click by the same user within the preceding ``window_minutes`` — the
    Structured-Streaming counterpart of :func:`linked_maps_spark.temporal.
    range_join_binned` (which an unbounded stream can't run: the interval
    side never stops growing).

    Both sides carry a watermark AND the join condition bounds event time
    on both sides (``click_ts <= p_ts < click_ts + window``), which is
    exactly what lets Spark expire join state: a click older than
    ``watermark + window`` can never match a future purchase, so the state
    store holds only the sliding horizon — bounded at any corpus size.
    Inner-join results emit as soon as both sides arrive (no watermark
    wait), so an ``availableNow`` drain over a static backlog reproduces
    the batch join exactly (tested).
    """
    clicks = (
        spark.readStream.schema(schema)
        .parquet(events_path)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        spark.readStream.schema(schema)
        .parquet(events_path)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    joined = clicks.join(
        purchases,
        F.expr(
            f"""
            user_id = p_user
            AND p_ts >= click_ts
            AND p_ts < click_ts + INTERVAL {int(window_minutes)} MINUTES
            """
        ),
    ).select("click_id", "purchase_id", "user_id", "click_ts", "p_ts")
    q = (
        joined.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)

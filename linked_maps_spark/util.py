"""Small shared helpers (digests for replay-equality checks)."""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame


def table_digest(df: DataFrame, cols: list[str] | None = None) -> str:
    """Order-insensitive sha256 digest of a DataFrame's content.

    Used by the exactly-once / resume tests: two replays are equal iff their
    digests are equal (SURVEY.md §5.2 item 2).
    """
    use = sorted(cols or df.columns)
    rows = df.select(*use).collect()
    lines = sorted(repr(tuple(r[c] for c in use)) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition ``df`` to the session's default parallelism — but ONLY
    when the scan yields fewer partitions (the local small-file artifact:
    one parquet file = one task, serializing every downstream explode/UDF
    onto a single core).  At production scale the scan already yields
    thousands of splits and this is a no-op — no shuffle is added.

    ``cols`` (optional) hash-partitions by those columns so downstream
    per-key work stays co-located; otherwise round-robin.

    Streaming DataFrames pass through untouched — ``df.rdd`` would raise on
    them, and micro-batch partitioning is the source's business.
    """
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    from pyspark.sql import functions as F  # local: util stays import-light

    return df.repartition(target, *[F.col(c) for c in cols]) if cols else df.repartition(target)


def mmh3_long(x: int, seed: int = 42) -> int:
    """Spark's Murmur3Hash of one LongType value (HashExpression.hashLong).

    Bit-exact reimplementation so the driver can PRE-IMAGE Spark's shuffle
    partitioner: HashPartitioning assigns ``pmod(murmur3(cols), n)``, and
    this lets us search, per partition-key value, for an integer probe that
    murmur3-lands on the partition WE want (see balanced_probes).  Verified
    against ``F.hash(bigint)`` in tests/test_ingest.py.
    """
    mask = 0xFFFFFFFF

    def rotl(v: int, n: int) -> int:
        return ((v << n) | (v >> (32 - n))) & mask

    def mix_k1(k1: int) -> int:
        return (rotl((k1 * 0xCC9E2D51) & mask, 15) * 0x1B873593) & mask

    def mix_h1(h1: int, k1: int) -> int:
        return (rotl((h1 ^ k1) & mask, 13) * 5 + 0xE6546B64) & mask

    x &= 0xFFFFFFFFFFFFFFFF
    h1 = mix_h1(seed & mask, mix_k1(x & mask))
    h1 = mix_h1(h1, mix_k1((x >> 32) & mask))
    h1 ^= 8  # fmix, input length 8 bytes
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & mask
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & mask
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


_PROBE_CACHE: dict[int, list[int]] = {}


def balanced_probes(n_parts: int) -> list[int]:
    """probes[r] = smallest k ≥ 0 with pmod(murmur3(k), n_parts) == r.

    ``repartition(n, key)`` re-hashes the partition key through murmur3;
    when the key has only ~n distinct values (a bucket id, a
    bucket-refining fold key) the birthday collisions leave ~1/e of the
    partitions EMPTY and stack 2-3 values on one task (measured on the CDC
    fold at 4 cores / 16 values: 6 empty partitions, 3× record skew, fold
    stage 61.6 s vs the 50.2 s ideal).  Routing the shuffle through
    ``probes[key % n_parts]`` keeps every key value wholly in one partition
    (file-count bounds unchanged) while making partition occupancy exactly
    floor/ceil(distinct-values / n_parts) values each — the balanced layout
    the hash was supposed to give.

    Only ``n_parts`` entries are needed (a value's designated partition is
    its residue class), so the search is one k-sweep until every residue
    has a pre-image — O(n_parts·ln n_parts) expected murmur evaluations,
    never a function of the key modulus (a 2^20-bucket table costs ~the
    same as a 16-bucket one).
    """
    got = _PROBE_CACHE.get(n_parts)
    if got is None:
        first: list[int | None] = [None] * n_parts
        found, k = 0, 0
        while found < n_parts:
            r = mmh3_long(k) % n_parts
            if first[r] is None:
                first[r] = k
                found += 1
            k += 1
        got = first  # type: ignore[assignment]
        _PROBE_CACHE[n_parts] = got
    return got


def balanced_part_col(value: str, modulus: int, n_parts: int):
    """Column: probes[value % n_parts] (O(1) literal-array lookup per row;
    the array holds ``n_parts`` longs regardless of ``modulus``, so plan
    size never grows with bucket count).

    ``value`` is the Spark-SQL text of an integral expression, parsed
    JVM-side in one py4j round trip; repartitioning on the returned column
    with ``n_parts`` partitions places value ``v`` on partition
    ``v % n_parts`` exactly.  ``modulus`` (the value domain size) is kept
    in the signature for call-site documentation only — the probe table
    depends solely on ``n_parts``.
    """
    from pyspark.sql import functions as F  # local: util stays import-light

    probes = ", ".join(f"CAST({p} AS BIGINT)" for p in balanced_probes(n_parts))
    return F.expr(
        f"element_at(array({probes}), "
        f"CAST(pmod(CAST({value} AS BIGINT), {n_parts}) AS INT) + 1)"
    )


def zvalue_col(c1, c2, bits: int = 16):
    """Morton/Z-order interleave of two non-negative integer columns
    (JVM-only bitwise expressions — shift/or/and magic-mask spreading, no
    UDF).  Sorting by the returned column clusters rows so that BOTH
    dimensions' value ranges stay narrow within a file — the Delta
    ``OPTIMIZE ZORDER BY (a, b)`` locality curve.  Inputs are masked to
    ``bits`` low bits (callers quantize wider domains first)."""
    from pyspark.sql import functions as F  # local: util stays import-light

    if not 1 <= bits <= 16:
        raise ValueError("zvalue_col supports 1..16 bits per dimension")

    def spread_bits(x):
        x = x.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
        # each step doubles the gap between occupied bit positions
        x = x.bitwiseOR(F.shiftleft(x, 8)).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
        x = x.bitwiseOR(F.shiftleft(x, 4)).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
        x = x.bitwiseOR(F.shiftleft(x, 2)).bitwiseAND(F.lit(0x3333333333333333))
        x = x.bitwiseOR(F.shiftleft(x, 1)).bitwiseAND(F.lit(0x5555555555555555))
        return x

    return spread_bits(c1).bitwiseOR(F.shiftleft(spread_bits(c2), 1))


def quote_ident(name: str) -> str:
    """``name`` as one Spark-SQL identifier: backtick-quoted, any backtick
    inside doubled — the one quoting rule for column names spliced into
    ``F.expr``/``selectExpr`` text."""
    return "`" + name.replace("`", "``") + "`"


def make_query_registry():
    """(QUERIES, ORACLES, query) triple — the driver-contract registry every
    query module keeps (relational/temporal/sketch).  One definition so a
    change to oracle registration can't silently miss a copy."""
    queries: dict = {}
    oracles: dict[str, str] = {}

    def query(name: str, sql: str | None = None):
        def deco(fn):
            queries[name] = fn
            if sql is not None:
                oracles[name] = sql
            return fn

        return deco

    return queries, oracles, query


def load_table(spark, sf_dir: str, table: str) -> DataFrame:
    """Read one driver-provided parquet table (shared by the query modules)."""
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def scratch_root() -> str:
    """Scratch root for throwaway fixture warehouses/indexes: tmpfs when the
    sandbox has it (the local disk writes ~25 MB/s, which would I/O-bind
    every fixture build), else the regular tempdir.  Same policy as
    session.py's shuffle-local-dir routing; these trees are rebuilt
    deterministically per process, never durable state."""
    import os
    import tempfile

    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        return shm
    return tempfile.gettempdir()

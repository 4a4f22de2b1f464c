"""Snapshot-versioned lake tables on parquet (Iceberg-style, self-contained).

The target architecture (BASELINE.json ``north_rule``) is a CDC upsert into
Iceberg tables.  No Iceberg runtime jar ships in this offline sandbox, so this
module implements the needed subset of the Iceberg table spec directly over
parquet — same public semantics, same scale design:

* **Snapshot isolation / atomic commits** — every write produces an immutable
  snapshot JSON under ``_snapshots/v{N}.json``; commit is an atomic
  ``os.link`` (fails if the version already exists → optimistic concurrency,
  like Iceberg's metadata swap).
* **Manifest-level pruning** — each snapshot lists its data files *with their
  key-hash bucket*; ``merge_upsert`` rewrites only the buckets touched by the
  source batch (copy-on-write MERGE INTO), and bucket-filtered reads open
  only matching files.  At 100 TB this is the difference between rewriting
  the table and rewriting ~`touched_keys/n_buckets` of it.
* **Schema evolution** — writes union-merge new columns into the table
  schema; reads project every (older) file to the current schema, absent
  columns as NULL (parquet reader is schema-tolerant).
* **Time travel** — ``read(version=k)`` reads any retained snapshot.
* **Exactly-once hooks** — snapshot ``summary`` carries the writer's epoch /
  offsets; an ingest replay checks the committed epoch before re-applying
  (MERGE itself is idempotent, so the check is an optimization, not a
  correctness crutch).

Skew: writes repartition by ``(bucket, salt)`` where
``salt = pmod(xxhash64(keys...), salt_n)`` so a hot bucket's write fans out
across tasks (SURVEY.md §4.1 skew row); AQE handles the join side.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from .util import balanced_part_col, zvalue_col

_SNAP_DIR = "_snapshots"

# file-level column statistics (Iceberg manifest metrics analog) ------------
#
# Every snapshot manifest entry may carry ``rows`` and per-column
# ``stats: {col: {min, max, nulls}}`` harvested from the parquet footer.
# ``read_where`` uses them to skip whole files before the scan even opens
# them — at 100 TB (object store) that is the difference between N GET
# requests and ``matching_files`` GETs, on top of whatever row-group
# skipping the reader does once a file IS opened.  Iceberg writers report
# these metrics from the executors as part of the write; this offline
# analog harvests them from the footer (a metadata-only read) at
# manifest-build time, and ``analyze()`` backfills them for externally
# written (adopted) files as a maintenance step.

_STATS_MAX_STR = 64  # longer string bounds are truncated (min) or dropped (max)


def _footer_stats(full_path: str) -> tuple[int | None, dict]:
    """(row_count, {col: {min, max, nulls}}) from a parquet footer.

    Conservative by construction: a column whose statistics are missing,
    non-scalar, NaN-polluted, or type-ambiguous is simply absent from the
    result — pruning treats absent stats as "may match".  A truncated
    string ``min`` prefix is still a valid lower bound; a truncated ``max``
    would NOT be a valid upper bound, so it is dropped (None = unbounded).
    """
    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(full_path).metadata
    except Exception:
        return None, {}
    mins: dict[str, list] = {}
    maxs: dict[str, list] = {}
    nulls: dict[str, int] = {}
    bad: set[str] = set()

    def drop(name: str) -> None:
        bad.add(name)
        mins.pop(name, None)
        maxs.pop(name, None)
        nulls.pop(name, None)

    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            c = g.column(ci)
            name = c.path_in_schema
            if "." in name or name in bad:  # nested leaves: not prunable here
                continue
            st = c.statistics
            if st is None or st.null_count is None:
                drop(name)
                continue
            nulls[name] = nulls.get(name, 0) + st.null_count
            if not st.has_min_max:
                # an all-null row group contributes no values (bounds keep);
                # values without stats make the column unusable
                if st.null_count != g.num_rows:
                    drop(name)
                continue
            mn, mx = st.min, st.max
            scalar = lambda v: isinstance(v, (bool, int, float, str))  # noqa: E731
            if not scalar(mn) or not scalar(mx) or mn != mn or mx != mx:  # NaN-safe
                drop(name)
                continue
            try:
                mins.setdefault(name, []).append(mn)
                maxs.setdefault(name, []).append(mx)
            except TypeError:
                drop(name)
    stats: dict[str, dict] = {}
    for name, n in nulls.items():
        if name in bad:
            continue
        try:
            lo = min(mins[name]) if mins.get(name) else None
            hi = max(maxs[name]) if maxs.get(name) else None
        except TypeError:  # mixed types across row groups
            continue
        if isinstance(lo, str) and len(lo) > _STATS_MAX_STR:
            lo = lo[:_STATS_MAX_STR]
        if isinstance(hi, str) and len(hi) > _STATS_MAX_STR:
            hi = None
        stats[name] = {"min": lo, "max": hi, "nulls": n}
    return md.num_rows, stats


_PRED_OPS = ("=", "==", "<", "<=", ">", ">=", "in", "between", "is_null", "not_null")

# ------------------------------------------------------- per-file blooms
#
# Min/max bounds can't prune point lookups when key ranges interleave
# across files (a content-hash gid is uniform by construction, so EVERY
# file spans ~the full key range and bounds never exclude anything).  A
# small per-file bloom filter over the merge key closes that: a point
# lookup opens only files whose bloom admits the key — the Iceberg/Delta
# bloom-index analog.  Blooms are deterministic (md5-derived bit
# positions), built by ``analyze(bloom_cols=...)`` as an amortized
# maintenance read (one column scan per file, no Spark job), and probed
# driver-side in ``files_where`` — absence is a proof, presence means
# "may contain" exactly like the bounds.

_BLOOM_BITS = 8192  # 1 KiB per column per file; fpr < 1% up to ~1k keys
_BLOOM_K = 5


def _bloom_render(value) -> bytes:
    """Canonical byte rendering shared by bloom build AND probe.

    ``str(value)`` alone is a correctness trap: the build side hashes the
    STORED python value (``str(10.0)`` = ``'10.0'``) while the probe side
    hashes whatever literal the caller passed (``str(10)`` = ``'10'``), and
    a rendering mismatch is a false NEGATIVE — files silently pruned away
    from a query that would match.  Numerically-equal int/float/Decimal/bool
    values must therefore collapse to one rendering; everything else keeps
    its str() under a type tag so e.g. the string ``'10'`` never aliases the
    number 10."""
    import decimal

    if isinstance(value, bool):
        return b"n:%d" % int(value)
    if isinstance(value, int):
        return b"n:%d" % value
    if isinstance(value, float):
        if value.is_integer():
            return b"n:%d" % int(value)
        return b"f:%s" % repr(value).encode()
    if isinstance(value, decimal.Decimal):
        if value == value.to_integral_value():
            return b"n:%d" % int(value)
        return b"f:%s" % repr(float(value)).encode()
    return b"s:%s" % str(value).encode()


def _bloom_positions(value, m_bits: int, k: int):
    import hashlib

    s = _bloom_render(value)
    for i in range(k):
        d = hashlib.md5(b"%d:%s" % (i, s)).digest()
        yield int.from_bytes(d[:8], "big") % m_bits


def _bloom_build(values, m_bits: int = _BLOOM_BITS, k: int = _BLOOM_K) -> dict:
    import base64

    bits = bytearray(m_bits // 8)
    for v in values:
        if v is None:
            continue
        for pos in _bloom_positions(v, m_bits, k):
            bits[pos >> 3] |= 1 << (pos & 7)
    return {"m": m_bits, "k": k, "b64": base64.b64encode(bytes(bits)).decode()}


def _bloom_may_contain(bloom: dict, value) -> bool:
    import base64

    bits = base64.b64decode(bloom["b64"])
    return all(
        bits[pos >> 3] & (1 << (pos & 7))
        for pos in _bloom_positions(value, bloom["m"], bloom["k"])
    )


def _may_match(entry: dict, preds: list[tuple]) -> bool:
    """Whether a manifest entry's file MAY contain rows matching every
    predicate.  Missing stats/rows → True (conservative); False only on a
    proof from the footer bounds."""
    stats = entry.get("stats") or {}
    blooms = entry.get("blooms") or {}
    rows = entry.get("rows")
    for col, op, *rest in preds:
        if op not in _PRED_OPS:
            raise ValueError(f"unsupported predicate op: {op!r}")
        bl = blooms.get(col)
        if bl is not None and op in ("=", "==", "in"):
            vals = rest[0] if op == "in" else [rest[0]]
            try:
                if not any(_bloom_may_contain(bl, v) for v in vals):
                    return False
            except Exception:
                pass  # malformed bloom → cannot prune
        s = stats.get(col)
        if s is None:
            continue
        lo, hi, n = s.get("min"), s.get("max"), s.get("nulls")
        val = rest[0] if rest else None
        try:
            if op == "is_null":
                if n == 0:
                    return False
                continue
            if op == "not_null":
                if rows is not None and n == rows:
                    return False
                continue
            # comparison predicates are never satisfied by NULL rows
            if rows is not None and n == rows:
                return False

            def inside(v) -> bool:
                return (lo is None or v >= lo) and (hi is None or v <= hi)

            if op in ("=", "=="):
                if not inside(val):
                    return False
            elif op == "<":
                if lo is not None and lo >= val:
                    return False
            elif op == "<=":
                if lo is not None and lo > val:
                    return False
            elif op == ">":
                if hi is not None and hi <= val:
                    return False
            elif op == ">=":
                if hi is not None and hi < val:
                    return False
            elif op == "in":
                if not any(inside(v) for v in val):
                    return False
            elif op == "between":
                a, b = val
                if (hi is not None and hi < a) or (lo is not None and lo > b):
                    return False
        except TypeError:  # literal/stat type mismatch → cannot prune
            continue
    return True


def _preds_column(preds: list[tuple]):
    """The exact residual filter for ``preds`` (applied after pruning so
    results never depend on stats being present or complete)."""
    c = F.lit(True)
    for col, op, *rest in preds:
        k = F.col(col)
        val = rest[0] if rest else None
        if op in ("=", "=="):
            e = k == F.lit(val)
        elif op == "<":
            e = k < F.lit(val)
        elif op == "<=":
            e = k <= F.lit(val)
        elif op == ">":
            e = k > F.lit(val)
        elif op == ">=":
            e = k >= F.lit(val)
        elif op == "in":
            e = k.isin(list(val))
        elif op == "between":
            e = k.between(F.lit(val[0]), F.lit(val[1]))
        elif op == "is_null":
            e = k.isNull()
        elif op == "not_null":
            e = k.isNotNull()
        else:
            raise ValueError(f"unsupported predicate op: {op!r}")
        c = c & e
    return c


class CommitConflict(RuntimeError):
    pass


class ConstraintViolation(ValueError):
    """A write carried a row failing one of the table's CHECK constraints."""


def _schema_of(spark: SparkSession, schema: StructType | str) -> StructType:
    if isinstance(schema, StructType):
        return schema
    return spark.createDataFrame([], schema).schema


class LakeTable:
    """One snapshot-versioned table rooted at ``path``."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)

    # ------------------------------------------------------------- lifecycle

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: StructType | str,
        key_cols: list[str] | None = None,
        n_buckets: int = 16,
        overwrite: bool = False,
        bucket_cols: list[str] | None = None,
        constraints: dict[str, str] | None = None,
    ) -> "LakeTable":
        """``key_cols`` is the MERGE identity; ``bucket_cols`` (default:
        key_cols) chooses the file-layout hash.  Splitting them lets the CDC
        tables bucket by ``(repo, path)`` — the key the ingest loop prunes
        by — while still upserting on content-hash ``gid``.

        ``constraints`` are named SQL CHECK expressions (Delta constraint
        analog): every append/merge/overwrite verifies each expression IS
        TRUE for every incoming row BEFORE any file is written — a
        violation raises :class:`ConstraintViolation` and leaves the table
        untouched.  NULL fails (strict)."""
        t = cls(spark, path)
        if overwrite and os.path.exists(t.path):
            shutil.rmtree(t.path)
        os.makedirs(os.path.join(t.path, _SNAP_DIR), exist_ok=True)
        if t.version() is None:
            t._commit_snapshot(
                version=0,
                schema=_schema_of(spark, schema),
                files=[],
                operation="create",
                summary={},
                key_cols=key_cols or [],
                n_buckets=n_buckets,
                bucket_cols=bucket_cols if bucket_cols is not None else (key_cols or []),
                constraints=dict(constraints or {}),
            )
        return t

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "LakeTable":
        t = cls(spark, path)
        if t.version() is None:
            raise FileNotFoundError(f"no lake table at {path}")
        return t

    def exists(self) -> bool:
        return self.version() is not None

    # ------------------------------------------------------------- snapshots

    def version(self) -> int | None:
        d = os.path.join(self.path, _SNAP_DIR)
        if not os.path.isdir(d):
            return None
        versions = [
            int(f[1:-5]) for f in os.listdir(d) if f.startswith("v") and f.endswith(".json")
        ]
        return max(versions) if versions else None

    def snapshot(self, version: int | None = None) -> dict:
        v = self.version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no snapshots in {self.path}")
        with open(os.path.join(self.path, _SNAP_DIR, f"v{v}.json")) as fh:
            return json.load(fh)

    def history(self) -> list[dict]:
        v = self.version()
        out = []
        for i in range(v + 1) if v is not None else []:
            try:
                out.append(self.snapshot(i))
            except FileNotFoundError:  # expired
                continue
        return out

    def schema(self, version: int | None = None) -> StructType:
        return StructType.fromJson(self.snapshot(version)["schema"])

    # -------------------------------------------------------- metadata tables

    def meta_snapshots(self) -> DataFrame:
        """Iceberg's ``table.snapshots`` analog: one row per retained
        snapshot (version, parent, operation, summary JSON, file/row
        counts).  Metadata-sized by construction — built driver-side from
        the manifests via an Arrow-backed createDataFrame, never a data
        scan; at 100 TB this reads kilobytes of JSON, not the table."""
        import pandas as pd

        rows = [
            {
                "version": s["version"],
                "parent": s["parent"],
                "operation": s["operation"],
                "summary": json.dumps(s["summary"], sort_keys=True),
                "n_files": len(s["files"]),
                "n_rows": sum(f.get("rows") or 0 for f in s["files"]),
                "n_buckets": s["n_buckets"],
            }
            for s in self.history()
        ]
        schema = (
            "version long, parent long, operation string, summary string, "
            "n_files long, n_rows long, n_buckets long"
        )
        if not rows:
            return self.spark.range(0).selectExpr(
                "id AS version", "id AS parent", "CAST(NULL AS STRING) AS operation",
                "CAST(NULL AS STRING) AS summary", "id AS n_files",
                "id AS n_rows", "id AS n_buckets",
            )
        pdf = pd.DataFrame(rows, columns=[
            "version", "parent", "operation", "summary",
            "n_files", "n_rows", "n_buckets",
        ])
        return self.spark.createDataFrame(pdf, schema)

    def meta_files(self, version: int | None = None) -> DataFrame:
        """Iceberg's ``table.files`` analog: one row per live data file of a
        snapshot (path, bucket, row count, per-column min/max stats JSON).
        The file-skipping story becomes queryable: ``meta_files`` joined on
        its stats columns is how an operator audits pruning effectiveness
        without opening a single data file."""
        import pandas as pd

        snap = self.snapshot(version)
        rows = [
            {
                "path": f["path"],
                "bucket": f["bucket"],
                "rows": f.get("rows"),
                "stats": json.dumps(f.get("stats"), sort_keys=True)
                if f.get("stats") is not None else None,
            }
            for f in snap["files"]
        ]
        schema = "path string, bucket int, rows long, stats string"
        if not rows:
            return self.spark.range(0).selectExpr(
                "CAST(NULL AS STRING) AS path", "CAST(id AS INT) AS bucket",
                "id AS rows", "CAST(NULL AS STRING) AS stats",
            )
        pdf = pd.DataFrame(rows, columns=["path", "bucket", "rows", "stats"])
        return self.spark.createDataFrame(pdf, schema)

    def _commit_snapshot(
        self, version, schema, files, operation, summary,
        key_cols=None, n_buckets=None, bucket_cols=None, constraints=None,
    ):
        prev = None if version == 0 else self.snapshot(version - 1)
        snap = {
            "version": version,
            "parent": version - 1 if version else None,
            "operation": operation,
            "schema": schema.jsonValue(),
            "files": files,
            "summary": summary or {},
            "key_cols": key_cols if key_cols is not None else prev["key_cols"],
            "n_buckets": n_buckets if n_buckets is not None else prev["n_buckets"],
            "bucket_cols": (
                bucket_cols
                if bucket_cols is not None
                else prev.get("bucket_cols", prev["key_cols"]) if prev else key_cols or []
            ),
            "constraints": (
                constraints
                if constraints is not None
                else (prev.get("constraints", {}) if prev else {})
            ),
        }
        final = os.path.join(self.path, _SNAP_DIR, f"v{version}.json")
        tmp = final + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(snap, fh, indent=1)
        try:
            os.link(tmp, final)  # atomic check-and-put: fails iff version exists
        except FileExistsError as exc:
            raise CommitConflict(f"version {version} already committed") from exc
        finally:
            os.unlink(tmp)

    # ----------------------------------------------------------------- reads

    def read(self, version: int | None = None, buckets: list[int] | None = None) -> DataFrame:
        """Read a snapshot, projected to that snapshot's schema.

        ``buckets``: manifest-level pruning — open only data files whose
        bucket is in the list (the scan analog of Iceberg partition pruning).
        """
        snap = self.snapshot(version)
        schema = StructType.fromJson(snap["schema"])
        files = snap["files"]
        if buckets is not None:
            keep = set(buckets)
            files = [f for f in files if f["bucket"] in keep]
        if not files:
            # JVM-only empty relation: createDataFrame([], schema) builds a
            # python-RDD-backed plan whose every downstream write job pays a
            # measured ~5-8 s python-runner fixed cost in this runtime
            return self.spark.range(0).select(
                *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
            )
        paths = [os.path.join(self.path, f["path"]) for f in files]
        return self.spark.read.schema(schema).parquet(*paths)

    def files_where(
        self, preds: list[tuple], version: int | None = None,
        buckets: list[int] | None = None,
    ) -> list[dict]:
        """Manifest entries whose files MAY contain rows matching ``preds``
        (pure metadata — no Spark job, no file opens).

        ``preds`` is a conjunction of ``(col, op, value)`` triples with op in
        ``= < <= > >= in between`` plus ``(col, "is_null"/"not_null")``.
        Entries without stats for a column are always kept."""
        for _col, op, *_rest in preds:
            if op not in _PRED_OPS:
                raise ValueError(f"unsupported predicate op: {op!r}")
        snap = self.snapshot(version)
        files = snap["files"]
        if buckets is not None:
            keep = set(buckets)
            files = [f for f in files if f["bucket"] in keep]
        return [f for f in files if _may_match(f, preds)]

    def read_where(
        self, preds: list[tuple], version: int | None = None,
        buckets: list[int] | None = None,
    ) -> DataFrame:
        """Stats-pruned scan: open ONLY the files :meth:`files_where` keeps,
        then apply the full predicate conjunction as a residual filter — the
        result is exactly ``read().filter(preds)`` whether or not any file
        carries stats.

        At 100 TB this is manifest-level file skipping (Iceberg
        lower/upper-bound pruning): a selective range predicate touches the
        handful of files whose footer bounds overlap it instead of issuing
        an open/GET per file, and composes with bucket pruning
        (``buckets=``) and the reader's own row-group skipping."""
        snap = self.snapshot(version)
        schema = StructType.fromJson(snap["schema"])
        files = self.files_where(preds, version=version, buckets=buckets)
        residual = _preds_column(preds)
        if not files:
            return self.spark.range(0).select(
                *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
            ).filter(residual)
        paths = [os.path.join(self.path, f["path"]) for f in files]
        return self.spark.read.schema(schema).parquet(*paths).filter(residual)

    def bucket_expr(self, df: DataFrame, n_buckets: int | None = None):
        snap = self.snapshot()
        cols = snap.get("bucket_cols", snap["key_cols"])
        if not cols:
            return F.lit(0)
        n = snap["n_buckets"] if n_buckets is None else n_buckets
        return F.pmod(F.xxhash64(*[F.col(k) for k in cols]), F.lit(n)).cast("int")

    def buckets_for(self, df: DataFrame) -> list[int]:
        """Distinct bucket ids of df's rows (df must carry the bucket
        columns) — the manifest-pruning handle for :meth:`read`."""
        return [r["_b"] for r in df.select(self.bucket_expr(df).alias("_b")).distinct().collect()]

    # ---------------------------------------------------------------- writes

    @staticmethod
    def _align_to(df: DataFrame, schema: StructType) -> DataFrame:
        """Project df to ``schema``: cast present columns, NULL-fill absent."""
        return df.select(
            *[
                F.col(f.name).cast(f.dataType) if f.name in df.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
        )

    def _merged_schema(self, df: DataFrame) -> tuple[StructType, DataFrame]:
        """Union-merge table schema with df's columns (schema evolution)."""
        current = self.schema()
        names = {f.name for f in current.fields}
        merged = StructType(list(current.fields))
        for f in df.schema.fields:
            if f.name not in names:
                merged = merged.add(f)
        return merged, self._align_to(df, merged)

    def _write_data(
        self, df: DataFrame, version: int, salt_n: int = 4,
        write_shuffle: bool = True, n_buckets_override: int | None = None,
    ) -> list[dict]:
        """Write df bucketed by key hash under data/v{version}; return manifest.

        ``write_shuffle=False`` skips the pre-write repartition: callers that
        already laid the rows out by bucket (:meth:`cluster_files`,
        :meth:`compact_files`) write straight from their layout.
        Correctness never depends on the layout (the dynamic-partition
        writer splits by ``_bucket`` regardless); only file counts do."""
        snap = self.snapshot()
        out_dir = os.path.join(self.path, "data", f"v{version}")
        if os.path.exists(out_dir):  # crashed previous attempt for this version
            shutil.rmtree(out_dir)
        bucketed = df.withColumn("_bucket", self.bucket_expr(df, n_buckets_override))
        keys = snap["key_cols"]
        if keys and write_shuffle:
            # fan a hot bucket's write across salt_n tasks, keep bucket files
            # separate (skew salting on the write shuffle); partition count
            # pinned to buckets*salt so small merges don't spray hundreds of
            # near-empty tasks/files through the dynamic-partition writer.
            # The (bucket, salt) composite has only buckets×salt distinct
            # values — routed through balanced_part_col so hash-of-hash
            # birthday collisions can't idle ~1/e of the write tasks.
            # Partition count is capped: the probe table is an n_parts-long
            # literal array in the plan (and an O(n·ln n) driver sweep), so
            # letting it track nb·salt_n unbounded would blow up plan
            # serialization once rebucketing reaches thousands of buckets.
            # Under the cap each write task handles ceil(nb·salt_n/n_parts)
            # composite values — still exactly balanced (residue classes),
            # and the dynamic-partition writer splits files by _bucket
            # regardless, so file layout is unchanged.
            nb = n_buckets_override or snap["n_buckets"]
            salt = F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(salt_n))
            composite = F.col("_bucket") * F.lit(salt_n) + salt
            n_parts = min(nb * salt_n, 4096)
            bucketed = bucketed.repartition(
                n_parts,
                balanced_part_col(composite, nb * salt_n, n_parts),
            )
        elif not keys:
            # key-less (append-only log) tables: single small file, no shuffle
            bucketed = bucketed.coalesce(1)
        bucketed.write.mode("overwrite").partitionBy("_bucket").parquet(out_dir)
        files = []
        for bdir in sorted(os.listdir(out_dir)):
            if not bdir.startswith("_bucket="):
                continue
            b = int(bdir.split("=", 1)[1])
            for part in sorted(os.listdir(os.path.join(out_dir, bdir))):
                if part.endswith(".parquet"):
                    files.append(
                        {"path": os.path.join("data", f"v{version}", bdir, part), "bucket": b}
                    )
        for f in files:  # footer metrics → manifest (Iceberg write metrics)
            rows, stats = _footer_stats(os.path.join(self.path, f["path"]))
            if rows is not None:
                f["rows"] = rows
                if stats:
                    f["stats"] = stats
        return files

    def _check_constraints(self, df: DataFrame) -> None:
        """Raise :class:`ConstraintViolation` if any row fails a CHECK
        expression (strict: NULL fails).  One delta-sized validation job
        per constrained write, run BEFORE any file lands; tables without
        constraints (the CDC hot path) pay nothing."""
        cons = self.snapshot().get("constraints", {})
        if not cons:
            return
        # ONE job for all constraints: OR of the negated checks, with a
        # CASE naming the first failing one in the example row
        checks = {n: F.expr(e).eqNullSafe(F.lit(True)) for n, e in cons.items()}
        any_bad = None
        for ok in checks.values():
            any_bad = ~ok if any_bad is None else any_bad | ~ok
        which = F.coalesce(
            *[F.when(~ok, F.lit(n)) for n, ok in checks.items()]
        )
        row = df.filter(any_bad).withColumn("__violated", which).limit(1).collect()
        if row:
            name = row[0]["__violated"]
            raise ConstraintViolation(
                f"constraint {name!r} ({cons[name]}) violated, e.g. by "
                f"{ {k: v for k, v in row[0].asDict().items() if k != '__violated'} }"
            )

    def add_constraint(self, name: str, expr: str) -> int:
        """ALTER TABLE ADD CONSTRAINT: validate the EXISTING rows, then
        commit a metadata-only snapshot carrying the new CHECK expression
        (files untouched).  Raises :class:`ConstraintViolation` (and
        commits nothing) if current data already violates it."""
        snap = self.snapshot()
        cons = dict(snap.get("constraints", {}))
        cons[name] = expr
        probe = self.read(version=snap["version"]).filter(
            ~F.expr(expr).eqNullSafe(F.lit(True))
        ).limit(1)
        row = probe.collect()
        if row:
            raise ConstraintViolation(
                f"existing rows violate {name!r} ({expr}), e.g. "
                f"{row[0].asDict()}"
            )
        # version pinned BEFORE the (possibly long) validation scan: a
        # concurrent commit in the meantime makes the os.link below raise
        # CommitConflict instead of silently dropping that commit's files
        version = snap["version"] + 1
        self._commit_snapshot(
            version, self.schema(), snap["files"], "add-constraint",
            {"constraint": name},
            key_cols=snap["key_cols"], n_buckets=snap["n_buckets"],
            bucket_cols=snap.get("bucket_cols", snap["key_cols"]),
            constraints=cons,
        )
        return version

    def append(
        self, df: DataFrame, summary: dict[str, Any] | None = None,
        defer_commit: bool = False,
    ):
        """Append df's rows as new data files (no key semantics).

        ``defer_commit=True`` runs the data write now and returns a
        zero-argument commit callable instead of committing — the ingest
        epoch uses it to sequence its accounting appends inside the
        exactly-once commit order while their writes run concurrently with
        the epoch's other writes."""
        version = self.version() + 1
        schema, aligned = self._merged_schema(df)
        self._check_constraints(aligned)
        new_files = self._write_data(aligned, version)
        files = self.snapshot()["files"] + new_files

        def commit() -> int:
            self._commit_snapshot(version, schema, files, "append", summary)
            return version

        return commit if defer_commit else commit()

    def append_arrow(
        self, table, summary: dict[str, Any] | None = None,
        defer_commit: bool = False,
    ):
        """Driver-side append of a METADATA-SIZED pyarrow table: one parquet
        file written directly, no Spark job.  The scale contract is the same
        as every other driver-side step in this engine — rows bounded by
        task/partition counts (ingest accounting rows ≈ one per fold task),
        never data rows.  A tiny accounting append through the Spark writer
        costs two full jobs (agg + dynamic-partition write, ~3 s of epoch
        critical path in this runtime); through pyarrow it is milliseconds.

        The arrow schema must match the table schema exactly (names, order,
        arrow-compatible types) — no evolution on this path — and the table
        must be key-less (append-only accounting) and unconstrained."""
        import pyarrow.parquet as pq

        snap = self.snapshot()
        if snap["key_cols"]:
            raise ValueError("append_arrow is for key-less accounting tables")
        if snap.get("constraints"):
            raise ValueError(
                "append_arrow bypasses constraint validation; use append()"
            )
        expected = [f.name for f in self.schema().fields]
        if list(table.schema.names) != expected:
            raise ValueError(
                f"arrow schema {list(table.schema.names)} != table schema "
                f"{expected}"
            )
        version = snap["version"] + 1
        vdir = os.path.join(self.path, "data", f"v{version}")
        if os.path.exists(vdir):  # crashed previous attempt for this version
            shutil.rmtree(vdir)
        out_dir = os.path.join(vdir, "_bucket=0")
        os.makedirs(out_dir)
        fpath = os.path.join(out_dir, "part-00000-arrow.parquet")
        pq.write_table(table, fpath)
        entry = {
            "path": os.path.join("data", f"v{version}", "_bucket=0",
                                 os.path.basename(fpath)),
            "bucket": 0,
        }
        rows, stats = _footer_stats(fpath)
        if rows is not None:
            entry["rows"] = rows
            if stats:
                entry["stats"] = stats
        files = snap["files"] + [entry]

        def commit() -> int:
            self._commit_snapshot(version, self.schema(), files, "append", summary)
            return version

        return commit if defer_commit else commit()

    def overwrite(self, df: DataFrame, summary: dict[str, Any] | None = None) -> int:
        version = self.version() + 1
        schema, aligned = self._merged_schema(df)
        self._check_constraints(aligned)
        files = self._write_data(aligned, version)
        self._commit_snapshot(version, schema, files, "overwrite", summary)
        return version

    def merge_upsert(
        self,
        source: DataFrame,
        order_col: str | None = None,
        summary: dict[str, Any] | None = None,
        assume_unique: bool = False,
    ) -> int:
        """MERGE INTO … ON key_cols WHEN MATCHED UPDATE * WHEN NOT MATCHED INSERT *.

        Copy-on-write at bucket granularity: only buckets containing source
        keys are rewritten; untouched buckets' files carry over unchanged in
        the new manifest.  Idempotent: re-merging the same source is a no-op
        state-wise (same keys → same rows).
        """
        snap = self.snapshot()
        keys = snap["key_cols"]
        if not keys:
            raise ValueError("merge_upsert requires key_cols")
        version = self.version() + 1
        schema, aligned = self._merged_schema(source)

        if order_col is not None:
            from pyspark.sql import Window

            w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
            aligned = (
                aligned.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        elif not assume_unique:
            # callers whose source is key-unique by construction skip this shuffle
            aligned = aligned.dropDuplicates(keys)

        self._check_constraints(aligned)
        src = aligned.withColumn("_bucket", self.bucket_expr(aligned))
        touched = [r["_bucket"] for r in src.select("_bucket").distinct().collect()]
        current = self._align_to(self.read(buckets=touched), schema)
        kept = current.join(src.select(*keys).distinct(), on=keys, how="left_anti")
        merged = kept.unionByName(src.drop("_bucket"))

        new_files = self._write_data(merged, version)
        touched_set = set(touched)
        files = [f for f in snap["files"] if f["bucket"] not in touched_set] + new_files
        self._commit_snapshot(version, schema, files, "merge", summary)
        return version

    def adopt_merge(
        self,
        new_files: list[tuple[str, int]],
        schema: StructType,
        touched_buckets: list[int],
        summary: dict[str, Any] | None = None,
    ):
        """MERGE commit from EXTERNALLY-written data files.

        The caller guarantees ``new_files`` — ``(abs_path, bucket)`` pairs on
        the same filesystem — hold exactly the post-merge content of the
        touched buckets (upserted source ∪ kept rows).  Files are adopted by
        hard link (no data copy, no Spark job); old files of touched buckets
        drop from the manifest; the returned zero-argument commit callable
        links the snapshot when the caller sequences it.

        This is how the ingest epoch writes ONE combined
        ``partitionBy(kind, bucket)`` job for all its tables instead of one
        write job per table — same snapshot/manifest semantics, one pass
        over the change set.

        ``schema`` is union-merged with the CURRENT table schema at call
        time, so a column introduced by a concurrent earlier epoch is never
        dropped from the table schema.

        Scale note: hard links are the POSIX analog of what object-store
        lakehouses do natively — an Iceberg/Delta manifest references data
        files wherever they were written, no rename/copy required.  On a
        100 TB S3/HDFS deployment this method would simply record the
        staged files' absolute paths in the manifest instead of linking.

        Adopted entries carry no footer column stats (the epoch hot path
        must not pay a per-file metadata read); :meth:`analyze` backfills
        them as maintenance, after which reads prune on them like any
        :meth:`_write_data`-produced file."""
        if self.snapshot().get("constraints"):
            # adopted files never pass through _check_constraints — refusing
            # keeps the "validated before any file lands" contract honest
            # (the CDC tables, the only adopt_merge users, are unconstrained)
            raise ConstraintViolation(
                "adopt_merge bypasses CHECK validation; constrained tables "
                "must use merge_upsert"
            )
        merged = StructType(list(self.schema().fields))
        names = {f.name for f in merged.fields}
        for f in schema.fields:
            if f.name not in names:
                merged = merged.add(f)
        version = self.version() + 1
        dest = os.path.join(self.path, "data", f"v{version}")
        if os.path.exists(dest):  # crashed previous attempt for this version
            shutil.rmtree(dest)
        manifest = []
        for i, (src, b) in enumerate(new_files):
            d = os.path.join(dest, f"_bucket={b}")
            os.makedirs(d, exist_ok=True)
            name = f"part-{i:05d}.parquet"
            os.link(src, os.path.join(d, name))
            manifest.append(
                {"path": os.path.join("data", f"v{version}", f"_bucket={b}", name),
                 "bucket": b}
            )
        touched = set(touched_buckets)
        files = [
            f for f in self.snapshot()["files"] if f["bucket"] not in touched
        ] + manifest

        def commit() -> int:
            self._commit_snapshot(version, merged, files, "merge", summary)
            return version

        return commit

    def delete_where(
        self, condition, summary: dict[str, Any] | None = None
    ) -> int:
        """DELETE FROM … WHERE condition (Iceberg/Delta row-level delete,
        copy-on-write at bucket granularity).

        Rows where ``condition`` evaluates TRUE are removed; FALSE and NULL
        rows are kept (ANSI DELETE semantics).  Only buckets that contain a
        matching row are rewritten — the predicate is pushed into the
        parquet scan for the bucket-discovery pass, so at 100 TB a
        selective delete touches ``matched_buckets/n_buckets`` of the table,
        not all of it.  Untouched buckets' files carry over in the new
        manifest unchanged, which is also what keeps :meth:`changes`'
        manifest-diff pruning exact across deletes.

        ``condition`` is a Column or a SQL predicate string.
        """
        cond = F.expr(condition) if isinstance(condition, str) else condition
        snap = self.snapshot()
        version = self.version() + 1
        matches = self.read().filter(cond)
        touched = self.buckets_for(matches)
        if not touched:  # no-op delete still commits (audit + version fence)
            self._commit_snapshot(
                version, self.schema(), snap["files"], "delete", summary
            )
            return version
        kept = self.read(buckets=touched).filter(
            ~F.coalesce(cond.cast("boolean"), F.lit(False))
        )
        new_files = self._write_data(self._align_to(kept, self.schema()), version)
        touched_set = set(touched)
        files = [
            f for f in snap["files"] if f["bucket"] not in touched_set
        ] + new_files
        self._commit_snapshot(version, self.schema(), files, "delete", summary)
        return version

    # ------------------------------------------------------ change data feed

    def _changed_buckets(self, old: dict, new: dict) -> list[int] | None:
        """Buckets whose data-file sets differ between two snapshots, or
        None when bucket identity is incomparable (layout changed).

        Sound because every write path is copy-on-write at bucket
        granularity: a bucket whose manifest entries are identical carries
        the exact same immutable files, hence identical rows."""
        if (
            old["n_buckets"] != new["n_buckets"]
            or old.get("bucket_cols", old["key_cols"])
            != new.get("bucket_cols", new["key_cols"])
        ):
            return None
        by_old: dict[int, set[str]] = {}
        by_new: dict[int, set[str]] = {}
        for f in old["files"]:
            by_old.setdefault(f["bucket"], set()).add(f["path"])
        for f in new["files"]:
            by_new.setdefault(f["bucket"], set()).add(f["path"])
        return [
            b
            for b in sorted(set(by_old) | set(by_new))
            if by_old.get(b, set()) != by_new.get(b, set())
        ]

    def changes(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Change data feed between two snapshots (Delta CDF /
        ``table_changes`` analog): one row per changed key with
        ``_change_type`` ∈ insert / delete / update_preimage /
        update_postimage, in the ``to`` snapshot's schema.

        Plan shape: ONE null-safe full-outer join on ``key_cols`` over only
        the buckets whose manifest file sets differ between the snapshots
        (:meth:`_changed_buckets` — a pure metadata diff, no Spark job).
        At 100 TB an epoch that touched k of n buckets diffs ``k/n`` of the
        table; the join shuffles on the same key hash the layout buckets
        by.  A rebucket between the versions voids bucket identity — the
        diff falls back to a full read and stays correct.

        Requires ``key_cols`` (row identity).  Unchanged rows produce no
        output; updates emit pre- and post-image rows like Delta CDF."""
        to_version = self.version() if to_version is None else to_version
        if from_version > to_version:
            raise ValueError(
                f"from_version {from_version} > to_version {to_version}"
            )
        old_snap, new_snap = self.snapshot(from_version), self.snapshot(to_version)
        keys = new_snap["key_cols"]
        if not keys:
            raise ValueError(
                "changes() requires key_cols; use read_appended for "
                "append-only log tables"
            )
        schema = StructType.fromJson(new_snap["schema"])
        buckets = self._changed_buckets(old_snap, new_snap)
        old = self._align_to(self.read(from_version, buckets=buckets), schema)
        new = self.read(to_version, buckets=buckets)
        nonkey = [f.name for f in schema.fields if f.name not in keys]
        img = (lambda df: F.struct(*[df[c] for c in nonkey])) if nonkey else (
            lambda df: F.struct(F.lit(0).alias("_dummy"))
        )
        o = old.select(*keys, img(old).alias("_o"), F.lit(True).alias("_po"))
        n = new.select(*keys, img(new).alias("_n"), F.lit(True).alias("_pn"))
        j = o.join(n, on=keys, how="full_outer")

        def ev(kind: str, image):
            return F.struct(F.lit(kind).alias("t"), image.alias("img"))

        # unchanged rows fall through to the implicit NULL, which explode
        # drops — no per-row filter needed
        events = (
            F.when(F.col("_po").isNull(), F.array(ev("insert", F.col("_n"))))
            .when(F.col("_pn").isNull(), F.array(ev("delete", F.col("_o"))))
            .when(
                ~F.col("_o").eqNullSafe(F.col("_n")),
                F.array(
                    ev("update_preimage", F.col("_o")),
                    ev("update_postimage", F.col("_n")),
                ),
            )
        )
        out = j.select(*keys, F.explode(events).alias("_e"))
        return out.select(
            *keys,
            *[F.col(f"_e.img.{c}").alias(c) for c in nonkey],
            F.col("_e.t").alias("_change_type"),
        )

    def read_appended(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Rows added between two snapshots of an append-only table, read
        from ONLY the data files the later manifests introduce (a pure
        metadata diff — the incremental-consumption primitive for the
        commit-log/metrics tables, and what a streaming sink tails).

        Raises if any intermediate snapshot's operation rewrites rows
        (merge/delete/overwrite/rebucket) — appended files are only "the
        delta" under append-only history; keyed tables use :meth:`changes`."""
        to_version = self.version() if to_version is None else to_version
        if from_version > to_version:
            raise ValueError(
                f"from_version {from_version} > to_version {to_version}"
            )
        for v in range(from_version + 1, to_version + 1):
            op = self.snapshot(v)["operation"]
            if op not in ("append", "create", "delete", "analyze"):
                raise ValueError(
                    f"read_appended over non-append history (v{v}: {op})"
                )
            if op in ("delete", "analyze"):
                # a no-op delete / stats backfill keeps the exact same data
                # files; anything that rewrites them breaks the contract
                if {f["path"] for f in self.snapshot(v)["files"]} != {
                    f["path"] for f in self.snapshot(v - 1)["files"]
                }:
                    raise ValueError(
                        f"read_appended over non-append history (v{v}: {op})"
                    )
        new_snap = self.snapshot(to_version)
        old_paths = {f["path"] for f in self.snapshot(from_version)["files"]}
        schema = StructType.fromJson(new_snap["schema"])
        fresh = [f for f in new_snap["files"] if f["path"] not in old_paths]
        if not fresh:
            return self.spark.range(0).select(
                *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
            )
        return self.spark.read.schema(schema).parquet(
            *[os.path.join(self.path, f["path"]) for f in fresh]
        )

    def stream_read(self) -> DataFrame:
        """Structured-Streaming source over an append-only lake table.

        Spark's file-stream source tails ``data/*/_bucket=*/*.parquet``;
        append-only history never rewrites or relocates a data file, so
        each file is picked up exactly once → exactly-once rows with a
        checkpointed ``writeStream``.  (Keyed/COW tables rewrite whole
        buckets on merge, which a file source would double-count — use
        :meth:`changes` batch-incrementally for those.)"""
        return (
            self.spark.readStream.schema(self.schema())
            .option("pathGlobFilter", "*.parquet")
            .parquet(os.path.join(self.path, "data", "*", "_bucket=*"))
        )

    # ---------------------------------------------------------- maintenance

    def rebucket(self, n_buckets: int, summary: dict[str, Any] | None = None) -> int:
        """Rewrite the table with a new bucket count (layout-only — row
        content and digests are unchanged).

        This is the scale lever for COW write amplification: with a fixed
        bucket count, every MERGE rewrites ≥1/n_buckets of the table no
        matter how small the delta, so bucket count must grow with the
        table.  The engine doubles it whenever mean bucket size crosses a
        target (see ``CdcEngine.maybe_rebucket``); a production deployment
        would do the same from a table-maintenance job, exactly like
        Iceberg's rewrite_data_files."""
        snap = self.snapshot()
        if n_buckets == snap["n_buckets"]:
            return self.version()
        version = self.version() + 1
        # ATOMIC: the data files are rewritten under the NEW layout first,
        # and the new bucket count + new file list land in ONE snapshot
        # commit.  A crash before the commit leaves only orphan files under
        # data/v{version} (cleaned by the retry's _write_data rmtree or by
        # expire_snapshots); at no point does a committed snapshot pair the
        # new n_buckets with files tagged under the old one — a reader's
        # bucket-pruned scan can never silently drop keys mid-rebucket.
        new_files = self._write_data(
            self._align_to(self.read(), self.schema()), version,
            n_buckets_override=n_buckets,
        )
        self._commit_snapshot(
            version, self.schema(), new_files, "rebucket",
            {**(summary or {}), "n_buckets": n_buckets},
            key_cols=snap["key_cols"], n_buckets=n_buckets,
            bucket_cols=snap.get("bucket_cols", snap["key_cols"]),
        )
        return version

    def rollback_to(self, version: int, summary: dict[str, Any] | None = None) -> int:
        """Iceberg-style rollback: commit a NEW snapshot whose content
        (file list, schema, bucket layout) is that of an earlier version.

        Nothing is copied or rewritten — data files are shared with the old
        snapshot, and history is preserved (the bad commits stay auditable;
        ``changes()`` across the rollback yields the compensating events).
        Raises ``FileNotFoundError`` if the target snapshot has been
        expired, ``CommitConflict`` if a concurrent writer wins the next
        version — the standard optimistic-commit rules."""
        old = self.snapshot(version)
        cur = self.version()
        if cur is None:
            raise FileNotFoundError("cannot roll back an empty table")
        if version == cur:
            return cur
        new_v = cur + 1
        self._commit_snapshot(
            new_v,
            StructType.fromJson(old["schema"]),
            old["files"],
            "rollback",
            {**(summary or {}), "rollback_of": version},
            key_cols=old["key_cols"],
            n_buckets=old["n_buckets"],
            bucket_cols=old.get("bucket_cols", old["key_cols"]),
            # metadata reverts WITH the data: inheriting the head's
            # constraints could record a CHECK the restored rows were
            # never validated against
            constraints=old.get("constraints", {}),
        )
        return new_v

    def cluster_files(
        self,
        sort_cols: list[str],
        files_per_bucket: int = 4,
        summary: dict[str, Any] | None = None,
        zorder: bool = False,
        z_bits: int = 16,
    ) -> int:
        """Rewrite the table's data files range-clustered by ``sort_cols``
        within each bucket (Iceberg ``rewrite_data_files`` with a sort
        strategy / Delta OPTIMIZE ZORDER, for the 1-D case).

        Row content, bucket layout and digests are unchanged — only WHERE
        rows sit.  After clustering, each bucket's files hold disjoint
        ``sort_cols`` ranges, so the manifest's min/max bounds turn range
        predicates on those columns into file skips (:meth:`files_where`),
        and within a file the sorted pages tighten row-group pruning.  The
        write is ``repartitionByRange(bucket, sort_cols)`` +
        ``sortWithinPartitions`` feeding the dynamic-partition writer — the
        range exchange is the only shuffle.  Layout-only like
        :meth:`rebucket`: one atomic snapshot commit, crash leaves only
        orphan files under the new version dir.

        ``zorder=True`` (exactly two integer sort columns) clusters along
        the Morton curve instead of lexicographically — the Delta
        ``OPTIMIZE ZORDER`` analog: each file then holds a narrow range of
        BOTH columns, so the manifest's per-column min/max bounds prune
        files for predicates on either dimension, where a lexicographic
        sort only serves the leading column.  The z value orders the
        write; it is never stored."""
        snap = self.snapshot()
        version = self.version() + 1
        df = self._align_to(self.read(), self.schema())
        bucketed = df.withColumn("_bucket", self.bucket_expr(df))
        n_parts = max(1, snap["n_buckets"] * files_per_bucket)
        if zorder:
            if len(sort_cols) != 2:
                raise ValueError("zorder clustering takes exactly 2 columns")
            c0, c1 = sort_cols
            # auto-quantize wide domains: zvalue_col masks to z_bits low
            # bits, so a column wider than 2^z_bits (epoch seconds, byte
            # sizes) would otherwise interleave only its noise bits and
            # cluster WORSE than a plain sort.  Right-shifting to fit keeps
            # the curve's locality at coarser granularity.  One tiny agg
            # job against a rewrite that reads everything anyway.
            b = df.agg(
                F.min(c0), F.max(c0), F.min(c1), F.max(c1)
            ).collect()[0]
            if (b[0] is not None and b[0] < 0) or (b[2] is not None and b[2] < 0):
                raise ValueError("zorder columns must be non-negative")
            # normalize to the RANGE, not the magnitude: epoch-second
            # columns have a huge constant offset but a modest span —
            # shifting by magnitude would collapse the whole span to one
            # quantum.  z is computed over (col - min) >> shift.
            mins = [int(b[0] or 0), int(b[2] or 0)]
            shifts = [
                max(0, int((b[i] or 0) - mins[j]).bit_length() - z_bits)
                for j, i in enumerate((1, 3))
            ]
            z = zvalue_col(
                F.shiftright(F.col(c0).cast("long") - F.lit(mins[0]), shifts[0]),
                F.shiftright(F.col(c1).cast("long") - F.lit(mins[1]), shifts[1]),
                z_bits,
            )
            laid = (
                bucketed.withColumn("_z", z)
                .repartitionByRange(n_parts, F.col("_bucket"), F.col("_z"))
                .sortWithinPartitions("_bucket", "_z")
                .drop("_z")  # projection after the sort: order survives
            )
        else:
            laid = bucketed.repartitionByRange(
                n_parts, F.col("_bucket"), *[F.col(c) for c in sort_cols]
            ).sortWithinPartitions("_bucket", *sort_cols)
        new_files = self._write_data(laid, version, write_shuffle=False)
        self._commit_snapshot(
            version, self.schema(), new_files, "cluster",
            {
                **(summary or {}),
                "cluster_by": list(sort_cols),
                **({"zorder": True, "z_shifts": shifts} if zorder else {}),
            },
            key_cols=snap["key_cols"], n_buckets=snap["n_buckets"],
            bucket_cols=snap.get("bucket_cols", snap["key_cols"]),
        )
        return version

    def compact_files(
        self,
        max_files_per_bucket: int = 8,  # one default, shared with maintain()
        summary: dict[str, Any] | None = None,
    ) -> int:
        """Binpack small-file compaction (Iceberg ``rewrite_data_files``
        binpack strategy / Delta ``OPTIMIZE``): rewrite ONLY buckets whose
        manifest lists more than ``max_files_per_bucket`` data files,
        coalescing each into a single file; every other bucket's files carry
        over by manifest pointer, untouched on disk.

        This is the O(fragmented) counterpart of :meth:`cluster_files`'s
        full rewrite — at 100 TB a steady drip of small appends/merges
        fragments a few hot buckets while the cold majority stays compact,
        and the maintenance pass must scale with the damage, not the table.
        Row content, bucket layout and digests are unchanged (layout-only
        snapshot); a no-op (nothing fragmented) commits nothing and returns
        the current version.
        """
        if max_files_per_bucket < 1:
            # 0 would mark EVERY non-empty bucket fragmented — a full-table
            # rewrite nobody asks for by that spelling; "off" is the
            # caller's job (maintain()/CLI pass None / omit the call)
            raise ValueError("max_files_per_bucket must be >= 1")
        snap = self.snapshot()
        version = self.version() + 1
        per_bucket: dict[int, int] = {}
        for f in snap["files"]:
            per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
        fragmented = sorted(
            b for b, n in per_bucket.items() if n > max_files_per_bucket
        )
        if not fragmented:
            return self.version()
        df = self._align_to(self.read(buckets=fragmented), self.schema())
        # One write task per fragmented bucket (collisions under the balanced
        # partitioner only co-locate two buckets in one task — the dynamic-
        # partition writer still emits exactly one file per bucket).
        laid = df.withColumn("_bucket", self.bucket_expr(df)).repartition(
            len(fragmented),
            balanced_part_col(F.col("_bucket"), snap["n_buckets"], len(fragmented)),
        )
        new_files = self._write_data(laid, version, write_shuffle=False)
        frag_set = set(fragmented)
        files = [f for f in snap["files"] if f["bucket"] not in frag_set] + new_files
        self._commit_snapshot(
            version, self.schema(), files, "compact",
            {**(summary or {}), "compacted_buckets": fragmented},
            key_cols=snap["key_cols"], n_buckets=snap["n_buckets"],
            bucket_cols=snap.get("bucket_cols", snap["key_cols"]),
        )
        return version

    def analyze(
        self,
        summary: dict[str, Any] | None = None,
        bloom_cols: list[str] | None = None,
        bloom_bits: int = _BLOOM_BITS,
        bloom_k: int = _BLOOM_K,
    ) -> int:
        """Backfill footer column stats for manifest entries that lack them
        (the Iceberg compute-table-stats / rewrite-manifests analog).

        Adopted data files (:meth:`adopt_merge`) enter the manifest without
        stats to keep the ingest hot path free of per-epoch footer reads;
        this maintenance step harvests them amortized (a metadata-only read
        per missing file, no Spark job) and commits an ``analyze`` snapshot
        with the SAME data files — row content is untouched, so
        :meth:`changes` sees an empty diff and :meth:`read_appended`
        treats it as a no-op.  No-op (no version bump) when every entry
        already has stats.

        ``bloom_cols`` additionally builds per-file bloom filters for those
        columns on entries that lack them (one column read per file via
        pyarrow — a data read, which is why blooms are opt-in maintenance
        rather than part of the write path).  Point lookups in
        :meth:`files_where` / :meth:`read_where` then skip files whose
        bloom proves the key absent — the pruning min/max bounds cannot do
        when every file spans the full range of a hash-shaped key."""
        snap = self.snapshot()
        entries = [dict(f) for f in snap["files"]]
        changed = False
        for f in entries:
            if "stats" in f or "rows" in f:
                continue
            rows, stats = _footer_stats(os.path.join(self.path, f["path"]))
            if rows is None:
                continue
            f["rows"] = rows
            if stats:
                f["stats"] = stats
            changed = True
        for col in bloom_cols or []:
            import pyarrow.parquet as pq

            for f in entries:
                have = f.get("blooms") or {}
                if col in have:
                    continue
                try:
                    tbl = pq.read_table(
                        os.path.join(self.path, f["path"]), columns=[col]
                    )
                    values = tbl.column(col).to_pylist()
                except Exception:
                    continue  # column absent (schema evolution) → no bloom
                f["blooms"] = {
                    **have,
                    col: _bloom_build(values, bloom_bits, bloom_k),
                }
                changed = True
        if not changed:
            return self.version()
        version = self.version() + 1
        self._commit_snapshot(
            version, self.schema(), entries, "analyze",
            {**(summary or {}), "reason": "stats-backfill"},
        )
        return version

    def bucket_stats(self) -> dict[int, int]:
        """bucket → total file bytes of the current snapshot (manifest-only,
        no Spark job)."""
        sizes: dict[int, int] = {}
        for f in self.snapshot()["files"]:
            full = os.path.join(self.path, f["path"])
            try:
                sizes[f["bucket"]] = sizes.get(f["bucket"], 0) + os.path.getsize(full)
            except OSError:
                continue
        return sizes

    def expire_snapshots(self, keep_last: int = 2) -> int:
        """Iceberg-style snapshot expiration: drop snapshot metadata older
        than the last ``keep_last`` versions and delete data files no
        retained snapshot references.  Returns #files deleted.

        At scale this is the compaction/GC lever that keeps the COW MERGE's
        storage amplification bounded."""
        v = self.version()
        if v is None or keep_last < 1:
            return 0
        cutoff = max(0, v - keep_last + 1)
        keep_files: set[str] = set()
        for i in range(cutoff, v + 1):
            keep_files |= {f["path"] for f in self.snapshot(i)["files"]}
        deleted = 0
        data_root = os.path.join(self.path, "data")
        if os.path.isdir(data_root):
            for root, _dirs, files in os.walk(data_root):
                for f in files:
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, self.path)
                    if f.endswith(".parquet") and rel not in keep_files:
                        os.unlink(full)
                        deleted += 1
        for i in range(cutoff):
            p = os.path.join(self.path, _SNAP_DIR, f"v{i}.json")
            if os.path.exists(p):
                os.unlink(p)
        return deleted

    # ------------------------------------------------------------- summaries

    def latest_summary_value(self, key: str) -> Any:
        """Scan history newest-first for a summary key (e.g. committed epoch)."""
        v = self.version()
        while v is not None and v >= 0:
            try:
                s = self.snapshot(v)["summary"]
            except FileNotFoundError:  # expired
                break
            if key in s:
                return s[key]
            v -= 1
        return None

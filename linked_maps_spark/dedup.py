"""Deduplication operators for training-data pipelines (SURVEY task brief):
exact, n-gram Jaccard, MinHash+LSH, SimHash.

All hashing is **portable**: ``h32(s) = uint(first 8 hex chars of md5(s))``
computes identically in Spark (``conv(substr(md5(s),1,8),16,10)``) and DuckDB
(``('0x'||substr(md5(s),1,8))::UBIGINT``), so MinHash signatures — normally
"not SQL-expressible" — get full value-level oracles.

Each Spark expression the oracles pin has exactly ONE Spark definition, as
Spark-SQL text: :func:`h32_expr`, :func:`tokens_expr` and
:func:`word_shingles_expr` here, ``similarity._dot_expr`` and
``similarity._as_double_expr`` for vectors.  Every Spark call site (dedup,
textops, sampling, text_index, similarity, vec_index) hands that text to
``F.expr``/``selectExpr``; where a helper sits inside a higher-order
function the whole function, lambda included, is written as one string.
The ``*_sql`` builders are the DuckDB oracle text and stay frozen.

Scale notes (100 TB): every op is shuffle-on-key only; candidate generation
is equi-join on shingle/band/bucket keys (never a cross join); shingle
explosion is bounded by ``distinct`` before the join; banding keeps the join
fan-out at O(docs × bands).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# MinHash parameters (shared constants between Spark impl and SQL oracle)
MINHASH_PERMS = 8
LSH_BANDS = 4  # rows per band = MINHASH_PERMS // LSH_BANDS = 2
SHINGLE_WORDS = 3
# Document-frequency ceiling on join keys (shingles / LSH buckets): one
# stop-shingle shared by 10^6 docs would emit 10^12 candidate pairs at
# 100 TB.  Keys above the ceiling are dropped *identically* on the Spark and
# DuckDB sides, so oracles stay value-exact; at test scale no key comes close.
MAX_KEY_DF = 1000


def h32_sql(expr: str, salt: str = "") -> str:
    inner = f"concat('{salt}', ':', {expr})" if salt else expr
    return f"CAST(('0x' || substr(md5({inner}), 1, 8)) AS UBIGINT)::BIGINT"


def h32_expr(expr: str, salt: str = "") -> str:
    """The one Spark definition of the portable 32-bit hash (first 8 hex
    digits of md5, as bigint), as Spark-SQL text over the SQL expression
    ``expr``: every Spark call site hands it to ``F.expr``/``selectExpr``,
    which parses it JVM-side in ONE py4j round trip.  ``salt`` must be
    quote-free (call sites pass short fixed names or digits).  See the
    plan-construction note in OPTIMIZATION_r06.md: per-call py4j latency on
    a contended host reaches ~20 ms, so query constructors hand the JVM one
    SQL string per column."""
    inner = f"concat('{salt}', ':', {expr})" if salt else expr
    return f"cast(conv(substring(md5({inner}), 1, 8), 16, 10) as bigint)"


# Java's \s is exactly these six characters.  Spelled as literal characters
# (no backslash) the SQL string literal parses to the same regex whatever
# spark.sql.parser.escapedStringLiterals says.
_WS_RUN = "[ \t\n\x0b\f\r]+"


def tokens_expr(expr: str) -> str:
    """Spark-SQL text of whitespace tokenization, identical to DuckDB's
    ``string_split_regex(trim(lower(x)), '\\s+')``."""
    return f"split(trim(lower({expr})), '{_WS_RUN}')"


def word_shingles_expr(expr: str, k: int = SHINGLE_WORDS) -> str:
    """Spark-SQL text of the distinct word k-grams of a text expression
    (array<string>).  The lambda variable is underscored so it cannot
    shadow a column that ``expr`` names."""
    toks = tokens_expr(expr)
    return (
        f"array_distinct(transform(sequence(0, greatest(size({toks}) - {k}, 0)), "
        f"_i -> concat_ws(' ', slice({toks}, _i + 1, {k}))))"
    )


def word_shingles_sql(expr: str, k: int = SHINGLE_WORDS) -> str:
    """DuckDB equivalent of :func:`word_shingles_expr` (1-based list slicing)."""
    toks = f"string_split_regex(trim(lower({expr})), '\\s+')"
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(len({toks}) - {k - 1}, 1) + 1), "
        f"i -> array_to_string(({toks})[i:i+{k - 1}], ' ')))"
    )


# ------------------------------------------------------------- exact dedup

def dedup_exact(documents: DataFrame) -> DataFrame:
    """Exact dedup by content hash: groups of byte-identical texts.

    Plan: single hash-shuffle on md5(text) with map-side partial agg."""
    return (
        documents.groupBy(F.md5("text").alias("content_md5"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
        .orderBy("keeper_doc_id")
    )


DEDUP_EXACT_SQL = """
    SELECT md5(text) AS content_md5,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    HAVING COUNT(*) > 1
    ORDER BY keeper_doc_id
"""


# ------------------------------------------------------ n-gram Jaccard dedup

def dedup_ngram_jaccard(
    documents: DataFrame, threshold: float = 0.5, max_df: int = MAX_KEY_DF
) -> DataFrame:
    """Near-dup pairs by word-shingle Jaccard.

    Candidates come from an equi-join on shared shingles (inverted index),
    never a cross join; |A∩B| falls out of the join group count and
    |A∪B| = |A|+|B|−|A∩B|.  Jaccard is exact integer arithmetic divided
    once at the end → bit-identical to the SQL oracle.

    ``max_df`` is the stop-shingle ceiling: shingles appearing in more than
    ``max_df`` docs are removed from the shingle *sets* (sizes and
    intersections alike, mirrored in the SQL oracle) before the self-join —
    without it one ubiquitous shingle quadratically explodes the candidate
    pairs at scale."""
    from .util import spread

    # the exploded shingle table feeds the df-filter, sizes and the
    # self-join/verify legs — persist it once (named slot, see
    # _cached_plan) instead of re-running the scan+explode per leg
    sh = _cached_plan(
        "shingles",
        spread(documents, "doc_id").select(
            "doc_id", F.expr(f"explode({word_shingles_expr('text')}) AS shingle")
        ),
    )
    rare = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
        .select("shingle")
    )
    sh = sh.join(rare, "shingle", "left_semi")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def _jaccard_pairs_ctes(threshold: float, max_df: int) -> str:
    """Shared CTE chain ending in ``pairs(doc_a, doc_b, jaccard)`` — used by
    both :func:`dedup_ngram_jaccard_sql` and :func:`dedup_clusters_sql`."""
    sh_expr = word_shingles_sql("text")
    return f"""sh_all AS (
        SELECT doc_id, UNNEST({sh_expr}) AS shingle FROM documents
    ),
    rare AS (
        SELECT shingle FROM sh_all GROUP BY shingle HAVING COUNT(*) <= {max_df}
    ),
    sh AS (SELECT s.* FROM sh_all s JOIN rare r USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
        SELECT i.doc_a, i.doc_b,
               ROUND(i.n_inter / (sa.sz + sb.sz - i.n_inter), 6) AS jaccard
        FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
                     JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE ROUND(i.n_inter / (sa.sz + sb.sz - i.n_inter), 6) >= {threshold}
    )"""


def dedup_ngram_jaccard_sql(threshold: float = 0.5, max_df: int = MAX_KEY_DF) -> str:
    return f"""
    WITH {_jaccard_pairs_ctes(threshold, max_df)}
    SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b
    """


# --------------------------------------------- near-dup cluster assignment

def connected_components(pairs: DataFrame, max_iters: int = 30) -> DataFrame:
    """Connected components of the duplicate-pair graph: every document that
    appears in a pair gets ``cluster_id`` = the minimum doc_id reachable
    through pairs (the canonical "keep one doc per near-dup cluster" step a
    dedup pipeline runs after pair generation — pairs alone under-delete:
    A~B and B~C must collapse to ONE keeper even when A~C was never emitted).

    Distributed iterative plan (no driver-side graph): min-label propagation
    over the symmetrized edge list **plus pointer jumping** (each round also
    adopts ``label(label(v))``), so a chain of length d converges in
    O(log d) rounds instead of O(d).  Per round: two equi-joins + one
    min-aggregate, all shuffles on doc_id; the label table is bounded by the
    number of *paired* docs (≪ corpus at 100 TB).  ``localCheckpoint`` per
    round truncates the growing lineage (a real cluster would use a
    checkpoint dir / table); the convergence probe is a metadata-sized
    ``limit(1).count``.

    Returns (doc_id, cluster_id, cluster_size) for docs with ≥ 1 pair."""
    # symmetrize with ONE explode, not a two-branch union: the pair plan
    # (shingle explode + inverted-index self-join) is the expensive part
    # and a union would evaluate it once per branch
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                    ),
                    F.struct(
                        F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint()
    )
    for _ in range(max_iters):
        prop = edges.join(
            labels.withColumnRenamed("doc_id", "src"), "src"
        ).select(F.col("dst").alias("doc_id"), "label")
        lft, mid = labels.alias("lft"), labels.alias("mid")
        jump = lft.join(mid, F.col("lft.label") == F.col("mid.doc_id")).select(
            F.col("lft.doc_id").alias("doc_id"), F.col("mid.label").alias("label")
        )
        new = (
            labels.unionByName(prop)
            .unionByName(jump)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        changed = (
            new.join(labels.withColumnRenamed("label", "old"), "doc_id")
            .filter(F.col("label") != F.col("old"))
            .limit(1)
            .count()
        )
        labels = new
        if changed == 0:
            break
    edges.unpersist(blocking=False)
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        F.count(F.lit(1))
        .over(Window.partitionBy("label"))
        .alias("cluster_size"),
    ).orderBy("doc_id")


def dedup_clusters(
    documents: DataFrame, threshold: float = 0.5, max_df: int = MAX_KEY_DF
) -> DataFrame:
    """Near-dup clusters over the word-shingle Jaccard pair graph:
    :func:`dedup_ngram_jaccard` pairs → :func:`connected_components`."""
    return connected_components(dedup_ngram_jaccard(documents, threshold, max_df))


# shared transitive-closure CTE chain (edges symmetrize → recursive reach →
# min-label): ONE definition so the clusters and apply oracles cannot drift
_CLOSURE_CTES = """
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach AS (
        SELECT src AS doc_id, src AS r FROM edges
        UNION
        SELECT reach.doc_id, e.dst AS r FROM reach JOIN edges e ON e.src = reach.r
    ),
    lab AS (SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id)
"""


def dedup_clusters_sql(threshold: float = 0.5, max_df: int = MAX_KEY_DF) -> str:
    """DuckDB oracle for :func:`dedup_clusters`: the same pair CTEs, then the
    transitive closure as a recursive CTE (min reachable id per node)."""
    return f"""
    WITH RECURSIVE {_jaccard_pairs_ctes(threshold, max_df)},
    {_CLOSURE_CTES}
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM lab
    ORDER BY doc_id
    """


def dedup_apply(
    documents: DataFrame, threshold: float = 0.5, max_df: int = MAX_KEY_DF
) -> DataFrame:
    """The keeper-selection APPLY step of near-dup removal: within every
    :func:`dedup_clusters` cluster keep exactly one document (the minimum
    doc_id — which IS the cluster label, so no second aggregation is
    needed) and emit each dropped document with its keeper.  The kept
    corpus is ``documents`` anti-joined on this result; emitting the drop
    list keeps the operator's output verifiable row-for-row."""
    labs = dedup_clusters(documents, threshold, max_df)
    return (
        labs.filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id", F.col("cluster_id").alias("keeper_id"))
        .orderBy("doc_id")
    )


def dedup_apply_sql(threshold: float = 0.5, max_df: int = MAX_KEY_DF) -> str:
    return f"""
    WITH RECURSIVE {_jaccard_pairs_ctes(threshold, max_df)},
    {_CLOSURE_CTES}
    SELECT doc_id, cluster_id AS keeper_id
    FROM lab WHERE doc_id <> cluster_id
    ORDER BY doc_id
    """


def decontaminate(
    documents: DataFrame,
    benchmark: DataFrame,
    min_overlap: int = 2,
    max_df: int = MAX_KEY_DF,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing ≥
    ``min_overlap`` distinct word shingles with any benchmark document —
    the standard eval-leakage sweep a training corpus runs before use.

    Same inverted-index shape as :func:`dedup_ngram_jaccard` — candidates
    come from a shingle equi-join, never a cross join, and each side drops
    its own shingles with document frequency > ``max_df`` (a ubiquitous
    shingle on both sides would otherwise make the join quadratic at
    scale; mirrored in the SQL oracle).  Per contaminated doc: how many
    benchmark docs it hits, the worst-hit benchmark doc (ties break to the
    smallest id), and the fraction of that benchmark doc's shingles
    covered (the decontamination decision variable)."""
    from .util import spread

    shingle = F.expr(f"explode({word_shingles_expr('text')}) AS shingle")
    corp = spread(documents, "doc_id").select("doc_id", shingle)
    ben = benchmark.select(F.col("doc_id").alias("bench_id"), shingle)
    corp_rare = (
        corp.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
        .select("shingle")
    )
    ben_rare = (
        ben.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
        .select("shingle")
    )
    corp = corp.join(corp_rare, "shingle", "left_semi")
    ben = ben.join(ben_rare, "shingle", "left_semi")
    bsz = ben.groupBy("bench_id").agg(F.count(F.lit(1)).alias("bench_sz"))
    ov = (
        corp.join(ben, "shingle")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )
    win = Window.partitionBy("doc_id").orderBy(
        F.desc("n_overlap"), F.asc("bench_id")
    )
    hits = ov.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_bench_hits"))
    top = (
        ov.withColumn("rn", F.row_number().over(win))
        .filter("rn = 1")
        .select("doc_id", F.col("bench_id").alias("top_bench_id"), "n_overlap")
    )
    return (
        hits.join(top, "doc_id")
        .join(bsz, top.top_bench_id == bsz.bench_id)
        .select(
            "doc_id",
            "n_bench_hits",
            "top_bench_id",
            "n_overlap",
            F.round(F.col("n_overlap") / F.col("bench_sz"), 6).alias("overlap_frac"),
        )
        .orderBy("doc_id")
    )


def decontaminate_sql(
    corpus_pred: str = "doc_id % 17 != 0",
    bench_pred: str = "doc_id % 17 = 0",
    min_overlap: int = 2,
    max_df: int = MAX_KEY_DF,
) -> str:
    sh_expr = word_shingles_sql("text")
    return f"""
    WITH sh AS (SELECT doc_id, UNNEST({sh_expr}) AS shingle FROM documents),
    corp_all AS (SELECT * FROM sh WHERE {corpus_pred}),
    ben_all AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE {bench_pred}),
    corp_rare AS (SELECT shingle FROM corp_all GROUP BY shingle
                  HAVING COUNT(*) <= {max_df}),
    ben_rare AS (SELECT shingle FROM ben_all GROUP BY shingle
                 HAVING COUNT(*) <= {max_df}),
    corp AS (SELECT c.* FROM corp_all c JOIN corp_rare USING (shingle)),
    ben AS (SELECT b.* FROM ben_all b JOIN ben_rare USING (shingle)),
    bsz AS (SELECT bench_id, COUNT(*) AS bench_sz FROM ben GROUP BY bench_id),
    ov AS (SELECT c.doc_id, b.bench_id, COUNT(*) AS n_overlap
           FROM corp c JOIN ben b USING (shingle)
           GROUP BY 1, 2 HAVING COUNT(*) >= {min_overlap}),
    hits AS (SELECT doc_id, COUNT(*) AS n_bench_hits FROM ov GROUP BY doc_id),
    top AS (SELECT doc_id, bench_id AS top_bench_id, n_overlap FROM (
                SELECT doc_id, bench_id, n_overlap,
                       row_number() OVER (PARTITION BY doc_id
                           ORDER BY n_overlap DESC, bench_id) AS rn
                FROM ov) WHERE rn = 1)
    SELECT h.doc_id,
           CAST(h.n_bench_hits AS BIGINT) AS n_bench_hits,
           t.top_bench_id,
           CAST(t.n_overlap AS BIGINT) AS n_overlap,
           ROUND(t.n_overlap / b.bench_sz, 6) AS overlap_frac
    FROM hits h JOIN top t USING (doc_id)
    JOIN bsz b ON b.bench_id = t.top_bench_id
    ORDER BY doc_id
    """


# ------------------------------------------------------ line-level dedup

def dedup_lines(documents: DataFrame, min_df: int = 2) -> DataFrame:
    """Corpus-level duplicate-line removal (the RefinedWeb / MassiveText
    line-dedup pass): drop EVERY occurrence of any trimmed non-empty line
    whose document frequency across the corpus reaches ``min_df``, then
    reassemble each document from its surviving lines in order.

    Complements the document-level family (:func:`dedup_exact` /
    MinHash / SimHash): boilerplate lines — nav menus, cookie banners,
    license headers — repeat across *distinct* documents that no whole-doc
    or near-dup pass catches.  Dropping all copies (not keep-first) makes
    the result order-independent and needs no global tie-break.

    Plan (100 TB): posexplode lines; document frequency is one
    hash-shuffle count with map-side partial agg over ``distinct`` (doc,
    line) pairs; the blocklist (lines at/over ``min_df``) is orders of
    magnitude smaller than the corpus, so AQE broadcasts the anti-join
    when it fits and falls back to a shuffle join when it doesn't (the
    blocklist is data-dependent, so no unconditional broadcast hint);
    reassembly is one shuffle on doc_id.  No step is ever quadratic: the
    only join is the anti-join against the blocklist.

    Returns (doc_id, n_lines, n_kept, text_clean) for every input
    document — ``text_clean = ''`` when every line was boilerplate."""
    lines = (
        documents.select(
            "doc_id", F.posexplode(F.split("text", "\n")).alias("pos", "line")
        )
        .withColumn("line", F.trim("line"))
        .filter(F.col("line") != "")
    )
    blocklist = (
        lines.select("doc_id", "line")
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
        .select("line")
    )
    kept = lines.join(blocklist, "line", "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text_clean"),
    )
    total = lines.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_lines"))
    return (
        documents.select("doc_id")
        .join(total, "doc_id", "left")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_lines", F.lit(0)).cast("long").alias("n_lines"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
        .orderBy("doc_id")
    )


def dedup_lines_sql(min_df: int = 2, text_expr: str = "text") -> str:
    """DuckDB oracle for :func:`dedup_lines` (same trim/empty/df rules)."""
    return f"""
    WITH lx AS (
      SELECT doc_id, i AS pos, trim(ls[i]) AS line
      FROM (SELECT doc_id, string_split({text_expr}, chr(10)) AS ls
            FROM documents) t,
           unnest(range(1, len(t.ls) + 1)) AS r(i)
      WHERE trim(ls[i]) <> ''
    ),
    bl AS (
      SELECT line FROM (SELECT DISTINCT doc_id, line FROM lx)
      GROUP BY line HAVING COUNT(*) >= {min_df}
    ),
    kept AS (SELECT * FROM lx WHERE line NOT IN (SELECT line FROM bl)),
    agg AS (SELECT doc_id, COUNT(*) AS n_kept,
                   string_agg(line, chr(10) ORDER BY pos) AS text_clean
            FROM kept GROUP BY doc_id),
    tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM lx GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(tot.n_lines, 0) AS BIGINT) AS n_lines,
           CAST(COALESCE(agg.n_kept, 0) AS BIGINT) AS n_kept,
           COALESCE(agg.text_clean, '') AS text_clean
    FROM documents d
    LEFT JOIN tot USING (doc_id)
    LEFT JOIN agg USING (doc_id)
    ORDER BY doc_id
    """


# ---------------------------------------------------------- MinHash + LSH

def minhash_signature(documents: DataFrame, perms: int = MINHASH_PERMS) -> DataFrame:
    """(doc_id, mh_0..mh_{p-1}): min over shingles of p salted portable hashes.

    Vectorized JVM-side: explode shingles once, compute all permutations as
    columns, min-aggregate — one shuffle.  The input is spread across the
    session's cores first when the scan under-partitions (single-file local
    corpora would otherwise hash every shingle on one task; a no-op at
    production split counts)."""
    from .util import spread

    sh = spread(documents, "doc_id").select(
        "doc_id", F.expr(f"explode({word_shingles_expr('text')}) AS shingle")
    )
    aggs = [
        F.expr(f"min({h32_expr('shingle', salt=str(i))}) AS mh_{i}") for i in range(perms)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


_live_sig: DataFrame | None = None  # see dedup_minhash_lsh cache lifecycle

#: named single-slot persisted intermediates (the ``_live_sig`` lifecycle,
#: generalized): each slot holds AT MOST one live plan — a repeated call
#: over the same input reuses the persisted blocks (``sameSemantics``), a
#: call over different input releases the previous blocks first.  Bounded
#: executor storage however often the driver/bench loops re-invoke, without
#: losing the warm-cache rerun.
_live_plans: dict[str, DataFrame] = {}


def _cached_plan(name: str, plan: DataFrame) -> DataFrame:
    cur = _live_plans.get(name)
    if cur is not None:
        try:
            if cur.sameSemantics(plan):
                return cur
        except Exception:
            pass  # stopped session / poisoned slot: evict and rebuild
        _live_plans.pop(name, None)
        try:  # release even when sameSemantics itself raised
            cur.unpersist(blocking=False)
        except Exception:
            pass
    # Persisted blocks are a CACHE, not pinned state: MEMORY_AND_DISK
    # blocks are evictable under storage pressure (Spark recomputes), the
    # slot is replaced on the next differing input, and clear_cache()
    # releases deterministically.  The trade — shingle-table-sized storage
    # for one scan+explode instead of five per action — is the same one
    # the MinHash signature slot already made.
    df = plan.persist()
    _live_plans[name] = df
    return df


def clear_cache() -> None:
    """Release the cached MinHash signature and every named plan slot.
    Library users call this to free executor storage deterministically
    instead of waiting for the next differing-input call to evict it."""
    global _live_sig
    sig, _live_sig = _live_sig, None
    if sig is not None:
        try:
            sig.unpersist(blocking=False)
        except Exception:
            pass  # owning SparkSession already stopped: nothing to release
    for name in list(_live_plans):
        df = _live_plans.pop(name)
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass


def dedup_minhash_lsh(
    documents: DataFrame,
    perms: int = MINHASH_PERMS,
    bands: int = LSH_BANDS,
    max_bucket: int = MAX_KEY_DF,
) -> DataFrame:
    """LSH candidate pairs: docs sharing at least one band of their MinHash
    signature (shingle→minhash→band→bucket-join).  Returns candidate pairs
    with the fraction of matching permutations (estimated Jaccard).

    Plan (the round-1 version unioned 4 band self-joins over an uncached
    lineage, recomputing the signature 8× — 180 s at sf0.1):

    1. materialize the signature table ONCE (``persist``; at 100 TB this
       would be a checkpoint/table write — |docs| × perms longs, tiny next
       to the shingle explode that produces it);
    2. explode to ``(doc_id, band_val)`` where ``band_val`` embeds the band
       index, drop buckets larger than ``max_bucket`` (one hot bucket emits
       O(bucket²) pairs), and do ONE self-equi-join on ``band_val``;
    3. join the distinct candidate pairs back to the cached signatures to
       score ``est_jaccard``.

    One shuffle for candidates instead of four, zero signature recompute.

    Cache lifecycle: the returned plan references the persisted signature,
    so it cannot unpersist before the caller materializes.  Instead the
    module keeps AT MOST ONE live signature: a repeated call over the same
    input reuses the persisted blocks (``sameSemantics``), and a call over
    different input releases the previous call's blocks first — bounded
    executor storage no matter how many times bench/driver loops re-invoke
    the query, without losing the warm-cache rerun."""
    global _live_sig
    rows = perms // bands
    sig_plan = minhash_signature(documents, perms)
    sig = None
    if _live_sig is not None:
        # a cached DF whose SparkSession was stopped raises on any use;
        # never let that permanently poison the slot — drop and rebuild
        try:
            if _live_sig.sameSemantics(sig_plan):
                sig = _live_sig
            else:
                _live_sig.unpersist(blocking=False)
                _live_sig = None
        except Exception:
            _live_sig = None
    if sig is None:
        sig = sig_plan.persist()
        _live_sig = sig
    band_exprs = ", ".join(
        "concat_ws('_', '%d', %s)"
        % (b, ", ".join(f"cast(mh_{b * rows + r} as string)" for r in range(rows)))
        for b in range(bands)
    )
    buckets = sig.select("doc_id", F.expr(f"explode(array({band_exprs})) AS band_val"))
    # hot-bucket ceiling: count per band with a groupBy (map-side partial
    # aggregation — the hot band collapses to one row per task BEFORE the
    # shuffle), then anti-join the over-ceiling bands away.  A window
    # count(*) over band_val would be one shuffle cheaper, but a window
    # partition cannot be AQE-skew-split: the pathological band the ceiling
    # exists to defuse would land whole in a single task before its filter
    # ever ran.  The hot-band list is tiny by construction (≤ N·bands /
    # max_bucket entries), so AQE broadcasts the anti-join and the only
    # full-size shuffles left are the count agg and the self-join below.
    hot = (
        buckets.groupBy("band_val")
        .agg(F.expr("count(1) AS __n"))
        .filter(f"__n > {max_bucket}")
        .select("band_val")
    )
    buckets = buckets.join(hot, "band_val", "left_anti")
    a, c = buckets.alias("a"), buckets.alias("c")
    cand = (
        a.join(c, F.expr("a.band_val = c.band_val AND a.doc_id < c.doc_id"))
        .selectExpr("a.doc_id AS doc_a", "c.doc_id AS doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sa = sig.selectExpr("doc_id AS doc_a", *[f"mh_{i} AS a_{i}" for i in range(perms)])
    sc = sig.selectExpr("doc_id AS doc_b", *[f"mh_{i} AS c_{i}" for i in range(perms)])
    # same tree as sum(...)/perms: ((0 + t_0) + t_1)..., then Divide, Round
    est_sql = " + ".join(f"cast(a_{i} = c_{i} as int)" for i in range(perms))
    return (
        cand.join(sa, "doc_a")
        .join(sc, "doc_b")
        .withColumn("est_jaccard", F.expr(f"round((0 + {est_sql}) / {perms}, 6)"))
        .select("doc_a", "doc_b", "est_jaccard")
        .orderBy("doc_a", "doc_b")
    )


def dedup_minhash_lsh_sql(
    perms: int = MINHASH_PERMS, bands: int = LSH_BANDS, max_bucket: int = MAX_KEY_DF
) -> str:
    rows = perms // bands
    sh_expr = word_shingles_sql("text")
    mh_cols = ", ".join(
        f"MIN({h32_sql('shingle', str(i))}) AS mh_{i}" for i in range(perms)
    )
    band_union = " UNION ALL ".join(
        "SELECT doc_id, concat_ws('_', '"
        + str(b)
        + "', "
        + ", ".join(f"CAST(mh_{b * rows + r} AS VARCHAR)" for r in range(rows))
        + ") AS band_val FROM sig"
        for b in range(bands)
    )
    eq_sum = " + ".join(f"CAST(sa.mh_{i} = sc.mh_{i} AS INT)" for i in range(perms))
    return f"""
    WITH sh AS (
        SELECT doc_id, UNNEST({sh_expr}) AS shingle FROM documents
    ),
    sig AS (SELECT doc_id, {mh_cols} FROM sh GROUP BY doc_id),
    buckets_all AS ({band_union}),
    small AS (
        SELECT band_val FROM buckets_all GROUP BY band_val
        HAVING COUNT(*) <= {max_bucket}
    ),
    buckets AS (SELECT b.* FROM buckets_all b JOIN small s USING (band_val)),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        FROM buckets a JOIN buckets c
          ON a.band_val = c.band_val AND a.doc_id < c.doc_id
    )
    SELECT cand.doc_a, cand.doc_b, ROUND(({eq_sum}) / {perms}, 6) AS est_jaccard
    FROM cand JOIN sig sa ON sa.doc_id = cand.doc_a
              JOIN sig sc ON sc.doc_id = cand.doc_b
    ORDER BY doc_a, doc_b
    """


# ----------------------------------------------------------------- SimHash

def simhash(documents: DataFrame, bits: int = 32) -> DataFrame:
    """Per-doc SimHash over token hashes: bit b of the fingerprint is the
    sign of Σ_tokens (±1 per token's hash bit b).  JVM-side only (explode +
    bitwise agg) — no Python on the hot path."""
    from .util import spread

    toks = spread(documents, "doc_id").select(
        "doc_id", F.expr(f"explode(array_distinct({tokens_expr('text')})) AS tok")
    ).withColumn("h", F.expr(h32_expr("tok")))
    bit_sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s_{b}")
            for b in range(bits)
        ]
    )
    fp = None
    for b in range(bits):
        term = F.when(F.col(f"s_{b}") > 0, F.lit(2 ** b).cast("long")).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return bit_sums.select("doc_id", fp.alias("simhash")).orderBy("doc_id")


def simhash_sql(bits: int = 32) -> str:
    h = h32_sql("tok")
    sums = ", ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{b}"
        for b in range(bits)
    )
    fp = " + ".join(f"(CASE WHEN s_{b} > 0 THEN {2 ** b} ELSE 0 END)" for b in range(bits))
    return f"""
    WITH toks AS (
        SELECT doc_id,
               UNNEST(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS tok
        FROM documents
    ),
    hashed AS (SELECT doc_id, {h} AS h FROM toks),
    bitsums AS (SELECT doc_id, {sums} FROM hashed GROUP BY doc_id)
    SELECT doc_id, CAST({fp} AS BIGINT) AS simhash
    FROM bitsums
    ORDER BY doc_id
    """


# ----------------------------------- prefix-filtered Jaccard join (AllPairs)

def dedup_jaccard_prefix(
    documents: DataFrame, t_num: int = 1, t_den: int = 2
) -> DataFrame:
    """Near-dup pairs by word-shingle Jaccard ≥ t_num/t_den, candidates from
    **prefix filtering** (Bayardo et al. AllPairs / PPJoin) instead of the
    full inverted index.

    Every shingle set is ordered rarest-first (global document frequency
    asc, shingle asc tie-break) and only its *prefix* of length
    ``|S| − ⌈t·|S|⌉ + 1`` enters the candidate self-join: J(A,B) ≥ t forces
    ``|A∩B| ≥ ⌈t·|A|⌉`` (since ``|B| ≥ |A∩B|``, ``I(1+t) ≥ t(|A|+|B|) ≥
    t|A| + tI``), and two sets whose overlap is ≥ α under a common total
    order must collide within their ``(|·|−α+1)``-prefixes — so the join
    loses no qualifying pair while candidate volume drops from
    Σ df(shingle)² over ALL shingles to the rare-end prefixes only.  This is
    the exact-Jaccard scale path: unlike ``dedup_ngram_jaccard``'s
    ``max_df`` stop-shingle ceiling it never alters the similarity values —
    ubiquitous shingles sort to the suffix and simply stop generating
    candidates.  Verification joins candidates back to the full shingle
    table; Jaccard arithmetic is exact-integer divided once, bit-identical
    to the SQL oracle and to ``dedup_ngram_jaccard`` run uncapped.

    Threshold is a rational ``t_num/t_den`` so the prefix length
    ``⌈t·n⌉ = (t_num·n + t_den − 1) div t_den`` is exact integer arithmetic
    on both engines (no float boundary).
    """
    from .util import spread

    # same named slot as dedup_ngram_jaccard (identical plan over the same
    # corpus): one scan+explode serves df-ranking, sizes and both verify
    # legs — previously each leg recomputed it (5 passes in one action)
    sh = _cached_plan(
        "shingles",
        spread(documents, "doc_id").select(
            "doc_id", F.expr(f"explode({word_shingles_expr('text')}) AS shingle")
        ),
    )
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = sh.join(dfreq, "shingle").withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("shingle").asc())
        ),
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    # prefix length n − ⌈t·n⌉ + 1, exact integer ceil
    plen = F.col("sz") - F.expr(f"({t_num} * sz + {t_den} - 1) div {t_den}") + F.lit(1)
    prefix = (
        ranked.join(sizes, "doc_id")
        .filter(F.col("r") <= plen)
        .select("doc_id", "shingle")
    )
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # verify: exact |A∩B| for candidate pairs only
    inter = (
        cand.join(sh.alias("sa"), F.col("sa.doc_id") == F.col("doc_a"))
        .join(
            sh.alias("sb"),
            (F.col("sb.doc_id") == F.col("doc_b"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    # threshold test in exact integer arithmetic (J ≥ t ⟺ I·den ≥ num·U) —
    # a rounded-float compare would drop/admit pairs within half an ulp of
    # t, breaking the "identical to the uncapped inverted index" contract
    # for thresholds like 1/3; the rounded jaccard column is display-only
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            F.col("n_inter") * t_den
            >= t_num * (F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 6
            ),
        )
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def dedup_jaccard_prefix_sql(t_num: int = 1, t_den: int = 2) -> str:
    sh_expr = word_shingles_sql("text")
    return f"""
    WITH sh AS (
        SELECT doc_id, UNNEST({sh_expr}) AS shingle FROM documents
    ),
    dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    ranked AS (
        SELECT s.doc_id, s.shingle,
               ROW_NUMBER() OVER (PARTITION BY s.doc_id
                                  ORDER BY d.df ASC, s.shingle ASC) AS r
        FROM sh s JOIN dfreq d USING (shingle)
    ),
    prefix AS (
        SELECT r.doc_id, r.shingle
        FROM ranked r JOIN sizes z USING (doc_id)
        WHERE r.r <= z.sz - (({t_num} * z.sz + {t_den} - 1) // {t_den}) + 1
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM prefix a JOIN prefix b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.doc_a
        JOIN sh sb ON sb.doc_id = c.doc_b AND sa.shingle = sb.shingle
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           ROUND(i.n_inter / (za.sz + zb.sz - i.n_inter), 6) AS jaccard
    FROM inter i JOIN sizes za ON za.doc_id = i.doc_a
                 JOIN sizes zb ON zb.doc_id = i.doc_b
    WHERE i.n_inter * {t_den} >= {t_num} * (za.sz + zb.sz - i.n_inter)
    ORDER BY doc_a, doc_b
    """


# --------------------------------------- repeated-substring (span) dedup

SUBSTR_K = 5


def dedup_substring(
    documents: DataFrame, k: int = SUBSTR_K, emit: str = "md5"
) -> DataFrame:
    """Corpus-level repeated-substring removal (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" ExactSubstr
    policy, at word granularity): every token span of length ≥ ``k`` that
    occurs at more than one (doc, position) site in the corpus is removed
    from EVERY document containing it.

    Distributed shape — the suffix-array step of the paper re-expressed as
    k-gram seed matching, which is equivalent for spans ≥ k: a duplicated
    span of length L ≥ k duplicates each of its L−k+1 k-gram seeds, and a
    position is span-covered iff one of the k seeds overlapping it is
    duplicated.

    * seed table: one row per (doc, pos) k-gram — ``posexplode`` of the
      token array, linear in corpus tokens (the same cost class as the
      shingle explode the Jaccard family already pays);
    * duplicate seeds: groupBy(gram) count > 1 — partial-agg shuffle (a
      window ``COUNT() OVER (PARTITION BY gram)`` would put every hot
      boilerplate gram in one task; groupBy keeps map-side combine and AQE
      skew-split), then a left join back (AQE broadcasts the dup set when
      small);
    * coverage: ``MAX(flag) OVER (ORDER BY pos RANGE k-1 PRECEDING)`` per
      doc — one window shuffle on doc_id;
    * span starts fall out of ``lag(covered)``; the cleaned text is the
      kept tokens re-joined in position order (md5-digested — the pipeline
      equivalent writes the cleaned text back).

    Returns one row per doc: (doc_id, n_tokens, n_removed, n_spans,
    clean_md5), ordered by doc_id.  Docs shorter than ``k`` tokens are
    never removed-from; within-doc repeats count as duplication (two sites
    in one doc remove both — the paper's "remove all copies" variant).
    """
    from .util import spread

    if emit not in ("md5", "text"):
        raise ValueError(f"emit must be 'md5' or 'text', got {emit!r}")
    toks = tokens_expr("text")
    pos_tbl = (
        spread(documents, "doc_id")
        .selectExpr("doc_id", f"posexplode({toks}) AS (pos0, token)")
        .withColumn("pos", F.col("pos0") + 1)
        .drop("pos0")
    )
    # docs shorter than k have NO grams: sequence(1, 0) in Spark counts
    # DOWN, so gate on n ≥ k instead (posexplode of the empty array emits
    # no rows — same as DuckDB's range(1, 1))
    grams = (
        spread(documents, "doc_id")
        .selectExpr(
            "doc_id",
            f"posexplode(CASE WHEN size({toks}) >= {k} "
            f"THEN transform(sequence(1, size({toks}) - {k} + 1), "
            f"_p -> concat_ws(' ', slice({toks}, _p, {k}))) "
            "ELSE cast(array() as array<string>) END) AS (pos0, gram)",
        )
        .withColumn("pos", F.col("pos0") + 1)
        .drop("pos0")
    )
    dupg = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") > 1)
        .select("gram", F.lit(1).alias("dup"))
    )
    seed_flags = (
        grams.join(dupg, "gram", "left")
        .select("doc_id", "pos", F.coalesce(F.col("dup"), F.lit(0)).alias("flag"))
    )
    w_cover = (
        Window.partitionBy("doc_id").orderBy("pos").rangeBetween(-(k - 1), 0)
    )
    w_lag = Window.partitionBy("doc_id").orderBy("pos")
    marked = (
        pos_tbl.join(seed_flags, ["doc_id", "pos"], "left")
        .withColumn("flag", F.coalesce(F.col("flag"), F.lit(0)))
        .withColumn("covered", F.max("flag").over(w_cover))
        .withColumn(
            "span_start",
            (
                (F.col("covered") == 1)
                & (F.coalesce(F.lag("covered").over(w_lag), F.lit(0)) == 0)
            ).cast("long"),
        )
    )
    kept = F.when(F.col("covered") == 0, F.struct("pos", "token"))
    clean = F.array_join(
        F.transform(F.array_sort(F.collect_list(kept)), lambda s: s.token), " "
    )
    # emit="md5" keeps the driver row small (digest of the cleaned text);
    # emit="text" is the APPLY step — the cleaned corpus itself, the frame a
    # curation pipeline writes back
    out = (
        F.md5(clean).alias("clean_md5") if emit == "md5"
        else clean.alias("text_clean")
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("covered").alias("n_removed"),
            F.sum("span_start").alias("n_spans"),
            out,
        )
        .orderBy("doc_id")
    )


def dedup_substring_sql(k: int = SUBSTR_K, emit: str = "md5") -> str:
    if emit not in ("md5", "text"):
        raise ValueError(f"emit must be 'md5' or 'text', got {emit!r}")
    toks = "string_split_regex(trim(lower(text)), '\\s+')"
    clean = ("COALESCE(string_agg(token, ' ' ORDER BY pos) "
             "FILTER (WHERE covered = 0), '')")
    emit_expr = (
        f"md5({clean}) AS clean_md5" if emit == "md5"
        else f"{clean} AS text_clean"
    )
    return f"""
    WITH pos_tbl AS (
        SELECT doc_id, UNNEST({toks}) AS token,
               generate_subscripts({toks}, 1) AS pos
        FROM documents
    ),
    grams AS (
        SELECT doc_id, p AS pos,
               array_to_string(({toks})[p:p+{k - 1}], ' ') AS gram
        FROM documents,
             UNNEST(range(1, greatest(len({toks}) - {k - 1}, 0) + 1)) AS t(p)
    ),
    dupg AS (SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) > 1),
    seed_flags AS (
        SELECT g.doc_id, g.pos,
               CASE WHEN d.gram IS NULL THEN 0 ELSE 1 END AS flag
        FROM grams g LEFT JOIN dupg d USING (gram)
    ),
    marked AS (
        SELECT p.doc_id, p.pos, p.token,
               MAX(COALESCE(s.flag, 0)) OVER (
                   PARTITION BY p.doc_id ORDER BY p.pos
                   RANGE BETWEEN {k - 1} PRECEDING AND CURRENT ROW
               ) AS covered
        FROM pos_tbl p LEFT JOIN seed_flags s USING (doc_id, pos)
    ),
    spans AS (
        SELECT doc_id, pos, token, covered,
               CASE WHEN covered = 1 AND COALESCE(
                        LAG(covered) OVER (PARTITION BY doc_id ORDER BY pos), 0
                    ) = 0 THEN 1 ELSE 0 END AS span_start
        FROM marked
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(covered) AS BIGINT) AS n_removed,
           CAST(SUM(span_start) AS BIGINT) AS n_spans,
           {emit_expr}
    FROM spans
    GROUP BY doc_id
    ORDER BY doc_id
    """
